package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.sources.{Event, EventLogClient, EventPosition}
import graft.sources.types._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so spans
  * recorded here line up with the millisecond stamps of Spark's listeners. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `key` identifies it, `parent` names the span that
  * caused it (a key, or "" to let the analysis place it by batch and time). */
final case class Span(key: String, name: String, layer: String,
    start: Double, end: Double, parent: String, batch: Long)

/** Spans kept in memory for the whole run and written out when it ends. */
final class SpanSink {
  private val q = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = { q.add(s); () }
  def all: Seq[Span] = q.asScala.toSeq
}

/** Collects every progress event of the benchmark's queries. The engine's own
  * `recentProgress` keeps only the last 100 batches. */
final class ProgressCollector extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = { q.add(e.progress); () }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    q.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

/** Job, stage and task records read through a SparkListener: the `tasks`
  * layer. Spans are only kept when tracing; the counters always are. */
final class TaskCollector(spans: Option[SpanSink]) extends SparkListener {
  val jobsStarted = new AtomicLong()
  val jobsEnded = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val failedTasks = new AtomicLong()
  val failedJobs = new AtomicLong()
  val runMs = new LongAdder()
  val cpuNs = new LongAdder()
  val gcMs = new LongAdder()
  val shuffleBytes = new LongAdder()
  /** Job intervals (start, end) per streaming batch id, for time outside jobs. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Double, Double)]()
  /** Per-stage task run times, for skew. */
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Long]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  @volatile var enabled = false

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    jobsStarted.incrementAndGet()
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    jobStart.put(e.jobId, (e.time.toDouble, batch))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
    jobsEnded.incrementAndGet()
    e.jobResult match { case JobSucceeded => (); case _ => failedJobs.incrementAndGet() }
    Option(jobStart.get(e.jobId)).foreach { case (t0, batch) =>
      jobIntervals.add((batch, t0, e.time.toDouble))
      spans.foreach(_.add(Span(s"job:${e.jobId}", "job", "tasks", t0, e.time.toDouble, "", batch)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    stages.incrementAndGet()
    val si = e.stageInfo
    for (t0 <- si.submissionTime; t1 <- si.completionTime; sp <- spans) {
      val job = Option(stageJob.get(si.stageId)).map(j => s"job:$j").getOrElse("")
      sp.add(Span(s"stage:${si.stageId}.${si.attemptNumber()}", "stage", "tasks",
        t0.toDouble, t1.toDouble, job, -1L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    tasks.incrementAndGet()
    val info = e.taskInfo
    if (!info.successful) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      stageTaskMs.computeIfAbsent(s"${e.stageId}.${e.stageAttemptId}",
        _ => new ConcurrentLinkedQueue[Long]()).add(m.executorRunTime)
    }
    spans.foreach(_.add(Span(s"task:${info.taskId}", "task", "tasks",
      info.launchTime.toDouble, info.finishTime.toDouble,
      s"stage:${e.stageId}.${e.stageAttemptId}", -1L)))
  }

  def stageTaskTimes: Seq[Seq[Long]] = stageTaskMs.values().asScala.map(_.asScala.toSeq).toSeq

  /** Listener events arrive asynchronously: wait until every started job ended. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get() < jobsStarted.get() && System.currentTimeMillis() < until)
      Thread.sleep(5)
    Thread.sleep(50)
  }
}

/** Counters and spans for calls into the event-log client: the `sources`
  * layer's receive path, installed with `EventLogClients.installWrapper`. */
final class ClientProbe(spans: SpanSink) {
  val receiveCalls = new LongAdder()
  val receiveEvents = new LongAdder()
  val receiveNs = new LongAdder()

  def wrap(inner: EventLogClient): EventLogClient = new EventLogClient {
    private def driverSpan[T](name: String)(f: => T): T = {
      val t0 = Clock.ms
      try f finally spans.add(Span("", name, "sources", t0, Clock.ms, "", -1L))
    }
    override def partitionCount(name: String): Int = inner.partitionCount(name)
    override def boundedSeqNos(name: String): Map[PartitionId, (SequenceNumber, SequenceNumber)] =
      driverSpan("client.boundedSeqNos")(inner.boundedSeqNos(name))
    override def translate(name: String, pid: PartitionId, pos: EventPosition): SequenceNumber =
      inner.translate(name, pid, pos)
    override def seekOffset(name: String, pid: PartitionId, offset: String): SequenceNumber =
      inner.seekOffset(name, pid, offset)
    override def seekEnqueuedTime(name: String, pid: PartitionId, micros: Long): SequenceNumber =
      inner.seekEnqueuedTime(name, pid, micros)
    override def send(name: String, event: Event, pid: Option[PartitionId], key: Option[String]): Unit =
      inner.send(name, event, pid, key)

    /** The call and every step of the returned iterator count as receive
      * time; the consumer's work between steps does not. The span starts at
      * the call and lasts as long as the client was busy. */
    override def receive(name: String, pid: PartitionId, from: SequenceNumber, count: Long)
        : Iterator[(SequenceNumber, Event)] = {
      val tc = TaskContext.get()
      val parent = if (tc == null) "" else s"task:${tc.taskAttemptId()}"
      val t0 = Clock.ms
      val n0 = System.nanoTime()
      val it = inner.receive(name, pid, from, count)
      var busy = System.nanoTime() - n0
      receiveCalls.increment()
      var served = 0L
      var done = false
      def finish(): Unit = if (!done) {
        done = true
        receiveEvents.add(served)
        receiveNs.add(busy)
        spans.add(Span("", "client.receive", "sources", t0, t0 + busy / 1e6, parent, -1L))
      }
      new Iterator[(SequenceNumber, Event)] {
        override def hasNext: Boolean = {
          val s = System.nanoTime()
          val h = it.hasNext
          busy += System.nanoTime() - s
          if (!h) finish()
          h
        }
        override def next(): (SequenceNumber, Event) = {
          val s = System.nanoTime()
          val v = it.next()
          busy += System.nanoTime() - s
          served += 1
          v
        }
      }
    }
  }
}

object Progress {
  /** The engine's phases of one micro-batch, in the order it runs them. */
  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Batch and phase spans from progress. The engine reports phase durations
    * but not their start times, so the phases are laid out back to back from
    * the batch start in engine order. */
  def spans(ps: Seq[StreamingQueryProgress], addBatchLayer: String): Seq[Span] =
    ps.flatMap { p =>
      val t0 = startMs(p)
      val batch = Span(s"batch:${p.batchId}", "batch", "streaming", t0,
        t0 + dur(p, "triggerExecution"), "workload", p.batchId)
      var t = t0
      val phases = Phases.flatMap { k =>
        val d = dur(p, k)
        val s = t
        t += d
        if (d <= 0) None
        else {
          val layer = k match {
            case "latestOffset" | "getBatch" => "sources"
            case "addBatch" => addBatchLayer
            case _ => "streaming"
          }
          Some(Span(s"phase:${p.batchId}:$k", k, layer, s, s + d, batch.key, p.batchId))
        }
      }
      batch +: phases
    }

  /** Events waiting in the source after the batch's admission: latest minus
    * end offsets, summed over partitions. */
  def backlog(p: StreamingQueryProgress): Long =
    p.sources.headOption.map { s =>
      def seqs(json: String): Map[String, Long] =
        if (json == null || json == "null") Map.empty
        else "\"(\\d+)\":(\\d+)".r.findAllMatchIn(json)
          .map(m => m.group(1) -> m.group(2).toLong).toMap
      val end = seqs(s.endOffset)
      seqs(s.latestOffset).map { case (k, v) => math.max(0L, v - end.getOrElse(k, 0L)) }.sum
    }.getOrElse(0L)

  /** Recorded per batch for the analysis. */
  def batchRow(p: StreamingQueryProgress): Map[String, Any] = {
    val st = p.stateOperators
    Map(
      "batch" -> p.batchId,
      "start_ms" -> startMs(p),
      "rows" -> p.numInputRows,
      "backlog" -> backlog(p),
      "watermark" -> Option(p.eventTime.get("watermark")).getOrElse(""),
      "state_commit_ms" -> st.map(_.commitTimeMs).sum,
      "state_rows" -> st.map(_.numRowsTotal).sum,
      "state_bytes" -> st.map(_.memoryUsedBytes).sum,
      "dropped_by_watermark" -> st.map(_.numRowsDroppedByWatermark).sum,
      "durations" -> (("triggerExecution" +: Phases).map(k => k -> dur(p, k)).toMap))
  }
}

/** Spans recorded by the benchmark's own code around calls into a layer. */
final class Tracer(sink: Option[SpanSink]) {
  def span[T](name: String, layer: String)(f: => T): T = sink match {
    case None => f
    case Some(s) =>
      val t0 = Clock.ms
      try f finally s.add(Span("", name, layer, t0, Clock.ms, "", -1L))
  }
}
