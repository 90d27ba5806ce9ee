package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.{EventLogClients, ParquetEventLog}

/**
 * One benchmark run in one JVM: set up the workload several times (each with
 * a fresh Spark session), warm it up, run the timed phase untraced (again
 * while the hypervisor steals too much CPU time) and, with
 * `--trace 1`, again traced (plus a `local[1]` replay for the scaling probe).
 * Writes a raw JSON record to `--out`; `run.py` turns it into metrics and
 * checks the outputs.
 */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, params: Map[String, String])

  /** Spark runs `local[<nproc>]`. */
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** Set-ups per run, each with a fresh session: `setup_s` is their median,
    * which the first (cold-JVM) one does not set. Three keeps all of a
    * benchmark's runs inside their time budget on a busy host. */
  val SetupReps = 3

  /** Unmeasured passes of the timed phase, each over a full-size instance,
    * before the measured one. Until the JIT has compiled the engine's paths
    * batch times keep falling: after one pass, replay batches still went
    * from ~220 to ~120 ms through the timed phase; after two they are flat. */
  val WarmupPasses = 2

  /** A timed phase during which the hypervisor gave more than this share of
    * the host's CPU time to other guests measures the host, not the program:
    * on a shared 4-vCPU host, 20-27% steal halved replay's throughput. Such a
    * phase is run again on fresh inputs, up to `MaxTimedPhases` in all, and
    * the timings come from the least-stolen one. Calm phases read under 3%. */
  val StealLimit = 0.05
  val MaxTimedPhases = 3

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    val single = kv.filter(_._1 != "param").toMap
    val params = kv.filter(_._1 == "param").map(_._2.split("=", 2)).map(a => a(0) -> a(1)).toMap
    Opts(single("workload"), single("seed").toLong, single("seconds").toInt,
      single("trace") == "1", single("work"), single("out"), params)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val rec = mutable.LinkedHashMap[String, Any]()
    var code = 0
    try run(o, rec)
    catch {
      case t: Throwable =>
        val sw = new java.io.StringWriter
        t.printStackTrace(new java.io.PrintWriter(sw))
        rec("error") = sw.toString
        System.err.println(sw.toString)
        code = 1
    }
    Files.write(Paths.get(o.out), Json.render(rec).getBytes(StandardCharsets.UTF_8))
    // Spark leaves non-daemon threads behind; the record is written
    Runtime.getRuntime.halt(code)
  }

  /** The session as a user of this repository configures one locally; the
    * scratch locations keep every file inside the run's work directory. */
  def sessionConf(o: Opts, cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> s"perfbench-${o.workload}",
    // the single-core probe keeps the plan of the full run: only the
    // number of task slots changes
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "graft.streaming.LocalCheckpointFileManager",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"${o.work}/spark-local",
    "spark.sql.warehouse.dir" -> s"${o.work}/warehouse",
    // input generation writes the events table with microsecond timestamps,
    // the layout the parquet event log reads
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  def session(o: Opts, cores: Int): SparkSession = {
    val b = sessionConf(o, cores).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(o: Opts, rec: mutable.Map[String, Any]): Unit = {
    val params = new Params(o.params)
    val wl = Workloads(o.workload, params, o.seed, o.seconds)
    rec("conditions") = Map(
      "nproc" -> Cores,
      "master" -> s"local[$Cores]",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "seed" -> o.seed,
      "seconds" -> o.seconds,
      "checkpoint_root" -> o.work,
      "configs" -> sessionConf(o, Cores).toMap,
      "params" -> o.params)

    // set-up, repeated with a fresh session each time; the last instance is
    // timed, the first ones feed the warm-up
    val setups = mutable.ArrayBuffer[Double]()
    val insts = mutable.ArrayBuffer[wl.Instance]()
    var spark: SparkSession = null
    (1 to SetupReps).foreach { rep =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(o, Cores)
      insts += wl.prepare(spark, s"${o.work}/data", s"s$rep", 1.0)
      setups += secondsSince(t0)
    }
    rec("setup_s") = setups.toSeq

    val tw = System.nanoTime()
    insts.take(WarmupPasses).foreach(w => wl.runTimed(spark, w, new Tracer(None)))
    insts.init.foreach(w => wl.release(w))
    rec("warmup_s") = secondsSince(tw)

    val phases = mutable.ArrayBuffer(timed(spark, wl, insts.last, traced = false))
    while (phases.size < MaxTimedPhases &&
      phases.last("steal_share").asInstanceOf[Option[Double]].exists(_ > StealLimit)) {
      val again = wl.prepare(spark, s"${o.work}/data", s"u${phases.size}", 1.0)
      phases += timed(spark, wl, again, traced = false)
    }
    rec("untraced") = phases.toSeq
    if (o.trace) {
      val traced = wl.prepare(spark, s"${o.work}/data", "t", 1.0)
      rec("traced") = timed(spark, wl, traced, traced = true)
      if (o.workload == "replay") {
        // the same replay on one task slot, over a smaller log so the run
        // stays short: per-batch work is the same, only the batch count shrinks
        val scale = o.params("single_core_scale").toDouble
        stop(spark)
        spark = session(o, 1)
        // one unmeasured pass: the main run has already warmed the JIT
        val w1 = wl.prepare(spark, s"${o.work}/data", "w1", scale)
        wl.runTimed(spark, w1, new Tracer(None))
        wl.release(w1)
        val single = wl.prepare(spark, s"${o.work}/data", "c1", scale)
        rec("single_core") = timed(spark, wl, single, traced = false)
      }
    }
    stop(spark)
  }

  /** (steal, total) CPU time in jiffies summed over the host's CPUs, from
    * the first line of /proc/stat; None where there is no such file. */
  private def cpuJiffies(): Option[(Long, Long)] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong)
    (f(7), f.sum)
  }.toOption

  /** One timed phase: listeners on, the workload's query drained, then the
    * heap measured after a GC, then the output check's data gathered. */
  def timed(spark: SparkSession, wl: Workload, inst: Any, traced: Boolean): Map[String, Any] = {
    val i = inst.asInstanceOf[wl.Instance]
    val spans = if (traced) Some(new SpanSink) else None
    val tasks = new TaskCollector(spans)
    val progress = new ProgressCollector
    spark.sparkContext.addSparkListener(tasks)
    spark.streams.addListener(progress)
    val probe = spans.map(new ClientProbe(_))
    probe.foreach(pr => EventLogClients.installWrapper(wl.logName(i), pr.wrap))
    val decoded0 = ParquetEventLog.decodedRecords.sum()
    tasks.enabled = true
    val cpu0 = cpuJiffies()
    val t0 = Clock.ms
    var failure: Option[String] = None
    val t = try Some(wl.runTimed(spark, i, new Tracer(spans)))
      catch { case e: Throwable => failure = Some(e.toString); None }
    val t1 = Clock.ms
    val cpu1 = cpuJiffies()
    tasks.settle()
    tasks.enabled = false
    val decoded = ParquetEventLog.decodedRecords.sum() - decoded0
    EventLogClients.clearWrapper(wl.logName(i))
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()).toDouble / (1 << 20)

    val ps = t.map { tm =>
      val runId = tm.query.runId
      val last = tm.query.lastProgress
      val until = System.currentTimeMillis() + 10000L
      while (last != null && progress.of(runId).lastOption.forall(_.batchId < last.batchId) &&
        System.currentTimeMillis() < until) Thread.sleep(5)
      progress.of(runId)
    }.getOrElse(Seq.empty)
    spark.streams.removeListener(progress)
    spark.sparkContext.removeSparkListener(tasks)
    val check = t.map(tm => wl.collectCheck(spark, i, tm)).getOrElse(Map.empty)

    val stageTimes = tasks.stageTaskTimes.filter(_.size >= 2)
    val base = Map[String, Any](
      "wall_ms" -> (t1 - t0),
      "start_ms" -> t0,
      "end_ms" -> t1,
      "failure" -> failure,
      "attempted" -> t.map(_.attempted).getOrElse(0L),
      "heap_mb" -> heapMb,
      // share of the host's CPU time the hypervisor gave to other guests
      // during the phase: slow runs on a shared host show up here
      "steal_share" -> cpu0.zip(cpu1).map { case ((s0, a0), (s1, a1)) =>
        if (a1 > a0) (s1 - s0).toDouble / (a1 - a0) else 0.0 },
      "batches" -> ps.map(Progress.batchRow),
      "check" -> check,
      "decoded_records" -> decoded,
      "tasks" -> Map(
        "jobs" -> tasks.jobsEnded.get(), "failed_jobs" -> tasks.failedJobs.get(),
        "stages" -> tasks.stages.get(), "count" -> tasks.tasks.get(),
        "failed" -> tasks.failedTasks.get(),
        "run_ms" -> tasks.runMs.sum(), "cpu_ms" -> tasks.cpuNs.sum() / 1e6,
        "gc_ms" -> tasks.gcMs.sum(), "shuffle_bytes" -> tasks.shuffleBytes.sum(),
        "stage_task_ms" -> stageTimes),
      "job_intervals" -> tasks.jobIntervals.asScala.toSeq.map { case (b, s, e) => Seq[Any](b, s, e) })
    val extra = t.map(_.extra).getOrElse(Map.empty)
    val tracedPart = spans.map { sp =>
      Map[String, Any](
        "spans" -> (Progress.spans(ps, wl.addBatchLayer) ++ sp.all).map(s =>
          Seq(s.key, s.name, s.layer, s.start, s.end, s.parent, s.batch)),
        "client" -> probe.map(pr => Map(
          "receive_calls" -> pr.receiveCalls.sum(), "receive_events" -> pr.receiveEvents.sum(),
          "receive_ms" -> pr.receiveNs.sum() / 1e6)).getOrElse(Map.empty))
    }.getOrElse(Map.empty)
    base ++ extra ++ tracedPart
  }
}
