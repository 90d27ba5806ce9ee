package perfbench

import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.GraftEventLog
import graft.operators.{CorpusOps, Dedup}
import graft.sources.{Event, EventLogRegistry}

/** Parameters of one workload, read from `workloads.json` by the launcher. */
final class Params(m: Map[String, String]) {
  def int(k: String): Int = get(k).toInt
  def long(k: String): Long = get(k).toLong
  def double(k: String): Double = get(k).toDouble
  def get(k: String): String = m.getOrElse(k, sys.error(s"missing workload parameter '$k'"))
}

/** What a timed phase hands back: the query (if one ran), the events it was
  * offered, and the raw material of its output check. */
final case class Timed(query: StreamingQuery, attempted: Long, check: Map[String, Any],
    extra: Map[String, Any] = Map.empty)

trait Workload {
  type Instance
  /** Layer that owns the `addBatch` phase: the sink or batch body this
    * workload's query runs. */
  def addBatchLayer: String
  /** Client name of the input log, for the client probe. */
  def logName(i: Instance): String
  /** Generate inputs, seed the log and build indexes. `scale` is 1 for a
    * measured instance and smaller for the warm-up. */
  def prepare(spark: SparkSession, dir: String, tag: String, scale: Double): Instance
  def runTimed(spark: SparkSession, i: Instance, tracer: Tracer): Timed
  /** Output check data gathered after the timed phase (not timed). */
  def collectCheck(spark: SparkSession, i: Instance, t: Timed): Map[String, Any] = t.check
  def release(i: Instance): Unit = ()
}

object Workloads {
  def apply(name: String, p: Params, seed: Long, seconds: Int): Workload = name match {
    case "replay" => new Replay(p, seed, seconds)
    case "tail" => new Tail(p, seed, seconds)
    case "ingest" => new Ingest(p, seed, seconds)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def await(q: StreamingQuery, timeoutMs: Long): Unit = {
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new IllegalStateException(s"query ${q.name} did not finish in $timeoutMs ms")
    }
    q.exception.foreach(e => throw e)
  }
}

/** Closed-loop backlog replay of a parquet events table through the
  * reference demo query (10 s watermark, 5 s tumbling count, memory sink). */
final class Replay(p: Params, seed: Long, seconds: Int) extends Workload {
  final case class Instance(path: String, ckpt: String, sink: String,
      events: Long, tally: Map[Long, Long])
  private val partitions = p.int("partitions")
  private val windowMs = 5000L
  def addBatchLayer: String = "streaming"
  def logName(i: Instance): String = s"parquet:${i.path}#$partitions"

  private val types = Seq("view", "click", "search", "cart", "purchase",
    "share", "review", "refund")
  private val typeWeights = p.get("event_type_weights").split("/").map(_.toDouble)

  def prepare(spark: SparkSession, dir: String, tag: String, scale: Double): Instance = {
    val n = math.max(partitions.toLong,
      (p.long("events_per_run_second") * seconds * scale).toLong)
    val rnd = new SplittableRandom(seed)
    val step = p.double("event_step_ms")
    val lateShare = p.double("late_share")
    val disorder = p.long("max_disorder_ms")
    val users = p.int("users")
    val userSkew = p.double("user_skew")
    val cum = typeWeights.scanLeft(0.0)(_ + _).tail.map(_ / typeWeights.sum)
    val base = 1700000000000L
    val tally = mutable.Map.empty[Long, Long]
    val rows = new java.util.ArrayList[Row](n.toInt)
    var id = 0L
    while (id < n) {
      val late = if (rnd.nextDouble() < lateShare) rnd.nextLong(disorder + 1) else 0L
      val tsMs = base + (id * step).toLong - late
      val u = rnd.nextDouble()
      val etype = types(cum.indexWhere(_ >= u) max 0)
      val user = (math.pow(rnd.nextDouble(), userSkew) * users).toLong
      val value = rnd.nextInt(100000) / 100.0
      val props = s"""{"user":$user,"type":"$etype","value":$value}"""
      rows.add(Row(id, new java.sql.Timestamp(tsMs), user, etype, value, props))
      val w = Math.floorDiv(tsMs, windowMs) * windowMs
      tally(w) = tally.getOrElse(w, 0L) + 1
      id += 1
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val path = s"$dir/events_$tag"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    Instance(path, s"$dir/ckpt_$tag", s"replay_$tag", n, tally.toMap)
  }

  def runTimed(spark: SparkSession, i: Instance, tracer: Tracer): Timed = {
    val q = spark.readStream.format(GraftEventLog.Format)
      .option("path", i.path)
      .option("partitions", partitions.toString)
      .option("maxEventsPerTrigger", p.get("max_events_per_trigger"))
      .load()
      .withWatermark("enqueuedTime", "10 seconds")
      .groupBy(window(col("enqueuedTime"), "5 seconds"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(i.sink).outputMode("append")
      .option("checkpointLocation", i.ckpt)
      .trigger(Trigger.AvailableNow()).start()
    Workloads.await(q, 170000L)
    Timed(q, i.events, Map.empty)
  }

  override def collectCheck(spark: SparkSession, i: Instance, t: Timed): Map[String, Any] = {
    val emitted = spark.table(i.sink)
      .select((unix_micros(col("window.start")) / 1000).cast("long"), col("n"))
      .collect().map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
    Map("kind" -> "windows", "window_ms" -> windowMs,
      "expected" -> i.tally.toSeq.sortBy(_._1).map { case (k, v) => Seq(k, v) },
      "emitted" -> emitted)
  }
}

/** Open-loop live tail: one generator thread appends to an in-memory log at a
  * fixed offered rate; a ProcessingTime(0) query copies every event through
  * the graft sink into an output log, where a poller timestamps it. */
final class Tail(p: Params, seed: Long, seconds: Int) extends Workload {
  final case class Instance(in: String, out: String, ckpt: String,
      events: Int, partition: Array[Int], pad: Array[String])
  private val partitions = p.int("partitions")
  private val rate = p.double("offered_rate")
  def addBatchLayer: String = "sources"
  def logName(i: Instance): String = i.in

  def prepare(spark: SparkSession, dir: String, tag: String, scale: Double): Instance = {
    val n = math.max(1, (rate * seconds * scale).toInt)
    val rnd = new SplittableRandom(seed)
    val padMin = p.int("pad_min")
    val padMax = p.int("pad_max")
    val part = Array.fill(n)(rnd.nextInt(partitions))
    val pads = Array.fill(n)(("x" * padMax).substring(0, padMin + rnd.nextInt(padMax - padMin + 1)))
    val in = s"tail_in_$tag"
    val out = s"tail_out_$tag"
    EventLogRegistry.drop(in); EventLogRegistry.drop(out)
    EventLogRegistry.create(in, partitions)
    EventLogRegistry.create(out, partitions)
    Instance(in, out, s"$dir/ckpt_$tag", n, part, pads)
  }

  def runTimed(spark: SparkSession, i: Instance, tracer: Tracer): Timed = {
    val q = spark.readStream.format(GraftEventLog.Format).option("name", i.in).load()
      .select(col("body"), col("partition"))
      .writeStream.format(GraftEventLog.Format).option("name", i.out)
      .option("checkpointLocation", i.ckpt)
      .trigger(Trigger.ProcessingTime(0L)).start()
    // the query is idle on its empty input before the first event is due
    val ready = System.currentTimeMillis() + 60000L
    while (q.isActive && !q.status.message.startsWith("Waiting for") &&
      System.currentTimeMillis() < ready) Thread.sleep(5)

    val n = i.events
    val input = EventLogRegistry.get(i.in)
    val output = EventLogRegistry.get(i.out)
    val lateUs = new Array[Int](n)
    val ids = new Array[Long](2 * n)
    val latencyUs = new Array[Int](2 * n)
    @volatile var seen = 0
    @volatile var stop = false
    val t0 = System.nanoTime() + 20000000L
    val intervalNs = 1e9 / rate
    def due(k: Int): Long = t0 + (k * intervalNs).toLong

    val generator = new Thread(() => {
      var k = 0
      while (k < n && !stop) {
        val now = System.nanoTime()
        while (k < n && due(k) <= now) {
          val d = due(k)
          input.append(i.partition(k), Event(s"$k,$d,${i.pad(k)}".getBytes("UTF-8"),
            System.currentTimeMillis() * 1000L))
          lateUs(k) = ((System.nanoTime() - d) / 1000L).toInt
          k += 1
        }
        LockSupport.parkNanos(200000L)
      }
    }, "perfbench-generator")
    val poller = new Thread(() => {
      val next = new Array[Long](partitions)
      var m = 0
      while (!stop && m < 2 * n) {
        var p = 0
        while (p < partitions) {
          val (_, latest) = output.bounds(p)
          if (latest > next(p)) {
            val now = System.nanoTime()
            output.read(p, next(p), latest - next(p)).foreach { case (_, e) =>
              val s = new String(e.body, "UTF-8")
              val c1 = s.indexOf(',')
              val c2 = s.indexOf(',', c1 + 1)
              if (m < ids.length) {
                ids(m) = s.substring(0, c1).toLong
                latencyUs(m) = ((now - s.substring(c1 + 1, c2).toLong) / 1000L).toInt
                m += 1
              }
            }
            next(p) = latest
            seen = m
          }
          p += 1
        }
        LockSupport.parkNanos(200000L)
      }
    }, "perfbench-poller")
    generator.setDaemon(true); poller.setDaemon(true)
    poller.start(); generator.start()
    val deadline = System.nanoTime() + (seconds + p.long("drain_timeout_s")) * 1000000000L
    while (seen < n && System.nanoTime() < deadline && q.isActive) Thread.sleep(1)
    val end = System.nanoTime()
    // a short grace period so a late duplicate still shows in the check
    Thread.sleep(p.long("grace_ms"))
    stop = true
    generator.join(); poller.join()
    q.stop()
    q.exception.foreach(e => throw e)
    val m = seen
    Timed(q, n, Map("kind" -> "exactly_once", "expected_count" -> n,
      "ids" -> ids.take(m)),
      Map("latency_us" -> latencyUs.take(m), "gen_late_us" -> lateUs,
        "phase_ms" -> (end - t0) / 1e6, "sink_events" -> output.bounds.values.map(_._2).sum))
  }

  override def release(i: Instance): Unit = {
    EventLogRegistry.drop(i.in); EventLogRegistry.drop(i.out)
  }
}

/** Closed-loop dedup ingest: a seeded stream of paraphrases, low-quality and
  * novel documents drained through the quality rules and the MinHash index. */
final class Ingest(p: Params, seed: Long, seconds: Int) extends Workload {
  final case class Instance(in: String, idx: String, idxRef: String, out: String,
      ckpt: String, docs: Seq[(Long, String)], kinds: Map[String, Seq[Long]])
  private val partitions = p.int("partitions")
  private val quality = (p.int("min_tokens"), p.int("max_tokens"), "en",
    p.double("min_quality"), p.double("max_dup_word_frac"))
  def addBatchLayer: String = "operators"
  def logName(i: Instance): String = i.in

  private val markers = Seq("the", "a", "is", "of", "and")
  private val frMarkers = Seq("le", "la", "les", "et", "une")

  private def word(rnd: SplittableRandom): String = {
    val len = 4 + rnd.nextInt(6)
    val sb = new StringBuilder
    (0 until len).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
    sb.toString
  }
  /** Every fifth word is a language marker, so each document's language and
    * stop-word share are fixed by construction. */
  private def words(rnd: SplittableRandom, n: Int, mark: Seq[String]): Array[String] =
    Array.tabulate(n)(k => if (k % 5 == 0) mark(rnd.nextInt(mark.size)) else word(rnd))

  def prepare(spark: SparkSession, dir: String, tag: String, scale: Double): Instance = {
    val rnd = new SplittableRandom(seed)
    val nStream = math.max(16, (p.long("docs_per_run_second") * seconds * scale).toInt)
    // at least one base document per stream document, so no two paraphrases
    // share a base: they would be near-duplicates of each other, and the
    // batch reference keeps both where the stream drops the later one
    val nBase = math.max(nStream, (p.int("base_docs") * scale).toInt)
    val minT = p.int("doc_tokens_min")
    val spanT = p.int("doc_tokens_max") - minT + 1
    val base = Array.tabulate(nBase)(k => (k.toLong, words(rnd, minT + rnd.nextInt(spanT), markers)))
    val order = Array.range(0, nBase)
    for (k <- nBase - 1 to 1 by -1) {
      val j = rnd.nextInt(k + 1)
      val t = order(k); order(k) = order(j); order(j) = t
    }
    var nPara = 0
    val paraMin = p.int("paraphrase_words_min")
    val paraSpan = p.int("paraphrase_words_max") - paraMin + 1
    val paraShare = p.double("paraphrase_share")
    val lowShare = p.double("low_quality_share")
    val kinds = mutable.Map("paraphrase" -> ArrayBuffer.empty[Long],
      "low_quality" -> ArrayBuffer.empty[Long], "novel" -> ArrayBuffer.empty[Long])
    val stream = (0 until nStream).map { k =>
      val id = 1000000L + k
      val u = rnd.nextDouble()
      val text =
        if (u < paraShare) {
          kinds("paraphrase") += id
          val w = base(order(nPara))._2.clone()
          nPara += 1
          // substitute words at distinct positions other than the language
          // markers, so a paraphrase keeps its base's language and quality
          val free = ArrayBuffer.range(0, w.length).filter(_ % 5 != 0)
          (0 until paraMin + rnd.nextInt(paraSpan)).foreach { _ =>
            w(free.remove(rnd.nextInt(free.size))) = word(rnd)
          }
          w
        } else if (u < paraShare + lowShare) {
          kinds("low_quality") += id
          if (rnd.nextBoolean()) words(rnd, 3 + rnd.nextInt(minT / 2), markers) // too short
          else words(rnd, minT + rnd.nextInt(spanT), frMarkers) // wrong language
        } else {
          kinds("novel") += id
          words(rnd, minT + rnd.nextInt(spanT), markers)
        }
      (id, text.mkString(" "))
    }
    import spark.implicits._
    val idx = s"$dir/index_$tag"
    Dedup.saveMinHashIndex(base.toSeq.map { case (k, w) => (k, w.mkString(" ")) }
      .toDF("doc_id", "text"), "doc_id", "text", idx)
    val idxRef = s"$dir/index_ref_$tag"
    FileUtils.copyDirectory(new java.io.File(idx), new java.io.File(idxRef))
    val in = s"ingest_in_$tag"
    EventLogRegistry.drop(in)
    val log = EventLogRegistry.create(in, partitions)
    stream.foreach { case (id, text) =>
      log.append((id % partitions).toInt, Event(text.getBytes("UTF-8"), id,
        properties = Map("doc_id" -> id.toString)))
    }
    Instance(in, idx, idxRef, s"$dir/survivors_$tag", s"$dir/ckpt_$tag", stream,
      kinds.map { case (k, v) => k -> v.toSeq }.toMap)
  }

  private def keep(df: DataFrame): DataFrame = {
    val (minT, maxT, lang, minQ, maxDup) = quality
    df.filter(CorpusOps.qualityReason(col("text"), minT, maxT, lang, minQ, maxDup) === "keep")
  }

  def runTimed(spark: SparkSession, i: Instance, tracer: Tracer): Timed = {
    val stream = keep(spark.readStream.format(GraftEventLog.Format).option("name", i.in)
      .option("maxEventsPerTrigger", p.get("max_docs_per_trigger")).load()
      .select(col("properties")("doc_id").cast("long").as("doc_id"),
        col("body").cast("string").as("text")))
    val writeMs = new java.util.concurrent.atomic.LongAdder()
    val q = Dedup.dedupStreamAgainstMinHashIndex(stream, "doc_id", "text", i.idx) {
      (survivors, epochId) =>
        val t0 = System.nanoTime()
        tracer.span("survivor_write", "operators") {
          survivors.write.mode("overwrite").parquet(s"${i.out}/epoch=$epochId")
        }
        writeMs.add((System.nanoTime() - t0) / 1000000L)
    }.option("checkpointLocation", i.ckpt).trigger(Trigger.AvailableNow()).start()
    Workloads.await(q, 170000L)
    Timed(q, i.docs.size, Map.empty, Map("survivor_write_ms" -> writeMs.sum()))
  }

  override def collectCheck(spark: SparkSession, i: Instance, t: Timed): Map[String, Any] = {
    import spark.implicits._
    val survivors = spark.read.parquet(i.out).select(col("doc_id")).as[Long].collect().toSeq
    val all = i.docs.toDF("doc_id", "text")
    val passed = keep(all).cache()
    val reference = Dedup.dedupAgainstMinHashIndex(passed, "doc_id", "text", i.idxRef)
      .select(col("doc_id")).as[Long].collect().toSeq
    val qualityPassed = passed.count()
    passed.unpersist()
    val indexEpochs = Option(new java.io.File(s"${i.idx}/bands").listFiles())
      .map(_.count(_.getName.startsWith("epoch="))).getOrElse(0)
    Map("kind" -> "survivors", "survivors" -> survivors, "reference" -> reference,
      "planted_novel" -> i.kinds("novel"), "planted_low_quality" -> i.kinds("low_quality"),
      "quality_passed" -> qualityPassed,
      "docs_in" -> i.docs.size, "index_partitions" -> indexEpochs,
      "planted" -> i.kinds.map { case (k, v) => k -> v.size })
  }

  override def release(i: Instance): Unit = EventLogRegistry.drop(i.in)
}
