package graft.storage

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.DataStreamWriter

/**
 * Storage shared by the persisted, epoch-partitioned dedup indexes: content
 * hash, MinHash, perceptual hash and fuzzy segments. An index at `path` is
 *  - one or more tables, each `<path>/<table>/epoch=<e>/` parquet: batch
 *    writes (save, append, compaction) land in `epoch=-1`, streaming
 *    admission owns `epoch=<id>` so a replayed micro-batch can exclude and
 *    overwrite exactly its own delta;
 *  - `<path>/params/`, one row of the family's build parameters, which a
 *    probe checks so it never answers at parameters the index was not
 *    built for;
 *  - `<path>/__lease` while a writer mutates it ([[withLease]]).
 * A family keeps only what is its own: the `(table, frame)` pairs it
 * derives from an input, its probe join over [[scan]], and its per-table
 * compaction dedup.
 */
private[graft] object EpochIndex {

  /** The partition every batch write lands in. */
  private val BatchEpoch: Long = -1L

  private def epochDir(epoch: Long): String = s"epoch=$epoch"

  private def isEpochDir(st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.isDirectory && st.getPath.getName.startsWith("epoch=")

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- params ----

  /** Bound on memoized params rows: one per live index path, so a driver
    * that builds temp indexes forever evicts the least recently used path
    * instead of growing without limit. */
  private val ParamsMemoCap = 256

  private val paramsMemo =
    new java.util.LinkedHashMap[String, Row](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Row]): Boolean =
        size() > ParamsMemoCap
    }

  /** The index's `params/` row. Probes call this on every micro-batch, and
    * re-reading the one-row file costs a listing plus a read job, so it is
    * memoized per path; [[save]] refreshes the entry when a path is rebuilt
    * in-process. An external rewrite of a live path is already undefined
    * for the index tables themselves. */
  def params(spark: SparkSession, path: String): Row =
    paramsMemo.synchronized(Option(paramsMemo.get(path))).getOrElse {
      val r = spark.read.parquet(s"$path/params").head()
      paramsMemo.synchronized { paramsMemo.put(path, r); () }
      r
    }

  /** Forget a path's memoized params (for callers that delete a temp
    * index). */
  def forget(path: String): Unit =
    paramsMemo.synchronized { paramsMemo.remove(path); () }

  // ---- writes ----

  /** Write each `(table, frame)` into `<path>/<table>/epoch=<epoch>`; the
    * tables of one input are independent outputs, so they are written
    * concurrently. */
  private def write(path: String, epoch: Long, mode: String,
      tables: Seq[(String, DataFrame)]): Unit =
    concurrently(tables.map { case (t, df) =>
      () => df.write.mode(mode).parquet(s"$path/$t/${epochDir(epoch)}")
    })

  /** Build (or rebuild) the index at `path` from `tables` under the writer
    * lease: every table's `epoch=-1` is overwritten, delta partitions left
    * by an earlier stream are dropped (a fresh build must not union them
    * into every later probe), and the one-row `params` frame is stored. */
  def save(path: String, op: String, params: DataFrame,
      tables: Seq[(String, DataFrame)]): Unit = {
    val fs = this.fs(params.sparkSession, path)
    withLease(fs, path, op) {
      write(path, BatchEpoch, "overwrite", tables)
      tables.foreach { case (t, _) => dropStaleEpochDeltas(fs, s"$path/$t") }
      params.coalesce(1).write.mode("overwrite").parquet(s"$path/params")
      val row = params.head() // a local one-row frame: no Spark job
      paramsMemo.synchronized { paramsMemo.put(path, row); () }
    }
  }

  /** Add `tables` to the index's `epoch=-1` under the writer lease. */
  def append(spark: SparkSession, path: String, op: String,
      tables: Seq[(String, DataFrame)]): Unit =
    withLease(fs(spark, path), path, op) {
      write(path, BatchEpoch, "append", tables)
    }

  /** Streaming admission: OVERWRITE epoch `epochId`'s delta partitions, so
    * a replayed epoch replaces its own possibly-partial delta instead of
    * adding to it. Runs without the lease: the one live stream owns its
    * epochs (see [[stream]]). */
  def admit(path: String, epochId: Long, tables: Seq[(String, DataFrame)]): Unit =
    write(path, epochId, "overwrite", tables)

  // ---- probes ----

  /** One table of the index for a probe, with column `epoch`. With
    * `excludeEpoch`, that epoch's delta is pruned at listing time — a
    * replayed micro-batch never probes its own earlier admission. */
  def scan(spark: SparkSession, path: String, table: String,
      excludeEpoch: Option[Long] = None): DataFrame =
    excludeEpoch.foldLeft(spark.read.parquet(s"$path/$table"))(
      (df, e) => df.filter(col("epoch") =!= lit(e)))

  /**
   * Continuous admission: every micro-batch's `probe` (which must leave
   * out the current epoch through [[scan]]'s `excludeEpoch`) yields the
   * survivors; they are persisted so `writeBatch` and the admission of
   * `tables(survivors)` read the SAME rows, the two run concurrently, and
   * the survivors are unpersisted. The cross-batch memory is the index on
   * disk, not a state store: it survives restarts and is shared with batch
   * jobs. Returns the configured writer; the caller picks the trigger and
   * checkpoint and starts it.
   *
   * Replay-retention contract. foreachBatch is at-least-once. The retry
   * of an epoch probes without that epoch's delta, and its admission
   * overwrites the delta, so whether a failed attempt admitted nothing,
   * part or all of its rows, the retry recomputes the identical survivor
   * set and re-delivers it: `writeBatch` must be idempotent on the epoch
   * id (e.g. overwrite an epoch-keyed directory). Because the write and
   * the admission overlap, an epoch's rows can reach the index although
   * its survivor write failed. "index ⊆ output" therefore holds only if a
   * failed epoch is replayed from the SAME checkpoint: abandoning the
   * checkpoint after a failed batch can suppress documents that were never
   * written. The per-epoch commit marker planned in ROADMAP.md
   * ("epoch-transactional index admission") closes this by making an
   * admission visible to probes only once its epoch commits.
   *
   * One live stream per index path: epoch ids restart per checkpoint, so
   * two streams sharing a path would overwrite each other's deltas. Each
   * admitting epoch adds one partition directory per table; [[compact]]
   * merges them while no stream owns the index.
   */
  def stream[B](input: DataFrame, path: String,
      probe: (DataFrame, Long) => Dataset[B])(
      tables: Dataset[B] => Seq[(String, DataFrame)],
      writeBatch: (Dataset[B], Long) => Unit): DataStreamWriter[Row] =
    input.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      val fresh = probe(batch, epochId).persist()
      try concurrently(Seq(
        () => writeBatch(fresh, epochId),
        () => admit(path, epochId, tables(fresh))))
      finally { fresh.unpersist(); () }
    }

  // ---- compaction ----

  /**
   * Merge each table's accreted `epoch=<id>` deltas (and append erosion)
   * into its single `epoch=-1` partition, deduplicated by `dedup` (full-row
   * `distinct` unless the family says otherwise) — crash-safe through
   * [[swapCompacted]]. Only run while no stream owns the index. Returns the
   * number of epoch partitions merged (the most of any table), 0 if the
   * index was already compact.
   */
  def compact(spark: SparkSession, path: String, op: String, tables: Seq[String],
      dedup: (String, DataFrame) => DataFrame = (_, df) => df.distinct()): Int = {
    val fs = this.fs(spark, path)
    withLease(fs, path, op) {
      // restore any table from a prior crashed swap before counting epochs
      tables.foreach(recoverCompaction(fs, path, _))
      val n = tables.map(t => fs.listStatus(new Path(s"$path/$t")).count(isEpochDir)).max
      if (n <= 1) 0
      else {
        tables.foreach { t =>
          swapCompacted(fs, path, t, tmp =>
            dedup(t, spark.read.parquet(s"$path/$t").drop("epoch"))
              .write.mode("overwrite").parquet(tmp))
        }
        n
      }
    }
  }

  /** Delete every `epoch=<id>` delta partition EXCEPT the `epoch=-1` base
    * under `dir`. */
  private def dropStaleEpochDeltas(fs: FileSystem, dir: String): Unit = {
    val p = new Path(dir)
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      if (isEpochDir(st) && st.getPath.getName != epochDir(BatchEpoch))
        fs.delete(st.getPath, true)
    }
    ()
  }

  /** Crash-safe swap of a freshly-compacted table into `<path>/<table>` as
    * its single `epoch=-1` partition. The live dir is never deleted before
    * its replacement is in place: live is RENAMED aside to a backup, the
    * compacted tmp is renamed in, and only then is the backup dropped —
    * with every `fs.rename` boolean checked (a silently failed rename,
    * e.g. cross-filesystem, must abort, not strand the index). A crash at
    * any point leaves either the live table or the backup intact; the next
    * compaction (or [[recoverCompaction]] directly) restores a missing
    * live table from the backup before proceeding. */
  private def swapCompacted(fs: FileSystem, path: String, table: String,
      writeTmp: String => Unit): Unit = {
    val live = new Path(s"$path/$table")
    val tmp = new Path(s"$path/${table}__compacting")
    recoverCompaction(fs, path, table)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    writeTmp(tmp.toString)
    val backup = new Path(s"$path/${table}__precompact")
    if (!fs.rename(live, backup))
      throw new java.io.IOException(
        s"compaction of $live: swap-out rename to $backup failed; index untouched")
    fs.mkdirs(live)
    val in = new Path(live, epochDir(BatchEpoch))
    if (!fs.rename(tmp, in)) {
      // roll back: the backup is still the complete pre-compaction index —
      // and the rollback rename is itself checked, so the error never
      // claims a restore that did not happen
      fs.delete(live, true)
      val restored = fs.rename(backup, live)
      throw new java.io.IOException(
        s"compaction of $live: swap-in rename of $tmp failed; " +
          (if (restored) "index restored from backup"
           else s"ROLLBACK RENAME ALSO FAILED — index is at $backup; " +
             "the next compaction (recoverCompaction) will restore it"))
    }
    fs.delete(backup, true)
    ()
  }

  /** Restore `<path>/<table>` from a crashed [[swapCompacted]]: a leftover
    * `__precompact` backup with no live table — or only the EMPTY shell
    * `mkdirs` creates between swap-out and swap-in — means the swap never
    * completed: rename the backup back. A live table with content means
    * the swap finished (a valid index dir always holds at least one
    * `epoch=` child), so the backup is stale and dropped. */
  private def recoverCompaction(fs: FileSystem, path: String, table: String): Unit = {
    val live = new Path(s"$path/$table")
    val backup = new Path(s"$path/${table}__precompact")
    if (fs.exists(backup)) {
      val liveHasData = fs.exists(live) && fs.listStatus(live).nonEmpty
      if (liveHasData) fs.delete(backup, true)
      else {
        if (fs.exists(live)) fs.delete(live, true) // the empty mkdirs shell
        if (!fs.rename(backup, live))
          throw new java.io.IOException(
            s"recovery rename of $backup to $live failed")
      }
    }
    ()
  }

  // ---- writer lease ----

  /** How old a lease file must be before a new writer may break it: a
    * writer that died without cleanup must not brick its index forever,
    * but a SLOW live compaction must not get its lease stolen mid-swap. */
  val LeaseStaleMs: Long = 30L * 60 * 1000

  /** Best-effort single-writer lease over an index path. The compaction
    * swap is crash-safe against a writer DYING, but two simultaneous
    * writers (two jobs sharing an index path — append while compacting,
    * two compactions) can interleave the checked renames into states no
    * single-writer recovery contemplates. Every index mutation therefore
    * takes `<path>/__lease` via create-exclusive first and fails LOUDLY
    * (with the holder's tag in the message) if another writer holds it;
    * a lease older than the stale threshold is treated as a dead
    * writer's leftover and broken. While the body runs, a daemon
    * HEARTBEAT thread re-touches the lease mtime every `staleMs / 5`, so
    * a live writer outliving the threshold (a corpus-scale compaction
    * can easily run past 30 min) keeps its lease fresh instead of having
    * it silently broken — and its swap corrupted — by a concurrent
    * writer. Best-effort by design: HDFS create-exclusive is atomic; on
    * stores without atomic create the guard still refuses every
    * OBSERVABLE overlap — its job is turning a silent corruption into a
    * loud error, not distributed locking. */
  def withLease[T](fs: FileSystem, path: String, op: String,
      staleMs: Long = LeaseStaleMs)(body: => T): T = {
    val lease = new Path(s"$path/__lease")
    fs.mkdirs(new Path(path))
    val holderTag = s"$op@${System.currentTimeMillis()}"
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lease, false)
        try out.write(holderTag.getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    var acquired = tryAcquire()
    if (!acquired) {
      val age =
        try System.currentTimeMillis() - fs.getFileStatus(lease).getModificationTime
        catch {
          // holder released between our failed create and the stat: retry
          case _: java.io.FileNotFoundException => Long.MaxValue
        }
      if (age >= staleMs) {
        fs.delete(lease, false)
        acquired = tryAcquire()
      }
      if (!acquired) {
        val holder =
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
            new java.io.DataInputStream(fs.open(lease))), "UTF-8")
          catch { case _: Exception => "unknown" }
        throw new IllegalStateException(
          s"index at $path is being written by another job (lease held by " +
            s"$holder). Concurrent index mutations are unsupported; if that " +
            s"writer is dead, delete $lease (stale leases are broken " +
            s"automatically after ${staleMs / 60000} min)")
      }
    }
    val beat = new Thread(() => {
      try {
        while (!Thread.interrupted()) {
          // staleMs/5, not /3: the slack between the last beat and the
          // stale cutoff must absorb scheduler/GC starvation of this
          // thread on a saturated host — 4/5 of the window of margin
          // keeps a live lease fresh even when beats land late
          Thread.sleep(math.max(50L, staleMs / 5))
          // refresh the lease's mtime by REWRITING it (same holder tag):
          // setTimes is a silent no-op on FileSystems that don't override
          // it (object stores — S3 mtime is immutable), which would leave
          // the live writer unprotected exactly where the guard matters.
          // Rewriting our own held lease is safe (a thief only touches a
          // STALE lease, and this write makes it fresh) and updates mtime
          // on every store. Best-effort: any failure here means the guard
          // is already degraded — never kill the beat or fail the body.
          try {
            val out = fs.create(lease, true)
            out.write(holderTag.getBytes("UTF-8")); out.close()
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-index-lease-heartbeat-$op")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      // JOIN before deleting: a beat mid-rewrite would otherwise recreate
      // the lease AFTER the delete, locking the index for the stale
      // window against the next writer
      beat.interrupt()
      try beat.join(30000) catch { case _: InterruptedException => () }
      fs.delete(lease, false)
      ()
    }
  }

  /**
   * Run independent Spark actions concurrently: actions are only
   * sequential because driver code calls them sequentially. An epoch's
   * survivor write and its admission, or the tables of one index build,
   * are independent outputs whose small jobs would otherwise serialize
   * their scheduling tails. Inputs shared through `persist` stay safe:
   * cache blocks are computed under block-level locking, so concurrent
   * first readers do not corrupt, at worst duplicate, the materialization.
   * The first work item runs on the calling thread (fresh threads inherit
   * the caller's job group / description via Spark's inheritable thread
   * locals); every item is awaited, the first failure is rethrown with the
   * others suppressed.
   */
  private def concurrently(works: Seq[() => Unit]): Unit = {
    if (works.lengthCompare(1) <= 0) { works.foreach(_()); return }
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val threads = works.tail.map { w =>
      val t = new Thread(() => {
        try w() catch { case e: Throwable => errs.add(e); () }
      }, "graft-concurrent-action")
      t.setDaemon(true)
      t.start()
      t
    }
    try works.head() catch { case e: Throwable => errs.add(0, e) }
    threads.foreach(_.join())
    if (!errs.isEmpty) {
      val first = errs.get(0)
      (1 until errs.size()).foreach(i => first.addSuppressed(errs.get(i)))
      throw first
    }
  }
}
