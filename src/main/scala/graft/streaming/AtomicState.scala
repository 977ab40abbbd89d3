package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Crash-safe replacement of a small persisted-state parquet directory.
  *
  * Spark's `mode("overwrite")` deletes the target BEFORE the job commits,
  * so a crash mid-rewrite permanently loses the accumulated state while
  * the surrounding "state exists" checks keep returning true — the
  * failure mode round 10's advisory flagged on the heavy-hitters
  * compaction, and the same class of bug for ANY monitor that maintains
  * its state as overwrite-in-place parquet ([[StreamingHeavyHitters]]'
  * folded sketch/candidate tables, and every table [[compactSwap]]
  * rewrites, such as [[StreamingReport]]'s partials).
  *
  * The swap protocol ([[overwrite]]): (a) write new rows to `path.new`,
  * (b) rename `path` → `path.old`, (c) rename `path.new` → `path`,
  * (d) delete `path.old`. Each step is one filesystem rename/delete, so
  * a crash leaves exactly one distinguishable state, and [[heal]] —
  * which every reader and every writer runs first — maps each back to a
  * committed generation:
  *
  *  - `path` exists: authoritative (crash before (b), or after (c) with
  *    a stale `.old`/partial `.new` left behind) — delete the side dirs.
  *  - `path` missing, `path.new` committed (`_SUCCESS` present, or —
  *    when `marksuccessfuljobs=false` suppresses the marker — part
  *    files present with no `_temporary`; step (b) only ever runs after
  *    the `.new` write returned): crash between (b) and (d) — roll
  *    forward: rename `.new` in, drop `.old`.
  *  - `path` missing, no committed `.new`, `path.old` exists: defensive
  *    roll-back (no step produces this state, but a manual cleanup
  *    might) — restore `.old`.
  *
  * At 100 TB this state is kilobytes-to-megabytes of monitor metadata,
  * never data-scale — the point is durability, not throughput. On an
  * object store without atomic rename the same protocol holds with
  * copy+delete semantics (HDFS/ABFS rename is atomic; S3A's rename is
  * copy-based but still leaves one of the three recoverable states).
  */
object AtomicState {

  /** Has the write into `dir` committed? `_SUCCESS` is the primary
    * marker, but it is only written when
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=true` (the
    * default); with the marker disabled the fallback is the committer's
    * own state: a committed job has deleted its `_temporary` scratch dir
    * (true for FileOutputCommitter v1 and v2 — both create `_temporary`
    * at setup and remove it only at job commit). Without this fallback,
    * a crash between rename-away and rename-in under
    * `marksuccessfuljobs=false` would take heal's roll-BACK branch and
    * discard a fully committed new generation (ADVICE r11).
    *
    * Deliberately NO part-file requirement: a committed write of an
    * EMPTY zero-partition DataFrame leaves a directory with no `part-*`
    * files, and requiring one would discard that committed empty
    * generation (ADVICE r12). The `_temporary`-absence test alone is
    * sound inside [[overwrite]]'s protocol: heal only consults `.new`
    * when the primary `path` is already gone, and step (b) renames the
    * primary away strictly AFTER the `.new` write returned — so any
    * `.new` directory seen from that branch is a finished write, and
    * "no `_temporary`" distinguishes committed from a crash mid-write
    * (which keeps the scratch dir).
    */
  private def hasCommittedWrite(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Boolean = {
    if (!fs.exists(dir)) return false
    if (fs.exists(new Path(dir, "_SUCCESS"))) return true
    !fs.exists(new Path(dir, "_temporary"))
  }

  /** Finish or undo an interrupted [[overwrite]] swap on `path` (see
    * protocol above). Idempotent; cheap no-op when `path` is healthy.
    */
  def heal(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val pNew = new Path(path + ".new")
    val pOld = new Path(path + ".old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      fs.delete(pNew, true)
      fs.delete(pOld, true)
    } else if (hasCommittedWrite(fs, pNew)) {
      fs.rename(pNew, p)
      fs.delete(pOld, true)
    } else if (fs.exists(pOld)) {
      fs.delete(pNew, true)
      fs.rename(pOld, p)
    }
  }

  /** [[heal]] `path`, then read it — or, when no table is there yet (a
    * loop before its first append), an empty frame of `schema`. The read
    * side of every append-only index an ingest trigger probes and then
    * appends to: healing first means a torn compaction swap is finished
    * before the trigger reads or grows the table.
    */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    heal(spark, path)
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Replace `path`'s rows with `df` via the swap protocol — the
    * committed state transitions from all-old rows to all-new rows with
    * no window where a crash loses both generations.
    */
  def overwrite(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    heal(spark, path)
    val p = new Path(path)
    val pNew = new Path(path + ".new")
    val pOld = new Path(path + ".old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(path + ".new")
    if (fs.exists(p)) fs.rename(p, pOld)
    fs.rename(pNew, p)
    fs.delete(pOld, true)
  }

  /** Promote an externally WRITTEN `path.new` through [[overwrite]]'s swap
    * tail — for rewrites that can't go through a single `df.write` (e.g.
    * [[graft.sources.Tables.compactParquet]], which sizes and sorts its
    * output itself). Caller contract: `heal(path)` BEFORE writing
    * `path.new` (a pre-existing live dir would otherwise delete the fresh
    * `.new`), then write `path.new` to completion, then `promote`. A crash
    * anywhere leaves one of the three heal-recoverable states.
    */
  def promote(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val pNew = new Path(path + ".new")
    val pOld = new Path(path + ".old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(pNew), s"promote: $path.new missing — write it first")
    if (fs.exists(p)) fs.rename(p, pOld)
    fs.rename(pNew, p)
    fs.delete(pOld, true)
  }

  /** Compact one append-only state parquet dir in place through the swap
    * protocol: heal, rewrite to `path.new` at ~`targetFileBytes` files
    * range-laid on `sortCols`, promote. Returns files written (0 when the
    * dir doesn't exist yet — a loop may compact before its first append).
    *
    * The file count floors at `minFiles` (default `defaultParallelism`)
    * by shrinking the per-file byte target when the table is small —
    * the r13 measured lesson that a compacted state table must still fan
    * out across the executor slots (`files.maxPartitionBytes` caps a
    * 1-file table at 1–2 input splits and every later scan of it runs
    * ~30% slower than the uncompacted mess; see
    * [[StreamingNearDedup.compactIndex]]). At 100 TB the floor is a
    * no-op: the table dwarfs `minFiles × targetFileBytes` and the byte
    * target governs.
    */
  def compactSwap(
      spark: SparkSession,
      path: String,
      sortCols: Seq[String],
      targetFileBytes: Long = 128L << 20,
      minFiles: Int = 0): Int = {
    import graft.sources.Compaction
    heal(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val bytes = Compaction.dataBytes(spark, path)
      // a committed EMPTY generation (zero-partition write: dir with no
      // part files — the heal-preserved state ADVICE r12 pinned) has
      // nothing to compact, and reading it for a rewrite would die in
      // schema inference — skip, don't crash the maintenance pass
      if (bytes == 0L) 0
      else {
        val floor = math.max(1,
          if (minFiles > 0) minFiles else spark.sparkContext.defaultParallelism)
        val effTarget = math.max(1L, math.min(targetFileBytes,
          (bytes + floor - 1) / floor))
        val files = Compaction.compactParquet(spark, path, path + ".new", effTarget, sortCols)
        promote(spark, path)
        files
      }
    }
  }
}
