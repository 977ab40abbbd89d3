package graft.streaming

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{EventsVerificationPipeline, Stage, VerificationParams}
import graft.operators.Completeness

/** The flagship 13-column events-verification report (q06) maintained
  * INCREMENTALLY over arriving catalog partitions — the `foreachBatch`
  * member of the persisted-artifact family ([[StreamingDistinct]]'s sketch
  * table, [[StreamingNearDedup]]'s band index).
  *
  * Why this works: the report is algebraic. Its two data-scale inputs —
  * (channel, event, key) counts and (channel, version, event, prop)
  * value-completeness counts — are ADDITIVE over disjoint catalog slices,
  * so each trigger reduces its micro-batch to those partials
  * ([[EventsVerificationPipeline.prepare]], the same oracle-checked
  * derivation q06 runs, then [[Completeness.partialMetrics]]) and appends
  * both, tagged by `kind`, to one parquet table `$dir/partials` in one
  * write. [[reportToDate]] merges by summation and applies the tiny spec
  * joins + derived columns — identical math to batch q06 over the union of
  * the batches (StreamingReportSpec: two triggers ≡ one batch run).
  *
  * State per trigger is |spec cells| × |batches| partial rows — bounded by
  * config size, never data volume; raw catalog rows are touched exactly
  * once, at arrival. At 100 TB the daily report becomes an append of
  * yesterday's partials instead of a full recompute.
  *
  * The one NON-algebraic ingredient is the observed-identifier-key rlike
  * flags (reference quirk, `event_verify.py:51-76`): a spelling first
  * observed in batch N could substring-match rows of batch N-1 that were
  * already counted without it. The maintainer therefore persists the
  * observed-key set and folds it into every later batch
  * (`observedToDate`): incremental ≡ batch is EXACT whenever each channel's
  * identifier-key vocabulary is stable across the stream (a new spelling
  * mid-stream requires a replay — drop the dirs, re-ingest).
  *
  * At-least-once caveat: unlike the HLL sketch table, summed partials are
  * NOT replay-idempotent — a re-delivered batch double-counts. Exactly-once
  * here comes from Structured Streaming's checkpointed batch IDs: the sink
  * skips batch IDs it has already committed, the same transactional-sink
  * convention Spark documents for foreachBatch. Committed batch IDs and the
  * observed keys live in a driver-side commit log under `$dir/_commits`:
  * each commit writes one small file to a hidden temp name and renames it
  * into place (the `HDFSMetadataLog` convention), so bookkeeping costs no
  * Spark job and a torn commit is simply not there.
  */
object StreamingReport {

  private def partialsDir(dir: String) = s"$dir/partials"

  /** Both partial kinds in one declared schema, cast to on write. */
  private val Partials = StructType.fromDDL(
    "kind STRING, channel STRING, version STRING, event_name STRING, " +
      "exploded_key STRING, key_count BIGINT, " +
      "prop_name STRING, total_records BIGINT, value_not_null_count BIGINT")

  private def tagged(kind: String, df: DataFrame): DataFrame =
    df.select(Partials.map { f =>
      val c = if (f.name == "kind") lit(kind)
        else if (df.columns.contains(f.name)) col(f.name) else lit(null)
      c.cast(f.dataType).as(f.name)
    }.toSeq: _*)

  /** Commit-log entry (file named by its batch count): ids and keys to date. */
  private[streaming] final case class Commit(
      batchIds: Set[Long], observed: Map[String, Seq[String]])

  /** Reduce one micro-batch of catalog rows to its additive partials and
    * append them; `batchId` makes redelivery a no-op. Returns true when the
    * batch was ingested, false when it was a replay skip.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      spec: DataFrame,
      params: VerificationParams,
      dir: String): Boolean = {
    val spark = batch.sparkSession
    val last = lastCommit(spark, dir)
    if (last.batchIds.contains(batchId)) return false
    // heal before appending: an append into a torn [[compactPartials]] swap
    // would create a fresh dir that heal then prefers to the parked one
    AtomicState.heal(spark, partialsDir(dir))
    val p = EventsVerificationPipeline.prepare(batch, spec, params, last.observed)
    Stage.using(p.cat) {
      tagged("key", p.keyCounts)
        .union(tagged("value", Completeness.partialMetrics(
          p.longDefined, Seq("channel", "version", "event_name"))))
        .write.mode("append").parquet(partialsDir(dir))
      // commit LAST: a crash mid-ingest leaves the batch uncommitted; the
      // retry re-appends partials, the one at-most-once gap (closed the
      // usual way, batchId-named subdirs, if a deployment needs it)
      commit(spark, dir, last, batchId, p.observed)
      true
    }
  }

  /** The `foreachBatch` function:
    * `catalogStream.writeStream.foreachBatch(StreamingReport.sink(spec, params, dir)).start()`.
    */
  def sink(
      spec: DataFrame,
      params: VerificationParams,
      dir: String): (DataFrame, Long) => Unit =
    (batch, id) => { ingestBatch(batch, id, spec, params, dir); () }

  /** The full 13-column report over everything ingested so far: sum the
    * partials, then the same spec joins + derived columns as batch
    * [[EventsVerificationPipeline.run]]. Precondition: at least one
    * committed trigger ([[hasPartials]]).
    */
  def reportToDate(
      spark: SparkSession,
      spec: DataFrame,
      params: VerificationParams,
      dir: String): DataFrame = {
    // roll a torn [[compactPartials]] swap forward before reading (no-op
    // when healthy), or the report would fail or undercount
    AtomicState.heal(spark, partialsDir(dir))
    val info = EventsVerificationPipeline.parseSpec(spec, params)
    val partials = spark.read.schema(Partials).parquet(partialsDir(dir))
    def rows(kind: String, cols: String*) =
      partials.filter(col("kind") === kind).select(cols.map(col): _*)
    val keyCounts = rows("key", "channel", "event_name", "exploded_key", "key_count")
      .groupBy("channel", "event_name", "exploded_key")
      .agg(sum("key_count").as("key_count"))
    EventsVerificationPipeline.report(info, keyCounts,
      Completeness.mergedMetrics(rows("value", "channel", "version",
        "event_name", "prop_name", "total_records", "value_not_null_count"),
        Seq("channel", "version", "event_name")), params)
  }

  /** True once at least one trigger committed. */
  def hasPartials(spark: SparkSession, dir: String): Boolean =
    lastCommit(spark, dir).batchIds.nonEmpty

  /** Compact the append-only partials table — each trigger appends a
    * handful of part files forever, and scan planning over the accumulated
    * mess is the measured O(triggers) term every [[reportToDate]] pays (the
    * file-count creep `StreamingNearDedup.compactIndex` was built for;
    * BASELINE.md r13). Row-level no-op: files are merged range-laid on the
    * group keys, so the report is unchanged. The table swaps through the
    * [[AtomicState]] protocol, and readers heal first; the commit log is
    * one file already. Run it between triggers, never concurrently with the
    * sink (the usual log-structured-store contract).
    */
  def compactPartials(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L << 20,
      minFiles: Int = 0): Map[String, Int] =
    Map("partials" -> AtomicState.compactSwap(spark, partialsDir(dir),
      Seq("kind", "channel", "event_name"), targetFileBytes, minFiles))

  private def commitsFs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(s"$dir/_commits")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The newest complete commit (a torn one leaves only a hidden temp). */
  private[streaming] def lastCommit(spark: SparkSession, dir: String): Commit = {
    val (fs, p) = commitsFs(spark, dir)
    val names = if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName) else Array.empty[String]
    names.filter(n => n.nonEmpty && n.forall(_.isDigit)).maxByOption(_.toLong)
      .fold(Commit(Set.empty, Map.empty)) { name =>
        val in = new DataInputStream(fs.open(new Path(p, name)))
        try Commit(Seq.fill(in.readInt())(in.readLong()).toSet, Seq.fill(in.readInt())(
          in.readUTF() -> Seq.fill(in.readInt())(in.readUTF())).toMap)
        finally in.close()
      }
  }

  /** Write a hidden temp, rename it into place, delete every other file. */
  private[streaming] def commit(
      spark: SparkSession, dir: String, last: Commit,
      batchId: Long, observed: Map[String, Seq[String]]): Unit = {
    val (fs, p) = commitsFs(spark, dir)
    val ids = last.batchIds + batchId
    val tmp = new Path(p, s".${ids.size}.tmp")
    val out = new DataOutputStream(fs.create(tmp, true))
    try {
      out.writeInt(ids.size); ids.foreach(out.writeLong); out.writeInt(observed.size)
      observed.foreach { case (ch, keys) =>
        out.writeUTF(ch); out.writeInt(keys.size); keys.foreach(out.writeUTF) }
    } finally out.close()
    val done = new Path(p, ids.size.toString)
    require(fs.rename(tmp, done), s"commit rename $tmp -> $done failed")
    fs.listStatus(p).map(_.getPath).filter(_.getName != done.getName)
      .foreach(fs.delete(_, false))
  }
}
