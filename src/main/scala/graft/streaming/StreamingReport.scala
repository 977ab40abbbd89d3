package graft.streaming

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
  * derivation q06 runs, then [[Completeness.partialMetrics]]) and writes
  * both, tagged by `kind`, to the parquet table `$dir/partials` in one
  * write. [[reportToDate]] merges by summation and applies the tiny spec
  * joins + derived columns — identical math to batch q06 over the union of
  * the batches (StreamingReportSpec: two triggers ≡ one batch run).
  *
  * Raw catalog rows are touched exactly once, at arrival; at 100 TB the
  * daily report becomes an append of yesterday's partials instead of a
  * full recompute. The partials are NOT bounded by config size: the value
  * partials hold one row per spec cell per batch, but the key partials
  * hold one row per OBSERVED (channel, event, key) per batch, so they
  * grow with the payload key vocabulary. Restricting the merged keys to
  * the spec's key names before the explode would bound them (direction
  * 1c in ROADMAP.md).
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
  * Replay safety is [[StateLog]]'s: each trigger overwrites its own
  * `partials/batch_id=<id>` directory and commits it, with the observed
  * keys, in one entry under `dir`.
  */
object StreamingReport {

  private def partials(dir: String) = s"$dir/partials"

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

  /** Reduce one micro-batch of catalog rows to its additive partials and
    * commit them; `batchId` makes redelivery a no-op. Returns true when the
    * batch was ingested, false when it was a replay skip. The
    * `foreachBatch` use: `catalogStream.writeStream.foreachBatch {
    * (b: DataFrame, id: Long) => StreamingReport.ingestBatch(b, id, spec,
    * params, dir); () }.start()`.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      spec: DataFrame,
      params: VerificationParams,
      dir: String): Boolean =
    StateLog(batch.sparkSession, dir).trigger(batchId) { t =>
      val p = EventsVerificationPipeline.prepare(batch, spec, params, t.meta)
      Stage.using(p.cat) {
        t.write(partials(dir), tagged("key", p.keyCounts)
          .union(tagged("value", Completeness.partialMetrics(
            p.longDefined, Seq("channel", "version", "event_name")))))
      }
      t.meta = p.observed
    }.isDefined

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
    val info = EventsVerificationPipeline.parseSpec(spec, params)
    val parts = StateLog(spark, dir).read(partials(dir))
    require(parts.isDefined, s"no committed trigger under $dir")
    def rows(kind: String, cols: String*) =
      parts.get.filter(col("kind") === kind).select(cols.map(col): _*)
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
    StateLog(spark, dir).last.batchIds.nonEmpty

  /** Compact the partials table — each trigger adds a directory of a
    * handful of part files, and scan planning over the accumulated mess is
    * the measured O(triggers) term every [[reportToDate]] pays (the
    * file-count creep `StreamingNearDedup.compactIndex` was built for;
    * BASELINE.md r13). Row-level no-op: files are merged range-laid on the
    * group keys into one [[StateLog]] generation, so the report is
    * unchanged. Run it between triggers, never concurrently with
    * [[ingestBatch]].
    */
  def compactPartials(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L << 20,
      minFiles: Int = 0): Map[String, Int] =
    StateLog(spark, dir).compact(Seq(partials(dir) -> Seq("kind", "channel", "event_name")),
      targetFileBytes, minFiles).map { case (_, files) => "partials" -> files }
}
