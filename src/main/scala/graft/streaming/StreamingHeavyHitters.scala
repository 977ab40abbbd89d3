package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.CountMinSketch

import graft.Stage
import graft.operators.{HeavyHitters, Sketches}

/** Heavy-hitters-to-date over a stream: the operational form of
  * [[graft.operators.HeavyHitters]] for when the raw rows are gone by
  * query time. Each micro-batch is reduced to two bounded artifacts —
  * its Misra-Gries candidate keys and ONE Count-Min sketch row — and
  * appended to a persisted parquet table; the monitor answers "which
  * keys exceed 1/denom of everything seen so far" by merging the sketch
  * rows and estimating only the accumulated candidates. Null keys are
  * excluded at ingest, the batch operator's contract.
  *
  * Why this is sound across triggers: the pigeonhole argument chains —
  * a key above `N/denom` globally must be above `n_b/denom` in at least
  * one batch (averaging over batches), hence above `n_p/denom` in at
  * least one of that batch's partitions (averaging again), hence in
  * that partition's MG summary. So the accumulated candidate set is a
  * SUPERSET of the true heavy hitters at every point in time. CMS never
  * under-counts, so thresholding estimates keeps every true heavy
  * hitter; what the stream trades away vs the batch operator's exact
  * recount is only the other direction — a key within `eps × N` of the
  * threshold can over-qualify. That one-sided error is the documented
  * contract (and the spec pins both sides).
  *
  * Replay safety (`foreachBatch` is at-least-once): CMS merge is
  * cell-wise ADDITION, so a replayed batch would double-count — unlike
  * the HLL table's register-max. The sketch rows therefore carry the
  * trigger's `batch_id`, and the reader folds duplicates (largest-n row
  * per batch_id, see `foldedCmsRows`) before merging; candidates are
  * set-union, idempotent by nature. State per trigger is one sketch row
  * + ≤ denom × partitions candidate keys — never data-sized.
  */
object StreamingHeavyHitters {

  private def cmsSchema = StructType(Seq(
    StructField("batch_id", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("cms", BinaryType, nullable = false)))

  /** Reduce one batch to its two artifacts and append them. Returns the
    * batch's (non-null-key) row count — the bounded per-trigger monitor
    * value. Two jobs over the persisted batch: the candidate write, and
    * one global aggregation computing the sketch AND the row count
    * together (the batch operator's two-scans discipline — a separate
    * `count()` would be a third job per trigger).
    */
  def ingestBatch(
      batch: DataFrame, batchId: Long, keyCol: String, dir: String,
      supportDenom: Int, eps: Double = 0.0001, confidence: Double = 0.99,
      seed: Int = 42): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    val keyed = Stage.cache(batch.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("key")))
    val skRow = Stage.using(keyed) {
      keyed.as[String].mapPartitions(it => HeavyHitters.misraGries(it, supportDenom))
        .toDF("key").distinct()
        .write.mode("append").parquet(s"$dir/candidates")
      keyed.groupBy()
        .agg(
          count_min_sketch(col("key"), lit(eps), lit(confidence), lit(seed)).as("cms"),
          count(lit(1)).as("n"))
        .head()
    }
    val n = skRow.getAs[Long]("n")
    val cmsBytes = skRow.getAs[Array[Byte]]("cms")
    // an empty trigger (or all-null keys) contributes nothing — writing
    // its sketch row would only risk a null/degenerate cms payload
    if (n > 0 && cmsBytes != null)
      spark.createDataFrame(
          java.util.List.of(Row(batchId, n, cmsBytes)), cmsSchema)
        .write.mode("append").parquet(s"$dir/cms")
    n
  }

  /** The `foreachBatch` function: `stream.writeStream.foreachBatch(
    * StreamingHeavyHitters.sink(...)).start()`.
    */
  def sink(keyCol: String, dir: String, supportDenom: Int): (DataFrame, Long) => Unit =
    (batch, id) => { ingestBatch(batch, id, keyCol, dir, supportDenom); () }

  /** True once at least one trigger has committed sketch rows — the
    * pre-first-trigger guard, same contract as
    * [[StreamingDistinct.hasSketches]] (a committed `part-*.parquet`
    * data file, not a bare directory). Rolls a half-finished [[compact]]
    * swap forward/back first ([[AtomicState.heal]]), so a crash
    * mid-compaction can never make the monitor report "no state" while
    * the folded rows sit in a side directory. Every reader and
    * [[compact]] itself heals first, which is what makes the
    * at-least-once contract hold across a crash at ANY point of the swap.
    */
  def hasState(spark: SparkSession, dir: String): Boolean = {
    AtomicState.heal(spark, s"$dir/cms")
    StreamingDistinct.hasSketches(spark, s"$dir/cms")
  }

  /** Fold duplicate batch_id rows deterministically: keep each id's row
    * with the LARGEST n_rows. For ordinary replays the duplicates are
    * identical so any pick works; after a [[compact]], the retained max
    * id can coexist with a replayed single-batch row of the same id, and
    * only the merged (larger-n) row is correct — a `first()` pick there
    * would silently drop every pre-compaction count.
    */
  private def foldedCmsRows(spark: SparkSession, dir: String): Array[Row] =
    spark.read.parquet(s"$dir/cms")
      .groupBy("batch_id")
      .agg(max("n_rows").as("n_rows"), max_by(col("cms"), col("n_rows")).as("cms"))
      .collect()

  private case class ToDate(n: Long, maxId: Long, merged: CountMinSketch, candidates: Array[String])

  /** The state to date, read onto the driver — rows-to-date, the max
    * folded batch id, the merged sketch and the distinct candidate keys —
    * or None before the first committed trigger or on an empty table.
    */
  private def toDate(spark: SparkSession, dir: String): Option[ToDate] = {
    import spark.implicits._
    if (!hasState(spark, dir)) return None
    val rows = foldedCmsRows(spark, dir)
    if (rows.isEmpty) return None
    val merged = Sketches.mergeFreqSketches(rows.map(_.getAs[Array[Byte]]("cms")).toSeq)
    AtomicState.heal(spark, s"$dir/candidates")
    val candidates = spark.read.parquet(s"$dir/candidates")
      .distinct().as[String].collect()
    Some(ToDate(rows.map(_.getAs[Long]("n_rows")).sum,
      rows.map(_.getAs[Long]("batch_id")).max, merged, candidates))
  }

  /** Fold the accumulated artifacts down to one sketch row and the
    * distinct candidate set, in place; a no-op before the first
    * committed trigger or on an empty table. A CMS row is ~1 MB at the
    * default eps and the table grows one row per trigger — compaction
    * bounds [[heavyHittersToDate]]'s driver work to O(1) sketch rows no
    * matter how long the stream has run.
    *
    * Replay contract after compaction: the folded row keeps the MAX
    * batch_id seen, so a replay of that batch (the only one
    * `foreachBatch`'s checkpoint can re-deliver after a crash — earlier
    * batches are committed) still folds away; replays of OLDER ids would
    * double-count, which is why this is sequenced from the maintenance
    * path between triggers, never concurrently with the sink.
    */
  def compact(spark: SparkSession, dir: String): Unit = toDate(spark, dir).foreach { s =>
    import spark.implicits._
    // Both reads are fully materialized on the driver by toDate. The
    // writes go through the atomic swap protocol, NOT a plain
    // mode("overwrite"): Spark's overwrite deletes the target before the
    // job commits, so a crash mid-rewrite would permanently lose the
    // accumulated sketch/candidate state while hasState stayed true.
    // The two dirs swap independently — that's sound because a crash
    // between them leaves folded cms + unfolded candidates (or the
    // reverse), and candidate folding is pure distinct(): either
    // generation of either dir yields identical monitor output.
    AtomicState.overwrite(
      spark.createDataFrame(
        java.util.List.of(Row(s.maxId, s.n, s.merged.toByteArray)), cmsSchema),
      s"$dir/cms")
    AtomicState.overwrite(s.candidates.toSeq.toDF("key"), s"$dir/candidates")
  }

  /** Keys whose estimated count × denom exceeds the rows-to-date N, with
    * their CMS estimates: a guaranteed superset of the exact heavy
    * hitters, over-qualifying only within the sketch's `eps × N` bound.
    * Empty before the first committed trigger (the batch operator's
    * empty-in/empty-out contract, not an error). Bounded driver work:
    * one sketch row per distinct batch and the candidate key set — never
    * the raw stream.
    */
  def heavyHittersToDate(
      spark: SparkSession, dir: String, supportDenom: Int): DataFrame = {
    import spark.implicits._
    toDate(spark, dir).toSeq
      .flatMap(s => s.candidates.map(k => (k, s.merged.estimateCount(k)))
        .filter { case (_, est) => est * supportDenom > s.n })
      .toDF("key", "est_count")
  }
}
