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
  * committed to two persisted parquet tables; the monitor answers "which
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
  * Replay safety is [[StateLog]]'s: a trigger's sketch row and candidates
  * land in its own `batch_id=<id>` directories, committed in one entry, so
  * CMS addition counts every batch exactly once. State per trigger is one
  * sketch row + ≤ denom × partitions candidate keys — never data-sized.
  */
object StreamingHeavyHitters {

  private def cmsSchema = StructType(Seq(
    StructField("n_rows", LongType, nullable = false),
    StructField("cms", BinaryType, nullable = false)))

  /** Reduce one batch to its two artifacts and commit them. Returns the
    * batch's (non-null-key) row count — the bounded per-trigger monitor
    * value — or 0 for a replayed `batchId`. Two jobs over the persisted
    * batch: the candidate write, and one global aggregation computing the
    * sketch AND the row count together (the batch operator's two-scans
    * discipline — a separate `count()` would be a third job per trigger).
    * The `foreachBatch` use: `stream.writeStream.foreachBatch {
    * (b: DataFrame, id: Long) => StreamingHeavyHitters.ingestBatch(b, id,
    * ...); () }.start()`.
    */
  def ingestBatch(
      batch: DataFrame, batchId: Long, keyCol: String, dir: String,
      supportDenom: Int, eps: Double = 0.0001, confidence: Double = 0.99,
      seed: Int = 42): Long =
    StateLog(batch.sparkSession, dir).trigger(batchId) { t =>
      val spark = batch.sparkSession
      import spark.implicits._
      val keyed = Stage.cache(batch.filter(col(keyCol).isNotNull)
        .select(col(keyCol).cast("string").as("key")))
      val skRow = Stage.using(keyed) {
        t.write(s"$dir/candidates", keyed.as[String]
          .mapPartitions(it => HeavyHitters.misraGries(it, supportDenom))
          .toDF("key").distinct())
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
        t.write(s"$dir/cms", spark.createDataFrame(java.util.List.of(Row(n, cmsBytes)), cmsSchema))
      n
    }.getOrElse(0L)

  /** True once a committed trigger has written a sketch row. */
  def hasState(spark: SparkSession, dir: String): Boolean =
    StateLog(spark, dir).last.tables.contains(s"$dir/cms")

  private case class ToDate(
      entry: StateLog.Entry, n: Long, merged: CountMinSketch, candidates: Array[String])

  /** The committed state, read onto the driver — the entry it was read
    * from, rows-to-date, the merged sketch and the distinct candidate keys
    * — or None before the first committed sketch row.
    */
  private def toDate(spark: SparkSession, dir: String): Option[ToDate] = {
    import spark.implicits._
    val log = StateLog(spark, dir)
    val e = log.last
    log.read(s"$dir/cms", e).map(_.collect()).filter(_.nonEmpty).map { rows =>
      ToDate(e, rows.map(_.getAs[Long]("n_rows")).sum,
        Sketches.mergeFreqSketches(rows.map(_.getAs[Array[Byte]]("cms")).toSeq),
        log.read(s"$dir/candidates", e).fold(Array.empty[String])(_.distinct().as[String].collect()))
    }
  }

  /** Fold the committed artifacts down to one sketch row and the distinct
    * candidate set, both in one [[StateLog]] generation; a no-op before
    * the first committed sketch row. A CMS row is ~1 MB at the default eps
    * and the table grows one row per trigger — compaction bounds
    * [[heavyHittersToDate]]'s driver work to O(1) sketch rows no matter
    * how long the stream has run. Run it between triggers, never
    * concurrently with [[ingestBatch]].
    */
  def compact(spark: SparkSession, dir: String): Unit = toDate(spark, dir).foreach { s =>
    import spark.implicits._
    StateLog(spark, dir).replace(s.entry, Seq(
      s"$dir/cms" -> spark.createDataFrame(
        java.util.List.of(Row(s.n, s.merged.toByteArray)), cmsSchema),
      s"$dir/candidates" -> s.candidates.toSeq.toDF("key")))
  }

  /** Keys whose estimated count × denom exceeds the rows-to-date N, with
    * their CMS estimates: a guaranteed superset of the exact heavy
    * hitters, over-qualifying only within the sketch's `eps × N` bound.
    * Empty before the first committed trigger (the batch operator's
    * empty-in/empty-out contract, not an error). Bounded driver work:
    * one sketch row per committed batch and the candidate key set — never
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
