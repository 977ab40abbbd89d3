package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Stage
import graft.operators.Sketches

/** The OPERATIONAL form of the mergeable distinct-count sketches
  * ([[graft.operators.Sketches]]): a `foreachBatch` ingest loop that
  * reduces every arriving micro-batch to one HLL sketch row per group,
  * commits it to a persisted parquet sketch table, and reads the
  * distinct-to-date estimate back by merging — raw rows are touched
  * exactly once, at arrival.
  *
  * This is the distinct-count member of the persisted-artifact family
  * ([[StreamingNearDedup]]'s band/shingle index, [[StreamingSemanticDedup]]'s
  * vector index): the state that crosses triggers is |groups| × ~4 KB per
  * batch, never data-sized, and any batch job can read the same table.
  * Batches whose raw rows overlap never inflate an estimate: the HLL merge
  * is a register max.
  *
  * Replay safety is [[StateLog]]'s: each trigger's sketch rows land in
  * `sketchDir/batch_id=<id>`, committed by the log under `sketchDir`.
  */
object StreamingDistinct {

  /** Reduce one batch to per-group sketch rows and commit them under
    * `sketchDir`. Returns the number of groups the batch touched (the
    * bounded per-trigger monitor value), 0 for a replayed `batchId`. The
    * `foreachBatch` use: `stream.writeStream.foreachBatch { (b: DataFrame,
    * id: Long) => StreamingDistinct.ingestBatch(b, id, ...); () }.start()`.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      groupCols: Seq[String],
      valueCol: String,
      sketchDir: String,
      lgK: Int = 12): Long =
    StateLog(batch.sparkSession, sketchDir).trigger(batchId) { t =>
      val sk = Stage.cache(Sketches.distinctSketch(batch, groupCols, valueCol, lgK))
      Stage.using(sk) {
        val n = sk.count()
        t.write(sketchDir, sk)
        n
      }
    }.getOrElse(0L)

  /** True once a trigger has committed sketch rows: the log names a
    * directory. Monitors racing the first trigger (or a fresh deploy)
    * guard [[estimates]] with this — the sketch table's group-column types
    * come from the first batch, so there is no honest empty frame before
    * one exists.
    */
  def hasSketches(spark: SparkSession, sketchDir: String): Boolean =
    StateLog(spark, sketchDir).last.tables.contains(sketchDir)

  /** Distinct-to-date estimates per group from the committed sketch rows:
    * one scan over |groups| × |batches| sketch rows, one merge shuffle.
    * Precondition: [[hasSketches]].
    */
  def estimates(
      spark: SparkSession,
      sketchDir: String,
      groupCols: Seq[String]): DataFrame = {
    val sketches = StateLog(spark, sketchDir).read(sketchDir)
    require(sketches.isDefined, s"no committed sketch rows under $sketchDir")
    Sketches.mergeEstimate(sketches.get, groupCols)
  }
}
