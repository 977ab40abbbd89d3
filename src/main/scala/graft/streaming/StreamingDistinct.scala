package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.Stage
import graft.operators.Sketches

/** The OPERATIONAL form of the mergeable distinct-count sketches
  * ([[graft.operators.Sketches]]): a `foreachBatch` ingest loop that
  * reduces every arriving micro-batch to one HLL sketch row per group,
  * appends it to a persisted parquet sketch table, and reads the
  * distinct-to-date estimate back by merging — raw rows are touched
  * exactly once, at arrival.
  *
  * This is the distinct-count member of the persisted-artifact family
  * ([[StreamingNearDedup]]'s band/shingle index, [[StreamingSemanticDedup]]'s
  * vector index): the state that crosses triggers is |groups| × ~4 KB per
  * batch, never data-sized, and any batch job can read the same table.
  *
  * Failure semantics: `foreachBatch` is at-least-once, and HLL register-max
  * absorbs replay — re-appending the SAME batch sketch cannot move any
  * estimate (pinned in SketchSpec), so the appended sketch log needs no
  * reader-side dedup at all, unlike the near-dup pair log. A batch whose
  * raw rows overlap a previous batch is also safe for the same reason.
  */
object StreamingDistinct {

  /** Reduce one batch to per-group sketch rows and append them to
    * `sketchDir`. Returns the number of groups the batch touched (the
    * bounded per-trigger monitor value).
    */
  def ingestBatch(
      batch: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      sketchDir: String,
      lgK: Int = 12): Long = {
    val sk = Stage.cache(Sketches.distinctSketch(batch, groupCols, valueCol, lgK))
    Stage.using(sk) {
      val n = sk.count()
      sk.write.mode("append").parquet(sketchDir)
      n
    }
  }

  /** The `foreachBatch` function: `stream.writeStream.foreachBatch(
    * StreamingDistinct.sketchSink(...)).start()`.
    */
  def sketchSink(
      groupCols: Seq[String],
      valueCol: String,
      sketchDir: String,
      lgK: Int = 12): (DataFrame, Long) => Unit =
    (batch, _) => { ingestBatch(batch, groupCols, valueCol, sketchDir, lgK); () }

  /** True once at least one trigger has committed sketch rows. Monitors
    * racing the first trigger (or a fresh deploy) guard [[estimates]] with
    * this instead of catching the reader's PATH_NOT_FOUND — the sketch
    * table's group-column types live in the data, so there is no honest
    * empty frame to fabricate before one exists.
    *
    * "Committed" means a schema-bearing `part-*.parquet` data file is
    * visible, not merely the directory: plain parquet append is
    * non-transactional, so the dir can exist while the first write is
    * still in flight (only `_temporary/`) or after an aborted/empty batch
    * left no data file — in both states [[estimates]] would still throw on
    * schema inference. A racing reader may also see a partially-written
    * part file; callers needing strict isolation sequence after a
    * completed trigger (the spec does), this guard only rules out the
    * no-schema states.
    */
  def hasSketches(
      spark: org.apache.spark.sql.SparkSession, sketchDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(sketchDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val it = fs.listStatus(p).iterator
      it.exists { st =>
        val n = st.getPath.getName
        st.isFile && n.startsWith("part-") && n.endsWith(".parquet") &&
          st.getLen > 0
      }
    }
  }

  /** Distinct-to-date estimates per group from the persisted sketch table:
    * one scan over |groups| × |batches| sketch rows, one merge shuffle.
    * Precondition: [[hasSketches]] — before the first committed trigger
    * the table does not exist and the read throws.
    */
  def estimates(
      spark: org.apache.spark.sql.SparkSession,
      sketchDir: String,
      groupCols: Seq[String]): DataFrame =
    Sketches.mergeEstimate(spark.read.parquet(sketchDir), groupCols)
}
