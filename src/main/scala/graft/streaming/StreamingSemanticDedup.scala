package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** The OPERATIONAL form of semantic dedup
  * ([[graft.llm.Similarity.semanticClusters]], q48): a `foreachBatch`
  * ingest loop that probes every arriving micro-batch of vectors against
  * the persisted vector index of everything ingested so far, writes the
  * over-threshold cosine pairs to an output table, and folds the batch's
  * vectors into the index for the next trigger — the embedding-space twin
  * of [[StreamingNearDedup]]'s lexical loop.
  *
  * Index layout (plain parquet): `<indexDir>/vectors` holds
  * (id, emb DOUBLE[], block) rows, one directory per trigger between
  * maintenance; [[compactIndex]] rewrites it block-key-sorted on whatever cadence
  * keeps the file count bounded, so the per-trigger probe join plans a
  * bounded scan and row-group pruning works on the block key.
  *
  * The trigger protocol is [[PairIndex.ingest]]'s and its replay safety
  * [[StateLog]]'s; this object declares the one table and the pair
  * function. The probe join carries an id-inequality predicate so a
  * vector id that arrives twice never pairs with itself.
  *
  * Batch shape per trigger: one block-keyed self-join within the batch
  * (O(batch-block²)), one block-keyed probe join batch×index (the index
  * side never self-joins — index-internal pairs were emitted when those
  * vectors arrived), one write each for pairs and vectors. Per-trigger
  * cost scales with the batch's block overlap, never the corpus.
  */
object StreamingSemanticDedup {

  /** Run one ingest step: write over-threshold pairs touching `batch` to
    * `pairsDir`, fold the batch's vectors into `indexDir`. Returns the
    * number of pairs written (the per-trigger monitor signal, as in
    * [[StreamingNearDedup.ingestBatch]]), 0 for a replayed `batchId`.
    * The `foreachBatch` use: `stream.writeStream.foreachBatch {
    * (b: DataFrame, id: Long) => StreamingSemanticDedup.ingestBatch(b, id,
    * ...); () }.start()`.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      embCol: String,
      blockCol: String,
      indexDir: String,
      pairsDir: String,
      threshold: Double = 0.9): Long =
    StateLog(batch.sparkSession, indexDir).trigger(batchId)(
      ingest(_, batch, idCol, embCol, blockCol, indexDir, pairsDir, threshold)).getOrElse(0L)

  /** [[ingestBatch]]'s work under a trigger whose entry may cover more
    * tables ([[StreamingCuration]]'s).
    */
  private[streaming] def ingest(
      t: StateLog.Trigger,
      batch: DataFrame,
      idCol: String,
      embCol: String,
      blockCol: String,
      indexDir: String,
      pairsDir: String,
      threshold: Double): Long = {
    val vectors = batch.select(
      col(idCol).as("id"),
      Similarity.asDouble(col(embCol)).as("emb"),
      col(blockCol).as("block"))
    PairIndex.ingest(t, indexDir, pairsDir, Seq("vectors" -> vectors)) { (index, staged) =>
      val b = staged("vectors")
      // within-batch pairs ARE the q48 batch operator on the batch frame —
      // one implementation, so the rounding/threshold convention can never
      // drift between the batch and streaming paths
      val within = Similarity.cosinePairs(b, "id", "emb", col("block"), threshold)
      val cross = b.as("n")
        .join(index("vectors").as("i"),
          col("n.block") === col("i.block") && col("n.id") =!= col("i.id"))
        .withColumn("score", round(Similarity.fusedCosine(col("n.emb"), col("i.emb")), 6))
        .filter(col("score") >= threshold)
        .select(
          least(col("n.id"), col("i.id")).as("id_a"),
          greatest(col("n.id"), col("i.id")).as("id_b"),
          col("score"))
      // distinct over the union: a vector id already in the index can
      // arrive via within AND via both probe directions — one trigger
      // still writes each pair at most once
      within.union(cross).distinct()
    }
  }

  /** Compact the vector index — the same maintenance the
    * lexical loop's [[StreamingNearDedup.compactIndex]] ships, with the
    * same measured rationale (the per-trigger O(index) term is the
    * accumulating part-file count, and the rewrite must keep at least
    * `defaultParallelism` files — BASELINE.md r13). Vectors are
    * range-laid on (block, id), so after compaction the per-trigger
    * probe join's index scan gets row-group min/max pruning on the
    * block key — the scaladoc's "compact and bucket BY THE BLOCK KEY"
    * made operational. Written as one [[StateLog]] generation
    * ([[PairIndex.compact]]); a crash mid-compaction never loses the index.
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      targetFileBytes: Long = 128L << 20,
      minFiles: Int = 0): Map[String, Int] =
    PairIndex.compact(spark, indexDir, Seq("vectors" -> Seq("block", "id")),
      targetFileBytes, minFiles)
}
