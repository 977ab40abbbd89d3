package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Stage

/** The per-trigger protocol shared by the three pair-index ingest loops
  * ([[StreamingNearDedup]], [[StreamingSemanticDedup]],
  * [[StreamingImageDedup]]). Each loop keeps a parquet index of
  * per-document artifacts, one table per artifact under `indexDir`,
  * probes every micro-batch against it, and writes the pairs it finds to
  * `pairsDir`. A loop declares only its artifacts, their compaction sort
  * keys and its pair function; the order of the steps lives here, and
  * replay safety is [[StateLog]]'s (the log lives under `indexDir`).
  */
private[streaming] object PairIndex {

  /** One trigger of a loop whose log lives under `indexDir`; 0 pairs for a
    * replayed `batchId`.
    */
  def ingest(batchId: Long, indexDir: String, pairsDir: String, artifacts: Seq[(String, DataFrame)])(
      pairsOf: (Map[String, DataFrame], Map[String, DataFrame]) => DataFrame): Long =
    StateLog(artifacts.head._2.sparkSession, indexDir).trigger(batchId)(
      ingest(_, indexDir, pairsDir, artifacts)(pairsOf)).getOrElse(0L)

  /** One trigger's work under `t`, whose entry may cover more tables
    * ([[StreamingCuration]] commits its scores with its semantic index).
    * `artifacts` are the batch's rows for each index table, in staging
    * order (a later artifact may derive from an earlier one and then reads
    * its cache). `pairsOf(index, batch)` gets the committed index tables
    * and the staged batch artifacts, both by table name. Returns the number
    * of pairs written (the per-trigger monitor signal).
    *
    *  1. Stage the batch artifacts: each feeds the probe AND its write.
    *  1. Read each committed index table — empty before its first commit.
    *  1. Probe, then stage and count the pairs.
    *  1. Write the pairs, then the batch artifacts into the index. The
    *     probe read the committed index only, so a batch never pairs with
    *     itself through the index (within-batch pairs are the pair
    *     function's job).
    *  1. Release every staged frame in `finally` ([[Stage.using]]): a
    *     trigger that fails mid-way leaves no cache behind, and a failed
    *     pairs write adds nothing to the index.
    */
  def ingest(t: StateLog.Trigger, indexDir: String, pairsDir: String, artifacts: Seq[(String, DataFrame)])(
      pairsOf: (Map[String, DataFrame], Map[String, DataFrame]) => DataFrame): Long = {
    val staged = artifacts.map { case (table, df) => table -> Stage.cache(df) }
    Stage.using(staged.map(_._2): _*) {
      val index = staged.map { case (table, df) =>
        val spark = df.sparkSession
        table -> t.read(s"$indexDir/$table").getOrElse(
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema))
      }.toMap
      val pairs = Stage.cache(pairsOf(index, staged.toMap))
      Stage.using(pairs) {
        val n = pairs.count()
        t.write(pairsDir, pairs)
        staged.foreach { case (table, df) => t.write(s"$indexDir/$table", df) }
        n
      }
    }
  }

  /** Compact each index table named in `sortKeys` into one [[StateLog]]
    * generation, range-laid on its sort key. Returns table → files written.
    */
  def compact(
      spark: SparkSession,
      indexDir: String,
      sortKeys: Seq[(String, Seq[String])],
      targetFileBytes: Long,
      minFiles: Int): Map[String, Int] =
    StateLog(spark, indexDir)
      .compact(sortKeys.map { case (table, keys) => s"$indexDir/$table" -> keys },
        targetFileBytes, minFiles)
      .map { case (root, files) => root.stripPrefix(s"$indexDir/") -> files }
}
