package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.Stage

/** The per-trigger protocol shared by the three pair-index ingest loops
  * ([[StreamingNearDedup]], [[StreamingSemanticDedup]],
  * [[StreamingImageDedup]]). Each loop keeps an append-only parquet index
  * of per-document artifacts, one table per artifact under `indexDir`,
  * probes every micro-batch against it, and appends the pairs it finds to
  * `pairsDir`. A loop declares only its artifacts, their compaction sort
  * keys and its pair function; the order of the steps lives here.
  */
private[streaming] object PairIndex {

  /** One trigger. `artifacts` are the batch's rows for each index table,
    * in staging and append order (a later artifact may derive from an
    * earlier one and then reads its cache). `pairsOf(index, batch)` gets
    * the index tables and the staged batch artifacts, both by table name.
    * Returns the number of pairs appended (the per-trigger monitor
    * signal).
    *
    *  1. Stage the batch artifacts: each feeds the probe AND its append.
    *  1. Heal, then read each index table ([[AtomicState.readOrEmpty]])
    *     before this trigger appends anything. A [[compact]] swap that
    *     crashed between rename-away and rename-in leaves the live path
    *     missing with the committed rewrite parked at `.new`; without the
    *     heal the trigger would silently probe an EMPTY index (missing
    *     every cross pair) and append the batch to a fresh directory —
    *     which the next heal would treat as authoritative, discarding the
    *     entire pre-crash index.
    *  1. Probe, then stage and count the pairs.
    *  1. Append the pairs, then fold the batch artifacts into the index —
    *     AFTER probing, so a batch never pairs with itself through the
    *     index (within-batch pairs are the pair function's job).
    *  1. Release every staged frame in `finally` ([[Stage.using]]): a
    *     trigger that fails mid-way leaves no cache behind, and a failed
    *     pairs append folds nothing into the index.
    *
    * `foreachBatch` is at-least-once: a replayed batch re-appends its pairs
    * and artifacts, so readers dedupe on (id_a, id_b), and each pair
    * function guards the probe with an id inequality so a replayed doc
    * never pairs with its own indexed copy.
    */
  def ingest(indexDir: String, pairsDir: String, artifacts: Seq[(String, DataFrame)])(
      pairsOf: (Map[String, DataFrame], Map[String, DataFrame]) => DataFrame): Long = {
    val staged = artifacts.map { case (table, df) => table -> Stage.cache(df) }
    Stage.using(staged.map(_._2): _*) {
      val index = staged.map { case (table, df) =>
        table -> AtomicState.readOrEmpty(df.sparkSession, s"$indexDir/$table", df.schema)
      }.toMap
      val pairs = Stage.cache(pairsOf(index, staged.toMap))
      Stage.using(pairs) {
        val n = pairs.count()
        pairs.write.mode("append").parquet(pairsDir)
        staged.foreach { case (table, df) =>
          df.write.mode("append").parquet(s"$indexDir/$table")
        }
        n
      }
    }
  }

  /** Compact each index table named in `sortKeys` through
    * [[AtomicState.compactSwap]], range-laid on its sort key. Returns
    * table → files written.
    */
  def compact(
      spark: SparkSession,
      indexDir: String,
      sortKeys: Seq[(String, Seq[String])],
      targetFileBytes: Long,
      minFiles: Int): Map[String, Int] =
    sortKeys.map { case (table, keys) =>
      table -> AtomicState.compactSwap(
        spark, s"$indexDir/$table", keys, targetFileBytes, minFiles)
    }.toMap

  /** The `foreachBatch` function over `ingest`, dropping its count. */
  def sink[T](ingest: Dataset[T] => Long): (Dataset[T], Long) => Unit =
    (batch, _) => { ingest(batch); () }
}
