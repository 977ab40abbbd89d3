package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact-dedup — the ingest-time complement of the batch
  * [[graft.llm.Dedup.exact]] family: emit the FIRST arrival for each key,
  * drop later duplicates, with state bounded by the watermark.
  *
  * Built on `dropDuplicatesWithinWatermark`: state holds one entry per
  * distinct key seen within the watermark horizon and is evicted once the
  * event-time watermark passes, so a 100 TB/day ingest keeps
  * O(distinct keys per horizon) state instead of O(all keys ever) — the
  * deliberate trade is that a duplicate arriving AFTER its key's state was
  * evicted is re-emitted (exact global dedup needs the batch operator; this
  * is the standard bounded-state streaming semantics).
  *
  * `ts` follows the repo convention for the `events` table: long
  * nanoseconds (TIMESTAMP(NANOS) parquet read with `nanosAsLong`).
  */
object StreamingDedup {

  /** One row per key with its min event time — the dedup DECISION only,
    * deliberately NOT schema-compatible with [[dedupStream]] (named so it
    * can't read as a drop-in twin; [[dedupBatch]] is the full-row twin).
    */
  def firstArrivalTimes(df: DataFrame, tsColNs: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(tsColNs)).as(tsColNs))
      .select(keyCols.map(col) :+ col(tsColNs): _*)

  /** Batch twin of [[dedupStream]] with the SAME row payload: the full
    * first-arrival row per key (all input columns, first by event time).
    * Ties on the min timestamp are broken by `tieBreak` columns; with an
    * empty tieBreak and genuinely tied duplicates the kept row is
    * arbitrary-but-single, matching the streaming operator's
    * whichever-arrived-first semantics.
    */
  def dedupBatch(
      df: DataFrame, tsColNs: String, keyCols: Seq[String],
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((tsColNs +: tieBreak).map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Streaming form: first occurrence per `keyCols` within the watermark
    * horizon; duplicates inside the horizon drop, state evicts as the
    * watermark advances. The output has the input's columns; the
    * watermark's helper column is dropped.
    */
  def dedupStream(
      df: DataFrame, tsColNs: String, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    df
      .withColumn("ts_micro", timestamp_micros(expr(s"$tsColNs DIV 1000")))
      .withWatermark("ts_micro", watermark)
      .dropDuplicatesWithinWatermark(keyCols)
      .drop("ts_micro")
}
