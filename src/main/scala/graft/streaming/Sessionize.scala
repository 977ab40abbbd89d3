package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sessionization over the `events` table — the Structured Streaming
  * showcase (SURVEY §7.2 step 7): `session_window` with a gap, one
  * aggregation for both static frames and streams.
  *
  * `events.ts` arrives as a long (ns since epoch — the corpus parquet is
  * TIMESTAMP(NANOS) read with `nanosAsLong`); it converts to a microsecond
  * timestamp with `DIV 1000` truncation. Session semantics (verified
  * empirically): the boundary is INCLUSIVE — an event at exactly
  * `prev + gap` still merges into the previous session; only a strictly
  * larger gap starts a new one.
  */
object Sessionize {

  /** Per (user, session) first/last event timestamp (µs since epoch — ns
    * truncate to µs so results are comparable with engines that read the
    * nanos parquet at µs precision) and count. On a stream, late rows
    * beyond the watermark drop and closed sessions emit once (append
    * mode); on a static frame the analyzer drops the watermark
    * (`EliminateEventTimeWatermark`) and every session is emitted.
    */
  def sessions(
      events: DataFrame,
      gap: String = "6 hours",
      watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts_micro", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("ts_micro", watermark)
      .groupBy(col("user_id"), session_window(col("ts_micro"), gap))
      .agg(
        min(expr("ts DIV 1000")).as("first_us"),
        max(expr("ts DIV 1000")).as("last_us"),
        count(lit(1)).as("n_events"))
      .select("user_id", "first_us", "last_us", "n_events")
}
