package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tumbling-window event counts over the `events` table — the canonical
  * watermark + windowed-aggregation shape (readStream → window groupBy →
  * append sink). Each operator is one function: on a streaming frame the
  * watermark bounds its state, on a static frame the analyzer drops the
  * watermark (`EliminateEventTimeWatermark`) and the same plan is the
  * batch aggregation.
  *
  * `events.ts` is long ns (see [[Sessionize]]); windows are emitted as
  * µs-since-epoch bucket starts so results are engine-comparable without
  * timestamp-rendering differences. Spark aligns tumbling windows to the
  * epoch, so `bucket_us = floor(ts_us / window_us) * window_us` exactly —
  * which is also the DuckDB oracle's arithmetic.
  *
  * Scale: one shuffle on (bucket, event_type) with map-side partial
  * counts; streaming state is one row per open (bucket, event_type),
  * evicted once the watermark passes the window end.
  */
object WindowedCounts {

  private def stamped(events: DataFrame, watermark: String): DataFrame =
    events
      .withColumn("ts_micro", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("ts_micro", watermark)

  /** Per (hour-bucket, event_type) event counts. On a stream, late rows
    * beyond the watermark drop and finalized windows emit once in append
    * mode.
    */
  def counts(
      events: DataFrame,
      duration: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    stamped(events, watermark)
      .groupBy(window(col("ts_micro"), duration), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"),
        col("n_events"))

  /** Gap filling: densify [[counts]]' sparse series over a static frame —
    * buckets with no events get an explicit zero row between each
    * event_type's first and last active bucket (downstream rate/anomaly
    * math needs the zeros; a sparse series silently reads as "no data"
    * instead of "no events").
    *
    * Plan shape: the dense grid comes from `sequence`+`explode` over each
    * type's (min, max) span — grid size is |types| × horizon/window,
    * bounded by TIME, not data volume — then one left join back on
    * (type, bucket). The counts aggregate partially before their shuffle;
    * the grid side is tiny at any data scale.
    */
  def gapFilledCounts(events: DataFrame, duration: String = "1 hour"): DataFrame = {
    val windowUs = durationMicros(duration)
    val sparse = counts(events, duration)
    val grid = sparse
      .groupBy("event_type")
      .agg(min("bucket_us").as("lo"), max("bucket_us").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(windowUs))).as("bucket_us"))
    grid.join(sparse, Seq("event_type", "bucket_us"), "left")
      .na.fill(0L, Seq("n_events"))
  }

  /** The µs width of a tumbling-window duration, parsed with the same
    * interval grammar `window()` uses so the dense grid's `sequence` step
    * and the aggregation's buckets can never disagree. Calendar units
    * (months/years) have no fixed µs width — `window()` rejects them for
    * tumbling windows and so do we.
    */
  private[streaming] def durationMicros(duration: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.fromIntervalString(duration)
    require(iv.months == 0,
      s"gapFilledCounts needs a fixed-length duration (no months/years), got '$duration'")
    val us = Math.addExact(Math.multiplyExact(iv.days.toLong, 86400000000L), iv.microseconds)
    require(us > 0, s"gapFilledCounts duration must be positive, got '$duration'")
    us
  }

  /** The reference's key-presence metric (q01) as a CONTINUOUS monitor:
    * per tumbling window, how many events carried each JSON payload key.
    * `array_distinct` pins the duplicate-key JSON semantics to the q01
    * convention; explode happens before the windowed aggregation so state
    * per open window is one row per (window, key).
    */
  def keyCounts(
      events: DataFrame,
      duration: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    stamped(events, watermark)
      .select(col("ts_micro"),
        explode(array_distinct(graft.operators.JsonKeys.keysOf(col("props"))))
          .as("prop_key"))
      .groupBy(window(col("ts_micro"), duration), col("prop_key"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_micros(col("window.start")).as("bucket_us"),
        col("prop_key"),
        col("n_events"))
}
