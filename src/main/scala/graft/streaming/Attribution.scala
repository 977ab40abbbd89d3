package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-interval (range) join: attribute each click to the views the same
  * user made in the preceding `window` — the equi+range join shape Spark
  * has no dedicated operator for, expressed the Spark-first way as ONE
  * function, [[attribution]]:
  *
  *  - **Static frames** (`attribution(events, events)`): an equi-join on
  *    `user_id` with the range predicate as a join condition; the analyzer
  *    drops the watermarks (`EliminateEventTimeWatermark`). The equi key
  *    carries the shuffle (hash join / sort-merge on user_id — never a
  *    cartesian); the range predicate evaluates inside the matched group.
  *    At 100 TB this scales with the per-user event count, not the corpus.
  *  - **Streams**: the canonical watermarked stream-stream inner join —
  *    both sides buffered in state, the event-time bound
  *    (`view_time <= click_time <= view_time + window`) lets Spark evict
  *    a buffered view once the click-side watermark passes
  *    `view_time + window`, so state is bounded by the join window.
  *
  * `ts` is long ns (repo convention); output times are µs.
  */
object Attribution {

  private def side(
      events: DataFrame, eventType: String, outPrefix: String, watermark: String): DataFrame =
    events
      .filter(col("event_type") === eventType)
      .select(
        col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as(s"${outPrefix}_time"))
      .withWatermark(s"${outPrefix}_time", watermark)

  /** One row per (view, click) pair of the same user with
    * `view_time < click_time <= view_time + window`, views drawn from
    * `views` and clicks from `clicks` (typically the same frame, or two
    * filters over one source stream). Strict lower bound: a click
    * simultaneous with a view is not attributed to it. On streams, state
    * for a view evicts once the click watermark passes `view_time + window`.
    *
    * Both sides usually derive from the SAME events frame, so the join is a
    * self-join: alias each side and join on qualified columns. Without the
    * aliases, `views("user_id") === clicks("user_id")` resolves both
    * attributes against the common lineage and Spark logs a "trivially true
    * equals predicate" warning per construction, leaning on dataset-id
    * disambiguation instead of expressing the two sides explicitly.
    */
  def attribution(
      views: DataFrame, clicks: DataFrame,
      window: String = "1 hour", watermark: String = "30 minutes"): DataFrame =
    side(views, "view", "view", watermark).as("v")
      .join(side(clicks, "click", "click", watermark).as("c"),
        col("v.user_id") === col("c.user_id") &&
          col("c.click_time") > col("v.view_time") &&
          col("c.click_time") <= col("v.view_time") + expr(s"INTERVAL $window"))
      .select(col("v.user_id"),
        unix_micros(col("v.view_time")).as("view_us"),
        unix_micros(col("c.click_time")).as("click_us"))

  /** As-of join: each click matched to the LATEST preceding view within
    * the window. The rank orders by `view_us DESC` only: two views of one
    * user in the same microsecond produce IDENTICAL output tuples here, so
    * either rank-1 pick yields the same row — but a caller extending the
    * output with a per-view column must add that column as a tiebreak or
    * the pick becomes nondeterministic. Built as the interval join + a
    * rank-1 window per click, which Spark lowers to a WindowGroupLimit —
    * the bounded per-group form, not a full sort of all pairs.
    */
  def asOfBatch(events: DataFrame, window: String = "1 hour"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "click_us").orderBy(desc("view_us"))
    attribution(events, events, window)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("user_id", "click_us", "view_us")
  }
}
