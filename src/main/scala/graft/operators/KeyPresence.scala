package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Stage

/** Key-presence analytics: for each (event, key), how many records carry the
  * key — the core of the reference's entry point 2
  * (`event_verify.py:44-45,99-101`).
  */
object KeyPresence {

  /** Explode a per-row key array and count occurrences per (key, event)
    * (`event_verify.py:99-100`), then join per-event totals
    * (`event_verify.py:101`).
    *
    * Scale notes:
    *  - both aggregates derive from ONE narrow (event, keys) projection; with
    *    `reuse = true` (default) that projection is cached
    *    ([[graft.Stage.cache]]), so the source parquet is scanned once — at 100 TB
    *    the second full scan the round-1 shape paid is gone, at the cost of
    *    spilling the 2-column projection. With `reuse = false` Spark scans
    *    the (column-pruned) source twice but holds nothing.
    *  - the exploded frame is aggregated immediately, so Catalyst plans a
    *    partial (map-side) aggregate before the shuffle — the shuffle volume
    *    is #distinct (key, event) pairs, not #exploded rows;
    *  - the totals side is tiny post-aggregation → broadcast-hash join, no
    *    second shuffle of the big side.
    *  - the reference's dead `row_number` window (`event_verify.py:95-99`,
    *    SURVEY §2.11(4)) is intentionally omitted: its output was unused and
    *    it forced a full sort+shuffle per event partition.
    */
  def keyCounts(
      df: DataFrame,
      mergedKeysCol: Column,
      eventCol: String = "event_name",
      reuse: Boolean = true): DataFrame = {
    val projected = df.select(col(eventCol), mergedKeysCol.as("__keys"))
    val base =
      if (reuse) Stage.cache(projected) else projected
    val counts = base
      .select(col(eventCol), explode(col("__keys")).as("exploded_key"))
      .groupBy("exploded_key", eventCol)
      .agg(count(lit(1)).as("key_count"))
    val totals = base.groupBy(eventCol).agg(count(lit(1)).as("total_records"))
    counts.join(broadcast(totals), Seq(eventCol))
  }

  /** The reference's substring-containment flag (`event_verify.py:67-76`):
    * raw JSON text `rlike` an alternation of identifier spellings.
    *
    * Parity keeps the unanchored-substring semantics (SURVEY §2.11(3)) but
    * guards the empty-list case — the reference's `"|".join([])` yields a
    * regex that matches every row; here an empty identifier list is `false`.
    *
    * Null payloads follow SQL three-valued logic exactly as the reference
    * does: `NULL rlike p` is NULL, `NULL OR true` is true, and a NULL flag
    * falls through `when(...)` to the `otherwise` branch.
    */
  def anyKeyPresent(payloads: Seq[Column], identifiers: Seq[String]): Column =
    if (identifiers.isEmpty) lit(false)
    else {
      val pattern = identifiers.mkString("|")
      payloads.map(_.rlike(pattern)).reduce(_ || _)
    }
}
