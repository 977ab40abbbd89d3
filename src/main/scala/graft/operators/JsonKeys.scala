package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** JSON key enumeration over string-typed JSON payload columns.
  *
  * Re-expresses the reference's key-extraction branches
  * (`event_verify.py:51-61`): top-level `json_object_keys`, plus the two
  * nested variants that first carve out a sub-object with
  * `get_json_object` (`$.traits` from `context`, `$.meta_data` from
  * `properties`) and enumerate its keys.
  *
  * All of this is built-in Catalyst expressions (`JsonObjectKeys`,
  * `GetJsonObject`, `Explode`) — fully codegen/pushdown friendly, no UDFs.
  */
object JsonKeys {

  private val emptyStringArray: Column = array().cast(ArrayType(StringType))

  /** Keys of a top-level JSON object column (null-safe: null/malformed → null array). */
  def keysOf(col: Column): Column = json_object_keys(col)

  /** Keys of a nested object at `path` inside JSON string `col`
    * (`event_verify.py:54-61`). */
  def nestedKeysOf(col: Column, path: String): Column =
    json_object_keys(get_json_object(col, path))

  /** One row per distinct key observed across the given extractors, i.e. the
    * reference's 5-way union + distinct (`event_verify.py:51-62`).
    *
    * Implementation note (scale): rather than N separate scans unioned (the
    * reference re-scans the cached catalog 5×), this produces ONE scan that
    * concatenates the per-payload key arrays and explodes once; `distinct`
    * is then a single hash-aggregate shuffle on the key column.
    *
    * An empty extractor list yields an empty (0-row) `key` frame rather than
    * the zero-arg `concat()` analysis error.
    */
  def allKeys(df: DataFrame, extractors: Seq[Column]): DataFrame =
    allKeysBy(df, extractors, Seq.empty)

  /** [[allKeys]] with extra grouping columns carried through (e.g. the
    * channel), so multi-tenant key discovery is one scan instead of one scan
    * per group. Output: (groupCols…, key), distinct.
    *
    * `restrictTo` narrows the output to the given key spellings via
    * `array_intersect` BEFORE the explode: non-matching keys are never
    * generated, the distinct shuffle carries at most |restrictTo| × groups
    * rows, and a driver `.collect()` on the result is provably bounded.
    * (Deliberately NOT a `Filter` on the exploded column: a Filter between
    * this Generate and the distinct Aggregate trips a Spark 4.1 column
    * pruning bug — generator nested-column aliasing drops the group columns
    * from the Generate child and execution dies with
    * INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND.)
    */
  def allKeysBy(
      df: DataFrame,
      extractors: Seq[Column],
      groupCols: Seq[String],
      restrictTo: Option[Seq[String]] = None): DataFrame = {
    val group = groupCols.map(col)
    if (extractors.isEmpty)
      return df
        .select(group :+ lit(null).cast(StringType).as("key"): _*)
        .filter(lit(false))
    val arrays = extractors.map(e => coalesce(e, emptyStringArray))
    val all = array_distinct(concat(arrays: _*))
    // an empty restriction list must mean "no keys", not a zero-arg array()
    // literal (ArrayType(NullType)) that fails array_intersect's type check
    val keys = restrictTo.fold(all) {
      case Nil => emptyStringArray
      case ids => array_intersect(all, array(ids.map(lit): _*))
    }
    df.select(group :+ explode(keys).as("key"): _*).distinct()
  }

  /** The reference's exact 5 extractors for the event-catalog schema. */
  def catalogKeyExtractors(): Seq[Column] = Seq(
    keysOf(col("context")),
    keysOf(col("traits")),
    keysOf(col("properties")),
    nestedKeysOf(col("context"), "$.traits"),
    nestedKeysOf(col("properties"), "$.meta_data")
  )

  /** Per-row merged key array (`event_verify.py:77-93`): org/project flag
    * arrays ++ per-payload key arrays, deduplicated.
    *
    * `array()` in Scala is `ArrayType(NullType)`; the cast to
    * `array<string>` is required for `concat` to typecheck (SURVEY §2.8 F4).
    *
    * Null semantics (parity): a null per-payload key array (null/malformed
    * JSON payload) null-propagates through `concat` exactly like the
    * reference (`event_verify.py:92`) — the whole row contributes zero keys,
    * INCLUDING the org/project flag keys.
    */
  def mergedKeys(
      orgFlag: Column,
      projectFlag: Column,
      propertiesKeys: Column,
      contextKeys: Column): Column =
    array_distinct(concat(
      when(orgFlag, array(lit("org_id"))).otherwise(emptyStringArray),
      when(projectFlag, array(lit("project_id"))).otherwise(emptyStringArray),
      propertiesKeys,
      contextKeys
    ))
}
