package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One defined (event, property) pair from the wide sparse spec matrix. */
case class SpecPair(channel: String, version: String, eventName: String, propName: String)

/** Parsing of the defined-events spec — the reference's wide sparse matrix
  * whose cell VALUES (not column names) carry the property schema
  * (SURVEY §1.2, `event_verify.py:106-119`).
  *
  * The spec is a tiny human-maintained CSV, so it is collected once to the
  * driver and flattened there (the reference collects it per channel and
  * per event; we collect once).
  */
object SpecParse {
  private val DropCols = Set("rank", "release_date") // helper columns, never cells

  /** Flatten collected wide spec rows (already filtered to one channel's
    * current version) into pairs, with the reference's exclusion semantics
    * (`event_verify.py:109-111`): a cell contributes unless it is
    * null/empty, equals the row's `event_name`, equals the literal
    * `"user_id"`, equals the channel name, equals the current version, or
    * equals the event-date parameter. (Python truthiness also drops empty
    * strings; numeric 0 cells would be dropped too — we treat cells as
    * strings, so only null/empty are dropped on that account.)
    *
    * The reference's `prop_name != rank` term compares against an imported
    * FUNCTION OBJECT — an always-true no-op (SURVEY §2.11(1)); its intent
    * (exclude the rank helper column) is honored by dropping the
    * `rank`/`release_date` columns before flattening
    * (`event_verify.py:103-104`).
    *
    * Duplicate cells are kept (the reference appends without dedup); pair
    * dedup is a caller decision (the value-completeness path dedups via
    * column overwrite, the key path does not — see the pipeline).
    */
  def pairs(
      rows: Seq[Row],
      channel: String,
      version: String,
      eventDate: String): Seq[SpecPair] = {
    rows.flatMap { row =>
      val eventName = Option(row.getAs[Any]("event_name")).map(_.toString).orNull
      val fields = row.schema.fieldNames.filterNot(DropCols.contains)
      fields.toSeq.flatMap { f =>
        Option(row.getAs[Any](f)).map(_.toString) match {
          case Some(v)
              if v.nonEmpty && v != eventName && v != "user_id" &&
                v != channel && v != version && v != eventDate =>
            Some(SpecPair(channel, version, eventName, v))
          case _ => None
        }
      }
    }
  }

  /** S3 — local-collection source with explicit schema
    * (`event_verify.py:113-119`): pairs back into a DataFrame.
    */
  def pairsDf(spark: SparkSession, pairs: Seq[SpecPair]): DataFrame = {
    val schema = StructType(Seq(
      StructField("channel", StringType),
      StructField("version", StringType),
      StructField("event_name", StringType),
      StructField("prop_name", StringType)))
    val rows = pairs.map(p => Row(p.channel, p.version, p.eventName, p.propName))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
