package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Deterministic event-catalog + spec fixture synthesized from the
  * read-only `events` test table (`TESTDATA.md`), shaped like the
  * reference's inputs (FIXTURES.md §A1/§A2).
  *
  * Every synthesis expression below is written in the shared subset of
  * Spark SQL and DuckDB SQL (`CASE`, `%`, `||`, `CAST(... AS STRING)`), so
  * the SAME text builds the Spark-side DataFrame (via `selectExpr`) and the
  * DuckDB-oracle CTE — the two engines are guaranteed to see identical
  * inputs.
  *
  * Coverage (per FIXTURES.md): nested `$.app.version`; all 7 org-id
  * spellings of the coalesce chain (`event_verify.py:159`); all 4
  * project-id slots (`:164`); empty-string values (exercise `nullif`);
  * null and malformed payloads (null-propagation through the merged-keys
  * concat, `:92`); a key that substring-collides with an identifier
  * (`org_id_legacy`, the rlike containment quirk SURVEY §2.11(3)); 2
  * channels × 2 versions.
  */
object EventCatalogFixture {

  val clientNameSql: String =
    "CASE WHEN user_id % 2 = 0 THEN 'web' ELSE 'mobile' END"

  val userIdSql: String =
    "CASE WHEN user_id % 13 = 0 THEN CAST(NULL AS STRING) ELSE CAST(user_id AS STRING) END"

  val contextSql: String =
    """CASE WHEN event_id % 23 = 0 THEN CAST(NULL AS STRING)
      |     WHEN event_id % 23 = 1 THEN 'not-json'
      |     ELSE '{"app": {"version": "' || (CASE WHEN user_id % 3 = 0 THEN '1.0' ELSE '2.1' END) || '"}'
      |       || (CASE WHEN event_id % 5 = 0 THEN ', "traits": {"organisation_id": "org' || CAST(user_id % 7 AS STRING) || '"' || (CASE WHEN event_id % 10 = 0 THEN ', "project_id": "cp' || CAST(user_id % 4 AS STRING) || '"' ELSE '' END) || '}' ELSE '' END)
      |       || (CASE WHEN event_id % 4 = 0 THEN ', "k": "ctx' || CAST(event_id % 6 AS STRING) || '"' ELSE '' END)
      |       || (CASE WHEN event_id % 17 = 0 THEN ', "extra_key": "x' || CAST(event_id % 3 AS STRING) || '"' ELSE '' END)
      |       || '}'
      |END""".stripMargin

  val traitsSql: String =
    """CASE WHEN event_id % 7 = 0 THEN CAST(NULL AS STRING)
      |     WHEN event_id % 7 = 1 THEN '{"organisation_id": "torg' || CAST(user_id % 5 AS STRING) || '"}'
      |     WHEN event_id % 7 = 2 THEN '{"ord_id": ""}'
      |     WHEN event_id % 7 = 3 THEN '{"ord_id": "tord' || CAST(user_id % 3 AS STRING) || '"}'
      |     WHEN event_id % 7 = 4 THEN '{"project_id": "tp' || CAST(user_id % 4 AS STRING) || '"}'
      |     ELSE '{"plan": "free"}'
      |END""".stripMargin

  val propertiesSql: String =
    """CASE WHEN event_id % 11 = 0 THEN 'oops'
      |     WHEN event_id % 11 = 1 THEN '{"k": ' || CAST(event_id % 100 AS STRING) || ', "meta_data": {"org_id": "mo' || CAST(user_id % 6 AS STRING) || '", "project_id": "mp' || CAST(user_id % 3 AS STRING) || '"}}'
      |     WHEN event_id % 11 = 2 THEN '{"k": ' || CAST(event_id % 100 AS STRING) || ', "org_id": "po' || CAST(user_id % 5 AS STRING) || '"}'
      |     WHEN event_id % 11 = 3 THEN '{"orgId": "poc' || CAST(user_id % 5 AS STRING) || '", "org_id_legacy": "zz"}'
      |     WHEN event_id % 11 = 4 THEN '{"organisation_id": "", "project_id": "pp' || CAST(user_id % 4 AS STRING) || '"}'
      |     ELSE props
      |END""".stripMargin

  private val selectList: Seq[(String, String)] = Seq(
    clientNameSql -> "client_name",
    "event_type" -> "event_name",
    userIdSql -> "user_id",
    contextSql -> "context",
    traitsSql -> "traits",
    propertiesSql -> "properties")

  /** The synthesized catalog as a Spark DataFrame. The events parquet is a
    * single small split, so repartition first (the reference's own S5 knob,
    * `event_verify.py:23`) — otherwise the JSON-heavy synthesis and
    * extraction run on one core of local[32].
    */
  def catalogDf(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .selectExpr(selectList.map { case (e, n) => s"($e) AS $n" }: _*)

  /** The identical catalog as a DuckDB CTE body over the `events` view.
    * Flattened to one line: callers embed this inside `stripMargin` strings,
    * which would otherwise eat the leading `|` of line-initial `||`.
    */
  def catalogSql(eventsRel: String = "events"): String =
    ("SELECT " + selectList.map { case (e, n) => s"($e) AS $n" }.mkString(", ") +
      s" FROM $eventsRel").replaceAll("\\s*\\R\\s*", " ")

  /** Wide sparse spec matrix (FIXTURES.md §A2): cells carry property names.
    * The `signup` row's `web` cell exercises the value-equals-channel
    * exclusion quirk (`event_verify.py:110`); `old_k` rows sit on stale
    * versions and must be dropped by the W1 latest-version pick.
    */
  final case class SpecFixtureRow(
      channel: String, version: String, eventName: String, releaseDate: String,
      p1: Option[String], p2: Option[String], p3: Option[String])

  val specRows: Seq[SpecFixtureRow] = Seq(
    SpecFixtureRow("web", "2.1", "click", "2024-05-20", Some("k"), Some("org_id"), Some("project_id")),
    SpecFixtureRow("web", "2.1", "view", "2024-05-20", Some("k"), Some("extra_key"), None),
    SpecFixtureRow("web", "2.1", "purchase", "2024-05-20", Some("org_id"), Some("missing_prop"), None),
    // the comma in the event name pins RFC-4180 quoting through the q08 CSV
    // round-trip; a prop name may carry one too (json_shred's path rule
    // rejects it, so it reads through PayloadShred's get_json_object fallback)
    SpecFixtureRow("web", "2.1", "checkout, retry", "2024-05-20", Some("k"), None, None),
    SpecFixtureRow("web", "2.1", "signup", "2024-05-20", Some("k"), Some("web"), None),
    SpecFixtureRow("web", "1.0", "click", "2024-04-01", Some("old_k"), None, None),
    SpecFixtureRow("mobile", "2.1", "click", "2024-05-21", Some("k"), Some("org_id"), None),
    SpecFixtureRow("mobile", "2.1", "error", "2024-05-21", Some("k"), Some("project_id"), Some("extra_key")),
    SpecFixtureRow("mobile", "1.0", "error", "2024-04-02", Some("old_k"), None, None))

  def specDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(specRows)
      .toDF("channel", "version", "event_name", "release_date",
        "prop_1", "prop_2", "prop_3")

  /** The identical spec as a DuckDB VALUES relation. */
  def specValuesSql: String = {
    def lit(v: Option[String]): String = v.map(s => s"'$s'").getOrElse("CAST(NULL AS STRING)")
    val rows = specRows.map(r =>
      s"('${r.channel}', '${r.version}', '${r.eventName}', '${r.releaseDate}', ${lit(r.p1)}, ${lit(r.p2)}, ${lit(r.p3)})")
    s"(VALUES ${rows.mkString(", ")})"
  }

  /** Distinct property names of the LATEST spec versions after the
    * reference's exclusion rules — drives the oracle's per-property arms.
    * (The engine derives the same list at runtime via `SpecParse`.)
    */
  def currentProps(eventDate: String): Seq[String] = {
    val latest = specRows.groupBy(_.channel).values.flatMap { rs =>
      val v = rs.map(_.version).max
      rs.filter(_.version == v)
    }
    latest.toSeq.flatMap { r =>
      Seq(r.p1, r.p2, r.p3).flatten.filter(v =>
        v.nonEmpty && v != r.eventName && v != "user_id" &&
          v != r.channel && v != r.version && v != eventDate)
    }.distinct
  }

  val processDate = "2024-06-01"
  val eventDate = "2024-06-01"
}
