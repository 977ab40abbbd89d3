package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.EventCatalogFixture
import graft.operators._
import graft.sources.Tables

/** Oracle-checked queries for the events-verification pipeline tier
  * (SURVEY §2.2-2.9): W1 version select, P7/V1 completeness, U1 key
  * discovery, P5/P6/F4-F6 merged-key counts, and the full 13-column report.
  *
  * Each oracle reimplements the query in DuckDB SQL over the SAME inputs —
  * catalog synthesis text is shared verbatim (see [[EventCatalogFixture]]),
  * JSON access goes through `json_valid` guards because DuckDB throws on
  * malformed JSON where Spark yields null.
  */
object PipelineQueries {
  import EventCatalogFixture._

  val params: VerificationParams = VerificationParams(processDate, eventDate)

  // ---- DuckDB expression helpers -------------------------------------

  /** DuckDB twin of Spark's `get_json_object` (null on malformed JSON). */
  private def djes(c: String, p: String): String =
    s"(CASE WHEN json_valid($c) THEN json_extract_string($c, '$p') END)"

  private def dnullif(e: String): String = s"nullif($e, '')"

  /** Twin of [[Completeness.orgIdExpr]]. */
  private val dOrg: String = "coalesce(" + Seq(
    djes("context", "$.traits.organisation_id"),
    djes("traits", "$.organisation_id"),
    djes("properties", "$.organisation_id"),
    djes("traits", "$.ord_id"),
    djes("properties", "$.meta_data.org_id"),
    djes("properties", "$.org_id"),
    djes("properties", "$.orgId")).map(dnullif).mkString(", ") + ")"

  /** Twin of [[Completeness.projectIdExpr]]. */
  private val dProj: String = "coalesce(" + Seq(
    djes("context", "$.traits.project_id"),
    djes("properties", "$.project_id"),
    djes("properties", "$.meta_data.project_id"),
    djes("traits", "$.project_id")).map(dnullif).mkString(", ") + ")"

  /** Twin of [[Completeness.genericExpr]] — context value wins unless NULL
    * (an empty string from context is kept, no nullif).
    */
  private def dGeneric(p: String): String = {
    val fromCtx = djes("context", "$." + p)
    val fromProps = djes("properties", "$." + p)
    s"(CASE WHEN $fromCtx IS NULL THEN $fromProps ELSE $fromCtx END)"
  }

  private def dValueExpr(p: String): String = p match {
    case "user_id"    => "user_id"
    case "org_id"     => dOrg
    case "project_id" => dProj
    case other        => dGeneric(other)
  }

  private def dKeys(c: String): String =
    s"(CASE WHEN json_valid($c) THEN json_keys($c) END)"

  private def dNestedKeys(c: String, p: String): String =
    s"(CASE WHEN json_valid($c) THEN json_keys(json_extract($c, '$p')) END)"

  /** The 5-extractor key sweep (twin of `JsonKeys.catalogKeyExtractors`). */
  private def dObsKeysSql(rel: String, extraCols: String = ""): String = {
    val prefix = if (extraCols.isEmpty) "" else s"$extraCols, "
    Seq(
      s"SELECT ${prefix}unnest(${dKeys("context")}) AS key FROM $rel",
      s"SELECT ${prefix}unnest(${dKeys("traits")}) FROM $rel",
      s"SELECT ${prefix}unnest(${dKeys("properties")}) FROM $rel",
      s"SELECT ${prefix}unnest(${dNestedKeys("context", "$.traits")}) FROM $rel",
      s"SELECT ${prefix}unnest(${dNestedKeys("properties", "$.meta_data")}) FROM $rel"
    ).mkString(" UNION ALL ")
  }

  private val orgIdInList = params.orgIdentifiers.distinct.map(s => s"'$s'").mkString(", ")
  private val projIdInList = params.projectIdentifiers.distinct.map(s => s"'$s'").mkString(", ")

  /** Merged-keys CASE (twin of `JsonKeys.mergedKeys`, null parity:
    * any null/malformed payload key-array nulls the whole row's key set,
    * `event_verify.py:92`). DuckDB's `||` on lists does NOT propagate NULL,
    * hence the explicit guard.
    */
  private val dMergedSql: String =
    ("CASE WHEN NOT coalesce(json_valid(properties), false) " +
      "OR NOT coalesce(json_valid(context), false) THEN NULL " +
      "ELSE list_distinct(" +
      "(CASE WHEN org_flag THEN ['org_id'] ELSE [] END) " +
      "|| (CASE WHEN proj_flag THEN ['project_id'] ELSE [] END) " +
      "|| list_distinct(json_keys(properties)) " +
      "|| list_distinct(json_keys(context))) " +
      "END")

  // ---- q02: W1 latest-per-group at scale ------------------------------

  /** W1/O2 over real data volume: latest order per customer —
    * rank() over (partitionBy custkey orderBy orderdate desc), rank=1.
    * `rank` (not row_number) keeps date-tied orders, deterministically.
    */
  def latestOrderPerCustomer(spark: SparkSession, dir: String): DataFrame =
    VersionSelect.latestPerGroup(Tables.orders(spark, dir), "o_custkey", "o_orderdate")
      .select("o_custkey", "o_orderkey", "o_totalprice")

  private val q02Oracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |             rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC) AS r
      |      FROM orders)
      |WHERE r = 1""".stripMargin

  // ---- q03: standalone completeness metrics ---------------------------

  private val q03Props = Seq("user_id", "k", "org_id", "project_id", "extra_key")

  /** P7/F9/F10/V1/A3-equivalent/F12: per-(event, property) null-count
    * metrics over the full synthesized catalog (no channel/version filter —
    * that's q06's job). Extraction reads the single-parse
    * [[graft.operators.PayloadShred]] structs (3 payload parses per row,
    * inside whole-stage codegen).
    */
  def completenessMetrics(spark: SparkSession, dir: String): DataFrame = {
    val cat = PayloadShred.withShreds(
      catalogDf(spark, dir), PayloadShred.genericProps(q03Props))
    val wide = PayloadShred.withValueColumns(cat, q03Props, Seq("event_name"))
    val long = Completeness.unpivot(wide, q03Props, Seq("event_name"))
    Completeness.metrics(long, Seq("event_name"))
  }

  private val q03Oracle: String = {
    val arms = q03Props.map(p =>
      s"SELECT event_name, '$p' AS prop_name, ${dValueExpr(p)} AS value FROM cat")
    s"""WITH cat AS (${catalogSql()}),
       |long AS (${arms.mkString(" UNION ALL ")})
       |SELECT event_name, prop_name,
       |  count(*) AS total_records,
       |  count(value) AS value_not_null_count,
       |  count(*) - count(value) AS value_null_count,
       |  (count(*) - count(value)) * 100 / count(*) AS value_null_count_percentage
       |FROM long GROUP BY event_name, prop_name""".stripMargin
  }

  // ---- q04: U1 all-keys discovery --------------------------------------

  /** U1/F2/F3/A4: distinct keys across the 5 extractors — one scan, one
    * parse per payload via the shred structs.
    */
  def allKeysQuery(spark: SparkSession, dir: String): DataFrame =
    JsonKeys.allKeys(
      PayloadShred.withShreds(catalogDf(spark, dir)), PayloadShred.keyExtractors)

  private val q04Oracle: String =
    s"""WITH cat AS (${catalogSql()})
       |SELECT DISTINCT key FROM (${dObsKeysSql("cat")})""".stripMargin

  // ---- q05: merged-key counts (P5/P6/F4-F6/F11/A2/J1) ------------------

  /** The reference's keys-analytics core (`event_verify.py:63-101`) over
    * the whole catalog: observed-identifier rlike flags + merged per-row
    * key arrays + (event, key) counts + per-event totals.
    */
  def mergedKeyCounts(spark: SparkSession, dir: String): DataFrame = {
    // Persist the shredded catalog: the observed-keys collect and the
    // key-count aggregation both read it, so each payload is parsed once
    // per row for the WHOLE query, not once per pass.
    val cat = Stage.cache(PayloadShred.withShreds(catalogDf(spark, dir)))
    // One bounded collect of the observed identifier spellings (q06 and
    // q07's restricted discovery), split into the org and project lists;
    // only keys matching a spelling reach the flags either way.
    val idSpellings = (params.orgIdentifiers ++ params.projectIdentifiers).distinct
    val obsIds = JsonKeys.allKeysBy(cat, PayloadShred.keyExtractors, Seq.empty,
        restrictTo = Some(idSpellings))
      .collect().map(_.getString(0)).toSeq
    def matching(ids: Seq[String]): Seq[String] = obsIds.filter(ids.contains).sorted
    val payloads = Seq(col("context"), col("traits"), col("properties"))
    val orgFlag = KeyPresence.anyKeyPresent(payloads, matching(params.orgIdentifiers))
    val projFlag = KeyPresence.anyKeyPresent(payloads, matching(params.projectIdentifiers))
    val merged = JsonKeys.mergedKeys(
      orgFlag, projFlag,
      array_distinct(PayloadShred.propertiesKeys),
      array_distinct(PayloadShred.contextKeys))
    KeyPresence.keyCounts(cat, merged, "event_name", reuse = false)
      .select("event_name", "exploded_key", "key_count", "total_records")
  }

  private val q05Oracle: String =
    s"""WITH cat AS (${catalogSql()}),
       |obs AS (SELECT DISTINCT key FROM (${dObsKeysSql("cat")})),
       |org_pat AS (SELECT string_agg(key, '|' ORDER BY key) AS pat FROM obs WHERE key IN ($orgIdInList)),
       |proj_pat AS (SELECT string_agg(key, '|' ORDER BY key) AS pat FROM obs WHERE key IN ($projIdInList)),
       |flagged AS (
       |  SELECT c.*,
       |    CASE WHEN o.pat IS NULL THEN false ELSE
       |      (regexp_matches(c.context, o.pat) OR regexp_matches(c.traits, o.pat) OR regexp_matches(c.properties, o.pat)) END AS org_flag,
       |    CASE WHEN p.pat IS NULL THEN false ELSE
       |      (regexp_matches(c.context, p.pat) OR regexp_matches(c.traits, p.pat) OR regexp_matches(c.properties, p.pat)) END AS proj_flag
       |  FROM cat c, org_pat o, proj_pat p),
       |merged AS (SELECT event_name, $dMergedSql AS mk FROM flagged),
       |counts AS (
       |  SELECT event_name, k AS exploded_key, count(*) AS key_count
       |  FROM (SELECT event_name, unnest(mk) AS k FROM merged) GROUP BY 1, 2),
       |totals AS (SELECT event_name, count(*) AS total_records FROM cat GROUP BY 1)
       |SELECT c.event_name, c.exploded_key, c.key_count, t.total_records
       |FROM counts c JOIN totals t USING (event_name)""".stripMargin

  // ---- q06: the full 13-column events-verification report --------------

  def eventsReport(spark: SparkSession, dir: String): DataFrame =
    EventsVerificationPipeline.run(catalogDf(spark, dir), specDf(spark), params)

  private val q06Oracle: String = {
    val props = currentProps(eventDate)
    val valueArms = ("user_id" +: props).map(p =>
      s"SELECT channel, version, event_name, '$p' AS prop_name, ${dValueExpr(p)} AS value FROM cat_f")
    s"""WITH cat AS (${catalogSql()}),
       |spec(channel, version, event_name, release_date, prop_1, prop_2, prop_3) AS ($specValuesSql),
       |latest AS (
       |  SELECT channel, version FROM (
       |    SELECT channel, version, rank() OVER (PARTITION BY channel ORDER BY version DESC) AS r FROM spec)
       |  WHERE r = 1 GROUP BY channel, version),
       |spec_cur AS (SELECT s.* FROM spec s JOIN latest l ON s.channel = l.channel AND s.version = l.version),
       |cat_f AS (
       |  SELECT l.channel, l.version, c.*
       |  FROM cat c JOIN latest l
       |    ON c.client_name = l.channel
       |   AND ${djes("c.context", "$.app.version")} = l.version),
       |spec_pairs AS (
       |  SELECT channel, version, event_name, p AS prop_name
       |  FROM (SELECT channel, version, event_name, unnest([prop_1, prop_2, prop_3]) AS p FROM spec_cur)
       |  WHERE p IS NOT NULL AND p <> '' AND p <> event_name AND p <> 'user_id'
       |    AND p <> channel AND p <> version AND p <> '$eventDate'),
       |value_pairs AS (
       |  SELECT DISTINCT channel, event_name, prop_name FROM (
       |    SELECT channel, event_name, prop_name FROM spec_pairs
       |    UNION ALL SELECT DISTINCT channel, event_name, 'user_id' FROM spec_cur)),
       |obs AS (SELECT DISTINCT channel, key FROM (${dObsKeysSql("cat_f", "channel")})),
       |org_pat AS (SELECT channel, string_agg(key, '|' ORDER BY key) AS pat FROM obs WHERE key IN ($orgIdInList) GROUP BY channel),
       |proj_pat AS (SELECT channel, string_agg(key, '|' ORDER BY key) AS pat FROM obs WHERE key IN ($projIdInList) GROUP BY channel),
       |flagged AS (
       |  SELECT f.*,
       |    CASE WHEN o.pat IS NULL THEN false ELSE
       |      (regexp_matches(f.context, o.pat) OR regexp_matches(f.traits, o.pat) OR regexp_matches(f.properties, o.pat)) END AS org_flag,
       |    CASE WHEN p.pat IS NULL THEN false ELSE
       |      (regexp_matches(f.context, p.pat) OR regexp_matches(f.traits, p.pat) OR regexp_matches(f.properties, p.pat)) END AS proj_flag
       |  FROM cat_f f
       |  LEFT JOIN org_pat o ON f.channel = o.channel
       |  LEFT JOIN proj_pat p ON f.channel = p.channel),
       |merged AS (SELECT channel, event_name, $dMergedSql AS mk FROM flagged),
       |key_counts AS (
       |  SELECT channel, event_name, k AS exploded_key, count(*) AS key_count
       |  FROM (SELECT channel, event_name, unnest(mk) AS k FROM merged) GROUP BY 1, 2, 3),
       |key_metrics AS (
       |  SELECT sp.channel, sp.event_name, sp.prop_name, kc.key_count AS keys_not_null_count
       |  FROM spec_pairs sp
       |  LEFT JOIN key_counts kc
       |    ON sp.channel = kc.channel AND sp.event_name = kc.event_name AND sp.prop_name = kc.exploded_key),
       |value_long AS (${valueArms.mkString(" UNION ALL ")}),
       |value_defined AS (
       |  SELECT v.* FROM value_long v
       |  JOIN value_pairs p ON v.channel = p.channel AND v.event_name = p.event_name AND v.prop_name = p.prop_name),
       |value_metrics AS (
       |  SELECT channel, version, event_name, prop_name,
       |    count(*) AS total_records,
       |    count(value) AS value_not_null_count,
       |    count(*) - count(value) AS value_null_count
       |  FROM value_defined GROUP BY 1, 2, 3, 4)
       |SELECT
       |  vm.prop_name, vm.event_name,
       |  vm.value_null_count,
       |  vm.value_not_null_count,
       |  vm.value_null_count * 100 / vm.total_records AS value_null_count_percentage,
       |  coalesce(km.keys_not_null_count, 0) AS keys_not_null_count,
       |  vm.total_records,
       |  coalesce(vm.total_records - km.keys_not_null_count, 0) AS key_null_count,
       |  coalesce((vm.total_records - km.keys_not_null_count) * 100 / vm.total_records, 0) AS key_null_count_percentage,
       |  '$processDate' AS release_date,
       |  vm.channel AS channel,
       |  vm.version AS version,
       |  '$eventDate' AS event_date
       |FROM value_metrics vm
       |LEFT JOIN key_metrics km
       |  ON vm.channel = km.channel AND vm.event_name = km.event_name AND vm.prop_name = km.prop_name""".stripMargin
  }

  // ---- q07: reference-shaped parity mode (U2/U3 on the oracle path) ----

  /** [[EventsVerificationPipeline.runParity]] — the reference's per-channel
    * driver loop with per-event union-reduce (U2) and per-channel
    * union-reduce (U3). Output-identical to q06 by construction, so it
    * shares q06's oracle — this puts the union-reduce surface under the
    * DuckDB hash compare instead of scalatest only.
    */
  def eventsReportParity(spark: SparkSession, dir: String): DataFrame =
    EventsVerificationPipeline.runParity(catalogDf(spark, dir), specDf(spark), params)

  // ---- q08: S2 CSV spec ingestion on the oracle path -------------------

  /** Deterministic CSV round-trip location for the spec, derived from the
    * working directory (`target/` is build output) so any checkout location
    * works. The oracle SQL reads the same file via DuckDB `read_csv` — both
    * the Spark run and the DuckDB run happen from the same directory.
    */
  val specCsvPath: String = java.nio.file.Paths.get(
    sys.props("user.dir"), "target", "q08_spec_csv", "spec.csv").toString

  /** RFC 4180 field quoting: wrap in double quotes when the value contains
    * a comma, quote, or line break; embedded quotes double. Without this a
    * comma inside a value silently shifts every later column on read-back.
    */
  private def csvField(v: String): String =
    if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  /** Writes the spec fixture as a real CSV file (header; values quoted per
    * RFC 4180 only where needed, so the common case keeps the unquoted
    * shape the reference's spec lives in, `event_verify.py:27-30`).
    */
  def writeSpecCsv(): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(specCsvPath)
    Files.createDirectories(p.getParent)
    val header = "channel,version,event_name,release_date,prop_1,prop_2,prop_3"
    val rows = EventCatalogFixture.specRows.map { r =>
      Seq(r.channel, r.version, r.eventName, r.releaseDate,
        r.p1.getOrElse(""), r.p2.getOrElse(""), r.p3.getOrElse(""))
        .map(csvField).mkString(",")
    }
    Files.write(p, (header +: rows).mkString("\n").getBytes("UTF-8"))
  }

  /** q06 with the spec ingested through S2 (`Tables.csv`: header +
    * inferSchema, `event_verify.py:27-30`) instead of `createDataFrame`.
    * Exercises the stringly-version hazard (SURVEY §2.11(8)): inferSchema
    * types `version` DOUBLE, and the engine's driver-side `toString` must
    * still match the catalog's JSON version strings. Empty CSV cells
    * arrive as nulls, matching the None slots of the typed fixture.
    */
  def eventsReportCsvSpec(spark: SparkSession, dir: String): DataFrame = {
    writeSpecCsv()
    EventsVerificationPipeline.run(
      catalogDf(spark, dir), Tables.csv(spark, specCsvPath), params)
  }

  /** q06's oracle with the spec CTE swapped for `read_csv` of the same
    * file Spark ingested; `version` is cast back to string the same way
    * the engine stringifies it (DuckDB `CAST(2.1 AS STRING)` = `'2.1'` =
    * Scala `2.1.toString`).
    */
  private val q08Oracle: String = {
    val swapped = q06Oracle.replace(
      s"spec(channel, version, event_name, release_date, prop_1, prop_2, prop_3) AS ($specValuesSql)",
      "spec AS (SELECT channel, CAST(version AS STRING) AS version, event_name, " +
        s"CAST(release_date AS STRING) AS release_date, prop_1, prop_2, prop_3 " +
        s"FROM read_csv('$specCsvPath', header = true))")
    // Drift guard: if q06Oracle's spec CTE text ever changes shape, the
    // replace above silently no-ops and q08 would vacuously validate the
    // VALUES spec instead of the CSV path. Fail loudly instead.
    require(swapped != q06Oracle,
      "q08Oracle: spec CTE substring not found in q06Oracle — CSV swap did not apply")
    swapped
  }

  // ---- registry --------------------------------------------------------

  // ---- q63: table maintenance (compaction) -----------------------------

  /** q63 — the maintenance path driver-exercised, HASH-CHECKED against
    * the oracle: simulates a streaming-ingest mess — 48 tiny files per
    * `lang` partition of `documents` — then
    * [[graft.sources.Compaction.compactPartitionedParquet]] rewrites each
    * leaf to byte-sized files sorted by doc_id (row-group pruning on the
    * id afterwards), and returns the READ-BACK of the compacted tree.
    * Compaction is definitionally a no-op on the data, so the read-back
    * must hash-match `SELECT * FROM documents` — the oracle now checks
    * the data outcome cell for cell (rounds 1–10 carried this as the
    * registry's only rows-only entry). The FILESYSTEM outcome — the part
    * no SQL oracle can see — stays require()d here (partition structure
    * preserved, every partition collapses to fewer files) and pinned in
    * `SourcesSinksSpec` (file counts, sort order, pruning).
    */
  def compactionMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft-compact-").toString
    val frag = s"$work/fragmented"
    val out = s"$work/compacted"
    Tables.documents(spark, dir)
      .repartition(48)
      .write.partitionBy("lang").mode("overwrite").parquet(frag)
    val written = graft.sources.Compaction.compactPartitionedParquet(
      spark, frag, out, targetFileBytes = 4L << 20, sortCols = Seq("doc_id"))
    require(written.nonEmpty && written.keys.forall(_.startsWith("lang=")),
      s"partition structure lost: ${written.keys}")
    require(written.values.forall(_ < 48),
      s"compaction must shrink the 48-file mess per partition: $written")
    spark.read.parquet(out)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** q63's DuckDB twin: compaction must not create, drop, or alter a
    * single row, so the compacted tree reads back as exactly the source
    * table. (Row/column order are normalized by the driver's compare.)
    */
  private val q63Oracle: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents"

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q02_latest_order", latestOrderPerCustomer, q02Oracle),
    QuerySpec("q03_completeness", completenessMetrics, q03Oracle),
    QuerySpec("q04_all_keys", allKeysQuery, q04Oracle),
    QuerySpec("q05_merged_key_counts", mergedKeyCounts, q05Oracle),
    QuerySpec("q06_events_report", eventsReport, q06Oracle),
    // union-reduce plan growth (channel-capped) vs the single-plan report
    QuerySpec("q07_events_report_parity", eventsReportParity, q06Oracle,
      contrastOf = Some("q06_events_report")),
    QuerySpec("q08_events_report_csv_spec", eventsReportCsvSpec, q08Oracle),
    QuerySpec("q63_compact_maintenance", compactionMaintenance, q63Oracle)
  )
}
