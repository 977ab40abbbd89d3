package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Dedup corpus synthesized from the read-only `documents` table: the
  * originals plus injected exact duplicates (every 10th doc) and near
  * duplicates (every 7th doc with two junk tokens appended). Written in the
  * shared Spark/DuckDB SQL dialect so engine and oracle see identical
  * inputs (same pattern as [[EventCatalogFixture]]).
  */
object DocumentsFixture {

  // Additive offsets are collision-free here ONLY under the documented id
  // assumption: every corpus this fixture ever sees keeps per-replica
  // doc_id spans < 10000 (testdata spans ≤5000 ids; the replica tool
  // spaces replicas 1M apart). A contiguous-id corpus larger than the
  // offset would collide — [[gopherArms]] uses the injective
  // multiplicative key space for that reason; these offsets stay because
  // recorded artifacts and specs pin the +10000/+20000 injected ids.
  private val arms = Seq(
    "SELECT doc_id, text, lang, source FROM %s",
    "SELECT doc_id + 10000, text, lang, source FROM %s WHERE doc_id % 10 = 0",
    "SELECT doc_id + 20000, text || ' zz9 qq8', lang, source FROM %s WHERE doc_id % 7 = 0")

  /** The Spark side of a fixture: each SQL arm (`%s` = `base`, registered
    * as the temp view `view`) run on its own and combined with
    * `Dataset.union` (positional, like the oracle's `UNION ALL`), then
    * round-robined to default parallelism.
    *
    * Why not `spark.sql` over the `*Sql` string: SQL parses `a UNION ALL b
    * UNION ALL c` into NESTED binary unions, and every later
    * `Dataset.union` over a frame derived from it flattens the whole plan
    * (`combineUnions`), so a cached frame derived from the fixture no
    * longer matches its own cache entry and is recomputed (q41 read 0 of
    * its 2 shingle caches). A `Dataset.union` chain is already flat.
    *
    * Why the repartition: the corpus is one tiny parquet split — without
    * the reference's S5 repartition (`event_verify.py:23`) every downstream
    * text operator runs on ≤3 of local[32]'s cores.
    */
  private[fixtures] def unionArms(base: DataFrame, view: String, arms: Seq[String]): DataFrame = {
    val spark = base.sparkSession
    base.createOrReplaceTempView(view)
    arms.map(arm => spark.sql(arm.replace("%s", view))).reduce(_ union _)
      .repartition(spark.sparkContext.defaultParallelism)
  }

  def corpusDf(spark: SparkSession, dir: String): DataFrame =
    unionArms(Tables.documents(spark, dir), "__docs_fixture", arms)

  def corpusSql(rel: String = "documents"): String =
    arms.map(_.replace("%s", rel)).mkString(" UNION ALL ")

  /** The duplicate-injected corpus re-shaped into MULTI-LINE documents for
    * the line-level operators: the synthetic texts carry no newlines, so
    * every ` a ` separator becomes one (both `replace` and `chr` live in
    * the shared Spark/DuckDB dialect). The injected duplicate docs then
    * duplicate every one of their lines corpus-wide, and the word-soup
    * chunks between separators supply natural repeats.
    */
  def linesCorpusSql(rel: String = "documents"): String =
    s"SELECT doc_id, replace(text, ' a ', chr(10)) AS text, lang, source " +
      s"FROM (${corpusSql(rel)})"

  def linesCorpusDf(spark: SparkSession, dir: String): DataFrame =
    corpusDf(spark, dir)
      .selectExpr("doc_id", "replace(text, ' a ', chr(10)) AS text", "lang", "source")

  /** Quality-rule corpus for the Gopher-style filter (q74): the synthetic
    * docs are single-line word soup, so each rule's failure mode is
    * injected by its own arm — bullet-led lines, symbol runs, a truncated
    * tail under the word-count floor, ellipsis line endings, and a
    * digit-token flood that sinks the alphabetic-word ratio. Same shared
    * Spark/DuckDB dialect as every fixture (replace/chr/repeat/substr only).
    *
    * Key space: `doc_id * 10 + arm` rather than additive offsets — an
    * additive `+ 50000` collides with base ids on any id-CONTIGUOUS
    * corpus bigger than the offset (the r13 advisor find: a 100×-scale
    * run with contiguous ids would silently duplicate keys, and since the
    * oracle mirrors the fixture SQL the gate could never flag it). The
    * multiplicative form is injective for ANY non-negative id
    * distribution: arm index lives in the ones digit, base ids in the
    * rest. ([[arms]]/[[uniArms]] keep their additive offsets: their
    * injected doc_ids are pinned by recorded artifacts and specs, and the
    * replica tool spaces replica id spans 1M apart with ≤5k ids each, so
    * no generated corpus can collide — the assumption is documented
    * there.)
    */
  private val gopherArms = Seq(
    "SELECT doc_id * 10 AS doc_id, text FROM %s",
    // bullet-structured: every ' a ' separator becomes a newline + '- '
    "SELECT doc_id * 10 + 1 AS doc_id, replace(text, ' a ', chr(10) || '- ') AS text " +
      "FROM %s WHERE doc_id % 7 = 0",
    // symbol runs: hash/ellipsis mass pushes symbol-to-word past the cap
    "SELECT doc_id * 10 + 2 AS doc_id, text || ' ' || repeat('# ... ', 12) || '…' AS text " +
      "FROM %s WHERE doc_id % 13 = 0",
    // truncated: a handful of words, under the word-count floor
    "SELECT doc_id * 10 + 3 AS doc_id, substr(text, 1, 30) AS text " +
      "FROM %s WHERE doc_id % 17 = 0",
    // ellipsis line-ends: every ' the ' becomes '...' + a newline
    "SELECT doc_id * 10 + 4 AS doc_id, replace(text, ' the ', '...' || chr(10)) AS text " +
      "FROM %s WHERE doc_id % 19 = 0",
    // digit flood: 80 numeric tokens sink the alphabetic-word ratio
    "SELECT doc_id * 10 + 5 AS doc_id, text || ' ' || repeat('42 ', 80) AS text " +
      "FROM %s WHERE doc_id % 23 = 0")

  def gopherCorpusSql(rel: String = "documents"): String =
    gopherArms.map(_.replace("%s", rel)).mkString(" UNION ALL ")

  def gopherCorpusDf(spark: SparkSession, dir: String): DataFrame =
    unionArms(Tables.documents(spark, dir), "__docs_fixture", gopherArms)

  /** Unicode-hostile corpus for the normalization operator (q62): the
    * synthetic docs are pure ASCII, so the interesting inputs are injected
    * — decomposed accents (e + U+0301), zero-width space/non-joiner, word
    * joiner, a BOM tail, and Latin-1-mojibake smart quotes with a
    * replacement character. The unicode payloads ride INSIDE the SQL
    * string literals as raw UTF-8 (written as Scala escapes here), so both
    * engines parse byte-identical text — chr()/char() differ cross-engine
    * and never appear.
    */
  private val uniArms = Seq(
    "SELECT doc_id, text FROM %s",
    // decomposed e-acute, ZWSP, ZWNJ, word joiner, BOM tail
    "SELECT doc_id + 30000, 'Café ​split‌words⁠ ' || text || '﻿' FROM %s WHERE doc_id % 5 = 0",
    // mojibake: naÃ¯ve + â€™ â€œ quotes + U+FFFD, plus a precomposed é
    "SELECT doc_id + 40000, 'naÃ¯ve â€™quoteâ€œ café bad:ï¿½ ' || text FROM %s WHERE doc_id % 11 = 0")

  def unicodeCorpusSql(rel: String = "documents"): String =
    uniArms.map(_.replace("%s", rel)).mkString(" UNION ALL ")

  def unicodeCorpusDf(spark: SparkSession, dir: String): DataFrame =
    unionArms(Tables.documents(spark, dir), "__docs_fixture", uniArms)
}
