package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.{DocumentsFixture, EmbeddingsFixture}
import graft.llm.{Chunking, Classifier, Contamination, Dedup, LanguageModel, Similarity, TextStats}
import graft.operators.RangeJoin
import graft.sources.Tables

/** Oracle-checked queries for the LLM-training-data tier: text analysis,
  * deduplication, and similarity search (the brief's first-class extension
  * components). DuckDB twins mirror every Spark expression 1:1 — including
  * SimHash, whose registered variant uses the md5-hex-digit-parity bit hash
  * precisely so an exact SQL twin exists (the xxhash64 default variant
  * stays property-tested).
  */
object LlmQueries {

  // ---- DuckDB twins of the TextStats/Dedup expressions -----------------

  /** tokens of `text` (must mirror [[TextStats.tokens]]). */
  private val dToks =
    "(CASE WHEN len(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END)"

  private def dShingles(toks: String, n: Int): String =
    s"(CASE WHEN len($toks) < $n THEN [array_to_string($toks, ' ')] " +
      s"ELSE list_distinct(list_transform(range(1, len($toks) - ${n - 2}), " +
      s"i -> array_to_string(list_slice($toks, i, i + ${n - 1}), ' '))) END)"

  private def dWordHits(toks: String, words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($toks, t -> list_contains($lst, t)))"
  }

  private def dMinHash(shingles: String, seed: Int): String =
    s"list_min(list_transform($shingles, s -> md5('$seed:' || s)))"

  private val dJaccard =
    "CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))"

  /** Shared CTE block `t, h, scored`: per-doc content hash, quality score,
    * and predicted language over relation `src(doc_id, text)` — the ONE SQL
    * mirror of [[TextStats.contentFingerprint]]/[[TextStats.qualityScore]]/
    * [[TextStats.langId]], reused by every oracle that scores documents
    * (q20, q29) so the mirror can't drift per query.
    */
  private def dScoredCtes(src: String): String = {
    val markers = TextStats.defaultLangMarkers
    val langs = markers.map(_._1)
    val hits = markers.map { case (l, ws) => s"${dWordHits("toks", ws)} AS h_$l" }
    val allZero = markers.map { case (l, _) => s"h_$l = 0" }.mkString(" AND ")
    val chain = langs.dropRight(1).zipWithIndex.foldRight(s"'${langs.last}'") {
      case ((l, i), acc) =>
        val later = langs.drop(i + 1).map(o => s"h_$l >= h_$o").mkString(" AND ")
        s"CASE WHEN $later THEN '$l' ELSE $acc END"
    }
    val stop = dWordHits("toks", TextStats.enStopwords)
    s"""t AS (SELECT doc_id, text, $dToks AS toks FROM $src),
       |h AS (SELECT *, ${hits.mkString(", ")},
       |  (len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g'))) AS punct_cnt,
       |  $stop AS stop_cnt FROM t),
       |scored AS (
       |  SELECT doc_id, md5(trim(lower(text))) AS content_hash,
       |    0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
       |      + 0.3 * (1.0 - CAST(punct_cnt AS DOUBLE) / CAST(len(text) AS DOUBLE))
       |      + 0.3 * least(1.0, CAST(stop_cnt AS DOUBLE) * 5.0 / CAST(len(toks) AS DOUBLE)) AS quality,
       |    CASE WHEN $allZero THEN 'und' ELSE $chain END AS pred_lang
       |  FROM h)""".stripMargin
  }

  /** The one benchmark-subset modulus: `doc_id % BenchMod = 0` marks the
    * stand-in benchmark docs everywhere (Spark filters AND oracle SQL), so
    * the subset and its complement can never disagree.
    */
  private val BenchMod = 97

  /** Shared CTE block `sh, long, bench`: exploded per-doc shingles plus the
    * distinct shingle set of the benchmark subset (`doc_id % benchMod = 0`)
    * over relation `src(doc_id, text)` — reused by the contamination
    * oracles (q24, q29).
    */
  private def dShingleCtes(src: String, benchMod: Int): String =
    s"""sh AS (SELECT doc_id, ${dShingles(dToks, ShingleSize)} AS shingles FROM $src),
       |long AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |bench AS (SELECT DISTINCT s FROM long WHERE doc_id % $benchMod = 0)""".stripMargin

  // ---- q10: text stats -------------------------------------------------

  /** Token counting (whitespace + BPE-ish), punctuation/stopword counts,
    * quality score, language ID, content fingerprint — one narrow
    * projection per document.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val toks = TextStats.tokens(col("text"))
    docs.select(
      col("doc_id"),
      col("lang"),
      size(toks).as("n_tokens"),
      size(TextStats.bpeishTokens(col("text"))).as("n_bpeish"),
      TextStats.punctCount(col("text")).as("punct_cnt"),
      TextStats.wordHits(toks, TextStats.enStopwords).as("stop_cnt"),
      TextStats.qualityScore(col("text")).as("quality"),
      TextStats.langId(col("text")).as("pred_lang"),
      TextStats.contentFingerprint(col("text")).as("content_hash"))
  }

  private val q10Oracle: String = {
    val markers = TextStats.defaultLangMarkers
    val hits = markers.map { case (l, ws) => s"${dWordHits("toks", ws)} AS h_$l" }
    val allZero = markers.map { case (l, _) => s"h_$l = 0" }.mkString(" AND ")
    val langs = markers.map(_._1)
    val chain = langs.dropRight(1).zipWithIndex.foldRight(s"'${langs.last}'") {
      case ((l, i), acc) =>
        val later = langs.drop(i + 1).map(o => s"h_$l >= h_$o").mkString(" AND ")
        s"CASE WHEN $later THEN '$l' ELSE $acc END"
    }
    val stop = dWordHits("toks", TextStats.enStopwords)
    s"""WITH t AS (SELECT doc_id, lang, text, $dToks AS toks FROM documents),
       |h AS (SELECT *, ${hits.mkString(", ")},
       |  (len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g'))) AS punct_cnt,
       |  $stop AS stop_cnt
       |  FROM t)
       |SELECT doc_id, lang, len(toks) AS n_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+')) AS n_bpeish,
       |  punct_cnt, stop_cnt,
       |  0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
       |    + 0.3 * (1.0 - CAST(punct_cnt AS DOUBLE) / CAST(len(text) AS DOUBLE))
       |    + 0.3 * least(1.0, CAST(stop_cnt AS DOUBLE) * 5.0 / CAST(len(toks) AS DOUBLE)) AS quality,
       |  CASE WHEN $allZero THEN 'und' ELSE $chain END AS pred_lang,
       |  md5(trim(lower(text))) AS content_hash
       |FROM h""".stripMargin
  }

  // ---- q10b: winnowing fingerprints ------------------------------------

  private val WinnowK = 3
  private val WinnowW = 4

  /** One (doc_id, fingerprint) row per kept window-min hash — the exploded
    * form of [[TextStats.winnowFingerprints]] so the sketch itself is
    * oracle-checked row by row.
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(TextStats.winnowFingerprints(col("text"), WinnowK, WinnowW))
          .as("fingerprint"))

  /** CTE chain ending in `wfp(doc_id, fingerprint)` — the winnowing sketch
    * as a reusable oracle building block, shared by q10b (the sketch rows)
    * and q43 (fingerprint-overlap pairs) so the SQL mirror cannot drift
    * between the two.
    */
  private val dWinnowCtes: String = {
    val k = WinnowK
    val w = WinnowW
    val grams = s"(CASE WHEN len(toks) = 0 THEN [] " +
      s"WHEN len(toks) < $k THEN [array_to_string(toks, ' ')] " +
      s"ELSE list_transform(range(1, len(toks) - ${k - 2}), " +
      s"i -> array_to_string(list_slice(toks, i, i + ${k - 1}), ' ')) END)"
    val fps = s"(CASE WHEN len(hashes) = 0 THEN [] " +
      s"WHEN len(hashes) < $w THEN [list_min(hashes)] " +
      s"ELSE list_distinct(list_transform(range(1, len(hashes) - ${w - 2}), " +
      s"j -> list_min(list_slice(hashes, j, j + ${w - 1})))) END)"
    s"""t AS (SELECT doc_id, $dToks AS toks FROM documents),
       |g AS (SELECT doc_id, $grams AS grams FROM t),
       |h AS (SELECT doc_id, list_transform(grams, g -> md5(g)) AS hashes FROM g),
       |wfp AS (SELECT doc_id, unnest($fps) AS fingerprint FROM h)""".stripMargin
  }

  private val q10bOracle: String =
    s"WITH $dWinnowCtes SELECT doc_id, fingerprint FROM wfp"

  // ---- q11: exact dedup ------------------------------------------------

  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(DocumentsFixture.corpusDf(spark, dir), "doc_id", "text")

  private val q11Oracle: String =
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()})
       |SELECT md5(trim(lower(text))) AS content_hash,
       |  min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM corpus GROUP BY 1""".stripMargin

  // ---- q12: MinHash-LSH near-dup pairs ---------------------------------

  private val NumHashes = 8
  private val RowsPerBand = 2
  private val ShingleSize = 3
  private val JaccThreshold = 0.5

  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(DocumentsFixture.corpusDf(spark, dir), "doc_id", "text",
      ShingleSize, NumHashes, RowsPerBand, JaccThreshold)

  /** CTE chain `corpus … pairs(id_a, id_b, jaccard)` — the whole MinHash-LSH
    * near-dup pipeline as a reusable oracle building block, shared by q12
    * (the pairs themselves) and q32 (their transitive closure) so the SQL
    * mirror cannot drift between the two.
    */
  private val dMinhashPairCtes: String = {
    val sigs = (0 until NumHashes).map(i => s"${dMinHash("shingles", i)} AS sig$i")
    val bandArms = (0 until NumHashes / RowsPerBand).map { b =>
      val parts = (0 until RowsPerBand)
        .map(r => s"sig${b * RowsPerBand + r}").mkString(" || ")
      s"SELECT id, $b AS band_id, md5($parts) AS band_hash FROM sig"
    }
    s"""corpus AS (${DocumentsFixture.corpusSql()}),
       |t AS (SELECT doc_id AS id, $dToks AS toks FROM corpus),
       |sh AS (SELECT id, ${dShingles("toks", ShingleSize)} AS shingles FROM t),
       |sig AS (SELECT id, shingles, ${sigs.mkString(", ")} FROM sh),
       |bands AS (${bandArms.mkString(" UNION ALL ")}),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id),
       |verified AS (
       |  SELECT c.id_a, c.id_b, sa.shingles AS sh_a, sb.shingles AS sh_b
       |  FROM cand c JOIN sh sa ON c.id_a = sa.id JOIN sh sb ON c.id_b = sb.id),
       |pairs AS (
       |  SELECT id_a, id_b, $dJaccard AS jaccard
       |  FROM verified WHERE $dJaccard >= $JaccThreshold)""".stripMargin
  }

  private val q12Oracle: String =
    s"WITH $dMinhashPairCtes SELECT id_a, id_b, jaccard FROM pairs"

  // ---- q13: blocked n-gram Jaccard -------------------------------------

  def blockedJaccard(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    val block = concat(col("lang"), lit("|"),
      floor(length(col("text")) / 100.0).cast("long").cast("string"))
    Dedup.blockedJaccardPairs(corpus, "doc_id", "text", block, ShingleSize, JaccThreshold)
  }

  private val q13Oracle: String =
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |t AS (SELECT doc_id AS id,
       |  lang || '|' || CAST(CAST(floor(len(text) / 100.0) AS BIGINT) AS STRING) AS block,
       |  ${dShingles(dToks, ShingleSize)} AS shingles FROM corpus),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.shingles AS sh_a, b.shingles AS sh_b
       |  FROM t a JOIN t b ON a.block = b.block AND a.id < b.id)
       |SELECT id_a, id_b, $dJaccard AS jaccard
       |FROM pairs WHERE $dJaccard >= $JaccThreshold""".stripMargin

  // ---- q14: SimHash ----------------------------------------------------

  private val SimHashBits = 16

  /** SimHash sketch per doc. Uses the md5-parity bit hash so the sketch
    * is exactly expressible in DuckDB SQL (hex-digit parity of
    * md5(token)), through the native one-pass [[Dedup.simhashMd5]] kernel
    * (bit-identical to the composable `simhash(_, _, md5Bit)`; parity
    * pinned in `TextKernelsSpec`) — the xxhash64 default stays covered by
    * property tests.
    */
  def simhashSketch(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    corpus.select(col("doc_id"),
      Dedup.simhashMd5(col("text"), SimHashBits).as("simhash"))
  }

  /** DuckDB twin of the md5-bit SimHash, as CTEs ending in
    * `sk(doc_id, simhash)` over a `corpus` CTE: per bit j, +1/-1 sum over
    * tokens of the parity of md5 hex digit j; pack the sign bits.
    * `coalesce(.., 0)` matches Spark's `aggregate` zero-init on empty
    * token arrays. Shared by the q14 sketch report and the q64 banded
    * pair search (different widths).
    */
  private def dSimhashCtes(bits: Int): String = {
    // bit j = bit plane j/32 of md5 hex digit j%32 (Dedup.md5BitWide);
    // plane 0 is the original digit-parity set, so bits <= 32 unchanged
    val planeSets = (0 until 4).map(p => "0123456789abcdef"
      .filter(c => ((Integer.parseInt(c.toString, 16) >> p) & 1) == 1))
    val bitSums = (0 until bits).map { j =>
      s"coalesce(list_sum(list_transform(toks, t -> CASE WHEN " +
        s"strpos('${planeSets(j / 32)}', substr(md5(t), ${(j % 32) + 1}, 1)) > 0 " +
        s"THEN 1 ELSE -1 END)), 0) AS s$j"
    }
    val pack = (0 until bits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""t AS (SELECT doc_id, $dToks AS toks FROM corpus),
       |b AS (SELECT doc_id, ${bitSums.mkString(", ")} FROM t),
       |sk AS (SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM b)""".stripMargin
  }

  private val q14Oracle: String =
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |${dSimhashCtes(SimHashBits)}
       |SELECT doc_id, simhash FROM sk""".stripMargin

  // ---- q64: SimHash-banded near-dup pairs ------------------------------

  private val SimHashPairBits = 32
  private val SimHashPairBands = 4
  private val SimHashMaxHamming = 3

  /** q64 — the retrieval half of q14's sketch: banded SimHash candidate
    * pairs with exact Hamming verification ([[Dedup.simhashPairs]]).
    * 32-bit md5-variant sketch (DuckDB-expressible), 4 bands of 8 bits —
    * pigeonhole-complete for Hamming <= 3 — over the duplicate-injected
    * corpus. One band-key shuffle, never all-pairs.
    */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    Dedup.simhashPairs(corpus, "doc_id", "text", SimHashPairBits,
      SimHashPairBands, SimHashMaxHamming, Dedup.simhashMd5)
  }

  /** DuckDB twin of q64: same 32-bit sketch CTEs, bands by exact integer
    * division (sketch < 2^32, so `//`/`%` stay in BIGINT), candidate join
    * on (band, value), then `bit_count(xor(..))` verification.
    */
  private val q64Oracle: String = {
    val width = SimHashPairBits / SimHashPairBands
    val bandArms = (0 until SimHashPairBands).map { j =>
      s"SELECT doc_id, simhash, $j AS band, " +
        s"(simhash // ${1L << (j * width)}) % ${1L << width} AS bv FROM sk"
    }.mkString(" UNION ALL ")
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |${dSimhashCtes(SimHashPairBits)},
       |bands AS ($bandArms),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.simhash AS sk_a, b.simhash AS sk_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sk_a, sk_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sk_a, sk_b)) <= $SimHashMaxHamming""".stripMargin
  }

  // ---- q64b: block-combination banded SimHash pairs (scale-honest) ------

  private val SimHashWideBits = 56
  private val SimHashWideBlocks = 8

  /** q64b — q64's banding FIXED for scale ([[Dedup.simhashPairsBlocked]]):
    * a 56-bit md5 sketch (two md5 bit planes, [[Dedup.md5BitWide]]) split
    * into 8 blocks of 7 bits; candidates keyed by every C(8,5) = 56
    * combination of 5 blocks — pigeonhole-complete for Hamming <= 3 with
    * 35-bit band keys, so chance band collisions fall from q64's N²/256
    * to 56·N²/2^35 (the Manku–Jain–Sarma multi-table construction). Same
    * output contract as q64 modulo the wider sketch: (id_a, id_b,
    * hamming), equal to brute force. The explode factor is 56 rows per
    * doc — linear, the deliberate trade that retires the quadratic
    * verify q64's fixed-cardinality buckets pay at the third decade.
    */
  def simhashNearDupWide(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    Dedup.simhashPairsBlocked(corpus, "doc_id", "text", SimHashWideBits,
      SimHashWideBlocks, SimHashMaxHamming, Dedup.simhashMd5)
  }

  /** DuckDB twin of q64b: the 56-bit sketch CTEs (plane-aware
    * [[dSimhashCtes]]), then one UNION ALL arm per block combination with
    * the combination's 7-bit slice values packed into the band key by
    * exact integer division (sketch < 2^56, keys < 2^35 — everything
    * non-negative BIGINT), then the same candidate-join + bit_count
    * verification as q64.
    */
  private val q64bOracle: String = {
    val width = SimHashWideBits / SimHashWideBlocks
    val combos = Dedup.blockCombos(SimHashWideBlocks,
      SimHashWideBlocks - SimHashMaxHamming)
    val bandArms = combos.zipWithIndex.map { case (combo, ci) =>
      val packed = combo.zipWithIndex.map { case (b, pos) =>
        s"((simhash // ${1L << (b * width)}) % ${1L << width}) * ${1L << (pos * width)}"
      }.mkString(" + ")
      s"SELECT doc_id, simhash, $ci AS band, $packed AS bv FROM sk"
    }.mkString(" UNION ALL ")
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |${dSimhashCtes(SimHashWideBits)},
       |bands AS ($bandArms),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.simhash AS sk_a, b.simhash AS sk_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sk_a, sk_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sk_a, sk_b)) <= $SimHashMaxHamming""".stripMargin
  }

  // ---- q15/q16/q17: similarity search ----------------------------------

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).repartition(spark.sparkContext.defaultParallelism)

  def annBruteForce(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(embeddings(spark, dir), "vec_id", "embedding",
      col("id") % 50 === 0, k = 5)

  private val q15Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_dot_product(c.emb, q.emb) / (c.nrm * q.nrm), 6) AS score
      |  FROM n c, q WHERE c.vec_id <> q.vec_id),
      |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM pairs)
      |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin

  def annIvf(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(embeddings(spark, dir), "vec_id", "embedding",
      col("id") % 50 === 0, col("id") % 100 === 0, k = 5)

  private val q16Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |c AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n WHERE id % 100 = 0),
      |assigned AS (
      |  SELECT id, emb, nrm, c_id AS bucket FROM (
      |    SELECT n.id, n.emb, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.id
      |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
      |    FROM n, c) WHERE r = 1),
      |q AS (SELECT id AS query_id, emb AS q_emb, nrm AS q_nrm, bucket FROM assigned WHERE id % 50 = 0),
      |pairs AS (
      |  SELECT q.query_id, a.id AS neighbor_id,
      |    round(list_dot_product(a.emb, q.q_emb) / (a.nrm * q.q_nrm), 6) AS score
      |  FROM assigned a JOIN q ON a.bucket = q.bucket AND a.id <> q.query_id),
      |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM pairs)
      |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin

  def annIvfNprobe2(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(embeddings(spark, dir), "vec_id", "embedding",
      col("id") % 50 === 0, col("id") % 100 === 0, k = 5, nprobe = 2)

  /** q16d — IVF at the CALIBRATED operating point: SimilaritySpec's
    * recall@10 calibration against exact ground truth measures 0.61 / 0.72
    * / 0.95 / 1.00 at nprobe = 1/2/4/8 on this fixture, so nprobe=4 is the
    * registered ≥0.9-recall setting (nprobe 1–2 stay registered as the
    * cheap low-recall points; LSH's measured ceiling at 4 planes is 0.46 —
    * isotropic synthetic embeddings are hyperplane-LSH's worst case, and
    * the honest conclusion of the calibration is that IVF is the
    * high-recall path here).
    */
  def annIvfNprobe4(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(embeddings(spark, dir), "vec_id", "embedding",
      col("id") % 50 === 0, col("id") % 100 === 0, k = 5, nprobe = 4)

  /** Fraction of the centroid set q16f probes per query: 0.2 ≈ the corpus
    * fraction q16d's calibrated fixture point reaches (nprobe=4 of the
    * sf0.01 fixture's ~20 cells), now held CONSTANT at every scale.
    * `private[graft]` so specs (StreamingCurationSpec) use the registered
    * geometry instead of re-typing its literals (r15 advice).
    */
  private[graft] val AdaptiveProbeFraction = 0.2

  /** Fixed query WINDOW for every REGISTERED non-contrast ANN search
    * (q15b/q15c/q15d since r17, q16f, q16g since r17, q16i): queries are
    * `id < 2000 AND id % 50 = 0` — at most 40 ids,
    * constant at EVERY scale. Replaces the bare `id % 50` corpus-fraction
    * convention whose |Q| = N/50 made candidate volume |Q|·0.2N quadratic
    * by benchmark construction and killed the 1000× q16f run on disk
    * (r15 verdict #1; a fixed-query probe, since retired, measured this fixed
    * window riding that decade at 5.7×/decade — the plan was never the
    * problem, the query set was). A production ANN serves a bounded query
    * batch against a growing corpus; this makes the registered benchmark
    * that shape.
    *
    * Why a fixed id WINDOW and not a count-derived stride `id % (N div
    * 40)`: replica corpora carry BLOCK-SPARSE ids (k·10⁶ offsets,
    * `make_scale_replica.py`), so once the stride exceeds the 2000-id
    * block width it selects one id per replica — |Q| grows linearly with
    * R again and the measured 100× run quietly carried 100 queries. The
    * window is id-geometry-proof: it can only ever see the first block.
    */
  private[graft] val AnnFixedQueryIdBound = 2000L
  private[graft] val AnnFixedQueryStride = 50L

  /** The fixed query window as a Column predicate — the ONE registered
    * query-set convention for every non-contrast ANN search (q15b/c/d,
    * q16f/g/i since r17; the bare `% 50` corpus-fraction form survives
    * only in the declared scale contrasts, where |Q| ∝ N is the point
    * being demonstrated).
    */
  private[graft] def annFixedQueryCol: Column =
    col("id") < AnnFixedQueryIdBound && col("id") % AnnFixedQueryStride === 0

  /** The same window as a SQL fragment for the DuckDB twins; `idCol` is
    * the oracle CTE's id column name (`vec_id` in the q15 family, bare
    * `id` in the IVF/LSH CTEs).
    */
  private[graft] def annFixedQuerySql(idCol: String): String =
    s"$idCol < $AnnFixedQueryIdBound AND $idCol % $AnnFixedQueryStride = 0"

  /** q16f — IVF at SCALE-ADAPTIVE geometry: centroid count k = ⌈√N⌉
    * (selected as `id % (N div k) = 0` — deterministic and exactly
    * reproducible in the oracle, which derives the same stride from its
    * own `count(*)`), probing `nprobe = ⌈0.2·k⌉` buckets per query.
    *
    * Why this exists, with measured evidence (BASELINE.md round-11 scale
    * tables): the `% 100` centroid convention grows k LINEARLY with the
    * corpus, which (a) makes the broadcast-assignment cross product
    * N × N/100 quadratic — the dominant cost in q16's measured 14.9×
    * per-decade wall growth — and (b) silently DECAYS recall, because a
    * fixed nprobe probes a 10×-smaller fraction of the corpus every
    * decade, invalidating q16d's calibrated ≥0.95 point anywhere but the
    * scale it was calibrated at. k = ⌈√N⌉ is the classic IVF-Flat
    * balance (assignment N·√N, cell population √N), and the
    * fraction-constant nprobe makes the calibration scale-stable by
    * construction: every decade probes the same ~20% of cells.
    *
    * One bounded driver action (`count()`) parameterizes the geometry —
    * the same metadata-collect convention as the spec digests; DuckDB's
    * twin computes `kc`/`stride`/`nprobe` from identical integer inputs
    * through identical double arithmetic (IEEE sqrt/ceil and `0.2·k` are
    * bit-equal cross-engine), so the centroid SET matches exactly.
    *
    * Since r16 the QUERY set is bounded too: the fixed
    * [[AnnFixedQueryIdBound]]/[[AnnFixedQueryStride]] window caps |Q| at
    * 40 at every scale (the r15 third-decade failure was |Q| = N/50 —
    * see the constants' doc). Candidate volume is now |Q|·0.2N = O(N);
    * the in-plan N·⌈√N⌉ cell assignment is the remaining super-linear
    * term, which the q16i persisted-index path amortizes into the index
    * build.
    */
  def annIvfAdaptive(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
    val g = Similarity.ivfGeometry(emb)
    Similarity.ivfTopK(emb, "vec_id", "embedding",
      annFixedQueryCol,
      col("id") % g.stride === 0, k = 5, nprobe = g.nprobe(AdaptiveProbeFraction))
  }

  /** [[q16MultiProbeOracle]] with the geometry derived from `count(*)` in
    * SQL: `kc = ceil(sqrt(n))`, `stride = n // kc` (DuckDB `//` is floor
    * division on BIGINTs = Scala `Long./` for positives), `nprobe =
    * ceil(0.2 * kc)` — the exact arithmetic [[annIvfAdaptive]] runs; the
    * query set is the fixed `id < $AnnFixedQueryIdBound AND id %
    * $AnnFixedQueryStride = 0` window.
    */
  private val q16fOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |p AS (SELECT greatest(1, count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS stride,
      |             CAST(ceil(0.2 * ceil(sqrt(count(*)))) AS BIGINT) AS nprobe
      |      FROM e),
      |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |c AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n
      |      WHERE id % (SELECT stride FROM p) = 0),
      |assigned AS (
      |  SELECT id, emb, nrm, c_id AS bucket FROM (
      |    SELECT n.id, n.emb, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.id
      |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
      |    FROM n, c) WHERE r = 1),
      |probed AS (
      |  SELECT id AS query_id, emb AS q_emb, nrm AS q_nrm, c_id AS bucket FROM (
      |    SELECT n.id, n.emb, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.id
      |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
      |    FROM n, c WHERE n.id < $AnnFixedQueryIdBound AND n.id % $AnnFixedQueryStride = 0) WHERE r <= (SELECT nprobe FROM p)),
      |pairs AS (
      |  SELECT q.query_id, a.id AS neighbor_id,
      |    round(list_dot_product(a.emb, q.q_emb) / (a.nrm * q.q_nrm), 6) AS score
      |  FROM assigned a JOIN probed q ON a.bucket = q.bucket AND a.id <> q.query_id),
      |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM pairs)
      |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin

  /** Same as [[q16Oracle]] except queries probe their `nprobe` nearest
    * centroid buckets (`r <= nprobe` in `probed`); each candidate still
    * lives in exactly one bucket so the join yields no duplicate
    * (query, candidate) pairs.
    */
  private def q16MultiProbeOracle(nprobe: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |c AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n WHERE id % 100 = 0),
      |assigned AS (
      |  SELECT id, emb, nrm, c_id AS bucket FROM (
      |    SELECT n.id, n.emb, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.id
      |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
      |    FROM n, c) WHERE r = 1),
      |probed AS (
      |  SELECT id AS query_id, emb AS q_emb, nrm AS q_nrm, c_id AS bucket FROM (
      |    SELECT n.id, n.emb, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.id
      |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
      |    FROM n, c WHERE n.id % 50 = 0) WHERE r <= $nprobe),
      |pairs AS (
      |  SELECT q.query_id, a.id AS neighbor_id,
      |    round(list_dot_product(a.emb, q.q_emb) / (a.nrm * q.q_nrm), 6) AS score
      |  FROM assigned a JOIN probed q ON a.bucket = q.bucket AND a.id <> q.query_id),
      |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM pairs)
      |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin

  private val q16bOracle: String = q16MultiProbeOracle(2)
  private val q16dOracle: String = q16MultiProbeOracle(4)

  def annQuantized(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizedTopK(embeddings(spark, dir), "vec_id", "embedding",
      annFixedQueryCol, k = 5)

  /** DuckDB twin of quantize → dequantize → brute-force top-k. The
    * quantization arithmetic mirrors [[Similarity.quantizeInt8]] exactly:
    * 6-decimal lo/scale, clamp to [0,255], round-then-cast (both engines
    * round positive halves away from zero; cast after `round(x, 0)` is
    * exact in both).
    */
  private val q15bOracle: String = {
    val lo = "round(list_min(emb), 6)"
    val scale = "round((list_max(emb) - list_min(emb)) / 255.0, 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |qz AS (SELECT vec_id, $lo AS lo,
       |         CASE WHEN $scale = 0 THEN 1.0 ELSE $scale END AS sscale,
       |         $scale AS scale, emb FROM e),
       |dq AS (SELECT vec_id,
       |         list_transform(emb, x -> lo + least(255, greatest(0,
       |           CAST(round((x - lo) / sscale, 0) AS INT))) * scale) AS emb
       |       FROM qz),
       |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM dq),
       |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM n
       |      WHERE ${annFixedQuerySql("vec_id")}),
       |pairs AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(c.emb, q.q_emb) / (c.nrm * q.q_nrm), 6) AS score
       |  FROM n c, q WHERE c.vec_id <> q.query_id),
       |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM pairs)
       |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin
  }

  /** The q15c Hamming radius: candidates within 27 bits of the query
    * survive to the exact re-rank — the measured ≥0.9-recall@5 point on
    * the gate fixture (recall/survivor-fraction 0.24/0.008 at R=22,
    * 0.58/0.032 at 24, 0.88/0.088 at 26, **0.92/0.132 at 27**, 0.94/0.194
    * at 28, 0.98/0.360 at 30). A fixed RADIUS is scale-stable without any
    * count-derived geometry: the admitted fraction follows the corpus's
    * angle distribution, not N (see [[Similarity.binaryTopK]]'s scaladoc
    * for why the per-query top-C form this replaced was a measured scale
    * bug).
    */
  private val BinaryMaxHamming = 27

  /** q15c — ANN over 1-bit sign-quantized signatures: xor/popcount Hamming
    * radius scan keeps ~13% of pairs, exact cosine over the raw vectors
    * re-ranks to top-5, all in one codegen stage. The third quantization
    * point of the storage/recall ladder (float32 q15 → int8 q15b → 1-bit
    * q15c: 1× / 4× / 32× per-pair scan-work reduction).
    */
  def annBinary(spark: SparkSession, dir: String): DataFrame =
    Similarity.binaryTopK(embeddings(spark, dir), "vec_id", "embedding",
      annFixedQueryCol, k = 5, maxHamming = BinaryMaxHamming)

  /** DuckDB twin of sign-pack → Hamming radius cut → exact re-rank.
    * The signature packing mirrors [[Similarity.signSig]] word-for-word
    * (32-bit words, bit j set iff the RAW component is > 0 — single-element
    * compares need no rounding step), the radius compare is pure integer,
    * and the re-rank is q15's rounded-cosine ranking.
    */
  private val q15cOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |sg AS (SELECT vec_id, emb,
      |  list_transform(range((len(emb)+31)//32), w ->
      |    CAST(list_sum(list_transform(range(32), b ->
      |      CASE WHEN w*32+b+1 <= len(emb) AND emb[w*32+b+1] > 0
      |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)) AS sig
      |  FROM e),
      |n AS (SELECT vec_id, emb, sig, sqrt(list_dot_product(emb, emb)) AS nrm FROM sg),
      |q AS (SELECT vec_id AS query_id, emb AS q_emb, sig AS q_sig, nrm AS q_nrm
      |      FROM n WHERE ${annFixedQuerySql("vec_id")}),
      |scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
      |    round(list_dot_product(c.emb, q.q_emb) / (c.nrm * q.q_nrm), 6) AS score
      |  FROM n c, q WHERE c.vec_id <> q.query_id
      |    -- length guard mirrors the kernel's length-mismatch null-poisoning:
      |    -- without it DuckDB's list_sum would SKIP the NULLs an out-of-range
      |    -- q_sig[w+1] produces and admit mixed-dim pairs on a prefix sum
      |    AND len(c.sig) = len(q.q_sig)
      |    AND list_sum(list_transform(range(len(c.sig)), w ->
      |      bit_count(xor(c.sig[w+1], q.q_sig[w+1])))) <= $BinaryMaxHamming),
      |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM scored)
      |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin

  /** PQ geometry shared by q15d/q16h: 16 subspaces of 4 dims over the
    * 64-dim embeddings (`PQ16x4`), ~16 codewords per subspace selected by
    * the q16f stride convention (`vec_id % (n div 16) = 0` —
    * deterministic, so the DuckDB twin derives the identical codebook
    * from its own count). 16 codewords × 16 subspaces = 64-bit codes: a
    * 32× at-rest/scan-bandwidth reduction vs float32. The ADC threshold
    * τ = 0.10 is the calibrated ≥0.9-capture point on the gate fixture
    * (capture/survivor-fraction 0.98/0.33 at τ=0.05, **0.92/0.20 at
    * 0.10**, 0.75/0.11 at 0.15 — SimilaritySpec pins the curve), the
    * same radius-style row-local cut discipline as q15c's R=27.
    */
  private val PqDims = 64
  private val PqCodewords = 16
  private val PqAdcThreshold = 0.10

  /** q15d — product-quantized ANN (ADC prefilter + exact re-rank): the
    * fourth tier of the quantization ladder (float32 q15 → int8 q15b →
    * 1-bit q15c → PQ q15d). Unlike q15c's sign bits, PQ preserves
    * per-subspace magnitude structure — the ADC score is an approximate
    * COSINE, cut at the calibrated τ (a row-local threshold, q15c's
    * radius discipline, NOT a fraction-sized top-C) — and like q15c the
    * survivors re-rank by exact cosine, so accuracy is brute-force's on
    * whatever the cut admits; unlike q16's IVF the scan is exhaustive —
    * no bucketing recall risk. See [[Similarity.pqTopK]].
    */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(embeddings(spark, dir), "vec_id", "embedding",
      annFixedQueryCol, k = 5, dims = PqDims, codewords = PqCodewords,
      adcThreshold = Some(PqAdcThreshold))

  /** DuckDB twin of codebook-select → encode → ADC-score → rank. Every
    * float step is mirrored term-for-term (three-dot d² form, micro-unit
    * rounding before any sum) and every SUM is over BIGINTs — exact and
    * association-free — so the engines can only agree. The `codes` argmin
    * (`row_number ORDER BY d2I, j`) is the order [[Similarity.pqEncode]]'s
    * packed-BIGINT `min` encodes.
    */
  private val q15dOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |p AS (SELECT greatest(1, count(*) // $PqCodewords) AS stride FROM e),
      |nn AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |cwv AS (SELECT emb, row_number() OVER (ORDER BY vec_id) - 1 AS j
      |        FROM e WHERE vec_id % (SELECT stride FROM p) = 0
      |        QUALIFY j < $PqCodewords),
      |cbs AS (SELECT j, m, csub,
      |        greatest(0, CAST(round(list_dot_product(csub, csub)*1e6, 0) AS BIGINT)) AS sqI
      |        FROM (SELECT j, m, list_slice(emb, m*4+1, m*4+4) AS csub
      |              FROM cwv CROSS JOIN range(16) t(m))),
      |xs AS (SELECT vec_id, m, list_slice(emb, m*4+1, m*4+4) AS xsub
      |       FROM e CROSS JOIN range(16) t(m)),
      |codes AS (SELECT vec_id, m, j, sqI FROM (
      |    SELECT x.vec_id, x.m, c.j, c.sqI,
      |      row_number() OVER (PARTITION BY x.vec_id, x.m ORDER BY
      |        greatest(0, CAST(round((list_dot_product(x.xsub, x.xsub)
      |          - 2.0*list_dot_product(x.xsub, c.csub)
      |          + list_dot_product(c.csub, c.csub))*1e6, 0) AS BIGINT)), c.j) AS r
      |    FROM xs x JOIN cbs c ON x.m = c.m) WHERE r = 1),
      |rn AS (SELECT vec_id, sum(sqI) AS rnorm2I FROM codes GROUP BY vec_id),
      |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM nn
      |      WHERE ${annFixedQuerySql("vec_id")}),
      |lut AS (SELECT s.query_id, s.m, c.j,
      |        CAST(round(list_dot_product(s.qsub, c.csub)*1e6, 0) AS BIGINT) AS lutI
      |        FROM (SELECT query_id, m, list_slice(q_emb, m*4+1, m*4+4) AS qsub
      |              FROM q CROSS JOIN range(16) t(m)) s
      |        JOIN cbs c ON s.m = c.m),
      |adc AS (SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.lutI) AS adcI
      |        FROM codes c JOIN lut l ON c.m = l.m AND c.j = l.j
      |        WHERE c.vec_id <> l.query_id GROUP BY 1, 2),
      |cand AS (SELECT a.query_id, a.neighbor_id
      |        FROM adc a JOIN rn r ON a.neighbor_id = r.vec_id
      |        JOIN q ON a.query_id = q.query_id
      |        WHERE round((a.adcI / 1e6) / (sqrt(r.rnorm2I / 1e6) * q.q_nrm), 6) >= $PqAdcThreshold),
      |scored AS (SELECT cd.query_id, cd.neighbor_id,
      |        round(list_dot_product(c.emb, q.q_emb) / (c.nrm * q.q_nrm), 6) AS score
      |        FROM cand cd JOIN nn c ON cd.neighbor_id = c.vec_id
      |        JOIN q ON cd.query_id = q.query_id),
      |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM scored)
      |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin

  /** q16h — IVF-PQ: the production-shape composition (FAISS `IVFx,PQy`):
    * q16f's scale-adaptive inverted-file pruning (k = ⌈√N⌉ centroids,
    * probed fraction held at $AdaptiveProbeFraction) bounds WHICH
    * candidates are touched; q15d's PQ-ADC bounds the COST PER candidate.
    * See [[Similarity.ivfPqTopK]].
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
    val g = Similarity.ivfGeometry(emb)
    Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      col("id") % 50 === 0, col("id") % g.stride === 0, k = 5,
      nprobe = g.nprobe(AdaptiveProbeFraction),
      dims = PqDims, codewords = PqCodewords,
      adcThreshold = Some(PqAdcThreshold))
  }

  /** Twin: q16f's count-derived centroid/probe CTEs compose with q15d's
    * PQ CTEs; candidates are the probed-bucket pairs, scores are the ADC
    * sums restricted to them. Parameterized over the query-set predicate:
    * q16h keeps the historical `% 50` corpus-fraction form (in-plan
    * composition point, a declared scale contrast of q16i); q16i — the
    * production persisted-index search — bounds |Q| via the count-derived
    * fixed [[AnnFixedQueryIdBound]] window (r15 verdict #1).
    */
  private def ivfPqOracle(queryMod: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |geo AS (SELECT greatest(1, count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS cstride,
      |               CAST(ceil(0.2 * ceil(sqrt(count(*)))) AS BIGINT) AS nprobe,
      |               greatest(1, count(*) // $PqCodewords) AS pqstride
      |        FROM e),
      |nn AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |cent AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM nn
      |         WHERE id % (SELECT cstride FROM geo) = 0),
      |assigned AS (
      |  SELECT id, c_id AS bucket FROM (
      |    SELECT nn.id, cent.c_id,
      |      row_number() OVER (PARTITION BY nn.id
      |        ORDER BY round(list_dot_product(nn.emb, cent.c_emb) / (nn.nrm * cent.c_nrm), 6) DESC, cent.c_id) AS r
      |    FROM nn, cent) WHERE r = 1),
      |probed AS (
      |  SELECT id AS query_id, c_id AS bucket FROM (
      |    SELECT nn.id, cent.c_id,
      |      row_number() OVER (PARTITION BY nn.id
      |        ORDER BY round(list_dot_product(nn.emb, cent.c_emb) / (nn.nrm * cent.c_nrm), 6) DESC, cent.c_id) AS r
      |    FROM nn, cent WHERE nn.id $queryMod) WHERE r <= (SELECT nprobe FROM geo)),
      |cwv AS (SELECT emb, row_number() OVER (ORDER BY vec_id) - 1 AS j
      |        FROM e WHERE vec_id % (SELECT pqstride FROM geo) = 0
      |        QUALIFY j < $PqCodewords),
      |cbs AS (SELECT j, m, csub,
      |        greatest(0, CAST(round(list_dot_product(csub, csub)*1e6, 0) AS BIGINT)) AS sqI
      |        FROM (SELECT j, m, list_slice(emb, m*4+1, m*4+4) AS csub
      |              FROM cwv CROSS JOIN range(16) t(m))),
      |xs AS (SELECT vec_id, m, list_slice(emb, m*4+1, m*4+4) AS xsub
      |       FROM e CROSS JOIN range(16) t(m)),
      |codes AS (SELECT vec_id, m, j, sqI FROM (
      |    SELECT x.vec_id, x.m, c.j, c.sqI,
      |      row_number() OVER (PARTITION BY x.vec_id, x.m ORDER BY
      |        greatest(0, CAST(round((list_dot_product(x.xsub, x.xsub)
      |          - 2.0*list_dot_product(x.xsub, c.csub)
      |          + list_dot_product(c.csub, c.csub))*1e6, 0) AS BIGINT)), c.j) AS r
      |    FROM xs x JOIN cbs c ON x.m = c.m) WHERE r = 1),
      |rn AS (SELECT vec_id, sum(sqI) AS rnorm2I FROM codes GROUP BY vec_id),
      |q AS (SELECT id AS query_id, emb AS q_emb, nrm AS q_nrm FROM nn
      |      WHERE id $queryMod),
      |lut AS (SELECT s.query_id, s.m, c.j,
      |        CAST(round(list_dot_product(s.qsub, c.csub)*1e6, 0) AS BIGINT) AS lutI
      |        FROM (SELECT query_id, m, list_slice(q_emb, m*4+1, m*4+4) AS qsub
      |              FROM q CROSS JOIN range(16) t(m)) s
      |        JOIN cbs c ON s.m = c.m),
      |bcand AS (SELECT p2.query_id, a.id AS neighbor_id
      |         FROM assigned a JOIN probed p2 ON a.bucket = p2.bucket AND a.id <> p2.query_id),
      |adc AS (SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.lutI) AS adcI
      |        FROM codes c JOIN lut l ON c.m = l.m AND c.j = l.j GROUP BY 1, 2),
      |cand AS (SELECT b.query_id, b.neighbor_id
      |        FROM bcand b
      |        JOIN adc a ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
      |        JOIN rn r ON b.neighbor_id = r.vec_id
      |        JOIN q ON b.query_id = q.query_id
      |        WHERE round((a.adcI / 1e6) / (sqrt(r.rnorm2I / 1e6) * q.q_nrm), 6) >= $PqAdcThreshold),
      |scored AS (SELECT cd.query_id, cd.neighbor_id,
      |        round(list_dot_product(c.emb, q.q_emb) / (c.nrm * q.q_nrm), 6) AS score
      |        FROM cand cd JOIN nn c ON cd.neighbor_id = c.id
      |        JOIN q ON cd.query_id = q.query_id),
      |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM scored)
      |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin

  private val q16hOracle: String = ivfPqOracle("% 50 = 0")

  // bare `id` resolves to nn.id in both CTEs that interpolate this (cent
  // carries only c_-prefixed columns)
  private val q16iOracle: String = ivfPqOracle(
    s"< $AnnFixedQueryIdBound AND id % $AnnFixedQueryStride = 0")

  /** Per-JVM registry of PERSISTED IVF-PQ index artifacts, keyed by data
    * dir — the [[ccArtifactPath]] convention applied to ANN. An index is
    * the build-nightly/search-many artifact of a vector store: three
    * parquet tables under one temp root — `index` (id, bucket, codes,
    * rnorm2I — 24 bytes/vector), `codebook` (M·k codeword subvectors +
    * micro-norms), `centroids` (the √N IVF seeds, raw).
    */
  private val pqIndexArtifacts =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Root for the persisted index. A deployment points this at a fixed
    * location (`SPARK_GRAFT_PQIDX_DIR`) so the nightly BUILD and the many
    * SEARCH jobs are different JVMs — build-sized executors build,
    * search-sized executors only read (this is also how the 4 GiB
    * memory-pressure probe isolates the search tier). Unset, each JVM
    * builds into its own temp root on first touch (the bench convention:
    * iteration 1 amortizes the build).
    *
    * The fixed root is NAMESPACED by a digest of the data dir: the
    * artifact is a pure function of (corpus, geometry), so two datasets
    * sharing one root must land in disjoint subtrees — without this, the
    * second dataset's first search would hit the `fs.exists` fast path
    * and silently return the FIRST dataset's neighbors (r13 advisor
    * find: plausible-but-wrong results, no error anywhere).
    */
  private def pqIndexPath(dir: String): String =
    sys.env.get("SPARK_GRAFT_PQIDX_DIR") match {
      case Some(root) =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
        s"$root/ds-$digest"
      case None =>
        pqIndexArtifacts.getOrElseUpdate(dir,
          java.nio.file.Files.createTempDirectory("graft-pqidx-").toString)
    }

  /** Build (or read back) the IVF-PQ index artifact for `dir` at q16h's
    * exact geometry. Consumer semantics (the q52b precedent): the first
    * touch in a JVM builds and parquets, every later touch reads — so
    * q16i's bench median prices the SEARCH, with the build amortized into
    * iteration 1 the way q69 amortizes its bucketed-table write.
    */
  private def pqIndexArtifact(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val root = pqIndexPath(dir)
    val p = new org.apache.hadoop.fs.Path(root + "/index")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val emb = embeddings(spark, dir)
      val n = emb.select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("emb"))
      val g = Similarity.ivfGeometry(n)
      val pqStride = math.max(1L, g.n / PqCodewords)
      val centroids = n.filter(col("id") % g.stride === 0)
      val codebook = Similarity.pqCodebook(n, pqStride, PqDims,
        maxCodewords = PqCodewords)
      Similarity.ivfPqIndexRows(n, centroids, codebook, PqDims)
        .write.mode("overwrite").parquet(root + "/index")
      codebook.write.mode("overwrite").parquet(root + "/codebook")
      centroids.write.mode("overwrite").parquet(root + "/centroids")
    }
    (spark.read.parquet(root + "/index"),
      spark.read.parquet(root + "/codebook"),
      spark.read.parquet(root + "/centroids"))
  }

  /** q16i — IVF-PQ search from the PERSISTED index: q16h's semantics
    * through the artifact path — the deployment shape where the corpus
    * scan reads 24-byte index rows, never raw vectors, and the survivors'
    * exact re-rank joins back to the raw table on id. The nprobe geometry
    * re-derives from the raw table's count, exactly as the index build
    * did. Since r16 the query set is the bounded [[AnnFixedQueryIdBound]]
    * stride (a production search serves a bounded query batch against a
    * growing corpus); q16h keeps the `% 50` corpus-fraction set as the
    * in-plan contrast, so the pair now differs in BOTH the artifact path
    * and the query-set convention — the two axes the scale ladders
    * separate.
    */
  def annIvfPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    val (index, codebook, centroids) = pqIndexArtifact(spark, dir)
    val emb = embeddings(spark, dir)
    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    Similarity.ivfPqSearchFrom(index, codebook, centroids,
      raw = n, queries = n.filter(annFixedQueryCol),
      k = 5, nprobe = Similarity.ivfGeometry(n).nprobe(AdaptiveProbeFraction),
      dims = PqDims,
      adcThreshold = PqAdcThreshold)
  }

  /** q77 — incremental IVF-PQ index INGEST: the q40/q41 incremental
    * discipline applied to the vector store. A new batch (10% of the
    * corpus by id) is encoded against the EXISTING corpus's frozen
    * geometry — centroids and codebook derive from the other 90% only,
    * exactly the production constraint (re-deriving the codebook on every
    * ingest would re-encode the whole history; FAISS `add()` has the same
    * contract). Output: the batch's at-rest index rows (id, bucket,
    * codes, rnorm2I) — appending them to the persisted index is the whole
    * ingest (parquet append, no read-modify-write), because index rows
    * are per-vector functions of (geometry, vector): union-of-increments
    * ≡ rebuild-at-same-geometry, the invariant `SimilaritySpec` pins by
    * searching both.
    *
    * Scale shape: batch-sized work only — assignment is one broadcast of
    * √N centroids + the packed-argmin aggregate over |batch|·k rows,
    * encode one broadcast codebook + |batch|·M·k; the existing corpus is
    * touched ONLY to derive geometry (one count; centroid/codeword
    * selection are pushed-down stride filters), never re-encoded.
    */
  def pqIndexIngest(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val existing = n.filter(col("id") % 10 =!= 0)
    val batch = n.filter(col("id") % 10 === 0)
    val g = Similarity.ivfGeometry(existing)
    val pqStride = math.max(1L, g.n / PqCodewords)
    // residue-1 stride classes: the existing corpus is itself a modulo
    // split (id % 10 ≠ 0), so a residue-0 stride that shares a factor
    // with 10 would select NOTHING (cstride=20 on the 450-row fixture);
    // ids ≡ 1 (mod s) can never be ≡ 0 (mod 10) when 10 | s, and at
    // worst lose 1/10 of the class otherwise
    val centroids = existing.filter(col("id") % g.stride === 1)
    val codebook = Similarity.pqCodebook(existing, pqStride, PqDims,
      residue = 1L, maxCodewords = PqCodewords)
    Similarity.ivfPqIndexRows(batch, centroids, codebook, PqDims)
      .select(col("id"), col("bucket"),
        // the index row carries the PACKED layout since r14; the oracle
        // surface stays the unpacked comma-joined code list
        concat_ws(",", Similarity.unpackCodes(col("pcodes"), Similarity.PqSubspaces)
          .cast("array<string>")).as("codes"),
        col("rnorm2I"))
  }

  /** Twin: the q16h assignment/codebook/encode CTEs re-rooted on the
    * existing-corpus split (`vec_id % 10 <> 0`), encoding only the batch;
    * codes emitted as the comma-joined subspace-ordered list so both
    * engines compare strings, rnorm2I cast back to BIGINT (DuckDB sums
    * BIGINT into HUGEINT).
    */
  private val q77Oracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |ex AS (SELECT vec_id, emb FROM e WHERE vec_id % 10 <> 0),
      |nb AS (SELECT vec_id, emb FROM e WHERE vec_id % 10 = 0),
      |geo AS (SELECT greatest(1, count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS cstride,
      |               greatest(1, count(*) // $PqCodewords) AS pqstride
      |        FROM ex),
      |nn AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM nb),
      |cent AS (SELECT vec_id AS c_id, emb AS c_emb,
      |         sqrt(list_dot_product(emb, emb)) AS c_nrm FROM ex
      |         WHERE vec_id % (SELECT cstride FROM geo) = 1),
      |assigned AS (
      |  SELECT id, c_id AS bucket FROM (
      |    SELECT nn.id, cent.c_id,
      |      row_number() OVER (PARTITION BY nn.id
      |        ORDER BY round(list_dot_product(nn.emb, cent.c_emb) / (nn.nrm * cent.c_nrm), 6) DESC, cent.c_id) AS r
      |    FROM nn, cent) WHERE r = 1),
      |cwv AS (SELECT emb, row_number() OVER (ORDER BY vec_id) - 1 AS j
      |        FROM ex WHERE vec_id % (SELECT pqstride FROM geo) = 1
      |        QUALIFY j < $PqCodewords),
      |cbs AS (SELECT j, m, csub,
      |        greatest(0, CAST(round(list_dot_product(csub, csub)*1e6, 0) AS BIGINT)) AS sqI
      |        FROM (SELECT j, m, list_slice(emb, m*4+1, m*4+4) AS csub
      |              FROM cwv CROSS JOIN range(16) t(m))),
      |xs AS (SELECT vec_id, m, list_slice(emb, m*4+1, m*4+4) AS xsub
      |       FROM nb CROSS JOIN range(16) t(m)),
      |codes AS (SELECT vec_id, m, j, sqI FROM (
      |    SELECT x.vec_id, x.m, c.j, c.sqI,
      |      row_number() OVER (PARTITION BY x.vec_id, x.m ORDER BY
      |        greatest(0, CAST(round((list_dot_product(x.xsub, x.xsub)
      |          - 2.0*list_dot_product(x.xsub, c.csub)
      |          + list_dot_product(c.csub, c.csub))*1e6, 0) AS BIGINT)), c.j) AS r
      |    FROM xs x JOIN cbs c ON x.m = c.m) WHERE r = 1),
      |agg AS (SELECT vec_id, array_to_string(list(j ORDER BY m), ',') AS codes,
      |        CAST(sum(sqI) AS BIGINT) AS rnorm2I
      |        FROM codes GROUP BY vec_id)
      |SELECT a.id, a.bucket, g.codes, g.rnorm2I
      |FROM assigned a JOIN agg g ON a.id = g.vec_id""".stripMargin

  /** Hashed-feature bucket count for DSIR — bounds the per-feature table
    * at [[DsirBuckets]] rows regardless of vocabulary size, which is the
    * method's 100 TB selling point (Xie et al. 2023, public): the
    * importance model is two B-row histograms, never a vocabulary.
    */
  private val DsirBuckets = 1024
  private[graft] val dsirTarget = col("source").isin("src0", "src1", "src2", "src3")

  /** q78 — DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023 — public): score every document by the
    * log-likelihood ratio of its hashed word-bigram features between a
    * TARGET slice (here sources src0–src3, the "trusted" 20%) and the raw
    * corpus, add-1 smoothed over [[DsirBuckets]] hash buckets. `keep` is
    * the row-local ratio>1 cut (log-weight > 0: the doc looks more
    * target-like than raw-like) — a fixed threshold, never a
    * fraction-sized global top-K (the q15c radius discipline).
    *
    * Determinism discipline (the q70 convention): the per-bucket log
    * ratio is computed ONCE (identical operand structure in both
    * engines), rounded to 6, cast DECIMAL(20,6); per-doc weights are
    * exact DECIMAL sums of those — association-free, so engine
    * aggregation order cannot move a hash-match.
    *
    * Scale shape: TWO gram-explode scans and zero caching. Scan one
    * partial-aggregates the (bucket, is_tgt) histogram — ≤ 2·B rows, a
    * bounded driver collect (the repo's bounded-metadata convention) from
    * which the totals and the B-row log-ratio table derive entirely
    * driver-side; scan two joins that table back (broadcast local
    * relation) and aggregates per doc. Re-deriving the grams once beats
    * the r13 shape this replaced — persist(MEMORY_AND_DISK) of the FULL
    * gram stream (corpus-scale cache, ~2× text bytes) plus two extra
    * count jobs, and the persist leaked a cache entry per invocation
    * (advisor find): exact integer histograms recompute bit-identically,
    * so the cache bought determinism nothing. The vocabulary never
    * shuffles — the hash bounds every intermediate at B rows.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsFor(
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism),
      dsirTarget)

  /** Core of [[dsirWeights]], parameterized on the corpus frame and the
    * target predicate (spec surface). */
  def dsirWeightsFor(docs: DataFrame, isTarget: org.apache.spark.sql.Column)
      : DataFrame = {
    val toks = TextStats.tokens(col("text"))
    val nG = greatest(size(toks) - 1, lit(0))
    val grams = zip_with(
      slice(toks, lit(1), nG), slice(toks, lit(2), nG),
      (a, b) => concat_ws(" ", a, b))
    val docGrams = docs
      .select(col("doc_id"), isTarget.as("is_tgt"), explode(grams).as("gram"))
      .withColumn("bucket",
        conv(substring(md5(col("gram")), 1, 6), 16, 10).cast("long")
          % DsirBuckets)
    // ≤ 2·B rows — bounded in B, never in corpus size
    val hist = docGrams.groupBy("bucket", "is_tgt")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    val totRaw = hist.map(_._3).sum
    val totTgt = hist.collect { case (_, true, n) => n }.sum
    val nTgtByBucket = hist.collect { case (b, true, n) => b -> n }.toMap
    // Per-bucket log ratio, identical operand structure to the r13 Spark
    // expression and the DuckDB twin: (n_tgt+1)/(totTgt+B) over
    // (n_raw+1)/(totRaw+B), one ln (java.lang.Math.log — what Spark's
    // `log` evaluates), rounded 6 HALF_UP from the double's shortest
    // decimal representation (BigDecimal.valueOf — what Spark's `round`
    // does), carried as DECIMAL(20,6).
    val lpRows = hist.groupBy(_._1).toSeq.map { case (b, rows) =>
      val nRaw = rows.map(_._3).sum
      val nTgt = nTgtByBucket.getOrElse(b, 0L)
      val ratio = ((nTgt + 1L).toDouble / (totTgt + DsirBuckets).toDouble) /
        ((nRaw + 1L).toDouble / (totRaw + DsirBuckets).toDouble)
      org.apache.spark.sql.Row(b, java.math.BigDecimal.valueOf(math.log(ratio))
        .setScale(6, java.math.RoundingMode.HALF_UP))
    }
    import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}
    val lpTable = docs.sparkSession.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(lpRows).asJava),
      StructType(Seq(
        StructField("bucket", LongType, nullable = false),
        StructField("lp", DecimalType(20, 6), nullable = false))))
    docGrams.join(broadcast(lpTable), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("lp")).as("w"))
      .select(col("doc_id"), col("n_grams"),
        round(col("w").cast("double"), 6).as("weight"),
        (col("w") > lit(0)).as("keep"))
  }

  /** Twin CTE prefix shared by q78/q79: identical gram/bucket/smoothing
    * arithmetic — the log ratio is one `ln` over the same division
    * structure, rounded then DECIMAL-summed; the hex→BIGINT bucket is
    * DuckDB's 0x-string cast vs Spark's `conv`, verified equal.
    */
  private val dsirCtes: String =
    s"""WITH t AS (SELECT doc_id,
      |    source IN ('src0','src1','src2','src3') AS is_tgt,
      |    $dToks AS toks FROM documents),
      |g AS (SELECT doc_id, is_tgt,
      |    CAST(concat('0x', substr(md5(gram), 1, 6)) AS BIGINT) % $DsirBuckets AS bucket
      |  FROM (SELECT doc_id, is_tgt,
      |          unnest(list_transform(range(1, greatest(len(toks), 1)),
      |            i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t)),
      |tot AS (SELECT count(*) AS tr, count(*) FILTER (is_tgt) AS tt FROM g),
      |rawb AS (SELECT bucket, count(*) AS n_raw FROM g GROUP BY 1),
      |tgtb AS (SELECT bucket, count(*) AS n_tgt FROM g WHERE is_tgt GROUP BY 1),
      |lp AS (SELECT r.bucket,
      |    CAST(round(ln(
      |      (CAST(coalesce(n_tgt, 0) + 1 AS DOUBLE) / CAST(tt + $DsirBuckets AS DOUBLE))
      |      / (CAST(n_raw + 1 AS DOUBLE) / CAST(tr + $DsirBuckets AS DOUBLE))), 6)
      |      AS DECIMAL(20,6)) AS lp
      |  FROM rawb r LEFT JOIN tgtb USING (bucket) CROSS JOIN tot)""".stripMargin

  private val q78Oracle: String =
    s"""$dsirCtes
      |SELECT doc_id, count(*) AS n_grams,
      |  round(CAST(sum(lp) AS DOUBLE), 6) AS weight,
      |  sum(lp) > 0 AS keep
      |FROM g JOIN lp USING (bucket) GROUP BY doc_id""".stripMargin

  /** Size of the q79 resample — a model constant, so the global top-K
    * lowers to TakeOrderedAndProject (per-partition heaps of K rows),
    * never a fraction-sized window (the q15c rule). */
  private val DsirSampleK = 100

  /** q79 — DSIR RESAMPLING, the second half of Xie et al. 2023: sample
    * [[DsirSampleK]] documents WITHOUT replacement proportionally to
    * their importance weights via the Gumbel-top-k identity
    * (key = log-weight + Gumbel noise; the top K keys are a weighted
    * sample). The "noise" is deterministic — Gumbel-inverse-transformed
    * from the md5(doc_id) uniform (the [[graft.operators.Sampling]]
    * hash-uniform convention) — so the draw is retry-stable and
    * oracle-checkable; keys round to 6 before ranking with doc_id the
    * tie-break, the repo's total-order discipline.
    *
    * Scale shape: q78's bounded pipeline plus one fixed-K
    * TakeOrderedAndProject — no new shuffle class.
    */
  def dsirResample(spark: SparkSession, dir: String): DataFrame =
    dsirResampleFrom(dsirWeights(spark, dir), DsirSampleK)

  /** Gumbel-top-k over any (doc_id, weight) frame (spec surface). */
  def dsirResampleFrom(weights: DataFrame, k: Int): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("double") + lit(0.5)) / lit(16777216.0)
    weights
      .select(col("doc_id"), col("weight"),
        round(col("weight") - log(-log(u)), 6).as("skey"))
      .orderBy(desc("skey"), asc("doc_id"))
      .limit(k)
  }

  private val q79Oracle: String =
    s"""$dsirCtes,
      |w AS (SELECT doc_id, round(CAST(sum(lp) AS DOUBLE), 6) AS weight
      |      FROM g JOIN lp USING (bucket) GROUP BY doc_id)
      |SELECT doc_id, weight,
      |  round(weight - ln(-ln(
      |    (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 0.5)
      |    / 16777216.0)), 6) AS skey
      |FROM w ORDER BY skey DESC, doc_id LIMIT $DsirSampleK""".stripMargin

  /** q73 — per-label mean-pooled embedding, long format: the
    * bit-deterministic DECIMAL-summed centroid/mean-pool table
    * ([[Similarity.meanPool]], the mean of every [[Similarity.kmeansFit]]
    * round) — the collapse-chunks-to-document-vector /
    * publish-centroid-table step of an embedding pipeline, oracle-checked.
    */
  def labelMeanPool(spark: SparkSession, dir: String): DataFrame =
    Similarity.meanPool(embeddings(spark, dir), "label", "embedding")

  /** Twin: identical arithmetic — 6-decimal round, DECIMAL(18,6) exact
    * sum, double division, 6-decimal round — via a struct-unnest (DuckDB
    * has no posexplode; `list_transform(range(...))` + `unnest` carries
    * the 1-based position).
    */
  private val q73Oracle: String =
    """WITH e AS (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings),
      |x AS (SELECT label,
      |        unnest(list_transform(range(len(emb)), i ->
      |          {'pos': i + 1, 'xd': CAST(round(emb[i+1], 6) AS DECIMAL(18,6))})) AS u
      |      FROM e),
      |s AS (SELECT label, u.pos AS dim_pos,
      |        CAST(sum(u.xd) * 1000000 AS BIGINT) AS sI, count(*) AS n
      |      FROM x GROUP BY 1, 2)
      |SELECT label, dim_pos,
      |  CAST(CASE WHEN sI < 0 THEN -((2 * abs(sI) + n) // (2 * n))
      |            ELSE (2 * abs(sI) + n) // (2 * n) END AS DOUBLE)
      |    / 1000000.0 AS mean_val,
      |  n AS n_vecs
      |FROM s""".stripMargin

  /** Seed-centroid id bound: inactive at the oracle-test scales (every
    * base-fixture vec_id is below it) and pins k = 20 at the replica
    * scales, where id offsets exceed it. `private[graft]` (with
    * [[KmeansSeedStride]]) so specs (PrototypePruneSpec) use the
    * registered configuration instead of re-typing its literals
    * (r15 advice). */
  private[graft] val KmeansCentroidIdBound = 2000L

  /** Seed-centroid residue stride for q81/q82/q86: `id % 100 = 0`. */
  private[graft] val KmeansSeedStride = 100L

  /** THE pinned q81/q82/q86 seed set over an (id, emb) frame — the one
    * definition the registered queries share. */
  private[graft] def kmeansSeedSet(e: DataFrame): DataFrame =
    e.filter(col("id") % KmeansSeedStride === 0 &&
      col("id") < KmeansCentroidIdBound)

  /** q81 — one distributed LLOYD STEP, oracle-exact: assign every vector
    * to its nearest current centroid ([[Similarity.ivfAssign]] — the q16
    * assignment machinery, broadcast centroids, struct-ordered min_by,
    * never an N×K materialization) and recompute each bucket's centroid
    * with [[Similarity.meanPool]]'s integer-space-rounded DECIMAL means
    * (the q73 machinery) — the bit-stable step every
    * [[Similarity.kmeansFit]] round runs. Output: the refined centroid
    * TABLE, long format (bucket, dim_pos, mean_val, n_vecs).
    *
    * Scale shape: one corpus pass per Lloyd round — the assignment is a
    * broadcast-centroid scan (K ≪ N), the recompute one (bucket, dim)
    * partial-aggregated shuffle whose output is K·d rows. The SemDeDup /
    * IVF-build refinement step at any corpus size. k is a MODEL constant
    * (the modeler picks it), never a corpus fraction: the seed set is the
    * base fixture's 20 residue-0 ids pinned by [[KmeansCentroidIdBound]],
    * so assignment work stays N·k linear in the corpus — the first
    * (%100-fraction) form measured 1.5/2.7/49.7 s across the decades, the
    * q16e fixed-fraction degeneration reproduced on a Lloyd step, and was
    * replaced on the record.
    */
  def kmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("emb"))
    val assigned = Similarity.ivfAssign(e,
      kmeansSeedSet(e))
    Similarity.meanPool(assigned, "bucket", "emb")
  }

  /** Lloyd round cap for q82 — fixed and small so the DuckDB twin can
    * unroll them as chained CTEs (the q75 merge-table convention). */
  private val KmeansFitRounds = 2

  /** q82 — ITERATED k-means ([[Similarity.kmeansFit]]): q81's oracle-exact
    * Lloyd step run for up to [[KmeansFitRounds]] rounds from the same
    * pinned seed set, the refined centroid table fed back between rounds.
    * Every intermediate is 6-decimal exact arithmetic, so round 2's
    * assignment scores both engines compute are bit-identical inputs — the
    * whole FIT is cross-engine checkable, not just one step. An early stop
    * at a fixed point repeats itself, so the output equals the unrolled
    * twin's. Output: the final round's long-format centroid table.
    */
  def kmeansFitQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("emb"))
    Similarity.kmeansFit(e, kmeansSeedSet(e), KmeansFitRounds)._1
  }

  /** Round cap for q86 — the oracle unrolls exactly this many Lloyd
    * rounds. The engine may stop EARLIER at a fixed point; that is safe
    * because a fixed point reproduces itself, so the M-round twin is
    * hash-identical to any early stop (see [[Similarity.kmeansFit]]). */
  private[graft] val KmeansConvergeMaxRounds = 6

  /** q86 — CONVERGENCE-DRIVEN k-means ([[Similarity.kmeansFit]]): q82's
    * loop with a round cap of [[KmeansConvergeMaxRounds]], so it stops at
    * the first centroid fixed point instead of a pinned round count — the
    * shape a real fit runs (rounds track cluster geometry, not corpus size;
    * the CC loop's convergence discipline applied to Lloyd). Same pinned
    * seed set as q81/q82.
    */
  def kmeansConvergedQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("emb"))
    Similarity.kmeansFit(e, kmeansSeedSet(e), KmeansConvergeMaxRounds)._1
  }

  /** The Lloyd twin's CTEs: the pinned seed set (`c0`), then `rounds`
    * unrolled Lloyd rounds — the q16 assignment tie-break (`a<r>`), DECIMAL
    * component sums (`x<r>`, `s<r>`) and, for every round whose centroids
    * feed a further assignment, the half-away-from-zero integer mean
    * (`m<r>`) rebuilt wide with `list(... ORDER BY dim_pos)` (`c<r>`,
    * `c<r>n`). `wideLast` rebuilds the last round's centroids too. */
  private def lloydCtes(rounds: Int, wideLast: Boolean): String = {
    val roundCtes = (1 to rounds).map { e =>
      val cSrc = if (e == 1) "c0" else s"c${e - 1}n"
      val core =
        s"""a$e AS (
           |  SELECT id, emb, c_id AS bucket FROM (
           |    SELECT n.id, n.emb, c.c_id,
           |      row_number() OVER (PARTITION BY n.id
           |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
           |    FROM n, $cSrc c) WHERE r = 1),
           |x$e AS (SELECT bucket,
           |         unnest(list_transform(range(len(emb)), i ->
           |           {'pos': i + 1, 'xd': CAST(round(emb[i+1], 6) AS DECIMAL(18,6))})) AS u
           |       FROM a$e),
           |s$e AS (SELECT bucket, u.pos AS dim_pos,
           |         CAST(sum(u.xd) * 1000000 AS BIGINT) AS sI, count(*) AS n
           |       FROM x$e GROUP BY 1, 2)""".stripMargin
      if (e == rounds && !wideLast) core
      else core + ",\n" +
        s"""m$e AS (SELECT bucket, dim_pos,
           |         CAST(CASE WHEN sI < 0 THEN -((2 * abs(sI) + n) // (2 * n))
           |                   ELSE (2 * abs(sI) + n) // (2 * n) END AS DOUBLE)
           |           / 1000000.0 AS mean_val
           |       FROM s$e),
           |c$e AS (SELECT bucket AS c_id, list(mean_val ORDER BY dim_pos) AS c_emb
           |       FROM m$e GROUP BY 1),
           |c${e}n AS (SELECT c_id, c_emb, sqrt(list_dot_product(c_emb, c_emb)) AS c_nrm FROM c$e)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |c0 AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n
       |       WHERE id % $KmeansSeedStride = 0 AND id < $KmeansCentroidIdBound),
       |$roundCtes""".stripMargin
  }

  /** The Lloyd twin: [[lloydCtes]] through round `rounds`, then that
    * round's long-format centroid table — q81 is one round, q82
    * [[KmeansFitRounds]], q86 [[KmeansConvergeMaxRounds]]. */
  private def dLloydOracle(rounds: Int): String =
    lloydCtes(rounds, wideLast = false) + "\n" +
    s"""SELECT bucket, dim_pos,
       |  CAST(CASE WHEN sI < 0 THEN -((2 * abs(sI) + n) // (2 * n))
       |            ELSE (2 * abs(sI) + n) // (2 * n) END AS DOUBLE)
       |    / 1000000.0 AS mean_val,
       |  n AS n_vecs
       |FROM s$rounds""".stripMargin

  /** Hash-bucket count for the q85 classifier — the model (weights the
    * driver holds and broadcasts) is O([[ClfBuckets]]) regardless of
    * vocabulary size, the same bound that makes q78's DSIR tables
    * 100 TB-safe. */
  private[graft] val ClfBuckets = 512

  /** Training epochs for q85 — fixed and small so the DuckDB twin can
    * unroll them as chained CTEs (the q82/q84 convention). */
  private[graft] val ClfEpochs = 2

  /** The q85 training slice: a deterministic 40% of the corpus. The
    * modulus survives the scale-replica construction (doc_id offsets are
    * multiples of 10⁶), so the train/score split keeps its shape at every
    * decade. */
  private[graft] val clfTrain = col("doc_id") % 5 < 2

  /** q85 — SUPERVISED QUALITY CLASSIFIER ([[Classifier.trainScore]]):
    * hashed-feature logistic regression trained in-engine on a labeled
    * slice (labels = the q78 trusted-source predicate; slice = 40% by
    * doc_id), scored corpus-wide — the CCNet/fastText trained-filter leg
    * of the curation stack. [[ClfEpochs]] full-batch epochs, learning
    * rate 1/2 folded into an exact integer division; every aggregate is
    * BIGINT micro-units, so the whole FIT is cross-engine checkable (the
    * q82 iterated-fit discipline applied to a gradient loop).
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    Classifier.trainScore(
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism),
      dsirTarget, clfTrain, ClfBuckets, ClfEpochs)

  /** q88 — HELD-OUT EVALUATION of the q85 classifier (r15 verdict #3):
    * train on the 40% slice, measure on the other 60% — confusion counts
    * plus precision/recall as exact integer-space ratios
    * ([[intRatio6]]). One row; the read a curation team takes before
    * trusting the filter corpus-wide. `ClassifierSpec` pins a separable
    * fixture where the held-out metrics are exactly 1.0.
    */
  def classifierEval(spark: SparkSession, dir: String): DataFrame =
    qualityClassifier(spark, dir).filter(!col("is_train"))
      .agg(
        count(lit(1)).as("n_heldout"),
        sum(when(col("keep") && col("is_target"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("keep") && !col("is_target"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("keep") && col("is_target"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("keep") && !col("is_target"), 1L).otherwise(0L)).as("tn"))
      .select(col("n_heldout"), col("tp"), col("fp"), col("fn"), col("tn"),
        intRatio6("tp", "(tp + fp)").as("precision_keep"),
        intRatio6("tp", "(tp + fn)").as("recall_target"))

  /** Twin: [[ClfEpochs]] unrolled gradient epochs — margins (feature ⋈
    * weights), residual (integer hard sigmoid: clamped ½ + m/4, the
    * half-away-from-zero quarter — no transcendental; see
    * [[Classifier.hardSigmoidI]] for why the original `exp` was
    * replaced), per-bucket gradient, half-away-from-zero integer update
    * (the q81 meanPool CASE with the 1/2 rate folded into the
    * denominator), then the corpus-wide scoring join. Generated by a
    * loop so the epoch count is one constant in both engines.
    */
  /** The q85 CTE chain through `ms` (the final corpus-wide margin),
    * shared with q88's held-out evaluation tail. */
  private val q85Ctes: String = {
    val B = ClfBuckets
    def upd(wPrev: String, g: String, out: String) =
      s"""$out AS (SELECT w.bucket, w.wI - (CASE WHEN coalesce(g.gI, 0) < 0
         |    THEN -((2 * abs(coalesce(g.gI, 0)) + 2 * ntr.n) // (4 * ntr.n))
         |    ELSE ((2 * coalesce(g.gI, 0) + 2 * ntr.n) // (4 * ntr.n)) END) AS wI
         |  FROM $wPrev w LEFT JOIN $g g USING (bucket) CROSS JOIN ntr)""".stripMargin
    val epochs = (1 to ClfEpochs).map { e =>
      val wPrev = s"w${e - 1}"
      s"""m$e AS (SELECT f.doc_id, sum(w.wI * f.cnt) AS mI
         |  FROM ftr f JOIN $wPrev w USING (bucket) GROUP BY 1),
         |r$e AS (SELECT m.doc_id,
         |    greatest(0, least(1000000, 500000 + (CASE WHEN m.mI < 0
         |      THEN -((2 * abs(m.mI) + 4) // 8)
         |      ELSE ((2 * m.mI + 4) // 8) END)))
         |      - CASE WHEN t.y THEN 1000000 ELSE 0 END AS rI
         |  FROM m$e m JOIN t USING (doc_id)),
         |g$e AS (SELECT f.bucket, sum(r.rI * f.cnt) AS gI
         |  FROM ftr f JOIN r$e r USING (doc_id) GROUP BY 1),
         |${upd(wPrev, s"g$e", s"w$e")}""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id,
      |    source IN ('src0','src1','src2','src3') AS y,
      |    doc_id % 5 < 2 AS is_train, $dToks AS toks FROM documents),
      |f AS (SELECT doc_id, bucket, count(*) AS cnt FROM (
      |    SELECT doc_id,
      |      CAST(concat('0x', substr(md5(tok), 1, 6)) AS BIGINT) % $B AS bucket
      |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)) GROUP BY 1, 2
      |  UNION ALL SELECT doc_id, -1, 1 FROM t),
      |ftr AS (SELECT f.doc_id, f.bucket, f.cnt
      |  FROM f JOIN t USING (doc_id) WHERE t.is_train),
      |ntr AS (SELECT count(*) AS n FROM t WHERE is_train),
      |w0 AS (SELECT unnest(range(-1, $B)) AS bucket, CAST(0 AS BIGINT) AS wI),
      |$epochs,
      |ms AS (SELECT f.doc_id, sum(w.wI * f.cnt) AS mI
      |  FROM f JOIN w$ClfEpochs w USING (bucket) GROUP BY 1)""".stripMargin
  }

  private val q85Oracle: String =
    s"""$q85Ctes
      |SELECT t.doc_id, t.y AS is_target, t.is_train, len(t.toks) AS n_feats,
      |  CAST(ms.mI AS DOUBLE) / 1000000.0 AS score, ms.mI > 0 AS keep
      |FROM ms JOIN t USING (doc_id)""".stripMargin

  /** Twin of [[classifierEval]]: the q85 chain, confusion counts over the
    * held-out rows (exact BIGINT CASE sums), then the integer-space
    * ratio rounding ([[sqlIntRatio6]]) for precision/recall.
    */
  private val q88Oracle: String =
    s"""$q85Ctes,
      |cf AS (SELECT count(*) AS n_heldout,
      |    CAST(sum(CASE WHEN ms.mI > 0 AND t.y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN ms.mI > 0 AND NOT t.y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(sum(CASE WHEN ms.mI <= 0 AND t.y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN ms.mI <= 0 AND NOT t.y THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM ms JOIN t USING (doc_id) WHERE NOT t.is_train)
      |SELECT n_heldout, tp, fp, fn, tn,
      |  ${sqlIntRatio6("tp", "(tp + fp)")} AS precision_keep,
      |  ${sqlIntRatio6("tp", "(tp + fn)")} AS recall_target
      |FROM cf""".stripMargin

  /** q74 — Gopher-style quality rule filter ([[TextStats.gopherFlags]])
    * over the rule-exercising fixture corpus (each arm injects one
    * failure mode the single-line synthetic docs cannot produce —
    * bullets, symbol runs, truncation, ellipsis line-ends, digit
    * floods). Reports per-rule metrics beside the keep bit so curation
    * can re-threshold without re-scanning.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    TextStats.gopherFlags(
      DocumentsFixture.gopherCorpusDf(spark, dir), "doc_id", "text")

  /** Twin: identical fixture arms, identical metric arithmetic (counts →
    * 6-decimal-rounded double ratios → threshold conjunction; zero-word
    * docs null out and fail the CASE exactly as Spark's three-valued
    * `when` does). `regexp_extract_all` length stands in for Spark's
    * `regexp_count` (this DuckDB predates it) — same leftmost
    * non-overlapping match semantics.
    */
  private val q74Oracle: String = {
    val stop = dWordHits("toks", TextStats.enStopwords)
    import TextStats.GopherRules._
    s"""WITH corpus AS (${DocumentsFixture.gopherCorpusSql()}),
      |t AS (SELECT doc_id, text, $dToks AS toks, string_split(text, chr(10)) AS lines FROM corpus),
      |m AS (SELECT doc_id,
      |  len(toks) AS n_words,
      |  list_sum(list_transform(toks, t -> len(t))) AS sum_len,
      |  len(regexp_extract_all(text, '${TextStats.symbolPattern}')) AS sym_cnt,
      |  len(list_filter(lines, l -> substr(trim(l),1,1) = '-' OR substr(trim(l),1,1) = '*' OR substr(trim(l),1,1) = '•')) AS bullet_cnt,
      |  len(list_filter(lines, l -> ends_with(trim(l), '...') OR ends_with(trim(l), '…'))) AS ell_cnt,
      |  len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS alpha_cnt,
      |  len(lines) AS n_lines,
      |  $stop AS stop_hits
      |FROM t),
      |r AS (SELECT doc_id, n_words,
      |  CASE WHEN n_words = 0 THEN NULL ELSE round(CAST(sum_len AS DOUBLE)/n_words, 6) END AS mean_word_len,
      |  CASE WHEN n_words = 0 THEN NULL ELSE round(CAST(sym_cnt AS DOUBLE)/n_words, 6) END AS symbol_ratio,
      |  CASE WHEN n_lines = 0 THEN NULL ELSE round(CAST(bullet_cnt AS DOUBLE)/n_lines, 6) END AS bullet_ratio,
      |  CASE WHEN n_lines = 0 THEN NULL ELSE round(CAST(ell_cnt AS DOUBLE)/n_lines, 6) END AS ellipsis_ratio,
      |  CASE WHEN n_words = 0 THEN NULL ELSE round(CAST(alpha_cnt AS DOUBLE)/n_words, 6) END AS alpha_ratio,
      |  stop_hits FROM m)
      |SELECT *, CASE WHEN n_words BETWEEN $MinWords AND $MaxWords
      |  AND mean_word_len BETWEEN $MinMeanLen AND $MaxMeanLen
      |  AND symbol_ratio <= $MaxSymbolRatio AND bullet_ratio <= $MaxBulletRatio
      |  AND ellipsis_ratio <= $MaxEllipsisRatio AND alpha_ratio >= $MinAlphaRatio
      |  AND stop_hits >= $MinStopHits THEN 1 ELSE 0 END AS keep
      |FROM r""".stripMargin
  }

  private val LshPlanes = 4
  private val LshDims = 64

  def annLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(embeddings(spark, dir), "vec_id", "embedding",
      col("id") % 50 === 0, k = 5, nPlanes = LshPlanes, dims = LshDims)

  /** DuckDB twin of the hyperplane-LSH ANN: the ±1 plane literals come from
    * the SAME [[Similarity.hyperplanes]] constant the Spark plan uses, so
    * bucket assignment (sign of the 6-decimal-rounded dot product) is
    * engine-independent by construction; multi-probe = query's bucket plus
    * each single-bit `xor` flip.
    */
  private val q16cOracle: String = {
    val planes = Similarity.hyperplanes(LshPlanes, LshDims)
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"CASE WHEN round(list_dot_product(emb, $arr), 6) > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    val probes = "bucket" +: (0 until LshPlanes).map(i => s"xor(bucket, ${1L << i})")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |assigned AS (SELECT id, emb, nrm, CAST($bucketExpr AS BIGINT) AS bucket FROM n),
       |q AS (SELECT id AS query_id, emb AS q_emb, nrm AS q_nrm,
       |        unnest([${probes.mkString(", ")}]) AS bucket
       |      FROM assigned WHERE id % 50 = 0),
       |pairs AS (
       |  SELECT q.query_id, a.id AS neighbor_id,
       |    round(list_dot_product(a.emb, q.q_emb) / (a.nrm * q.q_nrm), 6) AS score
       |  FROM assigned a JOIN q ON a.bucket = q.bucket AND a.id <> q.query_id),
       |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM pairs)
       |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin
  }

  private val LshTables = 8

  /** q16e — hyperplane LSH at ITS calibrated ≥0.9-recall operating point,
    * closing the gap q16d left: IVF had a measured high-recall setting
    * (nprobe=4, recall 0.95) while LSH's single-table ceiling on the
    * isotropic fixture is 0.46 — its worst case, since every direction is
    * equally likely to land near a hyperplane. The standard fix is more
    * TABLES, not more probes: SimilaritySpec's calibration measures
    * recall@10 = 0.46 / 0.92 / 0.99 at L = 1/4/8 multi-probe tables
    * (survival 1−(1−p)^L), so L=8 is the registered operating point, same
    * bar as q16d. Candidate cost stays linear in L (the big side
    * replicates ×8 through the one bucket-join shuffle — see
    * [[Similarity.lshTopKTables]]).
    *
    * Registered as `q16e_ann_lsh_fixed` (renamed r13, VERDICT r12 ask #6):
    * the FIXED geometry is this query's declared role — a measured
    * contrast whose recall silently decays as the corpus grows (54×/decade
    * wall at the 100× replica, BASELINE.md r12 ladder). The scale paths
    * are q16g (adaptive LSH, recall held by construction) and q16f
    * (adaptive IVF, the production ANN).
    */
  def annLshTables(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopKTables(embeddings(spark, dir), "vec_id", "embedding",
      col("id") % 50 === 0, k = 5,
      nPlanes = LshPlanes, nTables = LshTables, dims = LshDims)

  /** DuckDB twin of the multi-table LSH: all `L` per-table buckets are a
    * list indexed by an unnested table id (plane literals shared with the
    * Spark plan, as in [[q16cOracle]]); the join keys on (table, bucket)
    * and pairs DEDUP before ranking — the same pair can collide in
    * several tables.
    */
  private val q16eOracle: String = {
    val bucketExprs = (0 until LshTables).map { t =>
      val planes = Similarity.hyperplanes(LshPlanes, LshDims, 42L + t)
      planes.zipWithIndex.map { case (p, i) =>
        val arr = p.map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        s"CASE WHEN round(list_dot_product(emb, $arr), 6) > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString("CAST(", " + ", " AS BIGINT)")
    }
    val probes = "bucket" +: (0 until LshPlanes).map(i => s"xor(bucket, ${1L << i})")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm,
       |        [${bucketExprs.mkString(", ")}] AS bks FROM e),
       |assigned AS (SELECT id, emb, nrm, t.tbl, bks[t.tbl + 1] AS bucket
       |             FROM n, (SELECT unnest(range($LshTables)) AS tbl) t),
       |q AS (SELECT id AS query_id, q_emb, q_nrm, tbl,
       |        unnest([${probes.mkString(", ")}]) AS bucket
       |      FROM (SELECT id, emb AS q_emb, nrm AS q_nrm, tbl, bucket
       |            FROM assigned WHERE id % 50 = 0)),
       |pairs AS (
       |  SELECT DISTINCT q.query_id, a.id AS neighbor_id,
       |    round(list_dot_product(a.emb, q.q_emb) / (a.nrm * q.q_nrm), 6) AS score
       |  FROM assigned a JOIN q ON a.tbl = q.tbl AND a.bucket = q.bucket
       |    AND a.id <> q.query_id),
       |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM pairs)
       |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin
  }

  /** q16g — hyperplane LSH at SCALE-ADAPTIVE geometry, the honest fix
    * q16e's scaladoc sketched: `nPlanes` = smallest np with
    * `32 · 2^np ≥ N` (constant expected bucket occupancy — the q48b
    * cells-vs-labels rule applied to bucket geometry; q16e's fixed 4
    * planes degenerated 54×/decade with candidates → 95% of the corpus)
    * and `nTables = ⌈8 · (4/3)^(np−4)⌉` (per-table survival held at the
    * MEASURED compensation ratio, the E2LSH polynomial table cost — see
    * [[Similarity.adaptiveLshGeometry]]). At the 500-row fixture the rule
    * reproduces q16e's calibrated (4 planes, 8 tables) ≥0.9-recall point
    * EXACTLY (same seeds, same planes), so the calibration carries over
    * at calibration scale by construction; SimilaritySpec additionally
    * measures recall at the next geometry step.
    *
    * One bounded `count()` parameterizes the geometry (the q16f
    * convention). The DuckDB twin derives np from the same integer
    * comparison, maps np → nTables through a generated CASE carrying
    * [[Similarity.adaptiveLshTables]]'s integer-exact values, and reads
    * plane signs from packed-BIGINT literals (bit d = sign of dim d)
    * generated from the SAME [[Similarity.hyperplanes]] stream — prefix-
    * stable, so the first np planes of the 16-plane expansion are exactly
    * the np planes the Spark side builds.
    */
  def annLshAdaptive(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
    val (np, nt) = Similarity.adaptiveLshGeometry(emb.count())
    Similarity.lshTopKTables(emb, "vec_id", "embedding",
      annFixedQueryCol, k = 5,
      nPlanes = np, nTables = nt, dims = LshDims)
  }

  /** DuckDB twin of [[annLshAdaptive]]. Geometry is count-derived in SQL
    * through integer-only arithmetic (no cross-engine floating `pow`):
    * np = min i with `32 · 2^i ≥ count(*)` (capped at
    * [[Similarity.LshMaxPlanes]]), nTables via the generated CASE. Plane
    * signs are packed one BIGINT per (table, plane) — `(bb >> d) & 1`
    * decodes dim d's sign (arithmetic shift keeps bit 63 correct) — and
    * the ±1.0 plane vector is rebuilt with `list_transform` so the dot
    * product still flows through the SAME `list_dot_product` + round-6
    * call chain as every other LSH oracle (identical fold order, the
    * repo-wide determinism rule).
    */
  private val q16gOracle: String = {
    val maxNp = Similarity.LshMaxPlanes
    val maxTables = Similarity.adaptiveLshTables(maxNp)
    val bitsLit = (0 until maxTables).map { t =>
      Similarity.hyperplanes(maxNp, LshDims, 42L + t).map { p =>
        p.zipWithIndex.collect { case (v, d) if v > 0 => 1L << d }.sum
      }.mkString("[", ", ", "]")
    }.mkString("[", ",\n      |    ", "]")
    val tableCase = (1 to maxNp)
      .map(np => s"WHEN $np THEN ${Similarity.adaptiveLshTables(np)}")
      .mkString(" ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |prm AS (
      |  SELECT np, CASE np $tableCase END AS lt
      |  FROM (SELECT coalesce((SELECT CAST(min(i) AS INT) FROM range(1, ${maxNp + 1}) t(i)
      |                         WHERE 32 * (CAST(1 AS BIGINT) << i) >= (SELECT count(*) FROM e)),
      |                        $maxNp) AS np)),
      |bits AS (SELECT $bitsLit AS bb),
      |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |assigned AS (
      |  SELECT id, emb, nrm, t.tbl,
      |    CAST(list_sum(list_transform(range(prm.np), i ->
      |      CASE WHEN round(list_dot_product(emb,
      |             CAST(list_transform(range($LshDims), d ->
      |               CASE WHEN (bb[CAST(t.tbl AS INT) + 1][CAST(i AS INT) + 1] >> d) & 1 = 1
      |                    THEN 1.0 ELSE -1.0 END) AS DOUBLE[])), 6) > 0
      |           THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
      |  FROM n, prm, bits, (SELECT unnest(range((SELECT lt FROM prm))) AS tbl) t),
      |q AS (SELECT query_id, q_emb, q_nrm, tbl, unnest(pbs) AS bucket
      |      FROM (SELECT id AS query_id, emb AS q_emb, nrm AS q_nrm, tbl,
      |              list_prepend(bucket, list_transform(range(prm.np), i ->
      |                xor(bucket, CAST(1 AS BIGINT) << i))) AS pbs
      |            FROM assigned, prm WHERE ${annFixedQuerySql("id")})),
      |pairs AS (
      |  SELECT DISTINCT q.query_id, a.id AS neighbor_id,
      |    round(list_dot_product(a.emb, q.q_emb) / (a.nrm * q.q_nrm), 6) AS score
      |  FROM assigned a JOIN q ON a.tbl = q.tbl AND a.bucket = q.bucket
      |    AND a.id <> q.query_id),
      |ranked AS (SELECT *, rank() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS r FROM pairs)
      |SELECT query_id, neighbor_id, score FROM ranked WHERE r <= 5""".stripMargin
  }

  def embedNearest(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearestInBlock(embeddings(spark, dir), "vec_id", "embedding", col("label"))

  private val q17Oracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
      |n AS (SELECT vec_id AS id, label AS block, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |pairs AS (
      |  SELECT a.id, b.id AS neighbor_id,
      |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS score
      |  FROM n a JOIN n b ON a.block = b.block AND a.id <> b.id),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, neighbor_id) AS r FROM pairs)
      |SELECT id AS vec_id, neighbor_id, score FROM ranked WHERE r = 1""".stripMargin

  // ---- q18: multimodal binary features ---------------------------------

  /** Declarative features over the synthesized binary media column (the
    * SQL-expressible path; the batched mapPartitions decode path is
    * exercised in MultimodalSpec).
    */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Multimodal.binaryFeatures(Tables.documents(spark, dir))

  private val q18Oracle: String =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |  substr(upper(hex(encode(text))), 1, 16) AS head_hex
      |FROM documents""".stripMargin

  // ---- q83: image near-dup (perceptual dHash + banded Hamming) ----------

  /** q83 — IMAGE near-duplicate pairs, the multimodal dedup leg: encode a
    * real BMP per document ([[graft.fixtures.ImagesFixture]]), decode it
    * through the `javax.imageio` pipeline, dHash the pixel grid
    * ([[graft.llm.Multimodal.dhash]]), and band the 64-bit hashes through
    * the exact q64 SimHash pair machinery ([[graft.llm.Dedup.simhashPairs]]
    * — shared code, so image and text near-dup can never drift in blocking
    * semantics). Output (id_a, id_b, hamming), hamming ≤ 6.
    *
    * The oracle never decodes a pixel: the fixture geometry makes the
    * decoded hash EQUAL to a closed-form integer function of doc_id
    * (see [[graft.fixtures.ImagesFixture]]'s exactness argument, pinned by
    * `MultimodalSpec`), so DuckDB recomputes hash, bands, candidate join,
    * and Hamming verify in pure integer arithmetic. The engine still earns
    * the row the hard way — through the real encode → decode →
    * area-average → gradient path.
    *
    * Scale shape: one batched decode pass (mapPartitions, the justified
    * site), then [[graft.llm.Dedup.simhashPairs]]'s banded bucket join on
    * 16-byte rows — never all-pairs on the corpus; the text ladder's
    * 3.6×/decade shape carries over because the pairing stage is the same
    * operator.
    */
  def imageNearDup(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Multimodal.imageDupPairs(
      graft.fixtures.ImagesFixture.imageCorpus(spark, dir))

  /** Twin: [[graft.fixtures.ImagesFixture.cellValue]] re-expressed in SQL
    * (`//`/`%` match floorDiv/floorMod), gradient-sign bits summed into
    * the 64-bit hash (bit 63 via the explicit Long.MinValue literal —
    * `1::BIGINT << 63` overflow semantics are engine-specific), then the
    * q64 band split ((hash >> 8j) & 255 — arithmetic-vs-logical shift is
    * masked out), distinct candidate join, exact Hamming ≤ 6.
    */
  private val q83Oracle: String = {
    import graft.fixtures.ImagesFixture.{EditDelta, Patterns, ReplicaBand,
      MixM, MixSeedMult, MixStepMult}
    // The per-replica-band cell mix mirrors ImagesFixture.cellValue term
    // for term (every factor reduced mod MixM before multiplying — DuckDB
    // ERRORS on BIGINT overflow, so the bound is part of the contract).
    // Band 0 — every oracle-scale corpus — gates to 0.
    val mixSeed = s"(((doc_id // $ReplicaBand) % $MixM) * $MixSeedMult) % $MixM"
    val mixV = s"((($mixSeed) + 1) * ((doc_id % $Patterns) * 73" +
      s" + gy.range * 9 + gx.range + 1)) % $MixM"
    val mix = s"CASE WHEN doc_id // $ReplicaBand = 0 THEN 0 ELSE" +
      s" (((($mixV) * ($mixV)) % $MixM * $MixStepMult + ($mixV)) % $MixM) % 199 END"
    s"""WITH cells AS (
       |  SELECT doc_id, gy.range AS gy, gx.range AS gx,
       |    (((doc_id % $Patterns) * gx.range * 129
       |     + (doc_id % $Patterns) * gy.range * 127
       |     + gx.range * gy.range * 97 + gx.range * 143 + gy.range * 112
       |     + (doc_id % $Patterns) * 7) % 199
       |     + $mix) % 199
       |    + CASE WHEN ((doc_id // $Patterns) % 3 = 1
       |                  AND gx.range = 2 AND gy.range = 3)
       |             OR ((doc_id // $Patterns) % 3 = 2
       |                  AND ((gx.range = 2 AND gy.range = 3)
       |                    OR (gx.range = 5 AND gy.range = 6)))
       |           THEN $EditDelta ELSE 0 END AS v
       |  FROM (SELECT doc_id FROM documents) ids,
       |       range(0, 8) gy, range(0, 9) gx),
       |bits AS (
       |  SELECT a.doc_id,
       |    CASE WHEN a.v < b.v THEN
       |      CASE WHEN a.gy * 8 + a.gx = 63 THEN -9223372036854775807 - 1
       |           ELSE (1::BIGINT << (a.gy * 8 + a.gx)) END
       |    ELSE 0 END AS bit
       |  FROM cells a JOIN cells b
       |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1),
       |h AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS hash
       |      FROM bits GROUP BY 1),
       |banded AS (SELECT doc_id, hash, b.range AS band,
       |    (hash >> (b.range * 8)) & 255 AS bv
       |  FROM h, range(0, 8) b),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.hash AS ha, b.hash AS hb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 6""".stripMargin
  }

  // ---- q19: sessionization (batch form of the streaming aggregation) ---

  private val SessionGapUs = 6L * 3600 * 1000000

  def sessions(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.sessionsBatch(Tables.events(spark, dir), "6 hours")

  /** Gap-sessionization CTE chain (lag → new-session flag → running sid),
    * the DuckDB twin of `session_window(.., 6 hours)` — shared by q19 and
    * the q66 range join, which consumes the same sessions as intervals.
    */
  private val sessionChainSql: String =
    s"""e AS (SELECT user_id, epoch_ns(ts) AS tns FROM events),
       |o AS (SELECT user_id, tns, tns // 1000 AS tus,
       |        lag(tns // 1000) OVER (PARTITION BY user_id ORDER BY tns) AS prev_tus FROM e),
       |f AS (SELECT user_id, tns, tus,
       |        CASE WHEN prev_tus IS NULL OR tus - prev_tus > $SessionGapUs THEN 1 ELSE 0 END AS new_s FROM o),
       |s AS (SELECT user_id, tus,
       |        sum(new_s) OVER (PARTITION BY user_id ORDER BY tns ROWS UNBOUNDED PRECEDING) AS sid FROM f)""".stripMargin

  private val q19Oracle: String =
    s"""WITH $sessionChainSql
       |SELECT user_id, min(tus) AS first_us, max(tus) AS last_us, count(*) AS n_events
       |FROM s GROUP BY user_id, sid""".stripMargin

  // ---- q66: session-overlap audit (binned range join) -------------------

  /** Per session: how many events from OTHER users fall inside the
    * session's [first_us, last_us] span. A point-in-interval join with no
    * equi-key — the shape Spark would plan as a nested loop — executed via
    * [[RangeJoin.pointInInterval]]'s bin decomposition (bin width = the
    * 6-hour session gap, the typical span scale). Overlap counts
    * partial-aggregate per session key BEFORE rejoining the (small,
    * one-row-per-session) count table back, so zero-overlap sessions
    * surface with 0 instead of vanishing from the inner join.
    */
  def sessionOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sess = graft.streaming.Sessionize.sessionsBatch(ev, "6 hours")
    val points = ev.select(
      col("user_id").as("e_user"), expr("ts DIV 1000").as("tus"))
    val hits = RangeJoin
      .pointInInterval(points, "tus", sess, "first_us", "last_us", SessionGapUs)
      .filter(col("e_user") =!= col("user_id"))
    val counts = hits.groupBy(col("user_id"), col("first_us"))
      .agg(count(lit(1)).as("n_foreign"))
    sess.join(counts, Seq("user_id", "first_us"), "left_outer")
      .select(col("user_id"), col("first_us"), col("last_us"), col("n_events"),
        coalesce(col("n_foreign"), lit(0L)).as("n_foreign"))
  }

  /** Twin of q66: the same sessions (shared CTE chain), the range predicate
    * written as a plain BETWEEN left join — DuckDB evaluates the O(P·I)
    * form the bin decomposition exists to avoid; `count(e.tus)` counts
    * matches and yields 0 for an unmatched session, like the Spark side's
    * coalesce-after-left-join.
    */
  private val q66Oracle: String =
    s"""WITH $sessionChainSql,
       |sess AS (SELECT user_id, min(tus) AS first_us, max(tus) AS last_us,
       |    count(*) AS n_events FROM s GROUP BY user_id, sid),
       |ev AS (SELECT user_id AS e_user, epoch_ns(ts) // 1000 AS tus FROM events)
       |SELECT sess.user_id, first_us, last_us, n_events,
       |  CAST(count(ev.tus) AS BIGINT) AS n_foreign
       |FROM sess LEFT JOIN ev ON ev.tus BETWEEN sess.first_us AND sess.last_us
       |  AND ev.e_user <> sess.user_id
       |GROUP BY 1, 2, 3, 4""".stripMargin

  // ---- q21: tumbling-window counts (batch form of the streaming agg) ---

  def windowedCounts(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.WindowedCounts.countsBatch(Tables.events(spark, dir), "1 hour")

  /** Epoch-aligned hour buckets in µs: Spark's `window(ts, "1 hour")` start
    * is exactly `floor(ts_us / 3600e6) * 3600e6`.
    */
  private val q21Oracle: String =
    """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus FROM events)
      |SELECT (tus // 3600000000) * 3600000000 AS bucket_us, event_type,
      |  count(*) AS n_events
      |FROM e GROUP BY 1, 2""".stripMargin

  // ---- q22: PII redaction ----------------------------------------------

  /** PII scrub over documents with deterministic synthetic PII appended
    * (the static corpus has none, so the fixture injects an email, an IPv4,
    * and a phone per row — built from `doc_id`, identically in both
    * engines). Counts are taken stage-by-stage on the progressively
    * redacted text so an IP is never double-counted as a phone.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val injected = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
      lit(".7 or call +1415555"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    docs
      .withColumn("t0", injected)
      .withColumn("t1", regexp_replace(col("t0"), TextStats.emailRe, "<EMAIL>"))
      .withColumn("t2", regexp_replace(col("t1"), TextStats.ipv4Re, "<IP>"))
      .select(
        col("doc_id"),
        TextStats.redactPii(col("t0")).as("clean_text"),
        TextStats.piiCount(col("t0"), TextStats.emailRe).as("n_emails"),
        TextStats.piiCount(col("t1"), TextStats.ipv4Re).as("n_ips"),
        TextStats.piiCount(col("t2"), TextStats.phoneRe).as("n_phones"))
  }

  private val q22Oracle: String = {
    val em = TextStats.emailRe
    val ip = TextStats.ipv4Re
    val ph = TextStats.phoneRe
    s"""WITH d AS (SELECT doc_id,
       |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |  '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
       |  '.7 or call +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
       |  FROM documents),
       |s1 AS (SELECT doc_id, t0, regexp_replace(t0, '$em', '<EMAIL>', 'g') AS t1 FROM d),
       |s2 AS (SELECT *, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM s1)
       |SELECT doc_id,
       |  regexp_replace(t2, '$ph', '<PHONE>', 'g') AS clean_text,
       |  len(regexp_extract_all(t0, '$em')) AS n_emails,
       |  len(regexp_extract_all(t1, '$ip')) AS n_ips,
       |  len(regexp_extract_all(t2, '$ph')) AS n_phones
       |FROM s2""".stripMargin
  }

  // ---- q23: repetition / boilerplate stats -----------------------------

  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        TextStats.dupTokenRatio(col("text")).as("dup_token_ratio"),
        TextStats.dupLineRatio(col("text")).as("dup_line_ratio"),
        TextStats.dupShingleRatio(col("text")).as("dup_shingle_ratio"))

  private val q23Oracle: String =
    s"""WITH t AS (SELECT doc_id, text, $dToks AS toks,
       |    string_split(text, chr(10)) AS lines FROM documents),
       |g AS (SELECT doc_id, toks, lines,
       |    CASE WHEN len(toks) = 0 THEN 0 WHEN len(toks) < 3 THEN 1
       |         ELSE len(toks) - 2 END AS grams,
       |    ${dShingles("toks", 3)} AS sh FROM t)
       |SELECT doc_id,
       |  CASE WHEN len(toks) = 0 THEN 0.0
       |       ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS dup_token_ratio,
       |  CASE WHEN len(lines) = 0 THEN 0.0
       |       ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) END AS dup_line_ratio,
       |  CASE WHEN grams = 0 THEN 0.0
       |       ELSE CAST(grams - len(sh) AS DOUBLE) / grams END AS dup_shingle_ratio
       |FROM g""".stripMargin

  // ---- q24: benchmark decontamination ----------------------------------

  /** Decontamination over the duplicate-injected corpus: docs with
    * `doc_id % BenchMod = 0` stand in for the benchmark set; every non-benchmark
    * doc sharing a 3-gram shingle with it is flagged with its overlap
    * count. The corpus's injected exact/near dups guarantee real overlap.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    Contamination.overlap(DocumentsFixture.corpusDf(spark, dir),
      "doc_id", "text", col("doc_id") % BenchMod === 0, shingleSize = ShingleSize)

  private val q24Oracle: String =
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |${dShingleCtes("corpus", BenchMod)}
       |SELECT l.doc_id, count(DISTINCT l.s) AS n_contaminated_shingles
       |FROM long l JOIN bench b USING (s)
       |WHERE l.doc_id % $BenchMod <> 0
       |GROUP BY l.doc_id""".stripMargin

  // ---- q24b: semantic decontamination ----------------------------------

  /** Benchmark membership for the semantic pass: `vec_id % 48 = 5`. The
    * modulus is deliberately coprime-ish to the fixture's +10000 id
    * offset (48 ∤ 10000), so a benchmark original's injected exact twin
    * (identical vector, id+10000 ≡ 21 mod 48) lands on the TRAINING side
    * — guaranteed cosine-1.0 contamination hits on top of the natural
    * over-threshold pairs. A 100-divisible modulus (the q48b mistake to
    * avoid here) would put every twin back in the benchmark set and
    * leave only the natural pairs.
    */
  private[graft] val SemBenchMod = 48
  private[graft] val SemBenchRem = 5
  private val SemNprobe = 2

  /** Fixed id BOUND on the REGISTERED semantic-benchmark sets (q24c, q89
    * — r17): the benchmark suite is `id < 2000 AND id % 48 = 5`, BOUNDED
    * at every scale, because a production decontamination serves a FIXED
    * eval suite against a growing corpus — the [[AnnFixedQueryIdBound]]
    * argument applied to the bench side. The unbounded `% 48` form makes
    * |bench| ∝ N, and with the adaptive nprobe ∝ √N the probe table is
    * N·√N/240 rows EACH CARRYING the 512-byte query vector (the r13
    * per-probe-payload hazard) and candidate volume is N²·0.2/48 —
    * quadratic by benchmark construction. Measured: the q89 1000× run
    * died in the bench-probe BroadcastExchange ("Not enough memory to
    * build and broadcast"); with the bound it completes (r17 BASELINE
    * section). Every oracle-scale corpus has ids < 2000, so the bound
    * changes NO gated output; replica ids beyond it (k·10⁶ twins of
    * benchmark docs) become ordinary TRAINING docs — which is the correct
    * production semantics: a replica of a benchmark doc in the training
    * corpus is contamination for the probe to CATCH, not a benchmark row.
    * q24b keeps the unbounded form as a declared contrast.
    */
  private[graft] val SemBenchIdBound = 2000L

  /** The bounded benchmark predicate shared by q24c and q89 (Spark side)
    * with [[semBenchSql]] its SQL twin. */
  private def semBenchCol: Column =
    col("id") < SemBenchIdBound && col("id") % SemBenchMod === SemBenchRem

  private def semBenchSql(idCol: String): String =
    s"$idCol < $SemBenchIdBound AND $idCol % $SemBenchMod = $SemBenchRem"

  /** q24b — embedding-space decontamination, the semantic twin of q24:
    * training vectors whose cosine against any benchmark vector reaches
    * the q48 duplicate threshold are flagged with hit count + max score.
    * Cell-blocked corpus side (single nearest-centroid assignment, q16
    * `%100` centroid convention), benchmark side multi-probed at
    * nprobe=2 and broadcast — the corpus never shuffles, exactly q24's
    * "benchmark is small" scale shape transplanted to embedding space.
    */
  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame =
    Contamination.semanticOverlap(
      EmbeddingsFixture.corpusDf(spark, dir), "vec_id", "embedding",
      col("id") % SemBenchMod === SemBenchRem, col("id") % 100 === 0,
      CosineDupThreshold, SemNprobe)

  /** Twin: q48b's assignment CTE split into the training side (top-1
    * cell) and the benchmark side (top-`nprobe` cells, the
    * [[Similarity.probeBuckets]] window), joined on bucket. A training
    * vector occupies exactly one cell, so no pair dedup is needed before
    * the per-vector aggregate — same argument as the Spark plan.
    *
    * A `def`, not a `val`: it interpolates [[CosineDupThreshold]], which
    * is declared LATER in this object — a val here would capture the
    * pre-initialization 0.0 (Scala object vals initialize in declaration
    * order) and silently oracle a different query than Spark runs.
    * `specs` is itself a def, so this builds after full init.
    */
  private def q24bOracle: String =
    s"""WITH corpus AS (${EmbeddingsFixture.corpusSql()}),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM corpus),
       |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |c AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n WHERE id % 100 = 0),
       |train AS (
       |  SELECT id, emb, nrm, c_id AS bucket FROM (
       |    SELECT n.id, n.emb, n.nrm, c.c_id,
       |      row_number() OVER (PARTITION BY n.id
       |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
       |    FROM n, c WHERE n.id % $SemBenchMod <> $SemBenchRem) WHERE r = 1),
       |bench AS (
       |  SELECT id, emb, nrm, c_id AS bucket FROM (
       |    SELECT n.id, n.emb, n.nrm, c.c_id,
       |      row_number() OVER (PARTITION BY n.id
       |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
       |    FROM n, c WHERE n.id % $SemBenchMod = $SemBenchRem) WHERE r <= $SemNprobe),
       |hits AS (
       |  SELECT t.id AS vec_id,
       |    round(list_dot_product(t.emb, b.emb) / (t.nrm * b.nrm), 6) AS score
       |  FROM train t JOIN bench b ON t.bucket = b.bucket)
       |SELECT vec_id, count(*) AS n_bench_hits, max(score) AS max_score
       |FROM hits WHERE score >= $CosineDupThreshold
       |GROUP BY vec_id""".stripMargin

  /** q24c — semantic decontamination at SCALE-ADAPTIVE geometry, the
    * q16f treatment applied to q24b: k = ⌈√N⌉ centroids (stride-selected,
    * count-derived identically in the oracle) and the probed fraction
    * held at [[AdaptiveProbeFraction]] (`nprobe = ⌈0.2·k⌉`) instead of a
    * fixed probe count. Fixes both of q24b's fixture-convention decay
    * modes at once: the `%100` centroid set grows linearly with the
    * corpus (assignment N×N/100, quadratic — q24b's measured ladder
    * turns 9.5×/decade at the second decade,
    * `bench_records/r13_scale_q24b.jsonl`), and a FIXED nprobe probes an
    * ever-smaller fraction of an ever-finer cell grid, silently decaying
    * recall each decade — the q16 lesson, now applied to the eval-leakage
    * check where silent decay means contamination shipping to training.
    *
    * Since r17 the benchmark set is also BOUNDED ([[SemBenchIdBound]]):
    * the unbounded `% 48` suite grew with the corpus and made the probe
    * broadcast N·√N-sized and candidates quadratic — the q89 1000× run
    * measured the broadcast OOM (see the constant's doc). No gated output
    * changes (every oracle-scale id < 2000); q24b keeps the unbounded
    * form as the declared contrast.
    */
  def semanticDecontaminateAdaptive(spark: SparkSession, dir: String): DataFrame = {
    val corpus = EmbeddingsFixture.corpusDf(spark, dir)
    val g = Similarity.ivfGeometry(corpus)
    Contamination.semanticOverlap(corpus, "vec_id", "embedding",
      semBenchCol, col("id") % g.stride === 0,
      CosineDupThreshold, g.nprobe(AdaptiveProbeFraction))
  }

  /** [[q24bOracle]] with the q16f count-derived geometry CTE: stride and
    * nprobe come from `count(*)` over the corpus through the identical
    * integer/double arithmetic the Spark side runs.
    */
  private def q24cOracle: String =
    s"""WITH corpus AS (${EmbeddingsFixture.corpusSql()}),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM corpus),
       |p AS (SELECT greatest(1, count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS stride,
       |             CAST(ceil($AdaptiveProbeFraction * ceil(sqrt(count(*)))) AS BIGINT) AS nprobe
       |      FROM e),
       |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |c AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n
       |      WHERE id % (SELECT stride FROM p) = 0),
       |train AS (
       |  SELECT id, emb, nrm, c_id AS bucket FROM (
       |    SELECT n.id, n.emb, n.nrm, c.c_id,
       |      row_number() OVER (PARTITION BY n.id
       |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
       |    FROM n, c WHERE NOT (${semBenchSql("n.id")})) WHERE r = 1),
       |bench AS (
       |  SELECT id, emb, nrm, c_id AS bucket FROM (
       |    SELECT n.id, n.emb, n.nrm, c.c_id,
       |      row_number() OVER (PARTITION BY n.id
       |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
       |    FROM n, c WHERE ${semBenchSql("n.id")}) WHERE r <= (SELECT nprobe FROM p)),
       |hits AS (
       |  SELECT t.id AS vec_id,
       |    round(list_dot_product(t.emb, b.emb) / (t.nrm * b.nrm), 6) AS score
       |  FROM train t JOIN bench b ON t.bucket = b.bucket)
       |SELECT vec_id, count(*) AS n_bench_hits, max(score) AS max_score
       |FROM hits WHERE score >= $CosineDupThreshold
       |GROUP BY vec_id""".stripMargin

  // ---- q28: deterministic mixing sample --------------------------------

  /** Data-mixing primitives end-to-end: a deterministic 50% hash sample
    * followed by a per-language quota of 30, both keyed on md5(doc_id) so
    * any engine reproduces the exact subset.
    */
  def mixSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    graft.operators.Sampling.stratifiedQuota(
      graft.operators.Sampling.sampleByHash(docs, col("doc_id"), 0.5),
      col("lang"), col("doc_id"), 30)
      .select("doc_id", "lang")
  }

  private val q28Oracle: String = {
    val th = graft.operators.Sampling.rateThresholdHex(0.5)
    s"""WITH s AS (SELECT doc_id, lang FROM documents
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$th'),
       |r AS (SELECT doc_id, lang, row_number() OVER (
       |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM s)
       |SELECT doc_id, lang FROM r WHERE rn <= 30""".stripMargin
  }

  // ---- q29: end-to-end curation ----------------------------------------

  /** The full curation pipeline a training-data user runs, as ONE
    * declarative plan: quality scoring → low-quality + benchmark-doc drop →
    * exact-dedup keep (min id per content hash) → decontamination anti-join
    * → per-language mixing quota. Three shuffles total (dedup group-by,
    * contamination count, quota window) — everything else is narrow.
    */
  def curation(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    val scored = corpus.select(
      col("doc_id"),
      TextStats.contentFingerprint(col("text")).as("content_hash"),
      TextStats.qualityScore(col("text")).as("quality"),
      TextStats.langId(col("text")).as("pred_lang"))
    val deduped = scored
      .filter(col("quality") >= 0.5 && col("doc_id") % BenchMod =!= 0)
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id"),
        // identical content => identical pred_lang; min() is just the
        // deterministic way to carry it through the aggregate
        min(col("pred_lang")).as("pred_lang"),
        count(lit(1)).as("n_dups"))
    val contaminatedIds = Contamination
      .overlap(corpus, "doc_id", "text", col("doc_id") % BenchMod === 0, ShingleSize)
      .select("doc_id")
    val clean = deduped.join(contaminatedIds, Seq("doc_id"), "left_anti")
    graft.operators.Sampling.stratifiedQuota(
      clean, col("pred_lang"), col("doc_id"), 40)
      .select("doc_id", "pred_lang", "content_hash", "n_dups")
  }

  private val q29Oracle: String =
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |${dScoredCtes("corpus")},
       |dedup AS (
       |  SELECT min(doc_id) AS doc_id, min(pred_lang) AS pred_lang,
       |    content_hash, count(*) AS n_dups
       |  FROM scored WHERE quality >= 0.5 AND doc_id % $BenchMod <> 0
       |  GROUP BY content_hash),
       |${dShingleCtes("corpus", BenchMod)},
       |contaminated AS (
       |  SELECT DISTINCT l.doc_id FROM long l JOIN bench b USING (s)
       |  WHERE l.doc_id % $BenchMod <> 0),
       |clean AS (SELECT * FROM dedup
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |ranked AS (SELECT *, row_number() OVER (
       |    PARTITION BY pred_lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM clean)
       |SELECT doc_id, pred_lang, content_hash, n_dups FROM ranked WHERE rn <= 40""".stripMargin

  // ---- q20: composite training-data prep -------------------------------

  /** The realistic data-prep composition: quality-score filter + language
    * filter + exact-dedup keep (min doc_id per content hash) over the
    * duplicate-injected corpus — one declarative plan, one shuffle for the
    * dedup group-by.
    */
  def trainingPrep(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    val scored = corpus.select(
      col("doc_id"), col("lang"),
      TextStats.contentFingerprint(col("text")).as("content_hash"),
      TextStats.qualityScore(col("text")).as("quality"),
      TextStats.langId(col("text")).as("pred_lang"))
    scored
      .filter(col("quality") >= 0.5 && col("pred_lang") === "en")
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      .select("doc_id", "content_hash", "n_dups")
  }

  private val q20Oracle: String =
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |${dScoredCtes("corpus")}
       |SELECT min(doc_id) AS doc_id, content_hash, count(*) AS n_dups
       |FROM scored WHERE quality >= 0.5 AND pred_lang = 'en'
       |GROUP BY content_hash""".stripMargin

  // ---- q32: near-dup clusters (connected components) -------------------

  /** Per-JVM registry of PERSISTED (doc_id, cluster) artifacts, keyed by
    * data dir. Cluster resolution is the expensive, cadence-driven job of
    * a dedup pipeline (nightly, not per-consumer), so its output is a
    * first-class persisted artifact: whichever query first needs clusters
    * builds the minhash→CC chain ONCE, parquets the (doc_id, cluster)
    * frame to a JVM-temp dir (the stand-in for a warehouse path — the
    * q40/q41 artifact convention), and every later consumer reads the
    * parquet. In registry order q32 is the builder and q52b the pure
    * consumer; run standalone, either one builds on first touch, so the
    * result never depends on run order.
    */
  private val ccArtifacts =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def ccArtifactPath(dir: String): String =
    ccArtifacts.getOrElseUpdate(dir,
      java.nio.file.Files.createTempDirectory("graft-cc-")
        .resolve("clusters").toString)

  /** BUILD the cluster artifact for `dir`: always recomputes the
    * minhash→CC chain and overwrites the parquet (builder semantics — the
    * nightly resolution job does real work every run, and so must q32's
    * bench median; only sample-level caching here would under-report it).
    */
  private def buildClusterArtifact(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      ShingleSize, NumHashes, RowsPerBand, JaccThreshold)
    val cc = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    val out = ccArtifactPath(dir)
    cc.write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  /** READ the cluster artifact for `dir`, building it first only when no
    * resolution run has produced one in this JVM (consumer semantics —
    * q52b run standalone still yields correct output).
    */
  private def clusterArtifact(spark: SparkSession, dir: String): DataFrame = {
    val out = ccArtifactPath(dir)
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(out)
    else buildClusterArtifact(spark, dir)
  }

  /** The dedup end-game over q12's verified pairs: transitive closure into
    * clusters, one deterministic canonical keep per cluster (the min
    * doc_id). Every corpus doc appears once — docs in no pair are their own
    * singleton cluster. `keep` is 1 for the canonical member, as INT so the
    * cross-engine compare never sees a boolean. As of round 10 this is the
    * ARTIFACT BUILDER: the (doc_id, cluster) closure is parquet'd via
    * [[clusterArtifact]] so downstream consumers (q52b) read it instead of
    * re-deriving the minhash→CC chain.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    val cc = buildClusterArtifact(spark, dir)
    corpus.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        (coalesce(col("cluster"), col("doc_id")) === col("doc_id"))
          .cast("int").as("keep"))
  }

  /** DuckDB twin: recursive-CTE transitive closure over the same pair list
    * (`reach` = every ordered pair connected by >=1 edges; cluster = min id
    * reachable, least'ed with the vertex itself).
    */
  private val q32Oracle: String =
    s"""WITH RECURSIVE $dMinhashPairCtes,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster
       |  FROM reach GROUP BY u)
       |SELECT c.doc_id, coalesce(p.cluster, c.doc_id) AS cluster,
       |  CAST(coalesce(p.cluster, c.doc_id) = c.doc_id AS INT) AS keep
       |FROM corpus c LEFT JOIN comp p USING (doc_id)""".stripMargin

  // ---- q33: document chunking ------------------------------------------

  private val ChunkWindow = 64
  private val ChunkStride = 48

  /** Overlapping token-window chunks over the documents table — the
    * long-document half of training-sequence shaping ([[Chunking.chunk]]).
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    Chunking.chunk(docs, "doc_id", "text", ChunkWindow, ChunkStride)
      .withColumnRenamed("id", "doc_id")
  }

  private val q33Oracle: String =
    s"""WITH t AS (SELECT doc_id, $dToks AS toks FROM documents),
       |s AS (SELECT doc_id, toks,
       |    unnest(range(0, len(toks), $ChunkStride)) AS chunk_start
       |  FROM t WHERE len(toks) > 0)
       |SELECT doc_id, chunk_start // $ChunkStride AS chunk_id, chunk_start,
       |  len(list_slice(toks, chunk_start + 1, chunk_start + $ChunkWindow))
       |    AS n_chunk_tokens,
       |  array_to_string(
       |    list_slice(toks, chunk_start + 1, chunk_start + $ChunkWindow), ' ')
       |    AS chunk_text
       |FROM s""".stripMargin

  // ---- q34: sequence packing -------------------------------------------

  private val PackBudget = 2048

  /** Contiguous greedy packing of the documents table into
    * [[PackBudget]]-token training sequences, grouped per language (the
    * pack group is the parallelism unit — see [[Chunking.pack]]).
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"), col("text"))
    Chunking.pack(docs, "lang", "doc_id",
        size(TextStats.tokens(col("text"))), PackBudget)
      .select("doc_id", "lang", "n_tokens", "offset", "bin")
  }

  /** DuckDB twin: window cumsum per lang in doc_id order, ROWS frame pinned;
    * the sum is cast back to BIGINT because DuckDB widens integer window
    * sums to HUGEINT.
    */
  private val q34Oracle: String =
    s"""WITH t AS (SELECT doc_id, lang, len($dToks) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, lang, n_tokens,
       |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    - n_tokens AS offset
       |  FROM t)
       |SELECT doc_id, lang, n_tokens, c.offset, c.offset // $PackBudget AS bin
       |FROM c""".stripMargin

  // ---- q34b: packed sequences ------------------------------------------

  /** q34's bin assignment materialized into the actual training sequences
    * ([[Chunking.packedSequences]]): per (lang, bin), member count, token
    * total, and the in-order concatenated text.
    */
  def packedText(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"), col("text"))
    val packed = Chunking.pack(docs, "lang", "doc_id",
      size(TextStats.tokens(col("text"))), PackBudget)
    Chunking.packedSequences(packed, "lang", "doc_id", "text")
  }

  private val q34bOracle: String =
    s"""WITH t AS (SELECT doc_id, lang, text, len($dToks) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, lang, text, n_tokens,
       |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    - n_tokens AS offset
       |  FROM t),
       |b AS (SELECT *, c.offset // $PackBudget AS bin FROM c)
       |SELECT lang, bin, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       |  string_agg(text, ' ' ORDER BY doc_id) AS seq_text
       |FROM b GROUP BY 1, 2""".stripMargin

  // ---- q35: corpus vocabulary ------------------------------------------

  private val VocabTopK = 200

  /** Top-[[VocabTopK]] terms by document frequency with occurrence totals
    * ([[TextStats.vocabulary]]) — all-integer outputs, deterministic
    * df-then-term tie-break.
    */
  def vocab(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    TextStats.vocabulary(docs, "doc_id", "text", VocabTopK)
  }

  private val q35Oracle: String =
    s"""WITH t AS (SELECT doc_id, $dToks AS toks FROM documents),
       |long AS (SELECT doc_id, unnest(toks) AS term FROM t)
       |SELECT term, count(*) AS n_occurrences, count(DISTINCT doc_id) AS df
       |FROM long GROUP BY term
       |ORDER BY df DESC, term LIMIT $VocabTopK""".stripMargin

  // ---- q44: corpus-relative rare-token ratio ---------------------------

  private val RareBelow = 3L

  /** Per-doc rare-token stats against the corpus-wide frequency table
    * ([[TextStats.rareTokenStats]]): tokens whose global count <
    * [[RareBelow]] are rare; a high ratio flags OOV-heavy/gibberish docs.
    */
  def rareTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    TextStats.rareTokenStats(docs, "doc_id", "text", RareBelow)
  }

  private val q44Oracle: String =
    s"""WITH t AS (SELECT doc_id, unnest($dToks) AS term FROM documents),
       |freq AS (SELECT term, count(*) AS n_global FROM t GROUP BY 1)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN n_global < $RareBelow THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |  round(CAST(sum(CASE WHEN n_global < $RareBelow THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS rare_ratio
       |FROM t JOIN freq USING (term) GROUP BY doc_id""".stripMargin

  // ---- q45: corpus data card -------------------------------------------

  /** Per-language corpus report — doc counts, token totals, exact token
    * length percentiles — the "data card" table every dataset release
    * ships. Integer counts plus exact interpolated percentiles over
    * integers (the q36 convention: Spark `percentile` ≡ DuckDB
    * `quantile_cont`, deterministic because the sorted multiset is), so
    * there is no shuffle-order-dependent double summation anywhere.
    *
    * Scale shape: one narrow projection (lang, token count) feeding one
    * lang-keyed aggregation; counts/sums partial-aggregate, the exact
    * percentile buffers per-group values — with unbounded group
    * cardinality switch to `approx_percentile`, same plan (q36's
    * documented trade).
    */
  def corpusDataCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    docs
      .select(col("lang"), size(TextStats.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("total_tokens"),
        percentile(col("n_toks"), lit(0.5)).as("p50_tokens"),
        percentile(col("n_toks"), lit(0.9)).as("p90_tokens"))
  }

  private val q45Oracle: String =
    s"""WITH t AS (SELECT lang, len($dToks) AS n_toks FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       |  quantile_cont(n_toks, 0.5) AS p50_tokens,
       |  quantile_cont(n_toks, 0.9) AS p90_tokens
       |FROM t GROUP BY 1""".stripMargin

  // ---- q43: winnow-fingerprint containment pairs -----------------------

  private val MinSharedFps = 2

  /** Pairs of documents sharing >= [[MinSharedFps]] winnowing fingerprints
    * with their containment score ([[Dedup.winnowOverlapPairs]]) — the
    * local-overlap / quoted-inside detector whole-doc Jaccard
    * under-scores.
    */
  def winnowOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    Dedup.winnowOverlapPairs(docs, "doc_id", "text", WinnowK, WinnowW, MinSharedFps)
  }

  private val q43Oracle: String =
    s"""WITH $dWinnowCtes,
       |fps AS (SELECT doc_id AS id, fingerprint AS fp FROM wfp),
       |sizes AS (SELECT id, count(*) AS n FROM fps GROUP BY 1),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fps
       |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, shared_fps,
       |  round(CAST(shared_fps AS DOUBLE) / least(na.n, nb.n), 6) AS containment
       |FROM pairs JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id
       |WHERE shared_fps >= $MinSharedFps""".stripMargin

  // ---- q42: TF-IDF top terms per document ------------------------------

  private val TfidfTopK = 5

  /** Top-[[TfidfTopK]] TF-IDF terms per document ([[TextStats.tfidf]]):
    * smoothed idf, 6-decimal rounding, rank-over-(score, term) cut so the
    * per-doc selection is a deterministic total order.
    */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    TextStats.tfidf(docs, "doc_id", "text", TfidfTopK)
  }

  private val q42Oracle: String =
    s"""WITH t AS (SELECT doc_id, $dToks AS toks FROM documents),
       |long AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM long GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |    round(tf * round(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1, 6), 6) AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |ranked AS (SELECT *,
       |    rank() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS r
       |  FROM scored)
       |SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE r <= $TfidfTopK""".stripMargin

  // ---- q40: incremental dedup ------------------------------------------

  /** The one split modulus for the incremental-dedup demonstration:
    * `doc_id % IndexMod != 0` docs form the already-ingested index,
    * `doc_id % IndexMod = 0` docs arrive as the new batch — same
    * shared-modulus convention as [[BenchMod]] so Spark and oracle can
    * never disagree about the split.
    */
  private val IndexMod = 3

  /** Incremental exact dedup over the duplicate-injected corpus: the
    * "index" is the fingerprint set of previously-ingested docs, the
    * "batch" is the rest; only genuinely new content survives the
    * anti-join ([[Dedup.incrementalExact]]).
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    val index = Dedup.exact(
      corpus.filter(col("doc_id") % IndexMod =!= 0), "doc_id", "text")
    val batch = corpus.filter(col("doc_id") % IndexMod === 0)
    Dedup.incrementalExact(index, batch, "doc_id", "text")
  }

  private val q40Oracle: String =
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |index_hashes AS (
       |  SELECT DISTINCT md5(trim(lower(text))) AS content_hash
       |  FROM corpus WHERE doc_id % $IndexMod <> 0),
       |batch_dedup AS (
       |  SELECT md5(trim(lower(text))) AS content_hash,
       |    min(doc_id) AS keep_id, count(*) AS n_copies
       |  FROM corpus WHERE doc_id % $IndexMod = 0 GROUP BY 1)
       |SELECT b.content_hash, b.keep_id, b.n_copies
       |FROM batch_dedup b
       |WHERE b.content_hash NOT IN (SELECT content_hash FROM index_hashes)""".stripMargin

  // ---- q41: incremental near-dup ---------------------------------------

  /** Incremental MinHash near-dup over the same [[IndexMod]] split as q40:
    * the `doc_id % IndexMod != 0` docs are the ingested corpus — their band
    * index and shingle sets stand in for the parquet artifacts a real
    * pipeline persists at ingest — and the `% IndexMod = 0` docs arrive as
    * the new batch. Output: every verified near-dup pair touching the
    * batch ([[Dedup.incrementalMinhashPairs]]); index-internal pairs were
    * already found when the index was built and are not recomputed.
    */
  def incrementalNearDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    val indexDocs = corpus.filter(col("doc_id") % IndexMod =!= 0)
    val batch = corpus.filter(col("doc_id") % IndexMod === 0)
    val indexShingles = Stage.cache(Dedup.shingleFrame(indexDocs, "doc_id", "text", ShingleSize))
    val indexBands = Dedup.bandFrame(
      Dedup.withSignature(indexShingles, NumHashes), NumHashes, RowsPerBand)
    Dedup.incrementalMinhashPairs(indexBands, indexShingles, batch,
      "doc_id", "text", ShingleSize, NumHashes, RowsPerBand, JaccThreshold)
  }

  /** Twin: per-doc signatures are deterministic, so the incremental run
    * equals the full-corpus pair list restricted to pairs with >=1 batch
    * member — [[dMinhashPairCtes]] plus one predicate, no separate SQL
    * mirror of the split pipeline that could drift.
    */
  private val q41Oracle: String =
    s"""WITH $dMinhashPairCtes
       |SELECT id_a, id_b, jaccard FROM pairs
       |WHERE id_a % $IndexMod = 0 OR id_b % $IndexMod = 0""".stripMargin

  // ---- q46: per-source quality cap -------------------------------------

  private val SourceCap = 10

  /** Per-source (domain) cap, quality-ranked
    * ([[graft.operators.Sampling.rankedQuota]]): each source keeps at most
    * [[SourceCap]] docs — its BEST by [[TextStats.qualityScore]], doc_id
    * tiebreak — so no single domain dominates the corpus mix (the standard
    * web-curation guard against spammy/over-crawled domains). One shuffle
    * on the source key; the rank lowers to WindowGroupLimit.
    */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val scored = docs.select(col("doc_id"), col("source"),
      TextStats.qualityScore(col("text")).as("quality"))
    graft.operators.Sampling.rankedQuota(
      scored, col("source"), SourceCap, desc("quality"), col("doc_id"))
  }

  /** Twin: the shared `scored` CTE ([[dScoredCtes]] — the one SQL mirror of
    * the quality formula) joined back to `documents` for the source, same
    * rank, same cap.
    */
  private val q46Oracle: String =
    s"""WITH ${dScoredCtes("documents")},
       |ranked AS (
       |  SELECT s.doc_id, d.source, s.quality,
       |    row_number() OVER (
       |      PARTITION BY d.source ORDER BY s.quality DESC, s.doc_id) AS rn
       |  FROM scored s JOIN documents d USING (doc_id))
       |SELECT doc_id, source, quality FROM ranked WHERE rn <= $SourceCap""".stripMargin

  // ---- q47: inter-document repetition ----------------------------------

  /** Per-doc shared-shingle stats over the duplicate-injected corpus
    * ([[TextStats.interDocRepetition]]): how much of each doc's distinct
    * shingle set also lives in other docs — the cheap corpus-level triage
    * signal that runs BEFORE pairwise dedup.
    */
  def interDocDup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    TextStats.interDocRepetition(corpus, "doc_id", "text", ShingleSize)
  }

  private val q47Oracle: String =
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |sh AS (SELECT doc_id, ${dShingles(dToks, ShingleSize)} AS shingles FROM corpus),
       |long AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |freq AS (SELECT s, count(*) AS df FROM long GROUP BY 1)
       |SELECT doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |  round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS shared_ratio
       |FROM long JOIN freq USING (s) GROUP BY doc_id""".stripMargin

  // ---- q48: semantic dedup (embedding clusters) ------------------------

  private[graft] val CosineDupThreshold = 0.4

  /** Semantic dedup over the duplicate-injected embeddings corpus
    * ([[Similarity.semanticClusters]]): label-blocked cosine pairs at
    * [[CosineDupThreshold]] (injected identical vectors score exactly 1.0;
    * a handful of natural pairs sit just over the cut), transitive closure,
    * one canonical keep per cluster — the embedding-space analogue of
    * q32's lexical clusters.
    *
    * Registered as `q48_semantic_dedup_labels` (round 12, the q52-oneshot
    * naming convention): LABEL blocking has fixed cardinality, measured at
    * 157×/decade on the round-11 scale ladder — the quadratic time bomb
    * kept as the documented negative-result contrast. The scale path is
    * q48b ([[semanticDedupCells]], cell blocking, 4.9×/decade).
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = EmbeddingsFixture.corpusDf(spark, dir)
    Similarity.semanticClusters(
      corpus, "vec_id", "embedding", col("label"), CosineDupThreshold)
  }

  /** Twin: q17's cosine SQL (DOUBLE[] `list_dot_product`, round 6) for the
    * pair list, q32's recursive-CTE closure for the clusters.
    */
  private val q48Oracle: String =
    s"""WITH RECURSIVE corpus AS (${EmbeddingsFixture.corpusSql()}),
       |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM corpus),
       |n AS (SELECT vec_id AS id, label AS block, emb,
       |  sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |scoredp AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS score
       |  FROM n a JOIN n b ON a.block = b.block AND a.id < b.id),
       |pairs AS (SELECT * FROM scoredp WHERE score >= $CosineDupThreshold),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
       |comp AS (SELECT u AS vec_id, least(u, min(v)) AS cluster
       |  FROM reach GROUP BY u)
       |SELECT c.vec_id, coalesce(p.cluster, c.vec_id) AS cluster,
       |  CAST(coalesce(p.cluster, c.vec_id) = c.vec_id AS INT) AS keep
       |FROM corpus c LEFT JOIN comp p USING (vec_id)""".stripMargin

  /** q48b — semantic dedup blocked by nearest-centroid CELL, the form that
    * survives data growth: q48's label blocking is a fixed-cardinality
    * partition, so its within-block pair work grows quadratically with
    * the corpus — measured 157× wall across the 10×→100× decade (≈840×
    * vs sf0.1) on the replica (BASELINE.md), the round-11 scale
    * experiment's headline finding. Here centroids come from
    * `vec_id % 100 = 0` (the q16 IVF convention): cell COUNT grows with
    * the corpus, expected cell population stays constant, pair work stays
    * linear — measured 4.9× across the same decade.
    * Same output contract and closure as q48; the trade is near-dups
    * straddling a cell border (see [[Similarity.semanticClustersCells]]).
    *
    * Round-15 THIRD-decade finding: the constant-population property that
    * beats q48 hides an N²/100 nearest-centroid ASSIGNMENT (N vectors ×
    * N/100 centroids) — invisible behind pair work through 100×
    * (4.4×/decade), dominant at 1000× (measured 56×/decade: 4591 s vs
    * 81.6 at 100×). Kept as a declared contrast; [[semanticDedupAdaptive]]
    * (q48c) is the production point with √N cells balancing both terms at
    * O(N^1.5).
    */
  def semanticDedupCells(spark: SparkSession, dir: String): DataFrame = {
    val corpus = EmbeddingsFixture.corpusDf(spark, dir)
    Similarity.semanticClustersCells(
      corpus, "vec_id", "embedding", col("id") % 100 === 0, CosineDupThreshold)
  }

  /** Twin: q16's nearest-centroid assignment CTE (same rounded-cosine
    * scoring, same deterministic tie-break) feeding q48's pair + closure
    * chain, over the same injected-near-dup corpus fixture.
    */
  private val q48bOracle: String =
    s"""WITH RECURSIVE corpus AS (${EmbeddingsFixture.corpusSql()}),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM corpus),
       |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |c AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n WHERE id % 100 = 0),
       |assigned AS (
       |  SELECT id, emb, nrm, c_id AS bucket FROM (
       |    SELECT n.id, n.emb, n.nrm, c.c_id,
       |      row_number() OVER (PARTITION BY n.id
       |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
       |    FROM n, c) WHERE r = 1),
       |scoredp AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS score
       |  FROM assigned a JOIN assigned b ON a.bucket = b.bucket AND a.id < b.id),
       |pairs AS (SELECT * FROM scoredp WHERE score >= $CosineDupThreshold),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
       |comp AS (SELECT u AS vec_id, least(u, min(v)) AS cluster
       |  FROM reach GROUP BY u)
       |SELECT c.vec_id, coalesce(p.cluster, c.vec_id) AS cluster,
       |  CAST(coalesce(p.cluster, c.vec_id) = c.vec_id AS INT) AS keep
       |FROM corpus c LEFT JOIN comp p USING (vec_id)""".stripMargin

  /** q48c — semantic dedup at SCALE-ADAPTIVE cell geometry, the q16f/q24c
    * treatment applied to q48b after the round-15 THIRD-decade ladder
    * measured q48b's hidden quadratic: the `%100` centroid convention
    * grows the centroid set linearly with the corpus, so while its PAIR
    * work stays linear (constant cell population — the property that beat
    * q48's label blocking), its nearest-centroid ASSIGNMENT is N×N/100 —
    * invisible behind pair work at 10×/100×, dominant at 1000×. Here
    * k = ⌈√N⌉ stride-selected centroids balance the two terms
    * (assignment N·√N + pair work N·√N/2 — the O(N^1.5) optimum of
    * `N·K + N²/2K`), and at this corpus size the √N grid is also COARSER
    * than N/100, so the cell-border recall trade only relaxes. Same
    * output contract and closure as q48/q48b.
    */
  def semanticDedupAdaptive(spark: SparkSession, dir: String): DataFrame = {
    val corpus = EmbeddingsFixture.corpusDf(spark, dir)
    Similarity.semanticClustersCells(
      corpus, "vec_id", "embedding",
      col("id") % Similarity.ivfGeometry(corpus).stride === 0,
      CosineDupThreshold)
  }

  /** Twin: [[q48bOracle]] with the centroid CTE replaced by q24c's
    * count-derived stride (identical integer/double arithmetic to the
    * Spark side's `max(1, n / ⌈√n⌉)`). */
  private val q48cOracle: String =
    s"""WITH RECURSIVE corpus AS (${EmbeddingsFixture.corpusSql()}),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM corpus),
       |p AS (SELECT greatest(1, count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS stride
       |      FROM e),
       |n AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       |c AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n
       |      WHERE id % (SELECT stride FROM p) = 0),
       |assigned AS (
       |  SELECT id, emb, nrm, c_id AS bucket FROM (
       |    SELECT n.id, n.emb, n.nrm, c.c_id,
       |      row_number() OVER (PARTITION BY n.id
       |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
       |    FROM n, c) WHERE r = 1),
       |scoredp AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS score
       |  FROM assigned a JOIN assigned b ON a.bucket = b.bucket AND a.id < b.id),
       |pairs AS (SELECT * FROM scoredp WHERE score >= $CosineDupThreshold),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
       |comp AS (SELECT u AS vec_id, least(u, min(v)) AS cluster
       |  FROM reach GROUP BY u)
       |SELECT c.vec_id, coalesce(p2.cluster, c.vec_id) AS cluster,
       |  CAST(coalesce(p2.cluster, c.vec_id) = c.vec_id AS INT) AS keep
       |FROM corpus c LEFT JOIN comp p2 USING (vec_id)""".stripMargin

  // ---- q49: per-language quality floor ---------------------------------

  private val FloorQuantile = 0.1

  /** Per-language quality floor: drop each language's bottom
    * [[FloorQuantile]] of docs by [[TextStats.qualityScore]] — the
    * RELATIVE quality cut (a fixed global threshold over- or under-filters
    * languages whose score distributions sit differently, the standard
    * multilingual-curation correction). Output keeps the floor value so
    * the cut is auditable.
    *
    * Scale shape — the corpus-statistic-filter pattern: one shuffle
    * aggregates the tiny per-language floor table (exact interpolated
    * `percentile`, the q36/q45 convention — switch to `approx_percentile`
    * if group cardinality is unbounded, same plan), which then BROADCASTS
    * back onto the scored corpus as a hash join + filter. No window over
    * the full corpus, no second corpus shuffle — at 100 TB the floor table
    * is |languages| rows and the filter is map-side.
    *
    * Both engines round the floor to 6 decimals before the compare, so
    * the cut can never hinge on a sub-ulp interpolation difference.
    */
  def qualityFloor(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    // scored feeds BOTH the floor aggregate and the join probe: persist or
    // the whole tokenize+score pipeline scans the corpus twice (the
    // tfidf/rareTokenStats convention — caller-owned, see [[Stage]])
    val scored = Stage.cache(docs.select(col("doc_id"), col("lang"),
      TextStats.qualityScore(col("text")).as("quality")))
    val floors = scored.groupBy("lang")
      .agg(round(percentile(col("quality"), lit(FloorQuantile)), 6).as("q_floor"))
    scored.join(broadcast(floors), "lang")
      .filter(col("quality") > col("q_floor"))
      .select("doc_id", "lang", "quality", "q_floor")
  }

  /** Twin: the shared quality CTE, `quantile_cont` ≡ Spark `percentile`
    * (the q36/q45-proven pairing), floor rounded identically.
    */
  private val q49Oracle: String =
    s"""WITH ${dScoredCtes("documents")},
       |sq AS (SELECT s.doc_id, d.lang, s.quality
       |  FROM scored s JOIN documents d USING (doc_id)),
       |floors AS (SELECT lang,
       |    round(quantile_cont(quality, $FloorQuantile), 6) AS q_floor
       |  FROM sq GROUP BY lang)
       |SELECT doc_id, lang, quality, q_floor
       |FROM sq JOIN floors USING (lang) WHERE quality > q_floor""".stripMargin

  // ---- q50: per-language token budget ----------------------------------

  private[graft] val TokenBudget = 500L

  /** Deterministic TOKEN-budget draw per language — the mixing primitive
    * when the recipe says "N tokens of each language", not "N documents"
    * (doc-count quotas — q28 — over-weight long-doc languages): docs
    * accumulate in md5(doc_id) order (the [[graft.operators.Sampling]]
    * retry-stable uniform order) and a doc is kept iff the running token
    * total INCLUDING it stays within [[TokenBudget]] — the greedy prefix,
    * which is the deterministic choice (budget-filling knapsack variants
    * are order-dependent). `cum_tokens` stays in the output so the cut is
    * auditable.
    *
    * Scale shape: one narrow projection (lang, token count), one shuffle
    * on the language key for the group-partitioned running sum (the q34
    * cumsum convention — never a global sort), then a map-side filter.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val toks = docs.select(col("doc_id"), col("lang"),
      size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    toks.withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= TokenBudget)
      .select("doc_id", "lang", "n_tokens", "cum_tokens")
  }

  /** Twin: same md5 order, same running-sum frame; the cumulative sum is
    * CAST to BIGINT (DuckDB sums BIGINT into HUGEINT — the q44 lesson).
    */
  private val q50Oracle: String =
    s"""WITH t AS (SELECT doc_id, lang, len($dToks) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, lang, n_tokens,
       |    CAST(sum(n_tokens) OVER (
       |      PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM t)
       |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
       |WHERE cum_tokens <= $TokenBudget""".stripMargin

  // ---- q51: corpus line-level dedup ------------------------------------

  private val LineDupMin = 2

  /** Cross-document duplicate-line removal over the multi-line fixture
    * corpus ([[TextStats.dedupLines]]): lines occurring >= [[LineDupMin]]
    * times corpus-wide (boilerplate, injected duplicates) vanish from every
    * doc; survivors re-join in original order. The MassiveText-style
    * repetition filter at corpus (not document) scope.
    */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = graft.fixtures.DocumentsFixture.linesCorpusDf(spark, dir)
    TextStats.dedupLines(corpus, "doc_id", "text", LineDupMin)
  }

  /** Twin: banned set as a scalar list probed with `list_filter` (DuckDB's
    * mirror of the broadcast membership join); `array_to_string` of an
    * empty list is NULL in DuckDB but '' in Spark's `array_join`, hence the
    * coalesce.
    */
  private val q51Oracle: String =
    s"""WITH corpus AS (${graft.fixtures.DocumentsFixture.linesCorpusSql()}),
       |ls AS (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS lines FROM corpus),
       |long AS (SELECT doc_id, unnest(lines) AS line FROM ls),
       |freq AS (SELECT line FROM long GROUP BY line HAVING count(*) >= $LineDupMin),
       |b AS (SELECT coalesce(list(line), CAST([] AS VARCHAR[])) AS banned FROM freq)
       |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
       |  CAST(len(list_filter(lines, x -> NOT list_contains(b.banned, x))) AS BIGINT) AS n_kept,
       |  coalesce(array_to_string(
       |    list_filter(lines, x -> NOT list_contains(b.banned, x)), chr(10)), '') AS clean_text
       |FROM ls CROSS JOIN b""".stripMargin

  // ---- q65: exact duplicated-span removal (ExactSubstr dedup) ----------

  private val SpanK = 4

  /** Token-space exact-substring dedup over the duplicate-injected corpus
    * ([[Dedup.spanDedup]]): every [[SpanK]]-token span occurring more than
    * once corpus-wide is cut from all but its first (doc, start)
    * occurrence — the Lee et al. 2022 rewrite step that q47 only scores
    * and q51 only applies at whole-line granularity. The injected
    * duplicate docs lose their entire text to the canonical copy; the
    * word-soup chunks contribute natural in-line repeats.
    */
  def spanDedupDocs(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    Dedup.spanDedup(corpus, "doc_id", "text", SpanK)
  }

  /** Twin of q65: positional spans via `list_transform(range(..))` (order
    * preserved, duplicates kept, no whole-doc fallback — a doc shorter
    * than the span has none), occurrence keys zero-padded exactly like the
    * Spark side so `min` picks the same canonical copy, and the cut
    * replayed in index space with nested lambdas (`range(0, len)` filtered
    * against the covered intervals). All-integer until the one rounded
    * division; the cleaned text re-joins with single spaces on both
    * engines.
    */
  private val q65Oracle: String =
    s"""WITH corpus AS (${DocumentsFixture.corpusSql()}),
       |t AS (SELECT doc_id, $dToks AS toks FROM corpus),
       |g AS (SELECT doc_id, CASE WHEN len(toks) >= $SpanK
       |    THEN list_transform(range(1, len(toks) - ${SpanK - 2}),
       |      i -> array_to_string(list_slice(toks, i, i + ${SpanK - 1}), ' '))
       |    ELSE [] END AS sh FROM t),
       |occ AS (SELECT doc_id, unnest(list_transform(range(1, len(sh) + 1),
       |    i -> {'st': i - 1, 'sgl': sh[i]}), recursive := true) FROM g),
       |keyed AS (SELECT doc_id, st, sgl,
       |    lpad(CAST(doc_id AS VARCHAR), 20, '0') || ':' ||
       |    lpad(CAST(st AS VARCHAR), 10, '0') AS okey FROM occ),
       |canon AS (SELECT sgl, min(okey) AS canon_key FROM keyed
       |    GROUP BY 1 HAVING count(*) >= 2),
       |cuts AS (SELECT doc_id, list_sort(list(st)) AS starts
       |    FROM keyed JOIN canon USING (sgl)
       |    WHERE okey <> canon_key GROUP BY 1),
       |m AS (SELECT t.doc_id, toks, coalesce(starts, []) AS starts
       |    FROM t LEFT JOIN cuts USING (doc_id)),
       |k2 AS (SELECT doc_id, toks, list_filter(range(0, len(toks)),
       |    j -> len(list_filter(starts,
       |      s -> j >= s AND j <= s + ${SpanK - 1})) = 0) AS kept FROM m)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       |  round(CAST(len(toks) - len(kept) AS DOUBLE)
       |    / nullif(len(toks), 0), 6) AS cut_ratio,
       |  coalesce(array_to_string(list_transform(kept, j -> toks[j + 1]),
       |    ' '), '') AS cleaned_text
       |FROM k2""".stripMargin

  // ---- q52: leakage-free cluster split ---------------------------------

  private val TrainRate = 0.9

  /** Train/val split whose unit is the NEAR-DUP CLUSTER, not the document
    * ([[graft.operators.Sampling.hashSplit]] on q32's connected-component
    * id): a doc and its near-twin can never straddle the boundary, the
    * leakage guard every eval-honest corpus release needs. Split on doc_id
    * and the injected duplicates put one copy in train and one in val.
    *
    * This registered form is the ONE-SHOT chain — minhash → CC → split in
    * a single plan, the shape you run when no cluster artifact exists yet
    * (registered as `q52_cluster_split_oneshot` since round 11, so the
    * name itself declares the role). It is deliberately NOT the 100 TB
    * path: re-deriving clusters per split assignment is the recompute
    * q52b exists to avoid ([[Dedup.clusterSplitFrom]] over the
    * [[clusterArtifact]] parquet, same oracle — measured flat at 10×
    * data while this form grows with corpus size). The q06/q07 twin
    * convention, applied to dedup.
    */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val corpus = DocumentsFixture.corpusDf(spark, dir)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      ShingleSize, NumHashes, RowsPerBand, JaccThreshold)
    val cc = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    corpus.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("split",
        graft.operators.Sampling.hashSplit(col("cluster"), TrainRate))
      .select("doc_id", "cluster", "split")
  }

  /** q52b — the PERSISTED-ARTIFACT form of the cluster split: identical
    * output (and oracle) to q52, but the clusters come from the
    * [[clusterArtifact]] parquet that q32's resolution run persisted, so
    * the whole query is one small-side join plus a hash label
    * ([[Dedup.clusterSplitFrom]]). This is the shape that survives 100 TB:
    * cluster resolution runs on its own cadence, split assignment consumes
    * the artifact.
    */
  def clusterSplitFromArtifact(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusterSplitFrom(
      DocumentsFixture.corpusDf(spark, dir).select("doc_id"),
      "doc_id", clusterArtifact(spark, dir), TrainRate)

  /** Twin: q32's recursive-CTE closure plus the same md5-prefix threshold
    * (the hex literal comes from the one Scala implementation,
    * [[graft.operators.Sampling.rateThresholdHex]], so engine and oracle
    * cannot disagree on the boundary).
    */
  private val q52Oracle: String = {
    val hex = graft.operators.Sampling.rateThresholdHex(TrainRate)
    s"""WITH RECURSIVE $dMinhashPairCtes,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster
       |  FROM reach GROUP BY u),
       |labeled AS (
       |  SELECT c.doc_id, coalesce(p.cluster, c.doc_id) AS cluster
       |  FROM corpus c LEFT JOIN comp p USING (doc_id))
       |SELECT doc_id, cluster,
       |  CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 8) < '$hex'
       |    THEN 'train' ELSE 'val' END AS split
       |FROM labeled""".stripMargin
  }

  // ---- q53: temperature-rebalanced language mix ------------------------

  /** Temperature-rebalanced language mix over the documents table
    * ([[graft.operators.Sampling.temperatureSample]] at α = 0.5, keyed on
    * doc_id, grouped by lang): high-resource languages are deterministically
    * downsampled toward the smallest one (expected keeps ∝ n^0.5), the
    * standard multilingual mixing correction. Output keeps the per-language
    * rate so the draw is auditable.
    */
  def tempSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select("doc_id", "lang")
    graft.operators.Sampling.temperatureSample(docs, col("lang"), col("doc_id"))
      .select("doc_id", "lang", "rate")
  }

  /** Twin: same min-anchored sqrt rate (correctly rounded in both engines,
    * unlike pow), same 6-decimal rounding, same printf-hex threshold
    * derivation, same `rate >= 1` full-keep guard.
    */
  private val q53Oracle: String =
    s"""WITH t AS (SELECT doc_id, lang FROM documents),
       |c AS (SELECT lang, count(*) AS n FROM t GROUP BY lang),
       |m AS (SELECT min(n) AS n_min FROM c),
       |r AS (SELECT lang, round(sqrt(CAST(n_min AS DOUBLE) / n), 6) AS rate
       |  FROM c CROSS JOIN m)
       |SELECT t.doc_id, t.lang, r.rate FROM t JOIN r USING (lang)
       |WHERE r.rate >= 1.0 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
       |  < printf('%08x', least(CAST(floor(rate * 4294967296.0) AS BIGINT),
       |                         4294967295))""".stripMargin

  // ---- q62: unicode/text normalization ---------------------------------

  /** Unicode normalization over the unicode-hostile corpus
    * ([[TextStats.normalized]] on [[DocumentsFixture.unicodeCorpusDf]]):
    * NFC composition via the native `nfc_norm` kernel, control/zero-width
    * strip, mojibake heuristic count, and a changed flag — the standard
    * text-cleaning front door of a training-data pipeline. Row-local
    * narrow projection; no shuffle.
    */
  def normalizeDocs(spark: SparkSession, dir: String): DataFrame =
    TextStats.normalized(
      DocumentsFixture.unicodeCorpusDf(spark, dir), "doc_id", "text")

  /** Twin: `nfc_normalize` is DuckDB's NFC (same UAX #15 algorithm as the
    * kernel's java.text.Normalizer — byte-identical outputs), the strip
    * class and mojibake alternation are THE SAME literal strings the Spark
    * side uses ([[TextStats.controlZwClass]]/[[TextStats.mojibakeClass]] —
    * `\x{...}` parses identically in Java regex and RE2), and
    * `len(regexp_extract_all(...))` counts non-overlapping matches exactly
    * like `regexp_count`.
    */
  private val q62Oracle: String =
    s"""WITH c AS (${DocumentsFixture.unicodeCorpusSql()}),
       |n AS (SELECT doc_id, text,
       |    regexp_replace(nfc_normalize(text), '${TextStats.controlZwClass}', '', 'g') AS text_norm
       |  FROM c)
       |SELECT doc_id, text_norm,
       |  length(nfc_normalize(text)) - length(text_norm) AS n_stripped,
       |  CAST(len(regexp_extract_all(text, '${TextStats.mojibakeClass}')) AS INT) AS mojibake_hits,
       |  CAST(text_norm <> text AS INT) AS changed
       |FROM n""".stripMargin

  // ---- q68: exact heavy-hitter terms via Misra-Gries pruning -----------

  private val HhSupportDenom = 400

  /** Terms occupying strictly more than 1/[[HhSupportDenom]] of ALL token
    * occurrences, with exact counts ([[graft.operators.HeavyHitters]]):
    * the stopword / boilerplate-token mining step, computed without ever
    * shuffling the full term cardinality — a per-partition Misra-Gries
    * summary proposes a bounded candidate superset, then only candidates
    * are recounted exactly. Output is exact, so the DuckDB twin is the
    * naive full groupBy + HAVING — the whole point is that the Spark plan
    * reaches the same rows while touching ~supportDenom keys per
    * partition instead of the corpus vocabulary.
    */
  def heavyHitterTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val toks = docs.select(explode(TextStats.tokens(col("text"))).as("term"))
    graft.operators.HeavyHitters.heavyHitters(toks, "term", HhSupportDenom)
  }

  private val q68Oracle: String =
    s"""WITH t AS (SELECT unnest($dToks) AS term FROM documents),
       |n AS (SELECT count(*) AS total FROM t)
       |SELECT term, count(*) AS n_occurrences
       |FROM t, n GROUP BY term, total
       |HAVING count(*) * $HhSupportDenom > total""".stripMargin

  // ---- q70: unigram-LM surprisal (cross-entropy) per document ----------

  /** Per-document mean unigram surprisal — the cross-entropy of each doc
    * against the corpus's own unigram distribution: logprob(term) =
    * ln(freq(term) / total_tokens), surprisal = −mean over the doc's
    * tokens. The classic cheap "perplexity-ish" quality signal (a
    * CCNet-style filter ranks docs by LM score; the unigram form is its
    * join-expressible core): repetitive/boilerplate docs score LOW
    * surprisal, OOV-gibberish docs score HIGH — complementary to
    * [[TextStats.rareTokenStats]]'s integer rare-ratio.
    *
    * Determinism (the q61 DECIMAL discipline): each per-token logprob is
    * rounded to 6 decimals and cast to DECIMAL(20,6) BEFORE the per-doc
    * sum, so the aggregation is exact integer arithmetic and
    * shuffle-order-independent; both engines feed `ln` the same double
    * (freq/total with both operands exact integers), and the final mean
    * divides the exact decimal sum (≤ 1e7 in magnitude — exact in double)
    * by the exact token count, rounded to 6. A naive double `avg(ln(p))`
    * would be partial-aggregation-order dependent and un-oracle-able.
    *
    * Scale shape: identical to q44's term-join — one (doc, term) explode,
    * a term-keyed frequency aggregate derived from it, a term-keyed join
    * back, one doc-keyed aggregation. Corpus total folds in as one
    * bounded driver scalar (the [[TextStats.tfidf]] precedent). No double
    * summation, no full-vocabulary broadcast.
    */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val docTerms = Stage.cache(docs
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("term")))
    val freq = docTerms.groupBy("term").agg(count(lit(1)).as("n_global"))
    val total = docTerms.count()
    docTerms
      .join(freq, "term")
      .withColumn("lp",
        round(log(col("n_global").cast("double") / lit(total.toDouble)), 6)
          .cast("decimal(20,6)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("lp_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("lp_sum").cast("double") / col("n_tokens"), 6)
          .as("surprisal"))
  }

  private val q70Oracle: String =
    s"""WITH t AS (SELECT doc_id, unnest($dToks) AS term FROM documents),
       |freq AS (SELECT term, count(*) AS n_global FROM t GROUP BY 1),
       |n AS (SELECT count(*) AS total FROM t),
       |lp AS (SELECT doc_id,
       |  CAST(round(ln(CAST(n_global AS DOUBLE) / CAST(total AS DOUBLE)), 6)
       |    AS DECIMAL(20,6)) AS lp
       |  FROM t JOIN freq USING (term) CROSS JOIN n)
       |SELECT doc_id, count(*) AS n_tokens,
       |  round(-CAST(sum(lp) AS DOUBLE) / count(*), 6) AS surprisal
       |FROM lp GROUP BY doc_id""".stripMargin

  // ---- q72: BPE merge-pair counts --------------------------------------

  private val BpePairTopK = 200

  /** Top-[[BpePairTopK]] adjacent BPE-ish token pairs by corpus frequency
    * ([[TextStats.bpePairStats]]) — the tokenizer-trainer counting step.
    * The DuckDB twin builds the same pairs with a 1-based
    * `list_transform(range(...))` over the q10-proven `bpeish` regex.
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    TextStats.bpePairStats(docs, "text", BpePairTopK)
  }

  private val q72Oracle: String =
    s"""WITH t AS (SELECT
       |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+') AS toks
       |  FROM documents),
       |p AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
       |  i -> toks[i] || ' ' || toks[i+1])) AS pair FROM t)
       |SELECT pair, count(*) AS n_pairs FROM p GROUP BY 1
       |ORDER BY n_pairs DESC, pair LIMIT $BpePairTopK""".stripMargin

  /** Size of the learned merge table q75 applies. Fixed and small so the
    * merge passes ride the plan as literals; each registered pair is
    * guaranteed distinct-sided (`tok_a ≠ tok_b`), the precondition that
    * makes the simultaneous merge pass exact ([[TextStats.bpeMergeStep]]).
    */
  private val BpeMergeCount = 5

  /** q75 — BPE tokenizer APPLICATION: learn the top-[[BpeMergeCount]]
    * adjacent-pair merges (the q72 trainer's ordering — count desc, pair
    * asc — restricted to distinct-sided pairs) with one bounded
    * metadata-collect, then apply them corpus-wide in rank order. The
    * apply side is a shuffle-free projection chain; the learn side is
    * q72's single partial-aggregated shuffle. Completes the tokenizer
    * story: q72 counts merge candidates, q35/q42 build the vocabulary,
    * q75 tokenizes the corpus with the learned table.
    */
  /** The shared learn side of q75/q76: q72's trainer (same pair
    * definition, same count desc / pair asc ordering), restricted to the
    * distinct-sided pairs [[TextStats.bpeMergeStep]] may merge — one
    * bounded [[BpeMergeCount]]-row metadata-collect, never data-scale.
    */
  private def learnedMerges(docs: DataFrame): Seq[(String, String)] = {
    val merges = TextStats.bpePairStats(docs, "text", BpeMergeCount,
        distinctSided = true)
      .select(split(col("pair"), " ").getItem(0).as("tok_a"),
        split(col("pair"), " ").getItem(1).as("tok_b"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    require(merges.size == BpeMergeCount,
      s"corpus yielded only ${merges.size} distinct-sided merge pairs")
    merges
  }

  def bpeApplyDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    TextStats.bpeApply(docs, "doc_id", "text", learnedMerges(docs))
  }

  /** q76 — tokenizer EVALUATION, the step that closes the q72→q75 loop
    * (train → apply → evaluate): per language, the metrics a tokenizer
    * team reads before shipping a merge table — fertility (BPE tokens per
    * whitespace word; >1.3 on a language usually means its script is
    * under-served by the merges), chars-per-token (compression), and the
    * merge table's token-count savings vs the pre-merge baseline. Ratios
    * divide once per GROUP over exact BIGINT sums (never avg-of-ratios —
    * association-free, so engine order and the oracle agree bit-for-bit),
    * zero-denominator → NULL on both engines. Each ratio's 6-decimal
    * rounding is decided entirely in INTEGER space (the
    * [[graft.llm.Similarity.meanPool]] tie lesson: `round(double, 6)` on
    * a quotient near an x.xxxxxx5 tie resolves from the shortest decimal
    * representation in Spark but from the binary value in DuckDB) — see
    * [[intRatio6]]/[[sqlIntRatio6]], the same half-away-from-zero
    * micro-unit formula on both engines.
    *
    * Scale shape: q75's shuffle-free projection chain with lang/words/
    * chars carried through (no join-back re-scan), then ONE
    * partial-aggregated groupBy(lang) whose shuffle carries |langs| rows
    * per map partition.
    */
  def bpeEvalByLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("n_words", TextStats.tokenCount(col("text")).cast("bigint"))
    bpeEvalFrom(docs, learnedMerges(docs))
  }

  /** The shared apply+aggregate tail of q76/q87b: evaluate a given merge
    * table per language. `docs` must carry `n_words` (q76's convention).
    */
  private def bpeEvalFrom(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val applied = TextStats.bpeApply(docs, "doc_id", "text",
      merges, carry = Seq("lang", "n_words", "n_chars"))
    applied.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("words"),
        sum("n_before").as("toks_before"),
        sum("n_after").as("toks_after"),
        sum("n_chars").as("chars"))
      .select(col("lang"), col("n_docs"), col("words"),
        col("toks_before"), col("toks_after"),
        intRatio6("toks_after", "words").as("fertility"),
        intRatio6("chars", "toks_after").as("chars_per_tok"),
        // merge_savings = 1 - after/before, exactly (before-after)/before
        // on non-negative BIGINTs (merges never add tokens).
        intRatio6("(toks_before - toks_after)", "toks_before")
          .as("merge_savings"))
  }

  /** `round(num/den, 6)` for NON-NEGATIVE BIGINT columns, decided in
    * exact integer space on both engines — the tie-proof form of the
    * repo's round-after-divide convention (the q73 lesson documented at
    * [[graft.llm.Similarity.meanPool]]). Split into whole + fractional
    * parts so only the remainder (< den) is scaled to micro-units:
    * `q = (num div den)·10⁶ + (2·10⁶·(num % den) + den) div (2·den)`
    * — half-away-from-zero, then one exact `/1e6` double division that
    * lands on the same nearest double in Spark and DuckDB. Zero
    * denominator → NULL via `nullif`. Overflow bound: den ≤ 4.6e12
    * (2·10⁶·r with r < den must fit a BIGINT); per-group token/char sums
    * beyond ~4.6 trillion would need the DECIMAL variant — documented,
    * not silently wrong, since Spark's `*` on BIGINT overflow under ANSI
    * wraps visibly against the oracle and DuckDB errors.
    *
    * `num`/`den` are SQL expression strings over the enclosing select's
    * input columns (integer `div` has no Column-API form).
    */
  private def intRatio6(num: String, den: String): org.apache.spark.sql.Column =
    expr(s"""CAST(($num div nullif($den, 0)) * 1000000
      + (2000000 * ($num % nullif($den, 0)) + nullif($den, 0))
        div (2 * nullif($den, 0)) AS DOUBLE) / 1000000.0""")

  /** DuckDB twin of [[intRatio6]] — identical formula with `//` integer
    * division (DuckDB's sums are HUGEINT, so the micro-unit products
    * cannot overflow there).
    */
  private def sqlIntRatio6(num: String, den: String): String =
    s"""CAST(($num // nullif($den, 0)) * 1000000
      + (2000000 * ($num % nullif($den, 0)) + nullif($den, 0))
        // (2 * nullif($den, 0)) AS DOUBLE) / 1000000.0"""

  /** Twin: the merge table derives in SQL with the identical ordering
    * (scalar row_number over count desc, pair asc; `split_part` is safe
    * because bpeish tokens never contain whitespace), and each rank's
    * merge pass is one generated CTE — the same stateless per-position
    * CASE as [[TextStats.bpeMergeStep]], exact because ranked pairs are
    * distinct-sided. Chained s1..s[[BpeMergeCount]] apply in rank order.
    */
  private val bpeApplyCtes: String = {
    def step(j: Int, src: String): String =
      s"""s$j AS (SELECT doc_id, list_filter(list_transform(range(1, len(toks)+1), i ->
        |    CASE WHEN toks[i] = m$j.a AND i < len(toks) AND toks[i+1] = m$j.b THEN m$j.a || m$j.b
        |         WHEN i > 1 AND toks[i-1] = m$j.a AND toks[i] = m$j.b THEN NULL
        |         ELSE toks[i] END), x -> x IS NOT NULL) AS toks
        |  FROM $src, (SELECT tok_a AS a, tok_b AS b FROM m WHERE rn = $j) m$j)""".stripMargin
    val steps = (1 to BpeMergeCount)
      .map(j => step(j, if (j > 1) s"s${j - 1}" else "t")).mkString(",\n")
    s"""WITH t AS (SELECT doc_id, lang, n_chars, len($dToks) AS n_words,
      |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+') AS toks
      |  FROM documents),
      |p AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
      |  i -> toks[i] || ' ' || toks[i+1])) AS pair FROM t),
      |pc AS (SELECT pair, split_part(pair, ' ', 1) AS tok_a, split_part(pair, ' ', 2) AS tok_b,
      |         count(*) AS n FROM p GROUP BY 1, 2, 3),
      |m AS (SELECT tok_a, tok_b, row_number() OVER (ORDER BY n DESC, pair) AS rn
      |      FROM pc WHERE tok_a <> tok_b),
      |$steps""".stripMargin
  }

  private val q75Oracle: String =
    s"""$bpeApplyCtes
      |SELECT t.doc_id, len(t.toks) AS n_before, len(s$BpeMergeCount.toks) AS n_after,
      |  array_to_string(s$BpeMergeCount.toks, ' ') AS tokens
      |FROM t JOIN s$BpeMergeCount ON t.doc_id = s$BpeMergeCount.doc_id""".stripMargin

  /** Twin of [[bpeEvalByLang]]: same CTE chain as q75, then one GROUP BY
    * over exact BIGINT sums with the integer-space [[sqlIntRatio6]]
    * rounding mirrored term-for-term. Every `sum()` is CAST to BIGINT —
    * DuckDB widens `sum(BIGINT)` to HUGEINT, which the driver's value
    * hash distinguishes from Spark's BIGINT even when the values are
    * identical (the r13 q76 lesson; cf. q25/q73's same convention).
    */
  private val q76Oracle: String = {
    val after = s"CAST(sum(len(s$BpeMergeCount.toks)) AS BIGINT)"
    val before = "CAST(sum(len(t.toks)) AS BIGINT)"
    val words = "CAST(sum(t.n_words) AS BIGINT)"
    val chars = "CAST(sum(t.n_chars) AS BIGINT)"
    s"""$bpeApplyCtes
      |SELECT t.lang, count(*) AS n_docs, $words AS words,
      |  $before AS toks_before, $after AS toks_after,
      |  ${sqlIntRatio6(after, words)} AS fertility,
      |  ${sqlIntRatio6(chars, after)} AS chars_per_tok,
      |  ${sqlIntRatio6(s"($before - $after)", before)} AS merge_savings
      |FROM t JOIN s$BpeMergeCount ON t.doc_id = s$BpeMergeCount.doc_id
      |GROUP BY 1""".stripMargin
  }

  // ---- q84: iterated BPE training ---------------------------------------

  /** Training rounds for q84 — fixed and small so the DuckDB twin can
    * unroll them as chained CTEs (the q75/q82 convention). */
  private val BpeTrainRounds = 3

  /** q84 — ITERATED BPE training ([[TextStats.bpeTrainChained]]): the real
    * Sennrich loop — count pairs, merge the top pair, RE-COUNT on the
    * rewritten corpus — for [[BpeTrainRounds]] rounds, so a later round
    * can (and on fixtures provably does, `TextStatsSpec`) select a pair
    * containing an earlier round's merged token. q72/q75's one-shot
    * ranking can never do that: it orders one global count. Output: the
    * learned merge table, one row per round.
    */
  def bpeTrainIterated(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    TextStats.bpeTrainChained(docs, "text", BpeTrainRounds)
  }

  /** Twin: per round, a pair-count CTE over the previous round's rewrite,
    * a 1-row top-pair CTE (count desc, pair asc, distinct-sided — the
    * engine's selection order mirrored exactly), and the q75 stateless
    * merge pass; rounds chain t → s1 → s2 → … with the final round's
    * rewrite elided (nothing re-counts it).
    */
  private val q84Oracle: String = {
    def pairsCte(r: Int, src: String): String =
      s"""p$r AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
         |  i -> toks[i] || ' ' || toks[i+1])) AS pair FROM $src)""".stripMargin
    def topCte(r: Int): String =
      s"""m$r AS (SELECT split_part(pair, ' ', 1) AS tok_a,
         |  split_part(pair, ' ', 2) AS tok_b, count(*) AS n
         |  FROM p$r GROUP BY pair
         |  HAVING split_part(pair, ' ', 1) <> split_part(pair, ' ', 2)
         |  ORDER BY n DESC, pair LIMIT 1)""".stripMargin
    def stepCte(r: Int, src: String): String =
      s"""s$r AS (SELECT list_filter(list_transform(range(1, len(toks)+1), i ->
         |    CASE WHEN toks[i] = mm$r.a AND i < len(toks) AND toks[i+1] = mm$r.b
         |           THEN mm$r.a || mm$r.b
         |         WHEN i > 1 AND toks[i-1] = mm$r.a AND toks[i] = mm$r.b THEN NULL
         |         ELSE toks[i] END), x -> x IS NOT NULL) AS toks
         |  FROM $src, (SELECT tok_a AS a, tok_b AS b FROM m$r) mm$r)""".stripMargin
    val rounds = (1 to BpeTrainRounds).map { r =>
      val src = if (r == 1) "t" else s"s${r - 1}"
      val step = if (r < BpeTrainRounds) ",\n" + stepCte(r, src) else ""
      pairsCte(r, src) + ",\n" + topCte(r) + step
    }.mkString(",\n")
    val arms = (1 to BpeTrainRounds).map(r =>
      s"SELECT $r AS round, tok_a, tok_b, tok_a || tok_b AS merged, n AS n_pairs FROM m$r")
    s"""WITH t AS (SELECT
       |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+') AS toks
       |  FROM documents),
       |$rounds
       |${arms.mkString("\nUNION ALL ")}""".stripMargin
  }

  // ---- q87: the closed tokenizer loop — train (q84) → apply/eval (q75/q76)

  /** The q84-trained merge table as an in-order (tok_a, tok_b) list — one
    * bounded [[BpeTrainRounds]]-row collect of
    * [[TextStats.bpeTrainChained]]'s output in rank (round) order. The
    * train side pays its `rounds` corpus passes; callers that already
    * hold the table hand it to [[TextStats.bpeApply]] directly (the
    * `VocabularySpec` shape).
    */
  private def trainedMerges(docs: DataFrame): Seq[(String, String)] =
    TextStats.bpeTrainChained(docs, "text", BpeTrainRounds)
      .orderBy("round").select("tok_a", "tok_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** q87 — BPE apply CONSUMING THE ITERATED TRAINER (r15 verdict #2):
    * q75's corpus-wide rank-order apply, but the merge table is q84's
    * [[TextStats.bpeTrainChained]] output instead of the one-shot top-5
    * ranking — the closed train→apply loop, where a round-2+ merge may
    * contain a round-1 output token (a pair the one-shot global count can
    * never surface; `VocabularySpec` pins a fixture where such a merge
    * fires AND is applied). Scale shape: q84's train (BpeTrainRounds
    * corpus passes, 1-row collects) + q75's shuffle-free projection
    * chain.
    */
  def bpeTrainApplyDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    TextStats.bpeApply(docs, "doc_id", "text", trainedMerges(docs))
  }

  /** q87b — q76's per-language ship-gate metrics (fertility, compression,
    * merge savings) over the q87 TRAINED tokenizer, completing the
    * train→apply→evaluate loop on the iterated merge table.
    */
  def bpeTrainEvalByLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("n_words", TextStats.tokenCount(col("text")).cast("bigint"))
    bpeEvalFrom(docs, trainedMerges(docs))
  }

  /** Twin generator for q87/q87b: q84's per-round train CTEs (pair count
    * over the previous round's rewrite, 1-row top pair) with `doc_id`
    * carried through every rewrite INCLUDING the final round's (q84
    * elides it — nothing re-counts it there; here it IS the tokenized
    * output), so q75/q76's output projections read off
    * s[[BpeTrainRounds]]. Literally the q84 train CTEs chained into the
    * q75 per-rank apply CTEs, the composition the r15 verdict asked for.
    */
  private val bpeTrainedCtes: String = {
    def pairsCte(r: Int, src: String): String =
      s"""p$r AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
         |  i -> toks[i] || ' ' || toks[i+1])) AS pair FROM $src)""".stripMargin
    def topCte(r: Int): String =
      s"""m$r AS (SELECT split_part(pair, ' ', 1) AS tok_a,
         |  split_part(pair, ' ', 2) AS tok_b, count(*) AS n
         |  FROM p$r GROUP BY pair
         |  HAVING split_part(pair, ' ', 1) <> split_part(pair, ' ', 2)
         |  ORDER BY n DESC, pair LIMIT 1)""".stripMargin
    def stepCte(r: Int, src: String): String =
      s"""s$r AS (SELECT doc_id, list_filter(list_transform(range(1, len(toks)+1), i ->
         |    CASE WHEN toks[i] = mm$r.a AND i < len(toks) AND toks[i+1] = mm$r.b
         |           THEN mm$r.a || mm$r.b
         |         WHEN i > 1 AND toks[i-1] = mm$r.a AND toks[i] = mm$r.b THEN NULL
         |         ELSE toks[i] END), x -> x IS NOT NULL) AS toks
         |  FROM $src, (SELECT tok_a AS a, tok_b AS b FROM m$r) mm$r)""".stripMargin
    val rounds = (1 to BpeTrainRounds).map { r =>
      val src = if (r == 1) "t" else s"s${r - 1}"
      pairsCte(r, src) + ",\n" + topCte(r) + ",\n" + stepCte(r, src)
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, lang, n_chars, len($dToks) AS n_words,
       |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+') AS toks
       |  FROM documents),
       |$rounds""".stripMargin
  }

  private val q87Oracle: String =
    s"""$bpeTrainedCtes
      |SELECT t.doc_id, len(t.toks) AS n_before, len(s$BpeTrainRounds.toks) AS n_after,
      |  array_to_string(s$BpeTrainRounds.toks, ' ') AS tokens
      |FROM t JOIN s$BpeTrainRounds ON t.doc_id = s$BpeTrainRounds.doc_id""".stripMargin

  /** q76Oracle's select (identical CASTs and integer-space ratios) over
    * the trained chain's final rewrite. */
  private val q87bOracle: String = {
    val after = s"CAST(sum(len(s$BpeTrainRounds.toks)) AS BIGINT)"
    val before = "CAST(sum(len(t.toks)) AS BIGINT)"
    val words = "CAST(sum(t.n_words) AS BIGINT)"
    val chars = "CAST(sum(t.n_chars) AS BIGINT)"
    s"""$bpeTrainedCtes
      |SELECT t.lang, count(*) AS n_docs, $words AS words,
      |  $before AS toks_before, $after AS toks_after,
      |  ${sqlIntRatio6(after, words)} AS fertility,
      |  ${sqlIntRatio6(chars, after)} AS chars_per_tok,
      |  ${sqlIntRatio6(s"($before - $after)", before)} AS merge_savings
      |FROM t JOIN s$BpeTrainRounds ON t.doc_id = s$BpeTrainRounds.doc_id
      |GROUP BY 1""".stripMargin
  }

  // ---- q80: LM perplexity filter (CCNet shape) --------------------------

  /** Reference slice for the q80 LM: the English documents stand in for
    * CCNet's trusted target-language Wikipedia. */
  private[graft] val LmRefLang = "en"

  /** q80 — interpolated-bigram LM PERPLEXITY scoring
    * ([[graft.llm.LanguageModel]], the CCNet filter shape): train unigram +
    * pruned bigram counts on the `lang = 'en'` reference slice,
    * score EVERY document's per-token negative log-likelihood under that
    * model. Output (doc_id, n_tokens, nll_per_token) — the column a CCNet
    * pipeline thresholds into head/middle/tail quality tiers. Distinct from
    * q70 (unigram surprisal), which scores the corpus against its own
    * statistics: q80's model never sees the data being judged.
    */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    LanguageModel.perplexity(docs, "doc_id", "text", col("lang") === LmRefLang)
  }

  /** Twin: same LM, same arithmetic — add-one unigram over the reference
    * slice, HAVING-pruned bigrams, λ·cond + (1−λ)·p_uni with explicit
    * DOUBLE literals in the same operand order, per-position
    * round(ln(p), 6) summed as DECIMAL(20,6) (the q70 discipline).
    * Positions come from a 1-based `list_transform(range(...))` struct
    * unnest (DuckDB has no posexplode); the head position's `prev` is NULL,
    * exactly the Spark side's unigram-scored first token.
    */
  /** The q80 CTE chain through `lp` (per-position log-probs), shared with
    * q89's in-pipeline perplexity gate. */
  private val q80Ctes: String =
    s"""tok AS (SELECT doc_id, lang, $dToks AS toks FROM documents),
       |rt AS (SELECT unnest(toks) AS w FROM tok WHERE lang = '$LmRefLang'),
       |uni AS (SELECT w, count(*) AS c FROM rt GROUP BY 1),
       |tot AS (SELECT sum(c) AS t, count(*) AS v FROM uni),
       |rp AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
       |         i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
       |       FROM tok WHERE lang = '$LmRefLang'),
       |bi AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c2 FROM rp
       |       GROUP BY 1, 2
       |       HAVING count(*) >= ${LanguageModel.DefaultMinBigramCount}),
       |pos AS (SELECT doc_id,
       |          unnest(list_transform(range(1, len(toks) + 1),
       |            i -> {'prev': CASE WHEN i = 1 THEN NULL ELSE toks[i-1] END,
       |                  'w': toks[i]})) AS p
       |        FROM tok),
       |flat AS (SELECT doc_id, p.prev AS prev, p.w AS w FROM pos),
       |sc AS (SELECT f.doc_id,
       |         CAST(COALESCE(u.c, 0) + 1 AS DOUBLE) / (t + v + 1) AS puni,
       |         CASE WHEN f.prev IS NULL THEN NULL
       |              WHEN b.c2 IS NULL THEN 0.0
       |              ELSE CAST(b.c2 AS DOUBLE) / CAST(up.c AS DOUBLE) END AS cond
       |       FROM flat f
       |       LEFT JOIN uni u ON f.w = u.w
       |       LEFT JOIN uni up ON f.prev = up.w
       |       LEFT JOIN bi b ON f.prev = b.w1 AND f.w = b.w2
       |       CROSS JOIN tot),
       |lp AS (SELECT doc_id, CAST(round(ln(
       |         CASE WHEN cond IS NULL THEN puni
       |              ELSE CAST(${LanguageModel.Lambda} AS DOUBLE) * cond
       |                 + CAST(${LanguageModel.UnigramWeight} AS DOUBLE) * puni
       |         END), 6) AS DECIMAL(20,6)) AS lp
       |       FROM sc)""".stripMargin

  /** The q80 final select (per-doc token count + integer-rounded mean
    * NLL), shared with q89 where it becomes a `ppl` CTE. */
  private val q80Select: String =
    """SELECT doc_id, count(*) AS n_tokens,
      |  CAST((2 * CAST(-sum(lp) * 1000000 AS BIGINT) + count(*))
      |    // (2 * count(*)) AS DOUBLE) / 1000000.0 AS nll_per_token
      |FROM lp GROUP BY doc_id""".stripMargin

  private val q80Oracle: String = s"WITH $q80Ctes\n$q80Select"

  // ---- q90: DoReMi domain reweighting -----------------------------------

  /** Group-DRO step size on the excess-loss exponent. DoReMi's published
    * multiplicative update is α ∝ α_prev · exp(η · excess); with the
    * statistical-LM excess fixed (no proxy retraining loop in a
    * deterministic engine), the rounds collapse into one exponent — η is
    * the whole temperature of the reweighting. Keep the operand order
    * `η * (excess_u / 1e6)` IDENTICAL in both engines if this ever moves
    * off 1.0: at η = 1.0 the multiply is exact and order-free.
    */
  private[graft] val DoremiEta = 1.0

  /** q90 — DoReMi-shape domain MIXTURE REWEIGHTING (Xie et al. 2023,
    * public): per-source excess loss = mean NLL under the SHARED
    * reference LM (q80's model, trained on the `lang = 'en'` slice) minus
    * mean NLL under the source's OWN bigram LM
    * ([[graft.llm.LanguageModel.domainNll]] — one positions pass scores
    * both models), then the multiplicative Group-DRO update on the
    * token-mass prior: weight ∝ token_frac · exp(η · max(excess, 0)).
    * Sources the reference model already fits (no headroom) keep their
    * natural token share; sources it finds surprising RELATIVE TO THEIR
    * OWN ENTROPY are upweighted — noise that is simply high-entropy
    * everywhere is not (its own model can't compress it either, so the
    * excess stays small). Output one row per source:
    * (source, n_docs, n_tokens, token_frac, nll_ref, nll_own, excess,
    * weight) — the mixture table a q53-style sampler realizes.
    *
    * Determinism: the NLL means arrive as exact micro-unit BIGINTs, so
    * `excess` is an integer difference; the only doubles are the
    * identical-input exp/multiply (same q80 last-ulp argument) whose
    * product is immediately rounded to 6 decimals and re-anchored as a
    * DECIMAL micro-int, and BOTH normalizations (token share, final
    * weight) are the integer-space [[intRatio6]] over window-summed
    * BIGINTs — no order-sensitive double accumulation anywhere. The two
    * whole-frame windows run on the |sources|-row aggregate (bounded
    * rows, the single-partition warning is about a 20-row frame).
    */
  def doremiWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    val perDom = LanguageModel.domainNll(
      docs, "doc_id", "source", "text", col("lang") === LmRefLang)
    val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perDom.join(nd, Seq("source"))
      .withColumn("__tok_total", sum(col("n_tokens")).over(w))
      .withColumn("token_frac", intRatio6("n_tokens", "__tok_total"))
      .withColumn("__x_u", greatest(col("__m_ref") - col("__m_own"), lit(0L)))
      .withColumn("__score",
        round(col("token_frac") *
          exp(lit(DoremiEta) * (col("__x_u").cast("double") / lit(1000000.0))), 6)
          .cast("decimal(20,6)"))
      .withColumn("__score_u", (col("__score") * lit(1000000L)).cast("long"))
      .withColumn("__total_u", sum(col("__score_u")).over(w))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("token_frac"),
        (col("__m_ref").cast("double") / lit(1000000.0)).as("nll_ref"),
        (col("__m_own").cast("double") / lit(1000000.0)).as("nll_own"),
        ((col("__m_ref") - col("__m_own")).cast("double") / lit(1000000.0)).as("excess"),
        intRatio6("__score_u", "__total_u").as("weight"))
  }

  /** Twin: the q80 reference-model CTEs plus their domain-keyed doubles
    * (duni/dtot/dbi grouped by source), one source-carrying positions
    * unnest scored under both models in the same select, per-source
    * integer-space means, and the two intRatio6 normalizations over
    * `sum(...) OVER ()` BIGINT window totals — additions all integer, so
    * window evaluation order cannot matter.
    */
  /** The q90 CTE chain through `j4` (per-source micro-unit scores +
    * window totals), shared with q90b where the final select becomes a
    * `w90` CTE. */
  private val q90Ctes: String =
    s"""tok AS (SELECT doc_id, source, lang, $dToks AS toks FROM documents),
       |rt AS (SELECT unnest(toks) AS w FROM tok WHERE lang = '$LmRefLang'),
       |uni AS (SELECT w, count(*) AS c FROM rt GROUP BY 1),
       |tot AS (SELECT sum(c) AS t, count(*) AS v FROM uni),
       |rp AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
       |         i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
       |       FROM tok WHERE lang = '$LmRefLang'),
       |bi AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c2 FROM rp
       |       GROUP BY 1, 2
       |       HAVING count(*) >= ${LanguageModel.DefaultMinBigramCount}),
       |du AS (SELECT source, unnest(toks) AS w FROM tok),
       |duni AS (SELECT source, w, count(*) AS c FROM du GROUP BY 1, 2),
       |dtot AS (SELECT source, sum(c) AS dt, count(*) AS dv FROM duni GROUP BY 1),
       |drp AS (SELECT source, unnest(list_transform(range(1, greatest(len(toks), 1)),
       |         i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p FROM tok),
       |dbi AS (SELECT source, p.w1 AS w1, p.w2 AS w2, count(*) AS c2 FROM drp
       |        GROUP BY 1, 2, 3
       |        HAVING count(*) >= ${LanguageModel.DefaultMinBigramCount}),
       |pos AS (SELECT doc_id, source,
       |          unnest(list_transform(range(1, len(toks) + 1),
       |            i -> {'prev': CASE WHEN i = 1 THEN NULL ELSE toks[i-1] END,
       |                  'w': toks[i]})) AS p
       |        FROM tok),
       |flat AS (SELECT doc_id, source, p.prev AS prev, p.w AS w FROM pos),
       |sc AS (SELECT f.source,
       |         CAST(COALESCE(u.c, 0) + 1 AS DOUBLE) / (t.t + t.v + 1) AS puni_ref,
       |         CASE WHEN f.prev IS NULL THEN NULL
       |              WHEN b.c2 IS NULL THEN 0.0
       |              ELSE CAST(b.c2 AS DOUBLE) / CAST(up.c AS DOUBLE) END AS cond_ref,
       |         CAST(COALESCE(da.c, 0) + 1 AS DOUBLE)
       |           / CAST(dt.dt + dt.dv + 1 AS DOUBLE) AS puni_own,
       |         CASE WHEN f.prev IS NULL THEN NULL
       |              WHEN db.c2 IS NULL THEN 0.0
       |              ELSE CAST(db.c2 AS DOUBLE) / CAST(dp.c AS DOUBLE) END AS cond_own
       |       FROM flat f
       |       LEFT JOIN uni u ON f.w = u.w
       |       LEFT JOIN uni up ON f.prev = up.w
       |       LEFT JOIN bi b ON f.prev = b.w1 AND f.w = b.w2
       |       LEFT JOIN duni da ON f.source = da.source AND f.w = da.w
       |       LEFT JOIN duni dp ON f.source = dp.source AND f.prev = dp.w
       |       LEFT JOIN dbi db ON f.source = db.source AND f.prev = db.w1 AND f.w = db.w2
       |       JOIN dtot dt ON f.source = dt.source
       |       CROSS JOIN tot t),
       |lp AS (SELECT source,
       |         CAST(round(ln(
       |           CASE WHEN cond_ref IS NULL THEN puni_ref
       |                ELSE CAST(${LanguageModel.Lambda} AS DOUBLE) * cond_ref
       |                   + CAST(${LanguageModel.UnigramWeight} AS DOUBLE) * puni_ref
       |           END), 6) AS DECIMAL(20,6)) AS lp_ref,
       |         CAST(round(ln(
       |           CASE WHEN cond_own IS NULL THEN puni_own
       |                ELSE CAST(${LanguageModel.Lambda} AS DOUBLE) * cond_own
       |                   + CAST(${LanguageModel.UnigramWeight} AS DOUBLE) * puni_own
       |           END), 6) AS DECIMAL(20,6)) AS lp_own
       |       FROM sc),
       |agg AS (SELECT source, count(*) AS n_tokens,
       |          CAST(-sum(lp_ref) * 1000000 AS BIGINT) AS smr,
       |          CAST(-sum(lp_own) * 1000000 AS BIGINT) AS smo
       |        FROM lp GROUP BY 1),
       |mm AS (SELECT source, n_tokens,
       |         (2 * smr + n_tokens) // (2 * n_tokens) AS mru,
       |         (2 * smo + n_tokens) // (2 * n_tokens) AS mou
       |       FROM agg),
       |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |j1 AS (SELECT mm.source, nd.n_docs, mm.n_tokens, mru, mou,
       |         sum(mm.n_tokens) OVER () AS tok_total
       |       FROM mm JOIN nd ON mm.source = nd.source),
       |j2 AS (SELECT source, n_docs, n_tokens, mru, mou,
       |         ${sqlIntRatio6("n_tokens", "tok_total")} AS token_frac,
       |         greatest(mru - mou, 0) AS x_u
       |       FROM j1),
       |j3 AS (SELECT source, n_docs, n_tokens, mru, mou, token_frac,
       |         CAST(CAST(round(token_frac * exp(CAST($DoremiEta AS DOUBLE)
       |             * (CAST(x_u AS DOUBLE) / 1000000.0)), 6) AS DECIMAL(20,6))
       |           * 1000000 AS BIGINT) AS score_u
       |       FROM j2),
       |j4 AS (SELECT *, sum(score_u) OVER () AS total_u FROM j3)""".stripMargin

  /** The q90 final select (full mixture row per source). */
  private val q90Select: String =
    s"""SELECT source, n_docs, n_tokens, token_frac,
       |  CAST(mru AS DOUBLE) / 1000000.0 AS nll_ref,
       |  CAST(mou AS DOUBLE) / 1000000.0 AS nll_own,
       |  CAST(mru - mou AS DOUBLE) / 1000000.0 AS excess,
       |  ${sqlIntRatio6("score_u", "total_u")} AS weight
       |FROM j4""".stripMargin

  private val q90Oracle: String = s"WITH $q90Ctes\n$q90Select"

  /** q90b — REALIZE the q90 mixture (the train→apply closure, the q87
    * convention): per-source keep rate r_s = round((w_s / frac_s) ·
    * min_{s'}(frac_{s'} / w_{s'}), 6) — kept token mass ∝ weight, rate
    * anchored so the most-upweighted source keeps everything (hash
    * sampling never upsamples, the q53 temperature-mix discipline) — and
    * each document's keep decision is the [[graft.operators.Sampling]]
    * md5-prefix draw at its source's rate, keyed on doc_id. Output
    * (doc_id, source, rate): the realized pretraining mixture plus the
    * audit column. Sources whose every document tokenizes to nothing
    * carry no weight row and drop out (nothing to sample).
    *
    * Scale shape: the whole q90 plan runs ONCE into a |sources|-row rate
    * table that broadcasts back onto a (doc_id, source) corpus
    * projection; the keep decision is a map-side string compare — the
    * corpus is never shuffled and never scanned wider than two columns.
    *
    * Determinism: w and frac are round-6 doubles, their quotients and
    * the 20-way min are identical-input double ops (min is exact and
    * order-free), and the only new rounding is the final round-6 on the
    * rate — same operand order in both engines, then the same printf-hex
    * threshold derivation as q53.
    */
  def doremiResample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = doremiWeights(spark, dir)
    // min anchor via a global window over the |sources|-row weight table
    // (the temperatureSample pattern — avoids the plan-audit-banned
    // constant-key cross join)
    val anchored = w.select(col("source"), col("token_frac"), col("weight"))
      .withColumn("__c",
        min(col("token_frac") / col("weight")).over(Window.partitionBy()))
    val rates = anchored.select(col("source"),
      round((col("weight") / col("token_frac")) * col("__c"), 6).as("rate"))
    val threshold = format_string("%08x",
      least(floor(col("rate") * lit(4294967296.0)).cast("long"),
        lit(4294967295L)))
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select("doc_id", "source")
      .join(rates, Seq("source"))
      .filter(col("rate") >= 1.0 ||
        substring(md5(col("doc_id").cast("string")), 1, 8) < threshold)
      .select("doc_id", "source", "rate")
  }

  /** Twin: the q90 chain as CTEs, the same min-anchored rate with the
    * identical parenthesization, and the q53 printf-hex keep draw. */
  private val q90bOracle: String =
    s"""WITH $q90Ctes,
       |w90 AS ($q90Select),
       |r AS (SELECT source,
       |  round((weight / token_frac) * (SELECT min(token_frac / weight) FROM w90),
       |    6) AS rate
       |  FROM w90)
       |SELECT d.doc_id, d.source, r.rate
       |FROM documents d JOIN r USING (source)
       |WHERE r.rate >= 1.0 OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
       |  < printf('%08x', least(CAST(floor(rate * 4294967296.0) AS BIGINT),
       |                         4294967295))""".stripMargin

  // ---- q91: prototypicality pruning (SSL-prototypes / D4) ---------------

  /** Keep quantile for q91: drop the top 20% most-prototypical members of
    * every cluster (the abundant-data operating point of Sorscher et al. —
    * at scale the EASY examples are the redundant ones). */
  private[graft] val ProtoKeepQuantile = 0.8

  /** q91 — PROTOTYPICALITY pruning over the embedding corpus
    * ([[graft.llm.Similarity.prototypePrune]], the SSL-prototypes / D4
    * cluster-based data-pruning shape): one q81 Lloyd refine from the
    * pinned [[kmeansSeedSet]], assignment to the refined centroids, per-
    * member cosine-to-centroid prototypicality, and a per-cluster exact-
    * percentile cut keeping the bottom [[ProtoKeepQuantile]] — the
    * diversity-preserving prune that complements q48c's near-dup removal
    * (semantic dedup removes TWINS; prototype pruning thins the dense
    * CORE every cluster keeps after dedup). Output (vec_id, bucket,
    * proto) for the kept vectors.
    */
  def protoPrune(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("emb"))
    Similarity.prototypePrune(e, kmeansSeedSet(e), ProtoKeepQuantile)
      .select(col("id").as("vec_id"), col("bucket"), col("proto"))
  }

  /** Twin: [[lloydCtes]] through round 1's wide centroids (c1n), the a2
    * assignment against them, the same round-6 cosine recomputed as the
    * proto score, and the q49 quantile_cont threshold per bucket. */
  private val q91Oracle: String =
    lloydCtes(1, wideLast = true) + ",\n" +
    s"""a2 AS (
      |  SELECT id, emb, nrm, c_id AS bucket FROM (
      |    SELECT n.id, n.emb, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.id
      |        ORDER BY round(list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm), 6) DESC, c.c_id) AS r
      |    FROM n, c1n c) WHERE r = 1),
      |p AS (SELECT a2.id, a2.bucket,
      |        round(list_dot_product(a2.emb, c.c_emb) / (a2.nrm * c.c_nrm), 6) AS proto
      |      FROM a2 JOIN c1n c ON a2.bucket = c.c_id),
      |t AS (SELECT bucket, round(quantile_cont(proto, $ProtoKeepQuantile), 6) AS thr
      |      FROM p GROUP BY 1)
      |SELECT p.id AS vec_id, p.bucket, p.proto
      |FROM p JOIN t USING (bucket) WHERE p.proto <= t.thr""".stripMargin

  // ---- q89: modern pretraining curation (capstone) ----------------------

  /** Perplexity-gate quantile for q89: keep documents at or below the
    * corpus MEDIAN NLL under the reference LM — the CCNet head+middle
    * tier cut, expressed with the q49 exact-percentile convention
    * (round-6 before any compare). */
  private[graft] val PplGateQuantile = 0.5

  /** Classifier-gate quantile for q89: keep documents at or above the
    * corpus MEDIAN classifier margin — rank-based selection (same
    * exact-percentile/round-6 convention as the NLL gate). Why a rank and
    * not q85's margin>0 cut: see the stage-1 comment in
    * [[pretrainCuration]] (the measured 5000-doc degeneration). */
  private[graft] val ClfGateQuantile = 0.5

  /** q89 — the MODERN pretraining-curation pipeline, composing the
    * engine's strongest component from each stage family into ONE chained
    * plan (the r16 verdict's capstone ask; q29 remains the round-7-era
    * heuristic chain for contrast):
    *
    *   1. TRAINED quality filter (q85 ranking): hashed-feature logistic
    *      regression fit in-engine on the trusted-source labels, keep =
    *      classifier score at or above the corpus median
    *      ([[ClfGateQuantile]] — rank-based selection; the margin>0 cut
    *      measurably degenerates to keep-nothing at the 5000-doc scale,
    *      see the stage-1 comment) — replaces q29's hand-tuned quality
    *      threshold.
    *   2. LM perplexity gate (q80 + q49): interpolated-bigram NLL under
    *      the `lang='en'` reference model, keep docs at or below the
    *      corpus median ([[PplGateQuantile]]) — the CCNet tier cut.
    *   3. Benchmark exclusion + SEMANTIC decontamination (q24c): drop the
    *      benchmark docs themselves (`doc_id % SemBenchMod = SemBenchRem`)
    *      and every training doc whose embedding cosine-matches a
    *      benchmark embedding at ≥ [[CosineDupThreshold]] through the
    *      scale-adaptive cell probe.
    *   4. SEMANTIC dedup (q48c): cell-blocked cosine pairs → connected
    *      components over the full embedding corpus; the kept
    *      representative is the min-id doc AMONG THE GATE SURVIVORS (the
    *      sequential-pipeline semantics — a cluster whose canonical member
    *      was already dropped by an earlier gate still contributes its
    *      best surviving member).
    *   5. Temperature mix (q53) then per-language token budget (q50) over
    *      the survivors — the final mixing stages, computed on
    *      post-filter counts as a real recipe would.
    *
    * Plan-level composition wins (the reason this is one query, not five):
    * the embeddings are scanned ONCE into a single adaptive √N-cell
    * [[Similarity.ivfAssign]] that BOTH the decontamination probe and the
    * dedup pair join consume (the packaged q24c/q48c components each
    * build their own); the classifier weights, LM tables, benchmark
    * probes, and language-rate tables all ride broadcasts; `n_tokens`
    * comes from the perplexity scorer's existing count instead of a
    * second tokenize. Documents are scanned once per stage family
    * (classifier features, LM positions, final gate projection) — exactly
    * the components' own scan count. Driver-side actions are the q16f
    * bounded-metadata kind: one `count()` (geometry), one 1-row
    * percentile `first()` (the median literal — carried as a literal for
    * the same reason [[LanguageModel.perplexity]] carries T/V: a 1-row
    * cross join is banned), plus the classifier's ≤B+1-row gradient
    * collects.
    *
    * Embedding coverage contract: docs without an embedding row (the
    * sf0.1 shape — 5000 docs, 2000 vectors) pass stages 3b/4 as singleton
    * keeps; semantic decon recall is bounded by embedding coverage, which
    * is the honest production semantics (embed-everything is the fix, not
    * a pipeline change).
    *
    * Cache lifecycle: the returned plan reads five caches (classifier
    * scores, perplexity scores, the shared cell assignment, the
    * contaminated ids, the gated representatives), so they are
    * caller-owned ([[Stage]]'s lifecycle rule).
    */
  def pretrainCuration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val par = spark.sparkContext.defaultParallelism
    val docs = Tables.documents(spark, dir).repartition(par)

    // The three prep families below — classifier train+score+median (stage
    // 1), perplexity score+median (stage 2), and the embedding
    // count→assignment→clusters chain (stages 3+4) — are INDEPENDENT until
    // the gate conjunction, but each runs bounded driver actions (epoch
    // gradient collects, the two median `first()`s, the geometry `count()`,
    // the CC resolution), which serialized the whole prep: every action's
    // job tail left the cluster idle while the next family waited. Submit
    // each family from its own driver thread (guide §2.6 — overlap
    // independent jobs; FIFO scheduling back-fills one family's stragglers
    // with the next family's tasks) and join before composing the gate.
    // Results are unchanged — each family's output is deterministic and
    // the composed plan is identical; only the driver-side submission
    // order moved. Measured at sf0.1 (r18 opt round): q89 12.8 s
    // in-registry → 5.9 s SOLO (normally the slower protocol) — the prep
    // families' ~80 small AQE-stage jobs were mostly cluster-idle driver
    // latency, which is exactly what overlapping recovers. Note the CC
    // grain-swap trade documented on
    // [[graft.llm.Dedup.connectedComponents]] — a concurrently PLANNED
    // query can see the loop's temporary state-scale grain — now applies
    // within this method's prep window too (at bench scale the small-graph
    // driver path makes it moot; at corpus scale the swap is live for the
    // loop's duration regardless of who planned alongside).
    val prepPool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val prepEc: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(prepPool)

    // stage 1: trained classifier, RANK-based keep — score at or above
    // the corpus median margin ([[ClfGateQuantile]]), NOT q85's raw
    // margin > 0 cut. Measured reason (r18 CurationScaleProbe): under the
    // fixture's 20/80 class imbalance, two full-batch epochs of the
    // hashed-feature model leave almost every margin negative once the
    // corpus reaches 5000 docs — margin > 0 kept 83 of 5000 at sf0.1 and
    // 0 of 50,000 at the 10× replica (whose per-replica token suffixes
    // grow the hashed vocabulary and wash the per-bucket signal out),
    // silently emptying the whole mix while each stage looked healthy.
    // Keeping a top FRACTION by classifier score is the quality-filter
    // convention the public curation recipes use (CCNet/DSIR-style
    // selection), is scale-stable for any class balance, and parallels
    // the perplexity median gate below. q85 itself keeps its calibrated
    // margin>0 semantics (q88 evaluates that cut); the pipeline consumes
    // the RANKING. The median is one bounded `first()` carried as a
    // literal, exactly like the NLL median.
    val clfFut = scala.concurrent.Future {
      val clfScores = Stage.cache(Classifier
        .trainScore(docs, dsirTarget, clfTrain, ClfBuckets, ClfEpochs)
        .select("doc_id", "score"))
      val clfMedRow = clfScores
        .agg(round(percentile(col("score"), lit(ClfGateQuantile)), 6))
        .first()
      require(!clfMedRow.isNullAt(0),
        "curation needs at least one classifier-scored document")
      clfScores
        .filter(col("score") >= clfMedRow.getDouble(0)).select("doc_id")
    }

    // stage 2: perplexity + median gate; persist — the N-row score frame
    // feeds the median aggregate AND the gate join (q49's caller-owned
    // lifecycle convention). The column REORDER before the persist is
    // load-bearing: q80's registered query is this exact plan subtree,
    // and Spark's cache manager substitutes any canonically-equal
    // fragment — a same-order persist here would silently rewrite q80's
    // (and its bench timing's) physical plan whenever both live in one
    // session without a clearCache between (measured: the same collision
    // class flipped q16h's plan-audit via the shared assignment below).
    val pplFut = scala.concurrent.Future {
      val ppl = Stage.cache(LanguageModel
        .perplexity(docs, "doc_id", "text", col("lang") === LmRefLang)
        .select("doc_id", "nll_per_token", "n_tokens"))
      val medianRow = ppl
        .agg(round(percentile(col("nll_per_token"), lit(PplGateQuantile)), 6))
        .first()
      // percentile over ZERO rows returns SQL NULL, not an error — surface
      // the empty-corpus case as a message instead of getDouble's opaque
      // NPE (the embedding corpus gets the same guard in ivfGeometry below)
      require(!medianRow.isNullAt(0),
        "curation needs at least one perplexity-scored document " +
          "(documents table empty, or no rows to score)")
      val nllMedian = medianRow.getDouble(0)
      ppl.filter(col("nll_per_token") <= nllMedian)
        .select("doc_id", "n_tokens")
    }

    // stages 3+4 share ONE embedding scan and ONE adaptive assignment
    val embFut = scala.concurrent.Future {
      val embRaw = Tables.embeddings(spark, dir).repartition(par)
      val g = Similarity.ivfGeometry(embRaw)
      val vecs = embRaw.select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("emb"))
      val centroids = vecs.filter(col("id") % g.stride === 0)
      // reordered before the persist for the same cache-collision reason as
      // ppl above: q16h/q16i/q48c build this exact ivfAssign subtree (same
      // corpus, same count-derived stride), and the cached fragment must
      // never substitute into THEIR plans
      val assigned = Stage.cache(Similarity.ivfAssign(vecs, centroids)
        .select("id", "bucket", "emb"))
      // BOUNDED benchmark suite ([[SemBenchIdBound]]): the unbounded % 48
      // form made the probe broadcast N·√N-sized and candidates quadratic —
      // the measured 1000× broadcast OOM (r17 BASELINE section)
      val benchPred = semBenchCol
      // Persist + count INSIDE the overlapped prep window (r19, guide
      // §2.6/§1.2): lazily, the whole decon probe — the probeBuckets
      // windows, the bucket join, the cosine verify, the distinct — used
      // to re-run inside the FINAL composed plan (the q89 tail, after the
      // families have joined), and the anti-join below planned as a
      // corpus-side SortMergeJoin because the distinct's size was unknown
      // at planning time. Materializing the id set here runs that work
      // concurrently with the classifier/perplexity families, and the
      // cache's exact (tiny) stats let AQE broadcast the gate's anti-join
      // instead of shuffling the gated corpus on doc_id. Single-long-
      // column cache — none of the string-array columnar-build hazard;
      // lifecycle is the family persists' (Bench/Verify clearCache).
      val contaminatedIds = Stage.cache(assigned.filter(!benchPred)
        .join(broadcast(
          Similarity.probeBuckets(vecs.filter(benchPred), centroids,
            g.nprobe(AdaptiveProbeFraction))),
          Seq("bucket"))
        .filter(round(Similarity.fusedCosine(col("emb"), col("q_emb")), 6)
          >= CosineDupThreshold)
        .select(col("id").as("doc_id")).distinct())
      contaminatedIds.count()
      val clusters = Dedup.connectedComponents(
          Similarity.cosinePairs(assigned, "id", "emb", col("bucket"),
            CosineDupThreshold))
        .withColumnRenamed("id", "doc_id")
      (contaminatedIds, clusters)
    }

    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    // Await ALL three families before propagating a failure (ADVICE r18):
    // a fail-fast Await chain threw while the other families' Spark job
    // chains kept running to completion in the background, leaving their
    // MEMORY_AND_DISK persists registered with nothing to unpersist them.
    // Lifting each future to its Try makes the join total — every family
    // has finished (either way) before the first failure is rethrown.
    val (clfKeepIds, pplKeep, (contaminatedIds, clusters)) =
      try {
        val outcomes = Await.result(
          scala.concurrent.Future.sequence(Seq(
            clfFut.transform(scala.util.Success(_)),
            pplFut.transform(scala.util.Success(_)),
            embFut.transform(scala.util.Success(_)))),
          Duration.Inf)
        outcomes.foreach { case scala.util.Failure(e) => throw e; case _ => () }
        (Await.result(clfFut, Duration.Inf), Await.result(pplFut, Duration.Inf),
          Await.result(embFut, Duration.Inf))
      } finally prepPool.shutdown()

    // gate conjunction → surviving-representative dedup → mix → budget
    val gated = docs.select(col("doc_id"), col("lang"))
      .join(clfKeepIds, "doc_id")
      .join(pplKeep, "doc_id")
      // exclusion tracks the BOUNDED suite: replica twins of benchmark
      // docs are ordinary training docs for the decontamination to catch
      .filter(!(col("doc_id") < SemBenchIdBound &&
        col("doc_id") % SemBenchMod === SemBenchRem))
      .join(contaminatedIds, Seq("doc_id"), "left_anti")
    // persisted: temperatureSample evaluates its input TWICE (the
    // per-language count aggregate and the rate-join probe side), and
    // without the cache each evaluation re-runs the whole gate pipeline
    // above — classifier join, perplexity join, decontamination anti-join
    // and the cluster window. |reps| rows ≤ corpus, narrow 3 columns.
    val reps = Stage.cache(gated
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("cluster").orderBy("doc_id")))
      .filter(col("__rn") === 1)
      .select("doc_id", "lang", "n_tokens"))
    val mixed = graft.operators.Sampling.temperatureSample(
      reps, col("lang"), col("doc_id"))
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mixed.withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= TokenBudget)
      .select("doc_id", "lang", "n_tokens", "rate", "cum_tokens")
  }

  /** Twin: every stage is the PROVEN component oracle re-chained —
    * [[q85Ctes]] through `ms` (classifier margins), [[q80Ctes]]/
    * [[q80Select]] as a `ppl` CTE plus a `quantile_cont` median
    * (`percentile` ≡ `quantile_cont`, the q49-proven pairing, round-6
    * before the compare), the q24c probe and q48c pair/closure chains
    * sharing ONE `eassigned` nearest-centroid CTE (count-derived √N
    * geometry), then q53's rate CTEs and q50's running-sum window over
    * the survivors. CTE names are disjoint by construction (the q85
    * chain owns t/f/ftr/ntr/w·/m·/r·/g·/ms; q80 owns tok…lp; the
    * embedding chain is e-prefixed).
    */
  private val q89Oracle: String = {
    val clfCtes = q85Ctes.stripPrefix("WITH ")
    s"""WITH RECURSIVE $clfCtes,
      |$q80Ctes,
      |ppl AS ($q80Select),
      |med AS (SELECT round(quantile_cont(nll_per_token, $PplGateQuantile), 6) AS m
      |        FROM ppl),
      |clfmed AS (SELECT round(quantile_cont(mI / 1000000.0, $ClfGateQuantile), 6) AS m
      |           FROM ms),
      |emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |geo AS (SELECT greatest(1, count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS stride,
      |               CAST(ceil($AdaptiveProbeFraction * ceil(sqrt(count(*)))) AS BIGINT) AS nprobe
      |        FROM emb0),
      |en AS (SELECT vec_id AS id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM emb0),
      |ec AS (SELECT id AS c_id, emb AS c_emb, nrm AS c_nrm FROM en
      |       WHERE id % (SELECT stride FROM geo) = 0),
      |eassigned AS (
      |  SELECT id, emb, nrm, c_id AS bucket FROM (
      |    SELECT en.id, en.emb, en.nrm, ec.c_id,
      |      row_number() OVER (PARTITION BY en.id
      |        ORDER BY round(list_dot_product(en.emb, ec.c_emb) / (en.nrm * ec.c_nrm), 6) DESC, ec.c_id) AS r
      |    FROM en, ec) WHERE r = 1),
      |bprobe AS (
      |  SELECT id AS query_id, emb AS q_emb, nrm AS q_nrm, c_id AS bucket FROM (
      |    SELECT en.id, en.emb, en.nrm, ec.c_id,
      |      row_number() OVER (PARTITION BY en.id
      |        ORDER BY round(list_dot_product(en.emb, ec.c_emb) / (en.nrm * ec.c_nrm), 6) DESC, ec.c_id) AS r
      |    FROM en, ec WHERE ${semBenchSql("en.id")})
      |  WHERE r <= (SELECT nprobe FROM geo)),
      |contam AS (
      |  SELECT DISTINCT a.id FROM eassigned a JOIN bprobe q ON a.bucket = q.bucket
      |  WHERE NOT (${semBenchSql("a.id")})
      |    AND round(list_dot_product(a.emb, q.q_emb) / (a.nrm * q.q_nrm), 6) >= $CosineDupThreshold),
      |spairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b FROM eassigned a JOIN eassigned b
      |  ON a.bucket = b.bucket AND a.id < b.id
      |  WHERE round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) >= $CosineDupThreshold),
      |edges AS (SELECT id_a AS u, id_b AS v FROM spairs
      |          UNION ALL SELECT id_b, id_a FROM spairs),
      |reach AS (SELECT u, v FROM edges
      |          UNION SELECT r2.u, e2.v FROM reach r2 JOIN edges e2 ON r2.v = e2.u),
      |comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u),
      |gated AS (
      |  SELECT d.doc_id, d.lang, p2.n_tokens
      |  FROM documents d
      |  JOIN ms ON ms.doc_id = d.doc_id
      |  JOIN ppl p2 ON p2.doc_id = d.doc_id
      |  CROSS JOIN med CROSS JOIN clfmed
      |  WHERE ms.mI / 1000000.0 >= clfmed.m AND p2.nll_per_token <= med.m
      |    AND NOT (${semBenchSql("d.doc_id")})
      |    AND d.doc_id NOT IN (SELECT id FROM contam)),
      |reps AS (
      |  SELECT doc_id, lang, n_tokens FROM (
      |    SELECT g.*, row_number() OVER (
      |        PARTITION BY coalesce(c2.cluster, g.doc_id) ORDER BY g.doc_id) AS rn
      |    FROM gated g LEFT JOIN comp c2 USING (doc_id)) WHERE rn = 1),
      |lc AS (SELECT lang, count(*) AS n FROM reps GROUP BY lang),
      |lmin AS (SELECT min(n) AS n_min FROM lc),
      |lr AS (SELECT lang, round(sqrt(CAST(n_min AS DOUBLE) / n), 6) AS rate
      |       FROM lc CROSS JOIN lmin),
      |mixed AS (
      |  SELECT r3.doc_id, r3.lang, r3.n_tokens, lr.rate
      |  FROM reps r3 JOIN lr USING (lang)
      |  WHERE lr.rate >= 1.0 OR substr(md5(CAST(r3.doc_id AS VARCHAR)), 1, 8)
      |    < printf('%08x', least(CAST(floor(lr.rate * 4294967296.0) AS BIGINT),
      |                           4294967295))),
      |bud AS (
      |  SELECT doc_id, lang, n_tokens, rate,
      |    CAST(sum(n_tokens) OVER (
      |      PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM mixed)
      |SELECT doc_id, lang, n_tokens, rate, cum_tokens FROM bud
      |WHERE cum_tokens <= $TokenBudget""".stripMargin
  }

  // ---- registry --------------------------------------------------------

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q10_text_stats", textStats, q10Oracle),
    QuerySpec("q10b_winnow", winnowFingerprints, q10bOracle),
    QuerySpec("q11_exact_dedup", exactDedup, q11Oracle),
    QuerySpec("q12_minhash_pairs", minhashPairs, q12Oracle),
    QuerySpec("q13_blocked_jaccard", blockedJaccard, q13Oracle),
    QuerySpec("q14_simhash", simhashSketch, q14Oracle),
    // fixed-slice banding: 8-bit band buckets are a FIXED-cardinality
    // blocking, so chance collisions grow ∝ N²/256 and the exact-Hamming
    // verify pays them (measured 25× third-decade step, r17 ladder) vs
    // the block-combination banding's 35-bit keys
    QuerySpec("q64_simhash_pairs", simhashNearDup, q64Oracle,
      contrastOf = Some("q64b_simhash_pairs_wide")),
    QuerySpec("q64b_simhash_pairs_wide", simhashNearDupWide, q64bOracle),
    // the float32 brute-force scan (182.97 s at 100×) vs the 1-bit
    // radius scan at its calibrated ≥0.9-recall point (12.23 s — 15×)
    QuerySpec("q15_ann_topk", annBruteForce, q15Oracle,
      contrastOf = Some("q15c_ann_binary")),
    // int8 quantized scan: same O(N·d) full-dim arithmetic as q15 with a
    // ~4× constant saving — measured at the third decade (r17 ladder) to
    // exist "to be undercut" by the 1-bit radius scan's 64×-narrower read
    QuerySpec("q15b_ann_quantized", annQuantized, q15bOracle,
      contrastOf = Some("q15c_ann_binary")),
    QuerySpec("q15c_ann_binary", annBinary, q15cOracle),
    // per-query PQ re-encode: the N×M×k encode term is per-RUN work that
    // the persisted-codebook index pays once and amortizes (r17 ladder)
    QuerySpec("q15d_ann_pq", annPq, q15dOracle,
      contrastOf = Some("q16i_ann_ivf_pq_indexed")),
    // q16, q16b, q16d: the %100 fixed-centroid IVF convention
    // (14.8–14.9×/decade, recall silently decaying every decade — the r11
    // scale tables) vs the √N-centroid fraction-held-probe form
    QuerySpec("q16_ann_ivf", annIvf, q16Oracle,
      contrastOf = Some("q16f_ann_ivf_adaptive")),
    QuerySpec("q16b_ann_ivf_nprobe2", annIvfNprobe2, q16bOracle,
      contrastOf = Some("q16f_ann_ivf_adaptive")),
    QuerySpec("q16d_ann_ivf_nprobe4", annIvfNprobe4, q16dOracle,
      contrastOf = Some("q16f_ann_ivf_adaptive")),
    QuerySpec("q16f_ann_ivf_adaptive", annIvfAdaptive, q16fOracle),
    // fixed 4-plane single-table LSH (33×/decade) vs adaptive geometry
    QuerySpec("q16c_ann_lsh", annLsh, q16cOracle,
      contrastOf = Some("q16g_ann_lsh_adaptive")),
    // fixed LSH geometry (54×/decade degeneration) vs adaptive geometry
    QuerySpec("q16e_ann_lsh_fixed", annLshTables, q16eOracle,
      contrastOf = Some("q16g_ann_lsh_adaptive")),
    QuerySpec("q16g_ann_lsh_adaptive", annLshAdaptive, q16gOracle),
    // per-run codebook rebuild + corpus re-encode vs the persisted index
    QuerySpec("q16h_ann_ivf_pq", annIvfPq, q16hOracle,
      contrastOf = Some("q16i_ann_ivf_pq_indexed")),
    QuerySpec("q16i_ann_ivf_pq_indexed", annIvfPqIndexed, q16iOracle),
    QuerySpec("q17_embed_nearest", embedNearest, q17Oracle),
    QuerySpec("q18_multimodal", multimodalFeatures, q18Oracle),
    QuerySpec("q83_image_neardup", imageNearDup, q83Oracle),
    QuerySpec("q19_sessions", sessions, q19Oracle),
    QuerySpec("q66_session_overlap", sessionOverlap, q66Oracle),
    QuerySpec("q20_training_prep", trainingPrep, q20Oracle),
    QuerySpec("q21_windowed_counts", windowedCounts, q21Oracle),
    QuerySpec("q22_pii_redact", piiRedact, q22Oracle),
    QuerySpec("q23_repetition", repetitionStats, q23Oracle),
    QuerySpec("q24_decontaminate", decontaminate, q24Oracle),
    // fixed-nprobe recall decay vs the fraction-held adaptive probe
    QuerySpec("q24b_semantic_decontaminate", semanticDecontaminate, q24bOracle,
      contrastOf = Some("q24c_semantic_decontaminate_adaptive")),
    QuerySpec("q24c_semantic_decontaminate_adaptive", semanticDecontaminateAdaptive, q24cOracle),
    QuerySpec("q28_mix_sample", mixSample, q28Oracle),
    QuerySpec("q29_curation", curation, q29Oracle),
    QuerySpec("q32_dedup_clusters", dedupClusters, q32Oracle),
    QuerySpec("q33_doc_chunks", docChunks, q33Oracle),
    QuerySpec("q34_seq_packing", packSequences, q34Oracle),
    QuerySpec("q34b_packed_text", packedText, q34bOracle),
    QuerySpec("q35_vocab", vocab, q35Oracle),
    QuerySpec("q40_incremental_dedup", incrementalDedup, q40Oracle),
    QuerySpec("q41_incremental_neardup", incrementalNearDedup, q41Oracle),
    QuerySpec("q42_tfidf", tfidfTerms, q42Oracle),
    QuerySpec("q43_winnow_overlap", winnowOverlap, q43Oracle),
    QuerySpec("q44_rare_tokens", rareTokens, q44Oracle),
    QuerySpec("q45_data_card", corpusDataCard, q45Oracle),
    QuerySpec("q46_source_cap", sourceCap, q46Oracle),
    QuerySpec("q47_interdoc_dup", interDocDup, q47Oracle),
    // fixed-cardinality label blocking (157×/decade) vs adaptive cells
    QuerySpec("q48_semantic_dedup_labels", semanticDedup, q48Oracle,
      contrastOf = Some("q48c_semantic_dedup_adaptive")),
    // %100 cell convention: pair work linear but assignment N²/100 —
    // measured 56×/decade at the r15 THIRD decade (4591 s at 1000× vs
    // 81.6 at 100×) vs the √N-cell O(N^1.5) balance
    QuerySpec("q48b_semantic_dedup_cells", semanticDedupCells, q48bOracle,
      contrastOf = Some("q48c_semantic_dedup_adaptive")),
    QuerySpec("q48c_semantic_dedup_adaptive", semanticDedupAdaptive, q48cOracle),
    QuerySpec("q49_quality_floor", qualityFloor, q49Oracle),
    QuerySpec("q50_token_budget", tokenBudget, q50Oracle),
    QuerySpec("q51_line_dedup", lineDedup, q51Oracle),
    QuerySpec("q65_span_dedup", spanDedupDocs, q65Oracle),
    // per-run cluster recompute vs the persisted split artifact
    QuerySpec("q52_cluster_split_oneshot", clusterSplit, q52Oracle,
      contrastOf = Some("q52b_cluster_split_artifact")),
    // q52b shares q52's oracle: identical semantics — the artifact path must
    // reproduce the one-shot chain bit-for-bit or it is not a valid reuse.
    QuerySpec("q52b_cluster_split_artifact", clusterSplitFromArtifact, q52Oracle),
    QuerySpec("q62_normalize", normalizeDocs, q62Oracle),
    QuerySpec("q53_temp_sample", tempSample, q53Oracle),
    QuerySpec("q68_heavy_hitters", heavyHitterTerms, q68Oracle),
    QuerySpec("q70_unigram_surprisal", unigramSurprisal, q70Oracle),
    QuerySpec("q72_bpe_pairs", bpePairs, q72Oracle),
    QuerySpec("q73_mean_pool", labelMeanPool, q73Oracle),
    QuerySpec("q74_gopher_rules", gopherRules, q74Oracle),
    QuerySpec("q75_bpe_apply", bpeApplyDocs, q75Oracle),
    QuerySpec("q76_bpe_eval", bpeEvalByLang, q76Oracle),
    QuerySpec("q84_bpe_train", bpeTrainIterated, q84Oracle),
    QuerySpec("q87_bpe_train_apply", bpeTrainApplyDocs, q87Oracle),
    QuerySpec("q87b_bpe_train_eval", bpeTrainEvalByLang, q87bOracle),
    QuerySpec("q77_pq_index_ingest", pqIndexIngest, q77Oracle),
    QuerySpec("q78_dsir_weights", dsirWeights, q78Oracle),
    QuerySpec("q79_dsir_resample", dsirResample, q79Oracle),
    QuerySpec("q80_lm_perplexity", lmPerplexity, q80Oracle),
    QuerySpec("q81_kmeans_refine", kmeansRefine, dLloydOracle(1)),
    QuerySpec("q82_kmeans_fit", kmeansFitQuery, dLloydOracle(KmeansFitRounds)),
    QuerySpec("q85_quality_classifier", qualityClassifier, q85Oracle),
    QuerySpec("q88_classifier_eval", classifierEval, q88Oracle),
    QuerySpec("q86_kmeans_converged", kmeansConvergedQuery,
      dLloydOracle(KmeansConvergeMaxRounds)),
    QuerySpec("q89_pretrain_curation", pretrainCuration, q89Oracle),
    QuerySpec("q90_doremi_weights", doremiWeights, q90Oracle),
    QuerySpec("q90b_doremi_resample", doremiResample, q90bOracle),
    QuerySpec("q91_prototype_prune", protoPrune, q91Oracle)
  )
}
