package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.Stage

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, token counting, quality scoring,
  * language ID, and content/shingle fingerprinting.
  *
  * Everything is built-in Catalyst expressions (split/regexp/higher-order
  * array functions) — codegen-friendly, no UDFs, no driver-side loops, so
  * each operator is a single narrow projection that scales linearly.
  */
object TextStats {

  private val emptyStringArray: Column = array().cast(ArrayType(StringType))

  /** Whitespace tokens of lowercased, trimmed text; empty → empty array,
    * null → null (callers decide).
    */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, emptyStringArray)
      .otherwise(split(trim(lower(c)), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish pre-tokenizer: letter runs, digit runs, symbol runs — the
    * shape GPT-2-style byte-pair encoders pre-split on (simplified, public
    * knowledge).
    */
  def bpeishTokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0))

  val punctClass = "[.,;:!?]"

  /** Count of punctuation characters (fixed class, cross-engine-safe). */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, punctClass, ""))

  // ---- Unicode/text normalization (q62) --------------------------------

  /** C0 controls (minus \t \n \r — document-legitimate whitespace), DEL,
    * zero-width space/non-joiner/joiner, word joiner, and the BOM/ZWNBSP.
    * `\x{...}` escapes parse identically in Java regex and DuckDB's RE2.
    */
  val controlZwClass: String =
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}" +
      "\\x{200B}-\\x{200D}\\x{2060}\\x{FEFF}]"

  /** Common UTF-8-decoded-as-Latin-1 mojibake sequences plus the
    * replacement character: a fixed alternation of literal sequences (no
    * regex metacharacters), so Java and RE2 agree. A HEURISTIC detector —
    * flags the frequent smart-quote/accented-vowel corruptions, not every
    * possible double-encoding.
    */
  val mojibakeClass: String =
    "â€™|â€œ|â€“|" + // ’ “ –
      "Ã©|Ã¨|Ã«|Ã¼|Ã±|" + // é è ë ü ñ
      "ï¿½" // U+FFFD replacement char

  /** Unicode NFC composition ([[graft.functions.NfcNormalize]], a native
    * codegen kernel — Spark has no built-in) followed by control/zero-width
    * strip. Row-local, stays inside whole-stage codegen: at 100 TB this is
    * a free rider on whatever scan already touches the text column.
    */
  def normalizeText(text: Column): Column =
    regexp_replace(call_function("nfc_norm", text), controlZwClass, "")

  /** Per-doc normalization report: the cleaned text plus audit columns —
    * how many characters the strip removed (NFC-relative, so composition
    * itself doesn't count), how many mojibake sequences the heuristic saw
    * in the ORIGINAL text, and whether normalization changed the doc at
    * all. One narrow projection, no shuffle.
    */
  def normalized(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nfc = call_function("nfc_norm", col(textCol))
    val norm = regexp_replace(nfc, controlZwClass, "")
    df.select(
      col(idCol),
      norm.as("text_norm"),
      (length(nfc) - length(norm)).cast("bigint").as("n_stripped"),
      regexp_count(col(textCol), lit(mojibakeClass)).cast("int")
        .as("mojibake_hits"),
      (norm =!= col(textCol)).cast("int").as("changed"))
  }

  /** Occurrences (not distinct types) of `words` among `toks`.
    *
    * Goes through the native [[graft.functions.WordHits]] kernel (requires
    * [[graft.GraftExtensions]] on the session, like `cosine_sim`): the
    * composable `size(filter(toks, t => array_contains(...)))` form walks
    * the interpreted lambda eval path per element — the call sites Spark's
    * higher-order functions share JVM-wide, which round 3 identified as
    * the megamorphic source of 4-10x bench swings on every text query.
    */
  def wordHits(toks: Column, words: Seq[String]): Column =
    call_function("word_hits", toks, lit(words.mkString(",")))

  /** Default English stopword sample (public common-word list). */
  val enStopwords: Seq[String] = Seq("the", "a", "of", "is", "in", "and", "to")

  /** Deterministic per-row quality score in [0, 1]:
    * 0.4·min(1, tokens/100) + 0.3·(1 − punctRatio) + 0.3·min(1, 5·stopRatio).
    * Length-normalized token mass, punctuation penalty, stopword-presence
    * bonus — the standard cheap quality heuristics.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val punct = punctCount(text).cast("double")
    val stop = wordHits(toks, enStopwords).cast("double")
    lit(0.4) * least(lit(1.0), n / 100.0) +
      lit(0.3) * (lit(1.0) - punct / length(text).cast("double")) +
      lit(0.3) * least(lit(1.0), stop * 5.0 / n)
  }

  /** Gopher-style quality-rule thresholds (Rae et al. 2021 appendix A —
    * the published rule set, public knowledge). A doc is kept only if
    * EVERY rule passes; q74 reports the per-rule metrics beside the
    * decision so downstream curation can loosen one rule without
    * recomputing the corpus scan.
    */
  object GopherRules {
    val MinWords = 50
    val MaxWords = 100000
    val MinMeanLen = 3.0
    val MaxMeanLen = 10.0
    val MaxSymbolRatio = 0.1
    val MaxBulletRatio = 0.9
    val MaxEllipsisRatio = 0.3
    val MinAlphaRatio = 0.8
    val MinStopHits = 2
  }

  /** '#', a literal three-dot ellipsis, or the unicode ellipsis — the
    * Gopher symbol set. Escapes parse identically in Java and RE2, and
    * both engines count leftmost non-overlapping matches.
    */
  val symbolPattern: String = "#|\\.\\.\\.|…"

  /** Per-doc Gopher rule metrics + keep decision, one corpus scan:
    * word count, mean word length, symbol-to-word ratio, bullet-led and
    * ellipsis-ended line fractions, alphabetic-word ratio, stopword hits.
    * All ratios are 6-decimal rounded BEFORE the threshold compares, so
    * the keep bit can never hinge on sub-ulp division differences
    * (repo determinism rule); zero-word docs get null ratios and fail the
    * conjunction (three-valued logic → `otherwise(0)`), identically in
    * the DuckDB twin's CASE.
    *
    * Scale shape: a narrow per-row projection — no shuffle, no join; the
    * only non-codegen pieces are the array lambdas (same budget as
    * [[qualityScore]]). `toks`/`lines` are materialized in their own
    * projection first so the filter/aggregate lambdas reference bound
    * columns (CollapseProject keeps multi-referenced non-cheap aliases
    * out of lambda bodies — the [[graft.llm.Similarity.quantizedTopK]]
    * O(d²) re-evaluation trap).
    */
  def gopherFlags(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import GopherRules._
    val staged = df.select(col(idCol), col(textCol).as("text"),
      tokens(col(textCol)).as("toks"), split(col(textCol), "\n").as("lines"))
    val counted = staged.select(col(idCol),
      size(col("toks")).cast("bigint").as("n_words"),
      aggregate(transform(col("toks"), t => length(t).cast("long")),
        lit(0L), (a, v) => a + v).as("sum_len"),
      regexp_count(col("text"), lit(symbolPattern)).cast("bigint").as("sym_cnt"),
      size(filter(col("lines"),
        l => substring(trim(l), 1, 1).isin("-", "*", "•"))).cast("bigint").as("bullet_cnt"),
      size(filter(col("lines"),
        l => endswith(trim(l), lit("...")) || endswith(trim(l), lit("…"))))
        .cast("bigint").as("ell_cnt"),
      size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("bigint").as("alpha_cnt"),
      size(col("lines")).cast("bigint").as("n_lines"),
      wordHits(col("toks"), enStopwords).cast("bigint").as("stop_hits"))
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
    counted.select(col(idCol), col("n_words"),
      ratio(col("sum_len"), col("n_words")).as("mean_word_len"),
      ratio(col("sym_cnt"), col("n_words")).as("symbol_ratio"),
      ratio(col("bullet_cnt"), col("n_lines")).as("bullet_ratio"),
      ratio(col("ell_cnt"), col("n_lines")).as("ellipsis_ratio"),
      ratio(col("alpha_cnt"), col("n_words")).as("alpha_ratio"),
      col("stop_hits"))
      .withColumn("keep",
        when(col("n_words").between(MinWords, MaxWords) &&
          col("mean_word_len").between(MinMeanLen, MaxMeanLen) &&
          col("symbol_ratio") <= MaxSymbolRatio &&
          col("bullet_ratio") <= MaxBulletRatio &&
          col("ellipsis_ratio") <= MaxEllipsisRatio &&
          col("alpha_ratio") >= MinAlphaRatio &&
          col("stop_hits") >= MinStopHits, lit(1)).otherwise(lit(0)))
  }

  /** Marker-word sets per language for the n-gram/stopword language-ID
    * heuristic (public common-word lists).
    */
  val defaultLangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "is"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "des", "une"),
    "de" -> Seq("der", "die", "und", "ist"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5"))

  /** Predicted language: the first language (in marker order) whose hit
    * count is >= all later ones; all-zero → "und". Fixed precedence makes
    * ties deterministic.
    */
  def langId(
      text: Column,
      markers: Seq[(String, Seq[String])] = defaultLangMarkers): Column = {
    val toks = tokens(text)
    val hits = markers.map { case (l, ws) => l -> wordHits(toks, ws) }
    val allZero = hits.map(_._2 === 0).reduce(_ && _)
    val chain = hits.zipWithIndex.foldRight(lit(markers.last._1)) {
      case (((l, h), i), acc) =>
        val laterGte = hits.drop(i + 1).map(h >= _._2)
        if (laterGte.isEmpty) acc
        else when(laterGte.reduce(_ && _), lit(l)).otherwise(acc)
    }
    when(allZero, lit("und")).otherwise(chain)
  }

  /** Exact-content fingerprint: md5 of lowercased, trimmed text. */
  def contentFingerprint(c: Column): Column = md5(trim(lower(c)))

  /** Adjacent-pair frequencies over the BPE-ish pre-tokens, top `topK`
    * by count (ties broken by pair — a deterministic total order): the
    * counting step a byte-pair-encoding tokenizer trainer iterates
    * (count all adjacent symbol pairs, merge the most frequent — public
    * knowledge, Sennrich et al. 2016). One corpus-wide round of it is
    * the standard "which merges matter" diagnostic before committing to
    * a tokenizer run.
    *
    * The pair column zips each token array against its own tail
    * (`slice`+`zip_with`, both codegen'd; `greatest(·, 0)` guards the
    * 0/1-token degenerate arrays into empties instead of a negative
    * slice length). Scale shape = [[vocabulary]]: one explode, one
    * partial-aggregated count shuffle, TakeOrderedAndProject top-k — no
    * global sort, no driver collection.
    */
  def bpePairStats(df: DataFrame, textCol: String, topK: Int,
      distinctSided: Boolean = false): DataFrame = {
    val toks = bpeishTokens(col(textCol))
    val n = greatest(size(toks) - 1, lit(0))
    val pairs = zip_with(
      slice(toks, lit(1), n), slice(toks, lit(2), n),
      (a, b) => concat_ws(" ", a, b))
    val counted = df.select(explode(pairs).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_pairs"))
    // distinctSided restricts the ranking to a ≠ b pairs — the only pairs
    // [[bpeMergeStep]]'s simultaneous pass may legally merge (q75's learn
    // side). Safe to split on a space: bpeish tokens never contain one.
    val kept =
      if (distinctSided)
        counted.filter(
          split(col("pair"), " ").getItem(0) =!= split(col("pair"), " ").getItem(1))
      else counted
    kept.orderBy(desc("n_pairs"), asc("pair")).limit(topK)
  }

  /** Iterated BPE TRAINING (Sennrich et al. 2016's actual loop, public):
    * each round counts adjacent pairs over the corpus AS REWRITTEN by the
    * merges learned so far, registers the top pair (count desc, pair asc,
    * restricted to the distinct-sided pairs [[bpeMergeStep]] may legally
    * merge), applies it corpus-wide, and re-counts — so round k+1's
    * candidates include tokens PRODUCED by merge k, the chaining that
    * separates real BPE from the one-shot top-K diagnostic
    * ([[graft.LlmQueries]]'s q75 `learnedMerges`, which ranks a single
    * global count and can never select a merged token). Output: one row
    * per round — (round, tok_a, tok_b, merged, n_pairs), where n_pairs is
    * the pair's count at selection time (i.e. over the round's input).
    *
    * Scale shape: per round, ONE corpus pass — the q72 explode +
    * partial-aggregated count shuffle with a 1-row
    * TakeOrderedAndProject collect (bounded metadata, the q75 learn-side
    * convention) — over the persisted base tokenization plus a
    * projection chain of the ≤`rounds` merges applied so far (each merge
    * is a ~10-node stateless HOF pass, q75's apply shape; with `rounds`
    * fixed and small the chain stays literal-sized, the q16g rule — a
    * production-size merge table would checkpoint the token arrays every
    * few hundred rounds instead). Total: `rounds` scans of the tokenized
    * corpus, never of the raw text.
    */
  def bpeTrainChained(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val base = Stage.cache(df.select(bpeishTokens(col(textCol)).as("toks")))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var cur = base
    Stage.using(base) {
      for (r <- 1 to rounds) {
        val n = greatest(size(col("toks")) - 1, lit(0))
        val pairs = zip_with(
          slice(col("toks"), lit(1), n), slice(col("toks"), lit(2), n),
          (a, b) => concat_ws(" ", a, b))
        val top = cur.select(explode(pairs).as("pair"))
          .groupBy("pair")
          .agg(count(lit(1)).as("n_pairs"))
          .filter(split(col("pair"), " ").getItem(0) =!=
            split(col("pair"), " ").getItem(1))
          .orderBy(desc("n_pairs"), asc("pair")).limit(1)
          .collect()
        require(top.nonEmpty,
          s"round $r: corpus has no distinct-sided adjacent pair left to merge")
        // bpeish tokens never contain whitespace, so the first space splits
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        learned += ((r, a, b, a + b, top(0).getLong(1)))
        cur = cur.withColumn("toks", bpeMergeStep(col("toks"), a, b))
      }
    }
    learned.toSeq.toDF("round", "tok_a", "tok_b", "merged", "n_pairs")
  }

  /** One simultaneous BPE merge pass over a token array: every adjacent
    * (a, b) occurrence collapses to the single token `a+b`, leftmost-greedy.
    * REQUIRES a ≠ b: then no two matches can overlap (a match ending at
    * position i means toks(i)=b≠a, so no match starts there), which makes
    * the simultaneous pass EXACTLY the sequential leftmost-greedy result —
    * the property that lets both engines express the pass as one stateless
    * per-position projection instead of a fold. Position i keeps its token
    * unless the previous position started a merge (then it drops); a
    * position that starts a merge emits the concatenation.
    *
    * All element accesses are index-guarded by short-circuit conjunctions
    * (Spark's `And` evaluates right only when left holds, interpreted and
    * codegen), so the pass is ANSI-safe; an empty array passes through
    * untouched (`sequence(1, 0)` would DESCEND, hence the explicit guard).
    */
  def bpeMergeStep(toks: Column, a: String, b: String): Column = {
    require(a != b, s"bpeMergeStep needs distinct tokens, got '$a' twice")
    val n = size(toks)
    val replaced = transform(sequence(lit(1), n), i =>
      when(i < n && element_at(toks, i) === a && element_at(toks, i + 1) === b,
        lit(a + b))
        .when(i > 1 && element_at(toks, i - 1) === a && element_at(toks, i) === b,
          lit(null).cast("string"))
        .otherwise(element_at(toks, i)))
    when(n === 0, toks).otherwise(filter(replaced, t => t.isNotNull))
  }

  /** Apply a learned merge table in rank order — the tokenizer APPLICATION
    * step that pairs with [[bpePairStats]]'s trainer: merge 1's pass runs
    * corpus-wide, then merge 2's pass over its output, and so on (the real
    * BPE apply algorithm: merges fire in learned priority order, not
    * best-in-document order). Each pass is its own projection so the
    * multi-referenced token array stays materialized between steps
    * (CollapseProject would otherwise inline the previous pass's ~10-node
    * subtree once per element access — the q15b O(d²) trap). Plan size is
    * linear in the FIXED merge-table size, never in any count-derived
    * parameter (the q16g rule).
    *
    * Scale shape: a narrow per-document projection chain — no shuffle, no
    * join; the merge table rides in the plan as literals (in a real
    * deployment: a few thousand merges — still literal-sized). Interpreted
    * HOF cost is per-ROW (docs), not per-pair, so no kernel is needed
    * (contrast [[graft.functions.HammingSig]], whose cost was per-PAIR).
    *
    * `carry` columns ride the projection chain untouched — evaluation
    * steps (q76) get their grouping/denominator columns without a
    * join-back against the source table (which would re-scan and
    * shuffle the corpus purely to recover columns the chain had).
    */
  def bpeApply(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], carry: Seq[String] = Nil): DataFrame = {
    val keep = (idCol +: carry).map(col)
    val base = df.select(keep :+ bpeishTokens(col(textCol)).as("toks"): _*)
      .withColumn("n_before", size(col("toks")).cast("bigint"))
    val applied = merges.foldLeft(base) { case (acc, (a, b)) =>
      acc.withColumn("toks", bpeMergeStep(col("toks"), a, b))
    }
    applied.select(keep ++ Seq(
      col("n_before"),
      size(col("toks")).cast("bigint").as("n_after"),
      concat_ws(" ", col("toks")).as("tokens")): _*)
  }

  /** Corpus vocabulary statistics: per term, total occurrences and document
    * frequency, the top `topK` terms by df (ties broken by term, so the cut
    * is a deterministic total order). The inputs to tokenizer-training /
    * stopword-mining / idf-weighting steps.
    *
    * Scale shape: one explode, one groupBy on the term with partial
    * aggregation (count + count-distinct doc expands to a two-phase agg),
    * then a global top-k — Spark lowers orderBy+limit to
    * TakeOrderedAndProject, which keeps per-partition heaps of k rows and
    * never materializes a global sort. At 100 TB the shuffle carries one
    * (term, doc) row per distinct pair post-partial-agg; no driver
    * collection anywhere.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("df"))
      .orderBy(desc("df"), asc("term"))
      .limit(topK)

  /** TF-IDF document-term scoring, top `topK` terms per document: tf = raw
    * in-doc term count, idf = ln((N+1)/(df+1)) + 1 (the smoothed form that
    * keeps corpus-wide terms at a positive weight, standard IR practice),
    * score = tf·idf. The relevance-weighting counterpart to
    * [[vocabulary]]'s raw counts — quality-scoring and keyword-extraction
    * steps consume exactly this shape.
    *
    * Determinism: idf and the score round to 6 decimals (repo rule) and
    * both engines feed `ln` identical integer ratios, so doubles match
    * bit-for-bit; the per-doc cut is `rank()` over (score desc, term), a
    * total order.
    *
    * Scale shape: one shuffle for (doc, term) counts; df derives from THAT
    * aggregate (term-keyed partial agg, no second scan) and joins back on
    * the term key; the corpus size N is one bounded driver-side count (a
    * single scalar, as [[graft.llm.Similarity.nearestInBlock]] sizes its
    * candidate side; a 1-row cross join would lower to the
    * BroadcastNestedLoopJoin the plan audit bans) folded in as a literal;
    * the per-doc top-k lowers to WindowGroupLimit (bounded per-group
    * state).
    *
    * Caching: the (doc, term) counts are cached (read by both df
    * derivation and the final join) and caller-owned ([[graft.Stage]]).
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame = {
    val termCounts = Stage.cache(df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfByTerm = termCounts.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol))).head().getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    termCounts
      .join(dfByTerm, "term")
      .withColumn("idf", round(log(lit((nDocs + 1).toDouble) / (col("df") + 1)) + 1, 6))
      .withColumn("tfidf", round(col("tf") * col("idf"), 6))
      .withColumn("r", rank().over(w)).filter(col("r") <= topK)
      .select("doc_id", "term", "tf", "df", "tfidf")
  }

  /** Corpus-relative rarity stats per document: token count, how many of
    * its tokens are globally RARE (corpus-wide frequency < `rareBelow`),
    * and their ratio — the join-based quality signal per-row stats can't
    * express (a doc of individually plausible but corpus-unseen tokens is
    * gibberish/OOV-heavy; a high ratio is the standard filter heuristic).
    * Deliberately all-integer until one final per-row division, so the
    * result is bit-deterministic across engines and partitionings — a mean
    * log-probability would sum doubles in shuffle order.
    *
    * Docs with zero tokens produce no exploded rows and drop from the
    * output (their ratio is undefined).
    *
    * Scale shape: one explode feeding both sides — global term counts
    * (term-keyed shuffle, partial agg) joined back to the exploded tokens
    * on the term, then one doc-keyed count aggregation. Three shuffles,
    * no driver-side anything. The exploded tokens are cached and
    * caller-owned ([[graft.Stage]]).
    */
  def rareTokenStats(
      df: DataFrame, idCol: String, textCol: String, rareBelow: Long): DataFrame = {
    val toks = Stage.cache(df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term")))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("n_global"))
    toks.join(freq, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("n_global") < rareBelow, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_ratio",
        round(col("n_rare").cast("double") / col("n_tokens"), 6))
  }

  /** INTER-document repetition per document: of a doc's distinct shingles,
    * how many also appear in at least one OTHER doc, and their ratio — the
    * corpus-level repetition signal [[dupShingleRatio]] (within-doc) can't
    * see. A high ratio marks boilerplate-heavy or near-duplicate content
    * BEFORE any pairwise dedup runs, which is how web-scale pipelines
    * triage: cheap per-doc overlap stats first, expensive pair generation
    * only on what survives. All-integer until one final rounded division
    * (the [[rareTokenStats]] determinism rule).
    *
    * Scale shape: one explode of per-doc DISTINCT shingles feeding both
    * sides — shingle-keyed doc frequency (partial agg; rows are distinct
    * per doc, so `count(*)` IS the doc frequency) joined back on the
    * shingle key, then one doc-keyed aggregation. A ubiquitous-boilerplate
    * shingle skews its join bucket, but the frequency side is one row per
    * shingle, so the bucket stays |docs carrying it| — the q44 term-join
    * shape, not a pair explosion. The exploded shingles are cached and
    * caller-owned ([[graft.Stage]]).
    */
  def interDocRepetition(
      df: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame = {
    val sh = Stage.cache(df
      .select(col(idCol).as("doc_id"),
        explode(shingles(tokens(col(textCol)), shingleSize)).as("s")))
    val freq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(freq, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        round(col("n_shared").cast("double") / col("n_shingles"), 6))
  }

  /** Corpus-level duplicate-LINE removal (the MassiveText/Gopher repetition
    * filter's cross-document form): any line occurring at least `minOcc`
    * times ACROSS the whole corpus — boilerplate, navigation chrome, license
    * headers — is dropped from every document, and the survivors are
    * re-joined in original order. Output per doc: line counts before/after
    * and the cleaned text (empty string when nothing survives).
    *
    * Scale shape: lines explode once; the banned set is built by a
    * partial-aggregated `groupBy(line)` — map-side combine absorbs the hot
    * lines (an empty line or "home" appearing billions of times never
    * concentrates on one reducer, which is why this is NOT a count-over-
    * window on the line key), and the post-filter table holds only
    * REPEATED lines, a tiny fraction of the corpus, so AQE broadcasts the
    * left-outer membership probe. One more shuffle on the doc key
    * re-assembles. Line order is restored by sorting the collected
    * (pos, line) structs — never a global sort.
    */
  def dedupLines(
      df: DataFrame, idCol: String, textCol: String, minOcc: Int): DataFrame = {
    require(minOcc >= 2, s"minOcc must be >= 2, got $minOcc")
    // coalesce before split: a NULL text splits to a NULL array, whose
    // posexplode yields NO rows — the doc would silently vanish from the
    // per-doc output instead of reporting as a one-empty-line document
    // (the oracle twin coalesces identically)
    val lines = df.select(col(idCol).as("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("pos", "line")))
    val banned = lines.groupBy("line").agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= minOcc)
      .select(col("line"), lit(1).as("__banned"))
    val keep = col("__banned").isNull
    lines.join(banned, Seq("line"), "left_outer")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(keep, struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"))
  }

  // ---- PII redaction ----------------------------------------------------

  /** Redaction patterns, written in the Java∩RE2 regex dialect so the same
    * pattern string runs in Spark (java.util.regex) and any RE2 engine.
    * Applied in [[redactPii]] order: email, then IPv4, then phone —
    * earlier replacements remove digits that a later pattern could
    * otherwise swallow.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  // whitespace spelled explicitly: Java's \s includes \x0B, RE2's does not —
  // the one place the dialects disagree inside a character class
  val phoneRe = "\\+?\\d[\\d(). \\t\\n\\f\\r-]{7,}\\d"

  /** Training-data PII scrub: replace emails, IPv4s, and phone-shaped
    * number runs with typed placeholders. Pure codegen `regexp_replace`
    * chain — one narrow projection, no UDF, linear scan per row.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Occurrences of one redaction pattern (for audit columns). */
  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  // ---- repetition / boilerplate stats -----------------------------------

  private def safeRatio(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))

  /** Duplicate-token ratio in [0, 1): 1 − |distinct tokens| / |tokens|.
    * The Gopher/RefinedWeb-style repetition signal (public filtering
    * heuristics) — boilerplate and spam score high.
    */
  def dupTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    safeRatio(size(toks) - size(array_distinct(toks)), size(toks))
  }

  /** Duplicate-line ratio: 1 − |distinct lines| / |lines|. */
  def dupLineRatio(text: Column): Column = {
    val lines = split(text, "\n")
    safeRatio(size(lines) - size(array_distinct(lines)), size(lines))
  }

  /** Duplicate positional-3-gram ratio: 1 − |distinct shingles| / |grams|
    * — catches phrase-level loops single-token stats miss. Documents
    * shorter than the shingle size have one gram and ratio 0.
    */
  def dupShingleRatio(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val grams = when(size(toks) === 0, lit(0))
      .when(size(toks) < n, lit(1))
      .otherwise(size(toks) - (n - 1))
    safeRatio(grams - size(shingles(toks, n)), grams)
  }

  /** Distinct n-gram (word) shingles; a doc shorter than n tokens
    * contributes its whole token string as one shingle.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))

  /** POSITIONAL k-token spans: element i (0-based under `posexplode`) is
    * the space-joined tokens [i, i+n). Unlike [[shingles]]: order
    * preserved, duplicates kept, and a doc with fewer than n tokens has NO
    * spans instead of the whole-doc fallback — you cannot cut an n-token
    * span a document doesn't contain. The span-occurrence primitive of
    * [[graft.llm.Dedup.spanDedup]].
    */
  def positionalShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(emptyStringArray)

  /** Rolling-hash-style document fingerprint: the lexicographic min of the
    * seeded md5s over the shingle set — i.e. a 1-permutation MinHash, which
    * is also the winnowing primitive.
    */
  def minShingleHash(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol, s => md5(concat(lit(s"$seed:"), s))))

  /** Winnowing fingerprints (the Schleimer–Wilkerson–Aiken / MOSS local
    * document-fingerprinting algorithm, public): hash every POSITIONAL
    * k-gram (order preserved, duplicates kept — unlike [[shingles]]), then
    * keep the minimum hash of each sliding window of `w` consecutive
    * k-grams, dedup'd. Guarantee: two documents sharing any token run of
    * length >= w + k - 1 share at least one fingerprint, while the
    * fingerprint set is ~|grams|/w — a bounded sketch that catches local
    * overlap exact-dedup and whole-doc MinHash both miss.
    *
    * Edges: no tokens → empty set; fewer than k tokens → the whole token
    * string is the one gram; fewer than w grams → one fingerprint, the
    * global min. One narrow projection per row — no shuffle, no UDF.
    *
    * Goes through the native [[graft.functions.WinnowFingerprints]] kernel
    * (one compiled pass, monotonic-deque window minima; requires
    * [[graft.GraftExtensions]]): the composable twin (TextKernelsSpec) evaluates
    * interpreted HOF lambdas O(grams · w) times per row and re-computes the
    * gram-hash subtree per reference — 15 s median at sf0.1 vs sub-second
    * for the kernel, with bit-identical output (equivalence spec).
    */
  def winnowFingerprints(text: Column, k: Int = 3, w: Int = 4): Column =
    call_function("winnow_fps", tokens(text), lit(k), lit(w))

}
