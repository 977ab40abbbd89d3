package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Stage

/** Statistical language-model perplexity filtering — the CCNet shape
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
  * from Web Crawl Data", public): train a small n-gram LM on a TRUSTED
  * reference slice (CCNet uses target-language Wikipedia; here the caller
  * passes a reference predicate), score every corpus document by its
  * per-token negative log-likelihood under that LM, and let downstream
  * curation drop the high-perplexity tail. This differs from
  * [[graft.LlmQueries.unigramSurprisal]] (q70), which scores the corpus
  * against its OWN global statistics: a filter needs the model trained on
  * data you trust, not on the data being judged — boilerplate floods would
  * otherwise teach the model that boilerplate is likely.
  *
  * Model: interpolated bigram LM with add-one unigram smoothing.
  *   p_uni(w)      = (c(w) + 1) / (T + V + 1)        — unseen w gets mass
  *   p(w | prev)   = λ · c(prev,w)/c(prev) + (1−λ) · p_uni(w)
  * The first token of each document is unigram-scored (no prev). Bigrams
  * below `minBigramCount` are pruned from the model — identical on both
  * engines, so the oracle sees the same LM — and pruning is ALSO the scale
  * mechanism: the bigram table is a reference-corpus aggregate whose tail
  * is cut, keeping both LM tables orders of magnitude below corpus size
  * (reference-sized at worst), broadcastable in the scoring pass.
  *
  * Scale shape (100 TB): training touches only the reference slice
  * (predicate-pushed scans, two groupBys on token / token-pair keys);
  * scoring is ONE corpus pass — a shuffle-free per-row position explode
  * (each row carries only (prev, w), never the document's token array),
  * three joins against the bounded LM tables (auto-broadcast; the two
  * unigram probes are one reused broadcast exchange), and a single
  * doc-keyed aggregation with map-side partial combine. The (T, V) totals
  * are a one-row driver collect off the unigram aggregate — bounded
  * metadata, the established pattern (cf. q70's global count).
  *
  * Cross-engine determinism: per-position log-probs are rounded to 6
  * decimals and summed as DECIMAL(20,6) (the q70 discipline — a last-ulp
  * `ln` difference between libm and Java Math.log is absorbed by the
  * round); the interpolation is written with identical operand order and
  * explicit DOUBLE literals on both engines, and every division has
  * exactly-representable integer operands.
  */
object LanguageModel {

  /** Interpolation weight on the bigram term. */
  val Lambda = 0.7

  /** Unigram-term weight, spelled as a literal rather than `1.0 - Lambda`:
    * the subtraction evaluates to 0.30000000000000004 while a SQL engine
    * parsing `0.3` gets the nearest double to 0.3 — a one-ulp cross-engine
    * divergence the 6-decimal rounding would USUALLY absorb but must never
    * be invited.
    */
  val UnigramWeight = 0.3

  /** Bigrams rarer than this in the reference are pruned from the LM. */
  val DefaultMinBigramCount = 2

  /** (prev, w) positions of `textCol`, one row per token, shuffle-free:
    * the struct array is built inside the row (zip_with over two shifted
    * slices, plus a unigram-only head element) and exploded once, so no
    * per-token row ever carries the whole token array.
    */
  private[llm] def positions(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    val m = greatest(size(toks) - 1, lit(0))
    val rest = zip_with(
      slice(toks, lit(1), m), slice(toks, lit(2), m),
      (a, b) => struct(a.as("prev"), b.as("w")))
    val head = when(size(toks) >= 1,
      array(struct(lit(null).cast("string").as("prev"),
        element_at(toks, 1).as("w"))))
      .otherwise(array().cast("array<struct<prev:string,w:string>>"))
    df.select(col(idCol), explode(concat(head, rest)).as("p"))
      .select(col(idCol), col("p.prev").as("prev"), col("p.w").as("w"))
  }

  /** Unigram counts (w, c) over the reference slice's tokens. */
  def unigramCounts(ref: DataFrame, textCol: String): DataFrame =
    ref.select(explode(TextStats.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Pruned bigram counts (w1, w2, c2) over the reference slice. */
  def bigramCounts(ref: DataFrame, textCol: String,
      minCount: Int = DefaultMinBigramCount): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    val m = greatest(size(toks) - 1, lit(0))
    val pairs = zip_with(
      slice(toks, lit(1), m), slice(toks, lit(2), m),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    ref.select(explode(pairs).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
  }

  /** Score every document of `docs` under the LM trained on the `isRef`
    * slice: (idCol, n_tokens, nll_per_token) — lower is more reference-like.
    * Documents whose text tokenizes to nothing drop out (no positions), the
    * registry-wide empty-text convention (cf. q70).
    */
  def perplexity(
      docs: DataFrame, idCol: String, textCol: String, isRef: Column,
      minBigramCount: Int = DefaultMinBigramCount): DataFrame = {
    val ref = docs.filter(isRef)
    val uni = unigramCounts(ref, textCol)
    val bi = bigramCounts(ref, textCol, minBigramCount)
    // (T, V) are one row of bounded driver metadata off the unigram
    // aggregate — the scoring plan then carries them as literals instead of
    // a 1-row cross join (PlanAuditSpec forbids cartesians for good reason).
    val totals = uni.agg(
      coalesce(sum("c"), lit(0L)).as("t"), count(lit(1)).as("v")).first()
    val t = totals.getLong(0)
    val v = totals.getLong(1)
    // An empty reference trains nothing: T = V = 0 makes p_uni(w) = 1 for
    // every token and every document scores nll = 0 — a silently
    // meaningless filter. Fail fast instead; the caller picked a predicate
    // that matched no tokens.
    require(t > 0,
      "LM reference slice is empty (isRef matched no tokens) — " +
        "a perplexity filter trained on nothing scores every document 0")
    perplexityFrom(docs, idCol, textCol, uni, bi, t, v)
  }

  /** Per-domain mean NLL under TWO bigram LMs at once — the measurement
    * half of the DoReMi mixture-reweighting shape (Xie et al., "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * public): for every value of `domCol` (the corpus' domain/source
    * column), score that domain's tokens under (a) the SHARED reference LM
    * trained on the `isRef` slice — the model every domain is judged
    * against — and (b) the domain's OWN bigram LM — the achievable
    * entropy a domain-fit model reaches. The gap (ref − own) is the
    * engine's stand-in for DoReMi's per-domain excess loss: how much
    * headroom the reference-shaped model leaves on that domain. Both
    * models are the [[perplexity]] LM (interpolated bigram, add-one
    * unigram smoothing, pruned bigrams) — identical arithmetic, so the
    * two NLL columns are directly comparable.
    *
    * Output: one row per domain —
    * (domCol, n_tokens, __m_ref, __m_own) where the `__m_*` columns are
    * the per-token mean NLLs in exact micro-units (BIGINT, the q80
    * integer-space mean: `(2m + n) div (2n)` half-away-from-zero on exact
    * integers) so the caller can difference them without touching
    * doubles. Domains whose every document tokenizes to nothing produce
    * no row (no positions — the registry-wide empty-text convention).
    *
    * Scale shape (100 TB): all four model tables are token-vocabulary
    * aggregates — `uni`/`bi` reference-slice-sized, `duni`/`dbi` bounded
    * by vocab × |domains| with the same `minBigramCount` tail cut — so
    * every probe join broadcasts; the corpus pays ONE positions pass
    * (shuffle-free per-row explode) and one |domains|-row aggregation
    * with map-side combine. The per-domain totals (`dtot`) stay a keyed
    * |domains|-row join, never a driver collect; only the reference
    * (T, V) pair is carried as literals (q80's bounded-metadata pattern).
    */
  def domainNll(
      docs: DataFrame, idCol: String, domCol: String, textCol: String,
      isRef: Column, minBigramCount: Int = DefaultMinBigramCount): DataFrame = {
    // ONE tokenize pass feeds every model table AND the positions unnest
    // (r19 optimization round, guide §5/§6): the six consumers below —
    // uni, bi, duni, dtot, dbi, flat — previously each applied
    // `TextStats.tokens(text)` to their own `docs` reference, so the
    // static plan re-tokenized the corpus per branch (18 documents scans
    // in q90's formatted plan; AQE dedupes only the IDENTICAL exchanges,
    // and the tokenize projections sit BELOW different aggregates).
    // Sharing one `(id, dom, __is_ref, __toks)` frame makes single
    // tokenization structural — behind the q12 measured-bytes gate
    // ([[Stage.cacheIfFits]]), because caching a corpus-scale string-array
    // column is the exact columnar-build heap hazard minhashPairs documents
    // (token arrays ≈ 1-shingles, so the same 6× expansion factor applies):
    // cache only when the projected input fits the block managers'
    // capacity, else recompute per branch exactly as before (the ungated
    // plan collapses to the historical shape — Catalyst prunes `__toks`
    // into each branch). The cache is caller-owned ([[Stage]]).
    val tok = Stage.cacheIfFits(
      docs.select(col(idCol), col(domCol), isRef.as("__is_ref"),
        TextStats.tokens(col(textCol)).as("__toks")),
      6, docs.select(col(idCol), col(domCol), col(textCol)))
    val toks = col("__toks")
    val refTok = tok.filter(col("__is_ref"))
    // NOTE (r19, measured): AQE's exchange reuse deduplicated the twin
    // unigram probes when they read parquet, but NOT when they read a
    // cached relation (each InMemoryTableScan consumer becomes its own
    // TableCacheQueryStage, so the canonical-equal aggregates above them
    // no longer collapse — q90 final plan: 8 broadcast stages, 0
    // ReusedExchange). Persisting uni/duni to restore single evaluation
    // measured SLOWER (q90+q90b 2.93 → 4.45 s at sf0.1): the extra cache
    // builds cost more than the duplicated vocab-sized aggregates save —
    // the r18 persist-vs-recompute lesson again. The duplicated
    // aggregates read the (already cached) token frame, so the corpus is
    // still tokenized exactly once.
    val uni = refTok.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val m = greatest(size(toks) - 1, lit(0))
    val pairs = zip_with(
      slice(toks, lit(1), m), slice(toks, lit(2), m),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bi = refTok.select(explode(pairs).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minBigramCount)
    val totals = uni.agg(
      coalesce(sum("c"), lit(0L)).as("t"), count(lit(1)).as("v")).first()
    val t = totals.getLong(0)
    val v = totals.getLong(1)
    require(t > 0,
      "domainNll reference slice is empty (isRef matched no tokens) — " +
        "excess loss against a model trained on nothing is meaningless")
    val denom = (t + v + 1).toDouble

    val duni = tok.select(col(domCol), explode(toks).as("w"))
      .groupBy(domCol, "w").agg(count(lit(1)).as("c"))
    val dtot = duni.groupBy(domCol)
      .agg(sum("c").as("dt"), count(lit(1)).as("dv"))
    val dbi = tok.select(col(domCol), explode(pairs).as("p"))
      .groupBy(col(domCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minBigramCount)

    // One positions pass carries the domain key alongside each (prev, w);
    // the two reference unigram probes join the BARE `uni` aggregate so
    // physical planning reuses one broadcast exchange (the perplexityFrom
    // discipline), and the two domain unigram probes do the same on `duni`.
    // Positions are built from the SHARED `__toks` (same zip_with/head
    // construction as [[positionsBy]], same rows).
    val rest = zip_with(
      slice(toks, lit(1), m), slice(toks, lit(2), m),
      (a, b) => struct(a.as("prev"), b.as("w")))
    val head = when(size(toks) >= 1,
      array(struct(lit(null).cast("string").as("prev"),
        element_at(toks, 1).as("w"))))
      .otherwise(array().cast("array<struct<prev:string,w:string>>"))
    val flat = tok.select(col(idCol), col(domCol),
        explode(concat(head, rest)).as("p"))
      .select(col(idCol), col(domCol),
        col("p.prev").as("prev"), col("p.w").as("w"))
    val ua = uni.alias("ua")
    val ub = uni.alias("ub")
    val da = duni.alias("da")
    val db = duni.alias("db")
    val scored = flat.alias("f")
      .join(ua, col("f.w") === col("ua.w"), "left")
      .join(ub, col("f.prev") === col("ub.w"), "left")
      .join(da, col(s"f.$domCol") === col(s"da.$domCol") &&
        col("f.w") === col("da.w"), "left")
      .join(db, col(s"f.$domCol") === col(s"db.$domCol") &&
        col("f.prev") === col("db.w"), "left")
      .select(col(s"f.$idCol"), col(s"f.$domCol").as(domCol),
        col("f.prev").as("prev"), col("f.w").as("w"),
        col("ua.c").as("c_w"), col("ub.c").as("c_prev"),
        col("da.c").as("dc_w"), col("db.c").as("dc_prev"))
      .join(bi.select(col("w1").as("prev"), col("w2").as("w"), col("c2")),
        Seq("prev", "w"), "left")
      .join(dbi.select(col(domCol), col("w1").as("prev"), col("w2").as("w"),
        col("c2").as("dc2")), Seq(domCol, "prev", "w"), "left")
      .join(dtot, Seq(domCol))

    val puniRef = (coalesce(col("c_w"), lit(0L)) + lit(1L)).cast("double") / lit(denom)
    val condRef = when(col("prev").isNull, lit(null).cast("double"))
      .when(col("c2").isNull, lit(0.0))
      .otherwise(col("c2").cast("double") / col("c_prev").cast("double"))
    val pRef = when(condRef.isNull, puniRef)
      .otherwise(lit(Lambda) * condRef + lit(UnigramWeight) * puniRef)
    val puniOwn = (coalesce(col("dc_w"), lit(0L)) + lit(1L)).cast("double") /
      (col("dt") + col("dv") + lit(1L)).cast("double")
    val condOwn = when(col("prev").isNull, lit(null).cast("double"))
      .when(col("dc2").isNull, lit(0.0))
      .otherwise(col("dc2").cast("double") / col("dc_prev").cast("double"))
    val pOwn = when(condOwn.isNull, puniOwn)
      .otherwise(lit(Lambda) * condOwn + lit(UnigramWeight) * puniOwn)

    // Same determinism discipline as perplexityFrom: per-position
    // round(ln(p), 6) summed as DECIMAL(20,6), mean decided in integer
    // space — both NLL columns come out as exact micro-unit BIGINTs.
    scored
      .withColumn("lp_ref", round(log(pRef), 6).cast("decimal(20,6)"))
      .withColumn("lp_own", round(log(pOwn), 6).cast("decimal(20,6)"))
      .groupBy(col(domCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lp_ref")).as("sr"), sum(col("lp_own")).as("so"))
      .withColumn("__mr", (col("sr") * lit(-1000000L)).cast("long"))
      .withColumn("__mo", (col("so") * lit(-1000000L)).cast("long"))
      .select(col(domCol), col("n_tokens"),
        expr("(2 * __mr + n_tokens) div (2 * n_tokens)").as("__m_ref"),
        expr("(2 * __mo + n_tokens) div (2 * n_tokens)").as("__m_own"))
  }

  /** The SCORING half of [[perplexity]] against PREBUILT model tables —
    * the artifact form the streaming curation loop consumes: `uni`
    * ((w, c)) and `bi` ((w1, w2, c2)) are the persisted count tables, and
    * `(t, v)` the persisted totals, all built once on the model cadence
    * (by [[unigramCounts]]/[[bigramCounts]] over the reference slice) and
    * identical to what [[perplexity]] trains inline — so a batch scored
    * here is bit-identical to the same batch inside a [[perplexity]]
    * call. Plan shape unchanged: two broadcast unigram probes sharing one
    * exchange, one broadcast bigram probe, T/V carried as literals.
    */
  def perplexityFrom(
      docs: DataFrame, idCol: String, textCol: String,
      uni: DataFrame, bi: DataFrame, t: Long, v: Long): DataFrame = {
    require(t > 0, "perplexityFrom needs a non-empty trained model (t > 0)")
    val denom = (t + v + 1).toDouble
    val flat = positions(docs, idCol, textCol)
    // Both unigram probes join the BARE `uni` aggregate (aliases only, no
    // pre-broadcast rename projections): the two broadcast subtrees then
    // canonicalize identically and physical planning reuses ONE broadcast
    // exchange — the reference slice is scanned and aggregated once for
    // both probes, not once per probe.
    val ua = uni.alias("ua")
    val ub = uni.alias("ub")
    val scored = flat.alias("f")
      .join(ua, col("f.w") === col("ua.w"), "left")
      .join(ub, col("f.prev") === col("ub.w"), "left")
      .select(col(s"f.$idCol"), col("f.prev").as("prev"), col("f.w").as("w"),
        col("ua.c").as("c_w"), col("ub.c").as("c_prev"))
      .join(bi.select(col("w1").as("prev"), col("w2").as("w"), col("c2")),
        Seq("prev", "w"), "left")
    val puni = (coalesce(col("c_w"), lit(0L)) + lit(1L)).cast("double") / lit(denom)
    val cond = when(col("prev").isNull, lit(null).cast("double"))
      .when(col("c2").isNull, lit(0.0))
      .otherwise(col("c2").cast("double") / col("c_prev").cast("double"))
    val p = when(cond.isNull, puni)
      .otherwise(lit(Lambda) * cond + lit(UnigramWeight) * puni)
    // The per-document mean divides an exact DECIMAL sum by a BIGINT and
    // rounds to 6 decimals — the q73/q76 rounding-tie class (Spark HALF_UPs
    // the double's shortest repr, DuckDB rounds the binary value), so the
    // round is decided in integer space: the sum's micro-units are already
    // an exact BIGINT, and `(2m + n) div (2n)` is half-away-from-zero on
    // exact integers, identical in both engines; the final /1e6 double
    // division lands on the same nearest double everywhere.
    scored
      .withColumn("lp", round(log(p), 6).cast("decimal(20,6)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("lp_sum"))
      .withColumn("__m", (col("lp_sum") * lit(-1000000L)).cast("long"))
      .select(col(idCol), col("n_tokens"),
        expr("CAST((2 * __m + n_tokens) div (2 * n_tokens) AS DOUBLE) / 1000000.0")
          .as("nll_per_token"))
  }
}
