package graft.llm

import org.apache.spark.sql.functions._

import graft.{LlmQueries, SparkTestBase}
import graft.sources.Tables

/** q90 DoReMi domain reweighting, pinned through THREE independent paths:
  * a hand-foldable [[LanguageModel.domainNll]] fixture, a full
  * driver-side reimplementation of the q90 arithmetic over sf0.001
  * (plain Scala maps — no Spark expression is reused on the reference
  * side, so a bug cannot compute both sides), and the formula's own
  * internal-consistency properties on the registered output. The DuckDB
  * twin covers cross-engine determinism; these cover SEMANTICS.
  */
class DoremiSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // ---- driver-side reference arithmetic (mirrors the documented spec,
  // not the Spark code): tokens, interpolated-bigram LM, round-6 micro
  // sums, integer-space means and ratios ------------------------------

  private def tokensOf(text: String): Seq[String] = {
    val t = text.trim
    if (t.isEmpty) Seq.empty else t.toLowerCase.split("\\s+").toSeq
  }

  /** Spark `round(_, 6)` twin in exact micro-units (HALF_UP). */
  private def micro6(x: Double): Long =
    (BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact

  /** [[LlmQueries]] intRatio6 twin: micro-unit half-up ratio as a Long. */
  private def ratio6u(num: Long, den: Long): Long =
    (num / den) * 1000000L + (2000000L * (num % den) + den) / (2L * den)

  private case class Doc(id: Long, text: String, lang: String, source: String)

  /** Per-domain (n_tokens, m_ref_u, m_own_u) exactly as domainNll defines
    * them, folded with plain collections.
    */
  private def bruteDomainNll(docs: Seq[Doc]): Map[String, (Long, Long, Long)] = {
    val refToks = docs.filter(_.lang == "en").map(d => tokensOf(d.text))
    val uni = refToks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bi = refToks.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= LanguageModel.DefaultMinBigramCount)
    val t = uni.values.sum
    val v = uni.size.toLong
    val denom = (t + v + 1).toDouble

    val byDom = docs.groupBy(_.source)
    val duni = byDom.view.mapValues(ds =>
      ds.map(d => tokensOf(d.text)).flatten
        .groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
    val dbi = byDom.view.mapValues(ds =>
      ds.map(d => tokensOf(d.text)).flatMap(ts => ts.zip(ts.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter(_._2 >= LanguageModel.DefaultMinBigramCount)).toMap

    byDom.flatMap { case (dom, ds) =>
      val du = duni(dom)
      val db = dbi(dom)
      val ddenom = (du.values.sum + du.size + 1).toDouble
      val positions = ds.flatMap { d =>
        val ts = tokensOf(d.text)
        ts.zipWithIndex.map { case (w, i) =>
          (if (i == 0) None else Some(ts(i - 1)), w)
        }
      }
      if (positions.isEmpty) None
      else {
        def lp(prev: Option[String], w: String,
            u: Map[String, Long], b: Map[(String, String), Long],
            dn: Double): Long = {
          val puni = (u.getOrElse(w, 0L) + 1).toDouble / dn
          val p = prev match {
            case None => puni
            case Some(pv) =>
              val cond = b.get((pv, w)) match {
                case None => 0.0
                case Some(c2) => c2.toDouble / u(pv).toDouble
              }
              LanguageModel.Lambda * cond + LanguageModel.UnigramWeight * puni
          }
          micro6(math.log(p))
        }
        val n = positions.size.toLong
        val mr = -positions.map { case (p, w) => lp(p, w, uni, bi, denom) }.sum
        val mo = -positions.map { case (p, w) => lp(p, w, du, db, ddenom) }.sum
        Some(dom -> (n, (2 * mr + n) / (2 * n), (2 * mo + n) / (2 * n)))
      }
    }
  }

  /** Full q90 rows (source → (n_docs, n_tokens, token_frac, nll_ref,
    * nll_own, excess, weight)) from [[bruteDomainNll]].
    */
  private def bruteDoremi(docs: Seq[Doc]): Map[String, (Long, Long, Double, Double, Double, Double, Double)] = {
    val nll = bruteDomainNll(docs)
    val nDocs = docs.groupBy(_.source).view.mapValues(_.size.toLong).toMap
    val tokTotal = nll.values.map(_._1).sum
    val scores = nll.map { case (dom, (n, mr, mo)) =>
      val frac = ratio6u(n, tokTotal).toDouble / 1e6
      val xu = math.max(mr - mo, 0L)
      dom -> micro6(frac * math.exp(LlmQueries.DoremiEta * (xu.toDouble / 1000000.0)))
    }
    val totalU = scores.values.sum
    nll.map { case (dom, (n, mr, mo)) =>
      dom -> ((nDocs(dom), n,
        ratio6u(n, tokTotal).toDouble / 1e6,
        mr.toDouble / 1e6, mo.toDouble / 1e6,
        (mr - mo).toDouble / 1e6,
        ratio6u(scores(dom), totalU).toDouble / 1e6))
    }
  }

  // ---- hand-foldable domainNll fixture --------------------------------

  test("domainNll hand-computed: own model beats the reference model on a divergent domain") {
    // Reference slice (lang=en, domain d1): "a b a b" — T=4, V=2,
    // bigram (a,b) kept at count 2, (b,a) pruned.
    // Domain d2 (lang=xx): "c c c c" — its OWN model knows c
    // (p_uni(c)=(4+1)/(4+1+1)=5/6, cond(c|c)=c2/c(prev)=3/4), the
    // reference has never seen c (p_uni(c)=1/7, no bigram).
    val df = Seq(
      (1L, "a b a b", "en", "d1"),
      (2L, "c c c c", "xx", "d2")).toDF("doc_id", "text", "lang", "source")
    val out = LanguageModel.domainNll(df, "doc_id", "source", "text",
      col("lang") === "en")
      .as[(String, Long, Long, Long)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    // d2 under ref: 4 positions, every one scores ln(0.3 * 1/7) except the
    // head (ln(1/7)) — (c,c) is absent from the pruned ref bigrams.
    val lpHeadRef = micro6(math.log(1.0 / 7.0))
    val lpRestRef = micro6(math.log(0.3 * (1.0 / 7.0)))
    val mRef = -(lpHeadRef + 3 * lpRestRef)
    // d2 under own: T=4, V=1, bigram (c,c) count 3 kept; head ln(5/6),
    // rest ln(0.7*(3/4) + 0.3*5/6).
    val lpHeadOwn = micro6(math.log(5.0 / 6.0))
    val lpRestOwn = micro6(math.log(0.7 * (3.0 / 4.0) + 0.3 * (5.0 / 6.0)))
    val mOwn = -(lpHeadOwn + 3 * lpRestOwn)
    val (n2, mr2, mo2) = out("d2")
    assert(n2 == 4L)
    assert(mr2 == (2 * mRef + 4) / 8, s"ref mean: got $mr2")
    assert(mo2 == (2 * mOwn + 4) / 8, s"own mean: got $mo2")
    assert(mr2 > mo2, "the divergent domain must show positive excess")
    // d1 IS the reference — its two models coincide, so the means do too.
    val (_, mr1, mo1) = out("d1")
    assert(mr1 == mo1, "reference-slice domain: ref and own models coincide")
  }

  test("domainNll matches the driver-side reimplementation on sf0.001 (all 20 domains)") {
    val rows = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect()
      .map(r => Doc(r._1, r._2, r._3, r._4)).toSeq
    val expected = bruteDomainNll(rows)
    val got = LanguageModel.domainNll(
      Tables.documents(spark, dir), "doc_id", "source", "text",
      col("lang") === LlmQueries.LmRefLang)
      .as[(String, Long, Long, Long)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    assert(got.keySet == expected.keySet)
    for ((dom, exp) <- expected)
      assert(got(dom) == exp, s"$dom: got ${got(dom)}, expected $exp")
  }

  // ---- the registered q90 query ---------------------------------------

  private lazy val q90 = LlmQueries.doremiWeights(spark, dir)
    .as[(String, Long, Long, Double, Double, Double, Double, Double)]
    .collect().toSeq

  test("q90 matches the driver-side reimplementation exactly (all columns, all rows)") {
    val rows = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect()
      .map(r => Doc(r._1, r._2, r._3, r._4)).toSeq
    val expected = bruteDoremi(rows)
    assert(q90.map(_._1).toSet == expected.keySet)
    for (r <- q90) {
      val e = expected(r._1)
      assert((r._2, r._3, r._4, r._5, r._6, r._7, r._8) == e,
        s"${r._1}: got $r, expected $e")
    }
  }

  test("q90 is a probability mixture: weights positive, summing to 1 within per-row rounding") {
    assert(q90.size == 20)
    assert(q90.forall(_._8 > 0.0), "every domain keeps positive mass")
    val sum = q90.map(_._8).sum
    // each weight is individually rounded to 6 decimals — 20 rows bound
    // the drift at 20 half-ulps
    assert(math.abs(sum - 1.0) <= 20 * 5e-7, s"weights sum to $sum")
    val fracSum = q90.map(_._4).sum
    assert(math.abs(fracSum - 1.0) <= 20 * 5e-7, s"token shares sum to $fracSum")
  }

  test("q90 upweights exactly the clipped-excess order: weight/token_frac is monotone in max(excess, 0)") {
    // w/frac ∝ exp(η·clip(excess)) before the shared normalization, so the
    // ratio order must equal the clipped-excess order (ties allowed).
    val byExcess = q90.sortBy(r => math.max(r._7, 0.0))
    val ratios = byExcess.map(r => r._8 / r._4)
    val tol = 1e-4 // two round-6 quotients per ratio
    assert(ratios.zip(ratios.drop(1)).forall { case (a, b) => b >= a - tol },
      s"upweighting must follow excess order: $ratios")
  }

  // ---- q90b: realized mixture -----------------------------------------

  test("q90b matches the driver-side resample exactly (rates, membership)") {
    val expected = {
      val rows = Tables.documents(spark, dir)
        .select("doc_id", "text", "lang", "source")
        .as[(Long, String, String, String)].collect()
        .map(r => Doc(r._1, r._2, r._3, r._4)).toSeq
      val w = bruteDoremi(rows)
      val c = w.values.map(r => r._3 / r._7).min
      val rates = w.map { case (dom, r) =>
        dom -> BigDecimal((r._7 / r._3) * c)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex8(s: String): String =
        md.digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
      rows.flatMap { d =>
        rates.get(d.source).filter { rate =>
          rate >= 1.0 || md5hex8(d.id.toString) <
            f"${math.min(math.floor(rate * 4294967296.0).toLong, 4294967295L)}%08x"
        }.map(rate => (d.id, d.source, rate))
      }.toSet
    }
    val got = LlmQueries.doremiResample(spark, dir)
      .as[(Long, String, Double)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("q90b rates: the anchor source keeps everything, every other rate is in (0, 1]") {
    val rates = LlmQueries.doremiResample(spark, dir)
      .select("source", "rate").distinct()
      .as[(String, Double)].collect().toMap
    assert(rates.values.max == 1.0,
      "the least-downsampled source must anchor at rate 1 (no upsampling)")
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0), s"rates out of range: $rates")
    // every weighted source survives the sample (positive rate, and the
    // md5 draw at these corpus sizes keeps >0 docs for every source here)
    assert(rates.size == 20)
  }

  test("q90 plan: no cartesian, one shared token cache, model joins broadcast with reuse") {
    val df = LlmQueries.doremiWeights(spark, dir)
    val p0 = df.queryExecution.executedPlan.toString
    assert(!p0.contains("CartesianProduct") && !p0.contains("BroadcastNestedLoopJoin"),
      s"q90 must stay equi-keyed:\n$p0")
    assert(p0.contains("BroadcastHashJoin"), "model-table probes must broadcast")
    // Since the r19 shared-token-pass optimization, every model table
    // (uni/bi/duni/dtot/dbi) AND the positions unnest read ONE persisted
    // (id, dom, __is_ref, __toks) frame: at sf0.001 the bytes gate always
    // persists, so the logical plan must hold exactly one DISTINCT cached
    // relation (the printed tree repeats its subtree per consumer — node
    // counts in the STRING are not the evaluation count), and the only
    // corpus scan OUTSIDE the cache is the n_docs aggregate's.
    val opt = df.queryExecution.optimizedPlan
    val cached = opt.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cached.nonEmpty, s"expected the shared token cache in:\n$opt")
    assert(cached.map(_.cacheBuilder).distinct.size == 1,
      s"expected ONE distinct cached relation, got ${cached.map(_.cacheBuilder).distinct.size}")
    val rawScans = opt.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(rawScans.size <= 1,
      s"expected <= 1 documents scan outside the token cache, got ${rawScans.size}:\n$opt")
    // NOTE: before r19 this test asserted ReusedExchange >= 2 — the twin
    // unigram probes deduplicated through AQE exchange reuse when they
    // read parquet. Reading a cached relation breaks that (each consumer
    // becomes its own TableCacheQueryStage and the canonical-equal
    // aggregates above no longer collapse), which is the measured-and-
    // accepted trade of the shared token cache: the duplicated model
    // aggregates are vocab-bounded and read cached tokens, while the
    // corpus-scale tokenize now runs exactly once (q90+q90b
    // 3.62 → 2.93 s at sf0.1; persisting uni/duni to restore reuse
    // measured SLOWER, 4.45 s — OPTIMIZATION_r19.md). The cache
    // assertions above are the single-tokenize evidence; still execute
    // the plan here to pin that the adaptive run completes.
    df.collect()
    // the shared session outlives this suite: drop the token cache so
    // later plan-shape tests cannot pick it up
    spark.catalog.clearCache()
  }

  test("domainNll persist gate: recompute path (persistTokens=false) is output-identical") {
    // The r19 shared-token pass caches behind Stage.cacheIfFits; at corpus
    // scales past the block managers' capacity the gate flips to
    // per-branch recompute. Pin that both gate decisions compute the same
    // table, so the gate can never change q90/q90b results. The parquet
    // corpus fits and caches; the same rows behind an RDD carry no size
    // statistic (spark.sql.defaultSizeInBytes), so the gate recomputes.
    val docs = Tables.documents(spark, dir)
    def run(in: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] =
      LanguageModel.domainNll(in, "doc_id", "source", "text", col("lang") === "en")
        .orderBy("source").collect()
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val persisted = run(docs)
    assert(!cm.isEmpty, "the sf0.001 corpus must take the cache branch")
    spark.catalog.clearCache()
    val recomputed = run(spark.createDataFrame(docs.rdd, docs.schema))
    assert(persisted.toSeq == recomputed.toSeq,
      "persist-gated and recompute paths must produce identical rows")
    // and the recompute path must register NO cache
    assert(cm.isEmpty, "the recompute branch must not register a cached relation")
  }
}
