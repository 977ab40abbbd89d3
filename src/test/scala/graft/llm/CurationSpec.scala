package graft.llm

import org.apache.spark.sql.functions._

import graft.{LlmQueries, SparkTestBase}
import graft.sources.Tables

/** q89 capstone semantics, pinned INDEPENDENTLY of the DuckDB twin: the
  * gates compose as a conjunction of the registered component queries, the
  * mixing tail is the exact q50/q53 arithmetic over the survivors, and the
  * semantic-dedup stage keeps at most one member per embedding cluster.
  * Every check here recomputes its reference through a DIFFERENT public
  * path (the registered q85/q80 queries, the packaged semanticClustersCells
  * component) so a bug in the capstone's inlined composition cannot hide
  * behind the same code computing both sides.
  */
class CurationSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private lazy val out = LlmQueries.pretrainCuration(spark, dir)
    .select("doc_id", "lang", "n_tokens", "rate", "cum_tokens")
    .as[(Long, String, Long, Double, Long)].collect().toSeq

  test("output is non-empty and excludes every benchmark doc") {
    assert(out.nonEmpty)
    // the BOUNDED suite convention, read from the registry's own
    // constants (not re-typed literals — a constant change must fail
    // HERE, pointing at the source): ids beyond the bound with the same
    // residue are ordinary docs
    assert(out.forall(r => !(r._1 < LlmQueries.SemBenchIdBound &&
        r._1 % LlmQueries.SemBenchMod == LlmQueries.SemBenchRem)),
      "a benchmark doc leaked through")
  }

  /** Driver-side exact median with the registry's round-6 convention —
    * shared by both gate checks (quantile_cont/percentile midpoint). */
  private def median6(values: Seq[Double]): Double = {
    val v = values.sorted
    val m =
      if (v.length % 2 == 1) v(v.length / 2)
      else (v(v.length / 2 - 1) + v(v.length / 2)) / 2.0
    math.round(m * 1e6) / 1e6
  }

  test("every kept doc passes the classifier-MEDIAN and perplexity-median gates") {
    // the classifier gate is RANK-based (score >= corpus median margin),
    // not q85's margin>0 cut — see the q89 stage-1 comment for the
    // measured 5000-doc degeneration that forced this
    val clfScores = LlmQueries.qualityClassifier(spark, dir)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect()
    val clfMed = median6(clfScores.map(_._2).toSeq)
    val clfKeep = clfScores.filter(_._2 >= clfMed).map(_._1).toSet
    val ppl = LlmQueries.lmPerplexity(spark, dir)
      .select(col("doc_id"), col("nll_per_token"))
      .as[(Long, Double)].collect()
    val med = median6(ppl.map(_._2).toSeq)
    val pplKeep = ppl.filter(_._2 <= med).map(_._1).toSet
    out.foreach { r =>
      assert(clfKeep.contains(r._1), s"doc ${r._1} is below the margin median")
      assert(pplKeep.contains(r._1), s"doc ${r._1} is above the perplexity median")
    }
  }

  test("rank gate vs margin>0 at the 5000-doc scale: the raw cut collapses, the median keeps half") {
    // the motivation pinned forever (r18 CurationScaleProbe finding): at
    // sf0.1 — the first fixture past the 500-doc oracle corpora — two
    // full-batch epochs under the 20/80 class imbalance push all but 83
    // of 5000 margins negative (1.7% kept by a 20%-target-rate model),
    // and at the 10x replica (50k docs, per-replica token suffixes
    // growing the hashed vocabulary) margin>0 keeps exactly ZERO docs —
    // the gate q89 originally used silently emptied the whole mix
    val scored = graft.llm.Classifier.trainScore(
        graft.sources.Tables.documents(spark, "/root/testdata/sf0.1"),
        LlmQueries.dsirTarget, LlmQueries.clfTrain,
        LlmQueries.ClfBuckets, LlmQueries.ClfEpochs)
      .select(col("doc_id"), col("score"), col("keep"))
      .as[(Long, Double, Boolean)].collect()
    assert(scored.length == 5000)
    val rawKept = scored.count(_._3)
    assert(rawKept <= 250,
      s"margin>0 keeps $rawKept of 5000 (was 83 when measured) — if the " +
        "trainer improved past 5%, re-evaluate whether q89's rank gate " +
        "is still the right call")
    val med = median6(scored.map(_._2).toSeq)
    val kept = scored.count(_._2 >= med)
    assert(kept >= 2400 && kept <= 2600,
      s"median gate must keep ~half at any scale, kept $kept of 5000")
  }

  test("at most one kept doc per semantic cluster (the packaged component as the referee)") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val stride = math.max(1L, n / math.ceil(math.sqrt(n.toDouble)).toLong)
    // the registry's own CosineDupThreshold; same adaptive-cell geometry
    // as the capstone, but through the PACKAGED component
    val clusters = Similarity.semanticClustersCells(
        emb, "vec_id", "embedding", col("id") % stride === 0,
        LlmQueries.CosineDupThreshold)
      .select(col("vec_id").as("doc_id"), col("cluster"))
      .as[(Long, Long)].collect().toMap
    val kept = out.map(_._1)
    val byCluster = kept.flatMap(id => clusters.get(id).map(_ -> id)).groupBy(_._1)
    byCluster.foreach { case (c, members) =>
      assert(members.size == 1, s"cluster $c kept ${members.map(_._2)}")
    }
  }

  test("mixing tail: budget is the greedy md5-order prefix; cum_tokens is the exact running sum") {
    out.groupBy(_._2).foreach { case (lang, rows) =>
      // kept rows must be the md5-order prefix with an exact running sum
      val ordered = rows.sortBy(r => (md5Hex(r._1), r._1))
      var cum = 0L
      ordered.foreach { r =>
        cum += r._3
        assert(r._5 == cum, s"$lang doc ${r._1}: cum ${r._5} != recomputed $cum")
      }
      assert(cum <= LlmQueries.TokenBudget,
        s"$lang exceeded the token budget: $cum")
      // the per-language rate is constant within the group
      assert(rows.map(_._4).distinct.size == 1, s"$lang has mixed rates")
    }
  }

  private def md5Hex(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }
}
