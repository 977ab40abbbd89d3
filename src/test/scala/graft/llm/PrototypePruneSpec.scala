package graft.llm

import org.apache.spark.sql.functions._

import graft.{LlmQueries, SparkTestBase}

/** q91 prototypicality pruning (SSL-prototypes / D4 shape), pinned
  * through a hand-built geometry fixture, a FULL driver-side
  * reimplementation over sf0.001 (plain Scala — seed select, one Lloyd
  * round with the q81 decimal-mean arithmetic, re-assignment, cosine
  * prototypicality, interpolated percentile threshold), and the cut's
  * own separation property. The DuckDB twin covers cross-engine
  * determinism; these cover SEMANTICS.
  */
class PrototypePruneSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // ---- driver-side reference arithmetic -------------------------------

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def dot(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum

  private def nrm(a: Seq[Double]): Double = math.sqrt(dot(a, a))

  private def cos6(a: Seq[Double], an: Double, b: Seq[Double], bn: Double): Double =
    r6(dot(a, b) / (an * bn))

  /** Nearest centroid by round-6 cosine, smaller id on ties (the
    * ivfAssign contract). Centroids: (id, emb, nrm). */
  private def assign(
      emb: Seq[Double], n: Double,
      cents: Seq[(Long, Seq[Double], Double)]): Long =
    cents.map { case (cid, ce, cn) => (-cos6(emb, n, ce, cn), cid) }.min._2

  /** q81 meanPool arithmetic per dimension: round-6 DECIMAL inputs, exact
    * micro-unit sums, half-away-from-zero integer-division mean. */
  private def decimalMean(values: Seq[Double]): Double = {
    val sI = values.map(v => (BigDecimal(v).setScale(6,
      BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact).sum
    val n = values.size.toLong
    val m = (2 * math.abs(sI) + n) / (2 * n)
    (if (sI < 0) -m else m).toDouble / 1e6
  }

  /** Spark exact `percentile` / DuckDB `quantile_cont`: linear
    * interpolation at rate·(n−1) over the sorted values. */
  private def percentile(values: Seq[Double], rate: Double): Double = {
    val v = values.sorted
    val pos = rate * (v.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    v(lo) + (v(hi) - v(lo)) * (pos - lo)
  }

  /** The whole q91, folded with plain collections over (id, emb) rows. */
  private def bruteProtoPrune(
      rows: Seq[(Long, Seq[Double])], keepQuantile: Double)
      : (Set[(Long, Long, Double)], Seq[(Long, Long, Double)]) = {
    val n = rows.map { case (id, e) => (id, e, nrm(e)) }
    val seeds = n.filter { case (id, _, _) =>
      id % LlmQueries.KmeansSeedStride == 0 && id < LlmQueries.KmeansCentroidIdBound }
    // one Lloyd round
    val a1 = n.map { case (id, e, nn) => (assign(e, nn, seeds), id, e) }
    val c1 = a1.groupBy(_._1).map { case (bucket, members) =>
      val dims = members.head._3.indices
      val ce = dims.map(d => decimalMean(members.map(_._3(d)))).toSeq
      (bucket, ce, nrm(ce))
    }.toSeq
    // re-assignment + prototypicality
    val p = n.map { case (id, e, nn) =>
      val b = assign(e, nn, c1)
      val (_, ce, cn) = c1.find(_._1 == b).get
      (id, b, cos6(e, nn, ce, cn))
    }
    // per-cluster threshold + cut
    val thr = p.groupBy(_._2).map { case (b, ms) =>
      b -> r6(percentile(ms.map(_._3), keepQuantile)) }
    (p.filter { case (_, b, proto) => proto <= thr(b) }.toSet, p)
  }

  private lazy val q91 = LlmQueries.protoPrune(spark, dir)
    .as[(Long, Long, Double)].collect().toSeq

  test("q91 matches the driver-side reimplementation exactly on sf0.001") {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val expected = bruteProtoPrune(rows, LlmQueries.ProtoKeepQuantile)._1
    val got = q91.toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("q91 keeps ~the keep quantile per cluster and every cluster survives") {
    val byCluster = q91.groupBy(_._2)
    assert(byCluster.nonEmpty)
    // the cut keeps at least the quantile fraction (boundary ties only
    // ever ADD rows); clusters are data-sized so the excess is small
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val kept = q91.size.toDouble / total
    assert(kept >= LlmQueries.ProtoKeepQuantile - 0.01 && kept <= 0.9,
      s"kept fraction $kept vs quantile ${LlmQueries.ProtoKeepQuantile}")
  }

  test("the cut separates: every kept member is no more prototypical than any dropped one (per cluster)") {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val full = bruteProtoPrune(rows, LlmQueries.ProtoKeepQuantile)._2
    val keptIds = q91.map(_._1).toSet
    for ((b, ms) <- full.groupBy(_._2)) {
      val (kept, dropped) = ms.partition(m => keptIds.contains(m._1))
      assert(kept.nonEmpty, s"cluster $b lost every member")
      if (dropped.nonEmpty)
        assert(kept.map(_._3).max <= dropped.map(_._3).min,
          s"cluster $b: kept max ${kept.map(_._3).max} above dropped min ${dropped.map(_._3).min}")
    }
  }

  test("geometry fixture: the most central member of a tight cluster is dropped first") {
    // Two separated clusters on distinct axes; seeds are ids 0 and 100
    // (the registered stride). Cluster A = ids {0,1,2,3,4} hugging e1 with
    // id 2 EXACTLY on the refined centroid direction; cluster B likewise
    // on e2. keepQuantile 0.5 drops the most-prototypical half.
    def v(axis: Int, tilt: Double, dims: Int = 8): Seq[Double] = {
      val base = Array.fill(dims)(0.0)
      base(axis) = 1.0
      base((axis + 4) % dims) = tilt
      base.toSeq
    }
    val rows = Seq(
      (0L, v(0, 0.30)), (1L, v(0, -0.30)), (2L, v(0, 0.0)),
      (3L, v(0, 0.28)), (4L, v(0, -0.28)),
      (100L, v(1, 0.30)), (101L, v(1, -0.30)), (102L, v(1, 0.0)),
      (103L, v(1, 0.28)), (104L, v(1, -0.28)))
    val df = rows.toDF("id", "emb")
    val seeds = df.filter(col("id").isin(0L, 100L))
    val out = Similarity.prototypePrune(df, seeds, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    // the symmetric tilts cancel in the refined mean, so ids 2 and 102 sit
    // exactly on their centroid directions (proto = 1.0) — the most
    // prototypical members, and they must be CUT at q=0.5
    val keptIds = out.map(_._1).toSet
    assert(!keptIds.contains(2L) && !keptIds.contains(102L),
      s"the on-centroid members must be dropped first: $out")
    // both clusters survive with their tilted members
    assert(out.count(_._2 == 0L) >= 2)
    assert(out.count(_._2 == 100L) >= 2)
  }

  test("q91 plan: no cartesian, threshold and centroid joins broadcast") {
    val df = LlmQueries.protoPrune(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the ivfAssign N×K scoring pass IS a broadcast-pinned product (the
    // registered q81 machinery — centroids broadcast, corpus row-local);
    // what must never appear is an UN-broadcast cartesian
    assert(!p.contains("CartesianProduct"), s"q91 must not shuffle a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), "centroid/threshold joins must broadcast")
  }
}
