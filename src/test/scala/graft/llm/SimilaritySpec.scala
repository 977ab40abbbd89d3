package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._
  import Similarity.PqSubspaces

  /** Composable twin of [[Similarity.fusedAdcPacked]] over the unpacked
    * code array, for the equivalence property tests — the interpreted-HOF
    * form the kernel replaces in the pair scan.
    */
  private def adcComposable(codes: Column, lutCol: Column, k: Int,
      subspaces: Int = PqSubspaces): Column =
    aggregate(
      zip_with(codes, sequence(lit(0L), lit(subspaces.toLong - 1L)),
        (c, m) => element_at(lutCol, (m * k + c + 1L).cast("int"))),
      lit(0L), (acc, v) => acc + v)

  private val dir = "/root/testdata/sf0.001"

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 2.0f))
    ).toDF("a", "b")
    val out = df.select(
      Similarity.cosine(Similarity.asDouble(col("a")), Similarity.asDouble(col("b"))).as("c"))
      .as[Double].collect()
    assert(out(0) == 1.0 && out(1) == 0.0)
  }

  test("bruteForceTopK: k results per query, scores descending, no self-match") {
    val topk = Similarity.bruteForceTopK(
      Tables.embeddings(spark, dir), "vec_id", "embedding", col("id") % 50 === 0, k = 5)
      .as[(Long, Long, Double)].collect()
    val byQuery = topk.groupBy(_._1)
    assert(byQuery.forall(_._2.length == 5))
    assert(topk.forall(t => t._1 != t._2))
    byQuery.values.foreach { rs =>
      val scores = rs.sortBy(-_._3).map(_._3)
      assert(scores.toSeq == rs.map(_._3).sorted(Ordering[Double].reverse).toSeq)
    }
  }

  test("ANN candidate-set metrics: observable post-action, exact for IVF, monotone for LSH probes") {
    val emb = Tables.embeddings(spark, dir)
    val qf = col("id") % 50 === 0
    val cf = col("id") % 100 === 0

    val ivfObs = org.apache.spark.sql.Observation()
    Similarity.ivfTopK(emb, "vec_id", "embedding", qf, cf, 5,
      nprobe = 1, candObservation = Some(ivfObs)).count()
    // independent expectation: with nprobe=1 each query scores exactly its
    // own bucket minus itself, so pairs = sum over queries of (|bucket| - 1)
    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val assigned = Similarity.ivfAssign(n, n.filter(cf)).cache()
    val sizes = assigned.groupBy("bucket").agg(count(lit(1)).as("bucket_n"))
    val expected = assigned.filter(qf).join(sizes, "bucket")
      .agg(sum(col("bucket_n") - 1)).as[Long].head()
    assert(ivfObs.get("candidate_pairs") == expected,
      s"ivf candidate_pairs ${ivfObs.get("candidate_pairs")} != expected $expected")
    val nQueries = n.filter(qf).count()
    val probed = ivfObs.get("queries_probed").asInstanceOf[Long]
    assert(math.abs(probed - nQueries).toDouble / nQueries <= 0.05,
      s"queries_probed $probed drifted from $nQueries")

    // LSH: multi-probe must only ADD candidates — the observable form of
    // the recall-monotonicity property
    def lshPairs(multiProbe: Boolean): Long = {
      val o = org.apache.spark.sql.Observation()
      Similarity.lshTopK(emb, "vec_id", "embedding", qf, 5,
        multiProbe = multiProbe, candObservation = Some(o)).count()
      o.get("candidate_pairs").asInstanceOf[Long]
    }
    val single = lshPairs(multiProbe = false)
    val multi = lshPairs(multiProbe = true)
    assert(single > 0 && multi >= single,
      s"multi-probe candidates $multi must be >= single-probe $single > 0")
  }

  test("ivfAssign: zero-norm (NaN-cosine) vectors deterministically lose, not win") {
    import spark.implicits._
    // A zero vector's cosine is NaN against every centroid. Pre-guard,
    // round(NaN).cast(long) packed as score 0 — a middling value that could
    // WIN over negative-similarity centroids; the nanvl(-2.0) guard makes
    // the degenerate vector score below the whole cosine range, so ties
    // resolve purely by the smallest centroid id (the documented
    // tie-break), and real vectors are unaffected.
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)),   // aligns with centroid 10
      (2L, Seq(-1.0, 0.0)),  // anti-aligned with 10, aligned with 20
      (3L, Seq(0.0, 0.0))    // zero-norm: NaN vs both centroids
    ).toDF("id", "emb")
    val cents = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(-1.0, 0.0))).toDF("id", "emb")
    val out = Similarity.ivfAssign(vecs, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 10L && out(2L) == 20L, s"real vectors must pick nearest: $out")
    assert(out(3L) == 10L,
      s"NaN scores all centroids equally-last -> smallest centroid id wins: $out")
  }

  test("recall@10 calibration: IVF/LSH measured against exact ground truth") {
    // The candidate-set Observation (Similarity.observeCandidates) is a
    // recall PROXY; this is its once-per-round calibration against the real
    // thing (r9 advice #5): exact recall@10 of each approximate searcher at
    // increasing probe width, on the same fixture the registered queries
    // use. Reported via info() so the number is in every test log.
    val emb = Tables.embeddings(spark, dir)
    val qf = col("id") % 50 === 0
    val cf = col("id") % 100 === 0
    val ground = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qf, 10)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      (ground & df.as[(Long, Long, Double)].collect()
        .map(t => (t._1, t._2)).toSet).size.toDouble / ground.size

    val ivfCurve = Seq(1, 2, 4, 8).map { np =>
      val obs = org.apache.spark.sql.Observation()
      val df = Similarity.ivfTopK(emb, "vec_id", "embedding", qf, cf, 10, np, Some(obs))
      val r = recallOf(df)
      val cands = obs.get("candidate_pairs").asInstanceOf[Long]
      info(f"ivf nprobe=$np: recall@10 = $r%.3f, candidate_pairs = $cands")
      np -> (r, cands)
    }
    val lshCurve = Seq(false, true).map { mp =>
      val obs = org.apache.spark.sql.Observation()
      val df = Similarity.lshTopK(emb, "vec_id", "embedding", qf, 10,
        multiProbe = mp, candObservation = Some(obs))
      val r = recallOf(df)
      val cands = obs.get("candidate_pairs").asInstanceOf[Long]
      info(f"lsh multiProbe=$mp: recall@10 = $r%.3f, candidate_pairs = $cands")
      mp -> (r, cands)
    }
    // the multi-TABLE recall curve: L independent tables push pair
    // survival to 1-(1-p)^L, so recall must climb toward 1 as L grows even
    // on this worst-case isotropic fixture where one table ceilings ~0.46
    val tableCurve = Seq(1, 4, 8).map { nt =>
      val obs = org.apache.spark.sql.Observation()
      val df = Similarity.lshTopKTables(emb, "vec_id", "embedding", qf, 10,
        nTables = nt, candObservation = Some(obs))
      val r = recallOf(df)
      val cands = obs.get("candidate_pairs").asInstanceOf[Long]
      info(f"lsh nTables=$nt: recall@10 = $r%.3f, candidate_pairs = $cands")
      nt -> (r, cands)
    }
    // more probes -> more candidates -> recall can only grow (same scorer)
    assert(ivfCurve.map(_._2._1) == ivfCurve.map(_._2._1).sorted,
      s"IVF recall must be monotone in nprobe: $ivfCurve")
    assert(ivfCurve.map(_._2._2) == ivfCurve.map(_._2._2).sorted,
      s"IVF candidate count must be monotone in nprobe: $ivfCurve")
    assert(lshCurve.head._2._1 <= lshCurve.last._2._1,
      s"LSH multi-probe must not lose recall: $lshCurve")
    // the calibrated operating point: nprobe=8 of 10 buckets must be
    // near-exhaustive on this fixture
    assert(ivfCurve.last._2._1 >= 0.9,
      s"IVF nprobe=8 recall@10 below 0.9: ${ivfCurve.last}")
    // multi-table LSH: candidates monotone in L; one table matches the
    // single-table searcher's ceiling; the q16e operating point (L=8,
    // multi-probe) is a calibrated >= 0.9, same bar as IVF's q16d
    assert(tableCurve.map(_._2._2) == tableCurve.map(_._2._2).sorted,
      s"LSH candidate count must be monotone in nTables: $tableCurve")
    assert(tableCurve.last._2._1 >= 0.9,
      s"LSH nTables=8 recall@10 below 0.9: ${tableCurve.last}")
  }

  test("adaptive IVF geometry (q16f): k tracks sqrt(N), probed fraction held") {
    // q16f's scale contract: centroid count ~ sqrt(N) (stride selection),
    // nprobe = ceil(0.2*k) — so the PROBED FRACTION of cells is constant at
    // every scale, unlike the %100 convention whose fixed nprobe probes a
    // 10x smaller corpus fraction every decade (recall silently decays).
    // On this worst-case isotropic fixture recall roughly tracks the probed
    // fraction; the oracle pins exactness, this pins the geometry.
    val emb = Tables.embeddings(spark, dir)
    val qf = col("id") % 50 === 0
    val n = emb.count()
    val kc = math.ceil(math.sqrt(n.toDouble)).toLong
    val stride = math.max(1L, n / kc)
    val np = math.ceil(0.2 * kc).toInt
    val nCent = emb.filter(col("vec_id") % stride === 0).count()
    assert(nCent >= kc / 2 && nCent <= 2 * kc,
      s"stride-selected centroid count $nCent must track sqrt(N)=$kc")

    val obs = org.apache.spark.sql.Observation()
    val df = Similarity.ivfTopK(emb, "vec_id", "embedding", qf,
      col("id") % stride === 0, 10, np, Some(obs))
    val ground = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qf, 10)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val got = df.as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val recall = (ground & got).size.toDouble / ground.size
    val cands = obs.get("candidate_pairs").asInstanceOf[Long]
    val nQueries = emb.filter(col("vec_id") % 50 === 0).count()
    val fraction = cands.toDouble / (nQueries * (n - 1))
    info(f"adaptive ivf: k=$nCent (target $kc), nprobe=$np, " +
      f"recall@10=$recall%.3f, corpus fraction probed=$fraction%.3f")
    // probed-fraction-held property: ~0.2 of cells => ~0.2 of the corpus
    // (cells are near-uniform on the isotropic fixture); wide tolerance
    // absorbs cell-size variance, but a decayed (q16-style) configuration
    // at this scale would sit an order of magnitude outside it
    assert(fraction > 0.08 && fraction < 0.5,
      s"probed corpus fraction $fraction drifted from the 0.2 design point")
    assert(recall > 0.1, s"adaptive recall $recall collapsed below the probed fraction")
  }

  test("adaptive LSH geometry (q16g): integer-exact rule; recall holds at the next geometry step") {
    // The rule itself, pinned value-by-value (the oracle's CASE table and
    // the Spark side both derive from these): np = min i with 32*2^i >= n,
    // L = ceil(8 * (4/3)^(np-4)) in exact BigInt arithmetic. The 4/3
    // ratio is the MEASURED compensation on this fixture: (7/6)^d (the
    // cos-0.9 textbook value) gave recall 0.88 at np=6/L=11, under the
    // bar; holding >= 0.9 needs L >= 12 at np=6 and L >= 26 at np=8, and
    // (4/3)^d clears both (15, 26).
    assert(Similarity.adaptiveLshGeometry(500L) == (4, 8),
      "fixture scale must reproduce q16e's calibrated (4 planes, 8 tables)")
    assert(Similarity.adaptiveLshGeometry(2000L) == (6, 15))
    assert(Similarity.adaptiveLshGeometry(20000L) == (10, 45))
    assert(Similarity.adaptiveLshGeometry(240000L) == (13, 107))
    // cap: geometry stops adapting past LshMaxPlanes
    assert(Similarity.adaptiveLshGeometry(10000000L) == (16, 253))
    assert((1 to Similarity.LshMaxPlanes).map(Similarity.adaptiveLshTables(_)).toList ==
      List(8, 8, 8, 8, 11, 15, 19, 26, 34, 45, 60, 80, 107, 143, 190, 253),
      "the oracle CASE table values must stay pinned")

    // Recall re-calibration at the NEXT geometry steps (np=6/L=15 — what
    // a 2000-row corpus gets — and np=8/L=26): the L-compensation must
    // hold the calibrated >= 0.9 bar as planes grow. Measured on the same
    // fixture as the base calibration so the numbers are comparable.
    val emb = Tables.embeddings(spark, dir)
    val qf = col("id") % 50 === 0
    val ground = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qf, 10)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val got8 = Similarity.lshTopKTables(emb, "vec_id", "embedding", qf, 10,
      nPlanes = 8, nTables = 26)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val recall8 = (ground & got8).size.toDouble / ground.size
    info(f"adaptive lsh (np=8, L=26): recall@10 = $recall8%.3f")
    assert(recall8 >= 0.9,
      f"np=8 adaptive-step recall $recall8%.3f fell below the calibrated 0.9 bar")
    val obs = org.apache.spark.sql.Observation()
    val df = Similarity.lshTopKTables(emb, "vec_id", "embedding", qf, 10,
      nPlanes = 6, nTables = 15, candObservation = Some(obs))
    val got = df.as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val recall = (ground & got).size.toDouble / ground.size
    info(f"adaptive lsh (np=6, L=15): recall@10 = $recall%.3f, " +
      f"candidate_pairs = ${obs.get("candidate_pairs")}")
    assert(recall >= 0.9,
      f"adaptive-step recall $recall%.3f fell below the calibrated 0.9 bar")
  }

  test("lsh_buckets kernel == composable per-table lshBucket columns, edges included") {
    import spark.implicits._
    // the kernel claims bit-identity with the composable form (including
    // the round-6 boundary rewritten as s >= 5e-7 and the null/length
    // poisoning semantics); this pins it on real fixture vectors plus
    // hand-built hostile rows
    val np = 5
    val nt = 7
    val dims = 64
    val real = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("emb"))
    val hostile = Seq(
      (100001L, Seq.fill(dims)(0.0)),                    // all-zero: every dot 0 -> bucket 0
      (100002L, Seq.fill(3)(1.0)),                       // wrong length -> all-zero buckets
      (100003L, Seq.tabulate(dims)(d => 4.999e-7 * (if (d == 0) 1 else 0))) // near the round-6 boundary
    ).toDF("id", "emb")
    val withNull = Seq(100004L).toDF("id")
      .withColumn("emb", array((lit(null).cast("double") +:
        Seq.fill(dims - 1)(lit(1.0))): _*))
    // null ARRAY (not just null element): the composable
    // when(null > 0).otherwise(0) keeps the row in all-zero buckets; the
    // kernel must match rather than null-propagate and drop it (ADVICE r12)
    val nullArray = Seq(100005L).toDF("id")
      .withColumn("emb", lit(null).cast("array<double>"))
    val vecs = real.unionByName(hostile).unionByName(withNull)
      .unionByName(nullArray)
    val tables = (0 until nt).map(t => Similarity.hyperplanes(np, dims, 42L + t))
    val composable = vecs.withColumn("__b",
      array(tables.map(p => Similarity.lshBucket(col("emb"), p)): _*))
      .select(col("id"), col("__b"))
    val bits = tables.flatten.map { p =>
      p.zipWithIndex.collect { case (v, d) if v > 0 => 1L << d }.sum
    }.toArray
    val kernel = vecs.withColumn("__b",
      call_function("lsh_buckets", col("emb"), lit(bits), lit(np), lit(dims)))
      .select(col("id"), col("__b"))
    val c = composable.as[(Long, Seq[Long])].collect().toMap
    val k = kernel.as[(Long, Seq[Long])].collect().toMap
    assert(k.keySet == c.keySet)
    k.foreach { case (id, bks) =>
      // poisoned rows: the composable when(null > 0).otherwise(0) and the
      // kernel both land on all-zero buckets, so a plain diff covers them
      assert(bks == c(id), s"id=$id kernel=$bks composable=${c(id)}")
    }
    assert(k(100001L).forall(_ == 0L) && k(100002L).forall(_ == 0L) &&
      k(100004L).forall(_ == 0L) && k(100005L).forall(_ == 0L))
  }

  test("ivfTopK: recall against brute force is reasonable for nprobe=1") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", col("id") % 50 === 0, 5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
      col("id") % 50 === 0, col("id") % 100 === 0, 5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.2, s"nprobe=1 recall collapsed: $recall")
    assert(recall <= 1.0)
  }

  test("ivfTopK: nprobe=2 recall is >= nprobe=1 recall") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", col("id") % 50 === 0, 5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    def recall(nprobe: Int): Double = {
      val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        col("id") % 50 === 0, col("id") % 100 === 0, 5, nprobe)
        .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
      (brute & ivf).size.toDouble / brute.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    assert(r2 >= r1, s"probing more buckets lost recall: nprobe=1 $r1 vs nprobe=2 $r2")
  }

  test("quantizeInt8: codes bounded, round-trip error <= scale/2 + rounding slack, constant vector exact") {
    val emb = Tables.embeddings(spark, dir)
    val q = Similarity.quantizeInt8(Similarity.asDouble(col("embedding")))
    val rows = emb.select(
      col("embedding").cast("array<double>").as("orig"),
      q.getField("scale").as("scale"),
      q.getField("codes").as("codes"),
      Similarity.dequantizeInt8(q).as("deq"))
      .as[(Seq[Double], Double, Seq[Int], Seq[Double])].collect()
    rows.foreach { case (orig, scale, codes, deq) =>
      assert(codes.forall(c => c >= 0 && c <= 255))
      // lo/scale are 6-decimal-rounded, so allow that slack on top of the
      // half-step quantization bound
      val bound = scale / 2 + 1e-4
      orig.zip(deq).foreach { case (o, d) =>
        assert(math.abs(o - d) <= bound, s"roundtrip error ${math.abs(o - d)} > $bound")
      }
    }
    import spark.implicits._
    val const = Seq((1L, Seq(0.25, 0.25, 0.25))).toDF("id", "v")
    val cq = Similarity.quantizeInt8(col("v"))
    val out = const.select(Similarity.dequantizeInt8(cq)).as[Seq[Double]].head()
    assert(out == Seq(0.25, 0.25, 0.25), "constant vector must round-trip exactly")
  }

  test("quantizedTopK: top-k over int8-dequantized vectors keeps high recall vs exact") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", col("id") % 50 === 0, 5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val quant = Similarity.quantizedTopK(emb, "vec_id", "embedding", col("id") % 50 === 0, 5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val recall = (brute & quant).size.toDouble / brute.size
    assert(recall >= 0.7, s"int8 quantization destroyed top-k recall: $recall")
  }

  test("lshTopK: multi-probe recall >= single-probe recall, both nonzero") {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", col("id") % 50 === 0, 5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    def recall(multiProbe: Boolean): Double = {
      val lsh = Similarity.lshTopK(emb, "vec_id", "embedding",
        col("id") % 50 === 0, 5, nPlanes = 4, dims = 64, multiProbe = multiProbe)
        .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
      (brute & lsh).size.toDouble / brute.size
    }
    val single = recall(multiProbe = false)
    val multi = recall(multiProbe = true)
    assert(single > 0.0, "single-probe LSH found nothing")
    assert(multi >= single, s"multi-probe lost recall: $single vs $multi")
  }

  test("lshTopK: no self-pairs, no duplicate (query, neighbor) pairs") {
    val emb = Tables.embeddings(spark, dir)
    val out = Similarity.lshTopK(emb, "vec_id", "embedding", col("id") % 50 === 0, 5)
      .as[(Long, Long, Double)].collect()
    assert(out.forall(t => t._1 != t._2))
    val pairs = out.map(t => (t._1, t._2))
    assert(pairs.distinct.length == pairs.length,
      "a candidate reached one query through two probe buckets")
  }

  test("nearestInBlock: salted shuffle path is output-identical to broadcast path") {
    val emb = Tables.embeddings(spark, dir)
    val viaBroadcast = Similarity.nearestInBlock(emb, "vec_id", "embedding", col("label"))
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // threshold 0 forces the Skew.saltedJoin path
    val viaSalted = Similarity.nearestInBlock(emb, "vec_id", "embedding", col("label"),
      broadcastThreshold = 0L, salts = 7)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(viaSalted.toSeq == viaBroadcast.toSeq)
  }

  test("nearestInBlock: one neighbor per vector, neighbor shares the block") {
    val emb = Tables.embeddings(spark, dir)
    val nn = Similarity.nearestInBlock(emb, "vec_id", "embedding", col("label"))
    assert(nn.count() == emb.count())
    val labels = emb.select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val bad = nn.as[(Long, Long, Double)].collect()
      .count(t => labels(t._1) != labels(t._2))
    assert(bad == 0, "blocking violated: neighbor from another label")
  }

  // cos(v1,v2)=1 (identical), cos(v1,v3)=cos(v2,v3)=0.707107 ((1,0)·(1,1)),
  // cos with v4=(0,1) vs v1 is 0; v5 duplicates v1 in ANOTHER block
  private def clusterFixture = Seq(
    (1L, Seq(1.0f, 0.0f), 0),
    (2L, Seq(1.0f, 0.0f), 0),
    (3L, Seq(1.0f, 1.0f), 0),
    (4L, Seq(0.0f, 1.0f), 0),
    (5L, Seq(1.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("cosinePairs: threshold on the rounded score, id_a < id_b, block-confined") {
    val strict = Similarity.cosinePairs(clusterFixture, "vec_id", "embedding", col("label"), 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(strict == Set((1L, 2L, 1.0)), s"got $strict")
    val loose = Similarity.cosinePairs(clusterFixture, "vec_id", "embedding", col("label"), 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(loose == Set((1L, 2L, 1.0), (1L, 3L, 0.707107), (2L, 3L, 0.707107),
      (3L, 4L, 0.707107)), s"got $loose")
    assert(loose.forall(p => p._1 < p._2), "pair order must be canonical")
    // vec 5 is identical to vec 1 but in another block: never paired
    assert(!loose.exists(p => p._1 == 5L || p._2 == 5L), "blocking violated")
  }

  test("cosinePairs observation: candidate load = sum over blocks of C(pop,2)") {
    // the quadratic-bomb early warning: candidate_pairs counts the blocked
    // join output BEFORE the threshold cut — block 0 has 4 members (6
    // pairs), block 1 has 1 (0 pairs), so the load is 6 whatever the
    // threshold keeps; blocks_with_pairs localizes it to one block
    val obs = org.apache.spark.sql.Observation()
    Similarity.cosinePairs(clusterFixture, "vec_id", "embedding", col("label"), 0.9,
      Some(obs)).count()
    assert(obs.get("candidate_pairs") == 6L,
      s"expected C(4,2)=6 candidates, got ${obs.get("candidate_pairs")}")
    assert(obs.get("blocks_with_pairs").asInstanceOf[Long] == 1L)
  }

  test("semanticClusters: transitive closure, min-id canonical keep, singletons kept") {
    // at 0.7 the edges are 1-2, 1-3, 2-3, 3-4: {1,2,3,4} one cluster
    // (canonical 1, with 4 joining only through 3 — transitivity); 5 is a
    // singleton cluster of itself (same vector as 1, but another block)
    val out = Similarity.semanticClusters(
      clusterFixture, "vec_id", "embedding", col("label"), 0.7)
      .as[(Long, Long, Int)].collect().toSet
    assert(out == Set(
      (1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0), (4L, 1L, 0), (5L, 5L, 1)), s"got $out")
    // a chain a~b, b~c with cos(a,c) BELOW threshold still merges: that is
    // the transitive-closure contract (and why CC runs, not just pairs).
    // cos(a,b)=0.948683, cos(b,c)=0.989949, cos(a,c)=0.894427 < 0.9
    val chain = Seq(
      (10L, Seq(1.0f, 0.0f), 0),
      (11L, Seq(3.0f, 1.0f), 0),
      (12L, Seq(2.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val chained = Similarity.semanticClusters(chain, "vec_id", "embedding", col("label"), 0.9)
      .as[(Long, Long, Int)].collect().toSet
    assert(chained == Set((10L, 10L, 1), (11L, 10L, 0), (12L, 10L, 0)), s"got $chained")
  }

  test("semanticClustersCells: recovers every injected near-dup; one keep per cluster") {
    // The cell-blocked form's recall trade is near-dups straddling a cell
    // border — but an INJECTED duplicate is the identical vector, so it
    // always shares its original's nearest centroid and can never be
    // split from it by the blocking. Every fixture pair must co-cluster.
    val corpus = graft.fixtures.EmbeddingsFixture.corpusDf(spark, dir)
    val out = Similarity.semanticClustersCells(
        corpus, "vec_id", "embedding", col("id") % 100 === 0, 0.995)
      .as[(Long, Long, Int)].collect()
    assert(out.length == corpus.count(), "every input id exactly once")
    val cluster = out.map(r => r._1 -> r._2).toMap
    val injected = corpus.filter(col("vec_id") >= 10000)
      .select("vec_id").as[Long].collect()
    assert(injected.nonEmpty, "fixture sanity: injected dups exist")
    injected.foreach { dup =>
      assert(cluster(dup) == cluster(dup - 10000),
        s"injected dup $dup split from its original by cell blocking")
    }
    // exactly one canonical keep per cluster, and it is the min id
    out.groupBy(_._2).foreach { case (c, members) =>
      val keeps = members.filter(_._3 == 1).map(_._1)
      assert(keeps.toSeq == Seq(members.map(_._1).min),
        s"cluster $c canonical-keep contract violated: ${members.toSeq}")
    }
  }

  test("adaptive cells (q48c geometry): injected near-dups recovered; keep contract holds") {
    // Same recall argument as the %100 form: an injected duplicate is the
    // identical vector, so no cell geometry can split it from its
    // original. The √N stride is count-derived exactly as the registered
    // query derives it.
    val corpus = graft.fixtures.EmbeddingsFixture.corpusDf(spark, dir)
    val n = corpus.count()
    val stride = math.max(1L, n / math.ceil(math.sqrt(n.toDouble)).toLong)
    val out = Similarity.semanticClustersCells(
        corpus, "vec_id", "embedding", col("id") % stride === 0, 0.995)
      .as[(Long, Long, Int)].collect()
    assert(out.length == n, "every input id exactly once")
    val cluster = out.map(r => r._1 -> r._2).toMap
    val injected = corpus.filter(col("vec_id") >= 10000)
      .select("vec_id").as[Long].collect()
    assert(injected.nonEmpty, "fixture sanity: injected dups exist")
    injected.foreach { dup =>
      assert(cluster(dup) == cluster(dup - 10000),
        s"injected dup $dup split from its original by adaptive cells")
    }
    out.groupBy(_._2).foreach { case (c, members) =>
      val keeps = members.filter(_._3 == 1).map(_._1)
      assert(keeps.toSeq == Seq(members.map(_._1).min),
        s"cluster $c canonical-keep contract violated: ${members.toSeq}")
    }
  }

  test("signSig: hand-packed 32-bit words, cross-word boundary, zero/negative excluded") {
    // dim 34 -> two words; positives at 1-based positions 1, 3, 34:
    // word0 = bit0 + bit2 = 5; word1 = bit(34-33) = 2. Position 4 is an
    // exact 0.0 (NOT set: the rule is strictly > 0) and the rest negative.
    val emb = (1 to 34).map {
      case 1 => 1.0; case 3 => 2.0; case 34 => 0.25; case 4 => 0.0; case _ => -0.5
    }
    val sig = Seq(Tuple1(emb)).toDF("emb")
      .select(Similarity.signSig(col("emb")).as("sig"))
      .as[Seq[Long]].head()
    assert(sig == Seq(5L, 2L), s"packed $sig")
    // every word stays strictly below 2^32: the packing never touches the
    // long's sign bit (the cross-engine guarantee the 32-bit width buys)
    val allSet = Seq(Tuple1((1 to 64).map(_ => 1.0))).toDF("emb")
      .select(Similarity.signSig(col("emb")).as("sig")).as[Seq[Long]].head()
    assert(allSet == Seq((1L << 32) - 1, (1L << 32) - 1), s"all-set packed $allSet")
  }

  test("signSig: null AND empty embeddings -> null signature (both drop out of the scan)") {
    // empty is poisoned, not packed: an empty-vs-empty pair would pass a
    // Hamming-0 radius cut into a 0/0 = NaN re-rank on the Spark side while
    // the DuckDB twin's list_sum(empty) = NULL drops it (r13 advisor find).
    // The guarded branch also covers the ANSI trap: unguarded, the
    // word-count expression is -1, sequence(0,-1) DESCENDS and element_at
    // throws on indices -31..0.
    val out = Seq(Tuple1(Option.empty[Seq[Double]]), Tuple1(Option(Seq.empty[Double])),
        Tuple1(Option(Seq(1.0))))
      .toDF("emb")
      .select(Similarity.signSig(col("emb")).as("sig"))
      .as[Option[Seq[Long]]].collect()
    assert(out.toSeq == Seq(None, None, Some(Seq(1L))),
      s"null/empty/singleton signatures ${out.toSeq}")
  }

  test("binaryTopK: empty embeddings never pair, even empty-vs-empty at radius 0") {
    // two empty embeddings + two real ones; queries = all. If empties
    // paired, (3,4) would surface with a NaN score ranked first.
    val df = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq.empty[Double]), (4L, Seq.empty[Double]))
      .toDF("vec_id", "embedding")
    val out = Similarity.binaryTopK(df, "vec_id", "embedding",
        queryFilter = lit(true), k = 5, maxHamming = 64)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 2L), (2L, 1L)),
      s"empty embeddings leaked into the pair scan: $out")
  }

  test("hammingSig: per-word xor/popcount sum") {
    val df = Seq((Seq(5L, 2L), Seq(1L, 2L)), (Seq(0L, 0L), Seq((1L << 32) - 1, 1L)))
      .toDF("a", "b")
    val out = df.select(Similarity.hammingSig(col("a"), col("b")).as("h"))
      .as[Long].collect()
    assert(out.toSeq == Seq(1L, 33L), s"hamming ${out.toSeq}")
  }

  test("hamming_sig kernel: bit-identical to the composable form, including poisoned inputs") {
    // normal pairs, a length mismatch, a null element, and a null array —
    // the kernel must reproduce the zip_with/aggregate null semantics on
    // every one (all NULL except the well-formed rows)
    val df = Seq[(Seq[java.lang.Long], Seq[java.lang.Long])](
      (Seq(5L, 2L), Seq(1L, 2L)),
      (Seq(0L, (1L << 32) - 1), Seq((1L << 32) - 1, 0L)),
      (Seq(7L), Seq(7L, 0L)),                    // length mismatch -> null
      (Seq(7L, null), Seq(7L, 0L)),              // null element -> null
      (null, Seq(1L, 2L))                        // null array -> null
    ).toDF("a", "b")
    val both = df.select(
      Similarity.hammingSig(col("a"), col("b")).as("c"),
      Similarity.fusedHamming(col("a"), col("b")).as("k"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    both.zipWithIndex.foreach { case ((c, k), i) =>
      assert(c == k, s"row $i: composable $c != kernel $k")
    }
    assert(both(2)._2.isEmpty && both(3)._2.isEmpty && both(4)._2.isEmpty,
      "poisoned rows must be null")
    assert(both(0)._2.contains(1L) && both(1)._2.contains(64L))
  }

  test("binaryTopK: radius >= dims IS brute force; recall curve monotone in radius, R=27 point pinned") {
    val emb = Tables.embeddings(spark, dir)
    val qf = col("id") % 50 === 0

    // radius >= d admits every pair, so the re-rank must reproduce the
    // exact searcher row-for-row
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qf, 5)
      .as[(Long, Long, Double)].collect().toSet
    val full = Similarity.binaryTopK(emb, "vec_id", "embedding", qf, 5, maxHamming = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(full == exact, "full-radius binary search must equal brute force")

    val ground = exact.map(t => (t._1, t._2))
    val curve = Seq(22, 27, 30).map { radius =>
      val obs = org.apache.spark.sql.Observation()
      val got = Similarity.binaryTopK(emb, "vec_id", "embedding", qf, 5, radius, Some(obs))
        .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
      val r = (ground & got).size.toDouble / ground.size
      val pairs = obs.get("candidate_pairs").asInstanceOf[Long]
      info(f"binary R=$radius: recall@5 = $r%.3f, surviving pairs = $pairs")
      (r, pairs)
    }
    assert(curve.map(_._1) == curve.map(_._1).sorted,
      s"recall must be monotone in the Hamming radius: $curve")
    assert(curve.map(_._2) == curve.map(_._2).sorted,
      s"survivor count must be monotone in the Hamming radius: $curve")
    // the registered q15c operating point (R=27): 0.86 on this fixture,
    // 0.92 on the gate fixture (sf0.01) — both deterministic
    assert(curve(1)._1 >= 0.85,
      s"R=27 recall@5 regressed below the fixture's 0.86: ${curve(1)}")
  }

  test("pq_adc kernel: equals the composable ADC on valid frames; poisoned frames null") {
    // valid frames: hand-checkable codes/LUT with M=8 subspaces, k=2
    // (lut[m*2 + code] — row-major by subspace, the pqQueryLut layout),
    // packed into ⌈8/6⌉ = 2 words
    val lutA = (0 until 16).map(i => java.lang.Long.valueOf(i * 10L))
    val allOne = Seq.fill(8)(1L)
    val valid = Seq(Seq.fill(8)(0L), allOne, Seq(0L, 1L, 0L, 1L, 0L, 1L, 0L, 1L))
      .map(c => (c, lutA.map(Long.unbox))).toDF("codes", "lut")
    val both = valid.select(
      Similarity.fusedAdcPacked(Similarity.packCodes(col("codes")), col("lut"), 8).as("k"),
      adcComposable(col("codes"), col("lut"), 2, subspaces = 8).as("c"))
      .as[(Long, Long)].collect()
    both.foreach { case (k, c) => assert(k == c, s"kernel $k != composable $c") }
    assert(both(0)._1 == 560L && both(1)._1 == 640L) // Σ lut[2m], Σ lut[2m+1]

    // poisoned frames: the kernel must null, never read out of bounds
    // (the composable form would THROW on an invalid element_at index
    // under ANSI — the kernel's defensive null is the library contract).
    // Words are given packed; all-zero codes are two zero words.
    val zero = java.lang.Long.valueOf(0L)
    val poisoned = Seq[(Seq[java.lang.Long], Seq[java.lang.Long])](
      (Seq(java.lang.Long.valueOf(2L), zero), lutA),   // field 0 = 2 >= k
      (Seq(zero, zero), lutA.take(15)),                // LUT not a multiple of m
      (Seq(null, zero), lutA),                         // null word
      (Seq(zero, zero), lutA.updated(0, null)),        // null referenced LUT entry
      (Seq(zero), lutA),                               // 1 word: wrong count for m=8
      (null, lutA),                                    // null codes
      (Seq(zero, zero), null)                          // null LUT
    ).toDF("p", "lut")
    val nulls = poisoned.select(Similarity.fusedAdcPacked(col("p"), col("lut"), 8))
      .collect().map(r => r.isNullAt(0))
    assert(nulls.forall(identity), s"every poisoned frame must null: ${nulls.toSeq}")
    val mZero = Seq(Tuple1(Seq(0L, 0L))).toDF("p")
      .select(Similarity.fusedAdcPacked(col("p"), typedLit(lutA.map(Long.unbox)), 0))
      .collect().head.isNullAt(0)
    assert(mZero, "m <= 0 must null")
    // null LUT entry at an UNREFERENCED index must NOT poison
    val untouched = Seq((allOne, lutA.updated(0, null: java.lang.Long)))
      .toDF("codes", "lut")
      .select(Similarity.fusedAdcPacked(Similarity.packCodes(col("codes")), col("lut"), 8))
      .as[Long].head()
    assert(untouched == 640L, "unreferenced null LUT entries must not poison")
  }

  test("pqEncode: M valid packed codes per vector, reconstructed norm is the chosen codewords' exact sum") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val cnt = n.count()
    val stride = math.max(1L, cnt / 16)
    val codebook = Similarity.pqCodebook(n, stride, dims = 64).cache()
    val kCount = (codebook.count() / Similarity.PqSubspaces).toInt
    val enc = Similarity.pqEncode(n, codebook, dims = 64)
      // packed at rest since r14 (codes column renamed pcodes to fail
      // fast on stale unpacked artifacts); unpack for the assertions
      .withColumn("codes",
        Similarity.unpackCodes(col("pcodes"), Similarity.PqSubspaces))
      .cache()
    assert(enc.count() == cnt, "every vector must encode (no row drops)")
    val wordCount = (Similarity.PqSubspaces + 5) / 6
    val badPacked = enc.filter(size(col("pcodes")) =!= wordCount).count()
    assert(badPacked == 0, s"pcodes must pack into $wordCount 48-bit words")
    val bad = enc.filter(size(col("codes")) =!= Similarity.PqSubspaces ||
      exists(col("codes"), c => c < 0 || c >= kCount)).count()
    assert(bad == 0, s"codes must be $kCount-bounded, ${Similarity.PqSubspaces} per vector")
    // rnorm2I must equal the sum of the CHOSEN codewords' sqI — re-derive
    // it from the codes via an independent join and compare exactly
    val rederived = enc.select(col("id"), col("rnorm2I"),
      posexplode(col("codes")).as(Seq("m", "j")))
      .join(codebook.select(col("m").cast("int").as("m"), col("j"), col("sqI")),
        Seq("m", "j"))
      .groupBy("id", "rnorm2I").agg(sum("sqI").as("rederived"))
      .filter(col("rnorm2I") =!= col("rederived")).count()
    assert(rederived == 0, "rnorm2I must be the exact BIGINT sum of chosen sqI")
  }

  test("packCodes/unpackCodes: exact round trip at every M and the 255 boundary; packed kernel equals unpacked") {
    // round trip across word-boundary Ms, with max-value (255) codes in
    // the HIGH field of each word — the case that would break if a word
    // ever touched bit 48+ or lost precision through a double
    for (m <- Seq(1, 5, 6, 7, 12, 16, 192)) {
      val codes = (0 until m).map(i => ((i * 37) % 256).toLong)
        .updated(m - 1, 255L)
      val out = Seq(Tuple1(codes)).toDF("c")
        .select(Similarity.unpackCodes(
          Similarity.packCodes(col("c")), m).as("u"))
        .as[Seq[Long]].head()
      assert(out == codes, s"round trip failed at M=$m: $out")
    }
    // kernel equivalence across word boundaries: M=16 packs into 3 words
    // (the last half full) and k=256 puts 255 codes in the high fields
    val (m, k) = (16, 256)
    val lutB = (0 until m * k).map(i => (i * 7919L) % 100003L)
    val frames = Seq(
      (0 until m).map(i => ((i * 37) % 256).toLong).updated(m - 1, 255L),
      Seq.fill(m)(255L), Seq.fill(m)(0L))
    val both = frames.map(c => (c, lutB)).toDF("codes", "lut").select(
      Similarity.fusedAdcPacked(Similarity.packCodes(col("codes")), col("lut"), m).as("p"),
      adcComposable(col("codes"), col("lut"), k, subspaces = m).as("c"))
      .as[(Long, Long)].collect()
    both.foreach { case (p, c) => assert(p == c, s"packed $p != composable $c") }
  }

  test("PQ with a per-vector codebook (stride 1) reproduces the exact ranking up to micro-rounding") {
    // Every corpus vector is its own codeword, so each subvector's nearest
    // codeword is (a copy of) itself: reconstruction is exact and the ADC
    // score differs from the true cosine only by the 1e-6 LUT rounding —
    // the zero-quantization-error limit that isolates the ADC plumbing
    // from the codebook quality. The slice is the even vec_ids (250 of
    // the fixture's 500): a codebook of one entry per vector must fit the
    // packed 8-bit code field (at most 256 codewords).
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") % 2 === 0)
    val qf = col("id") % 50 === 0
    val cnt = emb.count().toInt
    assert(cnt <= 256)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qf, 5)
      .as[(Long, Long, Double)].collect()
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", qf, 5,
      dims = 64, codewords = cnt)
      .as[(Long, Long, Double)].collect()
    val ground = exact.map(t => (t._1, t._2)).toSet
    val got = pq.map(t => (t._1, t._2)).toSet
    val recall = (ground & got).size.toDouble / ground.size
    info(f"PQ stride-1 recall@5 = $recall%.3f")
    assert(recall >= 0.9, s"zero-quantization-error PQ must track exact: $recall")
    // scores on the common pairs agree to ~8 LUT roundings (8 subspaces ×
    // 0.5e-6 each, plus the final 6-decimal round)
    val exactScores = exact.map(t => (t._1, t._2) -> t._3).toMap
    pq.filter(t => exactScores.contains((t._1, t._2))).foreach { t =>
      val d = math.abs(t._3 - exactScores((t._1, t._2)))
      assert(d <= 1e-5, s"ADC score drifted from exact cosine by $d at $t")
    }
  }

  test("pqTopK and ivfPqTopK reject codewords outside the packed 8-bit field") {
    val emb = Tables.embeddings(spark, dir)
    val qf = col("id") % 50 === 0
    for (cw <- Seq(0, 257)) {
      val es = Seq(
        intercept[IllegalArgumentException](Similarity.pqTopK(emb, "vec_id", "embedding",
          qf, 5, dims = 64, codewords = cw)),
        intercept[IllegalArgumentException](Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          qf, col("id") % 100 === 0, 5, nprobe = 1, dims = 64, codewords = cw)))
      es.foreach(e => assert(e.getMessage.contains("8-bit field") &&
        e.getMessage.contains(s"got $cw"), e.getMessage))
    }
  }

  test("PQ recall calibration: q15d geometry vs exact ground truth; IVF-PQ tracks IVF") {
    val emb = Tables.embeddings(spark, dir)
    val qf = col("id") % 50 === 0
    val cf = col("id") % 100 === 0
    val ground = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qf, 10)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      (ground & df.as[(Long, Long, Double)].collect()
        .map(t => (t._1, t._2)).toSet).size.toDouble / ground.size

    // pure-ADC ranking at the PQ16x4 geometry: the quantization-error
    // ceiling on this isotropic worst-case fixture (~0.33) — the measured
    // reason the REGISTERED q15d is threshold-refined, not ADC-ranked
    val pqR = recallOf(Similarity.pqTopK(emb, "vec_id", "embedding", qf, 10,
      dims = 64, codewords = 16))
    info(f"PQ pure-ADC (16 codewords) recall@10 = $pqR%.3f")

    // more codewords -> finer quantization -> measurably better ranking
    val pqR32 = recallOf(Similarity.pqTopK(emb, "vec_id", "embedding", qf, 10,
      dims = 64, codewords = 32))
    info(f"PQ pure-ADC (32 codewords) recall@10 = $pqR32%.3f")

    // the registered q15d operating point: ADC threshold tau=0.10 + exact
    // re-rank — recall IS the cut's ground-truth capture (re-rank is
    // exact), measured 0.92 at ~20% survivors on this fixture; the tau
    // sweep (capture/survivors 0.98/0.33 at 0.05, 0.92/0.20 at 0.10,
    // 0.75/0.11 at 0.15, 0.51/0.05 at 0.20) is the calibration record
    val pqRefined = recallOf(Similarity.pqTopK(emb, "vec_id", "embedding",
      qf, 10, dims = 64, codewords = 16, adcThreshold = Some(0.10)))
    info(f"PQ refined (tau=0.10) recall@10 = $pqRefined%.3f")

    // IVF-PQ at the q16d-calibrated probe width: the IVF stage bounds
    // recall from above (the PQ cut can only lose within probed cells)
    val ivfObs = org.apache.spark.sql.Observation()
    val ivfR = recallOf(Similarity.ivfTopK(emb, "vec_id", "embedding",
      qf, cf, 10, nprobe = 4, candObservation = Some(ivfObs)))
    val ivfPqObs = org.apache.spark.sql.Observation()
    val ivfPqR = recallOf(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      qf, cf, 10, nprobe = 4, dims = 64, codewords = 16,
      adcThreshold = Some(0.10), candObservation = Some(ivfPqObs)))
    info(f"IVF nprobe=4 recall@10 = $ivfR%.3f; IVF-PQ refined = $ivfPqR%.3f")
    assert(ivfPqR <= ivfR + 1e-9,
      s"IVF-PQ cannot exceed its own IVF pruning stage: $ivfPqR vs $ivfR")
    assert(ivfPqObs.get("candidate_pairs") == ivfObs.get("candidate_pairs"),
      "IVF-PQ must scan exactly the candidates IVF pruning admits " +
        "(the ADC cut decides who pays the re-rank, not who is scanned)")
    // floors pinned from the measured fixture values (see info lines)
    assert(pqR >= 0.25, s"PQ pure-ADC recall@10 regressed: $pqR")
    assert(pqRefined >= 0.9,
      s"q15d operating point (tau=0.10) recall@10 below 0.9: $pqRefined")
    assert(ivfPqR >= 0.8, s"IVF-PQ refined recall@10 regressed: $ivfPqR")
  }

  test("ivfPqSearchFrom: persisted-index search is row-identical to the in-plan IVF-PQ") {
    // The q16i contract: parquet round-tripping the index (codes, buckets,
    // norms, codebook, centroids) and re-ranking via the survivors'
    // join-back must reproduce ivfPqTopK's threshold-refined output
    // exactly — same candidates, same scores, same ties.
    val emb = Tables.embeddings(spark, dir)
    val qf = col("id") % 50 === 0
    val cf = col("id") % 100 === 0
    val inPlan = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      qf, cf, 10, nprobe = 4, dims = 64, codewords = 16,
      adcThreshold = Some(0.10))
      .as[(Long, Long, Double)].collect().toSet

    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val cnt = n.count()
    val centroids = n.filter(cf)
    // maxCodewords mirrors ivfPqTopK's in-plan cap (the r16 id-geometry
    // bound) — an uncapped hand-built codebook would carry the stride
    // class's rounding overshoot and diverge from the in-plan search
    val codebook = Similarity.pqCodebook(n, math.max(1L, cnt / 16), 64,
      maxCodewords = 16)
    val root = java.nio.file.Files.createTempDirectory("pqidx-spec-").toString
    Similarity.ivfPqIndexRows(n, centroids, codebook, 64)
      .write.parquet(root + "/index")
    codebook.write.parquet(root + "/codebook")
    centroids.write.parquet(root + "/centroids")
    val fromIndex = Similarity.ivfPqSearchFrom(
      spark.read.parquet(root + "/index"),
      spark.read.parquet(root + "/codebook"),
      spark.read.parquet(root + "/centroids"),
      raw = n, queries = n.filter(qf),
      k = 10, nprobe = 4, dims = 64, adcThreshold = 0.10)
      .as[(Long, Long, Double)].collect().toSet
    assert(fromIndex == inPlan,
      s"index search diverged: only-index=${(fromIndex -- inPlan).take(5)} " +
        s"only-inplan=${(inPlan -- fromIndex).take(5)}")
  }

  test("ivfPqIndexRows ingest invariant: union of increments searches identically to a rebuild at the same geometry") {
    // q77's correctness root: index rows are per-vector functions of
    // (geometry, vector), so appending a batch encoded against the FROZEN
    // geometry must yield exactly the index a rebuild over the union
    // would — verified end-to-end by searching both.
    val emb = Tables.embeddings(spark, dir)
    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val existing = n.filter(col("id") % 10 =!= 0)
    val batch = n.filter(col("id") % 10 === 0)
    val centroids = existing.filter(col("id") % 20 === 1)
    val codebook = Similarity.pqCodebook(existing, 30, 64, residue = 1L)
    val incremental = Similarity.ivfPqIndexRows(existing, centroids, codebook, 64)
      .union(Similarity.ivfPqIndexRows(batch, centroids, codebook, 64))
    val rebuilt = Similarity.ivfPqIndexRows(n, centroids, codebook, 64)
    def search(index: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqSearchFrom(index, codebook, centroids,
        raw = n, queries = n.filter(col("id") % 50 === 0),
        k = 10, nprobe = 4, dims = 64, adcThreshold = 0.10)
        .as[(Long, Long, Double)].collect().toSet
    assert(search(incremental) == search(rebuilt),
      "incremental index diverged from the same-geometry rebuild")
  }

  test("q81 composition: the oracle-exact Lloyd step (ivfAssign + meanPool) improves mean cosine") {
    // The registered bit-stable refinement must still BE a Lloyd step:
    // rebuild wide centroids from the long-format output and check the
    // assignment objective improves, as every kmeansFit round does.
    val emb = Tables.embeddings(spark, dir)
    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val c0 = n.filter(col("id") % 100 === 0)
    val long = Similarity.meanPool(Similarity.ivfAssign(n, c0), "bucket", "emb")
    // every bucket rebuilds to the input dimensionality, members partition N
    val d0 = n.select(size(col("emb"))).head().getInt(0)
    val c1 = long.orderBy("bucket", "dim_pos")
      .groupBy(col("bucket").as("id"))
      .agg(array_sort(collect_list(struct(col("dim_pos"), col("mean_val")))).as("s"))
      .select(col("id"), expr("transform(s, x -> x.mean_val)").as("emb"))
    assert(c1.select(size(col("emb"))).distinct().as[Int].collect().toSeq == Seq(d0))
    val members = long.filter(col("dim_pos") === 1)
      .agg(sum("n_vecs")).head().getLong(0)
    assert(members == n.count(), "every vector must land in exactly one bucket")
    def meanCos(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssign(n, cents)
        .join(cents.select(col("id").as("bucket"), col("emb").as("c_emb")), "bucket")
        .select(avg(Similarity.fusedCosine(col("emb"), col("c_emb"))))
        .head().getDouble(0)
    val (m0, m1) = (meanCos(c0), meanCos(c1))
    assert(m1 >= m0 - 1e-9, s"oracle-exact Lloyd step regressed: $m0 -> $m1")
  }

  /** The wide (id, emb) centroid table of a long-format fit, rebuilt with
    * Spark operators (the loop rebuilds it on the driver). */
  private def wide(long: org.apache.spark.sql.DataFrame) =
    long.groupBy(col("bucket").as("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim_pos"), col("mean_val")))),
        x => x.getField("mean_val")).as("emb"))

  private def sorted(long: org.apache.spark.sql.DataFrame) =
    long.orderBy("bucket", "dim_pos").collect().toSeq

  /** Mean member->centroid cosine of `n` under the ivfAssign assignment
    * to the wide centroid table `cents`: the Lloyd objective. */
  private def meanCos(n: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): Double =
    Similarity.ivfAssign(n, cents)
      .join(cents.select(col("id").as("bucket"), col("emb").as("c_emb")), "bucket")
      .select(avg(Similarity.fusedCosine(col("emb"), col("c_emb"))))
      .head().getDouble(0)

  test("kmeansFit: round 1 is exactly the single Lloyd step; round 2 does not regress the objective") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val c0 = n.filter(col("id") % 100 === 0)
    val (one, r1) = Similarity.kmeansFit(n, c0, 1)
    assert(r1 === 1)
    val step = Similarity.meanPool(Similarity.ivfAssign(n, c0), "bucket", "emb")
    assert(sorted(one) == sorted(step), "one fit round must equal the single q81 step exactly")
    val (m1, m2) = (meanCos(n, wide(one)), meanCos(n, wide(Similarity.kmeansFit(n, c0, 2)._1)))
    assert(m2 >= m1 - 1e-9, s"second Lloyd round regressed: $m1 -> $m2")
  }

  test("refineCentroids: Lloyd steps monotonically improve mean member->centroid cosine") {
    // Centroid refinement is kmeansFit's round; spherical k-means under the
    // cosine scorer: every Lloyd round improves the assignment objective.
    val emb = Tables.embeddings(spark, dir)
    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val c0 = n.filter(col("id") % 50 === 0)
    val c1 = wide(Similarity.kmeansFit(n, c0, 1)._1)
    val c2 = wide(Similarity.kmeansFit(n, c0, 2)._1)
    val (m0, m1, m2) = (meanCos(n, c0), meanCos(n, c1), meanCos(n, c2))
    assert(m1 >= m0 - 1e-9, s"first Lloyd step regressed: $m0 -> $m1")
    assert(m2 >= m1 - 1e-9, s"second Lloyd step regressed: $m1 -> $m2")
    assert(m1 > m0, "seeded-on-data centroids should strictly improve here")
    // dimensions survive the explode/rebuild round-trip
    val d0 = n.select(size(col("emb"))).head().getInt(0)
    assert(c1.select(size(col("emb"))).distinct().as[Int].collect().toSeq == Seq(d0))
  }

  test("kmeansFit: detects the fixed point early; output is the fixed point") {
    // Two tight cosine clusters, one seed in each: round 1 moves the
    // centroids to the cluster means, round 2 reproduces them exactly
    // (assignments cannot change), so the fit must stop at round 2 —
    // well under the cap — with round 1's table.
    val df = Seq(
      (0L, Seq(1.0, 0.1)), (1L, Seq(1.0, -0.1)), (2L, Seq(0.9, 0.0)),
      (3L, Seq(0.1, 1.0)), (4L, Seq(-0.1, 1.0)), (5L, Seq(0.0, 0.9))
    ).toDF("id", "emb")
    val seeds = df.filter(col("id").isin(0L, 3L))
    val (out, rounds) = Similarity.kmeansFit(df, seeds, 8)
    assert(rounds === 2, s"separated clusters must fix at round 2, ran $rounds")
    assert(sorted(out) === sorted(Similarity.kmeansFit(df, seeds, 1)._1))
  }

  test("kmeansFit: eight rounds equal eight chained single-round fits") {
    // A single round cannot stop early, so chaining eight of them is the
    // full unrolled fit: the loop's early stop must be invisible next to it.
    val emb = Tables.embeddings(spark, dir)
    val n = emb.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("emb"))
    val c0 = n.filter(col("id") % 100 === 0)
    val (out, rounds) = Similarity.kmeansFit(n, c0, 8)
    assert(rounds >= 1 && rounds <= 8)
    val chained = (2 to 8).foldLeft(Similarity.kmeansFit(n, c0, 1)._1) {
      (long, _) => Similarity.kmeansFit(n, wide(long), 1)._1
    }
    assert(sorted(out) === sorted(chained),
      s"early stop at round $rounds must be invisible next to eight chained rounds")
  }

  test("kmeansFit: a round that throws leaves no cached frame") {
    val df = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("id", "emb")
    val bad = df.withColumn("emb",
      when(col("id") === 1L, raise_error(lit("boom"))).otherwise(col("emb")))
    assert(spark.sharedState.cacheManager.isEmpty)
    val e = intercept[Exception](Similarity.kmeansFit(bad, df.filter(col("id") === 0L), 3))
    assert(Option(e.getMessage).exists(_.contains("boom")), e.toString)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the corpus staged for the rounds must be released when a round fails")
  }

  test("meanPool: hand-computed means; bit-stable across partitioning") {
    val df = Seq(
      ("a", Seq(1.0f, 2.0f)), ("a", Seq(2.0f, 4.0f)), ("b", Seq(-1.5f, 0.0f))
    ).toDF("g", "emb")
    val out = Similarity.meanPool(df, "g", "emb")
      .as[(String, Long, Double, Long)].collect().toSet
    assert(out == Set(("a", 1L, 1.5, 2L), ("a", 2L, 3.0, 2L),
      ("b", 1L, -1.5, 1L), ("b", 2L, 0.0, 1L)), s"got $out")

    // DECIMAL exact sums: identical output bit-for-bit on any partitioning
    val emb = Tables.embeddings(spark, dir)
    val one = Similarity.meanPool(emb.repartition(1), "label", "embedding")
      .collect().toSet
    val many = Similarity.meanPool(emb.repartition(13), "label", "embedding")
      .collect().toSet
    assert(one == many, "meanPool must be partitioning-independent")
  }
}
