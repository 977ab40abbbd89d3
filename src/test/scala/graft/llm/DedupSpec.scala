package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different content about spark engines"),
    (5L, "  The  Quick  Brown  Fox  Jumps  Over  The  Lazy  Dog ") // ws/case variant
  ).toDF("doc_id", "text")

  test("exact: groups by content fingerprint, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect().map(t => (t._2, t._3)).toSet
    // 1 == 2 exactly; 5 differs (internal whitespace survives lower/trim)
    assert(out == Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("minhash signatures: identical shingle sets give identical signatures") {
    val sh = Dedup.shingleFrame(docs, "doc_id", "text", 3)
    val signed = Dedup.withSignature(sh, 8)
    val sigCols = (0 until 8).map(i => col(s"sig$i"))
    val rows = signed.select(col("id") +: sigCols: _*).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(4L))
  }

  test("minhashPairs: finds the exact and near duplicates, never a false self-pair") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", 3, 8, 2, 0.5)
      .as[(Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)), "exact dup must survive banding + verification")
    assert(pairs.forall(p => p._1 < p._2))
    val exact = pairs.find(p => (p._1, p._2) == (1L, 2L)).get
    assert(exact._3 == 1.0)
  }

  test("minhashPairs: the persistShingles memory knob never changes the answer") {
    // The shingle cache sits behind Stage.cacheIfFits: recomputing the
    // shingle pass instead of columnar-caching a data-scale string-array
    // frame is the r16 MemPressure mitigation (the columnar BUILD is
    // heap-fatal at the 1000x decade on an 8 GiB heap, at every storage
    // level). The gate must be a pure execution choice: identical pairs.
    // The small local frame fits storage and caches; the same rows behind
    // an RDD carry no size statistic (spark.sql.defaultSizeInBytes), so
    // the gate recomputes.
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val cached = Dedup.minhashPairs(docs, "doc_id", "text", 3, 8, 2, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(!cm.isEmpty, "a frame that fits must take the cache branch")
    spark.catalog.clearCache()
    val rddBacked = spark.createDataFrame(docs.rdd, docs.schema)
    val recomputed = Dedup.minhashPairs(rddBacked, "doc_id", "text", 3, 8, 2, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(cm.isEmpty, "the recompute branch must not register a cached relation")
    assert(recomputed == cached, "the gate changed the pair set")
  }

  test("shouldPersistShingles: adaptive default decides from measured bytes, pins win both ways") {
    // The gate (Stage.fits behind Stage.cacheIfFits): cache iff estimated
    // columnar shingle bytes (input x 6·shingleSize) fit the storage
    // capacity. Pin the rule at the two MEASURED r16 boundary cases — the
    // 100x persist-safe point and the 1000x heap-fatal point, both at the
    // 8 GiB heap (~4.3 GB unified region) — and a decade of margin on
    // each side.
    val storage = BigInt(4300L) * 1024 * 1024            // ~8 GiB heap
    val in100x = BigInt(76L) * 1024 * 1024               // fixture stats, 100x
    val in1000x = BigInt(805L) * 1024 * 1024             // fixture stats, 1000x
    val shingles3 = 6L * 3
    assert(graft.Stage.fits(in100x, storage, shingles3),
      "the measured-safe 100x point must keep the faster cache")
    assert(!graft.Stage.fits(in1000x, storage, shingles3),
      "the r16-fatal 1000x point must auto-select recompute")
    // a larger shingle grain expands the estimate proportionally
    assert(!graft.Stage.fits(in100x * 20, storage, shingles3))
    // the live gate (stats and memory probes on a running session) still
    // finds the dups
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", 3, 8, 2, 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "adaptive-default path must still find the dups")
  }

  test("candidatePairs: hot-bucket cap bounds a mega-cluster to O(cap * n) pairs") {
    // 500 identical docs -> every band puts all 500 in one bucket; uncapped
    // self-join would emit n(n-1)/2 = 124750 pairs.
    val n = 500
    val cap = 20
    val flood = (1 to n).map(i => (i.toLong, "same boilerplate text everywhere"))
      .toDF("doc_id", "text")
    val bands = Dedup.bandFrame(
      Dedup.withSignature(Dedup.shingleFrame(flood, "doc_id", "text", 3), 8), 8, 2)
    val capped = Dedup.candidatePairs(bands, maxBucketSize = cap)
    val pairs = capped.as[(Long, Long)].collect()
    // bounded: each pair's smaller id must be a kept representative
    assert(pairs.forall(_._1 <= cap), "pair with non-representative smaller id escaped the cap")
    assert(pairs.length.toLong <= cap.toLong * n, s"pair count ${pairs.length} not O(cap*n)")
    // connectivity preserved: every doc still pairs with representative id 1
    val partnered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(partnered == (1L to n).toSet, "a truncated member lost all its pairs")
    // and with a cap above the bucket size, output equals the uncapped join
    val uncapped = Dedup.candidatePairs(bands).count()
    assert(uncapped == n.toLong * (n - 1) / 2)
  }

  test("candidatePairs: truncation is observable via plan-attached metrics") {
    val n = 500
    val cap = 20
    val flood = (1 to n).map(i => (i.toLong, "same boilerplate text everywhere"))
      .toDF("doc_id", "text")
    val bands = Dedup.bandFrame(
      Dedup.withSignature(Dedup.shingleFrame(flood, "doc_id", "text", 3), 8), 8, 2)
    // cap bites: 4 bands x 1 mega-bucket each, (n - cap) rows dropped per band
    val obs = org.apache.spark.sql.Observation()
    Dedup.candidatePairs(bands, maxBucketSize = cap, Some(obs)).count()
    assert(obs.get("truncated_buckets") == 4L)
    assert(obs.get("dropped_band_rows") == 4L * (n - cap))
    // cap doesn't bite: both metrics zero, so a clean run is provably clean
    val quiet = org.apache.spark.sql.Observation()
    Dedup.candidatePairs(bands, maxBucketSize = n, Some(quiet)).count()
    assert(quiet.get("truncated_buckets") == 0L)
    assert(quiet.get("dropped_band_rows") == 0L)
  }

  test("jaccard bounds and symmetry") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j1 = df.select(Dedup.jaccard(col("x"), col("y"))).as[Double].head()
    val j2 = df.select(Dedup.jaccard(col("y"), col("x"))).as[Double].head()
    assert(j1 == 0.5 && j2 == j1)
  }

  test("incrementalExact: only unseen content survives the anti-join, batch-deduped") {
    val index = Dedup.exact(
      Seq((1L, "seen before")).toDF("doc_id", "text"), "doc_id", "text")
    val batch = Seq(
      (10L, "seen before"),   // known content: dropped
      (11L, "brand new"),
      (12L, "brand new"),     // in-batch dup: one row, min id
      (13L, "also new")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(index, batch, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out == Map(11L -> 2L, 13L -> 1L))
  }

  test("incrementalMinhashPairs: equals the full run restricted to batch-touching pairs") {
    // split the fixture: odd ids already ingested (the index), even ids new
    val indexDocs = docs.filter(col("doc_id") % 2 =!= 0)
    val batch = docs.filter(col("doc_id") % 2 === 0)
    val indexShingles = Dedup.shingleFrame(indexDocs, "doc_id", "text", 3)
    val indexBands = Dedup.bandFrame(Dedup.withSignature(indexShingles, 8), 8, 2)
    val inc = Dedup.incrementalMinhashPairs(indexBands, indexShingles, batch,
      "doc_id", "text", 3, 8, 2, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // determinism makes the incremental run equivalent to filtering the
    // full-corpus pair list down to pairs with >= 1 batch member
    val full = Dedup.minhashPairs(docs, "doc_id", "text", 3, 8, 2, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == full.filter(p => p._1 % 2 == 0 || p._2 % 2 == 0))
    // the cross batch<->index exact dup (1,2) survives with jaccard 1.0
    assert(inc.exists(p => (p._1, p._2) == (1L, 2L) && p._3 == 1.0))
    // the index-internal dup (1,5) is in the full run but NOT recomputed here
    assert(full.exists(p => (p._1, p._2) == (1L, 5L)))
    assert(!inc.exists(p => (p._1, p._2) == (1L, 5L)))
  }

  test("incrementalMinhashPairs: index-side hot-bucket cap bounds a flooded probe join, observably") {
    // boilerplate flood already ingested (ids 1..400) arriving again as a
    // batch (ids 401..500): uncapped, the probe join emits 400 pairs per
    // batch doc; capped, each batch doc meets only the cap representatives
    val cap = 20
    val indexDocs = (1 to 400).map(i => (i.toLong, "same boilerplate text everywhere"))
      .toDF("doc_id", "text")
    val batch = (401 to 500).map(i => (i.toLong, "same boilerplate text everywhere"))
      .toDF("doc_id", "text")
    val indexShingles = Dedup.shingleFrame(indexDocs, "doc_id", "text", 3)
    val indexBands = Dedup.bandFrame(Dedup.withSignature(indexShingles, 8), 8, 2)
    val probeObs = org.apache.spark.sql.Observation()
    val pairs = Dedup.incrementalMinhashPairs(indexBands, indexShingles, batch,
      "doc_id", "text", 3, 8, 2, 0.5, maxBucketSize = cap,
      probeCapObservation = Some(probeObs))
      .as[(Long, Long, Double)].collect()
    val crossPairs = pairs.filter(p => p._1 <= 400 && p._2 > 400)
    // bounded: every surviving index member is a representative (smallest ids)
    assert(crossPairs.nonEmpty && crossPairs.forall(_._1 <= cap),
      "a non-representative index doc escaped the probe cap")
    assert(crossPairs.length == cap * 100, "each batch doc pairs with exactly the cap reps")
    // connectivity: every batch doc still reaches the flood cluster's min id
    assert(crossPairs.filter(_._1 == 1L).map(_._2).toSet == (401L to 500L).toSet)
    // truncation is visible: 4 bands x 1 mega-bucket, (400 - cap) dropped each
    assert(probeObs.get("truncated_index_buckets") == 4L)
    assert(probeObs.get("dropped_index_band_rows") == 4L * (400 - cap))
    // and with the cap above the bucket size the probe join is uncapped
    val quiet = org.apache.spark.sql.Observation()
    val uncapped = Dedup.incrementalMinhashPairs(indexBands, indexShingles, batch,
      "doc_id", "text", 3, 8, 2, 0.5, maxBucketSize = 400,
      probeCapObservation = Some(quiet)).count()
    assert(uncapped == 400L * 100 + 100L * 99 / 2, "full cross + within-batch pair count")
    assert(quiet.get("truncated_index_buckets") == 0L)
  }

  /** Force [[Dedup.connectedComponents]] down the distributed loop (the
    * driver union-find fast path would otherwise absorb every fixture-sized
    * graph) for tests that pin LOOP semantics. */
  private def forcedDistributed[T](body: => T): T = {
    spark.conf.set("spark.graft.cc.driverEdgeLimit", "0")
    try body finally spark.conf.unset("spark.graft.cc.driverEdgeLimit")
  }

  test("connectedComponents: transitive closure, min-id cluster labels") {
    // two components: a path 1-2-3 (1,3 never share an edge) and pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = forcedDistributed {
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    }
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // and the driver fast path (the default at this size) agrees exactly
    val fast = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(fast == cc)
  }

  test("connectedComponents: driver fast path preserves non-Long integral id types") {
    // INT ids exercise the cast-long-and-back path; the output schema must
    // match what the distributed loop would produce.
    val pairs = Seq((1, 2), (2, 3), (7, 8)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    assert(cc.schema.fields.map(_.dataType).toSeq ==
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
    assert(cc.as[(Int, Int)].collect().toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
  }

  test("connectedComponents: string ids stay on the distributed loop (ordering-safety gate)") {
    // UTF8String binary order != java.lang.String UTF-16 order, so strings
    // must never take the driver path; the loop's min-label result is the
    // one both the oracle and Spark's min() agree on.
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).as[(String, String)].collect().toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("connectedComponents: driver fast path == distributed loop on a random-ish graph") {
    // star + chain + isolated pair + a cycle, ids out of order
    val edges = Seq((5L, 9L), (9L, 2L), (2L, 7L), (7L, 5L), // cycle
      (100L, 101L), (101L, 102L), (102L, 103L), // chain
      (50L, 60L), (50L, 61L), (50L, 62L), // star
      (200L, 201L)).toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val dist = forcedDistributed {
      Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    }
    assert(fast == dist, s"paths diverged:\nfast $fast\ndist $dist")
    assert(fast(7L) == 2L && fast(103L) == 100L && fast(62L) == 50L)
  }

  test("connectedComponents: long chain converges (pointer jumping), reversed edges too") {
    val n = 64
    // worst-case diameter: a single chain, edges listed high-to-low so the
    // min label must travel the whole chain length
    val pairs = (1 until n).map(i => (i.toLong + 1, i.toLong)).reverse
      .toDF("id_a", "id_b")
    val cc = forcedDistributed {
      Dedup.connectedComponents(pairs, maxIterations = 12)
        .as[(Long, Long)].collect().toMap
    }
    assert(cc.size == n && cc.values.forall(_ == 1L))
  }

  test("connectedComponents: empty pair list -> empty labels, no divergence") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(pairs).isEmpty)
    // the 0 sentinel must force the LOOP even for an empty graph (strict
    // `<` gate): rounds > 0 proves the distributed path actually ran —
    // with the old `<=` gate this silently took the driver path (rounds=0)
    var rounds = -1
    assert(forcedDistributed {
      Dedup.connectedComponents(pairs, roundsCallback = Some(r => rounds = r)).isEmpty
    })
    assert(rounds >= 1, s"forced-distributed empty graph must take the loop, got rounds=$rounds")
  }

  test("connectedComponents: null ids drop out identically on both paths") {
    // (1,2) real edge; (3,null) leaves 3 a singleton; (null,null) vanishes.
    // Before the staged-frame null filter the driver union-find NPE'd on
    // these rows while the loop's equi-joins silently dropped them.
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (3L, null), (null, null)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 3L)
    val fast = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val dist = forcedDistributed {
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    }
    assert(fast == expected, s"driver path: $fast")
    assert(dist == expected, s"distributed path: $dist")
  }

  test("connectedComponents: deep graphs keep plan statistics bounded (no BigInt blowup)") {
    // Spark 4.1's localCheckpoint copies the ORIGIN plan's statistics onto
    // the truncated LogicalRDD; each round's join-product estimate then
    // compounds CUBICALLY across rounds (digit count ~triples per round:
    // 6 -> 21 -> 66 -> ... -> 4M digits by round 12), hanging the DRIVER in
    // BigInteger multiplication once a graph needs >= ~14 rounds — at any
    // data scale. Stage.checkpoint re-wraps the materialized RDD with
    // fresh default stats, so a deep chain must converge with the returned
    // plan's estimate still an ordinary-sized number.
    val n = 40000 // diameter ~n => ~log2(n) ≈ 16 pointer-jumping rounds
    val pairs = (1 until n).map(i => (i.toLong + 1, i.toLong)).toDF("id_a", "id_b")
    var rounds = -1
    val cc = forcedDistributed {
      Dedup.connectedComponents(pairs, roundsCallback = Some(r => rounds = r))
    }
    assert(cc.filter(col("cluster") === 1L).count() == n.toLong,
      "one component labeled by its min id")
    assert(rounds >= 12, s"chain must be deep enough to exercise the blowup regime, got $rounds")
    val digits = cc.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length
    assert(digits < 40, s"plan stats must stay bounded across rounds, got $digits digits")
  }

  test("winnowOverlapPairs: containment scores a quoted doc ~1.0 where Jaccard under-scores it") {
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    val host = ("completely unrelated framing sentence about engines " + quote +
      " and then a long tail of other words that dilute the union " +
      "padding padding more filler content here to stretch the host document")
    val docs = Seq((1L, quote), (2L, host), (3L, "nothing in common with either"))
      .toDF("doc_id", "text")
    val out = Dedup.winnowOverlapPairs(docs, "doc_id", "text", 3, 4, minShared = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"only the quote/host pair should surface, got ${out.toSeq}")
    val containment = out.head._4
    // winnowing guarantees shared fingerprints on any run >= w + k - 1
    // tokens; the quote is fully inside the host, so containment
    // (shared / min-side fingerprints) is high even though the pair's
    // plain Jaccard is low
    assert(containment >= 0.8, s"containment collapsed: $containment")
    val jac = docs.filter(col("doc_id").isin(1L, 2L))
    val jaccard = Dedup.blockedJaccardPairs(jac, "doc_id", "text", lit(1), 3, 0.01)
      .as[(Long, Long, Double)].collect().head._3
    assert(jaccard < 0.5, s"sanity: whole-doc jaccard should under-score containment, got $jaccard")
  }

  test("winnowOverlapPairs: hot-fingerprint cap bounds a viral snippet, observably") {
    val n = 300
    val cap = 10
    val flood = (1 to n).map(i => (i.toLong, "same viral snippet repeated everywhere online"))
      .toDF("doc_id", "text")
    val obs = org.apache.spark.sql.Observation()
    val pairs = Dedup.winnowOverlapPairs(flood, "doc_id", "text", 3, 4,
      minShared = 1, maxBucketSize = cap, capObservation = Some(obs))
      .as[(Long, Long, Long, Double)].collect()
    assert(pairs.forall(_._1 <= cap), "pair with non-representative smaller id escaped the cap")
    assert(obs.get("truncated_fp_buckets").asInstanceOf[Long] >= 1L)
    assert(pairs.flatMap(p => Seq(p._1, p._2)).toSet == (1L to n).toSet,
      "every doc must keep at least one pair with a representative")
  }

  test("clusterSplitFrom: artifact path equals the one-shot chain, singletons self-cluster") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", 3, 8, 2, 0.5)
    val cc = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    // the "artifact": round-trip the closure through parquet, as q32 persists it
    val dir = java.nio.file.Files.createTempDirectory("cc-artifact-").toString
    cc.write.mode("overwrite").parquet(dir)
    val artifact = spark.read.parquet(dir)
    val out = Dedup.clusterSplitFrom(docs.select("doc_id"), "doc_id", artifact, 0.9)
      .as[(Long, Long, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // every corpus doc labeled exactly once
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // one-shot equivalent: join + coalesce + hashSplit inline
    val oneShot = docs.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("split",
        graft.operators.Sampling.hashSplit(col("cluster"), 0.9))
      .as[(Long, Long, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out == oneShot, "artifact path must be bit-identical to the one-shot chain")
    // near-dup family {1,2,3} shares a cluster AND a split (the leakage guard);
    // 4 never pairs, so it is its own singleton cluster
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    assert(out(4L)._1 == 4L)
  }

  test("simhash: identical text -> identical sketch; near dup -> small hamming; 16-bit range") {
    val out = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    assert(out.values.forall(v => v >= 0 && v < (1 << 16)))
    val near = docs.select(
      Dedup.hamming(lit(out(1L)), lit(out(3L))).as("h")).as[Long].head()
    val far = docs.select(
      Dedup.hamming(lit(out(1L)), lit(out(4L))).as("h")).as[Long].head()
    assert(near <= 6, s"one-token change should flip few bits, got $near")
    assert(near <= far, s"near dup ($near) must not be farther than unrelated text ($far)")
  }

  test("simhashPairs: equals the exhaustive all-pairs ground truth (pigeonhole-complete)") {
    // 20 base docs plus exact/near variants: enough distinct sketches that
    // banding actually prunes, small enough to brute-force the truth set.
    val corpus = ((1 to 20).map(i =>
      (i.toLong, s"document number $i about topic ${i % 5} with shared filler words")) ++
      Seq((21L, "document number 1 about topic 1 with shared filler words"), // exact dup of 1
          (22L, "document number 2 about topic 2 with shared filler altered"))) // near dup of 2
      .toDF("doc_id", "text")
    val sk = corpus
      .select(col("doc_id"), Dedup.simhash(col("text"), 32, Dedup.md5Bit).as("sk"))
      .as[(Long, Long)].collect().toMap
    val truth = (for {
      a <- sk.keys; b <- sk.keys if a < b
      h = java.lang.Long.bitCount(sk(a) ^ sk(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(truth.nonEmpty && truth.exists(_._3 == 0), "fixture must contain dup pairs")
    // pairs through the native-kernel sketch, truth through the composable
    // md5 variant — equality doubles as an end-to-end kernel parity check
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", 32, 4, 3, Dedup.simhashMd5)
      .as[(Long, Long, Long)].collect().toSet
    // bands > maxHamming => every true pair shares a band: got == truth exactly
    assert(got == truth, s"banded search must equal brute force: missing ${truth -- got}, extra ${got -- truth}")
  }

  test("simhashPairs: rejects a band count that voids the pigeonhole guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", bands = 3, maxHamming = 3)
    }
  }

  test("md5BitWide: plane 0 is md5Bit verbatim; planes are independent reads of one md5") {
    val toks = Seq("alpha", "beta", "gamma", "7", "", "Ünïcode").toDF("t")
    (0 until 32).foreach { j =>
      val same = toks.select(
        (Dedup.md5Bit(col("t"), j) === Dedup.md5BitWide(col("t"), j)).as("eq"))
        .as[Boolean].collect()
      assert(same.forall(identity), s"plane 0 bit $j diverged from md5Bit")
    }
    // plane 1 must read bit 1 of the digit: for token with md5 digit '3'
    // at some position both planes are set; digit '1' sets only plane 0.
    // Checked structurally: the two planes are NOT the same predicate.
    val differs = toks.select(
      (0 until 32).map(j =>
        (Dedup.md5BitWide(col("t"), j) =!= Dedup.md5BitWide(col("t"), j + 32))
          .cast("int")).reduce(_ + _).as("d")).as[Int].collect().sum
    assert(differs > 0, "plane 1 collapsed onto plane 0")
  }

  test("blockCombos: C(8,5)=56 distinct lexicographic 5-subsets") {
    val combos = Dedup.blockCombos(8, 5)
    assert(combos.size == 56)
    assert(combos.distinct.size == 56)
    assert(combos.forall(c => c.size == 5 && c == c.sorted && c.forall(b => b >= 0 && b < 8)))
    assert(combos.head == Seq(0, 1, 2, 3, 4) && combos.last == Seq(3, 4, 5, 6, 7))
  }

  test("simhashPairsBlocked: equals the exhaustive all-pairs ground truth (pigeonhole-complete)") {
    // same corpus shape as the simhashPairs test, at the q64b geometry:
    // 56-bit sketch, 8 blocks, C(8,5)=56 combination bands. Truth through
    // the composable md5BitWide chain, pairs through the native kernel —
    // equality doubles as the 56-bit kernel parity check.
    val corpus = ((1 to 20).map(i =>
      (i.toLong, s"document number $i about topic ${i % 5} with shared filler words")) ++
      Seq((21L, "document number 1 about topic 1 with shared filler words"),
          (22L, "document number 2 about topic 2 with shared filler altered")))
      .toDF("doc_id", "text")
    val sk = corpus
      .select(col("doc_id"), Dedup.simhash(col("text"), 56, Dedup.md5BitWide).as("sk"))
      .as[(Long, Long)].collect().toMap
    assert(sk.values.forall(_ >= 0L), "56-bit sketch must stay non-negative (SQL-oracle-safe)")
    val truth = (for {
      a <- sk.keys; b <- sk.keys if a < b
      h = java.lang.Long.bitCount(sk(a) ^ sk(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(truth.nonEmpty && truth.exists(_._3 == 0), "fixture must contain dup pairs")
    val got = Dedup.simhashPairsBlocked(corpus, "doc_id", "text", 56, 8, 3, Dedup.simhashMd5)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == truth, s"blocked search must equal brute force: missing ${truth -- got}, extra ${got -- truth}")
  }

  test("simhashComboFrame: 56 rows per id; agreeing pair collides exactly where >= 5 blocks match") {
    // two hand-built sketches differing ONLY in block 7 (bits 49-55):
    // every combo avoiding block 7 (C(7,5)=21 of the 56) must collide,
    // every combo containing it must not.
    val a = 0x00AABBCCDDEE11L
    val diff = a ^ (0x55L << 49)
    val sigs = Seq((1L, a), (2L, diff)).toDF("id", "sk")
    val banded = Dedup.simhashComboFrame(sigs, 56, 8, 3)
    assert(banded.count() == 2 * 56)
    val collisions = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
        col("x.id") < col("y.id")).count()
    assert(collisions == 21, s"expected C(7,5)=21 colliding bands, got $collisions")
  }

  test("simhashPairsBlocked: rejects geometry voiding pigeonhole or overflowing the packed key") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairsBlocked(docs, "doc_id", "text", bits = 56, blocks = 3, maxHamming = 3)
    }
    intercept[IllegalArgumentException] {
      // 16-bit blocks x 5-block combos = 80-bit packed key
      Dedup.simhashComboFrame(Seq((1L, 1L)).toDF("id", "sk"), 128, 8, 3)
    }
  }

  test("spanDedup: cuts every non-canonical occurrence, keeps the first, every doc appears") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "zeta alpha beta gamma eta"), // shares span "alpha beta gamma" with 10
      (12L, "a b c x a b c"),             // in-doc repeat at starts 0 and 4
      (13L, "one two"),                   // shorter than k: no spans, never cut
      (14L, "")                           // zero tokens
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, "doc_id", "text", 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3), r.getString(4)))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L, 14L))
    // doc 10 holds the canonical copy of the shared span: untouched
    assert(out(10L) == ((5L, 0L, 0.0, "alpha beta gamma delta epsilon")))
    // doc 11's occurrence at start 1 loses to (10, 0): positions 1..3 cut
    assert(out(11L) == ((5L, 3L, 0.6, "zeta eta")))
    // in-doc repeat: first occurrence survives, second (start 4) is cut
    assert(out(12L) == ((7L, 3L, 0.428571, "a b c x")))
    assert(out(13L) == ((2L, 0L, 0.0, "one two")))
    assert(out(14L) == ((0L, 0L, null, "")))
  }

  test("spanDedup: a whole duplicate doc loses all its text to the canonical copy") {
    val corpus = Seq(
      (20L, "p q r s"),
      (21L, "p q r s") // every k-span duplicated; overlapping cuts cover all
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, "doc_id", "text", 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    assert(out(20L) == ((0L, 0.0, "p q r s")))
    assert(out(21L) == ((4L, 1.0, "")))
  }

  test("spanDedup: rejects k < 2") {
    intercept[IllegalArgumentException] {
      Dedup.spanDedup(docs, "doc_id", "text", 1)
    }
  }
}
