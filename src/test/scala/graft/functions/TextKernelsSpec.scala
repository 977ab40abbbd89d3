package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.llm.{Dedup, TextStats}

/** Pins the native [[WordHits]] / [[MinHashSignatures]] kernels to their
  * interpreted-HOF composable twins: output-identical on generated corpora
  * (including empty/null edge cases), so the oracle SQL written against the
  * composable semantics keeps holding for the native path.
  */
class TextKernelsSpec extends SparkTestBase {
  import spark.implicits._
  import TextStats.tokens

  private val emptyStringArray: Column = array().cast(ArrayType(StringType))

  /** The interpreted-HOF twin of [[TextStats.wordHits]]: the reference
    * the kernel is compared against.
    */
  private def wordHitsComposable(toks: Column, words: Seq[String]): Column = {
    val lits = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(lits, t)))
  }

  /** The interpreted-HOF twin of [[Dedup.withSignature]]: the reference
    * the kernel is compared against.
    */
  private def withSignatureComposable(shingled: DataFrame, numHashes: Int): DataFrame =
    (0 until numHashes).foldLeft(shingled) { (d, i) =>
      d.withColumn(s"sig$i", TextStats.minShingleHash(col("shingles"), i))
    }

  /** The interpreted-HOF twin of [[TextStats.winnowFingerprints]]: the
    * reference the kernel is compared against.
    */
  private def winnowFingerprintsComposable(text: Column, k: Int = 3, w: Int = 4): Column = {
    val toks = tokens(text)
    val grams =
      when(size(toks) === 0, emptyStringArray)
        .when(size(toks) < k, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(1), size(toks) - (k - 1)),
          i => concat_ws(" ", slice(toks, i, lit(k)))))
    val hashes = transform(grams, g => md5(g))
    when(size(hashes) === 0, emptyStringArray)
      .when(size(hashes) < w, array(array_min(hashes)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(hashes) - (w - 1)),
        j => array_min(slice(hashes, j, lit(w))))))
  }

  /** Interpreted-HOF twin of the native `cut_spans` kernel, the
    * spec-parity reference ([[graft.functions.CutSpans]] scaladoc
    * documents why the kernel exists): a position j is covered when any
    * start s has s <= j <= s+k-1; covered positions count as removed
    * (null token elements included), survivors re-join with `concat_ws`
    * (which skips null elements, like the kernel); either input array
    * null -> null. O(n*m) per row vs the kernel's sorted-starts O(n+m)
    * merge.
    */
  private def cutSpansComposable(toks: Column, starts: Column, k: Int): Column = {
    def covered(j: Column): Column =
      exists(starts, s => s.isNotNull && j >= s && j <= s + lit(k - 1))
    val kept = filter(toks, (_, j) => !covered(j))
    when(toks.isNotNull && starts.isNotNull, struct(
      (size(toks) - size(kept)).as("n_removed"),
      concat_ws(" ", kept).as("cleaned")))
  }

  private val wordGen = Gen.oneOf("the", "spark", "a", "of", "und", "la", "x9", "is")
  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 25)
    ws <- Gen.listOfN(n, wordGen)
  } yield ws.mkString(" ")

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  test("word_hits == size(filter(array_contains)) on generated texts + edges") {
    val texts = samples(textGen, 60) ++ Seq("", "   ", "the the the", null)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val toks = TextStats.tokens(col("text"))
    val rows = df.select(
      TextStats.wordHits(toks, TextStats.enStopwords).as("native"),
      wordHitsComposable(toks, TextStats.enStopwords).as("hof"))
      .collect()
    assert(rows.length == texts.length)
    rows.foreach { r => assert(r.get(0) == r.get(1), r.toString) }
  }

  test("word_hits counts occurrences, not distinct types; null array -> null") {
    val df = Seq(
      (1L, Seq("the", "the", "a", "zzz")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
    val out = df.select(col("id"),
      TextStats.wordHits(col("toks"), Seq("the", "a")).as("h"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(out(1L) == 3)
    assert(out(2L) == 0)
    assert(out(3L) == null)
  }

  test("word_hits skips null token elements (array_contains-null parity)") {
    val df = Seq(1L).toDF("id")
      .select(array(lit("the"), lit(null).cast("string"), lit("a")).as("toks"))
    val rows = df.select(
      TextStats.wordHits(col("toks"), Seq("the", "a")).as("native"),
      wordHitsComposable(col("toks"), Seq("the", "a")).as("hof"))
      .collect()
    assert(rows.head.getInt(0) == 2 && rows.head.getInt(1) == 2)
  }

  test("minhash_sigs == k sequential array_min(transform(md5)) passes") {
    val texts = samples(textGen, 40).filter(_.trim.nonEmpty)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val sh = Dedup.shingleFrame(df, "id", "text", 3)
    val k = 8
    val native = Dedup.withSignature(sh, k)
    val hof = withSignatureComposable(sh, k)
    val cols = col("id") +: (0 until k).map(i => col(s"sig$i"))
    val a = native.select(cols: _*).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val b = hof.select(cols: _*).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (id, sigs) => assert(sigs == b(id), s"id=$id") }
  }

  test("minhash_sigs on empty and null shingle arrays") {
    val df = Seq(1L, 2L).toDF("id").select(col("id"),
      when(col("id") === 1L, array().cast("array<string>")).as("shingles"))
    val rows = df.select(col("id"),
      call_function("minhash_sigs", col("shingles"), lit(4)).as("sigs"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(rows(1L) == Seq(null, null, null, null)) // array_min(empty) per seed
    assert(rows(2L) == null)                        // null array -> null
  }

  test("both registered as SQL functions via GraftExtensions") {
    val one = spark.sql(
      "SELECT word_hits(array('a','b','a'), 'a,c') AS h, " +
        "minhash_sigs(array('s1','s2'), 2) AS m").collect().head
    assert(one.getInt(0) == 2)
    assert(one.getSeq[String](1).length == 2)
  }

  test("winnow_fps == composable transform/slice/array_min chain on generated and edge texts") {
    import graft.llm.TextStats
    val texts = Seq(
      "", "   ", "one", "one two", "one two three",
      "one two three four five six seven eight nine ten",
      "a a a a a a a a a",   // constant grams: every window min identical
      "the quick brown fox jumps over the lazy dog the quick brown fox"
    ) ++ (0 until 20).map(i => (0 to (i * 7) % 23).map(j => s"w${(i + j) % 11}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select(col("id"),
      TextStats.winnowFingerprints(col("text"), 3, 4).as("native"),
      winnowFingerprintsComposable(col("text"), 3, 4).as("composable"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"kernel diverged from composable form for id=${r.getLong(0)}")
    }
    // null text: both null
    val nulls = Seq((1L, null: String)).toDF("id", "text").select(
      TextStats.winnowFingerprints(col("text"), 3, 4).as("n"),
      winnowFingerprintsComposable(col("text"), 3, 4).as("c")).collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("winnow_fps registered as SQL function") {
    val r = spark.sql(
      "SELECT winnow_fps(array('a','b','c','d','e','f','g','h'), 3, 4) AS f")
      .collect().head
    assert(r.getSeq[String](0).nonEmpty)
  }

  test("cut_spans == composable filter/exists twin on generated (tokens, starts)") {
    val k = 3
    val caseGen: Gen[(Seq[String], Seq[Int])] = for {
      n <- Gen.choose(0, 24)
      ws <- Gen.listOfN(n, wordGen)
      m <- Gen.choose(0, 8)
      ss <- Gen.listOfN(m, Gen.choose(0, math.max(n + 2, 1)))
    } yield (ws, ss.sorted) // kernel contract: starts sorted ascending
    val cases = samples(caseGen, 80) ++ Seq(
      (Seq.empty[String], Seq.empty[Int]),          // empty doc
      (Seq("a", "b"), Seq(0)),                      // span overhangs the end
      (Seq("a", "b", "c", "d", "e"), Seq(0, 1, 2)), // overlapping spans
      (Seq("a", "b", "c"), Seq(7)),                 // start past the end
      (Seq("a", "b", "c", "d"), Seq(0, 0)))         // duplicate starts
    val df = cases.zipWithIndex
      .map { case ((t, s), i) => (i.toLong, t, s) }.toDF("id", "toks", "starts")
    val rows = df.select(col("id"),
      call_function("cut_spans", col("toks"), col("starts"), lit(k)).as("native"),
      cutSpansComposable(col("toks"), col("starts"), k).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getStruct(1) == r.getStruct(2),
        s"kernel diverged from composable for id=${r.getLong(0)}: " +
          s"${r.getStruct(1)} vs ${r.getStruct(2)}")
    }
  }

  test("cut_spans null handling: null arrays -> null, null elements skipped") {
    val df = Seq(1L).toDF("id").select(
      array(lit("a"), lit(null).cast("string"), lit("c"), lit("d")).as("toks"),
      array(lit(null).cast("int"), lit(2)).as("starts"))
    val rows = df.select(
      call_function("cut_spans", col("toks"), col("starts"), lit(2)).as("native"),
      cutSpansComposable(col("toks"), col("starts"), 2).as("hof"))
      .collect().head
    // positions 2,3 covered; null token at 1 survives but never prints
    assert(rows.getStruct(0).getInt(0) == 2 && rows.getStruct(0).getString(1) == "a")
    assert(rows.getStruct(0) == rows.getStruct(1))
    val nulls = spark.sql(
      "SELECT cut_spans(CAST(NULL AS ARRAY<STRING>), array(0), 2) AS a, " +
        "cut_spans(array('x', 'y'), CAST(NULL AS ARRAY<INT>), 2) AS b")
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("simhash_md5 == composable md5-bit simhash at 16, 32 and 56 bits, incl. edges") {
    val texts = samples(textGen, 60) ++ Seq(
      "", "   ", "the the the", "x9 x9", "héllo wörld ünïcode", null)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (bits <- Seq(16, 32, 56)) {
      // past 32 positions the composable reference is the plane-aware
      // md5BitWide (identical to md5Bit on plane 0, so 16/32 double-cover)
      val rows = df.select(col("id"),
        Dedup.simhashMd5(col("text"), bits).as("native"),
        Dedup.simhash(col("text"), bits, Dedup.md5BitWide).as("hof")).collect()
      rows.foreach { r =>
        assert(r.getLong(1) == r.getLong(2),
          s"kernel diverged from composable at $bits bits for id=${r.getLong(0)}")
      }
    }
    // null token ELEMENTS contribute -1 per bit, like when(null).otherwise(-1)
    val withNullTok = spark.sql(
      "SELECT simhash_md5(array('a', CAST(NULL AS STRING)), 16) AS n").collect().head
    val composableNullTok = Seq(Tuple1(Seq("a", null: String))).toDF("toks")
      .select(org.apache.spark.sql.functions.aggregate(col("toks"), lit(0L),
        (acc, t) => acc + when(Dedup.md5Bit(t, 0), 1L).otherwise(-1L)).as("s0"))
      .collect().head.getLong(0)
    // spot-check bit 0 agreement through the packed value
    assert((withNullTok.getLong(0) & 1L) == (if (composableNullTok > 0) 1L else 0L))
  }
}
