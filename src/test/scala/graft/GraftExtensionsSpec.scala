package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runs every entry of [[GraftExtensions.natives]]: its registration, its
  * argument validation, and its interpreted path (`nullSafeEval`/`eval`)
  * against its generated code over edge rows.
  */
class GraftExtensionsSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("x", ArrayType(DoubleType)), StructField("y", ArrayType(DoubleType)),
    StructField("sx", ArrayType(LongType)), StructField("sy", ArrayType(LongType)),
    StructField("pcodes", ArrayType(LongType)),
    StructField("lut", ArrayType(LongType)), StructField("js", StringType),
    StructField("toks", ArrayType(StringType)), StructField("starts", ArrayType(IntegerType)),
    StructField("txt", StringType)))

  // pq geometry: 2 subspaces over a 4-entry lut, so k = 2; a packed word
  // holds code m in bits 8m..8m+7
  private val rows = Seq(
    Row(0, Seq(1.0, 2.0), Seq(2.0, 1.0), Seq(5L, 3L), Seq(6L, 3L), Seq(1L),
      Seq(10L, 20L, 30L, 40L), """{"a":1,"b":{"c":"x","d":2}}""",
      Seq("a", "b", "a", "c", "d"), Seq(0, 3), "Cafe\u0301"),
    // null arrays and strings
    Row(1, null, null, null, null, null, null, null, null, null, null),
    // null elements
    Row(2, Seq(1.0, null), Seq(null, 1.0), Seq(5L, null), Seq(null, 3L), Seq(null),
      Seq(10L, null, 30L, 40L), """{"a":null,"b":[]}""",
      Seq("a", null, "b"), Seq(null, 1), ""),
    // length mismatch
    Row(3, Seq(1.0), Seq(1.0, 2.0), Seq(1L), Seq(1L, 2L), Seq(1L, 2L),
      Seq(10L, 20L, 30L), "not json", Seq.empty[String], Seq(5), "x"),
    // zero norm and empty arrays
    Row(4, Seq(0.0, 0.0), Seq(0.0, 0.0), Seq.empty[Long], Seq.empty[Long], Seq.empty[Long],
      Seq.empty[Long], "{}", Seq("x"), Seq.empty[Int], "\u212b"),
    // out-of-range code: packed field 3 >= k
    Row(5, Seq(-1.0, 3.0), Seq(2.0, 2.0), Seq(-1L), Seq(0L), Seq(0x300L),
      Seq(10L, 20L, 30L, 40L), """{"b":{"c":1}}""", Seq("a", "a"), Seq(0, 0), "a"),
    Row(6, Seq(1.0, 1.0), Seq(1.0, 1.0), Seq(0L, 0L), Seq(0L, 0L), Seq(0x101L),
      Seq(10L, 20L, 30L, 40L), null, Seq("b"), Seq(1), null))

  /** Non-foldable: the optimizer cannot evaluate the calls ahead of the
    * plan (a local relation would be folded by ConvertToLocalRelation).
    */
  private lazy val edges: DataFrame =
    spark.createDataFrame(java.util.List.of(rows: _*), schema).repartition(2)

  private lazy val bloom: Array[Byte] =
    edges.filter(col("id") < 3)
      .agg(call_function("bloom_agg", xxhash64(col("id")), lit(10L), lit(1024L)))
      .head().getAs[Array[Byte]](0)

  /** A valid call of every native over [[edges]]. */
  private lazy val args: Map[String, Seq[Column]] = Map(
    "cosine_sim" -> Seq(col("x"), col("y")),
    "hamming_sig" -> Seq(col("sx"), col("sy")),
    "json_shred" -> Seq(col("js"), lit(true), lit("a,b.c,b.d"), lit("b")),
    "word_hits" -> Seq(col("toks"), lit("a,c")),
    "minhash_sigs" -> Seq(col("toks"), lit(3)),
    "winnow_fps" -> Seq(col("toks"), lit(2), lit(2)),
    "simhash_md5" -> Seq(col("toks"), lit(16)),
    "cut_spans" -> Seq(col("toks"), col("starts"), lit(2)),
    "bloom_agg" -> Seq(xxhash64(col("id")), lit(10L), lit(1024L)),
    "bloom_probe" -> Seq(lit(bloom), xxhash64(col("id"))),
    "lsh_buckets" -> Seq(col("x"), lit(Array(5L, 3L, 6L, 1L)), lit(2), lit(2)),
    "pq_adc_packed" -> Seq(col("pcodes"), col("lut"), lit(2)),
    "nfc_norm" -> Seq(col("txt")))

  /** The arguments each native reads as a literal, by position. */
  private val literalArgs: Map[String, Seq[(Int, String)]] = Map(
    "json_shred" -> Seq(1 -> "wantKeys", 2 -> "fields", 3 -> "nestedKeys"),
    "word_hits" -> Seq(1 -> "words"),
    "minhash_sigs" -> Seq(1 -> "numHashes"),
    "winnow_fps" -> Seq(1 -> "k", 2 -> "w"),
    "simhash_md5" -> Seq(1 -> "bits"),
    "cut_spans" -> Seq(2 -> "k"),
    "lsh_buckets" -> Seq(1 -> "planeBits", 2 -> "np", 3 -> "dims"))

  /** The messages along a failure's cause chain. */
  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  private def assertRejected(name: String, a: Seq[Column], words: String*): Unit = {
    val e = intercept[Exception](edges.select(call_function(name, a: _*)).queryExecution.assertAnalyzed())
    assert(messages(e).exists(m => words.forall(m.contains)),
      s"$name: expected a failure naming ${words.mkString(", ")}, got ${messages(e)}")
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("every native resolves with its declared class and usage") {
    assert(GraftExtensions.natives.map(_.name).toSet == Set("cosine_sim", "hamming_sig",
      "json_shred", "word_hits", "minhash_sigs", "winnow_fps", "simhash_md5", "cut_spans",
      "bloom_agg", "bloom_probe", "lsh_buckets", "pq_adc_packed", "nfc_norm") &&
      GraftExtensions.natives.size == 13)
    GraftExtensions.natives.foreach { n =>
      val f = spark.catalog.getFunction(n.name)
      assert(f.className == n.cls.getName && f.description == n.usage, n.name)
    }
    // the packed layout's usage text states the kernel's own field count
    assert(spark.catalog.getFunction("pq_adc_packed").description
      .contains(s"8-bit code fields, ${graft.functions.PqAdcPacked.FieldsPerWord} per 64-bit word"))
    assert(graft.functions.PqAdcPacked.FieldsPerWord == 6)
  }

  test("every call_function literal in the engine sources names a registered native") {
    // a call to an unregistered name fails only when its query runs
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val call = """call_function\("([^"]+)"""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val called = files.flatMap(f => call.findAllMatchIn(Files.readString(f)).map(m => f.getFileName -> m.group(1)))
    assert(called.nonEmpty, "no call_function literal found under src/main/scala")
    val names = GraftExtensions.natives.map(_.name).toSet
    val unknown = called.filterNot(c => names.contains(c._2))
    assert(unknown.isEmpty, s"call_function names no registered native: $unknown")
  }

  test("every native rejects an extra argument and a column where a literal is required") {
    assert(args.keySet == GraftExtensions.natives.map(_.name).toSet)
    assert(literalArgs.keySet.subsetOf(args.keySet))
    GraftExtensions.natives.foreach { n =>
      val valid = args(n.name)
      assert(valid.size == n.arity, n.name)
      assertRejected(n.name, valid :+ lit(1), n.name, s"exactly ${n.arity} argument")
      literalArgs.getOrElse(n.name, Nil).foreach { case (i, arg) =>
        assertRejected(n.name, valid.updated(i, col("id")), n.name, arg, "literal")
      }
    }
  }

  test("every scalar native's interpreted path equals its generated code on edge rows") {
    val scalar = GraftExtensions.natives
      .filterNot(n => classOf[AggregateFunction].isAssignableFrom(n.cls)).map(_.name)
    assert(scalar.size == 12)
    def run(): Seq[Row] =
      edges.select(col("id") +: scalar.map(n => call_function(n, args(n): _*).as(n)): _*)
        .collect().sortBy(_.getInt(0)).toSeq
    val generated = run()
    val interpreted = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(generated.size == rows.size)
    scalar.foreach { n =>
      assert(generated.map(_.getAs[Any](n)) == interpreted.map(_.getAs[Any](n)), n)
    }
  }
}
