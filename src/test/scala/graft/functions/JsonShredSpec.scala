package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.SparkTestBase
import graft.fixtures.EventCatalogFixture
import graft.operators.{Completeness, JsonKeys, PayloadShred}

/** Parity of the single-parse [[JsonShred]] expression against the built-in
  * `json_object_keys` / `get_json_object` / `json_tuple` forms it replaces —
  * on targeted edge payloads and on the full synthesized catalog fixture.
  */
class JsonShredSpec extends SparkTestBase {

  import spark.implicits._

  private def shredded(payloads: Seq[String]) =
    payloads.toDF("j").select(
      col("j"),
      PayloadShred.shred(col("j"), topKeys = true,
        Seq("a", "b.c", "app.version"), Seq("b")).as("s"))

  test("keys/field/nested-keys parity with built-ins on edge payloads") {
    val payloads = Seq(
      """{"a": 1, "b": {"c": "x", "d": 2}, "z": [1, 2]}""",
      """{"a": "", "b": {"c": null}}""",
      """{"a": null, "b": "scalar-not-object"}""",
      """{"b": {"c": {"deep": true}}, "a": {"obj": 1}}""",
      """{"app": {"version": "2.1"}}""",
      """{"z": 9}""",
      """{}""",
      """not-json""",
      """"just-a-string"""",
      """[1, 2, 3]""",
      """123""",
      null
    )
    val got = shredded(payloads).select(
      col("s").getField("keys"),
      col("s").getField("f_a"),
      col("s").getField("f_b__c"),
      col("s").getField("f_app__version"),
      col("s").getField("nk_b"))
    val want = payloads.toDF("j").select(
      json_object_keys(col("j")),
      get_json_object(col("j"), "$.a"),
      get_json_object(col("j"), "$.b.c"),
      get_json_object(col("j"), "$.app.version"),
      json_object_keys(get_json_object(col("j"), "$.b")))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("scalar capture matches json_tuple token text (numbers, bools)") {
    val rows = shredded(Seq("""{"a": 1.50, "b": {"c": true}}"""))
      .select(col("s").getField("f_a"), col("s").getField("f_b__c"))
      .collect()
    assert(rows.head == Row("1.50", "true"))
  }

  test("raw JSON capture for container values is compact (json_tuple shape)") {
    val df = Seq("""{"a": { "x" : [ 1 , "y" ] } }""").toDF("j")
    val got = df.select(
      PayloadShred.shred(col("j"), topKeys = false, Seq("a"), Nil).getField("f_a"))
    val want = df.select(json_tuple(col("j"), "a"))
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(got.collect().head.getString(0) == """{"x":[1,"y"]}""")
  }

  test("duplicate top-level keys: keys kept, first value wins") {
    val df = Seq("""{"a": "first", "a": "second"}""").toDF("j")
    val s = PayloadShred.shred(col("j"), topKeys = true, Seq("a"), Nil)
    val row = df.select(s.getField("keys"), s.getField("f_a")).collect().head
    assert(row.getSeq[String](0) == Seq("a", "a")) // json_object_keys keeps dups
    assert(row.getString(1) == "first") // get_json_object streaming first-match
  }

  test("key extractors match JsonKeys.catalogKeyExtractors on the catalog fixture") {
    val cat = EventCatalogFixture.catalogDf(spark, "/root/testdata/sf0.001")
    val legacy = JsonKeys.allKeysBy(cat, JsonKeys.catalogKeyExtractors(), Seq("client_name"))
    val shred = JsonKeys.allKeysBy(
      PayloadShred.withShreds(cat), PayloadShred.keyExtractors, Seq("client_name"))
    assert(
      shred.orderBy("client_name", "key").collect().toSeq ==
        legacy.orderBy("client_name", "key").collect().toSeq)
  }

  test("value columns match Completeness.withValueColumns on the catalog fixture") {
    val props = Seq("user_id", "k", "org_id", "project_id", "extra_key")
    val cat = EventCatalogFixture.catalogDf(spark, "/root/testdata/sf0.001")
      .withColumn("rid", monotonically_increasing_id())
    val parity = Completeness.withValueColumns(cat, props, Seq("rid"))
    val shred = PayloadShred.withValueColumns(
      PayloadShred.withShreds(cat, PayloadShred.genericProps(props)),
      props, Seq("rid"))
    assert(shred.orderBy("rid").collect().toSeq == parity.orderBy("rid").collect().toSeq)
  }

  test("merged-keys null propagation is identical through shred structs") {
    val cat = EventCatalogFixture.catalogDf(spark, "/root/testdata/sf0.001")
      .withColumn("rid", monotonically_increasing_id())
    val legacy = cat.select(col("rid"), JsonKeys.mergedKeys(
      lit(true), lit(false),
      array_distinct(JsonKeys.keysOf(col("properties"))),
      array_distinct(JsonKeys.keysOf(col("context")))).as("mk"))
    val viaShred = PayloadShred.withShreds(cat).select(col("rid"), JsonKeys.mergedKeys(
      lit(true), lit(false),
      array_distinct(PayloadShred.propertiesKeys),
      array_distinct(PayloadShred.contextKeys)).as("mk"))
    assert(
      viaShred.orderBy("rid").collect().toSeq == legacy.orderBy("rid").collect().toSeq)
  }

  test("whole-stage codegen handles the shred struct (no CodegenFallback)") {
    // non-foldable input so the projection survives constant folding
    val df = spark.range(10)
      .select(concat(lit("""{"a": """), col("id"), lit("}")).as("j"))
      .select(PayloadShred.shred(col("j"), topKeys = true, Seq("a"), Nil).as("s"))
      .select(col("s").getField("keys").as("k"), col("s").getField("f_a").as("a"))
    // '*(n)' prefixes mark WholeStageCodegen stages in the plan rendering;
    // the json_shred projection must carry one (a CodegenFallback would not)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("json_shred") && l.trim.startsWith("+- *(")),
      s"json_shred projection not inside a WholeStageCodegen stage:\n$plan")
    // and it actually executes through the generated path
    assert(df.collect().map(_.getString(1)).toSeq == (0 until 10).map(_.toString))
  }
}
