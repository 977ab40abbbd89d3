package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class JsonKeysSpec extends SparkTestBase {
  import spark.implicits._

  private val payloads = Seq(
    // (id, context, traits, properties)
    (1L, """{"a": 1, "b": {"x": 2}}""", """{"t1": "v"}""", """{"p1": 1, "meta_data": {"m1": 2}}"""),
    (2L, "not-json", null, """{"p2": ""}"""),
    (3L, """{"traits": {"n1": 1}}""", """{}""", null)
  ).toDF("id", "context", "traits", "properties")

  test("keysOf: top-level keys; null on malformed or null input") {
    val out = payloads.select(JsonKeys.keysOf(col("context")).as("k")).collect()
    assert(out(0).getSeq[String](0) == Seq("a", "b"))
    assert(out(1).isNullAt(0))
  }

  test("nestedKeysOf: keys of a carved-out sub-object, null when path absent") {
    val out = payloads
      .select(JsonKeys.nestedKeysOf(col("context"), "$.traits").as("k"))
      .collect()
    assert(out(0).isNullAt(0))
    assert(out(2).getSeq[String](0) == Seq("n1"))
  }

  test("allKeys: 5-extractor union-distinct in one scan") {
    val keys = JsonKeys.allKeys(payloads, JsonKeys.catalogKeyExtractors())
      .as[String].collect().toSet
    assert(keys == Set("a", "b", "t1", "p1", "meta_data", "m1", "traits", "n1", "p2"))
  }

  test("allKeys: empty extractor list yields an empty frame, not an analysis error") {
    assert(JsonKeys.allKeys(payloads, Seq.empty).count() == 0)
  }

  test("mergedKeys strict (parity): null payload key-array nulls the whole row") {
    val merged = payloads.select(JsonKeys.mergedKeys(
      lit(true), lit(false),
      array_distinct(JsonKeys.keysOf(col("properties"))),
      array_distinct(JsonKeys.keysOf(col("context")))).as("mk"))
    val rows = merged.collect()
    assert(rows(0).getSeq[String](0).toSet == Set("org_id", "p1", "meta_data", "a", "b"))
    assert(rows(1).isNullAt(0), "malformed context must null-propagate (event_verify.py:92)")
    assert(rows(2).isNullAt(0), "null properties must null-propagate")
  }

  test("flag false keeps flag keys out; duplicates across payloads dedup") {
    val df = Seq((1L, """{"k": 1}""", """{"k": 2}""")).toDF("id", "a", "b")
    val out = df.select(JsonKeys.mergedKeys(
      lit(false), lit(false),
      JsonKeys.keysOf(col("a")), JsonKeys.keysOf(col("b"))).as("mk"))
    assert(out.collect()(0).getSeq[String](0) == Seq("k"))
  }
}
