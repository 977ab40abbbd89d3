package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class KeyPresenceSpec extends SparkTestBase {
  import spark.implicits._

  test("anyKeyPresent: empty identifier list is false (guards the reference's match-everything regex)") {
    val df = Seq(("""{"x": 1}""", "y")).toDF("a", "b")
    val out = df.select(
      KeyPresence.anyKeyPresent(Seq(col("a"), col("b")), Seq.empty).as("f"))
    assert(out.collect()(0).getBoolean(0) == false)
  }

  test("anyKeyPresent: unanchored substring semantics — org_id matches org_id_legacy (SURVEY 2.11(3))") {
    val df = Seq(("""{"org_id_legacy": "z"}""", 1)).toDF("a", "n")
    val out = df.select(
      KeyPresence.anyKeyPresent(Seq(col("a")), Seq("org_id")).as("f"))
    assert(out.collect()(0).getBoolean(0) == true)
  }

  test("anyKeyPresent: null payload follows three-valued OR like the reference") {
    val df = Seq((null.asInstanceOf[String], """{"org_id": 1}""")).toDF("a", "b")
    // null rlike p OR true  => true
    val t = df.select(KeyPresence.anyKeyPresent(Seq(col("a"), col("b")), Seq("org_id")).as("f"))
    assert(t.collect()(0).getBoolean(0) == true)
    // null rlike p OR false => null
    val n = df.select(KeyPresence.anyKeyPresent(Seq(col("a")), Seq("org_id")).as("f"))
    assert(n.collect()(0).isNullAt(0))
  }

  test("keyCounts: counts per (key, event) joined with per-event totals from one projection") {
    val df = Seq(
      ("click", Seq("a", "b")),
      ("click", Seq("a")),
      ("view", Seq.empty[String]),
      ("view", null.asInstanceOf[Seq[String]])
    ).toDF("event_name", "keys")
    val out = KeyPresence.keyCounts(df, col("keys"), "event_name", reuse = false)
      .as[(String, String, Long, Long)].collect().toSet
    // explode drops empty/null arrays from counts, totals keep all rows
    assert(out == Set(("click", "a", 2L, 2L), ("click", "b", 1L, 2L)))
  }
}
