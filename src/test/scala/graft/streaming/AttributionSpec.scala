package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class AttributionSpec extends SparkTestBase {
  import spark.implicits._

  private val T0 = 1700000000000000000L // ns
  private val MinNs = 60L * 1000000000L
  private def us(tsNs: Long): Long = tsNs / 1000

  test("batch: clicks attribute to preceding same-user views inside the window only") {
    val events = Seq(
      (T0, "u1", "view"),
      (T0 + 10 * MinNs, "u1", "click"),  // inside 1h: attributed
      (T0 + 90 * MinNs, "u1", "click"),  // outside 1h: not attributed
      (T0, "u2", "click"),               // simultaneous with no prior view
      (T0 + 5 * MinNs, "u2", "view"),    // view AFTER the click: no pair
      (T0 + 20 * MinNs, "u3", "view")    // view with no click at all
    ).toDF("ts", "user_id", "event_type")
    val out = Attribution.attribution(events, events, "1 hour")
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(("u1", us(T0), us(T0 + 10 * MinNs))))
  }

  test("asOf: each click takes only its LATEST preceding in-window view") {
    val events = Seq(
      (T0, "u1", "view"),
      (T0 + 5 * MinNs, "u1", "view"),    // later view: the as-of winner
      (T0 + 10 * MinNs, "u1", "click"),  // both views in window: latest wins
      (T0 + 70 * MinNs, "u1", "click")   // 65min after the last view: NO match
    ).toDF("ts", "user_id", "event_type")
    val out = Attribution.asOfBatch(events, "1 hour")
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(
      ("u1", us(T0 + 10 * MinNs), us(T0 + 5 * MinNs))))
  }

  test("stream-stream: watermarked interval join emits the in-window pair") {
    implicit val ctx = spark.sqlContext
    val vs = MemoryStream[(Long, String, String)]
    val cs = MemoryStream[(Long, String, String)]
    val query = Attribution.attribution(
        vs.toDS().toDF("ts", "user_id", "event_type"),
        cs.toDS().toDF("ts", "user_id", "event_type"),
        "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("attr_sink").outputMode("append")
      .start()
    try {
      vs.addData((T0, "u1", "view"))
      cs.addData((T0 + 10 * MinNs, "u1", "click"),
        (T0 + 90 * MinNs, "u1", "click"))
      query.processAllAvailable()
      // advance both watermarks so the inner-join results finalize
      vs.addData((T0 + 300 * MinNs, "zz", "view"))
      cs.addData((T0 + 300 * MinNs, "zz", "click"))
      query.processAllAvailable()
      val emitted = spark.table("attr_sink")
        .as[(String, Long, Long)].collect().toSet
      assert(emitted == Set(("u1", us(T0), us(T0 + 10 * MinNs))),
        s"only the in-window pair may emit: $emitted")
    } finally query.stop()
  }

  test("batch plan: range join rides the user_id equi key, no cartesian") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val df = Attribution.attribution(events, events)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"range join must use the equi key:\n$p")
    // oracle-style sanity: every pair is same-user, ordered, within bound
    val rows = df.as[(String, Long, Long)].collect()
    assert(rows.forall(r => r._3 > r._2 && r._3 <= r._2 + 3600000000L))
  }
}
