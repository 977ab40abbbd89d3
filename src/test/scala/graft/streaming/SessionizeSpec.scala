package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SessionizeSpec extends SparkTestBase {
  import spark.implicits._

  private val T0 = 1700000000000000000L // ns
  private val HourNs = 3600L * 1000000000L
  private val GapNs = 6 * HourNs

  test("batch: inclusive boundary — exactly prev+gap merges, gap+1us splits") {
    val events = Seq(
      (T0, 1L),
      (T0 + GapNs, 1L), // exactly the gap -> still the SAME session (inclusive)
      (T0 + 2 * GapNs + 1000000, 1L), // gap + 1us after previous -> NEW session
      (T0, 2L)
    ).toDF("ts", "user_id")
    val out = Sessionize.sessions(events, "6 hours")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, T0 / 1000, (T0 + GapNs) / 1000, 2L),
      (1L, (T0 + 2 * GapNs + 1000000) / 1000, (T0 + 2 * GapNs + 1000000) / 1000, 1L),
      (2L, T0 / 1000, T0 / 1000, 1L)))
  }

  test("streaming: session closes and emits once the watermark passes it") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val events = ms.toDS().toDF("ts", "user_id")
    val query = Sessionize.sessions(events, "6 hours", "1 hour")
      .writeStream.format("memory").queryName("sessions_sink").outputMode("append")
      .start()
    try {
      ms.addData((T0, 1L), (T0 + HourNs, 1L)) // one open session
      query.processAllAvailable()
      // far-future event advances the watermark past session 1's close
      ms.addData((T0 + 48 * HourNs, 1L))
      query.processAllAvailable()
      val emitted = spark.table("sessions_sink")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(emitted == Set((1L, T0 / 1000, (T0 + HourNs) / 1000, 2L)),
        "closed session must emit exactly once in append mode")
    } finally query.stop()
  }

  test("batch on real events table: sessions partition each user's history") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val sessions = Sessionize.sessions(events, "6 hours").cache()
    val perUser = sessions.groupBy("user_id").agg(sum("n_events").as("n"))
    val source = events.groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(perUser.join(source, "user_id")
      .filter(perUser("n") =!= source("n")).count() == 0,
      "every event lands in exactly one session")
    assert(sessions.filter(col("last_us") < col("first_us")).count() == 0)
  }
}
