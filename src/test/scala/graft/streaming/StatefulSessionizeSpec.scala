package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class StatefulSessionizeSpec extends SparkTestBase {
  import spark.implicits._

  private val GapUs = 6L * 3600 * 1000000

  test("batch: flatMapGroups sessionizer is output-identical to session_window") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val typed = events.select(
      col("user_id").as("userId"), expr("ts DIV 1000").as("tsUs")).as[SessionEvent]
    val stateful = StatefulSessionize.sessionizeBatch(typed, GapUs).toDF()
    val declarative = Sessionize.sessions(events, "6 hours")
    assert(stateful.exceptAll(declarative).count() == 0)
    assert(declarative.exceptAll(stateful).count() == 0)
  }

  test("streaming: sessions close when a later event arrives beyond the gap") {
    implicit val ctx = spark.sqlContext
    val T0 = 1700000000000000L // us
    val ms = MemoryStream[SessionEvent]
    val query = StatefulSessionize.sessionize(ms.toDS(), GapUs)
      .writeStream.format("memory").queryName("stateful_sink").outputMode("append")
      .start()
    try {
      ms.addData(SessionEvent(1L, T0), SessionEvent(1L, T0 + GapUs)) // inclusive merge
      query.processAllAvailable()
      assert(spark.table("stateful_sink").count() == 0, "session still open")
      ms.addData(SessionEvent(1L, T0 + 3 * GapUs)) // beyond gap -> closes session 1
      query.processAllAvailable()
      val emitted = spark.table("stateful_sink")
        .as[ClosedSession].collect().toSet
      assert(emitted == Set(ClosedSession(1L, T0, T0 + GapUs, 2L)))
    } finally query.stop()
  }
}
