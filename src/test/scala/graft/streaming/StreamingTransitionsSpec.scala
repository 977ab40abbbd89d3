package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class StreamingTransitionsSpec extends SparkTestBase {
  import spark.implicits._

  test("batch twin: (from, to) counts equal the registered q59 matrix on real data") {
    val dir = "/root/testdata/sf0.001"
    val typed = graft.sources.Tables.events(spark, dir).select(
      col("user_id").as("userId"), col("event_id").as("eventId"),
      col("event_type").as("eventType"), expr("ts DIV 1000").as("tsUs"))
      .as[TransitionEvent]
    val machine = StreamingTransitions.transitions(typed).toDF()
      .groupBy("from_type", "to_type").count()
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val q59 = graft.CoreQueries.transitions(spark, dir)
      .select("from_type", "to_type", "n").as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(machine == q59, "stage machine pairs must equal the lead-window pairs")
  }

  test("streaming: in-order arrival emits the batch pairs; a late event drops") {
    implicit val ctx = spark.sqlContext
    val T0 = 1700000000000000L
    val ms = MemoryStream[TransitionEvent]
    val query = StreamingTransitions.transitions(ms.toDS())
      .writeStream.format("memory").queryName("trans_sink").outputMode("append")
      .start()
    try {
      ms.addData(
        TransitionEvent(1L, 1L, "a", T0),
        TransitionEvent(1L, 2L, "b", T0 + 10))
      query.processAllAvailable()
      var got = spark.table("trans_sink").as[Transition].collect().toSet
      assert(got == Set(Transition(1L, "a", "b", T0 + 10)))
      // next trigger: one in-order event and one LATE event (before the
      // carried last event) — the late one must drop, not retro-pair
      ms.addData(
        TransitionEvent(1L, 3L, "c", T0 + 20),
        TransitionEvent(1L, 4L, "x", T0 + 5))
      query.processAllAvailable()
      got = spark.table("trans_sink").as[Transition].collect().toSet
      assert(got == Set(
        Transition(1L, "a", "b", T0 + 10),
        Transition(1L, "b", "c", T0 + 20)),
        s"late event must not emit or reorder: $got")
    } finally query.stop()
  }
}
