package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class StreamingFunnelSpec extends SparkTestBase {
  import spark.implicits._

  private val stages = Seq("signup", "view", "purchase")

  test("batch twin: per-stage user counts equal the window-based funnel report") {
    val dir = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.events(spark, dir)
    val typed = events.select(
      col("user_id").as("userId"), col("event_type").as("eventType"),
      expr("ts DIV 1000").as("tsUs")).as[FunnelEvent]
    val advances = StreamingFunnel.funnel(typed, stages).toDF()
    val machineCounts = stages.indices.map(i =>
      advances.filter(col("stage_idx") === i).count())
    val report = graft.CoreQueries.funnel(spark, dir)
      .select("n_signup", "n_view", "n_purchase")
      .as[(Long, Long, Long)].head()
    assert(machineCounts == Seq(report._1, report._2, report._3),
      s"stage machine $machineCounts vs window report $report")
  }

  test("streaming: advancements emit as they happen across micro-batches") {
    implicit val ctx = spark.sqlContext
    val T0 = 1700000000000000L
    val ms = MemoryStream[FunnelEvent]
    val query = StreamingFunnel.funnel(ms.toDS(), stages)
      .writeStream.format("memory").queryName("funnel_sink").outputMode("append")
      .start()
    try {
      // view BEFORE signup must not count; signup advances stage 0
      ms.addData(FunnelEvent(1L, "view", T0 - 5), FunnelEvent(1L, "signup", T0))
      query.processAllAvailable()
      var got = spark.table("funnel_sink").as[StageAdvance].collect().toSet
      assert(got == Set(StageAdvance(1L, 0, "signup", T0)))
      // same-time view ties the signup: strict > excludes; later view counts
      ms.addData(FunnelEvent(1L, "view", T0), FunnelEvent(1L, "view", T0 + 10),
        FunnelEvent(1L, "purchase", T0 + 20))
      query.processAllAvailable()
      got = spark.table("funnel_sink").as[StageAdvance].collect().toSet
      assert(got == Set(
        StageAdvance(1L, 0, "signup", T0),
        StageAdvance(1L, 1, "view", T0 + 10),
        StageAdvance(1L, 2, "purchase", T0 + 20)))
    } finally query.stop()
  }

  test("streaming is conservative: a cross-batch regression never advances, batch mode does") {
    implicit val ctx = spark.sqlContext
    val T0 = 1700000000000000L
    val ms = MemoryStream[FunnelEvent]
    val query = StreamingFunnel.funnel(ms.toDS(), stages)
      .writeStream.format("memory").queryName("funnel_cons_sink").outputMode("append")
      .start()
    try {
      // purchase arrives before any view has been seen: discarded
      ms.addData(FunnelEvent(2L, "signup", T0), FunnelEvent(2L, "purchase", T0 + 30))
      query.processAllAvailable()
      // the view that would have unlocked it arrives in a LATER batch
      ms.addData(FunnelEvent(2L, "view", T0 + 10))
      query.processAllAvailable()
      val got = spark.table("funnel_cons_sink").as[StageAdvance].collect().toSet
      assert(got == Set(
        StageAdvance(2L, 0, "signup", T0),
        StageAdvance(2L, 1, "view", T0 + 10)),
        "the discarded purchase must NOT be replayed (bounded state)")
      // batch mode, seeing everything in event-time order, does convert
      val batch = StreamingFunnel.funnel(Seq(
        FunnelEvent(2L, "signup", T0), FunnelEvent(2L, "purchase", T0 + 30),
        FunnelEvent(2L, "view", T0 + 10)).toDS(), stages).collect().toSet
      assert(batch.exists(a => a.stage_idx == 2),
        "batch twin converts the same events")
    } finally query.stop()
  }
}
