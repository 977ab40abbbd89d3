package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class StreamingDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val T0 = 1700000000000000000L // ns
  private val HourNs = 3600L * 1000000000L

  test("streaming: duplicates within the watermark horizon drop; first arrival wins") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val events = ms.toDS().toDF("ts", "k")
    val deduped = StreamingDedup.dedupStream(events, "ts", Seq("k"), "1 hour")
    assert(deduped.columns.toSeq == events.columns.toSeq,
      "every input column survives and no helper column leaks")
    val query = deduped
      .select("k")
      .writeStream.format("memory").queryName("dedup_sink").outputMode("append")
      .start()
    try {
      ms.addData((T0, "a"), (T0 + 1000L, "a"), (T0 + 2000L, "b"))
      query.processAllAvailable()
      ms.addData((T0 + 3000L, "a")) // still within horizon: drops
      query.processAllAvailable()
      val emitted = spark.table("dedup_sink").as[String].collect().toSeq
      assert(emitted.sorted == Seq("a", "b"),
        s"expected one emission per key, got $emitted")
    } finally query.stop()
  }

  test("streaming: state evicts past the watermark, so an old key re-emits (bounded-state trade)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val events = ms.toDS().toDF("ts", "k")
    val query = StreamingDedup.dedupStream(events, "ts", Seq("k"), "1 hour")
      .select("k")
      .writeStream.format("memory").queryName("dedup_evict_sink").outputMode("append")
      .start()
    try {
      ms.addData((T0, "a"))
      query.processAllAvailable()
      // advance event time far past the horizon: key "a"'s state evicts
      ms.addData((T0 + 48 * HourNs, "z"))
      query.processAllAvailable()
      ms.addData((T0 + 48 * HourNs + 1000L, "a"))
      query.processAllAvailable()
      val emitted = spark.table("dedup_evict_sink").as[String].collect().toSeq
      assert(emitted.count(_ == "a") == 2,
        s"evicted key must re-emit after the horizon (bounded state), got $emitted")
    } finally query.stop()
  }

  test("batch twin: full first-arrival rows, same schema as the input") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val out = StreamingDedup.dedupBatch(events, "ts", Seq("user_id", "event_type"))
    // drop-in twin contract: every input column survives
    assert(out.columns.toSeq == events.columns.toSeq)
    assert(out.count() ==
      events.select("user_id", "event_type").distinct().count())
    val mins = events.groupBy("user_id", "event_type").agg(min("ts").as("m"))
    assert(out.join(mins, Seq("user_id", "event_type"))
      .filter(col("ts") =!= col("m")).count() == 0)
  }

  test("firstArrivalTimes: keys + min ts only (the decision form)") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val times = StreamingDedup.firstArrivalTimes(events, "ts", Seq("user_id", "event_type"))
    assert(times.columns.toSeq == Seq("user_id", "event_type", "ts"))
    val full = StreamingDedup.dedupBatch(events, "ts", Seq("user_id", "event_type"))
    assert(times.except(full.select("user_id", "event_type", "ts")).count() == 0)
  }
}
