package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class WindowedCountsSpec extends SparkTestBase {
  import spark.implicits._

  private val T0 = 1700000000000000000L // ns; NOT hour-aligned
  private val HourNs = 3600L * 1000000000L
  private val HourUs = 3600L * 1000000L

  private def bucketOf(tsNs: Long): Long = (tsNs / 1000) / HourUs * HourUs

  test("batch: epoch-aligned hour buckets, one row per (bucket, type)") {
    val events = Seq(
      (T0, "view"),
      (T0 + 1000000L, "view"), // same hour, same type
      (T0, "click"),
      (T0 + HourNs, "view") // next hour
    ).toDF("ts", "event_type")
    val out = WindowedCounts.counts(events, "1 hour")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set(
      (bucketOf(T0), "view", 2L),
      (bucketOf(T0), "click", 1L),
      (bucketOf(T0 + HourNs), "view", 1L)))
    assert(bucketOf(T0) % HourUs == 0, "buckets must align to the epoch")
  }

  test("streaming: window emits once the watermark passes its end; late row drops") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val events = ms.toDS().toDF("ts", "event_type")
    val query = WindowedCounts.counts(events, "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("wc_sink").outputMode("append")
      .start()
    try {
      ms.addData((T0, "view"), (T0 + 1000000L, "view"))
      query.processAllAvailable()
      // advance the watermark far past T0's window end...
      ms.addData((T0 + 48 * HourNs, "view"))
      query.processAllAvailable()
      // ...then a row landing back in T0's finalized window must drop
      ms.addData((T0 + 2000000L, "view"))
      query.processAllAvailable()
      val emitted = spark.table("wc_sink")
        .as[(Long, String, Long)].collect().toSet
      assert(emitted == Set((bucketOf(T0), "view", 2L)),
        "finalized window must emit once with only the pre-watermark rows")
    } finally query.stop()
  }

  test("streaming key presence: finalized windows carry per-key counts; late rows drop") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val events = ms.toDS().toDF("ts", "props")
    val query = WindowedCounts.keyCounts(events, "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("kc_sink").outputMode("append")
      .start()
    try {
      ms.addData(
        (T0, """{"a": 1, "b": 2}"""),
        (T0 + 1000000L, """{"a": 3}"""))
      query.processAllAvailable()
      ms.addData((T0 + 48 * HourNs, """{"z": 0}"""))
      query.processAllAvailable()
      val emitted = spark.table("kc_sink")
        .as[(Long, String, Long)].collect().toSet
      assert(emitted == Set(
        (bucketOf(T0), "a", 2L),
        (bucketOf(T0), "b", 1L)),
        s"finalized window must count keys across its events: $emitted")
    } finally query.stop()
  }

  test("batch on real events table: bucket counts reassemble the per-type totals") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val windowed = WindowedCounts.counts(events, "1 hour")
      .groupBy("event_type").agg(sum("n_events").as("n"))
    val source = events.groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(windowed.join(source, "event_type")
      .filter(windowed("n") =!= source("n")).count() == 0,
      "every event lands in exactly one window")
  }

  test("gapFilledCounts: every hour in each type's span appears exactly once, zeros fill the gaps") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val sparse = WindowedCounts.counts(events)
    val dense = WindowedCounts.gapFilledCounts(events)
    // dense keeps the sparse rows verbatim (nonzero rows == sparse rows)
    assert(dense.filter(col("n_events") > 0).count() == sparse.count())
    // full hourly coverage, no holes, no duplicates
    val spanCheck = dense.groupBy("event_type")
      .agg(((max("bucket_us") - min("bucket_us")) / 3600000000L + 1).as("expected"),
        count(lit(1)).cast("double").as("got"))
      .filter(col("expected") =!= col("got"))
    assert(spanCheck.isEmpty, "every hourly bucket in the span must appear exactly once")
  }

  test("gapFilledCounts: generalized durations — 15-minute and 1-day grids stay dense") {
    for ((duration, widthUs) <- Seq("15 minutes" -> 900000000L, "1 day" -> 86400000000L)) {
      assert(WindowedCounts.durationMicros(duration) == widthUs)
      val events = Seq(
        (T0, "view"),
        (T0 + 5 * widthUs * 1000L, "view"), // 4 empty buckets between
        (T0, "click")
      ).toDF("ts", "event_type")
      val dense = WindowedCounts.gapFilledCounts(events, duration)
        .as[(String, Long, Long)].collect()
      val views = dense.filter(_._1 == "view").sortBy(_._2)
      assert(views.length == 6, s"$duration: view span must cover 6 buckets, got ${views.toSeq}")
      assert(views.map(_._2).toSeq == views.head._2.to(views.last._2, widthUs).toSeq,
        s"$duration: bucket grid must step by the window width")
      assert(views.map(_._3).toSeq == Seq(1L, 0L, 0L, 0L, 0L, 1L),
        s"$duration: zeros must fill the empty buckets")
      assert(dense.count(_._1 == "click") == 1, s"$duration: single-bucket type stays single-row")
    }
  }

  test("durationMicros rejects calendar units and non-positive widths") {
    intercept[IllegalArgumentException](WindowedCounts.durationMicros("1 month"))
    intercept[IllegalArgumentException](WindowedCounts.durationMicros("0 seconds"))
  }

  test("durationMicros accepts every form window() accepts, including ANSI intervals") {
    assert(WindowedCounts.durationMicros("INTERVAL '15' MINUTE") == 900000000L)
    assert(WindowedCounts.durationMicros("interval 1 hour") == 3600000000L)
  }
}
