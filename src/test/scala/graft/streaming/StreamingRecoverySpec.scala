package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase

/** Fault tolerance of the streaming surface: a watermarked aggregation
  * writing to a file sink through a checkpoint is stopped mid-stream and
  * restarted on the SAME checkpoint — offsets resume, no finalized window
  * is emitted twice, none is lost. This is the property a 100 TB ingest
  * job actually relies on (executors die; the query must not re-emit).
  */
class StreamingRecoverySpec extends SparkTestBase {
  import spark.implicits._

  private val T0 = 1700000000000000000L // ns
  private val HourNs = 3600L * 1000000000L
  private val HourUs = 3600L * 1000000L
  private def bucketOf(tsNs: Long): Long = (tsNs / 1000) / HourUs * HourUs

  test("windowed counts resume from checkpoint: exactly-once output across restart") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-recovery")
    val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    val ms = MemoryStream[(Long, String)]

    def startQuery() =
      WindowedCounts.counts(ms.toDS().toDF("ts", "event_type"), "1 hour", "30 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append")
        .start()

    // phase 1: fill T0's window, advance the watermark past it, emit, stop
    val q1 = startQuery()
    try {
      ms.addData((T0, "view"), (T0 + 1000000L, "view"), (T0, "click"))
      q1.processAllAvailable()
      ms.addData((T0 + 48 * HourNs, "view"))
      q1.processAllAvailable()
    } finally q1.stop()

    // phase 2: SAME checkpoint — restart, finalize the 48h window, stop
    val q2 = startQuery()
    try {
      ms.addData((T0 + 96 * HourNs, "view"))
      q2.processAllAvailable()
    } finally q2.stop()

    val result = spark.read.parquet(out)
      .as[(Long, String, Long)].collect().toSeq
    // exactly-once: each finalized (bucket, type) appears ONCE with the
    // full count — a re-emit after restart would duplicate T0's rows
    assert(result.size == result.toSet.size, s"duplicate emission after restart: $result")
    val asMap = result.map(r => (r._1, r._2) -> r._3).toMap
    assert(asMap((bucketOf(T0), "view")) == 2L)
    assert(asMap((bucketOf(T0), "click")) == 1L)
    assert(asMap((bucketOf(T0 + 48 * HourNs), "view")) == 1L,
      "the window open at shutdown must finalize after restart")
  }
}
