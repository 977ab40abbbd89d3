package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.Sketches

case class Seen(group: String, user: Long)

class StreamingDistinctSpec extends SparkTestBase {
  import spark.implicits._

  test("ingest loop: distinct-to-date estimates equal the one-pass sketch after every trigger") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-hll").toFile.getAbsolutePath
    val sketchDir = s"$dir/sketches"
    val ms = MemoryStream[Seen]
    assert(!StreamingDistinct.hasSketches(spark, sketchDir),
      "monitors must be able to detect the pre-first-trigger state")
    val query = ms.toDS().toDF().writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamingDistinct.ingestBatch(b, id, Seq("group"), "user", sketchDir); ()
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      val batch1 = (1L to 40L).map(u => Seen("a", u)) ++ (1L to 10L).map(u => Seen("b", u))
      ms.addData(batch1: _*)
      query.processAllAvailable()
      assert(StreamingDistinct.hasSketches(spark, sketchDir))
      // batch 2 overlaps batch 1 (users 30..50): overlap must not inflate
      val batch2 = (30L to 50L).map(u => Seen("a", u))
      ms.addData(batch2: _*)
      query.processAllAvailable()

      val merged = StreamingDistinct.estimates(spark, sketchDir, Seq("group"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val all = (batch1 ++ batch2).toDF("group", "user")
      val onePass = Sketches.mergeEstimate(
        Sketches.distinctSketch(all, Seq("group"), "user"), Seq("group"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(merged == onePass,
        "streamed per-batch sketches must merge to the one-pass estimate bit-for-bit")
      // and at this cardinality HLL lgK=12 is exact
      assert(merged == Map("a" -> 50L, "b" -> 10L))
    } finally query.stop()
  }

  test("a trigger whose commit is lost is invisible until its retry") {
    val sketchDir = Files.createTempDirectory("graft-hll-lost").toFile.getAbsolutePath
    val b0 = ((1L to 40L).map(u => Seen("a", u)) ++ (1L to 10L).map(u => Seen("b", u))).toDF()
    val b1 = (30L to 50L).map(u => Seen("a", u)).toDF()
    LogProbes.commitLost(sketchDir)(
      StreamingDistinct.ingestBatch(b0, 0L, Seq("group"), "user", sketchDir))
    assert(!StreamingDistinct.hasSketches(spark, sketchDir),
      "written but uncommitted sketch rows are not state")
    assert(StreamingDistinct.ingestBatch(b0, 0L, Seq("group"), "user", sketchDir) == 2L)
    LogProbes.commitLost(sketchDir)(
      StreamingDistinct.ingestBatch(b1, 1L, Seq("group"), "user", sketchDir))
    assert(StreamingDistinct.estimates(spark, sketchDir, Seq("group"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 40L, "b" -> 10L))
    assert(StreamingDistinct.ingestBatch(b1, 1L, Seq("group"), "user", sketchDir) == 1L)
    assert(StreamingDistinct.estimates(spark, sketchDir, Seq("group"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 50L, "b" -> 10L))
  }
}
