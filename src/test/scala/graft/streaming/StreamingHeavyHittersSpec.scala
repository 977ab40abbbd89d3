package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase

case class Hit(key: String)

/** Pins [[StreamingHeavyHitters]]' contract: the monitor never loses a
  * true heavy hitter (candidate superset + CMS never-under-count), its
  * estimates are exact at this scale (eps × N ≪ 1), and a replayed or
  * crashed trigger cannot move the answer ([[StateLog]]).
  */
class StreamingHeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  test("two triggers: heavy hitters to date match the exact union; replay is idempotent") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-hh").toFile.getAbsolutePath
    val denom = 20
    val ms = MemoryStream[Hit]
    val query = ms.toDS().toDF().writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamingHeavyHitters.ingestBatch(b, id, "key", dir, denom); ()
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // batch 1: "hot" at 30%, "warm" at 4% (below 1/20), long tail
      val b1 = Seq.fill(150)("hot") ++ Seq.fill(20)("warm") ++
        (1 to 330).map(i => s"t$i")
      ms.addData(b1.map(Hit): _*)
      query.processAllAvailable()
      // batch 2 pushes "warm" over the global threshold
      val b2 = Seq.fill(80)("warm") ++ (1 to 100).map(i => s"u$i")
      ms.addData(b2.map(Hit): _*)
      query.processAllAvailable()

      val got = StreamingHeavyHitters.heavyHittersToDate(spark, dir, denom)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val all = b1 ++ b2
      val exact = all.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, n) => n * denom > all.size }.toMap
      assert(exact.keySet == Set("hot", "warm"), "fixture sanity")
      // superset of the truth, and at eps=1e-4 × N=680 the estimates are exact
      assert(got == exact,
        s"streamed heavy hitters $got diverged from exact $exact")
    } finally query.stop()
  }

  test("pre-first-trigger state: monitor returns empty, compact is a no-op") {
    val dir = Files.createTempDirectory("graft-hh").toFile.getAbsolutePath
    assert(!StreamingHeavyHitters.hasState(spark, dir))
    assert(StreamingHeavyHitters.heavyHittersToDate(spark, dir, 10).count() == 0)
    StreamingHeavyHitters.compact(spark, dir) // must not throw
    assert(!StreamingHeavyHitters.hasState(spark, dir))
  }

  test("replaying the same batch id does not move counts (at-least-once safety)") {
    val dir = Files.createTempDirectory("graft-hh").toFile.getAbsolutePath
    val denom = 10
    val batch = (Seq.fill(50)("hot") ++ (1 to 50).map(i => s"t$i")).toDF("key")
    StreamingHeavyHitters.ingestBatch(batch, 0L, "key", dir, denom)
    val once = StreamingHeavyHitters.heavyHittersToDate(spark, dir, denom)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    StreamingHeavyHitters.ingestBatch(batch, 0L, "key", dir, denom) // replay
    val twice = StreamingHeavyHitters.heavyHittersToDate(spark, dir, denom)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(once == Map("hot" -> 50L))
    assert(twice == once, "a replayed batch id must be skipped")
  }

  test("compact folds the tables to one sketch row without moving the answer") {
    val dir = Files.createTempDirectory("graft-hh").toFile.getAbsolutePath
    val denom = 10
    val b1 = (Seq.fill(60)("hot") ++ (1 to 40).map(i => s"t$i")).toDF("key")
    val b2 = (Seq.fill(30)("hot") ++ Seq.fill(25)("warm") ++ (1 to 45).map(i => s"u$i")).toDF("key")
    StreamingHeavyHitters.ingestBatch(b1, 0L, "key", dir, denom)
    StreamingHeavyHitters.ingestBatch(b2, 1L, "key", dir, denom)
    val before = StreamingHeavyHitters.heavyHittersToDate(spark, dir, denom)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    StreamingHeavyHitters.compact(spark, dir)
    val after = StreamingHeavyHitters.heavyHittersToDate(spark, dir, denom)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before, s"compaction moved the answer: $after vs $before")
    assert(spark.read.parquet(s"$dir/cms").count() == 1)
    // the compacted entry keeps every committed id, so a replay of ANY
    // batch is still skipped
    StreamingHeavyHitters.ingestBatch(b1, 0L, "key", dir, denom)
    StreamingHeavyHitters.ingestBatch(b2, 1L, "key", dir, denom)
    val replayed = StreamingHeavyHitters.heavyHittersToDate(spark, dir, denom)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(replayed == before, "post-compaction replays must be skipped")
  }

  test("a crash at any point of the compaction swap never loses the state") {
    import java.nio.file.Paths
    import LogProbes._
    val denom = 10
    val dir = Files.createTempDirectory("graft-hh").toFile.getAbsolutePath
    def hh() = StreamingHeavyHitters.heavyHittersToDate(spark, dir, denom)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b1 = (Seq.fill(60)("hot") ++ (1 to 40).map(i => s"t$i")).toDF("key")
    val b2 = (Seq.fill(30)("hot") ++ Seq.fill(25)("warm") ++ (1 to 45).map(i => s"u$i")).toDF("key")
    StreamingHeavyHitters.ingestBatch(b1, 0L, "key", dir, denom)
    assert(hh() == Map("hot" -> 60L), "fixture sanity")

    // a trigger crashes after its writes, before its commit: invisible
    // until the retry, which then counts the batch once
    commitLost(dir)(StreamingHeavyHitters.ingestBatch(b2, 1L, "key", dir, denom))
    assert(hh() == Map("hot" -> 60L), "an uncommitted trigger must not be read")
    assert(StreamingHeavyHitters.ingestBatch(b2, 1L, "key", dir, denom) == 100L)
    val expect = Map("hot" -> 90L, "warm" -> 25L)
    assert(hh() == expect)

    // a compaction crashes after its write, before its commit: the
    // unnamed generation (here a copy of the live rows) is never read
    val seq = StateLog(spark, dir).last.seq
    Seq("cms", "candidates").foreach { t =>
      copyTree(Paths.get(s"$dir/$t/batch_id=0"), Paths.get(s"$dir/$t/gen=${seq + 1}"))
    }
    assert(hh() == expect)

    // a compaction crashes after its commit, before its deletes: the
    // superseded directories linger and are never read
    val before = Files.createTempDirectory("graft-hh-old").resolve("state")
    copyTree(Paths.get(dir), before)
    StreamingHeavyHitters.compact(spark, dir)
    for (t <- Seq("cms", "candidates"); b <- Seq("batch_id=0", "batch_id=1"))
      copyTree(before.resolve(s"$t/$b"), Paths.get(s"$dir/$t/$b"))
    assert(StreamingHeavyHitters.hasState(spark, dir))
    assert(hh() == expect)
    StreamingHeavyHitters.compact(spark, dir)
    assert(hh() == expect)
    assert(Files.list(Paths.get(s"$dir/cms")).count() == 1L,
      "the next compaction deletes every leftover")
  }
}
