package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{EventsVerificationPipeline, PipelineQueries, SparkTestBase}
import graft.fixtures.EventCatalogFixture

case class CatRow(
    client_name: String, event_name: String, user_id: String,
    context: String, traits: String, properties: String)

class StreamingReportSpec extends SparkTestBase {
  import spark.implicits._

  private val dataDir = "/root/testdata/sf0.001"

  test("two-trigger incremental report equals batch q06 row-for-row") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-streport").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir)
    // interleaved halves: every payload shape (the mod-cycle arms of the
    // fixture) appears in BOTH batches, like time-sliced arrivals would
    val rows = catalog.as[CatRow].collect()
    val (b1, b2) = rows.zipWithIndex.partition(_._2 % 2 == 0)

    assert(!StreamingReport.hasPartials(spark, dir))
    val ms = MemoryStream[CatRow]
    val query = ms.toDS().toDF().writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamingReport.ingestBatch(b, id, spec, params, dir); ()
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      ms.addData(b1.map(_._1).toSeq: _*)
      query.processAllAvailable()
      assert(StreamingReport.hasPartials(spark, dir))
      // mid-stream the report is already well-formed (half the counts)
      val mid = StreamingReport.reportToDate(spark, spec, params, dir).collect()
      assert(mid.nonEmpty)
      ms.addData(b2.map(_._1).toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()

    val incremental = StreamingReport.reportToDate(spark, spec, params, dir)
    val batch = EventsVerificationPipeline.run(catalog, spec, params)
    assert(incremental.columns.toSeq == batch.columns.toSeq)
    val incSet = incremental.collect().toSet
    val batchSet = batch.collect().toSet
    assert(incSet == batchSet,
      s"incremental != batch:\nonly-inc=${incSet -- batchSet}\nonly-batch=${batchSet -- incSet}")
  }

  test("redelivered batch id is a no-op: summed partials never double-count") {
    val dir = Files.createTempDirectory("graft-streport-replay").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir).limit(500)

    assert(StreamingReport.ingestBatch(catalog, 0L, spec, params, dir))
    val once = StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
    // at-least-once delivery replays the SAME batch id: must be skipped
    assert(!StreamingReport.ingestBatch(catalog, 0L, spec, params, dir))
    val twice = StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
    assert(twice == once, "replayed batch must not change any count")
  }

  test("compactPartials is a report no-op and ingest keeps working; mid-swap crash heals") {
    val dir = Files.createTempDirectory("graft-streport-compact").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir)
    val rows = catalog.as[CatRow].collect()
    val (b0, rest) = rows.splitAt(rows.length / 3)
    val (b1, b2) = rest.splitAt(rest.length / 2)

    assert(StreamingReport.ingestBatch(b0.toSeq.toDF(), 0L, spec, params, dir))
    assert(StreamingReport.ingestBatch(b1.toSeq.toDF(), 1L, spec, params, dir))
    val before = StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet

    // maintenance: merge the per-trigger part-file mess; report unchanged
    val written = StreamingReport.compactPartials(spark, dir)
    assert(written("partials") >= 1, s"compaction must rewrite the partials table, got $written")
    assert(StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
      == before, "compaction must not change the report")
    // the replay guard survives compaction
    assert(!StreamingReport.ingestBatch(b0.toSeq.toDF(), 0L, spec, params, dir),
      "compacted commit log must still skip replayed batch ids")

    // simulate a second compactPartials that crashed after its write and
    // before its commit: a full copy of the partials sits in a generation
    // directory no entry names, and must never be read
    val log = StateLog(spark, dir)
    LogProbes.copyTree(java.nio.file.Paths.get(s"$dir/partials/gen=${log.last.seq}"),
      java.nio.file.Paths.get(s"$dir/partials/gen=${log.last.seq + 1}"))
    assert(StreamingReport.ingestBatch(b2.toSeq.toDF(), 2L, spec, params, dir))
    val incremental = StreamingReport.reportToDate(spark, spec, params, dir)
    val batch = EventsVerificationPipeline.run(catalog, spec, params)
    val incSet = incremental.collect().toSet
    val batchSet = batch.collect().toSet
    assert(incSet == batchSet,
      s"post-compaction+crash incremental != batch:\nonly-inc=${incSet -- batchSet}\nonly-batch=${batchSet -- incSet}")
  }

  test("compactSwap on a committed EMPTY generation is a safe no-op") {
    // the compaction of a report whose only committed trigger wrote zero
    // rows, its directory holding no data file: it must not die in schema
    // inference, and must change no row of the report
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft-compact-empty").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir)
    assert(StreamingReport.compactPartials(spark, dir) == Map("partials" -> 0),
      "a report with no trigger is also a no-op")
    assert(!Files.exists(Paths.get(s"$dir/partials")))

    assert(StreamingReport.ingestBatch(catalog.limit(0), 0L, spec, params, dir))
    LogProbes.deleteTree(Paths.get(s"$dir/partials/batch_id=0"))
    Files.createDirectories(Paths.get(s"$dir/partials/batch_id=0"))
    val empty = StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
    StreamingReport.compactPartials(spark, dir)
    assert(StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet == empty)
    assert(StreamingReport.hasPartials(spark, dir))

    val rows = catalog.limit(300).as[CatRow].collect().toSeq
    assert(StreamingReport.ingestBatch(rows.toDF(), 1L, spec, params, dir))
    assert(StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
      == EventsVerificationPipeline.run(rows.toDF(), spec, params).collect().toSet)
  }

  test("a torn commit never commits its batch or loses keys") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-streport-crash").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir)
    val rows = catalog.as[CatRow].collect()
    val (b0, rest) = rows.splitAt(rows.length / 3)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    def ingest(b: Seq[CatRow], id: Long): Boolean =
      StreamingReport.ingestBatch(b.toDF(), id, spec, params, dir)
    val commits = Paths.get(s"$dir/_commits")
    def entries(): Set[String] = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet
    def keptAll(before: StateLog.Entry, after: StateLog.Entry): Boolean =
      before.meta.forall { case (ch, ks) =>
        ks.toSet.subsetOf(after.meta.getOrElse(ch, Nil).toSet) }
    val log = StateLog(spark, dir)

    assert(ingest(b0.toSeq, 0L))
    val c0 = log.last
    assert(c0.batchIds == Set(0L))
    assert(c0.meta.nonEmpty, "fixture sanity: some identifier keys observed")
    assert(entries() == Set("1"))
    val entry1 = Files.readAllBytes(commits.resolve("1"))

    // State A — crash after the next entry's temp write, before its rename:
    // the temp holds a complete entry claiming batch 1 and a spelling no
    // batch has, exactly what the commit would have renamed into place.
    val scratch = Files.createTempDirectory("graft-streport-torn").toFile.getAbsolutePath
    StateLog(spark, scratch).commit(c0.copy(batchIds = c0.batchIds + 1L,
      meta = c0.meta + ("torn" -> Seq("org_torn"))))
    Files.copy(Paths.get(s"$scratch/_commits/2"), commits.resolve(".2.tmp"))
    assert(log.last == c0,
      "a torn commit must leave the batch uncommitted and the previous keys in force")
    assert(ingest(b1.toSeq, 1L), "the torn batch must be retried, not skipped")
    assert(entries() == Set("2"), "the temp and the superseded entry must be dropped")
    val c1 = log.last
    assert(c1.batchIds == Set(0L, 1L))
    assert(keptAll(c0, c1), "retrying must keep every prior spelling")
    assert(!c1.meta.contains("torn"), "the torn entry must never be read")

    // State B — crash after the rename, before the superseded entry was
    // deleted: two complete entries, the newest one is authoritative.
    Files.write(commits.resolve("1"), entry1)
    assert(log.last == c1)
    assert(!ingest(b1.toSeq, 1L), "the newest entry's batch ids must still be skipped")
    assert(ingest(b2.toSeq, 2L))
    assert(entries() == Set("3"))
    assert(keptAll(c1, log.last),
      "no spelling may be lost across the torn commits")

    // end-to-end: with the torn commits retried, incremental still ≡ batch
    val incremental = StreamingReport.reportToDate(spark, spec, params, dir)
      .collect().toSet
    val batch = EventsVerificationPipeline.run(catalog, spec, params)
      .collect().toSet
    assert(incremental == batch,
      "crash-healed incremental report must equal the batch run")
  }

  test("hasPartials and a replayed ingestBatch launch no Spark job") {
    import LogProbes.jobsDuring
    val dir = Files.createTempDirectory("graft-streport-jobs").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir).limit(500)

    val (ingested, ingestJobs) = jobsDuring(spark)(
      StreamingReport.ingestBatch(catalog, 0L, spec, params, dir))
    assert(ingested && ingestJobs > 0, "probe sanity: a real ingest launches jobs")
    val (has, hasJobs) = jobsDuring(spark)(StreamingReport.hasPartials(spark, dir))
    assert(has)
    assert(hasJobs == 0, s"hasPartials launched $hasJobs jobs")
    val (replayed, replayJobs) = jobsDuring(spark)(
      StreamingReport.ingestBatch(catalog, 0L, spec, params, dir))
    assert(!replayed)
    assert(replayJobs == 0, s"a replayed ingestBatch launched $replayJobs jobs")

    // the same holds for every loop on the log: heavy hitters and a pair loop
    val hh = s"$dir/hh"
    val keys = Seq("a", "a", "b").toDF("key")
    assert(StreamingHeavyHitters.ingestBatch(keys, 0L, "key", hh, 2) == 3L)
    val (hhRows, hhJobs) = jobsDuring(spark)(
      StreamingHeavyHitters.ingestBatch(keys, 0L, "key", hh, 2))
    assert(hhRows == 0L && hhJobs == 0, s"a replayed heavy-hitters trigger launched $hhJobs jobs")
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    def nearDup() = StreamingNearDedup.ingestBatch(docs, 0L, "doc_id", "text",
      s"$dir/index", s"$dir/pairs")
    assert(nearDup() == 1L)
    val (pairs, pairJobs) = jobsDuring(spark)(nearDup())
    assert(pairs == 0L && pairJobs == 0, s"a replayed near-dup trigger launched $pairJobs jobs")
  }

  test("heal rolls forward a committed .new even without _SUCCESS (marksuccessfuljobs=false)") {
    // with mapreduce.fileoutputcommitter.marksuccessfuljobs=false no
    // _SUCCESS marker is written: the generation a compaction committed must
    // still be read, and one whose write never finished must not be
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-streport-nomarker").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir)
    val rows = catalog.as[CatRow].collect()
    val (b0, rest) = rows.splitAt(rows.length / 3)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val parts = Paths.get(s"$dir/partials")
    def subdirs(): Set[String] = Files.list(parts).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet

    assert(StreamingReport.ingestBatch(b0.toSeq.toDF(), 0L, spec, params, dir))
    assert(StreamingReport.ingestBatch(b1.toSeq.toDF(), 1L, spec, params, dir))
    val before = StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
    StreamingReport.compactPartials(spark, dir)
    val log = StateLog(spark, dir)
    val committed = parts.resolve(s"gen=${log.last.seq}")
    Files.walk(committed).iterator().asScala.toSeq
      .filter(_.getFileName.toString.contains("_SUCCESS")).foreach(Files.delete)
    assert(Files.list(committed).iterator().asScala.exists(_.getFileName.toString.startsWith("part-")),
      "fixture sanity: committed part files present")
    assert(StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet == before,
      "the committed generation must be read without its marker")

    // an unfinished generation: a write that left only its _temporary
    Files.createDirectories(parts.resolve(s"gen=${log.last.seq + 1}/_temporary"))
    assert(StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet == before)
    assert(StreamingReport.ingestBatch(b2.toSeq.toDF(), 2L, spec, params, dir))
    assert(StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
      == EventsVerificationPipeline.run(catalog, spec, params).collect().toSet)
    StreamingReport.compactPartials(spark, dir)
    assert(subdirs() == Set(s"gen=${log.last.seq}"), "the next compaction deletes the leftover")
  }

  test("heal rolls forward a committed EMPTY generation (no part files, no _SUCCESS)") {
    // a committed generation of zero rows, its directory left without a
    // part file or a _SUCCESS marker, next to a superseded batch directory
    // a crash kept from deletion: the empty generation is the state, and
    // reading the superseded rows would count them twice
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft-streport-emptygen").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir)
    val rows = catalog.as[CatRow].collect().toSeq
    val (old, fresh) = rows.splitAt(200)

    assert(StreamingReport.ingestBatch(catalog.limit(0), 0L, spec, params, dir))
    val empty = StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
    StreamingReport.compactPartials(spark, dir)
    val gen = Paths.get(s"$dir/partials/gen=${StateLog(spark, dir).last.seq}")
    LogProbes.deleteTree(gen)
    Files.createDirectories(gen)
    val other = Files.createTempDirectory("graft-streport-superseded").toFile.getAbsolutePath
    assert(StreamingReport.ingestBatch(old.toDF(), 0L, spec, params, other))
    LogProbes.copyTree(Paths.get(s"$other/partials/batch_id=0"),
      Paths.get(s"$dir/partials/batch_id=0"))

    assert(StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet == empty,
      "the committed EMPTY generation must be the state, not the superseded rows")
    assert(!StreamingReport.ingestBatch(old.toDF(), 0L, spec, params, dir),
      "the compacted entry keeps the committed batch id")
    assert(StreamingReport.ingestBatch(fresh.toDF(), 1L, spec, params, dir))
    assert(StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
      == EventsVerificationPipeline.run(fresh.toDF(), spec, params).collect().toSet)
  }

  test("a batch whose partials were written but whose commit was lost counts once") {
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft-streport-lost").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir)
    val (b0, b1) = catalog.as[CatRow].collect().toSeq.splitAt(200)
    assert(StreamingReport.ingestBatch(b0.toDF(), 0L, spec, params, dir))
    val snapshot = Files.createTempDirectory("graft-streport-snapshot").resolve("log")
    LogProbes.copyTree(Paths.get(s"$dir/_commits"), snapshot)
    assert(StreamingReport.ingestBatch(b1.toDF(), 1L, spec, params, dir))
    // partials written, commit lost
    LogProbes.deleteTree(Paths.get(s"$dir/_commits"))
    LogProbes.copyTree(snapshot, Paths.get(s"$dir/_commits"))
    assert(StreamingReport.ingestBatch(b1.toDF(), 1L, spec, params, dir),
      "the uncommitted batch must be retried")
    val incremental = StreamingReport.reportToDate(spark, spec, params, dir).collect().toSet
    val batch = EventsVerificationPipeline.run(catalog, spec, params).collect().toSet
    assert(incremental == batch,
      s"retried report != batch run:\nonly-inc=${incremental -- batch}\nonly-batch=${batch -- incremental}")
  }
}
