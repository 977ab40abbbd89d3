package graft.streaming

import java.nio.file.Files

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
      .foreachBatch(StreamingReport.sink(spec, params, dir))
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

    // simulate a compactPartials crash between rename-away and rename-in
    // on the partials table: live dir missing, committed rewrite parked at .new
    val partials = java.nio.file.Paths.get(s"$dir/partials")
    Files.move(partials, java.nio.file.Paths.get(s"$dir/partials.new"))
    // ingest must heal first — appending into a fresh partials dir would
    // doom the parked generation
    assert(StreamingReport.ingestBatch(b2.toSeq.toDF(), 2L, spec, params, dir))
    val incremental = StreamingReport.reportToDate(spark, spec, params, dir)
    val batch = EventsVerificationPipeline.run(catalog, spec, params)
    val incSet = incremental.collect().toSet
    val batchSet = batch.collect().toSet
    assert(incSet == batchSet,
      s"post-compaction+crash incremental != batch:\nonly-inc=${incSet -- batchSet}\nonly-batch=${batchSet -- incSet}")
  }

  test("compactSwap on a committed EMPTY generation is a safe no-op") {
    // a zero-partition write leaves a committed dir with no part files
    // (the state heal preserves per ADVICE r12); compacting it must not
    // die in schema inference, must not touch the dir
    val dir = Files.createTempDirectory("graft-compact-empty").toFile.getAbsolutePath
    val path = s"$dir/state"
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
      .write.parquet(path)
    // this Spark version emits zero-row part files even for an empty RDD;
    // strip them to produce the documented worst case — committed dir,
    // _SUCCESS only, not one data byte
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(path)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .foreach(Files.delete)
    assert(AtomicState.compactSwap(spark, path, Seq("id")) == 0)
    assert(Files.exists(java.nio.file.Paths.get(path)),
      "the committed empty generation must survive the no-op")
    assert(AtomicState.compactSwap(spark, s"$dir/never-written", Seq("id")) == 0,
      "a missing dir is also a no-op")
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
    def keptAll(before: StreamingReport.Commit, after: StreamingReport.Commit): Boolean =
      before.observed.forall { case (ch, ks) =>
        ks.toSet.subsetOf(after.observed.getOrElse(ch, Nil).toSet) }

    assert(ingest(b0.toSeq, 0L))
    val c0 = StreamingReport.lastCommit(spark, dir)
    assert(c0.batchIds == Set(0L))
    assert(c0.observed.nonEmpty, "fixture sanity: some identifier keys observed")
    assert(entries() == Set("1"))
    val entry1 = Files.readAllBytes(commits.resolve("1"))

    // State A — crash after the next entry's temp write, before its rename:
    // the temp holds a complete entry claiming batch 1 and a spelling no
    // batch has, exactly what the commit would have renamed into place.
    val scratch = Files.createTempDirectory("graft-streport-torn").toFile.getAbsolutePath
    StreamingReport.commit(spark, scratch, c0, 1L, c0.observed + ("torn" -> Seq("org_torn")))
    Files.copy(Paths.get(s"$scratch/_commits/2"), commits.resolve(".2.tmp"))
    assert(StreamingReport.lastCommit(spark, dir) == c0,
      "a torn commit must leave the batch uncommitted and the previous keys in force")
    assert(ingest(b1.toSeq, 1L), "the torn batch must be retried, not skipped")
    assert(entries() == Set("2"), "the temp and the superseded entry must be dropped")
    val c1 = StreamingReport.lastCommit(spark, dir)
    assert(c1.batchIds == Set(0L, 1L))
    assert(keptAll(c0, c1), "retrying must keep every prior spelling")
    assert(!c1.observed.contains("torn"), "the torn entry must never be read")

    // State B — crash after the rename, before the superseded entry was
    // deleted: two complete entries, the newest one is authoritative.
    Files.write(commits.resolve("1"), entry1)
    assert(StreamingReport.lastCommit(spark, dir) == c1)
    assert(!ingest(b1.toSeq, 1L), "the newest entry's batch ids must still be skipped")
    assert(ingest(b2.toSeq, 2L))
    assert(entries() == Set("3"))
    assert(keptAll(c1, StreamingReport.lastCommit(spark, dir)),
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
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-streport-jobs").toFile.getAbsolutePath
    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, dataDir).limit(500)
    val sc = spark.sparkContext
    val tag = "graft.jobProbe"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.add)
    }
    /** Jobs `body` launches, counted by the local property they carry. The
      * listener bus is FIFO, so once a marker job run after `body` has been
      * seen, so has every job `body` launched.
      */
    def jobsDuring[T](label: String)(body: => T): (T, Int) = {
      def tagged[U](l: String)(f: => U): U = {
        sc.setLocalProperty(tag, l)
        try f finally sc.setLocalProperty(tag, null)
      }
      val out = tagged(label)(body)
      tagged(s"$label/end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(s"$label/end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$label/end"), "the listener never saw the marker job")
      (out, seen.asScala.count(_ == label))
    }

    sc.addSparkListener(listener)
    try {
      val (ingested, ingestJobs) = jobsDuring("ingest")(
        StreamingReport.ingestBatch(catalog, 0L, spec, params, dir))
      assert(ingested && ingestJobs > 0, "probe sanity: a real ingest launches jobs")
      val (has, hasJobs) = jobsDuring("hasPartials")(StreamingReport.hasPartials(spark, dir))
      assert(has)
      assert(hasJobs == 0, s"hasPartials launched $hasJobs jobs")
      val (replayed, replayJobs) = jobsDuring("replay")(
        StreamingReport.ingestBatch(catalog, 0L, spec, params, dir))
      assert(!replayed)
      assert(replayJobs == 0, s"a replayed ingestBatch launched $replayJobs jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("heal rolls forward a committed .new even without _SUCCESS (marksuccessfuljobs=false)") {
    // ADVICE r11: with mapreduce.fileoutputcommitter.marksuccessfuljobs=false
    // no _SUCCESS marker is written; the torn-swap State B (live dir gone,
    // committed generation in .new) must still roll FORWARD via the
    // part-file fallback, not roll back and discard the new generation.
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft-atomicstate").toFile.getAbsolutePath
    val path = s"$base/state"
    AtomicState.overwrite(Seq(1, 2, 3).toDF("v"), path)
    AtomicState.overwrite(Seq(4, 5, 6).toDF("v"), path)
    assert(spark.read.parquet(path).as[Int].collect().sorted.toSeq == Seq(4, 5, 6))
    // simulate State B with the marker suppressed: committed dir renamed to
    // .new, live gone, _SUCCESS removed
    val p = java.nio.file.Paths.get(path)
    val pNew = java.nio.file.Paths.get(path + ".new")
    java.nio.file.Files.move(p, pNew)
    java.nio.file.Files.deleteIfExists(pNew.resolve("_SUCCESS"))
    assert(Files.list(pNew).iterator().asScala.exists(_.getFileName.toString.startsWith("part-")),
      "fixture sanity: committed part files present")
    AtomicState.heal(spark, path)
    assert(Files.exists(p), "heal must roll the committed generation forward")
    assert(!Files.exists(pNew))
    assert(spark.read.parquet(path).as[Int].collect().sorted.toSeq == Seq(4, 5, 6),
      "the committed new generation must survive, not the rolled-back old one")
    // an UNcommitted .new (no _SUCCESS, no part files, _temporary present)
    // must still roll BACK to .old
    java.nio.file.Files.move(p, java.nio.file.Paths.get(path + ".old"))
    java.nio.file.Files.createDirectories(pNew.resolve("_temporary"))
    AtomicState.heal(spark, path)
    assert(Files.exists(p), "heal must restore .old when .new is uncommitted")
    assert(spark.read.parquet(path).as[Int].collect().sorted.toSeq == Seq(4, 5, 6))
  }

  test("heal rolls forward a committed EMPTY generation (no part files, no _SUCCESS)") {
    // ADVICE r12: a committed write of a zero-partition DataFrame leaves a
    // directory with NO part-* files; under marksuccessfuljobs=false there
    // is no _SUCCESS either. The old part-file-requiring fallback read that
    // as uncommitted and rolled BACK — discarding a committed (empty)
    // generation. "Directory exists, no _temporary" alone must count as
    // committed: inside the swap protocol .new is only consulted when the
    // primary is gone, which implies the .new write already returned.
    val base = Files.createTempDirectory("graft-atomicstate-empty").toFile.getAbsolutePath
    val path = s"$base/state"
    import scala.jdk.CollectionConverters._
    def partFiles(dir: java.nio.file.Path): Seq[String] =
      Files.list(dir).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSeq
    // Simulate State B with the marker suppressed: committed EMPTY dir in
    // .new (a finished write that produced no part files — e.g. an
    // object-store committer on a zero-row job — with _SUCCESS suppressed
    // and _temporary long gone), live dir absent, the superseded prior
    // generation lingering in .old. Built by hand: local Spark pads a
    // zero-partition write with one empty part task, but the committer
    // contract only guarantees "_temporary removed at commit", not
    // ">=1 part file".
    val p = java.nio.file.Paths.get(path)
    val pNew = java.nio.file.Paths.get(path + ".new")
    java.nio.file.Files.createDirectories(pNew)
    AtomicState.overwrite(Seq(9).toDF("v"), path + ".old-src")
    java.nio.file.Files.move(java.nio.file.Paths.get(path + ".old-src"),
      java.nio.file.Paths.get(path + ".old"))
    AtomicState.heal(spark, path)
    assert(Files.exists(p), "heal must roll the committed empty generation forward")
    assert(!Files.exists(pNew))
    assert(!Files.exists(java.nio.file.Paths.get(path + ".old")))
    assert(partFiles(p).isEmpty,
      "the committed EMPTY generation must survive; rolling back to .old here " +
        "would resurrect superseded state")
  }
}
