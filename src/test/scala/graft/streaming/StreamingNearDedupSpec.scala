package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase

class StreamingNearDedupSpec extends SparkTestBase {
  import spark.implicits._

  /** The pairs output as a plain reader sees it, without the `batch_id`
    * column its directory layout adds.
    */
  private def pairsIn(pairsDir: String) =
    spark.read.parquet(pairsDir).drop("batch_id").as[(Long, Long, Double)]

  test("foreachBatch ingest loop: each micro-batch probes the grown index, artifacts accumulate") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-neardup").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"

    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDS().toDF("doc_id", "text")
    val query = docs.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamingNearDedup.ingestBatch(b, id, "doc_id", "text", indexDir, pairsDir); ()
      }
      .start()
    try {
      // trigger 1: empty index — only the within-batch exact dup pairs
      ms.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"),
        (10L, "completely different content about spark engines"))
      query.processAllAvailable()
      val after1 = pairsIn(pairsDir).collect().toSet
      assert(after1.map(p => (p._1, p._2)) == Set((1L, 2L)),
        s"first batch must find only its internal dup, got $after1")

      // trigger 2: doc 3 repeats doc 1's content — the index probe must
      // pair it with BOTH already-ingested copies; doc 4 matches nothing
      ms.addData(
        (3L, "the quick brown fox jumps over the lazy dog"),
        (4L, "unrelated text that matches nothing at all"))
      query.processAllAvailable()
      val after2 = pairsIn(pairsDir).collect().toSet
      assert(after2.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)),
        s"index probe must emit the cross pairs, got $after2")
      assert(after2.filter(p => p._2 == 3L).forall(_._3 == 1.0),
        "identical content must verify at jaccard 1.0")

      // the index holds every ingested doc's artifacts: 5 docs x 4 bands
      assert(spark.read.parquet(s"$indexDir/bands").count() == 20)
      assert(spark.read.parquet(s"$indexDir/shingles")
        .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 10L))
    } finally query.stop()
  }

  test("ingest loop resumes from checkpoint: unprocessed data flows, processed batches don't replay") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-neardup-recovery").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    val ckpt = s"${tmp.getAbsolutePath}/ckpt"
    val ms = MemoryStream[(Long, String)]

    def startQuery() = ms.toDS().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamingNearDedup.ingestBatch(b, id, "doc_id", "text", indexDir, pairsDir); ()
      }
      .start()

    val q1 = startQuery()
    try {
      ms.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart on the SAME checkpoint: the committed first batch must not
    // replay (its pairs would duplicate), new data must flow
    val q2 = startQuery()
    try {
      ms.addData((3L, "the quick brown fox jumps over the lazy dog"))
      q2.processAllAvailable()
      val pairs = pairsIn(pairsDir).collect().map(p => (p._1, p._2)).toSeq
      assert(pairs.sorted == Seq((1L, 2L), (1L, 3L), (2L, 3L)),
        s"restart must neither replay batch 1 nor drop batch 2, got $pairs")
      assert(spark.read.parquet(s"$indexDir/shingles")
        .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L),
        "index must hold each doc's artifacts exactly once")
    } finally q2.stop()
  }

  test("replay of an already-ingested batch never emits self-pairs") {
    // at-least-once: the replayed batch id is committed, so the trigger is
    // skipped; a doc id arriving again under a NEW id still never pairs
    // with itself (the id-inequality predicate on the probe join)
    val tmp = Files.createTempDirectory("graft-neardup-replay").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (9L, "completely different content about spark engines")).toDF("doc_id", "text")
    StreamingNearDedup.ingestBatch(batch, 0L, "doc_id", "text", indexDir, pairsDir)
    // redeliver the exact same batch (crash-after-commit replay)
    assert(StreamingNearDedup.ingestBatch(batch, 0L, "doc_id", "text", indexDir, pairsDir) == 0L)
    assert(pairsIn(pairsDir).collect().toSeq.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      "a replayed batch id must write nothing")
    StreamingNearDedup.ingestBatch(batch, 1L, "doc_id", "text", indexDir, pairsDir)
    val pairs = pairsIn(pairsDir).collect().toSeq
    assert(pairs.forall(p => p._1 != p._2),
      s"a re-sent doc must not produce self-pairs, got $pairs")
  }

  test("ingestBatch returns the per-trigger pair count (the monitor signal)") {
    val tmp = Files.createTempDirectory("graft-ingest-count").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    assert(StreamingNearDedup.ingestBatch(b1, 0L, "doc_id", "text", indexDir, pairsDir) == 0L)
    val b2 = Seq((2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    assert(StreamingNearDedup.ingestBatch(b2, 1L, "doc_id", "text", indexDir, pairsDir) == 1L)
  }

  test("compactIndex: fewer files, identical rows, and ingest continues against the compacted index") {
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft-neardup-compact").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    def parts(sub: String): Int =
      Files.walk(java.nio.file.Paths.get(s"$indexDir/$sub")).iterator().asScala
        .count(_.getFileName.toString.startsWith("part-"))
    def rows(sub: String) = spark.read.parquet(s"$indexDir/$sub").drop("batch_id", "gen")
    // several triggers -> a small-file mess, the state the maintenance step
    // exists for
    (0 until 5).foreach { i =>
      val b = Seq((i * 2L, s"alpha beta gamma delta epsilon zeta doc$i"),
        (i * 2L + 1L, s"totally different words here nothing shared at all run$i"))
        .toDF("doc_id", "text")
      StreamingNearDedup.ingestBatch(b, i.toLong, "doc_id", "text", indexDir, pairsDir)
    }
    val bandsBefore = rows("bands").collect().map(_.toSeq).toSet
    val shinglesBefore = rows("shingles").select("id").as[Long].collect().toSet
    val filesBefore = parts("bands")
    val written = StreamingNearDedup.compactIndex(spark, indexDir)
    assert(written("bands") >= 1 && written("shingles") >= 1)
    assert(parts("bands") < filesBefore,
      s"compaction must shrink the ${filesBefore}-file append mess")
    // compaction is a no-op on the data
    assert(rows("bands").collect().map(_.toSeq).toSet
      == bandsBefore, "band rows must survive compaction bit-for-bit")
    assert(rows("shingles").select("id").as[Long].collect().toSet == shinglesBefore)
    // the loop keeps working: a new doc matching an OLD one still pairs
    // through the compacted index
    val b6 = Seq((100L, "alpha beta gamma delta epsilon zeta doc0"))
      .toDF("doc_id", "text")
    val n = StreamingNearDedup.ingestBatch(b6, 5L, "doc_id", "text", indexDir, pairsDir)
    assert(n >= 1L, "probe against the compacted index must still find the near-dup")
  }

  /** One pair-index ingest loop, driven by (id, content class) rows:
    * rows of one class are duplicates, rows of different classes pair
    * with nothing. `tables` are the loop's index tables.
    */
  private case class Loop(
      name: String, tables: Seq[String],
      ingest: (Seq[(Long, Int)], Long, String, String) => Long,
      compact: String => Unit)

  private val loops = Seq(
    Loop("near-dup", Seq("bands", "shingles"), (rows, batchId, indexDir, pairsDir) => {
      val text = Seq("the quick brown fox jumps over the lazy dog",
        "completely different content about spark engines")
      StreamingNearDedup.ingestBatch(rows.map { case (id, k) => (id, text(k)) }
        .toDF("doc_id", "text"), batchId, "doc_id", "text", indexDir, pairsDir)
    }, StreamingNearDedup.compactIndex(spark, _)),
    Loop("semantic", Seq("vectors"), (rows, batchId, indexDir, pairsDir) => {
      val emb = Seq(Seq(1f, 0f), Seq(0f, 1f))
      StreamingSemanticDedup.ingestBatch(rows.map { case (id, k) => (id, emb(k), 0) }
        .toDF("vec_id", "embedding", "label"), batchId, "vec_id", "embedding", "label",
        indexDir, pairsDir)
    }, StreamingSemanticDedup.compactIndex(spark, _)),
    Loop("image", Seq("bands"), (rows, batchId, indexDir, pairsDir) => {
      val dhash = Seq(0L, -1L) // 64 bits apart: no band in common
      StreamingImageDedup.ingestBatch(rows.map { case (id, k) => (id, dhash(k)) }
        .toDF("id", "dhash"), batchId, indexDir, pairsDir)
    }, StreamingImageDedup.compactIndex(spark, _)))

  /** The distinct ids in one index table, read through the log. */
  private def indexed(indexDir: String, table: String): Seq[Long] =
    StateLog(spark, indexDir).read(s"$indexDir/$table").get
      .select("id").distinct().as[Long].collect().sorted.toSeq

  test("ingest heals an interrupted compaction swap instead of probing an empty index") {
    import java.nio.file.Paths
    loops.foreach { loop =>
      val tmp = Files.createTempDirectory(s"graft-${loop.name}-heal").toFile
      val indexDir = s"${tmp.getAbsolutePath}/index"
      val pairsDir = s"${tmp.getAbsolutePath}/pairs"
      loop.ingest(Seq((1L, 0), (9L, 1)), 0L, indexDir, pairsDir)
      // a compactIndex that crashed after its write, before its commit, on
      // EVERY table: a full copy of each sits in an unnamed generation
      val seq = StateLog(spark, indexDir).last.seq
      loop.tables.foreach { t =>
        LogProbes.copyTree(Paths.get(s"$indexDir/$t/batch_id=0"),
          Paths.get(s"$indexDir/$t/gen=${seq + 1}"))
      }
      // next trigger: it probes the committed index — the cross pair, once
      val n = loop.ingest(Seq((3L, 0)), 1L, indexDir, pairsDir)
      assert(n == 1L, s"${loop.name}: the committed index must yield the cross pair once")
      val pairs = spark.read.parquet(pairsDir).select("id_a", "id_b")
        .as[(Long, Long)].collect().toSeq
      assert(pairs == Seq((1L, 3L)), s"${loop.name}: got $pairs")
      loop.compact(indexDir)
      loop.tables.foreach { t =>
        assert(indexed(indexDir, t) == Seq(1L, 3L, 9L),
          s"${loop.name}: no $t row may be lost across the crashed compaction")
        assert(Files.list(Paths.get(s"$indexDir/$t")).count() == 1L,
          s"${loop.name}: the next compaction deletes the unnamed $t generation")
      }
    }
  }

  test("a trigger whose commit is lost reruns to the uninterrupted answer") {
    loops.foreach { loop =>
      def run(crash: Boolean): (Long, Set[(Long, Long)], Map[String, Long]) = {
        val tmp = Files.createTempDirectory(s"graft-${loop.name}-lost").toFile
        val indexDir = s"${tmp.getAbsolutePath}/index"
        val pairsDir = s"${tmp.getAbsolutePath}/pairs"
        loop.ingest(Seq((1L, 0), (9L, 1)), 0L, indexDir, pairsDir)
        val b1 = Seq((3L, 0), (4L, 1))
        if (crash) LogProbes.commitLost(indexDir)(loop.ingest(b1, 1L, indexDir, pairsDir))
        val n = loop.ingest(b1, 1L, indexDir, pairsDir)
        val pairs = spark.read.parquet(pairsDir).select("id_a", "id_b").as[(Long, Long)]
          .collect()
        assert(pairs.length == pairs.toSet.size, s"${loop.name}: duplicate pairs ${pairs.toSeq}")
        (n, pairs.toSet, loop.tables.map(t => t ->
          StateLog(spark, indexDir).read(s"$indexDir/$t").get.count()).toMap)
      }
      assert(run(crash = true) == run(crash = false), loop.name)
    }
  }

  test("a trigger whose pairs append fails leaves no cache behind") {
    // a crash mid-trigger: the batch artifacts and pairs are cached and the
    // pairs counted, then the pairs write fails (`pairsDir` is an
    // existing regular file). Every cache is the trigger's own.
    loops.foreach { loop =>
      val tmp = Files.createTempDirectory(s"graft-${loop.name}-fail").toFile
      val indexDir = s"${tmp.getAbsolutePath}/index"
      val pairsFile = new java.io.File(tmp, "pairs")
      Files.write(pairsFile.toPath, Array[Byte](1))
      spark.catalog.clearCache()
      intercept[Exception](loop.ingest(Seq((1L, 0), (2L, 0)), 0L, indexDir, pairsFile.getAbsolutePath))
      assert(!new java.io.File(indexDir).exists(),
        s"${loop.name}: the batch must not be folded into the index after a failed pairs write")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"${loop.name}: a failed trigger leaked its caches")
    }
  }
}
