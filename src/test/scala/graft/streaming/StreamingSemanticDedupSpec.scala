package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase

class StreamingSemanticDedupSpec extends SparkTestBase {
  import spark.implicits._

  // block 0: e1=(1,0); e2=(1,0) identical; e3=(0,1) orthogonal
  private def vec(x: Float, y: Float) = Seq(x, y)

  /** The pairs output as a plain reader sees it, without the `batch_id`
    * column its directory layout adds.
    */
  private def pairsIn(pairsDir: String) =
    spark.read.parquet(pairsDir).drop("batch_id").as[(Long, Long, Double)]

  test("foreachBatch ingest loop: each trigger probes the grown vector index") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-semdup").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"

    val ms = MemoryStream[(Long, Seq[Float], Int)]
    val vecs = ms.toDS().toDF("vec_id", "embedding", "label")
    val query = vecs.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        StreamingSemanticDedup.ingestBatch(b, id, "vec_id", "embedding", "label", indexDir, pairsDir)
        ()
      }
      .start()
    try {
      // trigger 1: empty index — only the within-batch identical pair
      ms.addData((1L, vec(1, 0), 0), (2L, vec(1, 0), 0), (3L, vec(0, 1), 0))
      query.processAllAvailable()
      val after1 = pairsIn(pairsDir).collect().toSet
      assert(after1 == Set((1L, 2L, 1.0)),
        s"first batch must find only its internal dup, got $after1")

      // trigger 2: vec 4 repeats vec 1's direction — the index probe must
      // pair it with BOTH ingested copies; vec 5 (other block) matches none
      ms.addData((4L, vec(2, 0), 0), (5L, vec(1, 0), 1))
      query.processAllAvailable()
      val after2 = pairsIn(pairsDir).collect().toSet
      assert(after2 == Set((1L, 2L, 1.0), (1L, 4L, 1.0), (2L, 4L, 1.0)),
        s"index probe must emit the cross pairs, block-confined, got $after2")

      // the index holds every ingested vector exactly once
      assert(spark.read.parquet(s"$indexDir/vectors")
        .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 5L))
    } finally query.stop()
  }

  test("replay of an already-ingested batch never emits self-pairs") {
    val tmp = Files.createTempDirectory("graft-semdup-replay").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    val batch = Seq(
      (1L, vec(1, 0), 0), (2L, vec(1, 0), 0), (9L, vec(0, 1), 0))
      .toDF("vec_id", "embedding", "label")
    StreamingSemanticDedup.ingestBatch(
      batch, 0L, "vec_id", "embedding", "label", indexDir, pairsDir)
    // redeliver the exact same batch (crash-after-commit replay): skipped
    assert(StreamingSemanticDedup.ingestBatch(
      batch, 0L, "vec_id", "embedding", "label", indexDir, pairsDir) == 0L)
    assert(pairsIn(pairsDir).collect().toSeq == Seq((1L, 2L, 1.0)))
    // the same vectors again under a NEW batch id: no self-pair, and one
    // trigger writes each pair at most once
    StreamingSemanticDedup.ingestBatch(
      batch, 1L, "vec_id", "embedding", "label", indexDir, pairsDir)
    val pairs = pairsIn(pairsDir).collect().toSeq
    assert(pairs.forall(p => p._1 != p._2),
      s"a re-sent vector must not produce self-pairs, got $pairs")
    assert(pairs.size <= 2, s"per-trigger dedup violated: $pairs")
  }

  test("compactIndex rewrites the vector index without changing what later triggers find") {
    val tmp = Files.createTempDirectory("graft-semdup-compact").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    val ctrlIndexDir = s"${tmp.getAbsolutePath}/ctrl-index"
    val ctrlPairsDir = s"${tmp.getAbsolutePath}/ctrl-pairs"
    val b1 = Seq((1L, vec(1, 0), 0), (2L, vec(0, 1), 0)).toDF("vec_id", "embedding", "label")
    val b2 = Seq((3L, vec(1, 0), 0), (4L, vec(0, 1), 1)).toDF("vec_id", "embedding", "label")
    val b3 = Seq((5L, vec(2, 0), 0), (6L, vec(0, 3), 1)).toDF("vec_id", "embedding", "label")
    Seq((indexDir, pairsDir), (ctrlIndexDir, ctrlPairsDir)).foreach { case (idx, prs) =>
      StreamingSemanticDedup.ingestBatch(b1, 0L, "vec_id", "embedding", "label", idx, prs)
      StreamingSemanticDedup.ingestBatch(b2, 1L, "vec_id", "embedding", "label", idx, prs)
    }
    // maintenance on one lineage only; the control keeps the raw appends
    val written = StreamingSemanticDedup.compactIndex(spark, indexDir)
    assert(written("vectors") >= 1, s"compaction must rewrite the vectors table, got $written")
    assert(spark.read.parquet(s"$indexDir/vectors").count() == 4,
      "compaction is a row-level no-op on the index")
    StreamingSemanticDedup.ingestBatch(b3, 2L, "vec_id", "embedding", "label", indexDir, pairsDir)
    StreamingSemanticDedup.ingestBatch(b3, 2L, "vec_id", "embedding", "label", ctrlIndexDir, ctrlPairsDir)
    val compacted = pairsIn(pairsDir).collect().toSet
    val control = pairsIn(ctrlPairsDir).collect().toSet
    assert(compacted == control,
      s"post-compaction probe must find the same pairs: $compacted vs $control")
    assert(compacted.map(p => (p._1, p._2)).contains((1L, 5L)),
      "the cross pair through the compacted index must be present")
  }

  test("ingest heals an interrupted compaction swap instead of probing an empty index") {
    import java.nio.file.Paths
    val tmp = Files.createTempDirectory("graft-semdup-heal").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    val vectorsPath = s"$indexDir/vectors"
    val b1 = Seq((1L, vec(1, 0), 0), (2L, vec(0, 1), 0)).toDF("vec_id", "embedding", "label")
    StreamingSemanticDedup.ingestBatch(b1, 0L, "vec_id", "embedding", "label", indexDir, pairsDir)
    // a compaction that crashed after its write, before its commit: a full
    // copy of the index sits in a generation directory no entry names
    val seq = StateLog(spark, indexDir).last.seq
    LogProbes.copyTree(Paths.get(s"$vectorsPath/batch_id=0"), Paths.get(s"$vectorsPath/gen=${seq + 1}"))
    // next trigger: it probes the committed index — the cross pair, once
    val b2 = Seq((3L, vec(1, 0), 0)).toDF("vec_id", "embedding", "label")
    val n = StreamingSemanticDedup.ingestBatch(
      b2, 1L, "vec_id", "embedding", "label", indexDir, pairsDir)
    assert(n == 1L, "the committed index must yield the cross pair once")
    val pairs = pairsIn(pairsDir).collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 3L)), s"got $pairs")
    StreamingSemanticDedup.compactIndex(spark, indexDir)
    assert(StateLog(spark, indexDir).read(vectorsPath).get.select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L), "no vector may be lost or doubled")
    assert(Files.list(Paths.get(vectorsPath)).count() == 1L,
      "the next compaction deletes the unnamed generation")
  }

  test("ingestBatch returns the per-trigger pair count (the monitor signal)") {
    val tmp = Files.createTempDirectory("graft-semdup-count").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    val b1 = Seq((1L, vec(3, 4), 0)).toDF("vec_id", "embedding", "label")
    assert(StreamingSemanticDedup.ingestBatch(
      b1, 0L, "vec_id", "embedding", "label", indexDir, pairsDir) == 0L)
    val b2 = Seq((2L, vec(6, 8), 0)).toDF("vec_id", "embedding", "label")
    assert(StreamingSemanticDedup.ingestBatch(
      b2, 1L, "vec_id", "embedding", "label", indexDir, pairsDir) == 1L)
  }
}
