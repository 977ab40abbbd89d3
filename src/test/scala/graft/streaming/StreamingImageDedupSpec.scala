package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase
import graft.fixtures.ImagesFixture
import graft.llm.{MediaRecord, Multimodal}

/** [[StreamingImageDedup]] — the q83 image near-dup operator as a
  * foreachBatch ingest loop. The fixture geometry gives exact expectations:
  * ids sharing `doc_id % 40` (same replica band) are near-dups within
  * Hamming ≤ 6; other ids sit ≥ 10 bits away (ImagesFixture's searched
  * separation), so pair sets are closed-form.
  */
class StreamingImageDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def media(ids: Long*): Seq[MediaRecord] = ids.map { id =>
    val m = ImagesFixture.encodeBmp(id)
    MediaRecord(id, "image", m, m.length.toLong)
  }

  /** The pairs output as a plain reader sees it, without the `batch_id`
    * column its directory layout adds.
    */
  private def pairsIn(pairsDir: String) = spark.read.parquet(pairsDir).drop("batch_id")

  test("foreachBatch loop: each trigger decodes, probes the grown index, folds itself in") {
    implicit val ctx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-imgdedup").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"

    val ms = MemoryStream[MediaRecord]
    val query = ms.toDS().writeStream
      .foreachBatch(StreamingImageDedup.pairSink(indexDir, pairsDir))
      .start()
    try {
      // trigger 1: ids 0 and 40 share pattern 0 (arms 0/1 — one-cell
      // edit, hamming 1-2); id 1 is a far-apart pattern
      ms.addData(media(0L, 40L, 1L): _*)
      query.processAllAvailable()
      val after1 = pairsIn(pairsDir).as[(Long, Long, Long)].collect().toSet
      assert(after1.map(p => (p._1, p._2)) == Set((0L, 40L)),
        s"first batch must find only its internal near-dup, got $after1")

      // trigger 2: id 80 (pattern 0, arm 2) must pair with BOTH indexed
      // copies through the index probe; id 2 (pattern 2) with neither
      ms.addData(media(80L, 2L): _*)
      query.processAllAvailable()
      val after2 = pairsIn(pairsDir).as[(Long, Long, Long)].collect().toSet
      assert(after2.map(p => (p._1, p._2)) == Set((0L, 40L), (0L, 80L), (40L, 80L)),
        s"index probe must emit the cross pairs, got $after2")
      // hamming values carried: the one-cell edit pair is <= 2 bits
      assert(after2.find(p => (p._1, p._2) == ((0L, 40L))).get._3 <= 2L)

      // the index holds every decoded image's bands: 5 images x 8 bands
      assert(spark.read.parquet(s"$indexDir/bands").count() == 40)
    } finally query.stop()
  }

  test("replay of an already-ingested batch never emits self-pairs; cumulative set is stable") {
    val tmp = Files.createTempDirectory("graft-imgdedup-replay").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    val hashes = Multimodal.imageHashes(media(0L, 40L).toDS())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n1 = StreamingImageDedup.ingestBatch(hashes, 0L, indexDir, pairsDir)
    assert(n1 == 1L, "first ingest finds the within-batch pair")
    // at-least-once: the SAME batch id replays and is skipped
    assert(StreamingImageDedup.ingestBatch(hashes, 0L, indexDir, pairsDir) == 0L)
    assert(pairsIn(pairsDir).as[(Long, Long, Long)].collect().toSeq.map(p => (p._1, p._2))
      == Seq((0L, 40L)), "a replayed batch id must write nothing")
    // the same images under a NEW batch id: their bands already sit in the
    // index, so without the id-inequality guard each image would pair
    // with its own indexed copy
    val n2 = StreamingImageDedup.ingestBatch(hashes, 1L, indexDir, pairsDir)
    val pairs = pairsIn(pairsDir).as[(Long, Long, Long)].collect().toSeq
    assert(pairs.forall(p => p._1 != p._2), s"self-pairs leaked: $pairs")
    assert(pairs.map(p => (p._1, p._2)).distinct == Seq((0L, 40L)),
      s"a re-sent batch must re-find only the true pair: $pairs")
    assert(n2 == 1L)
    hashes.unpersist()
  }

  test("cumulative incremental pairs equal the one-shot imageDupPairs, across a compaction") {
    // the image-ladder equivalence at spec scale: a 360-image corpus
    // spanning 3 REPLICA BANDS (ids k·10⁶ + j, k < 3, j < 120 — so each
    // band carries its own 40 mixed pattern families with every edit arm
    // populated; ids 0–119 alone would all sit in band 0 and never
    // exercise the per-band mix in the streaming path) split into 4
    // hash-slices and ingested sequentially, with a compaction
    // mid-stream, must end with exactly the pair set the one-shot q83
    // operator computes on the full corpus.
    val tmp = Files.createTempDirectory("graft-imgdedup-equiv").toFile
    val indexDir = s"${tmp.getAbsolutePath}/index"
    val pairsDir = s"${tmp.getAbsolutePath}/pairs"
    val ids = for {
      k <- 0L until 3L
      j <- 0L until 120L
    } yield k * ImagesFixture.ReplicaBand + j
    val corpus = media(ids: _*).toDS()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSlices = 4
    (0 until nSlices).foreach { b =>
      val slice = corpus.filter(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64($"id"),
          org.apache.spark.sql.functions.lit(nSlices)) === b)
      StreamingImageDedup.ingestBatch(
        Multimodal.imageHashes(slice), b.toLong, indexDir, pairsDir)
      if (b == 1) StreamingImageDedup.compactIndex(spark, indexDir)
    }
    val incremental = pairsIn(pairsDir).distinct()
    val oneShot = Multimodal.imageDupPairs(corpus)
    val diff = incremental.exceptAll(oneShot).count() +
      oneShot.exceptAll(incremental).count()
    assert(diff == 0L,
      s"cumulative (${incremental.count()}) must equal one-shot (${oneShot.count()})")
    assert(oneShot.count() > 0L, "the equivalence must be on a non-empty pair set")
    // the equivalence must have exercised every band's own families: each
    // band contributes intra-band pairs (both endpoints in the band) and
    // replicas never cross-pair (the r16 fixture's linearity property)
    val typed = incremental.as[(Long, Long, Long)].collect()
    (0L until 3L).foreach { k =>
      val lo = k * ImagesFixture.ReplicaBand
      val hi = lo + ImagesFixture.ReplicaBand
      assert(typed.exists(p => p._1 >= lo && p._1 < hi && p._2 >= lo && p._2 < hi),
        s"band $k contributed no intra-band pairs")
    }
    assert(typed.forall(p =>
      p._1 / ImagesFixture.ReplicaBand == p._2 / ImagesFixture.ReplicaBand),
      "replica bands must not cross-pair")
    corpus.unpersist()
  }
}
