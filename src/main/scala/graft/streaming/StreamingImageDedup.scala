package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import graft.llm.{Dedup, MediaRecord, Multimodal}

/** The OPERATIONAL form of image near-dup (q83) — the
  * [[StreamingNearDedup]] ingest discipline over perceptual-hash
  * signatures: each arriving micro-batch of media payloads is decoded and
  * dHashed ONCE ([[Multimodal.imageHashes]], the batched mapPartitions
  * decode), probed against the persisted banded signature index of
  * everything ingested so far, verified-pair rows written to an output
  * table, and the batch's own banded rows folded into the index for the
  * next trigger.
  *
  * Index layout (plain parquet, readable by any later batch job):
  * `<indexDir>/bands` holds (id, sk, band, bv) rows
  * ([[Dedup.simhashBandFrame]] of the 64-bit dHashes). ONE table — unlike
  * the lexical loop's bands+shingles split, the signature is its own
  * verifier, so the probe join carries everything the exact Hamming check
  * needs. One directory per trigger; [[compactIndex]] is the maintenance
  * step, through the same [[StateLog]], and [[Dedup
  * .incrementalSimhashPairsFromArtifacts]] shares the one-shot q64/q83
  * banding machinery, so batch and streaming blocking semantics cannot
  * drift.
  *
  * The trigger protocol is [[PairIndex.ingest]]'s and its replay safety
  * [[StateLog]]'s; this object declares the one table and the pair
  * function, whose id-inequality guard keeps an image id that arrives
  * twice from pairing with its own indexed copy.
  *
  * Batch shape per trigger: one decode pass over the batch, one
  * band-bucket probe join against the index (index side capped per
  * bucket), one within-batch self-join (capped) — per-trigger cost scales
  * with the batch, never the corpus, the claim `StreamingSpec`'s
  * cumulative ≡ one-shot check and the kill-and-resume spec pin.
  */
object StreamingImageDedup {

  /** Run one ingest step over an already-hashed batch frame (id, dhash):
    * write verified pairs touching the batch to `pairsDir`, fold the
    * batch's banded rows into `indexDir`. Returns the number of pairs
    * written, 0 for a replayed `batchId`. Kept hash-frame-shaped so specs
    * and backfills can drive it without binary payloads; [[pairSink]] adds
    * the decode step.
    */
  def ingestBatch(
      batchHashes: DataFrame,
      batchId: Long,
      indexDir: String,
      pairsDir: String,
      bits: Int = 64,
      bands: Int = 8,
      maxHamming: Int = 6,
      maxBucketSize: Int = 10000): Long = {
    val sigs = batchHashes.select(col("id"), col("dhash").as("sk"))
    PairIndex.ingest(batchId, indexDir, pairsDir,
        Seq("bands" -> Dedup.simhashBandFrame(sigs, bits, bands))) { (index, staged) =>
      Dedup.incrementalSimhashPairsFromArtifacts(
        index("bands"), staged("bands"), maxHamming, maxBucketSize)
    }
  }

  /** Compact the band index — [[StreamingNearDedup
    * .compactIndex]]'s contract on the single signature table: rewritten
    * range-laid on the probe key (band, bv) so row-group pruning works,
    * file count floored at `minFiles`, one [[StateLog]] generation
    * ([[PairIndex.compact]]).
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      targetFileBytes: Long = 128L << 20,
      minFiles: Int = 0): Int =
    PairIndex.compact(spark, indexDir, Seq("bands" -> Seq("band", "bv", "id")),
      targetFileBytes, minFiles)("bands")

  /** The `foreachBatch` function over a [[MediaRecord]] stream: decode +
    * dHash the batch, then [[ingestBatch]].
    */
  def pairSink(
      indexDir: String,
      pairsDir: String,
      bits: Int = 64,
      bands: Int = 8,
      maxHamming: Int = 6,
      maxBucketSize: Int = 10000): (Dataset[MediaRecord], Long) => Unit =
    (batch, id) => {
      ingestBatch(Multimodal.imageHashes(batch),
        id, indexDir, pairsDir, bits, bands, maxHamming, maxBucketSize)
      ()
    }
}
