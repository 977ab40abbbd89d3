package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.llm.Dedup

/** The OPERATIONAL form of incremental near-dup
  * ([[graft.llm.Dedup.incrementalMinhashPairs]], q41): a `foreachBatch`
  * ingest loop that probes every arriving micro-batch against the
  * persisted LSH index of everything ingested so far, writes the verified
  * near-dup pairs to an output table, and folds the batch's own artifacts
  * into the index for the next trigger.
  *
  * Index layout (plain parquet — readable by any later batch job):
  * `<indexDir>/bands` holds (id, band_id, band_hash) rows
  * ([[Dedup.bandFrame]]), `<indexDir>/shingles` holds (id, shingles) rows
  * ([[Dedup.shingleFrame]], needed for exact-Jaccard verification). Both
  * grow by one directory per trigger; at 100 TB they are exactly the
  * artifacts a batch backfill would bucket/compact
  * ([[graft.sources.Compaction]]).
  *
  * The trigger protocol (stage, read the committed index, probe, write
  * pairs, fold the batch in, release) is [[PairIndex.ingest]]'s and its
  * replay safety [[StateLog]]'s; this object declares the two tables and
  * the pair function ([[Dedup.incrementalMinhashPairsFromArtifacts]]).
  *
  * Batch shape per trigger: sign the batch once (persisted), one probe
  * join against the index bands (index-side hot-bucket cap applies), one
  * within-batch self-join (capped), one verification join — the q41 plan,
  * with per-trigger cost scaling in the batch, never the corpus.
  */
object StreamingNearDedup {

  /** The index tables and their compaction sort keys: bands range-laid on
    * the probe key, shingles on id.
    */
  private val SortKeys = Seq(
    "shingles" -> Seq("id"),
    "bands" -> Seq("band_id", "band_hash", "id"))

  /** Run one ingest step: write verified pairs touching `batch` to
    * `pairsDir`, then fold the batch's bands+shingles into `indexDir`.
    * Usable directly on any batch DataFrame. Returns the number of pairs
    * written (the one bounded driver-side value an ingest monitor wants
    * per trigger), 0 for a replayed `batchId`. The `foreachBatch` use:
    * `stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
    * StreamingNearDedup.ingestBatch(b, id, "doc_id", "text", indexDir,
    * pairsDir); () }.start()`.
    *
    * Measured negative result (r13, bench_records/r13_neardup_smallbatch
    * _100x{,_pruned}.jsonl): broadcast-semi-pruning the index to the
    * batch's band keys before the cap window — the "obvious" fix for the
    * full-index exchange — made every trigger ~0.5 s SLOWER (the extra
    * per-trigger broadcast job) and did NOT flatten the observed growth,
    * because the measured O(index) term at fixed batch size is the
    * ACCUMULATED FILE COUNT (scan planning over ~20 new part files per
    * trigger), not the band-key shuffle (16-byte rows; ~0.4 s at 2M rows).
    * The operational answer is [[compactIndex]], not a plan change — so
    * the probe keeps the shared-exchange q41 plan unmodified.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      indexDir: String,
      pairsDir: String,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxBucketSize: Int = 10000): Long = {
    val shingled = Dedup.shingleFrame(batch, idCol, textCol, shingleSize)
    val bands = Dedup.bandFrame(Dedup.withSignature(shingled, numHashes), numHashes, rowsPerBand)
    // shingles first: the bands derive from them and read their cache
    PairIndex.ingest(batchId, indexDir, pairsDir, Seq("shingles" -> shingled, "bands" -> bands)) {
      (index, staged) => Dedup.incrementalMinhashPairsFromArtifacts(
        index("bands"), index("shingles"), staged("bands"), staged("shingles"),
        threshold, maxBucketSize)
    }
  }

  /** Compact the LSH index — the maintenance step the ingest
    * loop needs at scale, and the MEASURED answer to the r13 small-batch
    * ladder: with fixed 5k-doc triggers against the 100× corpus,
    * per-trigger cost crept ~+5% per 2M index rows, and the growth term
    * is the index's accumulating part files (~20 per trigger; scan
    * planning + footer reads are O(files) every trigger), not any shuffle
    * — see `bench_records/r13_neardup_smallbatch_100x*.jsonl`. Each index
    * table is rewritten to ~`targetFileBytes` files — bands range-laid on
    * (band_id, band_hash) and shingles on id, so row-group min/max
    * pruning works on the probe keys afterwards — as one [[StateLog]]
    * generation ([[PairIndex.compact]]), so a crash mid-compaction never
    * loses the index (the at-rest analogue of q63's partition
    * compaction). Returns table → files written.
    *
    * At 100 TB this runs on whatever maintenance cadence keeps file count
    * bounded (e.g. every N triggers, as the r13 ladder in
    * `bench_records/r13_neardup_smallbatch_100x_compact20.jsonl` ran it);
    * ingest keeps adding batch directories between compactions, exactly
    * like any log-structured store.
    *
    * Second measured lesson (same r13 probe, `_compact20` run): the
    * compacted layout must still FAN OUT across the executor slots. A
    * first cut compacted the whole index toward the 128 MB target — one
    * file per table at probe scale — and `files.maxPartitionBytes` then
    * capped every later index scan at 1–2 input splits: triggers ran
    * ~30% SLOWER than against the uncompacted small-file mess (7.6 →
    * 10.9 s median). So the file count floors at `minFiles` (default:
    * `defaultParallelism`) whenever the table has at least that many
    * bytes; the byte target only takes over once the table outgrows
    * `minFiles × targetFileBytes` — which a 100 TB index always has,
    * making the floor a no-op exactly where the 128 MB convention is
    * right.
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      targetFileBytes: Long = 128L << 20,
      minFiles: Int = 0): Map[String, Int] =
    PairIndex.compact(spark, indexDir, SortKeys, targetFileBytes, minFiles)
}
