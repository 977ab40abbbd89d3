package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's one staging policy: every cache and every eager checkpoint
  * in `src/main/scala` goes through this object, so the storage level, the
  * measured-bytes gate and the release rule are each decided in one place.
  *
  * Lifecycle rule: a staged frame either escapes or it does not.
  *  - A frame that a method RETURNS lazily (its result plan reads the
  *    cache) is caller-owned and is released by the session's
  *    `spark.catalog.clearCache()` (the q49 convention: Bench, Verify and
  *    PlanDump clear between queries, SparkTestBase after every test). A
  *    long-lived library session calling such a method repeatedly must
  *    `clearCache()` between calls, or one cached frame accumulates per
  *    call.
  *  - A frame that does not escape (an ingest trigger, an iterative loop)
  *    is staged inside [[using]], which releases it in `finally`, so a
  *    trigger or round that fails mid-way leaves no cache behind.
  */
object Stage {

  /** The one storage level for every [[cache]]: `spark.graft.cache.level`
    * (any `StorageLevel.fromString` name; default MEMORY_AND_DISK).
    *
    * Why a knob: the round-11 memory-pressure probe measured the flagship
    * as the registry's first HARD failure under a tight heap (4 GiB over
    * the 100× replica) — not a graceful spill. Mechanism: 32 task slots
    * concurrently UNROLLING ~50 MB cached partitions pin unified storage
    * memory (in-progress unroll buffers are not evictable), so a
    * downstream HashAggregate's first page allocation sees an empty
    * execution pool and dies with UNABLE_TO_ACQUIRE_MEMORY got-0 —
    * Spark's documented cache-under-pressure rough edge, reproduced in
    * `bench_records/r11_mem_*.json`. DISK_ONLY keeps every cache's
    * single-evaluation contract while taking cache pages out of the
    * contended unified region — the setting a memory-tight deployment
    * runs with, and the probe's verified mitigation.
    */
  private def level(spark: SparkSession): StorageLevel =
    StorageLevel.fromString(spark.conf.get("spark.graft.cache.level", "MEMORY_AND_DISK"))

  /** Persist `df` at [[level]]; returns `df` itself (`persist` is `this.type`). */
  def cache(df: DataFrame): DataFrame = df.persist(level(df.sparkSession))

  /** The measured-bytes rule behind [[cacheIfFits]]: the estimated
    * in-memory COLUMNAR footprint, `inputBytes × expansion`, fits the
    * block managers' storage capacity.
    *
    * The constant needs no precision: the measured decision boundary sits
    * A DECADE apart on each side (100× ≈ 1.4 GB estimated vs ~4.3 GB
    * capacity at the 8 GiB heap — persist, measured-safe in r16; 1000× ≈
    * 14 GB vs the same 4.3 GB — recompute, the r16-fatal configuration),
    * so only an order-of-magnitude error could flip a decided case.
    */
  private[graft] def fits(inputBytes: BigInt, storageBytes: BigInt, expansion: Long): Boolean =
    inputBytes * expansion <= storageBytes

  /** [[cache]] `df` only when it [[fits]]; otherwise return it unstaged, so
    * each consumer recomputes it (the q78 recompute-beats-persist
    * convention as a memory guard). Why a gate, not a level (measured,
    * r16 MemPressure at the 1000× decade / 8 GiB heap): SQL caching builds
    * COLUMNAR batches per task, and `ColumnBuilder.ensureFreeSpace` on a
    * string-array column is heap-fatal at 32-way concurrency regardless of
    * storage level — DISK_ONLY dies identically, because the columnar
    * BUILD precedes the store.
    *
    *  - `inputBytes` is `source`'s plan `stats.sizeInBytes` — known without
    *    running a job (file-scan stats propagate through the fixture
    *    unions). `source` is the frame `df` derives from, measured before
    *    the derivation widens it; a source without file stats (an RDD-backed
    *    frame) estimates at `spark.sql.defaultSizeInBytes` and recomputes.
    *  - `expansion` is compressed-parquet → in-memory-columnar bytes for the
    *    derived column: `6 · shingleSize` for shingles (text decompresses
    *    ~3–4× out of parquet, every token heads one `shingleSize`-token
    *    shingle, and the columnar string-array build carries ~1.5×
    *    offset/slack overhead), 6 for token arrays (1-shingles).
    *  - `storageBytes` is the block managers' max storage capacity
    *    (`getExecutorMemoryStatus`), i.e. the unified region — the pool the
    *    columnar BUILD allocates from. Per-executor capacities aggregate as
    *    min × count, not the sum: the failure is per-executor, so a
    *    heterogeneous fleet is judged by its SMALLEST member — equal to the
    *    sum on homogeneous clusters and in local mode.
    */
  def cacheIfFits(df: DataFrame, expansion: Long, source: DataFrame): DataFrame = {
    val inputBytes = source.queryExecution.optimizedPlan.stats.sizeInBytes
    val caps = df.sparkSession.sparkContext.getExecutorMemoryStatus.values.map(_._1)
    if (fits(inputBytes, BigInt(caps.min) * caps.size, expansion)) cache(df) else df
  }

  /** Eager local checkpoint that BOUNDS plan statistics as well as lineage.
    * State-sized inputs only (labels, centroid tables).
    *
    * Spark 4.1's `Dataset.localCheckpoint` truncates the logical plan to a
    * `LogicalRDD` but copies the ORIGIN plan's `Statistics` onto it (so the
    * checkpointed frame stays broadcast-eligible). In an iterative loop that
    * is a triple-exponential time bomb: with CBO off, every inner join's
    * `sizeInBytes` is the PRODUCT of its children's
    * (`SizeInBytesOnlyStatsPlanVisitor.default`), so a round that joins the
    * previous labels three times estimates `size(edges) * size(labels)^3`,
    * and the checkpoint carries that product into the next round — the
    * BigInt's digit count roughly TRIPLES per round (measured: 6 -> 21 ->
    * 66 -> ... -> 4,013,782 digits by round 12, with planning stuck in
    * Toom-Cook multiplication for hours by round ~14). Convergence in <= ~10
    * rounds masks it; a graph whose diameter needs more rounds hangs the
    * DRIVER at any data scale — found by the sf1 scale run, where q48's
    * embedding graph chained deeper than sf0.1's.
    *
    * Fix: re-wrap the materialized RDD through the public
    * `createDataFrame(rdd, schema)`, whose fresh `LogicalRDD` carries NO
    * origin stats and falls back to `spark.sql.defaultSizeInBytes` —
    * per-round estimates stay bounded forever. Cost: an
    * InternalRow->Row->InternalRow conversion per downstream read of the
    * checkpoint — negligible on state-sized frames. The inflated origin
    * stats were already far past every broadcast threshold after round one,
    * so no broadcast opportunity is lost either.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Run `body`, then release `frames` whether it returned or threw — the
    * owner of every cache that does not escape its method. Release is
    * non-blocking and idempotent, so a frame released early inside `body`
    * (or never materialized) is fine.
    */
  def using[T](frames: DataFrame*)(body: => T): T =
    try body
    finally frames.foreach(_.unpersist(false))
}
