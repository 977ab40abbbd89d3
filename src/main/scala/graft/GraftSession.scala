package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place that knows what a graft
  * session must carry. A user switching from the reference job builds their
  * session here and every native function (`cosine_sim`, `word_hits`,
  * `minhash_sigs`, `json_shred`) and engine convention (UTC, nanos-as-long
  * parquet timestamps) is in force; Bench and Verify build theirs the same
  * way, so the measured configuration IS the shipped configuration.
  */
object GraftSession {

  /** Configuration the engine requires for correctness. */
  val required: Map[String, String] = Map(
    // native Catalyst expressions register through the extension
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // all oracle comparisons and window arithmetic assume UTC
    "spark.sql.session.timeZone" -> "UTC",
    // the corpus parquet carries TIMESTAMP(NANOS); read as long ns
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Scale defaults for cluster runs, set explicitly rather than relied on:
    * AQE re-plans at runtime (partition coalescing after filters, skew-join
    * splitting under hot keys) — at 100 TB that beats any static tuning of
    * `spark.sql.shuffle.partitions`.
    */
  val scaleDefaults: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Generated-class cache (static conf, default 100 entries): a pipeline
    // running many distinct operators — this library's query registry, each
    // query compiling several WholeStageCodegen/expression units — overflows
    // 100 entries and then RE-COMPILES every unit on every execution
    // (measured: the r13 interleaved bench, which cycled the whole registry
    // between samples instead of repeating one query back-to-back, rose
    // 63.5 → 94.3 s total on an idle box purely from per-sample Janino
    // recompiles; see BASELINE.md round-13 protocol note). 5000 entries
    // keeps every unit warm at bounded memory — generated classes are
    // small, and on a 1000-executor cluster the same eviction would bite
    // every task launch after any workload mix wider than 100 units.
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** A builder carrying [[required]] + [[scaleDefaults]]; callers add
    * master/app/site config and `getOrCreate()`.
    */
  def builder(): SparkSession.Builder =
    (required ++ scaleDefaults).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Local session shaped like the driver harness: `local[cores]` with
    * shuffle partitions = cores (not Spark's 200 default — at local scale
    * the empty-partition scheduling overhead dominates; see BASELINE.md).
    *
    * `initialPartitionNum = 8·cores` is the search-tier partition-sizing
    * rule from the r13 memory-pressure ladder, encoded as a derived
    * default instead of the hand-set `spark.sql.shuffle.partitions=256`
    * that fixed it (r13 VERDICT ask #5): q16i's survivor sort at 4 GiB ×
    * the 100× replica needs partitions sized to heap-per-core, and the
    * right count is DATA-dependent — so let AQE derive it. Exchanges
    * start at 8·cores partitions; `parallelismFirst` (default true)
    * coalesces everything above `minPartitionSize` (1 MiB) back together,
    * so bench-scale stages keep today's grain while corpus-scale sorts
    * keep the fine grain (8× less sort/spill memory per task). Measured:
    * q16i 4 GiB × 100× runs 55 s at 256-grain vs 63 s at 32 — and the
    * hand-set conf is no longer needed (`bench_records/r14_q16i_mem.json`).
    *
    * Priced trade, measured — then bought back: the ITERATIVE-many-small-
    * exchange queries initially paid for the 8× map-side shuffle buckets
    * (q48b +~3 s, q52_oneshot +~1 s at sf0.1; full-registry A/B,
    * r13_base96 vs r14_base96 mins). Later in r14 the CC tier stopped
    * paying it without losing the robustness here: the loop DERIVES its
    * grain from the measured state size and scopes it
    * ([[graft.llm.Dedup.connectedComponents]]), and small graphs bypass
    * the loop entirely (driver union-find under
    * `spark.graft.cc.driverEdgeLimit`) — the r14_final99 record reflects
    * both. This conf remains the right default for exchanges whose size
    * AQE cannot know in advance.
    */
  def local(cores: Int, ui: Boolean = false): SparkSession =
    builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (8 * cores).toString)
      .config("spark.ui.enabled", ui.toString)
      .getOrCreate()
}
