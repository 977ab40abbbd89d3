package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{JsonKeys, KeyPresence}
import graft.sources.{Bucketing, Tables}

/** One registered query: its `name` (the key in Bench's and Verify's
  * output and in the round records — names never change), its `build`
  * function, and its DuckDB twin, the SQL whose result the built
  * DataFrame must hash-match.
  *
  * `contrastOf` marks a DELIBERATE scale contrast — a measured negative
  * result kept on the record to anchor BASELINE.md's scale rules — and
  * names the production twin whose design it motivates; the comment on
  * each declaration gives the measured reason. A contrast is still a full,
  * oracle-checked registry member: the mark concerns its SCALE shape only.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    contrastOf: Option[String] = None) {
  require(oracle.trim.nonEmpty, s"$name: blank oracle")
}

/** The query registry — see SURVEY.md §5 (oracle) and §6 (benchmark).
  *
  * `specs` is the registry: one [[QuerySpec]] per query, declared in
  * `CoreQueries`, `PipelineQueries` and `LlmQueries`. Every query has a
  * DuckDB oracle; `queries` and `oracleSql` are name-keyed views of it.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference's whole job end-to-end: latest-version spec select →
    * key-presence + value-completeness metrics → 13-column report
    * (`event_verify.py:215-231`), in the scalable single-plan mode.
    */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.eventsReport(spark, "/root/testdata/sf0.001")

  def specs: Seq[QuerySpec] =
    CoreQueries.specs ++ PipelineQueries.specs ++ LlmQueries.specs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap

  def oracleSql: Map[String, String] = specs.map(s => s.name -> s.oracle).toMap

  /** The query selection Bench, Verify and PlanDump share: the registry
    * sorted by name, filtered to the names containing one of the
    * comma-separated substrings in `only` (`"q05,q07"`). Unset, empty (an
    * unset shell interpolation) or all-blank (`" , "`) selects the full
    * registry — the only form the driver uses.
    */
  def select(only: Option[String]): Seq[QuerySpec] = {
    val subs = only.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    specs.sortBy(_.name).filter(s => subs.isEmpty || subs.exists(s.name.contains))
  }
}

/** Core operator queries (SURVEY.md §2 inventory) over the synthetic
  * test corpus, each mirrored by ANSI SQL for the DuckDB oracle.
  */
object CoreQueries {

  /** q01 — S1/P1/F2/F3/A1/A2/J1/O1: per-event key presence vs totals.
    *
    * `array_distinct` matches the reference's merged-keys dedup
    * (`event_verify.py:85-86`) and pins duplicate-key JSON semantics to the
    * oracle's (DuckDB `json_keys` dedups; Spark `json_object_keys` doesn't).
    */
  def keyPresence(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    KeyPresence.keyCounts(ev, array_distinct(JsonKeys.keysOf(col("props"))), "event_type")
      .select(
        col("event_type"),
        col("exploded_key").as("prop_key"),
        col("key_count"),
        col("total_records"))
  }

  private val lineitemCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")

  /** q27 — generic per-column profile over `lineitem` (totals, nulls,
    * distincts): the reference's completeness metrics generalized to any
    * table. `l_shipdate` is excluded: the nanos-as-long read makes its
    * STRING form engine-specific, and profiling compares value strings.
    */
  def profileLineitem(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(Tables.lineitem(spark, dir), lineitemCols)

  /** Money-column cast: all monetary sums go through DECIMAL(18,2) so the
    * aggregation is EXACT and therefore order-independent — a double sum's
    * value depends on partial-aggregation order, which no oracle can match
    * at shuffle parallelism. Cast back to double only after aggregating.
    */
  private def dec(c: String) = col(c).cast("decimal(18,2)")

  /** q25 — TPC-H Q1-shaped pricing summary over `lineitem`: the canonical
    * multi-aggregate scan→partial-agg→final-agg shape. One shuffle on the
    * 2-value group key, everything else map-side.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** q26 — TPC-H Q5-shaped local-supplier volume: the 6-table star join.
    * `nation`/`region` are broadcast (tiny dims stay tiny at any SF);
    * `lineitem⋈orders⋈customer⋈supplier` shuffle on their keys — the shape
    * AQE + (optionally) orderkey bucketing optimizes at 100 TB.
    */
  def marketVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
        .cast("double").as("revenue"))

  /** q37 — ROLLUP of the q25 pricing summary: subtotal rows per
    * `l_returnflag` and a grand total alongside the leaf groups, tagged by
    * `grouping_id` (bitmask, leftmost rollup column = MSB — the standard
    * `GROUPING(a, b)` encoding DuckDB shares). Spark lowers rollup to one
    * Expand + the same partial-agg/shuffle as a flat groupBy — ×3 map-side
    * rows here, still one shuffle, so the 100 TB shape is q25's.
    */
  def pricingRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("count_order"),
        grouping_id().as("gid"))

  /** q38 — pivot, the inverse of the V1 `stack` unpivot: per return flag,
    * one quantity-sum column per line status. Values are EXPLICIT
    * (`Seq("F", "O")`): without them Spark first runs a distinct scan to
    * discover pivot columns AND the output schema becomes data-dependent —
    * both wrong at 100 TB. With pinned values this is a flat groupBy with
    * conditional aggregates, one shuffle.
    */
  def pricingPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec("l_quantity")).cast("double"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")

  /** q36 — per-group EXACT interpolated quantiles over `lineitem` (the
    * numeric half of profiling, next to q27's counts). Spark `percentile`
    * and DuckDB `quantile_cont` share the definition (index p·(n−1), linear
    * interpolation) and are empirically bit-identical on this data, so the
    * doubles are oracle-safe — unlike double SUMS, interpolation between
    * two sorted elements has no aggregation-order dependence. Scale note:
    * exact percentile buffers each group's value multiset (Spark keeps a
    * value→count map per group, so memory is O(distinct values per group)
    * — bounded here); when values are unbounded at 100 TB the switch is
    * `approx_percentile` with an error budget, same plan shape.
    */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    // The four price percentiles are ONE array-percentile aggregate, not
    // four scalar ones (r18 optimization round, guide §2.3): Spark's
    // `Percentile` buffers the group's full value→count multiset PER
    // AGGREGATE EXPRESSION, so the scalar form built four identical
    // OpenHashMaps over l_extendedprice per group and shipped four copies
    // of that buffer through the exchange — measured 4.97→1.5–2.0 s at
    // sf0.1 (subset A/B medians, OPTIMIZATION_r18.md; plan: 5
    // partial_percentile buffers → 2). The array form computes
    // every requested percentage from one shared buffer with the same
    // interpolation arithmetic, so the output doubles are bit-identical
    // (oracle-verified) and only the buffer count changes.
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.99))).as("__pp"),
        percentile(col("l_quantity"), lit(0.5)).as("qty_p50"))
      .select(
        col("l_returnflag"),
        element_at(col("__pp"), 1).as("price_p25"),
        element_at(col("__pp"), 2).as("price_p50"),
        element_at(col("__pp"), 3).as("price_p75"),
        element_at(col("__pp"), 4).as("price_p99"),
        col("qty_p50"))

  /** q54 — CUBE of the q25 pricing summary: every grouping-set combination
    * (leaf, per-flag, per-status, grand total) in one pass, tagged by
    * `grouping_id` like q37's rollup. Spark lowers cube to one Expand (×4
    * map-side rows for 2 columns) + the same single shuffle as a flat
    * groupBy — the 100 TB cost is the Expand fan-out, 2^k for k cube
    * columns, which is why this stays at 2.
    */
  def pricingCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("count_order"),
        grouping_id().as("gid"))

  /** q55 — event-time sequence analytics per user: `lag` inter-event gap
    * plus a sliding 4-row moving sum of `value`. One shuffle on the user
    * key; the two frames become two chained Window nodes, but the shared
    * (partition, order) means the second reuses the first's exchange AND
    * sort (audited), and per-user state is one frame, never the whole
    * partition.
    *
    * The moving sum goes through DECIMAL(18,6): a bounded-frame DOUBLE sum
    * is evaluation-ORDER-dependent, and engines disagree on that order
    * (Spark folds the frame linearly; DuckDB aggregates sliding frames
    * through a segment tree) — exact decimal addition is associative, so
    * the cast makes the sum bit-stable in both, then one cast back.
    * Ordering ties break on event_id (same ts can repeat within a user).
    * Time is µs (`ts div 1000`), the q30/q31 convention — DuckDB reads
    * this parquet's TIMESTAMP(NANOS) at µs precision.
    */
  def movingStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("tus"), col("value"))
      .withColumn("gap_us", col("tus") - lag("tus", 1).over(w))
      .withColumn("val_sum4",
        sum(col("value").cast("decimal(18,6)"))
          .over(w.rowsBetween(-3, Window.currentRow)).cast("double"))
      .drop("value")
  }

  /** q56 — strictly-ordered signup→view→purchase funnel over `events`
    * ([[graft.operators.Cohorts.funnel]]): one row of per-stage user
    * counts + conversion ratios vs the signup anchor. Time is µs
    * (`ts div 1000`), the q30/q31/q55 convention.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Cohorts.funnel(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tus")),
      "user_id", "event_type", "tus", Seq("signup", "view", "purchase"))

  /** q57 — weekly cohort retention over `events`
    * ([[graft.operators.Cohorts.retention]]): users cohorted by first-seen
    * week (epoch-µs week number), distinct-user count per
    * (cohort_week, week_offset) cell.
    */
  def retention(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Cohorts.retention(
      Tables.events(spark, dir)
        .select(col("user_id"), expr("ts div 1000").as("tus")),
      "user_id", "tus", 604800000000L)
      .withColumnRenamed("cohort_period", "cohort_week")
      .withColumnRenamed("period_offset", "week_offset")

  /** q59 — event-type transition matrix over `events`
    * ([[graft.operators.Cohorts.transitions]]): per-user ordered pairs via
    * `lead`, (from, to) counts + row-normalized probabilities. Ties break
    * on event_id, time is µs — the q55 conventions.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Cohorts.transitions(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("tus")),
      "user_id", "event_type", "tus", "event_id")

  /** q61 — per-flag Pearson correlation + sample covariance of
    * (l_quantity, l_extendedprice) ([[graft.operators.Profile.correlation]],
    * exact-DECIMAL co-moments so the doubles are oracle-safe).
    */
  def priceQtyCorrelation(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.correlation(
      Tables.lineitem(spark, dir), "l_returnflag", "l_quantity", "l_extendedprice")

  /** q60 — per-flag winsorization of `l_extendedprice` at [p01, p99]
    * ([[graft.operators.Profile.winsorize]]): the outlier-clipping
    * transform over the same quantile machinery as q36.
    */
  def winsorizePrices(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.winsorize(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice")),
      "l_returnflag", "l_extendedprice", 0.01, 0.99)

  /** q58 — fixed-width histogram of `l_extendedprice`
    * ([[graft.operators.Profile.histogram]], width 1000): the distribution
    * view next to q27's profile and q36's quantiles.
    */
  def priceHistogram(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.histogram(
      Tables.lineitem(spark, dir), "l_extendedprice", 1000.0)

  /** q67 — urgent-order revenue by order status, with the lineitem side
    * Bloom-pruned ([[graft.operators.BloomPrune.prunedJoin]]) to orders
    * that survive the priority filter BEFORE any lineitem shuffle. The
    * regime this models at 100 TB: `orders` after a selective filter is
    * far past the broadcast ceiling but its KEY SET fits a sketch, so the
    * petabyte side drops ~4/5 of its rows at the scan instead of
    * exchanging them. Pruning is semantically invisible (no false
    * negatives + exact residual join), so the oracle is the plain join —
    * the operator's correctness contract IS the query's correctness.
    * `expectedItems` is sized for ~sf10 urgent-order counts; past it the
    * sketch merely over-admits (fpp degrades, result identical).
    */
  def bloomPrunedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"))
    graft.operators.BloomPrune
      .prunedJoin(fact, "l_orderkey", dim, "o_orderkey", expectedItems = 1 << 19)
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // ---- q69: bucketed co-located join ------------------------------------

  private val BucketCount = 8

  /** Per-JVM bucket-table root: the registration lives in this JVM's
    * session catalog, so the files must too — a path shared across JVMs
    * lets a concurrent process's `mode(Overwrite)` delete files this
    * JVM's catalog still points at (observed as FILE_NOT_EXIST mid-scan).
    */
  private lazy val bucketRoot: String =
    java.nio.file.Files.createTempDirectory("graft-bucketed").toString

  /** q69 — the write-once / join-many layout ([[graft.sources.Bucketing]]):
    * `orders` and `lineitem` land ONCE as tables bucketed+sorted on the
    * order key, and the fact⋈fact revenue join then plans with zero
    * Exchange on either side (`BucketingSpec` pins the plan) — at 100 TB
    * the per-query shuffle of the two largest warehouse tables is traded
    * for one ingest-time shuffle. The first call per session pays the
    * bucketed write (ingest's job, not the query's); subsequent joins
    * reuse the layout through the session catalog.
    *
    * Values are layout-independent, so the DuckDB twin is the plain join
    * — the oracle checks the join's algebra while the spec checks what
    * bucketing is FOR (the absent Exchange).
    */
  def bucketedRevenue(spark: SparkSession, dir: String): DataFrame = {
    // The tag is an INJECTIVE encoding of the full path, not a hash — a
    // collision between two data dirs would silently serve the first
    // dir's tables. The catalog lowercases identifiers, so uppercase
    // can't pass through as itself (a bare .toLowerCase would collide
    // /data/A with /data/a); instead every char outside [a-z0-9] is
    // escaped as "_" + its hex code point ("_" always introduces a
    // fixed-width hex group, so decoding is unambiguous and distinct
    // paths always get distinct tags).
    val tag = dir.flatMap {
      case c if (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') => c.toString
      case c if c < 256 => f"_${c.toInt}%02x"
      case c => f"_u${c.toInt}%04x"
    }
    val (ordersTbl, itemsTbl) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    val base = s"$bucketRoot/$tag"
    if (!spark.catalog.tableExists(ordersTbl) || !spark.catalog.tableExists(itemsTbl)) {
      Bucketing.writeBucketed(
        Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        ordersTbl, BucketCount, Seq("o_orderkey"), Seq("o_orderkey"),
        Some(s"$base/orders"))
      Bucketing.writeBucketed(
        Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
        itemsTbl, BucketCount, Seq("l_orderkey"), Seq("l_orderkey"),
        Some(s"$base/lineitem"))
    }
    Bucketing.readBucketed(spark, itemsTbl)
      .join(Bucketing.readBucketed(spark, ordersTbl), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // ---- q71: z-order (Morton) codes --------------------------------------

  /** q71 — the z-value computation behind [[graft.sources.ZOrder]]'s
    * two-dimensional clustering, registered so the bit ladder itself is
    * oracle-checked (both engines interleave (user bin, hour bin) with
    * the same mask-and-shift arithmetic). The layout effect — per-file
    * min/max tiles in BOTH dims — is physical, so it lives in
    * `ZOrderSpec`, not here.
    */
  def zOrderCodes(spark: SparkSession, dir: String): DataFrame = {
    // hour bin with FLOOR division (the q57 `(t - pmod(t, p)) div p`
    // trick): Spark's `div` truncates toward zero while the oracle's `//`
    // floors, and pmod only cancels that difference for the modulo, not
    // the division — pre-epoch timestamps would diverge otherwise
    // `div` (integer) not `/` (double): ts ns magnitudes exceed 2^53
    val hourBin = expr("(ts - pmod(ts, 3600000000000)) div 3600000000000")
    Tables.events(spark, dir).select(
      col("event_id"),
      graft.sources.ZOrder.zValue(
        pmod(col("user_id"), lit(65536L)),
        pmod(hourBin, lit(65536L))).as("z"))
  }

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_key_presence", keyPresence,
      """WITH keys AS (
        |  SELECT event_type, unnest(json_keys(props)) AS prop_key FROM events
        |), counts AS (
        |  SELECT event_type, prop_key, count(*) AS key_count
        |  FROM keys GROUP BY 1, 2
        |), totals AS (
        |  SELECT event_type, count(*) AS total_records FROM events GROUP BY 1
        |)
        |SELECT counts.event_type, prop_key, key_count, total_records
        |FROM counts JOIN totals USING (event_type)""".stripMargin),
    QuerySpec("q25_pricing_summary", pricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin),
    QuerySpec("q26_market_volume", marketVolume,
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin),
    QuerySpec("q27_profile", profileLineitem, {
      val arms = lineitemCols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS value FROM lineitem")
      s"""SELECT col_name, count(*) AS total, count(value) AS non_null,
         |  count(DISTINCT value) AS n_distinct,
         |  (count(*) - count(value)) * 100.0 / count(*) AS null_pct
         |FROM (${arms.mkString(" UNION ALL ")})
         |GROUP BY 1""".stripMargin
    }),
    QuerySpec("q30_windowed_key_presence",
      (s, dir) => graft.streaming.WindowedCounts.keyCounts(Tables.events(s, dir), "1 hour"),
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, props FROM events),
        |k AS (SELECT tus, unnest(json_keys(props)) AS prop_key FROM e)
        |SELECT (tus // 3600000000) * 3600000000 AS bucket_us, prop_key,
        |  count(*) AS n_events
        |FROM k GROUP BY 1, 2""".stripMargin),
    QuerySpec("q31_attribution",
      (s, dir) => {
        val events = Tables.events(s, dir)
        graft.streaming.Attribution.attribution(events, events, "1 hour")
      },
      """WITH v AS (SELECT user_id, epoch_ns(ts) // 1000 AS view_us FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS click_us FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_us, click_us
        |FROM v JOIN c ON v.user_id = c.user_id
        | AND click_us > view_us AND click_us <= view_us + 3600000000""".stripMargin),
    QuerySpec("q31b_asof",
      (s, dir) => graft.streaming.Attribution.asOfBatch(Tables.events(s, dir), "1 hour"),
      """WITH v AS (SELECT user_id, epoch_ns(ts) // 1000 AS view_us FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS click_us FROM events WHERE event_type = 'click'),
        |pairs AS (
        |  SELECT v.user_id, view_us, click_us
        |  FROM v JOIN c ON v.user_id = c.user_id
        |   AND click_us > view_us AND click_us <= view_us + 3600000000),
        |ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY user_id, click_us ORDER BY view_us DESC) AS rn FROM pairs)
        |SELECT user_id, click_us, view_us FROM ranked WHERE rn = 1""".stripMargin),
    QuerySpec("q36_quantiles", quantiles,
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.25) AS price_p25,
        |  quantile_cont(l_extendedprice, 0.5) AS price_p50,
        |  quantile_cont(l_extendedprice, 0.75) AS price_p75,
        |  quantile_cont(l_extendedprice, 0.99) AS price_p99,
        |  quantile_cont(l_quantity, 0.5) AS qty_p50
        |FROM lineitem GROUP BY 1""".stripMargin),
    QuerySpec("q37_rollup", pricingRollup,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS count_order,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("q38_pivot", pricingPivot,
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin),
    QuerySpec("q39_gapfill",
      (s, dir) => graft.streaming.WindowedCounts.gapFilledCounts(Tables.events(s, dir), "1 hour"),
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |c AS (SELECT event_type, (tus // 3600000000) * 3600000000 AS bucket_us,
        |  count(*) AS n_events FROM e GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket_us) AS lo, max(bucket_us) AS hi
        |  FROM c GROUP BY 1),
        |g AS (SELECT event_type, unnest(generate_series(lo, hi, 3600000000)) AS bucket_us
        |  FROM s)
        |SELECT g.event_type, g.bucket_us, coalesce(c.n_events, 0) AS n_events
        |FROM g LEFT JOIN c ON g.event_type = c.event_type
        |  AND g.bucket_us = c.bucket_us""".stripMargin),
    QuerySpec("q54_cube", pricingCube,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS count_order,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("q55_moving_stats", movingStats,
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, value FROM events)
        |SELECT event_id, user_id, tus,
        |  tus - lag(tus, 1) OVER w AS gap_us,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS val_sum4
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)""".stripMargin),
    QuerySpec("q56_funnel", funnel,
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events),
        |u AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN tus END) AS t0
        |  FROM e GROUP BY 1),
        |v AS (SELECT e.user_id, min(e.tus) AS t1
        |  FROM e JOIN u ON e.user_id = u.user_id
        |  WHERE e.event_type = 'view' AND e.tus > u.t0 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.tus) AS t2
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.tus > v.t1 GROUP BY 1)
        |SELECT
        |  count(u.t0) AS n_signup,
        |  count(v.t1) AS n_view,
        |  count(p.t2) AS n_purchase,
        |  round(CAST(count(v.t1) AS DOUBLE) / count(u.t0), 6) AS conv_view,
        |  round(CAST(count(p.t2) AS DOUBLE) / count(u.t0), 6) AS conv_purchase
        |FROM u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN p ON u.user_id = p.user_id""".stripMargin),
    QuerySpec("q57_retention", retention,
      """WITH e AS (SELECT user_id,
        |    (epoch_ns(ts) // 1000) // 604800000000 AS period FROM events),
        |f AS (SELECT user_id, min(period) AS cohort_week FROM e GROUP BY 1)
        |SELECT cohort_week, period - cohort_week AS week_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin),
    QuerySpec("q58_histogram", priceHistogram,
      """SELECT CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bucket,
        |  CAST(CAST(floor(l_extendedprice / 1000) AS BIGINT) * 1000 AS DOUBLE) AS lo,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),
    QuerySpec("q59_transitions", transitions,
      """WITH e AS (SELECT user_id, event_type, event_id,
        |    epoch_ns(ts) // 1000 AS tus FROM events),
        |o AS (SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (
        |      PARTITION BY user_id ORDER BY tus, event_id) AS to_type
        |  FROM e),
        |m AS (SELECT from_type, to_type, count(*) AS n
        |  FROM o WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM m""".stripMargin),
    QuerySpec("q60_winsorize", winsorizePrices,
      """WITH b AS (SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.01) AS lo,
        |    quantile_cont(l_extendedprice, 0.99) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |  least(greatest(l_extendedprice, lo), hi) AS clipped
        |FROM lineitem l
        |JOIN b ON l.l_returnflag IS NOT DISTINCT FROM b.l_returnflag""".stripMargin),
    QuerySpec("q61_correlation", priceQtyCorrelation,
      """WITH c AS (SELECT l_returnflag,
        |    CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |      THEN CAST(l_quantity AS DECIMAL(19,4)) END AS xv,
        |    CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |      THEN CAST(l_extendedprice AS DECIMAL(19,4)) END AS yv
        |  FROM lineitem),
        |a AS (SELECT l_returnflag, count(xv) AS n,
        |    sum(xv) AS dsx,
        |    sum(yv) AS dsy,
        |    CAST(sum(xv * yv) AS DECIMAL(38,8)) AS dsxy,
        |    CAST(sum(xv * xv) AS DECIMAL(38,8)) AS dsxx,
        |    CAST(sum(yv * yv) AS DECIMAL(38,8)) AS dsyy
        |  FROM c GROUP BY 1),
        |d AS (SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(dsx AS DOUBLE) AS sx,
        |    CAST(dsy AS DOUBLE) AS sy, CAST(dsxy AS DOUBLE) AS sxy,
        |    CAST(dsxx AS DOUBLE) AS sxx, CAST(dsyy AS DOUBLE) AS syy
        |  FROM a)
        |SELECT l_returnflag, n,
        |  round((nd * sxy - sx * sy) /
        |    sqrt(nullif(greatest(
        |      (nd * sxx - sx * sx) * (nd * syy - sy * sy), 0.0), 0.0)), 6) AS corr,
        |  round((nd * sxy - sx * sy) / nullif(nd * (nd - 1), 0.0), 6) AS covar_samp
        |FROM d""".stripMargin),
    QuerySpec("q67_bloom_pruned_join", bloomPrunedRevenue,
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin),
    QuerySpec("q69_bucketed_join", bucketedRevenue,
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    QuerySpec("q71_zorder", zOrderCodes, {
      val z = graft.sources.ZOrder.zValueSql(
        "user_id % 65536", "(epoch_ns(ts) // 3600000000000) % 65536")
      s"SELECT event_id, $z AS z FROM events"
    })
  )
}
