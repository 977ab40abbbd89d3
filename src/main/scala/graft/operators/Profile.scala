package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic table profiling — the reference's per-property completeness idea
  * (`event_verify.py:186-208`) generalized to ANY table: per column, the
  * row total, non-null count, null percentage, and distinct-value count.
  *
  * Shape: one independent global aggregate per column (total, non-null,
  * distinct over the column cast to string), the |cols| one-row results
  * unioned — no unpivot, no Generate. Each branch scans only its own
  * column and partial-aggregates before its shuffle, and the branches are
  * independent stages the scheduler runs concurrently. Values are compared
  * as strings only INSIDE count/count-distinct — the cast is injective per
  * column, so engine-specific number formatting can never reach the
  * output. At 100 TB each branch's shuffle carries that column's distinct
  * values after partial aggregation.
  *
  * Assumes a SOURCE-BACKED input (a table scan, as every registered caller
  * passes): each branch re-evaluates `df`'s plan, so a derived or costly
  * input recomputes its upstream |cols| times, and a non-deterministic
  * one can give per-column totals from different evaluations. Persist
  * such an input before profiling it.
  */
object Profile {

  /** One row per DISTINCT name in `cols`, in first-occurrence order: a
    * repeated name profiles once instead of emitting duplicate rows.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile requires at least one column")
    // One INDEPENDENT global aggregate per column, unioned (r19
    // optimization round, guide §2.2/§2.6), replacing the single
    // explode-of-structs unpivot + groupBy(col_name): the unpivot
    // multiplied every row ×|cols| through a Generate and shipped a
    // (col_name, value)-keyed partial-distinct map whose every key
    // carried the column-name string alongside the value. Per-column
    // aggregates scan just their own column (parquet column pruning per
    // branch — same total I/O, no Generate), keep the distinct map keyed
    // on the bare value, and the |cols| branches are independent AQE
    // stages the scheduler runs concurrently. Measured at sf0.1 (q27,
    // subset A/B median-of-5): 3.62 → 1.54 s. Output values identical:
    // count/count(value)/count_distinct over column c's rows are the
    // same numbers whichever side of the unpivot they're computed on.
    // Column names still pass as values (lit), never into SQL text, so
    // backtick/quote names keep working. The `total > 0` filter pins the
    // empty-input contract of the groupBy form: an empty table profiles
    // to ZERO rows, not |cols| all-zero rows.
    val perCol = cols.distinct.map { c =>
      df.select(col("`" + c.replace("`", "``") + "`").cast("string").as("value"))
        .agg(
          count(lit(1)).as("total"),
          count(col("value")).as("non_null"),
          count_distinct(col("value")).as("n_distinct"))
        .select(lit(c).as("col_name"), col("total"), col("non_null"),
          col("n_distinct"))
    }
    perCol.reduce(_.unionAll(_))
      .filter(col("total") > 0)
      .withColumn("null_pct",
        (col("total") - col("non_null")) * 100.0 / col("total"))
  }

  /** Per-group Pearson correlation and sample covariance, EXACT-co-moment
    * form: built-in `corr`/`covar_samp` accumulate double co-moments in
    * shuffle order, so no oracle can match them bit-for-bit at any
    * parallelism — instead the five sums (n, Σx, Σy, Σxy, Σx², Σy²) run
    * through exact DECIMAL aggregation (order-independent), and the
    * textbook closed forms evaluate per-row in doubles: identical inputs →
    * identical IEEE operations → identical bits, both engines. The same
    * move as the q25 DECIMAL money sums, one moment higher.
    *
    * Inputs go through DECIMAL(12,4) — values up to 10^8 at 4 decimals,
    * products DECIMAL(25,8) with ten orders of row-count headroom, and
    * every product stays under Spark's 38-digit cap (no silent
    * allowPrecisionLoss truncation). The DuckDB twin declares
    * DECIMAL(19,4) instead: DuckDB executes a decimal multiply in the
    * OPERANDS' physical domain and demands the product fit it, so
    * int64-backed inputs overflow on an 18-digit-plus product — 19 digits
    * forces the int128 path. Same exact scale-4 values either way; only
    * the representation differs. One shuffle, partial-aggregated; output
    * one row per group. Degenerate groups (n < 2 or zero variance) yield
    * null corr/covar via the nullif guards.
    *
    * COMPLETE-CASE semantics, like the built-ins: a row contributes only
    * when BOTH values are non-null after the cast — `n` and every sum see
    * the same row set, so a null x (or a value beyond the DECIMAL domain,
    * which Spark's non-ANSI cast nulls) excludes the whole pair instead of
    * silently corrupting the co-moments with a mismatched count.
    */
  def correlation(
      df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val bothPresent =
      col(xCol).cast("decimal(12,4)").isNotNull &&
        col(yCol).cast("decimal(12,4)").isNotNull
    val x = when(bothPresent, col(xCol)).cast("decimal(12,4)")
    val y = when(bothPresent, col(yCol)).cast("decimal(12,4)")
    val agg = df.groupBy(col(groupCol)).agg(
      count(x).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).cast("decimal(38,8)").as("sxy"),
      sum(x * x).cast("decimal(38,8)").as("sxx"),
      sum(y * y).cast("decimal(38,8)").as("syy"))
    val n = col("n").cast("double")
    val (sx, sy) = (col("sx").cast("double"), col("sy").cast("double"))
    val (sxy, sxx, syy) =
      (col("sxy").cast("double"), col("sxx").cast("double"), col("syy").cast("double"))
    val cxy = n * sxy - sx * sy
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    // greatest(·, 0) before nullif: the closed-form variances are exact in
    // DECIMAL, but the double round-off of vx/vy can turn a near-constant
    // group's product slightly NEGATIVE, and sqrt(negative) is NaN — the
    // clamp folds that case into the documented null contract instead.
    // (The DuckDB twin applies the identical greatest/nullif chain.)
    agg.select(
      col(groupCol), col("n"),
      round(cxy / sqrt(nullif(greatest(vx * vy, lit(0.0)), lit(0.0))), 6)
        .as("corr"),
      round(cxy / nullif(n * (n - 1), lit(0.0)), 6).as("covar_samp"))
  }

  /** Per-group winsorization: clip a numeric column to its group's
    * [pLo, pHi] exact interpolated percentiles — the outlier-taming
    * transform (fat-finger prices, runaway quality scores) that profiling
    * and quantiles feed. Output: the input columns plus `clipped`.
    *
    * The corpus-statistic-filter pattern as a TRANSFORM: one corpus
    * shuffle computes the |groups|-row bounds table, which then broadcasts
    * back onto the corpus (never a second corpus-wide shuffle — audited).
    * `least`/`greatest` over doubles are per-row order statements, and the
    * interpolated percentile is oracle-safe (the q36 argument), so the
    * result is bit-deterministic. Percentile memory is O(distinct values
    * per group) — at unbounded cardinality the documented switch is
    * `approx_percentile`, same plan shape.
    *
    * The bounds join is NULL-SAFE (`<=>`): groupBy produces a bounds row
    * for the null group, and a transform has no business deleting rows —
    * a plain equi-join would silently drop every null-group row. (The
    * DuckDB twin mirrors with IS NOT DISTINCT FROM.)
    */
  def winsorize(
      df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(0 <= pLo && pLo <= pHi && pHi <= 1, "need 0 <= pLo <= pHi <= 1")
    // Both bounds from ONE array-percentile aggregate (the q36 fusion,
    // r18 optimization round): two scalar `percentile`s buffer the
    // group's value multiset twice and ship two copies through the
    // exchange; the array form shares one buffer and interpolates both
    // percentages from it with identical arithmetic — same doubles,
    // half the aggregate state (measured 2.66→1.7–1.9 s at sf0.1,
    // subset A/B medians, OPTIMIZATION_r18.md).
    val bounds = df.groupBy(col(groupCol)).agg(
      percentile(col(valueCol), array(lit(pLo), lit(pHi))).as("__b"))
      .select(col(groupCol).as("__grp"),
        element_at(col("__b"), 1).as("__lo"),
        element_at(col("__b"), 2).as("__hi"))
    df.join(broadcast(bounds), col(groupCol) <=> col("__grp"))
      .withColumn("clipped",
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__grp", "__lo", "__hi")
  }

  /** Fixed-width histogram of a numeric column — the distribution view
    * next to [[profile]]'s counts and the q36 quantiles: bucket
    * `floor(value / width)`, plus its inclusive lower bound and the row
    * count. Empty buckets are absent (a dense grid would join a generated
    * series, the q39 gap-fill shape, when a consumer needs it).
    *
    * `floor` of an IEEE division is a per-row scalar both engines compute
    * identically, so the doubles are oracle-safe (the q36 argument — no
    * aggregation-order dependence). One shuffle on the bucket key, counts
    * partial-aggregate map-side; output is |buckets| rows, bounded by the
    * value range, never data volume. Nulls drop (no bucket).
    */
  def histogram(df: DataFrame, valueCol: String, width: Double): DataFrame = {
    require(width > 0, "width must be positive")
    df.select(floor(col(valueCol) / width).cast("long").as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", (col("bucket") * width).cast("double"))
      .select("bucket", "lo", "n")
  }
}
