package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, LongType, StructField, StructType}

import graft.Stage

/** Join-strategy choice for [[Similarity.nearestInBlock]]: explicit
  * broadcast / salted-shuffle, or auto-sized at construction time (runs one
  * eager `count()` job — see the method's scaladoc).
  */
sealed trait JoinStrategy
object JoinStrategy {
  case object Auto extends JoinStrategy
  case object Broadcast extends JoinStrategy
  case object Salted extends JoinStrategy
}

/** Similarity search over an embedding column (`array<float>`).
  *
  * All math is done in DOUBLE with a sequential fold so results are
  * bit-reproducible across engines (verified against DuckDB's
  * `list_dot_product` on DOUBLE[]). Scores are rounded to 6 decimals
  * before ranking so rank order never hinges on sub-ulp differences;
  * remaining ties break on neighbor id.
  *
  * Scoring goes through the native fused kernel
  * ([[graft.functions.CosineSimilarity]], registered as `cosine_sim` by
  * [[graft.GraftExtensions]]) — one allocation-free codegen loop per pair
  * instead of the composable `aggregate(zip_with(...))` chain, with
  * bit-identical numerics. Every [[graft.GraftSession]] installs the
  * extension, so the composable forms ([[dot]]/[[norm]]/[[cosine]]) are
  * the tests' reference for the kernel.
  *
  * Scale design: brute-force top-k is the correctness baseline (candidate
  * side × a BROADCAST query set — never an unbroadcast crossJoin); the IVF
  * variant buckets vectors by nearest centroid and searches only the
  * query's bucket, trading recall for a bucket-local join — the standard
  * inverted-file ANN layout (public IVF literature).
  */
object Similarity {

  /** Element-wise double cast (embeddings are float32 at rest). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product in double (composable form). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Composable cosine — bit-identical to [[fusedCosine]]. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The native fused kernel; requires [[graft.GraftExtensions]] on the
    * session (`spark.sql.extensions=graft.GraftExtensions`).
    */
  def fusedCosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  private def vectors(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol).as("id"), asDouble(col(embCol)).as("emb"))

  /** Plan-attached candidate-set metrics for the ANN variants — the recall
    * proxy an operator watches at 100 TB, where re-running brute force to
    * measure true recall is not affordable: `candidate_pairs` (scored
    * (query, candidate) pairs after the bucket join) and `queries_probed`
    * (approx-distinct query ids — `Observation` forbids exact distinct
    * aggregates). candidate_pairs / queries_probed is the average
    * candidate-set size; when it collapses toward k, recall is about to —
    * the same moment the bucketing (nprobe / nPlanes / centroid choice)
    * needs retuning. Computed in the same pass as the join
    * (`Dataset.observe`, zero extra jobs), readable after the first action
    * — the exact mechanism of [[Dedup.candidatePairs]]'s cap metrics.
    */
  private def observeCandidates(pairs: DataFrame, obs: Option[Observation]): DataFrame =
    obs.fold(pairs)(o => pairs.observe(o,
      count(lit(1)).as("candidate_pairs"),
      approx_count_distinct(col("query_id")).as("queries_probed")))

  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("neighbor_id"))
    pairs.withColumn("r", rank().over(w)).filter(col("r") <= k)
      .select("query_id", "neighbor_id", "score")
  }

  /** Brute-force cosine top-k: every candidate row scored against the
    * (broadcast) query set. Exact; the baseline the ANN variant's recall is
    * measured against.
    */
  def bruteForceTopK(
      vectorsDf: DataFrame, idCol: String, embCol: String,
      queryFilter: Column, k: Int): DataFrame = {
    val n = vectors(vectorsDf, idCol, embCol)
    val q = n.filter(queryFilter)
      .select(col("id").as("query_id"), col("emb").as("q_emb"))
    val pairs = n.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("score", round(fusedCosine(col("emb"), col("q_emb")), 6))
      .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    rankTopK(pairs, k)
  }

  /** Centroid-index width of the [[ivfAssign]] packed argmax key: dense
    * centroid ranks occupy the low 41 bits, the shifted rounded score the
    * high 22 (score ∈ [−2, 1] at 6 decimals — the −2.0 degenerate-vector
    * sentinel included — offsets to [0, 3e6] < 2^22;
    * 3e6 × 2^41 + 2^41 − 1 ≈ 6.6e18 stays inside Long). Keeping the packed
    * key NON-NEGATIVE is load-bearing: the decode uses `% IvfIdxCap`,
    * whose sign follows the dividend, so a negative key would decode to a
    * rank outside the centroid set and silently drop the row at the rank
    * join. 2^41 centroids is four orders of magnitude past any IVF list
    * count worth building.
    */
  private val IvfIdxCap = 1L << 41

  /** IVF bucket assignment: nearest centroid by cosine (ties → smaller
    * centroid id). Output: (id, emb, bucket).
    *
    * Argmin as a HASH-AGGREGABLE aggregation, not a window and not a
    * struct-ordered `min_by`: the (score, centroid) choice is packed into
    * ONE BIGINT — `(score_micros + 1e6) · 2^42 + (2^42 − 1 − c_rank)`,
    * with `c_rank` the centroid's dense rank by ascending id — so `max`
    * over it picks exactly the row a `row_number() OVER (ORDER BY score
    * DESC, c_id)` filter would (rank inverts, so the max prefers the
    * SMALLER id on score ties; ranks are unique, so the order is total).
    * Why the packing matters: `min_by(c_id, struct(−score, c_id))` and
    * `any_value(emb)` carry struct/array aggregation buffers, which
    * HashAggregate cannot hold in its fixed-width hash map — Spark
    * silently plans a SortAggregate, and the partial pass then SORTS the
    * full N×|centroids| scored cross product before collapsing it. At the
    * 100× replica (2.4e5 × 4e3 ≈ 10⁹ rows, twice — the q48b self-join
    * evaluates the assignment subplan on both sides) those spilled sorts
    * ran minutes and then OOMed an 8 GiB heap in the spill readers. With
    * the all-BIGINT key the partial HashAggregate collapses the cross
    * product map-side to one row per id before the exchange — no sort, no
    * wide rows in flight, the shape the original scaladoc claimed. The
    * embedding is re-attached by a narrow co-partitioned self-join on id
    * (O(N) rows) and the bucket decodes back through the tiny broadcast
    * rank→id map, keeping the centroid-id column's original type.
    *
    * A window over the CENTROID set (not the corpus) assigns the dense
    * ranks: single-partition by construction, bounded by the same
    * broadcastability contract the assignment join already relies on.
    */
  def ivfAssign(n: DataFrame, centroids: DataFrame): DataFrame = {
    val cw = Window.orderBy("c_id")
    val c = centroids.select(col("id").as("c_id"), col("emb").as("c_emb"))
      .withColumn("c_rank", row_number().over(cw).cast("long") - 1L)
    // Degenerate-vector guard: a zero-norm embedding scores NULL against
    // every centroid (fusedCosine's null-on-zero-division contract), and a
    // mismatched-length pair scores NULL too; either would propagate to a
    // null packed max → null c_rank → the row silently VANISHES from the
    // assignment at the rank join. A NaN reaching the packing (e.g. an
    // Infinity component) would round-cast to 0 — a middling score that
    // can WIN a bucket. Mapping both to −2.0 (below the cosine range)
    // keeps every input row in the output and makes degenerate vectors
    // deterministically LOSE every score comparison, so they land in the
    // smallest-id centroid's bucket via the documented tie-break; the
    // +2e6 offset keeps the packed key non-negative (see [[IvfIdxCap]]).
    // guarded = NaN→−2, NULL→−2, and (ADVICE r12) ±Infinity→−2: Spark's
    // round passes Infinity through, Inf*1e6 casts to Long.MaxValue, and
    // the packing then overflows to a garbage key decoding to an
    // out-of-range rank — the same silent row drop this guard closes.
    // abs(x) > 2 catches exactly the non-finite cases (real cosines are in
    // [−1,1] after round-6; the −2 sentinel itself passes |−2| > 2 = false).
    val guarded = coalesce(
      nanvl(round(fusedCosine(col("emb"), col("c_emb")), 6), lit(-2.0)),
      lit(-2.0))
    val finite = when(abs(guarded) > 2.0, lit(-2.0)).otherwise(guarded)
    val scored = n.join(broadcast(c))
      .select(col("id"),
        ((round(finite * 1e6)
            .cast("long") + 2000000L) * IvfIdxCap
          + (lit(IvfIdxCap - 1L) - col("c_rank"))).as("packed"))
    val picked = scored.groupBy("id").agg(max("packed").as("mx"))
      .select(col("id"), (lit(IvfIdxCap - 1L) - (col("mx") % IvfIdxCap)).as("c_rank"))
    n.join(picked, "id")
      .join(broadcast(c.select(col("c_rank"), col("c_id").as("bucket"))), "c_rank")
      .select(col("id"), col("emb"), col("bucket"))
  }

  /** Bit-stable k-means: Lloyd rounds of [[ivfAssign]] + [[meanPool]]
    * from `seeds`, iterated until the centroid table reaches a FIXED POINT
    * (round r's long-format table identical to round r−1's) or `maxRounds`
    * is hit. Returns the final round's long-format centroid table
    * ([[meanPool]] shape, a local table) plus the number of Lloyd rounds
    * computed.
    *
    * Every intermediate is 6-decimal-rounded exact arithmetic, so the fit
    * is reproducible on any partitioning and cross-engine checkable
    * round-for-round. Because every round is a deterministic function of
    * the incoming centroid table, table equality is a TRUE fixed point:
    * every further round reproduces the same table verbatim. That is what
    * makes the early stop oracle-checkable — an M-round unrolled twin is
    * hash-identical whether the engine stopped at round 3 or ran all M,
    * so the twin never needs to know the stopping round. Classic Lloyd on
    * rounded means needs no tolerance knob for this: assignments are
    * discrete, so once they stop moving the rounded means repeat exactly.
    * Centroids that attract no members drop out (standard Lloyd
    * dead-centroid behavior).
    *
    * Scale shape per round: one broadcast-centroid corpus pass + one
    * (bucket, dim) partial-aggregated exchange, then a driver collect of
    * the K·d-row table — MODEL-sized (the bounded-metadata convention; at
    * the registered geometry ≤ 20×64 rows ≈ 30 KB). The collect is both
    * the convergence signal and the next round's input: the wide centroid
    * table is rebuilt DRIVER-SIDE from those rows (a LocalRelation,
    * sorted by (bucket, dim_pos) — deterministic, order-free), so lineage
    * is cut by construction and no round pays a checkpoint job or a
    * distributed re-aggregation (r18: jobs 74→55 at the q86 geometry).
    *
    * CACHING CONTRACT (ADVICE r18): when more than one round can run,
    * k-means re-reads the full corpus every round — the one case where the
    * repo's recompute-beats-persist default inverts — so this method
    * caches `n` across the rounds and releases it when the loop ends or a
    * round fails ([[graft.Stage.using]]). Callers must NOT pass an
    * already-persisted frame: persist returns `this.type`, so the caller's
    * cache entry would be the one silently dropped on return. Rounds track
    * data GEOMETRY (cluster separation), never corpus size: the scale
    * ladder pins that.
    */
  def kmeansFit(n: DataFrame, seeds: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    require(maxRounds >= 1, "kmeansFit needs at least one Lloyd round")
    val spark = n.sparkSession
    val staged = if (maxRounds > 1) Seq(Stage.cache(n)) else Nil
    var cents = seeds
    var rows: Seq[Row] = null
    var schema: StructType = null
    var rounds = 0
    var converged = false
    Stage.using(staged: _*) {
      while (rounds < maxRounds && !converged) {
        rounds += 1
        val outPlan = meanPool(ivfAssign(n, cents), "bucket", "emb")
        schema = outPlan.schema
        val cur = outPlan.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
        converged = cur == rows
        rows = cur
        if (!converged && rounds < maxRounds) cents = localWideCentroids(spark, rows)
      }
    }
    (spark.createDataFrame(rows.asJava, schema), rounds)
  }

  /** The wide (id, emb) centroid table [[ivfAssign]] broadcasts, rebuilt
    * driver-side from [[meanPool]]'s collected long-format rows (K·d rows,
    * model-sized): group by bucket, order components by dim_pos.
    */
  private def localWideCentroids(spark: SparkSession, rows: Seq[Row]): DataFrame = {
    val wide = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (b, rs) =>
      Row(b, rs.sortBy(_.getLong(1)).map(_.getDouble(2)))
    }
    spark.createDataFrame(wide.asJava, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("emb", ArrayType(DoubleType), nullable = false))))
  }

  /** Prototypicality pruning — the SSL-prototypes / D4 shape (Sorscher
    * et al. 2022 "Beyond neural scaling laws"; Tirumala et al. 2023 D4,
    * both public): refine the seed centroids with ONE Lloyd round (the
    * q81 step — training and scoring share [[ivfAssign]] so they can
    * never disagree), assign every vector to its refined centroid, score
    * each member's PROTOTYPICALITY as its cosine to the centroid, and
    * drop the most-prototypical tail of every cluster — at the
    * abundant-data regime the easy, redundant examples are the ones to
    * shed. Keep rule: proto <= the per-cluster `keepQuantile` exact
    * percentile (round-6, the q49 threshold convention — boundary rows
    * kept in both engines). Output (id, bucket, proto), one row per
    * KEPT vector; degenerate members (zero-norm embedding, or a
    * zero-norm dead centroid) score a null cosine and drop out — nothing
    * prototypical about a vector with no direction.
    *
    * Scale shape: both assignments are the broadcast-centroid row-local
    * pass with the hash-aggregable packed argmin; the proto score is one
    * broadcast join + row-local arithmetic; the threshold is a K-row
    * aggregate broadcast back onto a map-side filter — the corpus never
    * shuffles beyond the assignment's per-id combine. The one honest
    * caveat is the q36/q49 percentile caveat: EXACT per-cluster
    * percentiles buffer member scores per group — at production scale
    * switch to `approx_percentile`, same plan shape.
    *
    * CACHING CONTRACT (ADVICE r18): the narrow (id, bucket, proto) score
    * frame is cached and caller-owned ([[graft.Stage]]'s lifecycle rule).
    */
  def prototypePrune(
      n: DataFrame, seeds: DataFrame, keepQuantile: Double): DataFrame = {
    require(keepQuantile > 0 && keepQuantile < 1,
      s"keepQuantile must be in (0,1), got $keepQuantile")
    // The refined centroid table is K·d-row MODEL-sized, but the `proto`
    // plan below references it THREE times (ivfAssign's scoring broadcast +
    // rank-decode map, plus the c_emb re-attach). Taking it from
    // [[kmeansFit]] makes it a driver-side local table, so the corpus pays
    // the refine exactly once whatever the optimizer does (r18: unstaged,
    // q91 planned 56 parquet scans and 16 centroid-scoring nested loops).
    val (fit, _) = kmeansFit(n, seeds, 1)
    val cents = localWideCentroids(n.sparkSession, fit.collect().toSeq)
    val c = cents.select(col("id").as("bucket"), col("emb").as("c_emb"))
    // `proto` feeds BOTH the per-cluster threshold aggregate and the keep
    // join's probe side — cache it (narrow: id, bucket, proto) or each
    // side re-runs the second corpus assignment.
    val proto = Stage.cache(ivfAssign(n, cents)
      .join(broadcast(c), Seq("bucket"))
      .select(col("id"), col("bucket"),
        round(fusedCosine(col("emb"), col("c_emb")), 6).as("proto")))
    val thr = proto.groupBy("bucket")
      .agg(round(percentile(col("proto"), lit(keepQuantile)), 6).as("thr"))
    proto.join(broadcast(thr), Seq("bucket"))
      .filter(col("proto") <= col("thr"))
      .select(col("id"), col("bucket"), col("proto"))
  }

  /** Bit-deterministic element-wise mean pooling in LONG format: one row
    * per (group, dimension) with the group's 6-decimal mean of that
    * component and the member count — the mean of every [[kmeansFit]]
    * round. The standard use at 100 TB is collapsing per-chunk embeddings
    * to one document/cluster vector (mean pooling) or publishing a
    * centroid table for an external serving tier.
    *
    * Determinism discipline (the q61/q70 pattern): each component is
    * rounded to 6 decimals and cast to DECIMAL(18,6), summed EXACTLY (no
    * shuffle-order dependence), and only then divided in double — so the
    * same rows give the same means on any partitioning, any engine. Scale
    * shape: `posexplode` to (group, dim) rows partial-aggregates map-side
    * before the single |groups|×d exchange — the distributed-k-means
    * aggregation tree; output stays long-format (no collect_list repack)
    * because downstream consumers (and the DuckDB twin) compare
    * per-component.
    *
    * Output: (groupCol, dim_pos: bigint 1-based, mean_val: double 6-dec,
    * n_vecs: bigint).
    */
  def meanPool(vectorsDf: DataFrame, groupCol: String, embCol: String): DataFrame =
    vectorsDf
      .select(col(groupCol), posexplode(asDouble(col(embCol))).as(Seq("pos0", "x")))
      .select(col(groupCol), (col("pos0") + 1).cast("bigint").as("dim_pos"),
        round(col("x"), 6).cast(DecimalType(18, 6)).as("xd"))
      .groupBy(col(groupCol), col("dim_pos"))
      .agg(sum(col("xd")).as("sd"), count(lit(1)).as("n_vecs"))
      // The mean's 6-decimal rounding decides on EXACT INTEGERS, never on
      // a double: round(sum/n, 6) on the (bit-identical) quotient double
      // still diverged cross-engine on ONE sf0.1 row, because a quotient
      // landing on the x.xxxxxx5 tie is resolved from the double's
      // SHORTEST DECIMAL representation by Spark but from its BINARY
      // value by DuckDB. Half-away-from-zero over micro-unit BIGINTs —
      // q = (2·|s| + n) div (2·n), signed — is tie-exact in both engines,
      // and the final /1e6 of an integer is the same nearest-double on
      // both sides. (Round-13 find; the one case the repo's
      // round-after-divide convention cannot cover is a true tie.)
      .withColumn("sI", (col("sd") * 1000000L).cast("long"))
      .withColumn("q0",
        expr("(2 * abs(sI) + n_vecs) div (2 * n_vecs)"))
      .select(col(groupCol), col("dim_pos"),
        (when(col("sI") < 0, -col("q0")).otherwise(col("q0")).cast("double")
          / lit(1000000.0)).as("mean_val"),
        col("n_vecs"))

  /** Scale-adaptive IVF geometry of an `n`-vector corpus (the q16f rule):
    * `kCent` = ⌈√n⌉ centroids, taken as the ids divisible by `stride` =
    * max(1, n / kCent), and [[IvfGeometry.nprobe]] probing a fixed fraction
    * of them. The SQL twins derive the same integer/double arithmetic from
    * `count(*)`.
    */
  final case class IvfGeometry(n: Long, kCent: Long, stride: Long) {
    def nprobe(fraction: Double): Int = math.ceil(fraction * kCent).toInt
  }

  /** [[IvfGeometry]] of `corpus`'s row count (one `count()` job). */
  def ivfGeometry(corpus: DataFrame): IvfGeometry = {
    val n = corpus.count()
    require(n > 0, "adaptive IVF geometry needs a non-empty corpus")
    val kCent = math.ceil(math.sqrt(n.toDouble)).toLong
    IvfGeometry(n, kCent, math.max(1L, n / kCent))
  }

  /** The `nprobe` nearest centroid buckets per query vector (same scoring
    * and tie-break as [[ivfAssign]], so nprobe=1 probes exactly the query's
    * own bucket). Output: (query_id, q_emb, bucket) — one row per probed
    * bucket.
    */
  def probeBuckets(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val c = centroids.select(col("id").as("c_id"), col("emb").as("c_emb"))
    val scored = queries.join(broadcast(c))
      .withColumn("c_score", round(fusedCosine(col("emb"), col("c_emb")), 6))
    val w = Window.partitionBy("id").orderBy(desc("c_score"), col("c_id"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= nprobe)
      .select(col("id").as("query_id"), col("emb").as("q_emb"), col("c_id").as("bucket"))
  }

  /** IVF top-k: search the query's `nprobe` nearest centroid buckets
    * (default 1 = only its own). Recall < 1 by design and is monotone
    * non-decreasing in `nprobe` (probing more buckets only adds candidates);
    * the property test asserts both against [[bruteForceTopK]].
    *
    * Each candidate lives in exactly one bucket, so a (query, candidate)
    * pair can only arise from one probed bucket — no dedup step is needed
    * after the bucket join.
    */
  def ivfTopK(
      vectorsDf: DataFrame, idCol: String, embCol: String,
      queryFilter: Column, centroidFilter: Column, k: Int,
      nprobe: Int = 1,
      candObservation: Option[Observation] = None): DataFrame = {
    val n = vectors(vectorsDf, idCol, embCol)
    val assigned = ivfAssign(n, n.filter(centroidFilter))
    // Split-broadcast discipline (the r13 q16h/q16i rule, applied to the
    // raw-IVF family in r14 after a d=768 probe measured the failure): a
    // SLIM (query_id, bucket) table drives the bucket join; the raw query
    // vector attaches per-QUERY afterwards. The fused form this replaces
    // carried q_emb on every probe row — |Q|·nprobe·d·8 bytes, and with
    // adaptive geometry nprobe = 0.2·√N GROWS with the corpus: at 200k
    // rows × d=768 that broadcast is 4000·90·6 KB ≈ 2.2 GB, a driver OOM
    // (WideDimProbe reproduced it); bounded per-query it is 24 MB.
    val probes = probeBuckets(n.filter(queryFilter), n.filter(centroidFilter),
        nprobe)
      .select(col("query_id"), col("bucket"))
    val qEmb = n.filter(queryFilter)
      .select(col("id").as("query_id"), col("emb").as("q_emb"))
    val pairs = assigned.join(broadcast(probes), Seq("bucket"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(qEmb), Seq("query_id"))
      .withColumn("score", round(fusedCosine(col("emb"), col("q_emb")), 6))
      .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    rankTopK(observeCandidates(pairs, candObservation), k)
  }

  // ---- int8 scalar quantization ----------------------------------------

  /** Per-vector int8 scalar quantization: codes in [0, 255] against the
    * vector's own (min, max) range — the standard 4× storage/scan-bandwidth
    * reduction for embedding columns at rest (public vector-search
    * practice). `lo`/`scale` are rounded to 6 decimals (repo determinism
    * rule) so codes are engine-reproducible; a constant vector (range 0)
    * quantizes to all-zero codes and dequantizes back to `lo` exactly.
    *
    * Composable form: inlined into a single projection, the min/max
    * subtrees re-evaluate per element inside the lambda (O(d²) per row) —
    * hot paths should materialize lo/scale first, as
    * [[quantizedTopK]] does via its dequantized projection.
    */
  def quantizeInt8(emb: Column): Column = {
    val lo = round(array_min(emb), 6)
    val scale = round((array_max(emb) - array_min(emb)) / 255.0, 6)
    val safeScale = when(scale === 0, lit(1.0)).otherwise(scale)
    struct(lo.as("lo"), scale.as("scale"),
      transform(emb, x => least(lit(255), greatest(lit(0),
        round((x - lo) / safeScale, 0).cast("int")))).as("codes"))
  }

  /** Inverse of [[quantizeInt8]] up to quantization error: one double per
    * code, `lo + code · scale`.
    */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"),
      v => q.getField("lo") + v.cast("double") * q.getField("scale"))

  /** Quantize→dequantize round trip with `lo`/`scale` materialized as
    * their own projection FIRST: inside the transform lambda they are then
    * plain bound references. Inlining [[quantizeInt8]]'s struct into one
    * projection would re-evaluate the array_min/array_max subtrees once PER
    * ELEMENT inside the interpreted lambda — O(d²) per row, the same
    * nested-HOF re-evaluation trap BASELINE.md documents for q10b.
    * (CollapseProject keeps the split: multi-referenced non-cheap aliases
    * are not inlined.) Output is bit-identical to
    * `dequantizeInt8(quantizeInt8(...))`.
    */
  private def dequantizedColumn(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val safeScale = when(col("scale") === 0, lit(1.0)).otherwise(col("scale"))
    df.select(col(idCol).as("id"), asDouble(col(embCol)).as("raw"))
      .select(col("id"), col("raw"),
        round(array_min(col("raw")), 6).as("lo"),
        round((array_max(col("raw")) - array_min(col("raw"))) / 255.0, 6).as("scale"))
      .select(col("id"),
        transform(col("raw"), x =>
          col("lo") + least(lit(255), greatest(lit(0),
            round((x - col("lo")) / safeScale, 0).cast("int")))
            .cast("double") * col("scale")).as("emb"))
  }

  /** Brute-force cosine top-k over QUANTIZED vectors: candidates and
    * queries both go through quantize → dequantize before scoring, so this
    * measures exactly what an int8-at-rest index serves. Recall vs
    * [[bruteForceTopK]] is the quantization-error trade, pinned by spec.
    */
  def quantizedTopK(
      vectorsDf: DataFrame, idCol: String, embCol: String,
      queryFilter: Column, k: Int): DataFrame = {
    val n = dequantizedColumn(vectorsDf, idCol, embCol)
    val q = n.filter(queryFilter)
      .select(col("id").as("query_id"), col("emb").as("q_emb"))
    val pairs = n.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("score", round(fusedCosine(col("emb"), col("q_emb")), 6))
      .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    rankTopK(pairs, k)
  }

  // ---- binary (1-bit sign) quantization --------------------------------

  /** Word width of [[signSig]] signatures. 32 bits per 64-bit word keeps
    * every packed value strictly positive (max 2³²−1), so the packing
    * never touches the sign bit — DuckDB's `<<` and Spark's shift agree on
    * [0, 31] unconditionally, and no two's-complement edge case can leak
    * into the oracle compare (the reason the signature is NOT one 64-bit
    * word per 64 dims).
    */
  private val SignWordBits = 32

  /** 1-bit sign quantization: bit `j` of the signature is set iff
    * component `j` of the raw embedding is `> 0` — no rounding step, a
    * single-element comparison is already bit-exact cross-engine (unlike
    * the dot products behind [[lshBucket]], which fold and must round
    * first). Packs ⌈d/32⌉ words of 32 bits each (see [[SignWordBits]]).
    *
    * This is the 32× at-rest/bandwidth reduction of public
    * binary-quantization vector search (sign of each component =
    * hyperplane LSH with the coordinate basis as planes, d planes —
    * Charikar sign-random-projection specialized to axis planes): angle
    * tracks Hamming distance, so a cheap xor/popcount scan ranks
    * candidates and only a small re-rank set ever touches float vectors.
    * A null/absent OR ZERO-LENGTH embedding yields a null signature and
    * drops out of the candidate scan (same contract as the other ANN
    * variants). Zero-length is deliberately poisoned rather than packed
    * as an empty signature: an empty-vs-empty pair would pass a Hamming-0
    * radius cut and reach the exact re-rank with a 0/0 = NaN cosine
    * (which Spark's descending sort ranks FIRST), and the DuckDB twin —
    * whose `list_sum` over an empty list is NULL — would drop the same
    * pair, a latent cross-engine divergence (r13 advisor find). An empty
    * embedding carries no signal; excluding it is the only semantics both
    * engines express naturally. (The zero-length branch also guards the
    * ANSI trap: unguarded, the word-count expression is −1,
    * `sequence(0,−1)` DESCENDS — the same trap
    * [[graft.llm.TextStats.bpeMergeStep]] documents — and `element_at`
    * throws on indices −31..0.) Against any real signature the kernel's
    * length-mismatch null-poisoning drops mixed-dimension pairs.
    *
    * Plan-size note (the q16g lesson): the packing is ONE
    * transform+aggregate tree whose node count is constant in `d` — the
    * dimension parameterizes `sequence` lengths at runtime, never the
    * expression tree.
    */
  def signSig(emb: Column): Column = {
    val words = transform(
      sequence(lit(0),
        // Column `/` is double division; floor+cast recovers ⌈d/32⌉−1 exactly
        floor((size(emb) + SignWordBits - 1) / SignWordBits).cast("int") - 1),
      w => aggregate(
        sequence(lit(0), lit(SignWordBits - 1)), lit(0L),
        (acc, b) => {
          val idx = w * SignWordBits + b + 1 // element_at is 1-based
          acc + when(idx <= size(emb) && element_at(emb, idx) > 0,
            pow(lit(2.0), b).cast("long")).otherwise(lit(0L))
        }))
    // CaseWhen evaluates lazily, so the descending-sequence branch never
    // runs for null/empty inputs (null in, null out; empty in, NULL out —
    // see the zero-length poisoning rationale above).
    when(emb.isNull || size(emb) === 0, lit(null).cast("array<long>"))
      .otherwise(words)
  }

  /** Hamming distance between two [[signSig]] signatures, composable
    * form: per-word xor/popcount, summed. Narrow integer math — the whole
    * candidate scan moves ⌈d/32⌉ longs per row instead of d floats. Kept
    * for sessions without the extension and for the equivalence spec; the
    * hot path goes through [[fusedHamming]] (the interpreted zip_with/
    * aggregate lambdas made the 10×-replica pair scan SLOWER than the
    * float brute scan — the round-3 megamorphic-HOF finding again).
    */
  def hammingSig(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** The native fused kernel ([[graft.functions.HammingSig]], registered
    * as `hamming_sig` by [[graft.GraftExtensions]]) — one allocation-free
    * xor/popcount loop inside whole-stage codegen, bit-identical to
    * [[hammingSig]] including null/length-mismatch poisoning.
    */
  def fusedHamming(a: Column, b: Column): Column = call_function("hamming_sig", a, b)

  /** Binary-quantized ANN top-k: Hamming scan over 1-bit signatures keeps
    * every candidate within `maxHamming` bits of the query, exact cosine
    * over the RAW vectors re-ranks the survivors to top-k — the standard
    * two-stage binary-quantization search. Output and tie-breaks match
    * [[bruteForceTopK]] exactly (6-decimal rounded score, ties → smaller
    * neighbor id); the candidate cut is an INTEGER radius compare — no
    * float ties, no ordering, bit-deterministic by construction.
    *
    * Why a RADIUS, not a per-query top-C (the design this replaced,
    * measured at the 10× replica): top-C with C a corpus fraction is a
    * window over the full pair set, and its WindowGroupLimit cannot prune
    * — per-partition pair counts per query are below any fraction-sized C
    * at every realistic partitioning — so the "cut" shuffled ALL N×|Q|
    * pairs and made the binary scan slower than the float brute scan it
    * exists to undercut. The radius cut is ROW-LOCAL: the pair never
    * leaves its partition unless it survives. And it is scale-stable the
    * way the q16f fraction rule is: the admitted fraction is determined
    * by the corpus's ANGLE DISTRIBUTION (P[hamming(u,v) ≤ R] for random
    * pairs), not by N — growing the corpus keeps the same survivor
    * fraction with zero re-tuning and no driver-side `count()`.
    *
    * Scale shape: ONE corpus scan, ONE stage, zero non-final shuffles.
    * Signatures are computed row-locally; the corpus joins a BROADCAST
    * query set carrying (q_sig, q_emb); the radius filter and the exact
    * re-rank cosine run in the SAME codegen stage — the candidate's raw
    * vector is already in the scanned row, so no join-back, no second
    * scan. The 32× saving is where it matters: the per-PAIR work (N×|Q|
    * pairs ≫ N rows) is a 2-word xor/popcount, and only the ~13% radius
    * survivors ever pay the 64-dim cosine. The final top-k is rankTopK's
    * k-bounded WindowGroupLimit — tiny, unlike the fraction-sized cut.
    *
    * Choosing `maxHamming`: q15c registers R=27, the measured
    * ≥0.9-recall@5 point on the gate fixture — recall/survivor-fraction
    * 0.24/0.008 (R=22), 0.58/0.032 (24), 0.88/0.088 (26), 0.92/0.132
    * (27), 0.94/0.194 (28), 0.98/0.360 (30); SimilaritySpec pins the
    * curve's monotonicity and the operating point. `maxHamming ≥ d`
    * admits everything and reproduces [[bruteForceTopK]] exactly (the
    * spec's equivalence case).
    */
  def binaryTopK(
      vectorsDf: DataFrame, idCol: String, embCol: String,
      queryFilter: Column, k: Int, maxHamming: Int,
      candObservation: Option[Observation] = None): DataFrame = {
    require(maxHamming >= 0, s"negative Hamming radius $maxHamming")
    val n = vectors(vectorsDf, idCol, embCol)
    val sg = n.withColumn("sig", signSig(col("emb")))
    val q = sg.filter(queryFilter)
      .select(col("id").as("query_id"), col("sig").as("q_sig"),
        col("emb").as("q_emb"))
    val pairs = sg.join(broadcast(q), col("id") =!= col("query_id"))
      .filter(fusedHamming(col("sig"), col("q_sig")) <= maxHamming)
      .withColumn("score", round(fusedCosine(col("emb"), col("q_emb")), 6))
      .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    rankTopK(observeCandidates(pairs, candObservation), k)
  }

  // ---- product quantization (PQ / IVF-PQ) --------------------------------

  /** Default PQ subspace count M. d-dim vectors split into M contiguous
    * subvectors of d/M dims; each quantizes independently against its own
    * codebook, so a vector stores as M small integer codes — the classic
    * product-quantization memory/bandwidth reduction (Jégou, Douze &
    * Schmid 2011). 16 subspaces × 16 codewords = the `PQ16x4` shape:
    * 4-dim subvectors, 4-bit codes, 8 bytes per vector — 32× vs float32.
    * Measured on the isotropic gate fixture (PQ's worst case, as it is
    * LSH's): M=8's 8-dim cells are too coarse (ADC shortlist captures
    * only 0.58 of the true top-10 at C=50) while M=16 holds 0.92 capture
    * at the τ=0.10 ADC threshold — the registered q15d operating point.
    * Fixed (not count-derived): the code width is a MODEL constant, like
    * int8's 256 levels — encode work stays linear in N and the plan
    * stays constant-size.
    */
  val PqSubspaces = 16

  /** Bits reserved for the codeword index in [[pqEncode]]'s packed argmin
    * key: `d2_micros · 2^20 + j`. j is a dense codeword rank (default
    * codebook ~16 entries, 2^20 four orders of magnitude past any PQ
    * codebook); d2_micros for unit-scale embeddings is ≤ ~1e9, so the
    * packed key stays far inside Long. Same one-BIGINT hash-aggregable
    * argmin discipline as [[IvfIdxCap]] — `min` prefers the smaller
    * distance, then the smaller codeword id, exactly the
    * `row_number() OVER (ORDER BY d2, j)` order the oracle uses.
    */
  private val PqPackBits = 20

  /** The M per-subspace slices of `emb` as `array<struct<m, sub>>` for
    * `inline` — M is a FIXED constant, so the plan carries M slice nodes
    * regardless of corpus or codebook size (the q16g plan-size rule).
    */
  private def pqSubVectors(emb: Column, dims: Int, subspaces: Int): Column = {
    require(subspaces > 0 && dims % subspaces == 0,
      s"PQ needs dims divisible by the $subspaces subspaces, got $dims")
    val subDim = dims / subspaces
    array((0 until subspaces).map { m =>
      struct(lit(m).as("m"), slice(emb, m * subDim + 1, subDim).as("sub"))
    }: _*)
  }

  /** PQ codebook in long format: one row per (subspace m, codeword j) with
    * the codeword's subvector and its squared norm in exact micro-units
    * (`sqI = round(dot·1e6)` as BIGINT — integer so reconstructed-norm
    * sums are association-free, the cross-engine determinism rule).
    * Codewords are the stride-selected corpus rows (`id % stride = 0`),
    * the same deterministic, oracle-reproducible selection as q16f's
    * centroids — k-means-refined codebooks are a quality upgrade the
    * caller can swap in ([[kmeansFit]] per subspace), but selection
    * must stay reproducible across engines for the hash gate. `j` is the
    * codeword's dense rank by ascending id (a window over the CODEBOOK
    * only — bounded by the same broadcastability contract as
    * [[ivfAssign]]'s centroid ranks).
    */
  def pqCodebook(n: DataFrame, stride: Long, dims: Int,
      subspaces: Int = PqSubspaces, residue: Long = 0L,
      maxCodewords: Long = Long.MaxValue): DataFrame = {
    require(stride > 0, s"PQ codebook stride must be positive, got $stride")
    // `residue` picks the stride class: q77's ingest selects codewords
    // from an EXISTING corpus already defined by a modulo split, and the
    // residue-0 class of a stride that shares a factor with that split
    // can be empty (450-row fixture: every multiple of cstride=20 is a
    // multiple of 10, i.e. in the batch) — residue 1 never collides with
    // a `% b === 0` split for any stride.
    //
    // `maxCodewords` caps the selected class to its first members BY ID —
    // the codebook is a MODEL constant (FAISS trains codebooks on a
    // sample), so its size must be id-geometry-proof: on replica corpora
    // the ids are BLOCK-SPARSE (k·10⁶ offsets), a corpus-derived stride
    // degenerates to one member per replica block, and the class
    // population becomes the REPLICA COUNT — the 1000× q16i index build
    // died on pqEncode's packed-field guard with 1000 "codewords" (r16).
    // The window below is bounded: it orders the already-filtered
    // candidate class, never the corpus.
    val w = Window.orderBy("id")
    n.filter(col("id") % stride === residue)
      .withColumn("j", row_number().over(w).cast("long") - 1L)
      .filter(col("j") < maxCodewords)
      .select(col("j"), inline(pqSubVectors(col("emb"), dims, subspaces)))
      .select(col("m"), col("j"), col("sub").as("csub"))
      .withColumn("sqI", greatest(lit(0L),
        round(dot(col("csub"), col("csub")) * 1e6).cast("long")))
  }

  /** Encode every corpus vector as M codeword indices: per subspace, the
    * codeword minimizing squared L2 distance (ties → smaller j). Output:
    * (id, pcodes — the indices in subspace order, packed by
    * [[packCodes]] — and rnorm2I = Σ_m sqI of the chosen codewords, the
    * reconstructed squared norm in micro-units, needed to normalize ADC
    * dot products into cosines).
    *
    * Scale shape: the corpus explodes to N·M narrow subvector rows
    * (M = 8, a constant), joins the BROADCAST codebook (N·M·k scored
    * rows, never shuffled raw), and the argmin collapses map-side through
    * ONE packed-BIGINT `min` per (id, m) — the [[ivfAssign]]
    * HashAggregate-safe shape. The d² arithmetic is the three-dot form
    * `x·x − 2·x·c + c·c` (not an elementwise diff) so the DuckDB twin can
    * reproduce it term-for-term with `list_dot_product`. The final
    * per-id collapse carries a collect_list (array buffer ⇒
    * SortAggregate), which is safe HERE unlike in ivfAssign's cross
    * product: its input is the ALREADY-COLLAPSED N·M rows — 8 narrow rows
    * per group — not N·k.
    */
  def pqEncode(n: DataFrame, codebook: DataFrame, dims: Int,
      subspaces: Int = PqSubspaces): DataFrame = {
    val xs = n.select(col("id"), inline(pqSubVectors(col("emb"), dims, subspaces)))
      .select(col("id"), col("m"), col("sub").as("xsub"))
    val d2I = greatest(lit(0L),
      round((dot(col("xsub"), col("xsub"))
        - lit(2.0) * dot(col("xsub"), col("csub"))
        + dot(col("csub"), col("csub"))) * 1e6).cast("long"))
    val picked = xs.join(broadcast(codebook), Seq("m"))
      .select(col("id"), col("m"),
        (d2I * (1L << PqPackBits) + col("j")).as("packed"))
      .groupBy("id", "m").agg(min("packed").as("mn"))
      .select(col("id"), col("m"), (col("mn") % (1L << PqPackBits)).as("j"))
    val collapsed = picked
      .join(broadcast(codebook.select("m", "j", "sqI")), Seq("m", "j"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("m"), col("j")))).as("mj"),
        sum("sqI").as("rnorm2I"))
    collapsed.select(col("id"),
      packCodes(transform(col("mj"), s => s.getField("j"))).as("pcodes"),
      col("rnorm2I"))
  }

  /** Pack a subspace-ordered code array into 8-bit fields, SIX per
    * 64-bit word (field `m % 6` of word `m / 6`) — the at-rest layout
    * [[graft.functions.PqAdcPacked]] reads and the fix for the measured
    * wide-dim finding (BASELINE.md r14): `array<bigint>` codes grow
    * linearly with M = d/4 and cost the scan its bandwidth win; packed
    * they are ⌈M/6⌉ longs — 24 B at M=16, 256 B at M=192 — at any d.
    * 8-bit fields keep every k ≤ 256 codebook representable
    * (stride-selected codebooks can exceed 16 entries on small corpora);
    * six per word keeps every packed word under 2^48 — positive, and
    * EXACT through long↔double conversions, which is what lets both this
    * pack and [[unpackCodes]] run in plain Column arithmetic (the
    * multiply/divide by 2^(8b) only moves the exponent). The column is
    * named `pcodes`, deliberately NOT `codes`: a persisted index
    * artifact written by the older one-BIGINT-per-subspace layout must
    * fail FAST (missing column), never silently mis-decode.
    * Same constant-plan-size HOF shape as [[signSig]]; encode runs once
    * per corpus ROW (never per pair), so the interpreted lambdas are off
    * the hot path.
    */
  private val PqFieldsPerWord = graft.functions.PqAdcPacked.FieldsPerWord

  def packCodes(codes: Column): Column =
    transform(
      sequence(lit(0),
        floor((size(codes) + PqFieldsPerWord - 1) / PqFieldsPerWord)
          .cast("int") - 1),
      w => aggregate(
        sequence(lit(0), lit(PqFieldsPerWord - 1)), lit(0L),
        (acc, b) => {
          val idx = w * PqFieldsPerWord + b + 1 // element_at is 1-based
          val v = element_at(codes, idx)
          // loud, never silent: a code past the 8-bit field would corrupt
          // its neighbors (the backstop of pqTopK's `codewords` bound)
          val guarded = when(v > 255 || v < 0, raise_error(concat(
            lit("pq code out of the packed 8-bit field: "), v.cast("string")))
            .cast("long")).otherwise(v)
          acc + when(idx <= size(codes),
            guarded * pow(lit(2.0), b * 8).cast("long"))
            .otherwise(lit(0L))
        }))

  /** Inverse of [[packCodes]] for display/oracle surfaces (q77 emits the
    * unpacked comma-joined code list): subspace m's code is the unsigned
    * 8-bit field `⌊word_{m/6} / 2^((m%6)·8)⌋ % 256`. Exact in double
    * arithmetic BECAUSE words are 48-bit (see [[packCodes]]): the long
    * converts exactly, division by a power of two only moves the
    * exponent, floor of an exact value is exact. `subspaces` is the same
    * geometry constant the packing used.
    */
  def unpackCodes(pcodes: Column, subspaces: Int): Column =
    transform(sequence(lit(0), lit(subspaces - 1)),
      m => floor(
        element_at(pcodes, (m / PqFieldsPerWord).cast("int") + 1)
          / pow(lit(2.0), (m % PqFieldsPerWord) * 8))
        .cast("long") % 256)

  /** Per-query ADC lookup table: `lut[m·k + j] = round(dot(qsub_m,
    * codeword_{m,j}) · 1e6)` flattened row-major by subspace (the dense
    * `j` ranks make the layout index-addressable), plus the query's RAW
    * norm (`norm`, the same sequential fold the oracle's
    * `sqrt(list_dot_product)` computes — q15's convention). Output:
    * (query_id, lut array<bigint> of M·k, qnorm). Tiny — |Q|·M·k rows
    * collapse to |Q| — and built once per query set, the classic ADC
    * precompute.
    */
  def pqQueryLut(queries: DataFrame, codebook: DataFrame, dims: Int,
      subspaces: Int = PqSubspaces): DataFrame =
    queries
      .select(col("id").as("query_id"), norm(col("emb")).as("qnorm"),
        inline(pqSubVectors(col("emb"), dims, subspaces)))
      .select(col("query_id"), col("qnorm"), col("m"), col("sub").as("qsub"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("query_id"), col("qnorm"), col("m"), col("j"),
        round(dot(col("qsub"), col("csub")) * 1e6).cast("long").as("lutI"))
      .groupBy("query_id", "qnorm")
      .agg(sort_array(collect_list(struct(col("m"), col("j"), col("lutI"))))
        .as("mjl"))
      .select(col("query_id"),
        transform(col("mjl"), s => s.getField("lutI")).as("lut"),
        col("qnorm"))

  /** The native ADC kernel over the packed `pcodes` layout
    * ([[graft.functions.PqAdcPacked]], registered as `pq_adc_packed` by
    * [[graft.GraftExtensions]]): `Σ_m lut[m·k + code_m]`, exact BIGINT.
    */
  def fusedAdcPacked(pcodes: Column, lutCol: Column, subspaces: Int): Column =
    call_function("pq_adc_packed", pcodes, lutCol, lit(subspaces))

  /** The PQ approximate-cosine score of a (pcodes, rnorm2I) candidate row
    * against a (lut, qnorm) query row: both the dot product (ADC
    * micro-units) and the candidate's reconstructed squared norm
    * (micro-units) come from exact integer sums, so the only float steps
    * are this final normalization — identical, term-for-term, in the
    * DuckDB twin.
    */
  private def adcScore(subspaces: Int): Column =
    round((fusedAdcPacked(col("pcodes"), col("lut"), subspaces).cast("double") / 1e6)
      / (sqrt(col("rnorm2I").cast("double") / 1e6) * col("qnorm")), 6)

  /** The per-subspace PQ codebook of `codewords` entries, selected with
    * q16f's count-derived stride (ONE bounded driver `count()`). The
    * bound is checked before any job runs: every code must fit the 8-bit
    * field of [[packCodes]]; `packCodes`' own guard is the backstop.
    */
  private def pqCodebookOf(n: DataFrame, codewords: Int, dims: Int,
      subspaces: Int): DataFrame = {
    require(codewords >= 1 && codewords <= 256,
      s"PQ codewords must be in 1..256 so every code fits the packed 8-bit " +
        s"field, got $codewords")
    val cnt = n.count()
    require(cnt > 0, "PQ codebook selection needs a non-empty corpus")
    pqCodebook(n, math.max(1L, cnt / codewords), dims, subspaces,
      maxCodewords = codewords)
  }

  /** Product-quantized ANN top-k (ADC): every candidate scored against
    * the (broadcast) query LUTs by M integer lookups instead of d float
    * multiply-adds, ranked by the PQ approximate cosine (rounded 6, ties
    * → smaller neighbor id). The third memory tier of the quantization
    * ladder — float32 (q15) → int8 (q15b) → PQ codes (q15d): 8 bytes of
    * codes + one BIGINT norm per vector vs 256 raw, a 24× at-rest and
    * per-pair-bandwidth reduction with NO bucketing recall risk (the scan
    * is exhaustive; accuracy loss is quantization error only).
    *
    * `codewords` (1..256, the range of a packed 8-bit code field) sets
    * the per-subspace codebook size via q16f's count-derived stride
    * selection (ONE bounded driver `count()`;
    * DuckDB derives the same stride from its own count). It is a model
    * constant, so this is NOT count-derived geometry in the q16g sense —
    * plan size and per-pair work are independent of N.
    *
    * Scale shape: encode is the broadcast-codebook + packed-argmin pass
    * ([[pqEncode]]); the pair scan is ONE stage over (id, pcodes,
    * rnorm2I) — 3 narrow columns, no raw embeddings — against broadcast
    * LUTs, all inside whole-stage codegen via the native kernel; only
    * the k-bounded rankTopK shuffles. At 100 TB the codes table is the
    * only full-corpus operand, 24× smaller than the raw vectors.
    */
  def pqTopK(
      vectorsDf: DataFrame, idCol: String, embCol: String,
      queryFilter: Column, k: Int, dims: Int, codewords: Int = 16,
      subspaces: Int = PqSubspaces, adcThreshold: Option[Double] = None,
      candObservation: Option[Observation] = None): DataFrame = {
    val n = vectors(vectorsDf, idCol, embCol)
    val codebook = pqCodebookOf(n, codewords, dims, subspaces)
    val enc = pqEncode(n, codebook, dims, subspaces)
    val lutq = pqQueryLut(n.filter(queryFilter), codebook, dims, subspaces)
    val adc = adcScore(subspaces)
    val pairs = adcThreshold match {
      case None =>
        // pure-ADC ranking: the codes table is the only corpus operand
        enc.join(broadcast(lutq), col("id") =!= col("query_id"))
          .withColumn("score", adc)
          .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
      case Some(tau) =>
        // threshold-refined (the registered q15d shape): the ADC score is
        // a row-local PREFILTER — candidates below tau never pay the
        // d-dim exact cosine — and the survivors re-rank exactly, so
        // ranking quality is brute-force's on whatever the cut admits.
        // A THRESHOLD, not a per-query top-C: same scale argument as
        // binaryTopK's Hamming radius — the cut is row-local (no
        // fraction-sized window over the pair set, the q15c measured
        // scale bug) and the admitted fraction follows the corpus's
        // score distribution, not N. The raw vector rides in the scanned
        // row (q15c's pattern), re-attached by the same narrow
        // co-partitioned id join ivfAssign uses.
        val lutq2 = lutq.join(
          n.filter(queryFilter)
            .select(col("id").as("query_id"), col("emb").as("q_emb")),
          Seq("query_id"))
        enc.join(n, Seq("id"))
          .join(broadcast(lutq2), col("id") =!= col("query_id"))
          .filter(adc >= tau)
          .withColumn("score", round(fusedCosine(col("emb"), col("q_emb")), 6))
          .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    }
    rankTopK(observeCandidates(pairs, candObservation), k)
  }

  /** IVF-PQ ANN top-k — the production 100 TB composition (FAISS's
    * `IVFx,PQy` shape): [[ivfAssign]]'s inverted-file pruning bounds WHICH
    * candidates are touched (probe `nprobe` cells, never the corpus), and
    * PQ-ADC bounds the COST PER candidate (M integer lookups over 8-byte
    * codes, never the raw vectors). The two levers are independent:
    * IVF recall is governed by the probed fraction (q16f's calibration),
    * PQ accuracy by quantization error (q15d's calibration) — and both
    * stay scale-stable when the caller derives the IVF geometry the q16f
    * way (k = ⌈√N⌉, fraction-held nprobe), which q16h does.
    *
    * Each candidate lives in exactly one IVF cell, so the (query,
    * candidate) pairs of the bucket join are unique — same no-dedup
    * argument as [[ivfTopK]]. The scan joins codes to buckets on id
    * (narrow, co-partitioned) against TWO bounded broadcasts: a SLIM
    * (query_id, bucket) probe table for the bucket join, then the
    * per-query LUT attached by query_id. Broadcast payload must be
    * bounded per-QUERY, never per-(query × probe): the fused form that
    * rode the 2 KB LUT and the raw query vector on every probe row
    * multiplied them by nprobe — ~1 GiB of driver collect at the 100×
    * replica (a measured `spark.driver.maxResultSize` failure), where
    * the split form broadcasts |Q|·16 bytes + |Q|·(M·k+1) BIGINTs
    * regardless of nprobe. q_emb joins in only for the τ-survivors.
    */
  def ivfPqTopK(
      vectorsDf: DataFrame, idCol: String, embCol: String,
      queryFilter: Column, centroidFilter: Column, k: Int, nprobe: Int,
      dims: Int, codewords: Int = 16, subspaces: Int = PqSubspaces,
      adcThreshold: Option[Double] = None,
      candObservation: Option[Observation] = None): DataFrame = {
    val n = vectors(vectorsDf, idCol, embCol)
    val codebook = pqCodebookOf(n, codewords, dims, subspaces)
    val enc = pqEncode(n, codebook, dims, subspaces)
    val assigned = ivfAssign(n, n.filter(centroidFilter))
      .select(col("id"), col("emb"), col("bucket"))
    // SLIM probe table: (query_id, bucket) only — 16 bytes × |Q|·nprobe
    val probes = probeBuckets(n.filter(queryFilter), n.filter(centroidFilter), nprobe)
      .select(col("query_id"), col("bucket"))
    val lutq = pqQueryLut(n.filter(queryFilter), codebook, dims, subspaces)
    val adc = adcScore(subspaces)
    // candidate load observed PRE-threshold: the bucket join IS the scan
    // work; the ADC cut only decides who pays the exact re-rank
    val cand = observeCandidates(
      assigned.join(enc, Seq("id"))
        .join(broadcast(probes), Seq("bucket"))
        .filter(col("id") =!= col("query_id")),
      candObservation)
    // the LUT attaches per-QUERY (second bounded broadcast), inside the
    // same codegen stage — never duplicated across probe rows
    val scored = cand.join(broadcast(lutq), Seq("query_id"))
    val pairs = adcThreshold match {
      case None =>
        scored.withColumn("score", adc)
          .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
      case Some(tau) =>
        // threshold-refined within the probed cells (q15d's cut): the
        // assigned frame already carries the raw vector; q_emb joins in
        // for the τ-SURVIVORS only (third bounded broadcast, |Q| rows)
        val qEmb = n.filter(queryFilter)
          .select(col("id").as("query_id"), col("emb").as("q_emb"))
        scored.filter(adc >= tau)
          .join(broadcast(qEmb), Seq("query_id"))
          .withColumn("score", round(fusedCosine(col("emb"), col("q_emb")), 6))
          .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    }
    rankTopK(pairs, k)
  }

  /** The at-rest IVF-PQ index rows: (id, bucket, pcodes, rnorm2I) — packed
    * codes + one BIGINT norm + one bucket key per vector, the table a
    * vector store PERSISTS so that searches never rescan raw embeddings.
    * Built from the same [[ivfAssign]]/[[pqEncode]] passes the in-plan
    * q16h uses, joined narrow on id.
    */
  def ivfPqIndexRows(
      n: DataFrame, centroids: DataFrame, codebook: DataFrame,
      dims: Int, subspaces: Int = PqSubspaces): DataFrame =
    ivfAssign(n, centroids).select(col("id"), col("bucket"))
      .join(pqEncode(n, codebook, dims, subspaces), Seq("id"))

  /** Search a PERSISTED IVF-PQ index (the q52b artifact discipline applied
    * to ANN — build nightly, search many): `index` is
    * [[ivfPqIndexRows]]'s table read back from parquet, `codebook` /
    * `centroids` its tiny persisted companions. Semantically identical to
    * the threshold-refined [[ivfPqTopK]] (the spec pins row-identity);
    * physically it is the 100 TB deployment shape the in-plan form only
    * argues for: the scan touches ONLY the 24-byte index rows, and raw
    * vectors enter exactly twice — the tiny query set, and the admitted
    * survivors' exact re-rank via a narrow join-back on id (survivors are
    * the τ-cut's ~13–20%-of-candidates slice of the probed cells, so the
    * join-back is small and AQE sizes its strategy).
    */
  def ivfPqSearchFrom(
      index: DataFrame, codebook: DataFrame, centroids: DataFrame,
      raw: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, dims: Int, adcThreshold: Double,
      subspaces: Int = PqSubspaces,
      candObservation: Option[Observation] = None): DataFrame = {
    // the same split-broadcast discipline as [[ivfPqTopK]]: a SLIM
    // (query_id, bucket) probe table drives the bucket join; the LUT and
    // the raw query vector attach per-QUERY, never per-probe-row
    val probes = probeBuckets(queries, centroids, nprobe)
      .select(col("query_id"), col("bucket"))
    val lutq = pqQueryLut(queries, codebook, dims, subspaces)
    // an artifact without `pcodes` (the older unpacked layout) fails
    // analysis on the missing column, never silently mis-decodes
    val adc = adcScore(subspaces)
    val cand = observeCandidates(
      index.join(broadcast(probes), Seq("bucket"))
        .filter(col("id") =!= col("query_id")),
      candObservation)
    val qEmb = queries.select(col("id").as("query_id"), col("emb").as("q_emb"))
    val pairs = cand.join(broadcast(lutq), Seq("query_id"))
      .filter(adc >= adcThreshold)
      .select(col("query_id"), col("id"))
      .join(raw, Seq("id"))
      .join(broadcast(qEmb), Seq("query_id"))
      .withColumn("score", round(fusedCosine(col("emb"), col("q_emb")), 6))
      .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    rankTopK(pairs, k)
  }

  // ---- random-hyperplane LSH ANN ---------------------------------------

  /** Deterministic ±1 random hyperplanes (Charikar sign-random-projection,
    * public LSH literature): `nPlanes` vectors of `dims` components, fixed
    * `seed` so the SAME literal planes can be embedded in an external SQL
    * oracle and in every retry of a 100 TB job (bucket assignment must be
    * reproducible across task attempts).
    */
  def hyperplanes(nPlanes: Int, dims: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dims)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** LSH bucket id: bit `i` is set iff `emb · plane_i > 0` (dot rounded to
    * 6 decimals first — the repo-wide determinism rule, so the sign never
    * hinges on sub-ulp fold-order differences between engines).
    */
  def lshBucket(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(round(dot(emb, array(p.map(lit): _*)), 6) > 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** The buckets a query probes: its own, plus (multi-probe) each
    * Hamming-distance-1 flip — the standard multi-probe LSH recall lever,
    * `nPlanes + 1` buckets instead of exponentially more hash tables.
    */
  def lshProbes(bucket: Column, nPlanes: Int, multiProbe: Boolean): Column =
    if (!multiProbe) array(bucket)
    else array(bucket +: (0 until nPlanes).map(i => bucket.bitwiseXOR(lit(1L << i))): _*)

  /** LSH-bucketed ANN top-k: the second scale path next to [[ivfTopK]].
    *
    * Unlike IVF — whose assignment step joins every row against a broadcast
    * centroid set — the LSH signature is computed ROW-LOCALLY (a narrow
    * projection of `nPlanes` dot products against literal planes, fully
    * inside whole-stage codegen), so at 100 TB candidate generation costs
    * exactly one shuffle: the bucket-key join. Recall is tuned by `nPlanes`
    * (fewer planes → bigger buckets → higher recall, more compute) and
    * `multiProbe` (probe all Hamming-1 buckets).
    *
    * Each candidate lives in exactly one bucket and a query's probe set is
    * distinct bucket ids, so no (query, candidate) pair can arise twice —
    * no post-join dedup, same as [[ivfTopK]].
    */
  def lshTopK(
      vectorsDf: DataFrame, idCol: String, embCol: String,
      queryFilter: Column, k: Int,
      nPlanes: Int = 4, dims: Int = 64, multiProbe: Boolean = true,
      seed: Long = 42L,
      candObservation: Option[Observation] = None): DataFrame = {
    val planes = hyperplanes(nPlanes, dims, seed)
    val assigned = vectors(vectorsDf, idCol, embCol)
      .withColumn("bucket", lshBucket(col("emb"), planes))
    val q = assigned.filter(queryFilter)
      .select(col("id").as("query_id"), col("emb").as("q_emb"),
        explode(lshProbes(col("bucket"), nPlanes, multiProbe)).as("bucket"))
    val pairs = assigned.join(broadcast(q), Seq("bucket"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("score", round(fusedCosine(col("emb"), col("q_emb")), 6))
      .select(col("query_id"), col("id").as("neighbor_id"), col("score"))
    rankTopK(observeCandidates(pairs, candObservation), k)
  }

  /** Multi-TABLE hyperplane LSH top-k: `nTables` independent plane sets
    * (seeds `seed, seed+1, …`), a candidate meets a query if they share a
    * bucket in ANY table. This is LSH's standard high-recall lever — a
    * pair colliding with probability `p` per table survives at
    * `1 − (1−p)^L`, so recall approaches 1 GEOMETRICALLY in `L` while
    * cost grows only linearly (each row replicates into exactly `L`
    * single-table rows; [[graft.llm]]'s SimilaritySpec calibration
    * measures the single-table ceiling at 0.46 recall@10 on the isotropic
    * fixture — hyperplane LSH's worst case — and the 8-table operating
    * point registered as q16e at ≥ 0.9).
    *
    * Scale shape vs [[lshTopK]]: signatures for all `L` tables are
    * row-local literal dot products in one whole-stage-codegen projection
    * (no per-table scans); the join key is `(table, bucket)` so tables
    * cannot cross-match, and candidate generation is still exactly one
    * shuffle of the big side — ×`L` replicated, the documented multi-table
    * cost, NOT ×`L` extra jobs. Within one table a pair meets at most once
    * (candidate in one bucket, probe set distinct), but the same pair can
    * meet in up to `L` tables, so pairs dedup on (query, neighbor) before
    * ranking — scores are deterministic per pair, so the dedup loses
    * nothing.
    *
    * The dedup is NARROW by construction: the bucket join emits only the
    * two id columns, `distinct()` collapses them in a map-side-combinable
    * HashAggregate, and the embeddings re-attach AFTERWARDS (neighbor emb
    * via a co-partitioned join on id, query emb via the tiny broadcast
    * query set), so each unique pair is scored exactly once. The first
    * registered form deduped rows that still CARRIED both embedding
    * arrays — `dropDuplicates` plans a `first(array)` aggregate whose
    * buffer HashAggregate can't hold, so Spark sort-aggregated the full
    * collision multiset (≈ 3×10⁹ KB-wide rows on the 100× replica) and
    * died in spill with SparkOutOfMemoryError (round-11 scale run).
    *
    * Operating-point caveat, measured on the same replica: with FIXED
    * plane count the per-bucket occupancy is N/2^planes, so the unique
    * candidate set approaches all of |Q|×|N| as the corpus grows
    * (4 planes, 5 probes, 8 tables ⇒ ≈ 95% of the corpus per query) and
    * the narrow shape above merely makes that degeneration spill-safe
    * instead of fatal. The registered fix (round 12) is q16g /
    * [[adaptiveLshGeometry]]: planes ∝ log N (constant expected
    * occupancy, the q48b cells-vs-labels argument applied to bucket
    * geometry) with the table count compensated to hold the calibrated
    * recall — measured 2.3× faster than this fixed geometry at the 100×
    * replica WITH its recall contract intact. q16e stays registered at
    * the fixture-calibrated point as the degeneration contrast, and IVF
    * (q16d/q16f) remains the production ANN path at scale.
    */
  def lshTopKTables(
      vectorsDf: DataFrame, idCol: String, embCol: String,
      queryFilter: Column, k: Int,
      nPlanes: Int = 4, nTables: Int = 8, dims: Int = 64,
      multiProbe: Boolean = true, seed: Long = 42L,
      candObservation: Option[Observation] = None): DataFrame = {
    require(nTables > 0, s"nTables must be positive, got $nTables")
    val base = vectors(vectorsDf, idCol, embCol)
    // All L signatures through ONE native expression node
    // ([[graft.functions.HyperplaneBuckets]], bit-identical to the
    // composable per-table lshBucket columns — SimilaritySpec pins the
    // equivalence): the composable form's L × np × dims expression nodes
    // made Catalyst planning the dominant cost at adaptive geometry
    // (measured 82 s at L=45/np=10 on the 10× replica, almost all of it
    // off-executor).
    val bitsPacked = (0 until nTables).flatMap { t =>
      hyperplanes(nPlanes, dims, seed + t).map { p =>
        p.zipWithIndex.collect { case (v, d) if v > 0 => 1L << d }.sum
      }
    }.toArray
    val withBuckets = base.withColumn("__buckets",
      call_function("lsh_buckets", col("emb"), lit(bitsPacked),
        lit(nPlanes), lit(dims)))
    val assigned = withBuckets.select(col("id"), col("emb"),
      posexplode(col("__buckets")).as(Seq("table", "bucket")))
    val qBase = withBuckets.filter(queryFilter)
      .select(col("id").as("query_id"), col("emb").as("q_emb"))
    val q = withBuckets.filter(queryFilter)
      .select(col("id").as("query_id"),
        posexplode(col("__buckets")).as(Seq("table", "bucket")))
      .select(col("query_id"), col("table"),
        explode(lshProbes(col("bucket"), nPlanes, multiProbe)).as("bucket"))
    // Memory-pressure shape (r12 probe, 4 GiB heap × 100× replica —
    // bench_records/r12_mem_q16g_4g_100x.jsonl): two deliberate choices
    // keep the candidate stage spill-safe instead of heap-fatal.
    //
    // 1. The probe-set join is NOT hint-forced to broadcast: the probe
    //    side grows as |Q|·L·(np+1) under adaptive geometry (≈6M rows at
    //    the 100× replica), and a forced broadcast both pins that build
    //    on every task's heap and leaves the join output partitioned by
    //    the corpus SCAN — the full N·L exploded fan-out funnels through
    //    ~32 map tasks. Un-hinted, AQE sees the real shuffle sizes: tiny
    //    probe sets at calibration scale still broadcast, scale-decade
    //    probe sets become a distributed hash join on (table, bucket),
    //    whose constant expected occupancy (the whole point of adaptive
    //    geometry) makes an even, skew-free key.
    // 2. The pair dedup SHUFFLES FIRST (repartition on the group keys),
    //    then aggregates: a bare distinct() would partial-aggregate
    //    map-side over the join's raw fan-out, and the probe measured
    //    that sort-fallback merge dying in spill-reader allocation
    //    (OOM in UnsafeSorterSpillReader.<init>; the 1 MB reader buffer
    //    is unmanaged heap and Spark 4's conf floor forbids shrinking
    //    it). Hash-distributing the narrow 16-byte pairs first is one
    //    linear spill-safe exchange; partial+final aggregation both run
    //    post-shuffle on slices sized by spark.sql.shuffle.partitions —
    //    per-task state drops from pairs/maps to pairs/shufflePartitions,
    //    the knob a deployment actually turns.
    val cand = assigned.select(col("id"), col("table"), col("bucket"))
      .join(q, Seq("table", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"))
      .repartition(col("query_id"), col("neighbor_id"))
      .distinct()
    val pairs = cand
      .join(base.select(col("id").as("neighbor_id"), col("emb")), Seq("neighbor_id"))
      .join(broadcast(qBase), Seq("query_id"))
      .withColumn("score", round(fusedCosine(col("emb"), col("q_emb")), 6))
      .select("query_id", "neighbor_id", "score")
    rankTopK(observeCandidates(pairs, candObservation), k)
  }

  /** Plane-count ceiling for [[adaptiveLshGeometry]]: 16 planes at target
    * occupancy 32 covers corpora to 32·2^16 ≈ 2M vectors — two decades
    * past the largest measured replica. Beyond the cap the geometry stops
    * adapting (occupancy grows linearly again) and IVF-adaptive (q16f) is
    * the documented production ANN; one BIGINT holds up to 64 plane signs
    * per (table, plane) in the oracle's packed-literal encoding, so the
    * cap is a policy choice, not an encoding limit.
    */
  val LshMaxPlanes = 16

  /** Count-derived LSH operating point `(nPlanes, nTables)` — the q48b
    * cells-vs-labels rule applied to bucket geometry, closing q16e's
    * measured fixed-geometry degeneration (54×/decade wall, candidate set
    * → 95% of the corpus, silent recall decay).
    *
    *  - `nPlanes` = smallest `np ≤ [[LshMaxPlanes]]` with
    *    `targetOccupancy · 2^np ≥ n`: expected bucket population stays in
    *    `(targetOccupancy/2, targetOccupancy]` at EVERY corpus size, so
    *    per-query-per-table candidate work is a constant, not a corpus
    *    fraction. 32 is the fixture-calibrated point: at n = 500 it yields
    *    np = 4 — exactly the geometry whose L = 8 multi-probe recall@10
    *    measured 0.99 (SimilaritySpec calibration), so the adaptive rule
    *    REPRODUCES the calibrated operating point at calibration scale by
    *    construction.
    *  - `nTables` compensates the recall lost to longer signatures:
    *    holding the survival `1 − (1 − p^np)^L` constant needs
    *    `L ∝ (1/p)^(np − 4)` for per-plane collision probability `p`. The
    *    ratio is MEASURED, not theorized: on the isotropic fixture
    *    (hyperplane LSH's worst case) holding recall@10 ≥ 0.9 needs
    *    L ≥ 12 at np = 6 and L ≥ 26 at np = 8 (SimilaritySpec probe),
    *    which `(4/3)^d` satisfies at both points (15, 26) while `(7/6)^d`
    *    — the cos-0.9 textbook value — under-shoots (11 → recall 0.88).
    *    Computed INTEGER-EXACTLY as `⌈8 · 4^d / 3^d⌉`,
    *    `d = max(np − 4, 0)`, in BigInt — the DuckDB twin carries the
    *    same values as a generated `CASE np` table, so no floating-point
    *    `pow` has to agree cross-engine. This is the honest E2LSH cost:
    *    L grows POLYNOMIALLY in n (exponent ρ = ln(4/3)/ln 2 ≈ 0.42),
    *    which is why hyperplane LSH stays the calibration/contrast path
    *    and IVF-adaptive the production one.
    */
  def adaptiveLshGeometry(
      n: Long, targetOccupancy: Long = 32L,
      basePlanes: Int = 4, baseTables: Int = 8): (Int, Int) = {
    require(n > 0, s"adaptive LSH geometry needs a non-empty corpus, got $n")
    val np = (1 to LshMaxPlanes)
      .find(i => (targetOccupancy << i) >= n).getOrElse(LshMaxPlanes)
    (np, adaptiveLshTables(np, basePlanes, baseTables))
  }

  /** The table-count half of [[adaptiveLshGeometry]], factored out so the
    * DuckDB twin's generated `CASE np` lookup is built from the SAME
    * integer-exact arithmetic (`⌈baseTables · 4^d / 3^d⌉`,
    * `d = max(np − basePlanes, 0)`).
    */
  def adaptiveLshTables(np: Int, basePlanes: Int = 4, baseTables: Int = 8): Int = {
    val d = math.max(np - basePlanes, 0)
    val num = BigInt(4).pow(d) * baseTables
    val den = BigInt(3).pow(d)
    ((num + den - 1) / den).toInt
  }

  /** Embedding-cosine near-dup: top-1 neighbor per vector within a blocking
    * column (e.g. a label or coarse cluster) — a bucketed join, not a global
    * crossJoin.
    *
    * Join strategy is picked by a size threshold on the candidate side:
    *
    *  - `count <= broadcastThreshold`: broadcast the candidate side. A plain
    *    shuffle on the block key would hash everything into
    *    #distinct-blocks partitions (3 labels -> 3 active cores);
    *    broadcasting keeps the probe side's full parallelism.
    *  - otherwise: [[graft.operators.Skew.saltedJoin]] — the probe side gets
    *    a deterministic salt in [0, salts), candidates are replicated once
    *    per salt, and the shuffle key becomes (block, salt), spreading each
    *    block over `salts` partitions. Candidates are replicated ×salts
    *    through the shuffle instead of ×executors through a broadcast, so
    *    blocks that outgrow executor memory still work.
    *
    * Both paths produce identical pairs (every probe row still meets every
    * candidate in its block), so the output is strategy-independent; a spec
    * pins this on the embeddings fixture.
    *
    * `strategy` makes the choice explicit: [[JoinStrategy.Broadcast]] /
    * [[JoinStrategy.Salted]] keep plan construction action-free (no job runs
    * until the caller's action); [[JoinStrategy.Auto]] (default) sizes the
    * candidate side with one eager `count()` job at CONSTRUCTION time — the
    * convenient form, but `explain`/plan-audit/streaming callers that must
    * not launch jobs should pass the strategy they want.
    */
  def nearestInBlock(
      vectorsDf: DataFrame, idCol: String, embCol: String, blockCol: Column,
      broadcastThreshold: Long = 4000000L, salts: Int = 32,
      strategy: JoinStrategy = JoinStrategy.Auto): DataFrame = {
    val n = vectorsDf
      .select(col(idCol).as("id"), asDouble(col(embCol)).as("emb"), blockCol.as("block"))
    val b = n.select(col("block"), col("id").as("neighbor_id"), col("emb").as("n_emb"))
    val useBroadcast = strategy match {
      case JoinStrategy.Broadcast => true
      case JoinStrategy.Salted    => false
      case JoinStrategy.Auto      => b.count() <= broadcastThreshold
    }
    val pairs =
      if (useBroadcast) n.join(broadcast(b), Seq("block"))
      else graft.operators.Skew.saltedJoin(n, b, Seq("block"), col("id"), salts)
    val scored = pairs
      .filter(col("id") =!= col("neighbor_id"))
      .withColumn("score", round(fusedCosine(col("emb"), col("n_emb")), 6))
    val w = Window.partitionBy("id").orderBy(desc("score"), col("neighbor_id"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("id").as("vec_id"), col("neighbor_id"), col("score"))
  }

  /** All within-block pairs scoring at least `threshold`: (id_a, id_b,
    * score) with id_a < id_b, score the fused cosine rounded to 6 decimals
    * (rounded BEFORE the threshold compare, so the cut can never disagree
    * with an engine that stores the rounded score). The edge generator for
    * [[semanticClusters]] — and usable alone as an embedding-space
    * near-dup pair list, the vector analogue of
    * [[graft.llm.Dedup.minhashPairs]].
    *
    * Scale shape: one self-equi-join on the block key — O(block²) WITHIN a
    * block, which is the deliberate trade every blocked pairing in this
    * repo makes ([[graft.llm.Dedup.candidatePairs]]): the block column
    * must be a bounded coarse partition (IVF cell, LSH bucket, shard key),
    * and then the join shuffles each side once on the block and never goes
    * cartesian.
    */
  def cosinePairs(
      df: DataFrame, idCol: String, embCol: String, blockCol: Column,
      threshold: Double,
      pairObservation: Option[Observation] = None): DataFrame = {
    val n = df.select(
      col(idCol).as("id"), asDouble(col(embCol)).as("emb"), blockCol.as("block"))
    val joined = n.as("a")
      .join(n.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
    // the quadratic-bomb early warning (same Observation mechanism as the
    // ANN candObservation): candidate_pairs counts the join output BEFORE
    // the threshold cut, blocks_with_pairs approx-counts the blocks it came
    // from. candidate_pairs / blocks_with_pairs is the average per-block
    // pair load ~ population²/2 — when a fixed-cardinality block column
    // meets a growing corpus this ratio grows with the SQUARE of the data
    // (the measured q48 157×-per-decade failure, BASELINE.md) while a
    // scale-safe blocking (cells, bands) holds it roughly constant. Zero
    // extra jobs; readable after the first action on the result.
    val observed = pairObservation.fold(joined)(o => joined.observe(o,
      count(lit(1)).as("candidate_pairs"),
      approx_count_distinct(col("a.block")).as("blocks_with_pairs")))
    observed
      .withColumn("score", round(fusedCosine(col("a.emb"), col("b.emb")), 6))
      .filter(col("score") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("score"))
  }

  /** SEMANTIC dedup (the SemDeDup shape from public literature): cluster
    * embedding-space near-duplicates — pairs from [[cosinePairs]], closed
    * transitively by [[graft.llm.Dedup.connectedComponents]] — and keep
    * one canonical representative (the min id) per cluster. Text dedup
    * catches re-typed copies; THIS catches re-phrasings, translations, and
    * template instantiations that share meaning but few shingles — the
    * complementary dedup axis a training-data pipeline runs after lexical
    * dedup. Output mirrors the lexical clusters
    * ([[graft.LlmQueries.dedupClusters]]): every input id once, (vec_id,
    * cluster, keep) with keep=1 on the canonical member, INT so the
    * cross-engine compare never sees a boolean.
    *
    * Scale: pair generation is the [[cosinePairs]] blocked join; the
    * transitive closure is per-round-checkpointed min-label propagation
    * over |near-dup vectors| rows — both documented 100 TB shapes.
    */
  def semanticClusters(
      df: DataFrame, idCol: String, embCol: String, blockCol: Column,
      threshold: Double,
      pairObservation: Option[Observation] = None): DataFrame = {
    val pairs = cosinePairs(df, idCol, embCol, blockCol, threshold, pairObservation)
    val cc = Dedup.connectedComponents(pairs).withColumnRenamed("id", "vec_id")
    semanticKeep(df, idCol, cc)
  }

  /** [[semanticClusters]] blocked by nearest-CENTROID cell instead of a
    * caller-supplied column — the form whose cost model survives data
    * growth. A fixed-cardinality block column (a label, a language)
    * violates [[cosinePairs]]'s bounded-block precondition as data grows:
    * block population grows linearly with the corpus, so within-block
    * candidate pairs grow QUADRATICALLY — measured on the 100× replica as
    * 157× wall per 10× decade (≈840× vs sf0.1) for the label-blocked q48
    * (BASELINE.md round-11 scale table). Here the centroid set comes from
    * `centroidFilter` (the q16 IVF convention, e.g. `id % 100 = 0`), so
    * the CELL COUNT scales with the corpus while expected cell population
    * stays constant — pair work grows linearly, the same
    * resolution-vs-capacity trade IVF makes for search and SemDeDup-style
    * pipelines make with k-means cells for dedup (public literature).
    * The trade is recall at cell borders: near-dups straddling two cells
    * are not paired (exactly the pairs a fixed-label blocking would also
    * lose once capped); [[SimilaritySpec]] pins that the cell-blocked
    * clusters still recover the fixture's injected near-dup pairs.
    *
    * Assignment is [[ivfAssign]] — broadcast centroids, row-local nearest
    * by rounded cosine with deterministic ties — so the output is as
    * engine-reproducible as q16's buckets, and the same assignment SQL
    * serves as the DuckDB twin.
    */
  def semanticClustersCells(
      df: DataFrame, idCol: String, embCol: String,
      centroidFilter: Column, threshold: Double,
      pairObservation: Option[Observation] = None): DataFrame = {
    val n = vectors(df, idCol, embCol)
    val assigned = ivfAssign(n, n.filter(centroidFilter))
    val pairs = cosinePairs(assigned, "id", "emb", col("bucket"), threshold,
      pairObservation)
    val cc = Dedup.connectedComponents(pairs).withColumnRenamed("id", "vec_id")
    semanticKeep(df, idCol, cc)
  }

  /** Shared tail of the semantic-dedup variants: every input id once,
    * (vec_id, cluster, keep) with keep=1 on the canonical (min-id) member,
    * INT so the cross-engine compare never sees a boolean.
    */
  private def semanticKeep(df: DataFrame, idCol: String, cc: DataFrame): DataFrame =
    df.select(col(idCol).as("vec_id"))
      .join(cc, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        coalesce(col("cluster"), col("vec_id")).as("cluster"),
        (coalesce(col("cluster"), col("vec_id")) === col("vec_id"))
          .cast("int").as("keep"))
}
