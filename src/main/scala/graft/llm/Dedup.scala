package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.Stage

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), MinHash+LSH near-dup (banded signatures, bucketed
  * self-join — never an all-pairs crossJoin), n-gram Jaccard with key
  * blocking, and SimHash.
  *
  * Scale design: every pairing step goes through a shuffle on a
  * high-selectivity bucket key (content hash, LSH band hash, blocking key,
  * SimHash nibble), so candidate generation is O(bucket²) per bucket rather
  * than O(N²) — the standard banded-LSH layout (Broder resemblance /
  * Leskovec-Rajaraman-Ullman ch.3, public).
  */
object Dedup {

  /** Exact dedup: group by content fingerprint, keep the min id. Output:
    * (content_hash, keep_id, n_copies) — one row per distinct content.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextStats.contentFingerprint(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the growing-corpus form: given the
    * fingerprint INDEX of everything already ingested and a new batch,
    * keep only batch docs whose content is unseen (anti-join on the
    * fingerprint), deduped within the batch itself (min id per hash).
    * Output: (content_hash, keep_id, n_copies) for the NEW content only —
    * union it into the index to ingest the next batch.
    *
    * Scale shape: one shuffle for the batch group-by, one anti-join keyed
    * on the hash. The index side of the anti-join stays a hash join
    * (broadcast when small, shuffle when not) and never materializes
    * matched rows — the standard "have we seen this before" layout at any
    * corpus size.
    */
  def incrementalExact(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    exact(batch, idCol, textCol)
      .join(index.select(col("content_hash")), Seq("content_hash"), "left_anti")

  /** (id, shingles) frame used by both signature and verification steps. */
  def shingleFrame(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      TextStats.shingles(TextStats.tokens(col(textCol)), n).as("shingles"))

  /** MinHash signature columns sig0..sig{k-1} (seeded-md5 min per shingle
    * set — deterministic and cross-engine reproducible).
    *
    * All k minima come from ONE shingle-array traversal through the native
    * [[graft.functions.MinHashSignatures]] kernel (bit-identical to k
    * sequential `array_min(transform(...md5...))` passes, which cost k
    * interpreted lambda walks + k array allocations per row — the round-3
    * q12 hot spot). Requires [[graft.GraftExtensions]] on the session.
    */
  def withSignature(shingled: DataFrame, numHashes: Int): DataFrame = {
    val sigs = call_function("minhash_sigs", col("shingles"), lit(numHashes))
    val sigCols = (0 until numHashes).map(i => element_at(col("__sigs"), i + 1).as(s"sig$i"))
    shingled.withColumn("__sigs", sigs)
      .select(col("*") +: sigCols: _*)
      .drop("__sigs")
  }

  /** LSH banding: hash `rowsPerBand` consecutive signature components into
    * one band bucket key; docs sharing ANY band bucket become candidates.
    */
  def bandFrame(signed: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}"))
      md5(concat(parts: _*))
    }
    signed.select(col("id"), posexplode(array(bands: _*)).as(Seq("band_id", "band_hash")))
  }

  /** The one capped bucket join behind every banded pairing step
    * ([[candidatePairs]], the index probe of
    * [[incrementalMinhashPairsFromArtifacts]], [[winnowOverlapPairs]],
    * [[simhashPairsFromBands]]): equi-join `capped` (side a) to `other`
    * (side b) on the bucket `keys`, after truncating each bucket of
    * `capped` to its `maxBucketSize` smallest ids. Output: (id_a, id_b)
    * plus `<c>_a`, `<c>_b` for every `carry` column, one row per matching
    * (row, row) — callers dedupe or count.
    *
    * Why the cap: a flood of near-identical documents (the 100 TB failure
    * mode — boilerplate, scraped mirrors) lands in one bucket and the
    * O(bucket²) join explodes. Truncating to the smallest ids is
    * deterministic (retry-safe, oracle-reproducible) representative
    * sampling, and only side a is capped, so every member of a truncated
    * bucket still pairs with the kept representatives: the bucket stays one
    * connected component, a mega-cluster yields O(cap · bucket) pairs
    * instead of O(bucket²), and recall loss is confined to pairs BOTH
    * outside the cap that share no other bucket. The cap must exceed any
    * legitimate bucket (default 10000 vs. tens at sf0.1), which keeps the
    * capped plan output-identical to the uncapped oracle. The window
    * partitions on exactly the join key, so it shares the join's exchange.
    *
    * Truncation is NOT silent: with `capObservation`, after the first
    * action on the result, `observation.get` reports `observedAs._1`
    * (buckets the cap bit) and `observedAs._2` (rows removed from side a) —
    * plan-attached metrics (`Dataset.observe`) computed in the same pass as
    * the join, zero extra jobs.
    *
    * `probe = false` is the one-shot self-join: strict `a.id < b.id` halves
    * the pairs and kills self-matches. `probe = true` joins an index (side
    * a, capped: a hot bucket must not make one trigger quadratic in the
    * corpus) to a batch with `a.id ≠ b.id` and writes the pair as
    * (least, greatest) with carried columns following their id: a replayed
    * doc's rows already sit in the index (at-least-once), and the
    * inequality keeps it from pairing with its own copy — the self-pairs
    * the strict one-shot form never produces.
    */
  private def bucketJoin(
      capped: DataFrame,
      other: DataFrame,
      keys: Seq[String],
      maxBucketSize: Int,
      capObservation: Option[Observation],
      observedAs: (String, String),
      probe: Boolean = false,
      carry: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy("id")
    val rn = capped.withColumn("__rn", row_number().over(w))
    // sum over zero rows is null: an empty input reports 0, not null
    def total(c: Column) = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val observed = capObservation.fold(rn)(o => rn.observe(o,
      total(col("__rn") === maxBucketSize + 1).as(observedAs._1),
      total(col("__rn") > maxBucketSize).as(observedAs._2)))
    val kept = observed.filter(col("__rn") <= maxBucketSize).drop("__rn")
    val (a, b) = (col("a.id"), col("b.id"))
    val onKeys = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val joined = kept.as("a").join(other.as("b"), onKeys && (if (probe) a =!= b else a < b))
    // the side holding the smaller id: always a in one-shot mode
    def low(c: String) =
      if (probe) when(a < b, col(s"a.$c")).otherwise(col(s"b.$c")) else col(s"a.$c")
    def high(c: String) =
      if (probe) when(a < b, col(s"b.$c")).otherwise(col(s"a.$c")) else col(s"b.$c")
    val ids =
      if (probe) Seq(least(a, b).as("id_a"), greatest(a, b).as("id_b"))
      else Seq(a.as("id_a"), b.as("id_b"))
    joined.select(ids ++ carry.flatMap(c => Seq(low(c).as(s"${c}_a"), high(c).as(s"${c}_b"))): _*)
  }

  /** The bucket key of [[bandFrame]]. */
  private val BandKey = Seq("band_id", "band_hash")

  /** Candidate pairs from the banded frame: the [[bucketJoin]] self-join on
    * (band_id, band_hash), then distinct (a pair sharing several bands
    * appears once). Cap observation: `truncated_buckets`,
    * `dropped_band_rows`.
    */
  def candidatePairs(
      bands: DataFrame, maxBucketSize: Int = 10000,
      capObservation: Option[Observation] = None): DataFrame =
    bucketJoin(bands, bands, BandKey, maxBucketSize, capObservation,
      ("truncated_buckets", "dropped_band_rows")).distinct()

  /** Exact Jaccard over two shingle-set columns. */
  def jaccard(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    inter / (size(sa) + size(sb) - inter)
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket-join
    * → exact-Jaccard verification at `threshold`. Output:
    * (id_a, id_b, jaccard). The shingle cache is caller-owned ([[Stage]]).
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxBucketSize: Int = 10000,
      capObservation: Option[Observation] = None): DataFrame = {
    // The shingle frame feeds the signature pass AND both verification
    // lookups, so it is cached — unless its columnar build would not fit
    // storage ([[Stage.cacheIfFits]]: the r16 1000× heap failure), in which
    // case each consumer recomputes the shingle pass.
    val shingled = Stage.cacheIfFits(
      shingleFrame(df, idCol, textCol, shingleSize), 6L * shingleSize, df)
    val cands = candidatePairs(
      bandFrame(withSignature(shingled, numHashes), numHashes, rowsPerBand),
      maxBucketSize, capObservation)
    verified(cands, shingled, threshold)
  }

  /** Exact-Jaccard verification of (id_a, id_b) candidates against an
    * (id, shingles) lookup: the pairs at or above `threshold`.
    */
  private def verified(cands: DataFrame, shingled: DataFrame, threshold: Double): DataFrame = {
    val sa = shingled.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    cands
      .join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental MinHash-LSH near-dup — the growing-corpus analogue of
    * [[incrementalExact]]: given the persisted LSH artifacts of everything
    * already ingested — its band-hash index (id, band_id, band_hash from
    * [[bandFrame]]) and its shingle sets (id, shingles from
    * [[shingleFrame]], needed for exact-Jaccard verification) — and a NEW
    * batch of raw documents, emit every verified near-dup pair that touches
    * the batch: batch↔index pairs plus within-batch pairs. Index↔index
    * pairs are never recomputed (they were found when those docs were
    * ingested), which is the whole point: per-batch cost scales with the
    * batch's bucket overlap, not the corpus.
    *
    * Because signatures are per-doc deterministic (seeded-md5 minima), the
    * output is exactly [[minhashPairs]] over index∪batch restricted to
    * pairs with >=1 batch member — the equivalence the spec pins.
    *
    * Scale shape: one pass signs the batch; the batch↔index probe is an
    * equi-join on (band_id, band_hash) — the index side arrives
    * hash-partitioned from its parquet layout and only buckets the batch
    * actually hits are materialized by the join. `maxBucketSize` caps BOTH
    * pairing steps ([[bucketJoin]]): the within-batch self-join exactly as
    * in [[candidatePairs]], and the probe join's INDEX side — that join is
    * |batch bucket| × |index bucket| per bucket, so a boilerplate flood
    * present in the index AND arriving again in every batch would
    * otherwise re-explode on every ingest. Truncation is observable via
    * `probeCapObservation` (`truncated_index_buckets`,
    * `dropped_index_band_rows`), separate from `capObservation` so an
    * operator can tell a flooded index from a flooded batch.
    * Verification joins shingle sets by id — batch side tiny and persisted,
    * index side a keyed lookup touching only candidate ids. Replay-safe:
    * the probe is [[bucketJoin]]'s id-inequality mode, so a redelivered
    * doc whose bands already sit in the index (the at-least-once case
    * [[graft.streaming.StreamingNearDedup]] documents) never pairs with
    * itself. The batch shingles are cached and caller-owned ([[Stage]]).
    */
  def incrementalMinhashPairs(
      indexBands: DataFrame,
      indexShingles: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxBucketSize: Int = 10000,
      capObservation: Option[Observation] = None,
      probeCapObservation: Option[Observation] = None): DataFrame = {
    val shingled = Stage.cache(shingleFrame(batch, idCol, textCol, shingleSize))
    val batchBands = bandFrame(withSignature(shingled, numHashes), numHashes, rowsPerBand)
    incrementalMinhashPairsFromArtifacts(indexBands, indexShingles,
      batchBands, shingled, threshold, maxBucketSize,
      capObservation, probeCapObservation)
  }

  /** [[incrementalMinhashPairs]] over PRE-BUILT batch artifacts — the form
    * an ingest loop uses when it must also persist the batch's bands and
    * shingles into the index (computing them once, not twice; see
    * [[graft.streaming.StreamingNearDedup]]). `batchShingles` should be
    * persisted by the caller — it is read by candidate generation AND
    * verification.
    */
  private[graft] def incrementalMinhashPairsFromArtifacts(
      indexBands: DataFrame,
      indexShingles: DataFrame,
      batchBands: DataFrame,
      batchShingles: DataFrame,
      threshold: Double,
      maxBucketSize: Int,
      capObservation: Option[Observation] = None,
      probeCapObservation: Option[Observation] = None): DataFrame = {
    val within = candidatePairs(batchBands, maxBucketSize, capObservation)
    val cross = bucketJoin(indexBands, batchBands, BandKey, maxBucketSize,
      probeCapObservation, ("truncated_index_buckets", "dropped_index_band_rows"),
      probe = true).distinct()
    val lookup = batchShingles.select(col("id"), col("shingles"))
      .union(indexShingles.select(col("id"), col("shingles")))
    verified(within.union(cross).distinct(), lookup, threshold)
  }

  /** Pre-coalesce partition size target for the CC loop's derived shuffle
    * grain: small enough that AQE still has coalescing room above it.
    */
  private val LoopGrainTargetBytes = 16L << 20

  /** Default for `spark.graft.cc.driverEdgeLimit`: STAGED row sets
    * strictly below this resolve on the driver (union-find), at or above
    * it the distributed label-propagation loop runs. The unit is staged
    * rows — since the r18 explode form that is at most 4·|pairs| (each
    * pair row emits both directions plus BOTH endpoints' self-loops, one
    * per pair occurrence; null-id edges drop), so a user budgeting in raw
    * pairs should divide this value by 4. (Before r18 the staged set was ~2E+V — the unit
    * change means the gate trips at roughly half the raw pair count it
    * used to; the distributed loop itself dedups back to ~2E+V before
    * persisting.) 2^18 staged rows is ~4 MB of
    * collected id pairs — an explicitly thresholded, conf-visible driver
    * collect (the GraphFrames-style small-graph strategy), NOT an
    * unbounded one: the count that gates it is the same measurement the
    * loop's shuffle grain derives from. The strict `<` makes `0` a
    * force-distributed sentinel (used by DedupSpec: even an
    * empty graph takes the loop). The threshold deliberately sits below
    * the 100×-replica semantic graph (~1.3M edges), so the scale ladders
    * keep exercising the distributed path.
    */
  private val DriverEdgeLimitDefault = 1L << 18

  /** Serializes the distributed loop's session-conf grain swap: without
    * it, two concurrent [[connectedComponents]] calls on one session can
    * interleave set/restore and a second call captures the first's
    * temporary state-scale grain as its `prevGrain`, restoring it
    * permanently (r14 advisor). The lock is JVM-global (coarser than
    * per-session, which only over-serializes the rare multi-session
    * case); restore additionally re-reads-and-compares so a non-CC
    * writer's concurrent change is never clobbered.
    */
  private val grainSwapLock = new Object

  /** Driver union-find over a collected (u, v) edge list of integral ids:
    * the transitive closure resolved in O(E α(E)) with ZERO Spark jobs
    * beyond the collect — against the distributed loop's ~3 exchanges ×
    * O(log diameter) rounds of fixed scheduling cost, which dominates wall
    * time whenever the near-dup GRAPH is small (the common case even at
    * 100 TB: the graph holds only docs that appear in a pair). Cluster
    * label = component minimum, identical to the loop's converged
    * min-label, so the two paths are output-equal (spec-pinned both ways).
    */
  private def driverComponents(staged: DataFrame): DataFrame = {
    val spark = staged.sparkSession
    val idType = staged.schema.head.dataType
    val edges = staged.select(col("u").cast("long"), col("v").cast("long")).collect()
    val parent = new scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { e =>
      val (u, v) = (e.getLong(0), e.getLong(1))
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(ru) = rv
    }
    val minOfRoot = new scala.collection.mutable.LongMap[Long]()
    val vertices = parent.keys.toArray
    vertices.foreach { x =>
      val r = find(x)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, x), x)
    }
    val out = vertices.map(x => org.apache.spark.sql.Row(x, minOfRoot(find(x))))
    val longSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(out.toIndexedSeq,
          math.max(1, spark.sparkContext.defaultParallelism)), longSchema)
      .select(col("id").cast(idType).as("id"), col("cluster").cast(idType).as("cluster"))
  }

  /** Connected components over a near-dup pair list: the dedup END-GAME.
    * [[minhashPairs]]/[[blockedJaccardPairs]] emit edges; near-duplicate
    * GROUPS are the transitive closure of those edges (a~b, b~c ⇒ {a,b,c}
    * even when a,c share no band), and the kept canonical document is one
    * representative per component. Output: (id, cluster) for every id that
    * appears in `pairs`, with `cluster` = the minimum id reachable from it
    * — deterministic, so retries and the SQL oracle agree.
    *
    * Two execution strategies behind one contract (output-equal,
    * spec-pinned): strictly below `spark.graft.cc.driverEdgeLimit` staged
    * rows (~2E+V, see [[DriverEdgeLimitDefault]]) and for integral ids, a
    * driver union-find resolves the closure in one bounded collect — the
    * common case, since the graph holds only docs that appear in a pair;
    * at or above it (or with the `0` force-distributed sentinel) the
    * distributed loop below runs.
    *
    * Algorithm (distributed path): iterative min-label propagation with
    * pointer jumping.
    * Each round does (1) an edge pass — every vertex takes the min of its
    * own label and its neighbors' labels (one shuffle keyed on vertex) —
    * and (2) a label-to-label join — label(v) ← label(label(v)) — which
    * halves chain depth, giving O(log diameter) rounds (the classic
    * Shiloach-Vishkin / Hash-to-Min shape). Labels are eagerly
    * `localCheckpoint`ed every round: iterative self-joins otherwise grow
    * the lineage/plan exponentially, which is the standard Spark iterative-
    * algorithm failure mode at any scale. Each round is ONE job (the eager
    * checkpoint) carrying bounded vertex-keyed shuffles, with the
    * convergence count observed in the same pass instead of a second
    * full-join action; state is one (id, label) row per vertex — at 100 TB
    * that is |near-dup docs|, orders of magnitude below corpus size.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIterations: Int = 50,
      roundsCallback: Option[Int => Unit] = None): DataFrame = {
    val spark = pairs.sparkSession
    // Symmetric closure PLUS self-loops in ONE generator pass over the
    // pair list (r18 optimization round, guide §2.4). The previous shape —
    // `sym = pairs ∪ pairs.swapped` then `staged = sym ∪ sym.selfloops
    // .distinct()` — referenced the `pairs` subtree FOUR times, and a
    // caller's pair generation is typically its query's most expensive
    // plan (a banded bucket-join plus exact-Jaccard verification, or a
    // cell-blocked cosine self-join). AQE's stage reuse deduplicates the
    // EXCHANGES under those branches but not the post-exchange join +
    // verification segments, which re-ran per branch; the distinct for
    // self-loop dedup added one more exchange. Measured at sf0.1 (subset
    // A/B medians, OPTIMIZATION_r18.md): q32 7.24→4.43 s, q48b
    // 4.38→2.40, q48c 4.27→2.62, q52_oneshot 4.74→2.83, q89 15.0→11.5.
    // (An alternative fix — persist+count the pair list, then union —
    // measured SLOWER than baseline at sf0.1: the extra materialization
    // action and cache build cost more than the deduped segments saved.)
    // Here each pair row
    // explodes into its four edges — (a,b), (b,a), (a,a), (b,b) — so the
    // pair plan is referenced (and evaluated) exactly once, with no
    // distinct exchange and no extra materialization action. Self-loops
    // now repeat per pair OCCURRENCE rather than once per vertex: both
    // component strategies are multiplicity-blind (union-find ignores
    // duplicate edges; the loop's groupBy-min absorbs them), so the
    // output is unchanged; `edgeRows` below now counts 4·|pairs| rows,
    // which only nudges the two size HEURISTICS that consume it (the
    // driver-path gate and the loop grain).
    //
    // Null-id edges drop up front (an id paired only with null stays a
    // singleton via its self-loop): the loop's equi-joins would drop them
    // anyway — null never equals anything in SQL — but the driver
    // union-find would NPE on the collected rows, so the two strategies
    // diverged on the same degenerate input (r14 advisor). With (v,v)
    // present, the neighbor-min in the edge pass automatically includes
    // v's own label, so each round is a single join+groupBy — never a
    // union of a frame with its own derivation (which trips Union
    // constraint rewriting in Spark 4.1).
    val staged = Stage.cache(pairs
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")),
        struct(col("id_a").as("u"), col("id_a").as("v")),
        struct(col("id_b").as("u"), col("id_b").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull))
    Stage.using(staged) {
      // One counting action materializes the edge set and MEASURES it.
      // Everything the loop shuffles from here on is state-scale — the edges
      // plus one label row per vertex, a size now known exactly — so the loop
      // must not pay the session's corpus-scale initial shuffle grain
      // (GraftSession sets `initialPartitionNum = 8·cores` precisely for data
      // whose size AQE CANNOT know in advance; here we know it). Derive the
      // loop's grain from measured bytes — fine when the near-dup graph is
      // genuinely large, one-partition-per-core when it is small — and scope
      // it to the loop. The swap is session-visible while the loop runs
      // (SQLConf is session-scoped); queries planned concurrently on the same
      // session during a CC resolution would see the state-scale grain, a
      // bounded and documented trade. Measured at sf0.1 (solo interleaved
      // median-of-9, reproduced twice): q48b 8.17→5.85 s, q32 6.33→5.99,
      // q52_oneshot 5.53→5.78 (flat/noise); three-query total 20.0→17.6 s —
      // with the q16i 4 GiB robustness conf intact. A grain-only variant
      // WITHOUT the edge pre-partition below measured no better than the
      // session default (21.9 s total) — the pre-partition carries the win.
      val edgeRows = staged.count()
      // Small-graph fast path: below the conf'd edge bound (and for integral
      // ids, whose min-ordering is identical on the driver and in Spark —
      // strings are NOT: UTF8String binary order ≠ java.lang.String UTF-16
      // order), resolve components with a driver union-find instead of
      // paying rounds × exchanges of scheduling cost on a tiny frame. The
      // gate reuses the edge count just measured; `roundsCallback(0)` marks
      // a driver-resolved run in the scale records.
      val driverLimit = spark.conf
        .getOption("spark.graft.cc.driverEdgeLimit")
        .map(_.toLong).getOrElse(DriverEdgeLimitDefault)
      val integralIds = staged.schema.head.dataType match {
        case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
      // Strict `<`: `driverEdgeLimit = 0` is the force-distributed sentinel
      // (DedupSpec.forcedDistributed) — with `<=` an EMPTY graph
      // (0 <= 0) still took the driver path despite the force, so loop-
      // semantics tests silently asserted against union-find (r14 advisor).
      if (edgeRows < driverLimit && integralIds) {
        val out = driverComponents(staged)
        roundsCallback.foreach(_(0))
        out
      } else labelPropagation(staged, edgeRows, maxIterations, roundsCallback)
    }
  }

  /** The distributed strategy of [[connectedComponents]]: min-label
    * propagation with pointer jumping over the `staged` edge set, whose
    * row count the caller has measured (`edgeRows`).
    */
  private def labelPropagation(
      staged: DataFrame,
      edgeRows: Long,
      maxIterations: Int,
      roundsCallback: Option[Int => Unit]): DataFrame = {
    val spark = staged.sparkSession
    // The grain swap below is session-visible; [[grainSwapLock]] serializes
    // concurrent CC resolutions so no call captures another's temporary
    // grain as its restore target.
    grainSwapLock.synchronized {
      val grainKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
      val prevGrain = spark.conf.getOption(grainKey)
      val cores = spark.sparkContext.defaultParallelism.toLong
      val estBytes = edgeRows * (staged.schema.defaultSize + 16L)
      val byBytes = (estBytes + LoopGrainTargetBytes - 1) / LoopGrainTargetBytes
      val grain = math.max(cores, math.min(
        prevGrain.map(_.toLong).getOrElse(Long.MaxValue), byBytes)).toInt
      // Partition the edge set ONCE on the propagation key: every round's
      // edge pass clusters on `u`, and a persisted frame already
      // hash-partitioned on `u` satisfies the join's required distribution —
      // the edges (the largest frame in the loop) never re-shuffle; only the
      // much smaller label state moves each round. The initial labels
      // aggregation reuses the same partitioning for free.
      //
      // `dropDuplicates` BEFORE the persist (r19, ADVICE r18): the explode
      // form stages one self-loop per pair OCCURRENCE, so a vertex in k
      // pairs carries k duplicate (v,v) rows — plus any duplicate (u,v)
      // pairs the caller emitted — all of which the loop would otherwise
      // re-join against the labels EVERY round. Deduping here costs no
      // extra exchange (HashPartitioning on `u` satisfies the (u,v)
      // aggregation's required distribution, so it rides the repartition
      // just paid) and shrinks the loop's persisted frame toward the true
      // ~2E+V edge set. Output unchanged either way — both strategies are
      // multiplicity-blind — and the driver path keeps the raw multiset
      // (union-find absorbs duplicates cheaper than a dedup job would).
      val edges = Stage.cache(staged.repartition(grain, col("u"))
        .dropDuplicates(Seq("u", "v")))
      spark.conf.set(grainKey, grain.toString)
      // the edges are released however the loop ends (a job failure or
      // Observation error mid-iteration included: r14 advisor)
      try Stage.using(edges) {
        var labels = Stage.checkpoint(
          edges.groupBy(col("u").as("id")).agg(min(col("v")).as("label")))
        staged.unpersist(false) // edges materialized by the checkpoint above
        var converged = false
        var iter = 0
        while (!converged && iter < maxIterations) {
          // (1) edge pass: every vertex v takes min over {label(u) : u ~ v},
          // which includes label(v) via the self-loop
          val propagated = edges
            .join(labels.withColumnRenamed("id", "u"), "u")
            .groupBy(col("v").as("id")).agg(min("label").as("label"))
          // (2) pointer jump: label(v) <- label(label(v)). Every label value is
          // itself a vertex id (a min over vertex ids), so the inner join keeps
          // all rows.
          val jumped = propagated.as("x")
            .join(labels.as("y"), col("x.label") === col("y.id"))
            .select(col("x.id").as("id"), least(col("x.label"), col("y.label")).as("label"))
          // convergence rides the SAME job as the checkpoint materialization:
          // join the old labels back and count changed rows via a plan-attached
          // Observation, instead of a separate full-join action per round —
          // one job per round, not two.
          val changedObs = org.apache.spark.sql.Observation()
          val next = Stage.checkpoint(jumped.as("n")
            .join(labels.as("o"), col("n.id") === col("o.id"))
            .observe(changedObs,
              coalesce(sum(when(col("n.label") =!= col("o.label"), 1L).otherwise(0L)),
                lit(0L)).as("changed")) // sum over zero rows is null (empty graph)
            .select(col("n.id").as("id"), col("n.label").as("label")))
          converged = changedObs.get("changed") == 0L
          labels = next
          iter += 1
        }
        require(converged, s"connectedComponents did not converge in $maxIterations iterations")
        // O(log diameter) claim made observable: scale evidence (BASELINE.md's
        // sf0.1-vs-sf1 table) reads the round count through this hook
        roundsCallback.foreach(_(iter))
        labels.select(col("id"), col("label").as("cluster"))
      } finally {
        // Restore-with-compare: only undo OUR write. If some non-CC writer
        // changed the grain while the loop ran, clobbering it with
        // `prevGrain` would silently revert their setting.
        if (spark.conf.getOption(grainKey).contains(grain.toString)) {
          prevGrain match {
            case Some(v) => spark.conf.set(grainKey, v)
            case None    => spark.conf.unset(grainKey)
          }
        }
      }
    }
  }

  /** Leakage-free train/val split CONSUMING a persisted cluster artifact —
    * the 100 TB form of cluster-keyed splitting: `cc` is a (idCol, cluster)
    * frame some earlier cluster-resolution run persisted
    * ([[connectedComponents]] output, parquet'd), and this operator only
    * joins it back and assigns the deterministic
    * [[graft.operators.Sampling.hashSplit]] label on the cluster id. Docs
    * absent from the artifact (never in any near-dup pair) are their own
    * singleton cluster via the coalesce. Nothing here re-derives
    * signatures, candidate pairs, or components — at 100 TB you re-cluster
    * on the artifact's cadence (nightly), not per split assignment.
    *
    * Plan shape: ONE join. The artifact holds only docs that appear in a
    * near-dup pair — usually orders of magnitude below corpus size, so the
    * optimizer broadcasts it and the corpus never shuffles; if a
    * pathological corpus makes the artifact data-sized, the join degrades
    * to a shuffle join on the id, which is still the minimal plan (no
    * hard broadcast hint for exactly that reason).
    */
  def clusterSplitFrom(
      corpusIds: DataFrame,
      idCol: String,
      cc: DataFrame,
      trainRate: Double): DataFrame = {
    val cluster = coalesce(col("cluster"), col(idCol))
    corpusIds.select(idCol)
      .join(cc.select(col(idCol), col("cluster")), Seq(idCol), "left")
      .select(
        col(idCol),
        cluster.as("cluster"),
        graft.operators.Sampling.hashSplit(cluster, trainRate).as("split"))
  }

  /** Blocked n-gram Jaccard via shingle co-occurrence: explode shingles,
    * self-join on (block, shingle) — a bucketed equi-join — and count
    * common shingles per pair; Jaccard follows from
    * |∩| / (|A| + |B| − |∩|).
    *
    * This deliberately never materializes pairs with ZERO shared shingles
    * (their Jaccard is 0), so it is output-identical to block-all-pairs for
    * any `threshold > 0` — and at scale it replaces per-pair hash-set
    * intersections over full shingle arrays with one shuffle keyed on the
    * shingle plus a partial-aggregated pair count (the plan that made the
    * array-carrying version 30× slower at sf0.1). Recall is bounded by the
    * blocking choice, which is the documented trade.
    */
  def blockedJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: Column,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0, "threshold must be > 0: zero-overlap pairs are never produced")
    val sh = Stage.cache(df.select(
      col(idCol).as("id"),
      blockCol.as("block"),
      TextStats.shingles(TextStats.tokens(col(textCol)), shingleSize).as("shingles")))
    val sizes = sh.select(col("id"), size(col("shingles")).as("n"))
    val long = sh.select(col("id"), col("block"), explode(col("shingles")).as("s"))
    val inter = long.as("a")
      .join(long.as("b"),
        col("a.block") === col("b.block") && col("a.s") === col("b.s") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Containment-candidate pairs via shared WINNOWING fingerprints
    * ([[TextStats.winnowFingerprints]]): pairs of docs sharing at least
    * `minShared` fingerprints, with `containment` = shared /
    * min(|fps_a|, |fps_b|). This catches near-verbatim LOCAL overlap —
    * a document quoted inside a much larger one — which whole-document
    * Jaccard under-scores (the union term grows with the big doc) and
    * exact dedup misses entirely; the standard MOSS-style plagiarism /
    * quote-detection shape, here as a dedup-pipeline feeder.
    *
    * Plan: explode fingerprints, self-join bucketed on the fingerprint
    * (one shuffle), partial-aggregated pair counts — the same
    * co-occurrence rewrite as [[blockedJaccardPairs]], never an
    * array-carrying join. `maxBucketSize` caps a ubiquitous-boilerplate
    * fingerprint's bucket to its smallest ids ([[bucketJoin]], observable
    * via `capObservation` as `truncated_fp_buckets`, `dropped_fp_rows`) so
    * one viral snippet cannot make a bucket quadratic; the join rows are
    * counted per pair, not deduped, since the count IS `shared_fps`. The exploded fingerprints are cached
    * and caller-owned ([[Stage]]).
    */
  def winnowOverlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxBucketSize: Int = 10000,
      capObservation: Option[Observation] = None): DataFrame = {
    val fps = Stage.cache(df.select(col(idCol).as("id"),
      explode(TextStats.winnowFingerprints(col(textCol), k, w)).as("fp")))
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("n"))
    bucketJoin(fps, fps, Seq("fp"), maxBucketSize, capObservation,
        ("truncated_fp_buckets", "dropped_fp_rows"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
      .withColumn("containment",
        round(col("shared_fps").cast("double") / least(col("n_a"), col("n_b")), 6))
      .select("id_a", "id_b", "shared_fps", "containment")
  }

  /** Per-token bit hash for [[simhash]]: bit `j` of xxhash64(token).
    * Spark-native codegen, the default — but xxhash64 has no DuckDB
    * equivalent, so sketches built with it are property-tested only.
    */
  def xxhashBit(t: Column, j: Int): Column =
    shiftright(xxhash64(t), j).bitwiseAND(1) === 1

  /** Cross-engine bit hash: the parity of hex digit `j` of md5(token)
    * (a hex digit's low bit is 1 iff it is in [13579bdf]). md5 exists in
    * DuckDB with identical lowercase-hex output, so sketches built with
    * this variant have an exact SQL oracle. Supports bits <= 32 (one hex
    * digit per bit position).
    */
  def md5Bit(t: Column, j: Int): Column =
    substring(md5(t), j + 1, 1).isin("1", "3", "5", "7", "9", "b", "d", "f")

  /** [[md5Bit]] widened past 32 positions: bit j reads BIT PLANE j/32 of
    * md5 hex digit j%32 (a hex digit holds 4 bits, so one md5 yields up
    * to 128 independent positions). Plane 0 is [[md5Bit]] verbatim —
    * digit parity, membership in [13579bdf] — so every sketch built at
    * `bits <= 32` is unchanged; plane p tests membership in the hex
    * digits whose bit p is set. DuckDB-expressible the same way
    * (strpos over the plane's digit set), so wide sketches keep an exact
    * SQL oracle.
    */
  def md5BitWide(t: Column, j: Int): Column = {
    val plane = j / 32
    require(plane < 4, s"md5 has 128 bits: position $j out of range")
    val set = "0123456789abcdef"
      .filter(c => ((Integer.parseInt(c.toString, 16) >> plane) & 1) == 1)
    substring(md5(t), (j % 32) + 1, 1).isin(set.map(_.toString): _*)
  }

  /** SimHash (Charikar) over per-token bit hashes, `bits` wide: per bit,
    * sum +1 for set / -1 for unset across tokens; the sign vector packs
    * into a long. Cheap near-dup sketch; pairs within small Hamming
    * distance are candidates. The bit hash is pluggable: [[xxhashBit]]
    * (default, fastest) or [[md5Bit]] (DuckDB-oracle-expressible).
    */
  def simhash(
      text: Column, bits: Int = 16,
      bit: (Column, Int) => Column = xxhashBit): Column = {
    val toks = TextStats.tokens(text)
    val bitSums = (0 until bits).map { j =>
      aggregate(toks, lit(0L),
        (acc, t) => acc + when(bit(t, j), 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex
      .map { case (s, j) => when(s > 0, lit(1L << j)).otherwise(0L) }
      .reduce(_ + _)
  }

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The md5-variant sketch through the native one-pass
    * [[graft.functions.SimHashSketch]] kernel — bit-identical to
    * `simhash(text, bits, md5Bit)`, which re-walks the token array through
    * `bits` interpreted `aggregate` call sites (32 re-tokenizations per
    * row at q64's width). `coalesce(.., 0)` reproduces the composable
    * chain's 0-on-null-text edge (the kernel itself is null-in/null-out).
    * Requires [[graft.GraftExtensions]] on the session; parity with the
    * composable form is pinned in `TextKernelsSpec`.
    */
  def simhashMd5(text: Column, bits: Int): Column =
    coalesce(
      call_function("simhash_md5", TextStats.tokens(text), lit(bits)),
      lit(0L))

  /** SimHash near-dup PAIRS via banding — the retrieval half of the
    * [[simhash]] sketch (Manku-Jain-Sarma, WWW'07 shape, public): split
    * the `bits`-wide sketch into `bands` contiguous slices; by pigeonhole,
    * any pair within Hamming distance `maxHamming < bands` agrees exactly
    * on at least one slice, so joining on (band index, band value) finds
    * every such pair — no all-pairs comparison — and an exact
    * [[hamming]] check on the candidates removes the false positives.
    * Output: (id_a, id_b, hamming), id_a < id_b, hamming <= maxHamming.
    *
    * Scale shape: the sketch is row-local (one long per doc); candidates
    * come from ONE shuffle on the band-slice key, so the work is
    * O(bucket²) per (band, value) bucket, not O(N²). `maxBucketSize`
    * caps a degenerate bucket (e.g. a boilerplate flood collapsing to one
    * sketch) to its smallest ids, observable via `capObservation` — the
    * [[bucketJoin]] cap every banded pairing shares: capped on one side
    * only, so every surviving doc still probes the full kept index. Wider sketches spread buckets exponentially (2^(bits/bands)
    * values per band): at corpus scale prefer bits=32/bands=4 (256-way
    * spread) over the q14 report sketch's 16 bits.
    *
    * The sketch is pluggable as a (text, bits) => Column function:
    * `simhash(_, _, xxhashBit)` (default), `simhash(_, _, md5Bit)`
    * (DuckDB-expressible composable form), or [[simhashMd5]] (same md5
    * semantics through the native one-pass kernel — the registered-query
    * path).
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 32,
      bands: Int = 4,
      maxHamming: Int = 3,
      sketchOf: (Column, Int) => Column = simhash(_, _, xxhashBit),
      maxBucketSize: Int = 10000,
      capObservation: Option[Observation] = None): DataFrame = {
    require(bands > maxHamming,
      s"pigeonhole guarantee needs bands > maxHamming, got $bands <= $maxHamming")
    require(bits % bands == 0, s"bands must divide bits, got $bits % $bands")
    val sketches = df.select(col(idCol).as("id"),
      sketchOf(col(textCol), bits).as("sk"))
    val banded = Stage.cache(simhashBandFrame(sketches, bits, bands))
    simhashPairsFromBands(banded, banded, maxHamming, maxBucketSize,
      capObservation, probe = false)
  }

  /** Banded rows of an `(id, sk)` signature frame — the q64/q83 blocking
    * layout as a PERSISTABLE artifact ([[bandFrame]]'s analogue for the
    * simhash signature family): one (id, sk, band, bv) row per band.
    * Carrying `sk` beside the band key keeps an ingest index
    * self-contained: the probe join yields both signatures, so the exact
    * Hamming verify needs no second lookup table (signatures have no
    * shingle analogue — the signature IS the verifier).
    */
  def simhashBandFrame(sigs: DataFrame, bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, s"bands must divide bits, got $bits % $bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    sigs.select(col("id"), col("sk"),
      explode(array((0 until bands).map(j => struct(lit(j).as("band"),
        shiftright(col("sk"), j * width).bitwiseAND(mask).as("bv"))): _*)).as("b"))
      .select(col("id"), col("sk"), col("b.band").as("band"), col("b.bv").as("bv"))
  }

  /** The block index combinations behind [[simhashComboFrame]]: every
    * `choose`-subset of `blocks` block indices, in deterministic
    * lexicographic order (the order IS the band id on both the Spark and
    * the SQL-oracle side).
    */
  private[graft] def blockCombos(blocks: Int, choose: Int): Seq[Seq[Int]] =
    (0 until blocks).combinations(choose).map(_.toSeq).toSeq

  /** Block-COMBINATION banded rows of an `(id, sk)` signature frame — the
    * scale-honest banding the fixed-slice [[simhashBandFrame]] degenerates
    * into needing (the q64 third-decade diagnosis): split the sketch into
    * `blocks` slices; a pair within Hamming `maxHamming` differs in at
    * most `maxHamming` slices, so it agrees EXACTLY on some
    * `blocks - maxHamming` of them — key each candidate row by every such
    * combination, with the combination's slice values packed into one
    * long. This is the Manku–Jain–Sarma (WWW'07, public) multi-table
    * construction expressed relationally.
    *
    * Why it fixes the quadratic: [[simhashBandFrame]]'s band key is ONE
    * slice — 2^(bits/bands) values for any corpus size, so CHANCE
    * collisions grow ∝ N²/2^(bits/bands) and the exact-Hamming verify
    * pays them (measured: q64's 25× third-decade step, BASELINE r17).
    * Here the key is `blocks - maxHamming` slices wide — e.g. 8 blocks of
    * 7 bits at Hamming 3 give 35-bit keys, 2^27 times the old 8-bit
    * cardinality — so chance collisions are C(blocks, blocks-k)·N²/2^35:
    * negligible through the billion-doc decade, with both `blocks` and
    * the sketch width as knobs to widen the key further (the md5 sketch
    * extends to 128 positions via [[md5BitWide]]). The explode factor is
    * C(blocks, blocks-maxHamming) rows per doc — LINEAR, the deliberate
    * trade against the quadratic verify.
    */
  def simhashComboFrame(
      sigs: DataFrame, bits: Int, blocks: Int, maxHamming: Int): DataFrame = {
    require(blocks > maxHamming,
      s"pigeonhole guarantee needs blocks > maxHamming, got $blocks <= $maxHamming")
    require(bits % blocks == 0, s"blocks must divide bits, got $bits % $blocks")
    val width = bits / blocks
    val mask = (1L << width) - 1
    val combos = blockCombos(blocks, blocks - maxHamming)
    require(width * (blocks - maxHamming) <= 62,
      s"packed combo key must fit a non-negative long: " +
        s"${width * (blocks - maxHamming)} bits")
    sigs.select(col("id"), col("sk"),
      explode(array(combos.zipWithIndex.map { case (combo, ci) =>
        val packed = combo.zipWithIndex.map { case (b, pos) =>
          // block b's slice value, placed at key slot pos
          shiftright(col("sk"), b * width).bitwiseAND(mask) * lit(1L << (pos * width))
        }.reduce(_ + _)
        struct(lit(ci).as("band"), packed.as("bv"))
      }: _*)).as("b"))
      .select(col("id"), col("sk"), col("b.band").as("band"), col("b.bv").as("bv"))
  }

  /** SimHash near-dup pairs through [[simhashComboFrame]] — identical
    * output contract to [[simhashPairs]] ((id_a, id_b, hamming),
    * id_a < id_b, hamming <= maxHamming; pigeonhole-complete, so equal to
    * brute force) with the combination banding replacing the fixed-slice
    * banding. Same capped-bucket/verify tail ([[simhashPairsFromBands]]);
    * the cap is a formality here — a bucket only fills through REAL
    * near-duplicate mass once chance collisions are 2^-35.
    */
  def simhashPairsBlocked(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 56,
      blocks: Int = 8,
      maxHamming: Int = 3,
      sketchOf: (Column, Int) => Column = simhash(_, _, xxhashBit),
      maxBucketSize: Int = 10000,
      capObservation: Option[Observation] = None): DataFrame = {
    val sketches = df.select(col(idCol).as("id"),
      sketchOf(col(textCol), bits).as("sk"))
    val banded = Stage.cache(simhashComboFrame(sketches, bits, blocks, maxHamming))
    simhashPairsFromBands(banded, banded, maxHamming, maxBucketSize,
      capObservation, probe = false)
  }

  /** The shared pairing tail over banded signature frames: the
    * [[bucketJoin]] on (band, bv) carrying `sk` (`capped` is side a,
    * observed as `truncated_band_buckets`, `dropped_band_rows`), dedupe
    * multi-band agreements, verify by exact Hamming. `probe = false` is
    * the one-shot self-join; the incremental ingest passes the index as
    * `capped` and the batch as `other` in probe mode.
    */
  private def simhashPairsFromBands(
      capped: DataFrame,
      other: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int,
      capObservation: Option[Observation] = None,
      probe: Boolean): DataFrame =
    bucketJoin(capped, other, Seq("band", "bv"), maxBucketSize, capObservation,
        ("truncated_band_buckets", "dropped_band_rows"), probe, carry = Seq("sk"))
      .distinct() // a pair agreeing on several bands appears once
      .withColumn("hamming", hamming(col("sk_a"), col("sk_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")

  /** Incremental simhash-family near-dup: pairs between a batch's banded
    * signatures and the persisted banded index, PLUS within-batch pairs —
    * [[incrementalMinhashPairsFromArtifacts]]'s contract for the
    * signature family (q83's image hashes in the streaming ingest loop).
    * The INDEX side is the capped one (a hot bucket must not make one
    * trigger quadratic in the corpus; within-batch pairing caps the batch
    * side as the one-shot form does), id-inequality guards at-least-once
    * replay, and the final distinct folds a pair surfacing through both
    * the cross and within paths to one row.
    */
  private[graft] def incrementalSimhashPairsFromArtifacts(
      indexBands: DataFrame,
      batchBands: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    val within = simhashPairsFromBands(batchBands, batchBands,
      maxHamming, maxBucketSize, probe = false)
    val cross = simhashPairsFromBands(indexBands, batchBands,
      maxHamming, maxBucketSize, probe = true)
    within.union(cross).distinct()
  }

  /** Exact duplicated-SPAN removal over the token stream — the document
    * REWRITE step of exact-substring dedup ("ExactSubstr", Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", public),
    * re-expressed relationally in k-token span space: an occurrence of a
    * k-token span is cut when the same span text occurs anywhere else in
    * the corpus (other docs OR earlier in the same doc) and this occurrence
    * is not the canonical one — canonical = first in (doc_id, start) order,
    * so exactly ONE copy of every duplicated span survives corpus-wide
    * (q47 only SCORES cross-doc overlap; q51 cuts whole duplicate lines;
    * this cuts arbitrary in-line spans). Spans are marked against the
    * ORIGINAL corpus in one pass — the rewrite never re-shingles its own
    * output, matching the published implementation, whose suffix-array
    * duplicate ranges are likewise computed once over the input.
    *
    * Output per doc (every input doc appears): `doc_id`, `n_tokens`,
    * `n_removed` (positions covered by a cut span), `cut_ratio`
    * (null for zero-token docs), `cleaned_text` — surviving tokens
    * re-joined with single spaces (token-space rewrite: whitespace is
    * normalized by construction; "" when nothing survives). Docs with
    * fewer than k tokens contain no k-token span and are never cut.
    *
    * doc_id contract: non-negative integral (the canonical-occurrence key
    * zero-pads it into a cross-engine-orderable string).
    *
    * Scale shape — the q44/q47 term-join layout, never pairwise: positional
    * spans explode once and are cached (caller-owned, [[Stage]]); span-keyed partial
    * aggregation derives (occurrence count, canonical key) per distinct
    * span text — map-side combine absorbs hot boilerplate spans, and the
    * post-filter table holds only DUPLICATED spans, a small fraction joined
    * back on the span key (one row per span on the build side, so a hot
    * span's bucket stays |docs carrying it|, not a pair explosion). One
    * doc-keyed aggregation collects sorted cut positions, one doc-keyed
    * left join re-attaches them to the token arrays, and the cut itself is
    * the row-local O(n + m) native `cut_spans` kernel inside whole-stage
    * codegen. Three shuffles total (span agg, doc agg, doc join); no
    * driver-side anything.
    */
  def spanDedup(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span size must be >= 2, got $k")
    val base = df.select(
      col(idCol).as("doc_id"), TextStats.tokens(col(textCol)).as("toks"))
    // canonical-occurrence key: zero-padded "(doc):(start)" orders
    // identically as a string in both engines (lpad in the DuckDB twin)
    val occKey = concat(
      lpad(col("doc_id").cast("string"), 20, "0"), lit(":"),
      lpad(col("start").cast("string"), 10, "0"))
    val occ = Stage.cache(base
      .select(col("doc_id"),
        posexplode(TextStats.positionalShingles(col("toks"), k))
          .as(Seq("start", "s")))
      .withColumn("okey", occKey))
    val canon = occ.groupBy("s")
      .agg(count(lit(1)).as("occ_total"), min(col("okey")).as("canon_key"))
      .filter(col("occ_total") >= 2)
      .select("s", "canon_key")
    val cutStarts = occ.join(canon, "s")
      .filter(col("okey") =!= col("canon_key"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("start"))).as("starts"))
    val cut = call_function("cut_spans", col("toks"),
      coalesce(col("starts"), array().cast("array<int>")), lit(k))
    base.join(cutStarts, Seq("doc_id"), "left_outer")
      .withColumn("__cut", cut)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        col("__cut").getField("n_removed").cast("long").as("n_removed"),
        round(col("__cut").getField("n_removed").cast("double") /
          nullif(size(col("toks")), lit(0)).cast("double"), 6).as("cut_ratio"),
        col("__cut").getField("cleaned").as("cleaned_text"))
  }
}
