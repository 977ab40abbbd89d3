package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.Stage

import scala.collection.mutable

/** Exact frequent-item ("heavy hitter") mining in two bounded passes: a
  * per-partition Misra-Gries summary proposes a small candidate superset,
  * then an exact recount of ONLY the candidates filters to the true heavy
  * hitters. The result is exact (identical to a full `groupBy(key).count`
  * + threshold filter) but the wide aggregation never materializes the
  * full key cardinality — the classic answer to "top terms over 100 TB of
  * text" where the naive groupBy would shuffle billions of distinct keys
  * to find the few hundred frequent ones.
  *
  * Correctness of the pruning (why no heavy hitter can be missed):
  * Misra-Gries with `k` counters over a partition of `n_p` rows
  * underestimates any item's partition-local count by at most `n_p / k`,
  * so an item with local count > `n_p / k` ends with a positive counter
  * and is emitted. If an item's GLOBAL count exceeds `N / k`, then by
  * averaging it must exceed `n_p / k` in at least one partition (if it
  * were ≤ in every one, summing across partitions bounds its global count
  * by `N / k`) — so every global heavy hitter survives in at least one
  * partition's summary, and the union of summaries is a guaranteed
  * candidate superset. The recount then removes false positives exactly.
  *
  * Scale shape: pass 1 is a narrow scan emitting ≤ `k` keys per partition
  * (the summary is bounded regardless of data size or skew); the distinct
  * candidate set is ≤ k × partitions rows — broadcastable by construction
  * — so pass 2 is a broadcast semi-join + aggregation over only the
  * candidate keys' rows. Neither pass shuffles the full key space. The
  * per-partition summary is genuine imperative per-partition logic (a
  * counter map with decrement-all eviction), which is why this is one of
  * the engine's few justified `mapPartitions` sites — there is no
  * Catalyst expression for "bounded-memory streaming summary".
  */
object HeavyHitters {

  /** Misra-Gries summary of one iterator: at most `k` keys whose residual
    * counter is positive. Amortized O(1) per row: each decrement-all
    * round is paid for by the k insertions that preceded it.
    */
  private[graft] def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val counters = mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val key = it.next()
      counters.get(key) match {
        case Some(c) => counters.update(key, c + 1)
        case None =>
          if (counters.size < k) counters.update(key, 1L)
          else {
            // decrement-all; evict zeros (the MG eviction step)
            val dead = mutable.ArrayBuffer.empty[String]
            counters.foreach { case (kk, c) =>
              if (c == 1L) dead += kk else counters.update(kk, c - 1)
            }
            dead.foreach(counters.remove)
          }
      }
    }
    counters.keysIterator
  }

  /** All values of `keyCol` whose global count × `supportDenom` exceeds
    * the total row count N — i.e. frequency strictly above `N /
    * supportDenom` — with their EXACT counts. Output: (`keyCol` as
    * StringType — all passes run on one string-cast projection, see the
    * coercion note in the body — n_occurrences), deterministic (exact
    * counts, threshold in integer
    * arithmetic — no double compare). Null keys are excluded ENTIRELY —
    * from the result, the candidate summaries, and N — so the contract
    * is exactly "naive groupBy + threshold over the non-null keys"
    * (leaving nulls in N while the equi-join could never return them
    * would silently deflate every real key's frequency ratio).
    *
    * Exactly TWO passes over `keyed`: the summary pass folds each
    * partition's row count into its output (a counting iterator wraps the
    * scan the summary was consuming anyway), so N needs no third scan —
    * the summary frame is ≤ (k+1) × partitions rows and yields both the
    * candidate set and N. It is cached because two tiny jobs read it (the
    * N scalar, the candidate broadcast); the cache is caller-owned
    * ([[graft.Stage]]).
    */
  def heavyHitters(keyed: DataFrame, keyCol: String, supportDenom: Int): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    // Every pass — summary, semi-join, recount — runs on the SAME
    // string-cast projection. Joining the string candidates back against
    // the column's native type would make Spark coerce a bigint USING-join
    // to double, where keys above 2^53 collide and the operator silently
    // returns wrong counts; casting once up front keys every pass on the
    // exact string form (distinct values stay distinct under cast). The
    // output key column is therefore always StringType, matching the
    // summary the candidates came from.
    val nonNull = keyed.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as(keyCol))
    val keys: Dataset[String] = nonNull.as[String]
    val summary = Stage.cache(keys.mapPartitions { it =>
        var n = 0L
        val counting = new Iterator[String] {
          def hasNext: Boolean = it.hasNext
          def next(): String = { n += 1; it.next() }
        }
        // misraGries drains the iterator before returning, so n is final
        val cands = misraGries(counting, supportDenom).toArray
        Iterator((Option.empty[String], n)) ++
          cands.iterator.map(k => (Some(k), 0L))
      }.toDF(keyCol, "_part_rows"))
    // coalesce: a zero-partition input (empty frame, empty parquet read)
    // emits no (null, n) rows at all, so sum() is NULL, not 0
    val n = summary.agg(coalesce(sum("_part_rows"), lit(0L))).head().getLong(0)
    val candidates = summary.filter(col(keyCol).isNotNull)
      .select(keyCol).distinct()
    nonNull
      .join(broadcast(candidates), keyCol)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * supportDenom > lit(n))
  }
}
