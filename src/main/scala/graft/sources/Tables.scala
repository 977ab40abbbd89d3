package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source readers for the engine.
  *
  * Mirrors the reference's source surface (SURVEY.md §2.1):
  *  - S1 path-partitioned parquet scan (`event_verify.py:21`)
  *  - S2 CSV scan with header + schema inference (`event_verify.py:27-30`)
  *  - S3 local-collection source with explicit schema (`event_verify.py:106-119`)
  *
  * At cluster scale the parquet reader relies on Catalyst for predicate
  * pushdown, column pruning, and partition pruning — callers should filter
  * and select on the returned DataFrame rather than pre-materializing.
  */
object Tables {

  /** S1 — read one table of the synthetic test corpus: `<dir>/<name>.parquet`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** S1 — path-partitioned parquet scan, parameterized like the reference's
    * `process_date=`/`event_date=` layout (`event_verify.py:18-21`). Path
    * construction performs the partition pruning, exactly as the reference
    * does; for multi-partition reads prefer [[partitionedRoot]] + a filter so
    * Catalyst prunes instead.
    */
  def partitioned(spark: SparkSession, base: String, parts: (String, String)*): DataFrame = {
    val suffix = parts.map { case (k, v) => s"$k=$v" }.mkString("/", "/", "")
    spark.read.parquet(base + suffix)
  }

  /** S1 (scale path) — read the whole partitioned root with partition-column
    * discovery so `df.filter($"process_date" === d)` prunes at plan time.
    */
  def partitionedRoot(spark: SparkSession, base: String): DataFrame =
    spark.read.option("basePath", base).parquet(base)

  /** S2 — CSV with header + inferSchema (`event_verify.py:27-30`),
    * byte-for-byte the reference's read options.
    */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** RFC 4180 CSV reader — the round-trip twin of [[Sinks.csvReport]]'s
    * pinned quoting: doubled-quote escape and `multiLine` so quoted
    * embedded newlines parse as values, not row breaks (multiLine makes a
    * file non-splittable — one task per file — which is why it is NOT the
    * default S2 reader; reports are small by construction).
    */
  def csvRfc(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("escape", "\"").option("multiLine", "true").csv(path)

  /** JSON-lines reader with an EXPLICIT schema — the standard raw-corpus
    * interchange format of LLM data pipelines. The schema is required, not
    * inferred: inference costs a full extra pass over the data and makes
    * the output schema data-dependent, both wrong at 100 TB. Rows that
    * don't parse surface in `_corrupt_record` when the schema includes it
    * (PERMISSIVE default) instead of failing the job.
    */
  def jsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Streaming twin of [[jsonl]]: watch a directory for new JSON-lines
    * files (the land-then-process ingest pattern). Streaming sources
    * REQUIRE the explicit schema — inference is impossible on unbounded
    * input — and `maxFilesPerTrigger` bounds each micro-batch so one bulk
    * drop of history cannot produce an unbounded batch.
    */
  def jsonlStream(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** The events stream table, normalized to the engine's internal time
    * convention: `ts` is BIGINT epoch-nanoseconds regardless of the file's
    * physical type. The corpus has shipped as both TIMESTAMP(NANOS)
    * (which `nanosAsLong` reads as long ns directly) and TIMESTAMP(MICROS)
    * (which reads as a timestamp); every downstream operator and oracle
    * assumes ONE spelling, so the seam is absorbed here, once, as a cast
    * inside the scan projection — plan-time, codegen'd, no extra pass.
    * (DuckDB twins are already layout-agnostic: `epoch_ns(ts)` yields ns
    * for either physical type.) The NTZ→LTZ cast is exact because the
    * session timezone is pinned to UTC ([[graft.GraftSession.required]]).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
}

/** S4 — sinks (SURVEY.md §2.1). */
object Sinks {
  /** Single-file CSV report, as the reference writes it
    * (`event_verify.py:230-231`). `files = 1` reproduces the reference's
    * `coalesce(1)`; at 100 TB a single file is a scale ceiling, so the file
    * count is configurable and defaults to the natural partitioning.
    *
    * Quoting is pinned to RFC 4180: Spark's default escape is backslash
    * (`"a\"b"`), which only Spark itself reads back — any embedded quote
    * would silently corrupt the report for DuckDB/Excel/csv-module
    * consumers. `escape = "` emits doubled quotes (`"a""b"`) instead, and
    * is byte-identical to the default for values without quotes (quoting
    * itself only triggers on delimiter/quote/newline), so clean reports —
    * including the checked-in golden file — are unchanged. Round-trip
    * readers need the same escape option plus `multiLine` for embedded
    * newlines ([[Tables.csvRfc]]).
    */
  def csvReport(df: DataFrame, path: String, files: Int = 0): Unit = {
    val out = if (files > 0) df.coalesce(files) else df
    out.write.mode("overwrite").option("header", "true")
      .option("escape", "\"").csv(path)
  }

  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** JSON-lines sink (one JSON object per line, splittable back through
    * [[Tables.jsonl]]).
    */
  def jsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Hive-style partitioned parquet — the output layout the reference
    * CONSUMES (`process_date=`/`event_date=` paths, `event_verify.py:21`)
    * but never produces. At 100 TB this is how results land: one directory
    * per partition value, so downstream readers get plan-time partition
    * pruning (see [[Tables.partitionedRoot]]) instead of full scans.
    */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Dynamic partition overwrite: replace ONLY the hive partitions the
    * incoming frame actually contains, leaving every other partition's
    * files untouched — the idempotent daily-reprocess primitive (re-run
    * `process_date=2024-01-02` without clobbering the rest of the year).
    * Plain `mode("overwrite")+partitionBy` deletes the ENTIRE root first
    * (Spark's static overwrite default) — at 100 TB that difference is the
    * whole table. Session-level `spark.sql.sources.partitionOverwriteMode`
    * stays untouched: the option form scopes the behavior to this write.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)
}

/** Small-file compaction — the table-maintenance half of the partitioned
  * sink story. Streaming micro-batches, per-trigger JSONL drops, and
  * over-parallel writes all accumulate files far below the scan-efficient
  * size; at 100 TB the resulting task explosion and name-node pressure is
  * an operational outage, not a nuisance. Compaction rewrites a directory
  * into approximately `targetFileBytes`-sized files, sized from the ACTUAL
  * input bytes (one filesystem listing — no data pass, no guessing).
  */
object Compaction {

  /** Total on-disk bytes of data files under `path` (dot/underscore
    * metadata files excluded — same convention Spark's own file index
    * uses).
    */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) total += f.getLen
    }
    total
  }

  /** Rewrite `inPath`'s parquet into ~`targetFileBytes` files at `outPath`;
    * returns the file count written. Round-robin repartition gives uniform
    * file sizes; pass `sortCols` to additionally range-lay the data so
    * min/max row-group pruning works on the sort key afterwards.
    */
  def compactParquet(
      spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L << 20,
      sortCols: Seq[String] = Seq.empty): Int = {
    val (laid, files) = layout(spark.read.parquet(inPath), dataBytes(spark, inPath),
      targetFileBytes, sortCols)
    laid.write.mode("overwrite").parquet(outPath)
    files
  }

  /** [[compactParquet]]'s layout of `df`, whose files hold `bytes`: the
    * frame to write and its file count.
    */
  def layout(
      df: DataFrame, bytes: Long, targetFileBytes: Long,
      sortCols: Seq[String]): (DataFrame, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val files = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val laid =
      if (sortCols.nonEmpty && files == 1)
        // Single-file target: `repartitionByRange(1, …)` would still run
        // the range partitioner's SAMPLING job and a full shuffle to
        // compute the one trivial range — `coalesce(1)` merges the input
        // splits with no shuffle and no sampling pass, and the
        // within-partition sort produces the identical sorted file
        // (r18 optimization round, guide §2.4: an orderBy-shaped exchange
        // used only to reach a single output partition is removable).
        df.coalesce(1).sortWithinPartitions(sortCols.map(df.col): _*)
      else if (sortCols.nonEmpty)
        df.repartitionByRange(files, sortCols.map(df.col): _*)
          .sortWithinPartitions(sortCols.map(df.col): _*)
      else df.repartition(files)
    (laid, files)
  }

  /** Leaf partition directories of a hive-partitioned layout, as
    * root-relative paths ("lang=en/year=2024"). Empty when `path` holds
    * plain data files (no `k=v` subdirectories). One recursive listing —
    * metadata only, no data pass.
    */
  def partitionDirs(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(dir: org.apache.hadoop.fs.Path): Seq[String] = {
      val parts = fs.listStatus(dir).filter(s =>
        s.isDirectory && s.getPath.getName.contains("="))
      if (parts.isEmpty) Seq(dir.toUri.getPath.stripPrefix(root.toUri.getPath).stripPrefix("/"))
      else parts.toSeq.flatMap(s => leaves(s.getPath))
    }
    leaves(root).filter(_.nonEmpty)
  }

  /** Partition-aware compaction: each leaf partition of a hive layout is
    * compacted to ITS OWN byte-sized file count and rewritten under the
    * same `k=v` path, so the output keeps the exact partition structure —
    * readers still get plan-time partition pruning
    * ([[Tables.partitionedRoot]]) — and a skewed partition gets more files
    * while a tiny one collapses to one. Returns partition-relative path →
    * files written.
    *
    * Runs one bounded job per partition, which is the operational shape on
    * purpose: table maintenance at 100 TB compacts the handful of
    * partitions a streaming ingest touched today (pass `partitions`), not
    * the whole table, and a failure mid-run leaves untouched partitions
    * valid. A non-partitioned layout (no `k=v` dirs) degrades to plain
    * [[compactParquet]] on the root.
    */
  def compactPartitionedParquet(
      spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L << 20,
      sortCols: Seq[String] = Seq.empty,
      partitions: Option[Seq[String]] = None): Map[String, Int] = {
    val leaves = partitions.getOrElse(partitionDirs(spark, inPath))
    if (leaves.isEmpty)
      Map("" -> compactParquet(spark, inPath, outPath, targetFileBytes, sortCols))
    else {
      // Per-partition compactions are INDEPENDENT jobs (disjoint inputs,
      // disjoint output leaves), so submit them from a small thread pool
      // instead of serially (r18 optimization round, guide §2.6: overlap
      // independent jobs so one partition's write/commit tail back-fills
      // with the next partition's scan). Each partition is still its own
      // bounded Spark job — the failure-isolation property the scaladoc
      // promises is unchanged, and the result map is keyed, so completion
      // order cannot reorder it. 4 in flight is the guide's "enough to
      // fill the tail" sizing; measured at sf0.1 (5 lang partitions):
      // q63 5.10 (in-registry) → 3.05 s (solo, normally the SLOWER
      // protocol) together with the coalesce fast path above.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, leaves.size))
      implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val futs = leaves.map { rel =>
          scala.concurrent.Future(rel -> compactParquet(
            spark, s"$inPath/$rel", s"$outPath/$rel", targetFileBytes, sortCols))
        }
        // Await ALL outcomes before propagating any failure (ADVICE r18):
        // a fail-fast Future.sequence would throw while sibling
        // partitions' jobs were still writing their output leaves in the
        // background, so a caller that catches and retries could race its
        // retry against those orphaned writes. Lifting each future to its
        // Try makes the sequence total — every in-flight compaction has
        // finished (either way) before the first failure is rethrown, and
        // the failure-isolation promise above (untouched partitions stay
        // valid; failed/unstarted ones are simply absent) holds even with
        // up to 4 compactions in flight.
        val outcomes = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            futs.map(_.transform(scala.util.Success(_)))),
          scala.concurrent.duration.Duration.Inf)
        outcomes.foreach { case scala.util.Failure(e) => throw e; case _ => () }
        outcomes.collect { case scala.util.Success(kv) => kv }.toMap
      } finally pool.shutdown()
    }
  }
}

/** Bucketed datasource tables — the S5 repartition strategy made DURABLE.
  *
  * `repartition(keys)` co-locates rows for the lifetime of one plan; a
  * bucketed table persists that clustering in the table layout, so EVERY
  * later join or aggregation on the bucket keys skips its exchange. At
  * 100 TB this converts the fact-table shuffle (the single most expensive
  * stage of a big join) into a metadata property: two tables bucketed the
  * same way sort-merge-join with zero Exchange nodes, and a `groupBy` on
  * the bucket keys aggregates in place. `sortBy` additionally pre-sorts
  * within buckets so the merge phase needs no per-task sort.
  *
  * Uses Spark datasource bucketing (no Hive dependency); tables register in
  * the session catalog with data at `path` (or the warehouse dir).
  */
object Bucketing {

  def writeBucketed(
      df: DataFrame, tableName: String, numBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Seq.empty,
      path: Option[String] = None): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    path.fold(ws)(p => ws.option("path", p)).saveAsTable(tableName)
  }

  def readBucketed(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)
}
