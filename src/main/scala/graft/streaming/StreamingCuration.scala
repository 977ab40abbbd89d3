package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Stage
import graft.llm.{Classifier, Dedup, LanguageModel, Similarity}

/** The OPERATIONAL form of the q89 pretraining-curation pipeline
  * ([[graft.LlmQueries.pretrainCuration]]) — the fifth ingest loop, and
  * the one that composes the other artifact disciplines instead of adding
  * a new one:
  *
  *  - MODEL artifacts (classifier weights, LM count tables, the adaptive
  *    centroid set, the bounded benchmark probe index) are built ONCE on
  *    the model cadence by [[buildModelArtifacts]] — the q52b/q77 rule:
  *    at 100 TB you train nightly, never per trigger.
  *  - Each arriving micro-batch is SCORED against those artifacts by
  *    [[ingestBatch]]: classifier margin + perplexity rows go to a score
  *    log, contamination flags come from the broadcast probe join, and
  *    the batch's vectors run through the proven
  *    [[StreamingSemanticDedup]] loop (same index and compaction
  *    machinery) for cross-trigger near-dup pairs. Scoring is the 100 TB
  *    cost of curation — LM probes, classifier features, embedding
  *    joins — and it happens exactly once per document here.
  *  - The SELECTION tail (median perplexity gate, benchmark exclusion,
  *    decontamination anti-join, surviving-representative dedup,
  *    temperature mix, token budget) is [[curatedMix]]: a read-time pass
  *    over the accumulated logs, O(scored docs) with no re-scoring —
  *    you run it when you cut a training mix, not per trigger. The
  *    gates are deliberately GLOBAL statistics (a corpus median, mix
  *    rates over survivors), so they cannot be finalized mid-stream;
  *    splitting score-time from selection-time is what makes the
  *    incremental form exact rather than approximate.
  *
  * Equivalence contract (pinned in `StreamingCurationSpec`): after
  * ingesting a corpus in any number of triggers, `curatedMix` over the
  * accumulated state equals the one-shot q89 output on that corpus
  * exactly, provided the artifacts were built from the same corpus with
  * the same geometry.
  *
  * Replay safety is [[StateLog]]'s: one entry under `stateDir` commits a
  * trigger's scores, contamination flags, semantic index rows and pairs
  * together, and `curatedMix` reads only what it names.
  */
object StreamingCuration {

  /** Build the model-cadence artifacts under `modelDir` from a training
    * corpus snapshot. Layout (plain parquet):
    *
    *  - `weights`    (bucket, wI)     — [[Classifier.fitWeights]] on the
    *    trusted labels; B+1 rows, broadcast-size by construction.
    *  - `lm_uni` (w, c), `lm_bi` (w1, w2, c2), `lm_totals` (t, v) — the
    *    [[LanguageModel]] count tables over the `isRef` slice.
    *  - `centroids`  (id, emb)        — the √N-stride adaptive centroid
    *    selection over the embedding corpus (q89's count-derived
    *    geometry, so one-shot and incremental assignments agree).
    *  - `probe`      (bucket, q_emb)  — the BOUNDED benchmark suite's
    *    nprobe nearest-cell probe rows ([[Similarity.probeBuckets]]);
    *    |suite|·nprobe rows, broadcast-size because the suite is bounded
    *    (the q24c lesson — an unbounded suite made this N·√N).
    */
  def buildModelArtifacts(
      docs: DataFrame,
      embeddings: DataFrame,
      idCol: String,
      embCol: String,
      isTarget: Column,
      isTrain: Column,
      isRef: Column,
      isBench: Column,
      modelDir: String,
      buckets: Int,
      epochs: Int,
      probeFraction: Double,
      minBigramCount: Int = LanguageModel.DefaultMinBigramCount): Unit = {
    val spark = docs.sparkSession
    val w = Classifier.fitWeights(docs, isTarget, isTrain, buckets, epochs)
    Classifier.weightTable(spark, w).write.mode("overwrite")
      .parquet(s"$modelDir/weights")

    val ref = docs.filter(isRef)
    val uni = LanguageModel.unigramCounts(ref, "text")
    uni.write.mode("overwrite").parquet(s"$modelDir/lm_uni")
    LanguageModel.bigramCounts(ref, "text", minBigramCount)
      .write.mode("overwrite").parquet(s"$modelDir/lm_bi")
    spark.read.parquet(s"$modelDir/lm_uni")
      .agg(coalesce(sum("c"), lit(0L)).as("t"), count(lit(1)).as("v"))
      .write.mode("overwrite").parquet(s"$modelDir/lm_totals")

    // q89's geometry verbatim (Similarity.ivfGeometry)
    val vecs = embeddings.select(col(idCol).as("id"),
      Similarity.asDouble(col(embCol)).as("emb"))
    val g = Similarity.ivfGeometry(vecs)
    val centroids = vecs.filter(col("id") % g.stride === 0)
    centroids.write.mode("overwrite").parquet(s"$modelDir/centroids")
    Similarity.probeBuckets(vecs.filter(isBench),
        spark.read.parquet(s"$modelDir/centroids"), g.nprobe(probeFraction))
      .select(col("bucket"), col("q_emb"))
      .write.mode("overwrite").parquet(s"$modelDir/probe")
  }

  /** Run one ingest step over a micro-batch of
    * (doc_id, lang, text, embedding NULLABLE) rows: write per-doc scores
    * and contamination flags, fold the batch's vectors into the semantic
    * dedup loop. Returns the number of score rows written (the
    * per-trigger monitor signal), 0 for a replayed `batchId`. The
    * `foreachBatch` use: `stream.writeStream.foreachBatch { (b: DataFrame,
    * id: Long) => StreamingCuration.ingestBatch(b, id, ...); () }.start()`.
    *
    * Per-trigger plan shape: every model table rides a broadcast (the
    * weight table and probe index are bounded by construction; the LM
    * tables are reference-slice-sized — the same broadcasts q80/q89
    * plan); the only shuffles are the per-doc margin/NLL aggregations
    * over the BATCH and the semantic loop's block-keyed joins. Nothing
    * scans the corpus; per-trigger cost is O(batch) + the index probe.
    */
  def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      modelDir: String,
      stateDir: String,
      buckets: Int,
      threshold: Double): Long =
    StateLog(batch.sparkSession, stateDir).trigger(batchId)(
      score(_, batch, modelDir, stateDir, buckets, threshold)).getOrElse(0L)

  /** [[ingestBatch]]'s work under its trigger `t`. */
  private def score(
      t: StateLog.Trigger,
      batch: DataFrame,
      modelDir: String,
      stateDir: String,
      buckets: Int,
      threshold: Double): Long = {
    val spark = batch.sparkSession
    val b = Stage.cache(batch)
    Stage.using(b) {
      val weights = spark.read.parquet(s"$modelDir/weights")
      val uni = spark.read.parquet(s"$modelDir/lm_uni")
      val bi = spark.read.parquet(s"$modelDir/lm_bi")
      val totals = spark.read.parquet(s"$modelDir/lm_totals").first()
      val centroids = spark.read.parquet(s"$modelDir/centroids")
      val probe = spark.read.parquet(s"$modelDir/probe")

      // classifier margin against the PERSISTED weights — bit-identical to
      // trainScore's scoring pass because it IS that pass (margins over
      // featureRows), minus the training epochs the artifact already paid.
      // The RAW score is logged, not a keep flag: q89's gate is rank-based
      // (score >= the corpus-median margin), and a corpus quantile can only
      // be taken at selection time over the full accumulated log.
      val clf = Classifier.margins(
          Classifier.featureRows(b.select(col("doc_id"), col("text")), buckets),
          weights)
        .select(col("doc_id"),
          (col("mI").cast("double") / lit(1000000.0)).as("clf_score"))
      // perplexity against the persisted count tables; docs tokenizing to
      // nothing have no NLL row (q70/q80's convention) — LEFT join so the
      // score log still carries their classifier score, keeping the
      // selection-time margin median over ALL docs, as the one-shot form
      // computes it
      val ppl = LanguageModel.perplexityFrom(b, "doc_id", "text",
        uni, bi, totals.getLong(0), totals.getLong(1))
      val scores = Stage.cache(clf.join(ppl, Seq("doc_id"), "left")
        .join(b.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("nll_per_token"), col("clf_score")))
      Stage.using(scores) {
        val n = scores.count()
        t.write(s"$stateDir/scores", scores)

        // embedding-carrying rows: assign to the ARTIFACT centroids (the same
        // nearest-centroid scoring the one-shot assignment uses — row-local,
        // so per-batch and whole-corpus assignments agree), flag
        // contamination, and run the semantic near-dup loop on the buckets
        val vecs = b.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("id"),
            Similarity.asDouble(col("embedding")).as("emb"))
        val assigned = Similarity.ivfAssign(vecs, centroids)
        t.write(s"$stateDir/contaminated", assigned.join(broadcast(probe), Seq("bucket"))
          .filter(round(Similarity.fusedCosine(col("emb"), col("q_emb")), 6)
            >= threshold)
          .select(col("id").as("doc_id")).distinct())
        // benchmark vectors DO enter the pair index: one-shot clustering runs
        // over the full embedding corpus, and a benchmark member can be the
        // bridge that unions two survivors' clusters
        StreamingSemanticDedup.ingest(t, assigned, "id", "emb", "bucket",
          s"$stateDir/semindex", s"$stateDir/pairs", threshold)
        n
      }
    }
  }

  /** The selection tail over the accumulated state — q89's gate and mix
    * stages as a read-time pass: median-margin classifier gate and
    * median-NLL perplexity gate (both quantiles computed over the full
    * accumulated score log, exactly the one-shot corpus medians),
    * benchmark exclusion by `isBenchDoc`, decontamination anti-join,
    * connected components over the accumulated pair log with
    * min-surviving-id representative selection, temperature mix, then the
    * per-language token budget, over the committed logs only.
    *
    * Cost shape: O(scored docs) — one percentile, one CC over |near-dup
    * pairs| (pair-scale, not corpus-scale), one window per stage; no
    * classifier, LM, or embedding work re-runs. The survivors frame is
    * cached inside this plan for `temperatureSample`'s double evaluation,
    * and is caller-owned ([[Stage]]).
    */
  def curatedMix(
      spark: SparkSession,
      stateDir: String,
      isBenchDoc: Column,
      tokenBudget: Long,
      pplQuantile: Double = 0.5,
      clfQuantile: Double = 0.5): DataFrame = {
    val log = StateLog(spark, stateDir)
    val e = log.last
    require(e.batchIds.nonEmpty, "curatedMix needs at least one committed trigger in the state dir")
    def logged(table: String) = log.read(s"$stateDir/$table", e).get
    val scores = logged("scores")
    // both gate medians over the ACCUMULATED log = the one-shot corpus
    // medians on the ingested prefix: the margin median over every scored
    // doc, the NLL median over docs with an NLL row (percentile skips the
    // left-join nulls, matching the one-shot ppl row set)
    val medianRow = scores
      .agg(round(percentile(col("nll_per_token"), lit(pplQuantile)), 6),
        round(percentile(col("clf_score"), lit(clfQuantile)), 6))
      .first()
    require(!medianRow.isNullAt(0) && !medianRow.isNullAt(1),
      "curatedMix needs at least one scored document in the state dir")
    val nllMedian = medianRow.getDouble(0)
    val clfMedian = medianRow.getDouble(1)
    val contaminated = logged("contaminated")
    val pairs = logged("pairs").select("id_a", "id_b")
    val clusters = Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")

    // null NLL (doc never tokenized) fails <= like the one-shot inner join
    val gated = scores
      .filter(col("clf_score") >= clfMedian &&
        col("nll_per_token") <= nllMedian)
      .filter(!isBenchDoc)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_tokens")
    val reps = Stage.cache(gated
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("cluster").orderBy("doc_id")))
      .filter(col("__rn") === 1)
      .select("doc_id", "lang", "n_tokens"))
    val mixed = graft.operators.Sampling.temperatureSample(
      reps, col("lang"), col("doc_id"))
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mixed.withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= tokenBudget)
      .select("doc_id", "lang", "n_tokens", "rate", "cum_tokens")
  }
}
