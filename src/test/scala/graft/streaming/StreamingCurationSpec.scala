package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{LlmQueries, SparkTestBase}
import graft.sources.Tables

/** The streaming-curation equivalence protocol: build the model artifacts
  * from the sf0.001 corpus with q89's own geometry, ingest the corpus in
  * several triggers, and require [[StreamingCuration.curatedMix]] over the
  * accumulated state to equal the REGISTERED one-shot
  * `q89_pretrain_curation` output exactly — also when a trigger's commit
  * is lost and the trigger retried — then require replay of an
  * already-ingested trigger to change nothing. Every constant comes from
  * the registry (`private[graft]`), so a q89 parameter change fails here
  * pointing at its source rather than silently diverging the two forms.
  */
class StreamingCurationSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def benchDocCol = col("doc_id") < LlmQueries.SemBenchIdBound &&
    col("doc_id") % LlmQueries.SemBenchMod === LlmQueries.SemBenchRem
  private def benchVecCol = col("id") < LlmQueries.SemBenchIdBound &&
    col("id") % LlmQueries.SemBenchMod === LlmQueries.SemBenchRem

  /** docs with their (nullable) embedding — the stream's row shape. */
  private def corpus = Tables.documents(spark, dir)
    .join(Tables.embeddings(spark, dir)
        .select(col("vec_id").as("doc_id"), col("embedding")),
      Seq("doc_id"), "left")
    .select("doc_id", "lang", "text", "embedding")

  private def buildArtifacts(modelDir: String): Unit =
    StreamingCuration.buildModelArtifacts(
      Tables.documents(spark, dir), Tables.embeddings(spark, dir),
      "vec_id", "embedding",
      LlmQueries.dsirTarget, LlmQueries.clfTrain,
      col("lang") === LlmQueries.LmRefLang, benchVecCol,
      modelDir, LlmQueries.ClfBuckets, LlmQueries.ClfEpochs,
      LlmQueries.AdaptiveProbeFraction)

  test("stream row shape covers the embedding corpus (doc+embedding arrive together)") {
    // the loop scores docs and ingests their embeddings in ONE row; if an
    // embedding had no doc row it would silently miss the pair index, so
    // the protocol's precondition is asserted, not assumed
    val orphans = Tables.embeddings(spark, dir)
      .join(Tables.documents(spark, dir),
        col("vec_id") === col("doc_id"), "left_anti").count()
    assert(orphans == 0L, s"$orphans embeddings lack a documents row")
  }

  test("cumulative curatedMix == one-shot q89 on the ingested corpus; replay changes nothing") {
    val tmp = Files.createTempDirectory("graft-stream-curation").toFile
    val modelDir = s"${tmp.getAbsolutePath}/model"
    val stateDir = s"${tmp.getAbsolutePath}/state"
    buildArtifacts(modelDir)

    // ingest in 3 id-sliced triggers (any partition works — the logs are
    // order-insensitive and the dedup loop emits cross pairs on arrival)
    val full = corpus.persist()
    val triggers = (0 until 3).map(k => full.filter(col("doc_id") % 3 === k))
    def ingest(k: Int) = StreamingCuration.ingestBatch(triggers(k), k.toLong,
      modelDir, stateDir, LlmQueries.ClfBuckets, LlmQueries.CosineDupThreshold)
    val appended = Seq(ingest(0), ingest(1), {
      // trigger 2 crashes after its writes, before its commit, and is retried
      LogProbes.commitLost(stateDir)(ingest(2))
      ingest(2)
    })
    assert(appended.sum > 0, "no score rows appended")

    def mix() = StreamingCuration.curatedMix(spark, stateDir, benchDocCol,
        LlmQueries.TokenBudget, LlmQueries.PplGateQuantile,
        LlmQueries.ClfGateQuantile)
      .as[(Long, String, Long, Double, Long)].collect().toSet

    val incremental = mix()
    spark.catalog.clearCache() // curatedMix persists reps (caller-owned)
    val oneShot = LlmQueries.pretrainCuration(spark, dir)
      .as[(Long, String, Long, Double, Long)].collect().toSet
    spark.catalog.clearCache() // q89's four persists are caller-owned too
    assert(incremental == oneShot,
      s"incremental != one-shot: missing ${oneShot -- incremental}, " +
        s"extra ${incremental -- oneShot}")

    // at-least-once replay: redeliver trigger 1 under its committed id
    assert(ingest(1) == 0L, "a replayed trigger must be skipped")
    val afterReplay = mix()
    spark.catalog.clearCache()
    assert(afterReplay == oneShot, "replayed trigger changed the mix")
    full.unpersist()
  }

  test("per-trigger scoring: score log carries every doc, NLL only where text tokenizes; contaminated flags appear") {
    val tmp = Files.createTempDirectory("graft-stream-curation2").toFile
    val modelDir = s"${tmp.getAbsolutePath}/model"
    val stateDir = s"${tmp.getAbsolutePath}/state"
    buildArtifacts(modelDir)
    val n = StreamingCuration.ingestBatch(corpus, 0L, modelDir, stateDir,
      LlmQueries.ClfBuckets, LlmQueries.CosineDupThreshold)
    val scores = spark.read.parquet(s"$stateDir/scores")
    assert(scores.count() == n)
    // one score row per doc (every doc has a classifier margin via the
    // bias feature); the NLL column is null exactly where the text
    // tokenizes to nothing — q70/q80's empty-text convention
    val expected = Tables.documents(spark, dir).count()
    assert(n == expected, s"score rows $n != docs $expected")
    val tokenizing = Tables.documents(spark, dir)
      .select(col("doc_id"), size(graft.llm.TextStats.tokens(col("text"))).as("nt"))
      .filter(col("nt") > 0).count()
    assert(scores.filter(col("nll_per_token").isNotNull).count() == tokenizing)
    assert(scores.select("doc_id").distinct().count() == n, "duplicate score rows in one trigger")
    // the synthetic corpus contains near-benchmark replicas by design, so
    // contamination must flag something beyond the benchmark docs themselves
    val contam = spark.read.parquet(s"$stateDir/contaminated")
    val nonBenchFlags = contam.filter(!benchDocCol).count()
    assert(nonBenchFlags > 0, "no non-benchmark doc was flagged contaminated")
  }

  test("a trigger whose score append fails leaves no cache behind") {
    // a crash mid-trigger: the batch and its score frame are cached and
    // counted, then the append fails (`scores` is an existing regular
    // file). Both caches are the trigger's own, so none may outlive it.
    val tmp = Files.createTempDirectory("graft-stream-curation-fail").toFile
    val modelDir = s"${tmp.getAbsolutePath}/model"
    val stateDir = new java.io.File(tmp, "state")
    buildArtifacts(modelDir)
    assert(stateDir.mkdir())
    Files.write(new java.io.File(stateDir, "scores").toPath, Array[Byte](1))
    spark.catalog.clearCache()
    intercept[Exception](StreamingCuration.ingestBatch(corpus, 0L, modelDir,
      stateDir.getAbsolutePath, LlmQueries.ClfBuckets, LlmQueries.CosineDupThreshold))
    assert(!new java.io.File(stateDir, "contaminated").exists(),
      "the trigger must stop at the failed append")
    assert(spark.sharedState.cacheManager.isEmpty, "a failed trigger leaked its caches")
  }
}
