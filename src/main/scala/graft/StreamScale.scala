package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.fixtures.EventCatalogFixture
import graft.streaming.StreamingReport

/** Scale-evidence probe for the STREAMING tier (VERDICT r11 ask #5): the
  * batch tier has a two-decade measured ladder, but the incremental report
  * — precisely the 100 TB answer to q06's batch recompute — had no
  * measured scale point. This main drives [[StreamingReport]] over a
  * replica catalog split into N equal micro-batches and prints one JSON
  * line per trigger:
  *
  *  - `ingest_sec` — the trigger's wall time (prepare + partial-reduce +
  *    append). The 100 TB claim under test: per-trigger cost tracks the
  *    BATCH SIZE, not the corpus-to-date, so the line should be flat
  *    across triggers while corpus-to-date grows N-fold.
  *  - `report_sec` — [[StreamingReport.reportToDate]] after that trigger:
  *    merges all partials to date. Partials are |spec cells| × |batches|
  *    rows (config-bounded, never data-scale), so this grows only in the
  *    trigger count, staying orders of magnitude under the batch rebuild.
  *  - `keys_rows`/`values_rows`/`state_bytes` — the persisted state (the
  *    key and value rows of the partials table), the boundedness claim
  *    made measurable.
  *
  * The final line times the BATCH q06 pipeline over the same full corpus
  * and checks incremental ≡ batch row-for-row — StreamingReportSpec's
  * equivalence, re-proven at replica scale.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=/tmp/sf10 SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BATCHES=10 \
  *   sbt -batch "runMain graft.StreamScale"
  * }}}
  *
  * Kill-and-resume (VERDICT r12 ask #8): `SPARK_GRAFT_STATE_DIR` pins the
  * state location and `SPARK_GRAFT_BATCH_FROM`/`SPARK_GRAFT_BATCH_TO`
  * bound the ladder slice, so one JVM can ingest batches 0–4, die, and a
  * FRESH JVM resume 5–9 against the same state — the `AtomicState` heal +
  * replay-guard path exercised at replica scale, with the final
  * incremental ≡ batch check (emitted whenever the run ends on the last
  * batch) proving nothing was lost or double-counted across the restart.
  */
object StreamScale {

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "10").toInt
    val batchFrom = sys.env.getOrElse("SPARK_GRAFT_BATCH_FROM", "0").toInt
    val batchTo = sys.env.getOrElse("SPARK_GRAFT_BATCH_TO", (nBatches - 1).toString).toInt
    val stateDir = sys.env.getOrElse("SPARK_GRAFT_STATE_DIR",
      Files.createTempDirectory("graft-streamscale").toString)
    // maintenance cadence: compact the partials every K triggers (0 =
    // never) — drives [[StreamingReport.compactPartials]]
    val compactEvery = sys.env.getOrElse("SPARK_GRAFT_COMPACT_EVERY", "0").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val spec = EventCatalogFixture.specDf(spark)
    val params = PipelineQueries.params
    val catalog = EventCatalogFixture.catalogDf(spark, sfDir)
    // Deterministic equal-size slices on a hash of the full row — each
    // micro-batch is a same-size sample of the corpus, so a flat
    // per-trigger line cannot be explained by shrinking batches.
    val sliced = catalog.withColumn("__slice",
      pmod(xxhash64(catalog.columns.map(col): _*), lit(nBatches)))
    val total = catalog.count()
    println(s"""{"sf":"$sfDir","rows":$total,"batches":$nBatches,"state":"$stateDir"}""")

    (batchFrom to batchTo).foreach { b =>
      val batch = sliced.filter(col("__slice") === b).drop("__slice")
      val t0 = System.nanoTime()
      StreamingReport.ingestBatch(batch, b.toLong, spec, params, stateDir)
      val ingestSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val reportRows =
        StreamingReport.reportToDate(spark, spec, params, stateDir).count()
      val reportSec = (System.nanoTime() - t1) / 1e9
      val kinds = spark.read.parquet(s"$stateDir/partials").groupBy("kind").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val (keysRows, valuesRows) = (kinds.getOrElse("key", 0L), kinds.getOrElse("value", 0L))
      println(f"""{"batch":$b,"ingest_sec":${math.round(ingestSec * 1000) / 1000.0},"report_sec":${math.round(reportSec * 1000) / 1000.0},"report_rows":$reportRows,"keys_rows":$keysRows,"values_rows":$valuesRows,"state_bytes":${dirBytes(Paths.get(stateDir))}}""")
      if (compactEvery > 0 && (b + 1) % compactEvery == 0 && b < batchTo) {
        val tc = System.nanoTime()
        val written = StreamingReport.compactPartials(spark, stateDir)
        val compactSec = (System.nanoTime() - tc) / 1e9
        println(s"""{"compact_after":$b,"compact_sec":${math.round(compactSec * 1000) / 1000.0},"files":${written.map { case (k, v) => s"${Bench.jstr(k)}:$v" }.mkString("{", ",", "}")}}""")
      }
    }

    // the contrast — one full batch rebuild over the same corpus and the
    // exactness check that makes the timing comparison meaningful — runs
    // only when this slice finished the ladder (a kill-and-resume first
    // half exits here; the resuming run emits the check)
    if (batchTo < nBatches - 1) { spark.stop(); return }
    val t2 = System.nanoTime()
    val batchReport = EventsVerificationPipeline.run(catalog, spec, params)
    val batchRows = batchReport.count()
    val batchSec = (System.nanoTime() - t2) / 1e9
    val incremental = StreamingReport.reportToDate(spark, spec, params, stateDir)
    val diff = incremental.exceptAll(batchReport).count() +
      batchReport.exceptAll(incremental).count()
    println(f"""{"batch_q06_sec":${math.round(batchSec * 1000) / 1000.0},"batch_q06_rows":$batchRows,"incremental_equals_batch":${diff == 0L}}""")
    spark.stop()
  }
}
