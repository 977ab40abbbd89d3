package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.{EventsVerificationPipeline, VerificationParams}
import graft.functions.{JsonShredRuntime, ShredSpec}
import graft.operators._
import graft.sources.Tables

/** The verification job's inputs and the two ways the benchmark runs it:
  * whole, through `EventsVerificationPipeline.run`, and decomposed into the
  * operator calls that `EventsVerificationPipeline.prepare` composes, with a
  * span and a materialization around each, so each operator's time can be
  * read off on its own.
  *
  * The decomposed form re-composes prepare's steps from the operator
  * objects; its report is checked against the same expected report as the
  * whole run, so a change in semantics shows as a failed operation. A change
  * to how prepare composes the operators must be mirrored here.
  */
object Events {
  val params: VerificationParams = VerificationParams("2024-06-01", "2024-06-01")

  def spec(spark: SparkSession, dir: String): DataFrame = Tables.csv(spark, s"$dir/spec.csv")

  def catalog(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** One full report, from reading the inputs to the collected rows. */
  def report(spark: SparkSession, dir: String, catalogPath: String): Array[Row] =
    EventsVerificationPipeline.run(catalog(spark, catalogPath), spec(spark, dir), params).collect()

  /** Counts the decomposed run observes on its way. */
  final case class Counts(catRows: Long, longRows: Long, definedRows: Long, explodedKeys: Long)

  private val payloadCols = Seq(col("context"), col("traits"), col("properties"))

  def decomposed(
      spark: SparkSession, dir: String, catalogPath: String, trace: Trace): (Array[Row], Counts) = {
    val info = trace.span("operators.spec_parse") {
      EventsVerificationPipeline.parseSpec(spec(spark, dir), params)
    }
    val generics = PayloadShred.genericProps(info.allProps)
    val (cat, catRows) = trace.span("operators.shred") {
      val latest = spark.createDataFrame(info.byChannel.map(_._1)).toDF("channel", "version")
      val c = PayloadShred.withPayloadShreds(
        PayloadShred.withContextShred(catalog(spark, catalogPath), generics, withVersion = true)
          .join(broadcast(latest),
            col("client_name") === col("channel") &&
              PayloadShred.versionExpr === col("version")),
        generics).persist(StorageLevel.MEMORY_AND_DISK)
      (c, c.count())
    }
    try {
      val idSpellings = (params.orgIdentifiers ++ params.projectIdentifiers).distinct
      val obs = trace.span("operators.key_discovery") {
        JsonKeys.allKeysBy(cat, PayloadShred.keyExtractors, Seq("channel"),
            restrictTo = Some(idSpellings))
          .collect().groupBy(_.getString(0))
          .view.mapValues(_.map(_.getString(1)).toSeq.distinct.sorted).toMap
      }
      val (keyCounts, keyRows) = trace.span("operators.key_presence") {
        def flagChain(ids: Seq[String]): Column =
          info.byChannel.foldLeft(lit(false)) { case (acc, ((ch, _), _)) =>
            when(col("channel") === ch, KeyPresence.anyKeyPresent(payloadCols,
              obs.getOrElse(ch, Nil).filter(ids.contains).sorted)).otherwise(acc)
          }
        val merged = JsonKeys.mergedKeys(
          flagChain(params.orgIdentifiers), flagChain(params.projectIdentifiers),
          array_distinct(PayloadShred.propertiesKeys), array_distinct(PayloadShred.contextKeys))
        local(spark, cat
          .select(col("channel"), col("event_name"), explode(merged).as("exploded_key"))
          .groupBy("channel", "event_name", "exploded_key")
          .agg(count(lit(1)).as("key_count")))
      }
      val keep = Seq("channel", "version", "event_name")
      val (valueM, valueRows) = trace.span("operators.completeness") {
        val wide = PayloadShred.withValueColumns(cat, info.allProps, keep)
        val long = Completeness.unpivot(wide, info.allProps, keep)
        val defined = long.join(
          broadcast(SpecParse.pairsDf(spark, info.valuePairs).drop("version")),
          Seq("channel", "event_name", "prop_name"))
        local(spark, Completeness.metrics(defined, keep))
      }
      val rows = trace.span("operators.report") {
        val keyM = Report.keyMetrics(
          SpecParse.pairsDf(spark, info.keyPairs).drop("version"), keyCounts,
          Seq("channel", "event_name"))
        Report.assemble(valueM, keyM, Seq("channel", "event_name"),
          col("channel"), col("version"), params.processDate, params.eventDate).collect()
      }
      val defined = valueRows.map(_.getAs[Long]("total_records")).sum
      val exploded = keyRows.map(_.getAs[Long]("key_count")).sum
      (rows, Counts(catRows, catRows * info.allProps.size, defined, exploded))
    } finally cat.unpersist(false)
  }

  private type Column = org.apache.spark.sql.Column

  /** Materializes a small aggregate as a local frame, so the next operator
    * starts from its result instead of recomputing it.
    */
  private def local(spark: SparkSession, df: DataFrame): (DataFrame, Array[Row]) = {
    val rows = df.collect()
    (spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema), rows)
  }

  /** Nanoseconds per payload of direct `JsonShredRuntime.shred` calls with
    * the pipeline's properties `ShredSpec`, over a fixed sample of the
    * catalog's properties payloads.
    */
  def shredNsPerPayload(
      spark: SparkSession, dir: String, catalogPath: String, seconds: Double): Double = {
    val info = EventsVerificationPipeline.parseSpec(spec(spark, dir), params)
    val fields = PayloadShred.genericProps(info.allProps) ++
      Seq("organisation_id", "org_id", "orgId", "project_id",
        "meta_data.org_id", "meta_data.project_id")
    val shredSpec = new ShredSpec(true, fields.toArray, Array("meta_data"))
    val sample = catalog(spark, catalogPath).select("properties").limit(20000).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    var n = 0L
    val t0 = System.nanoTime()
    val until = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < until) {
      var i = 0
      while (i < sample.length) {
        JsonShredRuntime.shred(sample(i), shredSpec)
        i += 1
      }
      n += sample.length
    }
    (System.nanoTime() - t0).toDouble / n
  }
}
