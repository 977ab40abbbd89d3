package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length, sum}

import graft.{GraftSession, SparkEntry}
import graft.streaming.StreamingReport

/** One benchmark run in a fresh JVM: set up a `GraftSession.local` session,
  * run one workload as a single closed-loop client for `--seconds`, check
  * every checked output, and write the measurements to `--out` as JSON.
  *
  * Untraced runs (`--trace 0`) time whole operations only. Traced runs
  * (`--trace 1`) install the engine listeners, record spans around each
  * layer call, and time untraced operations in between, so the difference
  * is the tracing overhead.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *             --cores C --out FILE
  */
object Main {

  final class Run(val spark: SparkSession, val args: Map[String, String]) {
    val workload: String = args("workload")
    val data: String = args("data")
    val work: String = args("work")
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val trace = new Trace
    val probe = new Probe(spark)
    var attempted, failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    /** Every timed operation's wall seconds, in order, for the run record. */
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    private val engine = mutable.ArrayBuffer.empty[Map[String, Double]]

    /** Counts one operation; a thrown exception or a wrong output fails it. */
    def attempt[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
      attempted += 1
      Try(body) match {
        case Success(v) =>
          check(v).foreach { why => failed += 1; note(s"$what: wrong output: $why") }
          Some(v)
        case Failure(e) =>
          failed += 1
          note(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

    def note(s: String): Unit = if (notes.size < 20) notes += s.take(300)

    /** Wall seconds of `body`. A traced operation also records its spans,
      * its engine counters and the cache it leaves behind.
      */
    def timed[T](traceIt: Boolean)(body: => T): (T, Double) =
      if (traceIt) {
        val (v, m) = probe.measure(trace.on(body))
        val (mem, disk) = cacheMb()
        engine += m ++ Map("cache.mem_mb" -> mem, "cache.disk_mb" -> disk)
        (v, m("wall_s"))
      } else {
        val t0 = System.nanoTime()
        val v = body
        (v, (System.nanoTime() - t0) / 1e9)
      }

    /** Medians of the engine counters of the traced operations. */
    def engineMedians(): Unit =
      if (engine.nonEmpty)
        engine.head.keys.filter(_ != "wall_s").foreach(k => metrics(k) = median(engine.map(_(k)).toSeq))

    def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    def clear(): Unit = spark.catalog.clearCache()

    private def cacheMb(): (Double, Double) = {
      val info = spark.sparkContext.getRDDStorageInfo
      (info.map(_.memSize).sum / 1e6, info.map(_.diskSize).sum / 1e6)
    }

    /** Reads every column of the input once: the sources layer. */
    def scanProbe(path: String): Unit = {
      val df = spark.read.parquet(path)
      val t0 = System.nanoTime()
      df.select(df.columns.map(c => length(col(c).cast("string"))).reduce(_ + _).as("n"))
        .agg(sum("n")).collect()
      metrics("sources.scan_s") = elapsedSince(t0)
      metrics("sources.input_mb") = Files.walk(Paths.get(path)).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum / 1e6
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(args("cores").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val run = new Run(spark, args)
    if (run.traced) run.probe.install()
    try {
      run.workload match {
        case "daily_report" => Workloads.batch(run)
        case "stream_ingest" => Workloads.stream(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        run.failed += 1
        run.attempted = math.max(run.attempted, run.failed)
        run.note(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    run.metrics("setup_s") = setupS
    run.metrics("jvm.peak_rss_mb") = Probe.peakRssMb
    if (run.traced) {
      run.engineMedians()
      val self = run.trace.selfTimes
      for ((name, xs) <- self if name.contains('.')) run.metrics(name + "_s") = median(xs)
      self.get("decomposed_op").foreach(xs => run.metrics("operators.glue_s") = median(xs))
      Files.writeString(Paths.get(run.work, "spans.json"), run.trace.toJson)
    }
    val metrics = run.metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    val notes = run.notes.map(Json.str).mkString("[", ",", "]")
    val samples = run.samples.map { case (k, xs) =>
      s"${Json.str(k)}:${xs.map(Json.num).mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(args("out")),
      s"""{"attempted":${run.attempted},"failed":${run.failed},"metrics":$metrics,""" +
        s""""samples":$samples,"notes":$notes}""" + "\n")
    spark.stop()
  }
}

object Workloads {
  import Main.{median, Run}

  val curationQueries: Seq[String] = Seq("q41_incremental_neardup", "q90_doremi_weights")
  private val streamingMetrics = Seq("streaming.ingest_s", "streaming.report_to_date_s",
    "streaming.compact_s", "streaming.state_files", "streaming.state_bytes",
    "streaming.freshness_slope")
  private val curationMetrics = curationQueries.map(q => s"curation.${q}_s")

  /** Layers a workload never calls report 0: they did no work in it. */
  private def zero(r: Run, names: Seq[String]): Unit =
    names.foreach(n => r.metrics.getOrElseUpdate(n, 0.0))

  private def tracedOp(r: Run, plain: Seq[Double], traced: Seq[Double]): Unit = {
    r.metrics("trace.op_s") = median(traced)
    r.metrics("trace.untraced_op_s") = median(plain)
    r.metrics("trace.overhead_s") = median(traced) - median(plain)
  }

  /** The operators on `catalogPath`, decomposed; counts go to the metrics. */
  private def decomposedOp(r: Run, catalogPath: String, check: Option[Expected]): Double = {
    val t0 = System.nanoTime()
    r.trace.on(r.trace.operation("decomposed_op") {
      r.attempt("decomposed report")(
        Events.decomposed(r.spark, r.data, catalogPath, r.trace))(
        v => check.flatMap(_.mismatch(v._1)))
    }).foreach { case (_, c) =>
      val inputRows = r.spark.read.parquet(catalogPath).count()
      r.metrics("operators.cat_rows") = c.catRows.toDouble
      r.metrics("operators.version_keep_ratio") = c.catRows.toDouble / inputRows
      r.metrics("operators.exploded_keys") = c.explodedKeys.toDouble
      r.metrics("operators.long_rows") = c.longRows.toDouble
      r.metrics("operators.defined_ratio") = c.definedRows.toDouble / c.longRows
    }
    r.clear()
    r.elapsedSince(t0)
  }

  private val WarmupReports = 6

  /** daily_report: a cold report, then 6 unchecked warm-up reports over the
    * first catalog file (one eighth of the rows, the same code paths) so the
    * JIT settles cheaply, then repeated full reports for the measurement
    * window, each checked. A traced run alternates untraced, traced and
    * decomposed reports.
    */
  def batch(r: Run): Unit = {
    val spark = r.spark
    val expected = Expected.load(s"${r.data}/expected.json")
    val catalogPath = s"${r.data}/catalog"
    def fullReport(traceIt: Boolean): Double = {
      val (_, dt) = r.timed(traceIt)(r.trace.operation("report") {
        r.attempt("report")(Events.report(spark, r.data, catalogPath))(expected.mismatch)
      })
      r.clear()
      dt
    }
    r.metrics("first_op_s") = fullReport(traceIt = false)
    val warmupPath = new File(catalogPath).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).min
    for (_ <- 1 to WarmupReports) {
      Events.report(spark, r.data, warmupPath)
      r.clear()
    }
    val t0 = System.nanoTime()
    val plain, traced, decomposed = mutable.ArrayBuffer.empty[Double]
    while (plain.isEmpty || r.elapsedSince(t0) < r.seconds) {
      plain += fullReport(traceIt = false)
      if (r.traced) {
        traced += fullReport(traceIt = true)
        decomposed += decomposedOp(r, catalogPath, Some(expected))
      }
    }
    r.metrics("op_s") = median(plain.toSeq)
    r.samples ++= Seq("op" -> plain.toSeq, "traced_op" -> traced.toSeq,
      "decomposed_op" -> decomposed.toSeq)
    if (r.traced) {
      tracedOp(r, plain.toSeq, traced.toSeq)
      r.metrics("trace.decomposed_op_s") = median(decomposed.toSeq)
      r.scanProbe(catalogPath)
      r.metrics("functions.json_shred_ns_per_payload") =
        Events.shredNsPerPayload(spark, r.data, catalogPath, 0.5)
      curationLayer(r)
      zero(r, streamingMetrics)
    }
  }

  private val CompactEvery = 4
  private val WarmupTriggers = 3

  /** stream_ingest: the catalog arrives as equal micro-batches; each trigger
    * ingests one and reads the report to date, so its wall time is the
    * report's freshness, and each report to date must equal the expected
    * one. Partials are compacted after every 4th trigger and each replay
    * starts from a fresh state directory.
    *
    * A warm-up replay of the first 3 batches comes first; its first trigger
    * is the cold one. Measured triggers then follow until the measurement
    * window has passed and at least one replay has ended, so the last report
    * checked covers the whole catalog. A traced run makes one measured replay
    * in which every second trigger and every compaction is traced.
    */
  def stream(r: Run): Unit = {
    val spark = r.spark
    val expected = Expected.loadPrefixes(s"${r.data}/expected.json")
    val batches = new File(s"${r.data}/batches").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    var stateFiles, stateBytes = 0.0
    var t0 = System.nanoTime()

    /** (wall seconds, traced) of each trigger of one replay of the first
      * `upTo` batches, stopping early once `more` turns false. The warm-up
      * replay is never traced.
      */
    def replay(name: String, upTo: Int, more: () => Boolean): Seq[(Double, Boolean)] = {
      val dir = s"${r.work}/state/$name"
      val spec = Events.spec(spark, r.data)
      val out = mutable.ArrayBuffer.empty[(Double, Boolean)]
      for ((path, i) <- batches.take(upTo).zipWithIndex if i == 0 || more()) {
        val traceIt = r.traced && name != "warmup" && i % 2 == 1
        val (_, dt) = r.timed(traceIt)(r.trace.operation("trigger") {
          r.attempt(s"$name trigger $i") {
            r.trace.span("streaming.ingest")(StreamingReport.ingestBatch(
              Events.catalog(spark, path), i.toLong, spec, Events.params, dir))
            r.trace.span("streaming.report_to_date")(
              StreamingReport.reportToDate(spark, spec, Events.params, dir).collect())
          }(expected(i).mismatch)
        })
        if (i < batches.size - 1 && (i + 1) % CompactEvery == 0) {
          def compact(): Unit = r.trace.operation("compaction") {
            r.trace.span("streaming.compact")(StreamingReport.compactPartials(spark, dir))
          }
          if (traceIt) r.trace.on(compact()) else compact()
        }
        out += dt -> traceIt
      }
      val files = Files.walk(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(Files.isRegularFile(_))
      stateFiles = files.length.toDouble
      stateBytes = files.map(Files.size(_)).sum.toDouble
      r.clear()
      out.toSeq
    }

    val warmup = replay("warmup", WarmupTriggers, () => true)
    t0 = System.nanoTime()
    val first = replay("replay-0", batches.size, () => true)
    val rest = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var n = 1
    def inWindow() = r.elapsedSince(t0) < r.seconds
    while (!r.traced && inWindow()) { rest ++= replay(s"replay-$n", batches.size, inWindow); n += 1 }
    val plain = (first ++ rest).filterNot(_._2).map(_._1)
    r.metrics("first_op_s") = warmup.head._1
    r.metrics("op_s") = median(plain)
    r.samples ++= Seq("trigger" -> (warmup ++ first ++ rest).map(_._1),
      "traced" -> (warmup ++ first ++ rest).map(t => if (t._2) 1.0 else 0.0))
    if (r.traced) {
      tracedOp(r, plain, first.filter(_._2).map(_._1))
      r.metrics("streaming.state_files") = stateFiles
      r.metrics("streaming.state_bytes") = stateBytes
      r.metrics("streaming.freshness_slope") = slope(first.map(_._1))
      r.metrics("trace.decomposed_op_s") = decomposedOp(r, batches.head, None)
      r.scanProbe(s"${r.data}/batches")
      r.metrics("functions.json_shred_ns_per_payload") =
        Events.shredNsPerPayload(spark, r.data, batches.head, 0.5)
      zero(r, curationMetrics)
    }
  }

  /** Least-squares slope of trigger wall time against trigger number. */
  private def slope(ys: Seq[Double]): Double = {
    val xs = ys.indices.map(_.toDouble)
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
  }

  /** The curation tier (llm/ and the text kernels), measured per layer in
    * the daily_report traced run: one cold pass over the curation queries
    * writes each output for the DuckDB oracle check made after the JVM
    * exits, then one traced pass with the noop sink gives each query's time.
    */
  private def curationLayer(r: Run): Unit = {
    val fns = SparkEntry.queries
    val out = s"${r.work}/curation_out"
    for ((checked, q) <- curationQueries.map(true -> _) ++ curationQueries.map(false -> _)) {
      r.clear()
      r.attempt(if (checked) s"$q checked" else q) {
        val w = fns(q)(r.spark, r.data).write.mode("overwrite")
        if (checked) w.parquet(s"$out/$q")
        else r.trace.on(r.trace.operation("curation")(r.trace.span(s"curation.$q")(
          w.format("noop").save())))
      }(_ => None)
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"), curationQueries.map(q =>
      s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}"))
  }
}
