package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query (`SparkEntry.specs`) on
  * `SPARK_GRAFT_SF_DIR` and emits ONE machine-readable JSON line on stdout,
  * duplicated to `BENCH_RESULT.json` in the working directory so the signal
  * survives sbt's log-prefixed stdout (round-1 `"parsed": null` issue).
  *
  * Failures are NOT swallowed: a failing query records `-1` seconds and its
  * error message in the `errors` object, so a broken query can't masquerade
  * as a fast one.
  */
object Bench {

  /** The two JSON lines Bench emits — compact (stdout) and full
    * (BENCH_RESULT.json). Factored out of `main` so RegistrySpec can assert
    * both lines parse, the full line carries exactly the registry's query
    * keys, and the compact line stays under the driver's bounded tail
    * without running the bench.
    *
    * The compact line carries NO per-query medians: at 79 registered
    * queries even 2-decimal medians with full query names ran ~2050 chars,
    * past the ~1920 chars the driver's 2000-char stdout tail leaves after
    * sbt's `[success]` trailer — BENCH_r10.json came back `parsed: null`
    * with 17 of 79 timings cut off the front of the line. A total that
    * silently covers an unknown subset is worse than no per-query detail,
    * so stdout now reports `value` (the full-registry total), `n` (how many
    * queries that total covers), `failed`, and the error map; every
    * per-query median and sample lives in BENCH_RESULT.json, which is
    * written to the working directory and has no size bound (it is not
    * committed; round records are copied into `bench_records/`). This
    * keeps the stdout line O(errors), not O(registry) — it cannot outgrow
    * the tail again as the registry grows.
    */
  /** Minimal JSON string escaping — the one escaper Bench and Verify share,
    * so every emitted record stays parseable whatever the interpolated
    * value contains (quotes, backslashes, any control character).
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def benchJson(
      results: Seq[(String, Double)],
      samples: Map[String, Seq[Double]],
      errors: Map[String, String],
      sfDir: String,
      iters: Int = 5): (String, String) = {
    val qs = results.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val smp = results.map { case (k, _) =>
      s"${jstr(k)}:${samples(k).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    // Error messages are already bounded to 200 chars at capture; bound the
    // compact line's copy harder (80) so even a many-failure run keeps the
    // stdout line inside the tail. Full line keeps the 200-char messages.
    val errsCompact = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v.take(80))}" }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val totalR = math.round(total * 1000).toDouble / 1000
    // `iters` makes every record self-describing (ADVICE r11): a leaked
    // SPARK_GRAFT_ITERS override is visible in the artifact itself, so a
    // non-median-of-5 run can never masquerade as the standard protocol.
    val compact =
      s"""{"metric":"total","value":$totalR,"unit":"sec","n":${results.size},"iters":$iters,"failed":${errors.size},"errors":$errsCompact,"detail":"BENCH_RESULT.json","sf":${jstr(sfDir)}}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"queries":$qs,"samples":$smp,"errors":$errs,"sf":${jstr(sfDir)}}"""
    (compact, full)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    // ERROR, not WARN: at WARN the two bounded global windows print
    // "WindowExec: No Partition Defined" 5x/iteration; sbt drains those
    // AFTER our stdout line, flooding the driver's 2000-char tail and
    // turning BENCH_r10/r11 into "parsed": null. Their boundedness is
    // proven in scaladoc + PlanAuditSpec; the warning carries no signal
    // here. Real failures still surface via the errors map (-1 medians).
    spark.sparkContext.setLogLevel("ERROR")

    // Warmup outside the timed loop: generic JVM/session/parquet-reader
    // init. (Deliberately NOT a per-query warmup pass: running every
    // query's generated class first makes shared interpreter call sites
    // megamorphic and measurably SLOWS the JSON-heavy queries - observed
    // 12.6s -> 30.4s on q03 at sf0.1.)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/events.parquet").count()
    catch { case _: Throwable => () }

    // Pre-JIT the shared JSON-shred kernel with DIRECT static calls — no
    // Spark plan, so no extra generated classes and no megamorphic
    // poisoning (the failure mode of the per-query warmup above). The
    // kernel's static call sites (shred → handleValue → scanInner →
    // captureRaw) are exactly what every q03–q08 generated class invokes;
    // reaching C2 before the first timed iteration removes the
    // 1.4–3.6× first-queries JIT tax the r8/r9 driver rounds kept landing
    // on the JSON-heavy queries (BENCH_r09 vs bench_records/r9_run*).
    // ~30k calls x ~2 µs ≈ well past the C2 invocation threshold, <100 ms.
    {
      val spec = new graft.functions.ShredSpec(
        true,
        Array("organisation_id", "traits.organisation_id", "traits.project_id",
          "app.version", "plan", "org_id"),
        Array("traits", "app"))
      val payloads = Array(
        """{"organisation_id":"org-1","traits":{"organisation_id":"o2","project_id":"p1","x":1},"app":{"version":"1.2.3"},"plan":"pro","k":[1,2]}""",
        """{"traits":{"project_id":null},"app":{},"other":{"deep":{"a":1}},"arr":[{"b":2}]}""",
        """not json at all""")
        .map(org.apache.spark.unsafe.types.UTF8String.fromString)
      var i = 0
      while (i < 30000) {
        graft.functions.JsonShredRuntime.shred(payloads(i % payloads.length), spec)
        i += 1
      }
    }

    // Same recipe for the text kernels: the JSON-shred pre-JIT killed the
    // q03–q08 driver-round drift, after which the cold-JIT tail landed on
    // the text-heavy queries instead (BENCH_r10 driver run: q22/q23/q29
    // 2–3× their recorded cold medians; VERDICT r10 ask #5). Direct static
    // calls into each kernel's runtime class — the exact instance methods
    // every generated word_hits/minhash_sigs/winnow_fps/simhash_md5/
    // cut_spans call site invokes — reach C2 before the first timed
    // iteration without creating Spark plans (so no megamorphic
    // poisoning). Parameters mirror the registry's real call sites:
    // stopword word_hits (TextStats.enStopwords), minhash_sigs(8)
    // (Dedup default), winnow_fps(3,4) (TextStats defaults),
    // simhash_md5 16/32 bits (Dedup q14/q64), cut_spans(3). The md5-based
    // kernels cost ~2–10 µs/call, so 10k rounds ≈ 100–300 ms total.
    {
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.unsafe.types.UTF8String
      val toks: Array[org.apache.spark.sql.catalyst.util.ArrayData] = Array(
        new GenericArrayData(
          "the quick brown fox jumps over the lazy dog and runs to a hole in the hill"
            .split(' ').map(UTF8String.fromString(_): Any)),
        new GenericArrayData(Array[Any](UTF8String.fromString("solo"))),
        new GenericArrayData((Seq[Any](null) ++
          "a b c d e f g h".split(' ').map(UTF8String.fromString(_): Any)).toArray))
      val wordHits = new graft.functions.WordHitsKernel(
        graft.llm.TextStats.enStopwords.toArray)
      val minhash = new graft.functions.MinHashKernel(8)
      val winnow = new graft.functions.WinnowKernel(3, 4)
      val simhash16 = new graft.functions.SimHashKernel(16)
      val simhash32 = new graft.functions.SimHashKernel(32)
      val cutSpans = new graft.functions.SpanCutKernel(3)
      val starts = new GenericArrayData(Array[Any](2))
      var i = 0
      while (i < 10000) {
        val t = toks(i % toks.length)
        wordHits.count(t)
        minhash.signatures(t)
        winnow.fingerprints(t)
        simhash16.sketch(t)
        simhash32.sketch(t)
        cutSpans.cut(t, starts)
        i += 1
      }
    }

    // Median of 5 timed iterations per query: single-shot timings swing up
    // to 10x run-to-run from JIT/deopt state (BENCH_r03 90.6s vs a 33.0s
    // rerun of the same commit), and median-of-3 proved robust to only ONE
    // bad sample — the r04 driver run landed TWO cold samples on q07
    // (41.6/43.8/3.4 -> median 41.6). Five iterations tolerate two; all
    // samples are still reported alongside, so variance stays visible.
    // SPARK_GRAFT_ITERS: local-run override for scale-evidence sweeps where
    // a single iteration runs minutes (the 100× replica) and five would
    // burn an hour for the same median. The driver never sets it, so every
    // recorded signal stays median-of-5.
    val Iterations = sys.env.get("SPARK_GRAFT_ITERS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0)
      .getOrElse(5)
    var errors = Map.empty[String, String]
    var samples = Map.empty[String, Seq[Double]]
    // Local-iteration escape hatch: SPARK_GRAFT_ONLY=q05,q07 times just the
    // queries whose names contain one of the given substrings. The driver
    // never sets it, so recorded signals always cover the full registry.
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    // Interleaved rounds (VERDICT r12 ask #4): iteration 1 of every query,
    // then iteration 2, … — NOT 5 back-to-back samples per query. Both
    // driver-round false alarms (q10 r11, q41 r12) were minutes-long host
    // bursts landing entirely inside one query's 5-sample window and
    // dragging its median; round-robin spreads any burst thinly across ALL
    // medians at zero protocol cost (same sample count, same per-sample
    // clearCache/System.gc isolation, all samples still recorded in order).
    // A query that has already failed is skipped in later rounds — its
    // short sample vector yields the same -1 median either way.
    var acc = Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    for (_ <- 1 to Iterations; QuerySpec(name, fn, _, _) <- selected if !errors.contains(name)) {
      // isolate samples from each other's persisted state; level the heap
      // so one query's unreferenced broadcast/persist blocks can't land a
      // full GC inside another's timed body
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      try {
        // noop-write, NOT count(): under count() Catalyst prunes every
        // computation that doesn't bear on output CARDINALITY — q90's
        // whole scoring pipeline (8 joins → 2, windows and log() gone,
        // measured r18), and a bare projection like q71 can answer from
        // parquet row-group metadata without reading data at all. The
        // noop sink evaluates every output column and discards rows at
        // the executor, so the timed body is the plan a consumer
        // actually pays for. Protocol generation note: r18 and later
        // totals are NOT comparable with count()-era records
        // (BASELINE.md, superseded-records section).
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        acc += name -> (acc(name) :+ (System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }
    val results = selected.map(_.name).map { name =>
      val times = acc(name)
      samples += name -> times
      // A query that failed on ANY iteration is a failed query (-1), even if
      // other iterations succeeded — so `errors` keys never overlap with
      // successful-looking medians and consumers need only one map.
      val median =
        if (times.size < Iterations) -1.0 else times.sorted.apply(times.size / 2)
      name -> median
    }

    // stdout gets the compact total-only line: the driver captures only a
    // bounded tail of sbt output, and first the per-query sample arrays
    // (BENCH_r04/r05) then the per-query medians themselves at 79 queries
    // (BENCH_r10) outgrew that buffer and came back "parsed": null. The
    // full line with all medians and samples goes to BENCH_RESULT.json so
    // per-query timings and variance stay auditable.
    val (compact, full) = benchJson(results, samples, errors, sfDir, Iterations)
    Files.writeString(Paths.get("BENCH_RESULT.json"), full + "\n")
    // Print the compact line as the very LAST stdout act, after
    // spark.stop(): anything Spark/sbt logs during shutdown would
    // otherwise land after our line in the driver's bounded tail.
    spark.stop()
    println(compact)
  }
}
