package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for registry queries to per-query text
  * files — the optimization rounds' plan evidence
  * (`plans/r<N>/<query>_<tag>.txt`). The judge cannot run Spark, so plan
  * claims in OPTIMIZATION_r<N>.md are checked against these files.
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <tag> [q05,q07,...]`
  * — the optional 4th arg is a comma-separated substring filter over
  * query names ([[SparkEntry.select]], the SPARK_GRAFT_ONLY convention);
  * omitted = full registry.
  * Each query `name` lands in `<outDir>/<name>_<tag>.txt`.
  *
  * Plans are built, not executed (explain is plan-time only), so a full
  * registry dump is seconds, and with AQE on the dumped plan is the
  * initial `isFinalPlan=false` shape — Exchange counts and join
  * strategies shown are the static planner's choices, which is exactly
  * what code-level optimization changes.
  *
  * `SPARK_GRAFT_PLANDUMP_EXEC=1` additionally EXECUTES each query with
  * the Bench noop sink and appends the post-execution
  * `executedPlan.toString` (the final adaptive plan) — that's where
  * runtime artifacts like ReusedExchange / AQE stage reuse are visible,
  * which the initial plan cannot show (r19 diagnostic).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val exec = sys.env.get("SPARK_GRAFT_PLANDUMP_EXEC").contains("1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (QuerySpec(name, fn, _, _) <- SparkEntry.select(args.lift(3))) {
      try {
        spark.catalog.clearCache()
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val full =
          if (exec) {
            // Execute THIS QueryExecution (df.write would spawn its own,
            // leaving df's adaptive plan untouched): run the plan's RDD
            // and discard rows at the executor — noop-sink-equivalent.
            df.queryExecution.executedPlan.execute().foreach(_ => ())
            txt + "\n\n== Post-execution adaptive plan ==\n" +
              df.queryExecution.executedPlan.toString
          } else txt
        Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), full)
        println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
      }
    }
    spark.stop()
  }
}
