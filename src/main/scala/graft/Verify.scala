package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet, plus every
  * query's oracle SQL in oracle_sql.json, for the DuckDB oracle compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration escape hatch, same contract as Bench's: dump only
    // queries whose names contain one of the substrings. The driver never
    // sets it, so recorded correctness always covers the full registry.
    SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY")).foreach { case QuerySpec(name, fn, _, _) =>
      // Operators persist intermediates and document a caller-owned
      // lifecycle; in this whole-registry single-session run that caller is
      // Verify, so drop each query's cached blocks before the next one
      // (the Bench convention) or they accumulate across the run.
      spark.catalog.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Bench.jstr escapes backslash, quote and ALL control chars (<0x20) —
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    val json = SparkEntry.specs
      .map(q => s"${Bench.jstr(q.name)}: ${Bench.jstr(q.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
