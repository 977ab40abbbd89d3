package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per forked test JVM), carrying
  * the engine's correctness confs from [[GraftSession.required]].
  */
object SparkTestBase {
  lazy val spark: SparkSession =
    GraftSession.required.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every test leaves an empty cache behind: operators persist
    * intermediates under a caller-owned lifecycle, so a block left by one
    * test could otherwise change the plan (InMemoryRelation substitution)
    * or the memory headroom of the next one.
    */
  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally SparkTestBase.spark.catalog.clearCache()
}
