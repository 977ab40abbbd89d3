package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W1 — latest-version-per-group selection (`event_verify.py:36-41`):
  * `rank() over (partitionBy channel orderBy version desc)` then keep
  * `rank == 1`. `rank` (not `row_number`) keeps ALL rows tied on the max
  * ordering value, exactly like the reference's `filter(rank == 1)`.
  */
object VersionSelect {

  def latestPerGroup(df: DataFrame, groupCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(desc(orderCol))
    df.withColumn("rank", rank().over(w))
      .filter(col("rank") === 1)
      .drop("rank")
  }
}
