package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Semantic-dedup corpus synthesized from the read-only `embeddings`
  * table: the originals plus an injected exact near-duplicate (identical
  * vector, new id) for every 5th vector. The raw synthetic embeddings
  * contain no semantic near-duplicates (within-label cosine tops out
  * ~0.47), so without injection a threshold-pair operator has nothing to
  * find; identical vectors score exactly 1.0 in both engines (same DOUBLE
  * arithmetic on the same bits), giving unambiguous must-cluster edges on
  * top of the natural just-under/over-threshold pairs. Written in the
  * shared Spark/DuckDB SQL dialect so engine and oracle see identical
  * inputs (the [[DocumentsFixture]] pattern).
  */
object EmbeddingsFixture {

  private val arms = Seq(
    "SELECT vec_id, label, embedding FROM %s",
    "SELECT vec_id + 10000, label, embedding FROM %s WHERE vec_id % 5 = 0")

  /** Built by [[DocumentsFixture.unionArms]], like the document corpora. */
  def corpusDf(spark: SparkSession, dir: String): DataFrame =
    DocumentsFixture.unionArms(Tables.embeddings(spark, dir), "__emb_fixture", arms)

  def corpusSql(rel: String = "embeddings"): String =
    arms.map(_.replace("%s", rel)).mkString(" UNION ALL ")
}
