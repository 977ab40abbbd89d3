package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.llm.Similarity
import graft.sources.Tables

class CosineSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("fused kernel is BIT-identical to the composable aggregate/zip_with form") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"))
    val a = emb.select(col("vec_id").as("ida"), col("emb").as("ea"))
    val b = emb.select(col("vec_id").as("idb"), col("emb").as("eb"))
    val pairs = a.join(broadcast(b), col("ida") % 25 === 0 && col("idb") % 17 === 0)
    val diff = pairs
      .withColumn("fused", Similarity.fusedCosine(col("ea"), col("eb")))
      .withColumn("folded", Similarity.cosine(col("ea"), col("eb")))
      .filter(col("fused") =!= col("folded"))
    assert(diff.count() == 0, "fused and composable cosine must agree to the bit")
  }

  test("null, length-mismatch, and zero-norm inputs yield NULL") {
    val df = Seq(
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), // length mismatch
      (Seq(0.0, 0.0), Seq(1.0, 2.0)) // zero norm
    ).toDF("a", "b")
    val out = df.select(Similarity.fusedCosine(col("a"), col("b")).as("c")).collect()
    assert(out.forall(_.isNullAt(0)))
    val nullIn = Seq((null.asInstanceOf[Seq[Double]], Seq(1.0)))
      .toDF("a", "b")
      .select(Similarity.fusedCosine(col("a"), col("b")).as("c")).collect()
    assert(nullIn.forall(_.isNullAt(0)))
    // a null element nulls the pair, as it nulls the composable fold
    val nullElem = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](null, 1.0)))
      .toDF("a", "b")
      .select(Similarity.fusedCosine(col("a"), col("b")).as("f"),
        Similarity.cosine(col("a"), col("b")).as("c"))
      .collect()
    assert(nullElem.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("registered as SQL function via GraftExtensions") {
    val r = spark.sql("SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .as[Double].head()
    assert(r == 1.0)
  }
}
