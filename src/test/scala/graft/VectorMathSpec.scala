package graft

import graft.similarity.DocSimilarity
import graft.text.TfIdf
import org.apache.spark.sql.functions._

/** Sparse-vector math goldens from the reference's unit tests, expressed
  * over long-form `(id, token, weight)` tables
  * (reference: test/EntityResolutionTest.scala:121-178).
  */
class VectorMathSpec extends SparkTestBase {
  import spark.implicits._

  test("term frequency: count/total per token (golden map)") {
    // reference: EntityResolutionTest.scala:121-127
    val docs = Seq((1L, Seq("this", "is", "test", "test", "and", "this",
      "is", "another", "test", "test"))).toDF("id", "tokens")
    val tf = TfIdf.termFrequency(docs, "id", "tokens")
      .select("token", "tf").as[(String, Double)].collect().toMap
    assert(tf === Map("test" -> 0.4, "this" -> 0.2, "is" -> 0.2,
      "another" -> 0.1, "and" -> 0.1))
  }

  test("sparse dot product over shared tokens = 358") {
    // reference: EntityResolutionTest.scala:156-162
    val v1 = Seq(("x", "a", 4.0), ("x", "c", 5.0), ("x", "b", 7.0))
      .toDF("id", "token", "weight")
    val v2 = Seq(("y", "a", 2.0), ("y", "b", 50.0), ("y", "d", 100.0))
      .toDF("id", "token", "weight")
    val dot = v1.select(col("token"), col("weight").as("wa"))
      .join(v2.select(col("token"), col("weight").as("wb")), "token")
      .agg(sum(col("wa") * col("wb"))).collect()(0).getDouble(0)
    assert(dot === 358.0)
  }

  test("L2 norm = sqrt(sum of squares)") {
    // reference: EntityResolutionTest.scala:164-169
    val v = Seq(("x", "a", 4.0), ("x", "c", 5.0), ("x", "b", 7.0))
      .toDF("id", "token", "weight")
    val n = TfIdf.norms(v, "id").collect()(0).getDouble(1)
    assert(math.abs(n - 9.486832980505) < 1e-6)
  }

  test("cosine similarity of two sparse vectors") {
    // reference: EntityResolutionTest.scala:172-178
    val v1 = Seq(("x", "a", 4.0), ("x", "c", 5.0), ("x", "b", 7.0))
      .toDF("id", "token", "weight")
    val v2 = Seq(("y", "a", 5.0), ("y", "c", 2.0), ("y", "e", 7.0))
      .toDF("id", "token", "weight")
    val sim = DocSimilarity.invertedIndexCosine(
        v1.withColumnRenamed("id", "id_a"), v2.withColumnRenamed("id", "id_b"), "id_a", "id_b")
      .collect()(0).getAs[Double]("sim")
    assert(math.abs(sim - 0.35805743701971) < 1e-6)
  }

  test("IDF is the plain ratio N/df, not log-scaled") {
    val docs = Seq(
      (1L, Seq("a", "b")), (2L, Seq("b", "c")), (3L, Seq("b", "d")),
      (4L, Seq("a", "a", "d"))).toDF("id", "tokens")
    val idf = TfIdf.idf(docs, "id", "tokens")
      .as[(String, Double)].collect().toMap
    // N=4; df(a)=2 (duplicates within a doc count once), df(b)=3, df(c)=1
    assert(idf === Map("a" -> 2.0, "b" -> 4.0 / 3.0, "c" -> 4.0, "d" -> 2.0))
  }
}
