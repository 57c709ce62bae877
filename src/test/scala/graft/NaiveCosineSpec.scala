package graft

import graft.similarity.DocSimilarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

/** The naive all-pairs cosine in a session with no custom optimizer
  * rule: under `sim > θ` (θ ≥ 0) Spark's stock rules must drop its
  * all-pairs join and keep the thresholded rows of the all-pairs
  * output, and when the zero-default rows are observable (no filter, or
  * a threshold below zero) the all-pairs join must stay.
  */
class NaiveCosineSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // docs 1/2 share token x; doc 3 is disjoint (sim 0 vs both)
  private def naive(): DataFrame = {
    val w = Seq((1L, "x", 0.6), (1L, "y", 0.8), (2L, "x", 1.0), (3L, "z", 1.0))
      .toDF("id", "token", "weight")
    val n = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0)).toDF("id", "norm")
    DocSimilarity.cartesianCosine(
      w.withColumnRenamed("id", "id_a"), n.withColumnRenamed("id", "id_a"),
      w.withColumnRenamed("id", "id_b"), n.withColumnRenamed("id", "id_b"),
      "id_a", "id_b")
  }

  /** Nested-loop joins in the final executed plan, and how many of
    * them pair the two sides' ids. The kernel's broadcast of its one-row
    * index is always one of the first kind; the all-pairs join is the
    * second.
    */
  private def nestedLoopJoins(df: DataFrame): (Int, Int) = {
    df.collect() // materialize so AQE settles on the final plan
    val joins = collect(df.queryExecution.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    (joins.size, joins.count(j => Set("id_a", "id_b").subsetOf(j.output.map(_.name).toSet)))
  }

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.as[(Long, Long, Double)].collect().toSet

  test("filtered naive cosine loses the cross join and keeps identical results") {
    val all = rows(naive())
    for ((pred, keep) <- Seq[(org.apache.spark.sql.Column, Double => Boolean)](
        (col("sim") > 0.1, _ > 0.1), (col("sim") >= 0.2, _ >= 0.2))) {
      val df = naive().where(pred)
      assert(nestedLoopJoins(df) === ((1, 0)), s"$pred: only the kernel's index broadcast")
      val got = rows(df)
      assert(got === all.filter(r => keep(r._3)), s"$pred: the all-pairs rows above it")
      assert(got.nonEmpty)
    }
  }

  test("θ = 0 (strict) also eliminates — zero-default rows cannot pass sim > 0") {
    val df = naive().where(col("sim") > 0.0)
    assert(nestedLoopJoins(df) === ((1, 0)))
    val got = rows(df)
    // cross-doc pairs involving doc 3 (disjoint vocabulary) are gone;
    // its self-pair (shared token z, sim 1.0) survives
    assert(got.map(t => (t._1, t._2)) ===
      Set((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("all pairs are kept when the zero-default rows are observable") {
    // no filter: the zero-default rows ARE the output
    val all = naive()
    assert(nestedLoopJoins(all) === ((2, 1)), "unfiltered all-pairs must keep the cross join")
    assert(all.count() === 9L)
    // threshold below zero keeps zero-sim rows too
    val neg = naive().where(col("sim") > -1.0)
    assert(nestedLoopJoins(neg) === ((2, 1)))
    assert(neg.count() === 9L)
  }
}
