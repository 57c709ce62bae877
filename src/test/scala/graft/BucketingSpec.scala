package graft

import graft.sources.Bucketing
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.SparkPlan

/** Bucketed tables must make the key equi-join shuffle-free: both scans
  * report the bucket hash distribution, so the sort-merge join runs
  * with zero exchanges. Broadcast is disabled inside the test — at real
  * fact-table sizes broadcast is off the table, and the point is the
  * exchange-free SMJ.
  */
class BucketingSpec extends SparkTestBase {

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      Seq(s) ++ collectAll(s.plan)
    case other => Seq(other) ++ other.children.flatMap(collectAll)
  }

  test("orderkey-bucketed orders ⋈ lineitem plans with zero exchanges") {
    val dir = tempDir("graft_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      Bucketing.writeBucketed(
        Tables.read(spark, sf("sf0.001"), "orders"),
        "orders_b", s"$dir/orders_b", "o_orderkey", 8)
      Bucketing.writeBucketed(
        Tables.read(spark, sf("sf0.001"), "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", s"$dir/lineitem_b", "o_orderkey", 8)

      val joined = Bucketing.bucketedJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
      val n = joined.count()
      assert(n > 0)
      val plan = collectAll(joined.queryExecution.executedPlan)
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"bucketed join must be exchange-free, found ${shuffles.size} shuffles")

      // sanity: same row count as the plain (shuffling) join
      val plain = Tables.read(spark, sf("sf0.001"), "orders").join(
        Tables.read(spark, sf("sf0.001"), "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
      assert(n == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("centroid-bucketed vector index: retrieval join never shuffles the corpus side") {
    import org.apache.spark.sql.functions._
    import graft.streaming.VectorStreams
    val dir = tempDir("graft_vec_index")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      // store the serving index bucketed by its join key: the scoring
      // join then shuffles only the (small) query side into the bucket
      // layout, and the corpus side is read in place — at 100 TB the
      // index is the side that must never move
      val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      val (index, codebook) = VectorStreams.buildIndex(
        emb, "vec_id", "embedding", col("vec_id") % 50 === 0)
      Bucketing.writeBucketed(index, "vec_index_b", s"$dir/vec_index_b",
        "centroid_id", 8)
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        .withColumn("q_nrm", graft.ann.Knn.l2norm(col("q_vec")))
        .withColumn("centroid_id",
          VectorStreams.bucketExpr(col("q_vec"), col("q_nrm"), codebook))
      val scored = queries.join(spark.table("vec_index_b"), "centroid_id")
        .select(col("q_id"), col("cand_id"))
      val n = scored.count()
      assert(n > 0)
      val plan = collectAll(scored.queryExecution.executedPlan)
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      // exactly one exchange: the query side re-hashing into the bucket
      // layout; the index scan itself reports the bucket distribution
      assert(shuffles.size <= 1,
        s"only the query side may shuffle, found ${shuffles.size} exchanges")
      assert(!shuffles.exists(_.toString.contains("c_vec")),
        "the stored index (c_vec columns) must never pass through an exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS vec_index_b")
    }
  }
}
