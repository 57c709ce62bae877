package graft

import org.apache.spark.sql.functions._

/** Hive-style partitioned layout must prune at planning time: a filter
  * on the partition column appears as a PartitionFilter on the scan and
  * only the matching directory is read — at 100 TB this is the
  * difference between scanning one date's files and scanning the lake.
  */
class PartitionPruningSpec extends SparkTestBase {

  test("filter on the partition column prunes directories at the scan") {
    val dir = tempDir("graft_part")
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .withColumn("split",
        when(h === "f", "test").when(h === "e", "val").otherwise("train"))
      .write.mode("overwrite").partitionBy("split").parquet(dir)

    val q = spark.read.parquet(dir).where(col("split") === "val")
      .select(count(lit(1)).as("n"))
    val n = q.collect()(0).getLong(0)
    assert(n > 0)

    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), "scan must carry partition filters")
    assert(scan.contains("(split = val)") || scan.contains("split#"),
      s"partition predicate must reach the scan:\n$scan")
    // the pruned read must touch only the val/ directory
    val files = spark.read.parquet(dir).where(col("split") === "val")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("split=val")),
      "only the matching partition directory may be read")
  }

  test("writePartitioned bounds files per partition directory") {
    val dir = tempDir("graft_layout")
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    graft.sources.PartitionedLayout.writePartitioned(
      docs, dir, Seq("lang"), filesPerPartition = 3)
    val back = spark.read.parquet(dir)
    assert(back.count() === docs.count(), "partitioned write must round-trip")
    // every lang directory holds between 1 and filesPerPartition files
    // (the salt bounds write fan-out; co-scheduled salt groups may merge)
    val perDir = back.select(col("lang"), input_file_name().as("f")).distinct()
      .groupBy("lang").agg(count(lit(1)).as("n_files"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(perDir.nonEmpty)
    perDir.foreach { case (lang, n) =>
      assert(n >= 1 && n <= 3, s"lang=$lang wrote $n files, want 1..3")
    }
    // and the layout still prunes: reading one lang touches only its dir
    val one = spark.read.parquet(dir).where(col("lang") === "en")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(one.nonEmpty && one.forall(_.contains("lang=en")))
  }
}
