package graft

import graft.ann.Knn
import graft.dedup.Dedup
import graft.graph.PageRank
import graft.operators.CheckpointMode
import org.apache.spark.sql.functions._

/** The durability dial must never change results: local blocks,
  * reliable RDD checkpoint, and write/re-read parquet are three
  * materializations of the SAME per-iteration table, so every
  * iterative operator must emit bit-identical output under all three.
  *
  * Fixtures are chosen so floating-point results are order-independent
  * (labels are longs; k-means uses integer-valued vectors whose sums
  * are exact in double; the PageRank graph has in-degree ≤ 2, and IEEE
  * addition of two doubles is commutative) — the comparisons below are
  * exact, not rounded.
  */
class CheckpointModeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val tmp = {
    val d = tempDir("graft-ckpt")
    spark.sparkContext.setCheckpointDir(s"$d/reliable")
    d
  }

  private def modes(sub: String) = Seq(
    "local" -> CheckpointMode.Local,
    "reliable" -> CheckpointMode.Reliable,
    "path" -> CheckpointMode.Path(s"$tmp/$sub"))

  // registered FIRST: must run before any test forces `tmp` (which sets
  // the shared context's checkpoint dir — it can't be unset afterwards)
  test("reliable mode without a checkpoint dir fails loudly") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    val ids = (1L to 3L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.nearDupClustersConverged(ids, "doc_id", pairs,
        checkpoint = CheckpointMode.Reliable)._1.collect()
    }
    assert(ex.getMessage.contains("setCheckpointDir"))
  }

  test("connected components: bit-identical labels and round count across all three modes") {
    // the 50-hop path fixture — the hardest convergence case in DedupSpec
    val ids = (1L to 51L).toDF("doc_id")
    val pairs = (1L to 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val runs = modes("cc").map { case (name, m) =>
      val (out, iters) = Dedup.nearDupClustersConverged(ids, "doc_id", pairs, checkpoint = m)
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      (name, rows, iters)
    }
    assert(runs.head._2.forall(_._2 == 1L), "chain must fully label to the min id")
    assert(runs.map(_._2).distinct.size === 1,
      "labels must be identical across checkpoint modes")
    assert(runs.map(_._3).distinct.size === 1,
      "round count must be identical across checkpoint modes")
  }

  test("k-means centroids: bit-identical vectors across all three modes") {
    // integer-valued vectors: per-cluster sums are exact in double, so
    // partition order (which differs across modes) cannot perturb means
    val emb = Seq(
      (1L, Array(4f, 0f)), (2L, Array(8f, 2f)), (3L, Array(6f, 4f)),
      (4L, Array(0f, 4f)), (5L, Array(2f, 8f)), (6L, Array(1f, 9f))
    ).toDF("vec_id", "embedding")
    val runs = modes("kmeans").map { case (name, m) =>
      val cents = Knn.kmeansCentroids(emb, "vec_id", "embedding",
          col("vec_id") <= 2, iters = 3, checkpoint = m)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList)).sortBy(_._1).toSeq
      (name, cents)
    }
    assert(runs.head._2.size === 2)
    assert(runs.map(_._2).distinct.size === 1,
      "centroids must be bit-identical across checkpoint modes")
  }

  test("PageRank: bit-identical ranks across all three modes") {
    // undirected 4-chain → in-degree ≤ 2: each contribution sum has at
    // most two addends, so order cannot change the double result
    val nodes = (1L to 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val runs = modes("pagerank").map { case (name, m) =>
      val ranks = PageRank.run(nodes, edges, iters = 5, checkpoint = m)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      (name, ranks)
    }
    assert(math.abs(runs.head._2.map(_._2).sum - 1.0) < 1e-9, "ranks must sum to ~1")
    assert(runs.map(_._2).distinct.size === 1,
      "ranks must be bit-identical across checkpoint modes")
  }

  test("k-core: bit-identical survivors across all three modes") {
    // two 4-cliques joined by a single bridge edge: the bridge endpoints
    // keep their in-clique degree, the bridge itself survives a 3-core
    val clique = (base: Long) =>
      for (a <- base to (base + 3); b <- (a + 1) to (base + 3)) yield (a, b)
    val pairs = (clique(1L) ++ clique(11L) :+ ((4L, 11L))).toDF("id_a", "id_b")
    val runs = modes("kcore").map { case (name, m) =>
      val rows = graft.graph.KCore.kCore(pairs, k = 3, rounds = 4, checkpoint = m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      (name, rows)
    }
    assert(runs.head._2.size === 8, "both cliques must survive the 3-core")
    assert(runs.map(_._2).distinct.size === 1,
      "survivors must be identical across checkpoint modes")
  }

  test("path-mode resume: a killed run restarts from the last committed step, bit-identical") {
    // same exact-FP fixture as the all-modes PageRank test
    val nodes = (1L to 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val dir = s"$tmp/pagerank-resume"

    // "driver died after iteration 2 of 5": a 2-iteration Path run leaves
    // steps 1 (ids), 2 (adj), 5 (rank after iter 2) — 3, 4 were released
    PageRank.run(nodes, edges, iters = 2,
      checkpoint = CheckpointMode.Path(dir)).collect()
    // ... and mid-write of the NEXT step: an uncommitted dir, no _SUCCESS
    val inflight = new java.io.File(s"$dir/pagerank-step-6")
    assert(inflight.mkdirs())
    java.nio.file.Files.writeString(
      inflight.toPath.resolve("part-junk.parquet"), "torn write")

    val resumed = PageRank.run(nodes, edges, iters = 5,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val fresh = PageRank.run(nodes, edges, iters = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(resumed === fresh,
      "resumed run must be bit-identical to an uninterrupted one")
    // the restart re-entered at step 5: the torn step 6 was overwritten,
    // iterations 3-5 wrote steps 6-8, and release kept only the frontier
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left.contains("pagerank-step-8"), s"expected step 8 in $left")
    assert(!left.contains("pagerank-step-5"),
      s"resumed-from step must be released once superseded, found $left")
  }

  test("path-mode resume: an already-finished run is served from its frontier, no recompute") {
    val nodes = (1L to 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val dir = s"$tmp/pagerank-noop-resume"
    val first = PageRank.run(nodes, edges, iters = 2,
        checkpoint = CheckpointMode.Path(dir))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val again = PageRank.run(nodes, edges, iters = 2,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(again === first)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!left.exists(_.startsWith("pagerank-step-6")),
      s"a finished run must not write new steps on resume, found $left")
  }

  test("reliable mode: release deletes superseded checkpoint files, not just blocks") {
    tmp // force checkpoint dir
    val ckptRoot = new org.apache.hadoop.fs.Path(
      spark.sparkContext.getCheckpointDir.get)
    val fs = ckptRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rddDirs(): Set[String] =
      if (!fs.exists(ckptRoot)) Set.empty
      else fs.listStatus(ckptRoot).map(_.getPath.getName).toSet
    val before = rddDirs()
    val nodes = (1L to 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    PageRank.run(nodes, edges, iters = 5,
      checkpoint = CheckpointMode.Reliable).collect()
    val added = rddDirs() -- before
    // 8 materializations (ids, adj, rank0, 5 iterations); the 5
    // superseded rank steps must have had their files deleted
    assert(added.size <= 3,
      s"superseded reliable checkpoints must be deleted, ${added.size} dirs remain: $added")
  }

  test("label propagation: bit-identical communities across all three modes") {
    // the LabelPropSpec two-clique fixture; labels are longs, so the
    // comparison is exact
    val clique = (base: Long) =>
      for (a <- base to (base + 3); b <- (a + 1) to (base + 3)) yield (a, b)
    val pairs = (clique(1L) ++ clique(11L) :+ ((4L, 11L))).toDF("id_a", "id_b")
    val nodes = ((1L to 4L) ++ (11L to 14L)).toDF("doc_id")
    val runs = modes("lpa").map { case (name, m) =>
      val rows = graft.graph.LabelProp.run(nodes, "doc_id", pairs,
          rounds = 4, checkpoint = m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      (name, rows)
    }
    assert(runs.head._2.map(_._2).toSet === Set(1L, 11L), "two communities")
    assert(runs.map(_._2).distinct.size === 1,
      "labels must be identical across checkpoint modes")
  }

  test("path mode releases superseded steps but keeps the final one readable") {
    val dir = s"$tmp/release-probe"
    val ids = (1L to 8L).toDF("doc_id")
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (out, iters) = Dedup.nearDupClustersConverged(ids, "doc_id", pairs,
      checkpoint = CheckpointMode.Path(dir))
    assert(iters >= 2)
    // the result is consumable strictly AFTER the run (lazy re-read)
    assert(out.collect().forall(_.getLong(1) == 1L))
    // superseded half-steps were deleted; only live steps remain
    // (edges + final half — earlier cc-step-* dirs are gone)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    val halfSteps = left.count(_.startsWith("cc-step-"))
    assert(halfSteps <= 2, s"superseded steps must be deleted, found $left")
  }

}
