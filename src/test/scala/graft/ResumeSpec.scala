package graft

import graft.ann.Knn
import graft.dedup.Dedup
import graft.graph.{KCore, LabelProp}
import graft.operators.CheckpointMode
import graft.text.BpeTrain
import org.apache.spark.sql.functions._

/** Path-mode resume must reach EVERY iterative operator, not just
  * PageRank (the round-6 gap): a driver dying mid-flight on a 100 TB
  * run restarts from the last committed step, not from step 0. Each
  * case below simulates the crash the same way CheckpointModeSpec's
  * PageRank case does — run a truncated Path-mode prefix, plant a torn
  * (uncommitted, no `_SUCCESS`) in-flight step dir, then `resume =
  * true` with the full budget — and demands BIT-IDENTICAL output vs an
  * uninterrupted run, plus the no-recompute property for already-
  * finished runs. Fixtures keep results exactly comparable: labels /
  * edges / ids are longs, k-means vectors are integer-valued (sums
  * exact in double), BPE tables are strings + longs.
  */
class ResumeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val tmp =
    tempDir("graft-resume")

  /** Plant an uncommitted in-flight step (no `_SUCCESS`) — the dir a
    * write that died mid-flight leaves behind.
    */
  private def torn(dir: String, name: String): Unit = {
    val d = new java.io.File(dir, name)
    assert(d.mkdirs(), s"fixture: could not create $d")
    java.nio.file.Files.writeString(
      d.toPath.resolve("part-junk.parquet"), "torn write")
  }

  private def steps(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty)

  // shared two-clique fixture (LabelPropSpec / CheckpointModeSpec)
  private def clique(base: Long) =
    for (a <- base to (base + 3); b <- (a + 1) to (base + 3)) yield (a, b)
  private def bridged = (clique(1L) ++ clique(11L) :+ ((4L, 11L))).toDF("id_a", "id_b")

  test("label propagation: killed run resumes from the last committed round, bit-identical") {
    val nodes = ((1L to 4L) ++ (11L to 14L)).toDF("doc_id")
    val dir = s"$tmp/lpa-kill"
    // "driver died after round 2 of 4": steps 1 (edges), 4 (labels
    // after round 2) survive — 2, 3 were released — plus a torn step 5
    LabelProp.run(nodes, "doc_id", bridged, rounds = 2,
      checkpoint = CheckpointMode.Path(dir)).collect()
    torn(dir, "lpa-step-5")
    val resumed = LabelProp.run(nodes, "doc_id", bridged, rounds = 4,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val fresh = LabelProp.run(nodes, "doc_id", bridged, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(resumed === fresh,
      "resumed LPA must be bit-identical to an uninterrupted run")
    val left = steps(dir)
    assert(left.contains("lpa-step-6"), s"expected frontier step 6 in $left")
    assert(!left.contains("lpa-step-4"),
      s"resumed-from step must be released once superseded, found $left")
  }

  test("label propagation: finished run is served from its frontier, no recompute") {
    val nodes = ((1L to 4L) ++ (11L to 14L)).toDF("doc_id")
    val dir = s"$tmp/lpa-noop"
    val first = LabelProp.run(nodes, "doc_id", bridged, rounds = 2,
        checkpoint = CheckpointMode.Path(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val again = LabelProp.run(nodes, "doc_id", bridged, rounds = 2,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(again === first)
    assert(!steps(dir).exists(_.startsWith("lpa-step-5")),
      s"a finished run must not write new steps on resume, found ${steps(dir)}")
  }

  test("k-core: killed run resumes from the last committed peel round, bit-identical") {
    val dir = s"$tmp/kcore-kill"
    // one peel round committed (step 2; the initial step 1 is released
    // once superseded), then death mid-round-2
    KCore.kCore(bridged, k = 3, rounds = 1,
      checkpoint = CheckpointMode.Path(dir)).collect()
    torn(dir, "kcore-step-3")
    val resumed = KCore.kCore(bridged, k = 3, rounds = 4,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val fresh = KCore.kCore(bridged, k = 3, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(resumed === fresh,
      "resumed k-core must be bit-identical to an uninterrupted run")
    assert(resumed.size === 8, "both cliques survive the 3-core")
    val left = steps(dir)
    assert(left.contains("kcore-step-5"), s"expected frontier step 5 in $left")
    assert(!left.contains("kcore-step-2"),
      s"resumed-from step must be released once superseded, found $left")
  }

  test("k-means: killed run resumes from the last committed centroid table, bit-identical") {
    val emb = Seq(
      (1L, Array(4f, 0f)), (2L, Array(8f, 2f)), (3L, Array(6f, 4f)),
      (4L, Array(0f, 4f)), (5L, Array(2f, 8f)), (6L, Array(1f, 9f))
    ).toDF("vec_id", "embedding")
    val dir = s"$tmp/kmeans-kill"
    Knn.kmeansCentroids(emb, "vec_id", "embedding", col("vec_id") <= 2,
      iters = 1, checkpoint = CheckpointMode.Path(dir)).collect()
    torn(dir, "kmeans-step-2")
    val resumed = Knn.kmeansCentroids(emb, "vec_id", "embedding",
        col("vec_id") <= 2, iters = 3,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList)).sortBy(_._1).toSeq
    val fresh = Knn.kmeansCentroids(emb, "vec_id", "embedding",
        col("vec_id") <= 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList)).sortBy(_._1).toSeq
    assert(resumed === fresh,
      "resumed k-means centroids must be bit-identical to an uninterrupted run")
    val left = steps(dir)
    assert(left.contains("kmeans-step-3"), s"expected frontier step 3 in $left")
    assert(!left.contains("kmeans-step-1"),
      s"resumed-from step must be released once superseded, found $left")
  }

  test("PQ training: killed run resumes from the last committed codebook, bit-identical") {
    val emb = Seq(
      (0L, Array(0f, 0f, 8f, 8f)), (1L, Array(8f, 8f, 0f, 0f)),
      (2L, Array(1f, 1f, 7f, 7f)), (3L, Array(7f, 7f, 1f, 1f)),
      (4L, Array(0f, 2f, 6f, 8f)), (5L, Array(6f, 8f, 0f, 2f))
    ).toDF("vec_id", "embedding")
    val dir = s"$tmp/pq-kill"
    graft.ann.Pq.trainCodebooks(emb, "vec_id", "embedding", m = 2,
      seedPred = col("vec_id") < 2, iters = 1,
      checkpoint = CheckpointMode.Path(dir)).collect()
    torn(dir, "pq-step-3")
    def flat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toList))
      .sortBy(t => (t._1, t._2)).toSeq
    val resumed = flat(graft.ann.Pq.trainCodebooks(emb, "vec_id", "embedding",
      m = 2, seedPred = col("vec_id") < 2, iters = 3,
      checkpoint = CheckpointMode.Path(dir), resume = true))
    val fresh = flat(graft.ann.Pq.trainCodebooks(emb, "vec_id", "embedding",
      m = 2, seedPred = col("vec_id") < 2, iters = 3))
    assert(resumed === fresh,
      "resumed PQ codebooks must be bit-identical to an uninterrupted run")
    val left = steps(dir)
    assert(left.contains("pq-step-4"), s"expected final step 4 in $left")
    assert(!left.contains("pq-step-2"),
      s"resumed-from step must be released once superseded, found $left")
  }

  test("random walks: killed run resumes from the last committed frontier, bit-identical") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L), (4L, 2L))
      .toDF("src", "dst")
    val starts = Seq(1L, 2L).toDF("n")
    val dir = s"$tmp/walk-kill"
    graft.graph.RandomWalk.walks(edges, "src", "dst", starts, "n",
      walksPerNode = 2, steps = 1,
      checkpoint = CheckpointMode.Path(dir)).collect()
    torn(dir, "walk-step-3")
    def flat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val resumed = flat(graft.graph.RandomWalk.walks(edges, "src", "dst",
      starts, "n", walksPerNode = 2, steps = 4,
      checkpoint = CheckpointMode.Path(dir), resume = true))
    val fresh = flat(graft.graph.RandomWalk.walks(edges, "src", "dst",
      starts, "n", walksPerNode = 2, steps = 4))
    assert(resumed === fresh,
      "resumed walk corpus must be bit-identical to an uninterrupted run")
    // every step frame IS part of the output — none may be released
    val left = steps(dir)
    assert((1 to 5).forall(i => left.contains(s"walk-step-$i")),
      s"all step frames must survive (they are the corpus), found $left")
  }

  test("connected components: killed run resumes mid-convergence, identical labels AND round count") {
    // the 50-hop path fixture — pointer doubling needs ~6 rounds
    val ids = (1L to 51L).toDF("doc_id")
    val pairs = (1L to 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val dir = s"$tmp/cc-kill"
    // "driver died after round 2": steps 1 (edges) + 4 (round-2 half)
    // survive, plus a torn round-3 half
    val (_, two) = Dedup.nearDupClustersConverged(ids, "doc_id", pairs,
      maxIters = 2, checkpoint = CheckpointMode.Path(dir))
    assert(two === 2)
    torn(dir, "cc-step-5")
    val (resumedDf, resumedRounds) = Dedup.nearDupClustersConverged(
      ids, "doc_id", pairs, maxIters = 20,
      checkpoint = CheckpointMode.Path(dir), resume = true)
    val resumed = resumedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val (freshDf, freshRounds) = Dedup.nearDupClustersConverged(
      ids, "doc_id", pairs, maxIters = 20)
    val fresh = freshDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(resumed === fresh,
      "resumed components must be bit-identical to an uninterrupted run")
    assert(resumedRounds === freshRounds,
      "resumed round count must match the uninterrupted run")
    assert(resumed.forall(_._2 == 1L), "chain must fully label to the min id")
  }

  test("connected components: finished (converged) run is served from its frontier, no recompute") {
    val ids = (1L to 8L).toDF("doc_id")
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val dir = s"$tmp/cc-noop"
    val (firstDf, firstRounds) = Dedup.nearDupClustersConverged(
      ids, "doc_id", pairs, checkpoint = CheckpointMode.Path(dir))
    val first = firstDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val before = steps(dir)
    val (againDf, againRounds) = Dedup.nearDupClustersConverged(
      ids, "doc_id", pairs, checkpoint = CheckpointMode.Path(dir),
      resume = true)
    val again = againDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(again === first)
    assert(againRounds === firstRounds,
      "a converged run must report its original round count on resume")
    assert(steps(dir) === before,
      "a converged run must not write new steps on resume")
  }

  test("BPE train: killed run resumes from the last committed merge record, bit-identical") {
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "cnt")
    val dir = s"$tmp/bpe-kill"
    // one merge committed (rep steps 1→2 + record 1; rep 1 released),
    // then death mid-round-2 (torn rep step 3, record 2 never written)
    BpeTrain.train(words, "word", "cnt", merges = 1,
      checkpoint = CheckpointMode.Path(dir)).collect()
    torn(dir, "bpe-step-3")
    val resumed = BpeTrain.train(words, "word", "cnt", merges = 3,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val fresh = BpeTrain.train(words, "word", "cnt", merges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(resumed === fresh,
      "resumed BPE merge table must be bit-identical to an uninterrupted run")
    assert(resumed.map(_._1) === Seq(1, 2, 3), "global merge ranks stay dense")
    val left = steps(dir)
    assert(Seq(1, 2, 3).forall(i => left.contains(s"bpe-rec-step-$i")),
      s"every round's record must survive as the durable output log, found $left")
    assert(!left.contains("bpe-step-2"),
      s"resumed-from rep must be released once superseded, found $left")
  }

  test("BPE train: finished run is served from its records, no recompute") {
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "cnt")
    val dir = s"$tmp/bpe-noop"
    val first = BpeTrain.train(words, "word", "cnt", merges = 2,
        checkpoint = CheckpointMode.Path(dir))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val before = steps(dir)
    val again = BpeTrain.train(words, "word", "cnt", merges = 2,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(again === first)
    assert(steps(dir) === before,
      "a finished run must not write new steps on resume")
  }

  test("batched BPE: killed run resumes with continued global merge ranks, bit-identical") {
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "cnt")
    val dir = s"$tmp/bpeb-kill"
    BpeTrain.trainBatched(words, "word", "cnt", rounds = 1, batch = 3,
      checkpoint = CheckpointMode.Path(dir)).collect()
    torn(dir, "bpeb-step-3")
    val resumed = BpeTrain.trainBatched(words, "word", "cnt",
        rounds = 3, batch = 3,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val fresh = BpeTrain.trainBatched(words, "word", "cnt",
        rounds = 3, batch = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(resumed === fresh,
      "resumed batched BPE must be bit-identical to an uninterrupted run")
    assert(resumed.map(_._1) === (1 to resumed.size),
      "global merge ranks must continue densely across the resume")
  }

  test("dir reused with a SMALLER budget: stale longer-run steps are ignored") {
    // a user reruns the same job with fewer rounds against the same
    // checkpoint dir: the longer run's frontier exceeds the request, so
    // resume must fall back to a fresh (or clamped) run and return the
    // smaller-budget answer — never the stale deeper frontier
    val nodes = ((1L to 4L) ++ (11L to 14L)).toDF("doc_id")
    val dir = s"$tmp/lpa-shrink"
    LabelProp.run(nodes, "doc_id", bridged, rounds = 4,
      checkpoint = CheckpointMode.Path(dir)).collect()
    val shrunk = LabelProp.run(nodes, "doc_id", bridged, rounds = 1,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val fresh = LabelProp.run(nodes, "doc_id", bridged, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(shrunk === fresh,
      "a smaller budget must not serve the longer run's deeper frontier")
    // same shape for BPE: records 1..3 exist, rounds = 2 requested
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "cnt")
    val bdir = s"$tmp/bpe-shrink"
    BpeTrain.train(words, "word", "cnt", merges = 3,
      checkpoint = CheckpointMode.Path(bdir)).collect()
    val small = BpeTrain.train(words, "word", "cnt", merges = 2,
        checkpoint = CheckpointMode.Path(bdir), resume = true)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val freshB = BpeTrain.train(words, "word", "cnt", merges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(small === freshB,
      "a smaller merge budget must return exactly the first-2-merges table")
    // and for the CONVERGED operator: a run that settled at round ~6
    // leaves its deep frontier; maxIters = 2 must NOT serve it — the
    // contract is "at most maxIters rounds", and a fresh 2-round run
    // returns different (unconverged) labels and round count
    val ids = (1L to 51L).toDF("doc_id")
    val chain = (1L to 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cdir = s"$tmp/cc-shrink"
    val (_, full) = Dedup.nearDupClustersConverged(ids, "doc_id", chain,
      maxIters = 20, checkpoint = CheckpointMode.Path(cdir))
    assert(full > 2, s"fixture must need > 2 rounds, took $full")
    val (shrunkDf, shrunkRounds) = Dedup.nearDupClustersConverged(
      ids, "doc_id", chain, maxIters = 2,
      checkpoint = CheckpointMode.Path(cdir), resume = true)
    val (freshDf, freshRounds) = Dedup.nearDupClustersConverged(
      ids, "doc_id", chain, maxIters = 2)
    assert(shrunkRounds === freshRounds,
      s"shrunk budget must re-run capped at 2 rounds, reported $shrunkRounds")
    assert(shrunkDf.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ===
      freshDf.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq,
      "shrunk-budget labels must equal a fresh capped run, not the deep frontier")
  }

  test("HyperBall: killed run recomputes only the missing rounds, bit-identical") {
    val nodes = (1L to 6L).toDF("id")
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    val dir = s"$tmp/hyperball-kill"
    // "driver died during round 3": steps 1 (edges) + 2..4 (balls
    // 0..2) committed — HyperBall never releases, every ball is
    // output — plus a torn step 5
    graft.graph.HyperBall.run(nodes, "id", edges, rounds = 2, m = 64,
      checkpoint = CheckpointMode.Path(dir)).collect()
    torn(dir, "hyperball-step-5")
    def series(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).sortBy(x => (x._1, x._2)).toSeq
    val resumed = series(graft.graph.HyperBall.run(nodes, "id", edges,
      rounds = 3, m = 64, checkpoint = CheckpointMode.Path(dir), resume = true))
    val fresh = series(graft.graph.HyperBall.run(nodes, "id", edges,
      rounds = 3, m = 64))
    assert(resumed === fresh,
      "resumed ball series must be bit-identical to an uninterrupted run")
    val left = steps(dir)
    assert(Seq(1, 2, 3, 4, 5).forall(s => left.contains(s"hyperball-step-$s")),
      s"every ball round is output — none may be released, found $left")
  }

  test("HyperBall: finished run is served from its committed balls, no recompute") {
    val nodes = (1L to 6L).toDF("id")
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    val dir = s"$tmp/hyperball-noop"
    val first = graft.graph.HyperBall.run(nodes, "id", edges, rounds = 2,
        m = 64, checkpoint = CheckpointMode.Path(dir))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(6)))
      .sortBy(x => (x._1, x._2)).toSeq
    val again = graft.graph.HyperBall.run(nodes, "id", edges, rounds = 2,
        m = 64, checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(6)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(again === first)
    assert(!steps(dir).exists(_.startsWith("hyperball-step-5")),
      s"a finished run must not write new steps on resume, found ${steps(dir)}")
  }

  test("personalized PageRank: killed run resumes from the last committed rank table, bit-identical") {
    import graft.graph.PageRank
    val nodes = (1L to 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val dir = s"$tmp/ppr-kill"
    // died during iteration 2: steps 1 (teleport) + 2 (adjacency) +
    // 3 (rank0) + 4 (rank after iter 1) committed, torn step 5
    PageRank.runPersonalized(nodes, edges, seeds, iters = 1,
      checkpoint = CheckpointMode.Path(dir)).collect()
    torn(dir, "ppr-step-5")
    val resumed = PageRank.runPersonalized(nodes, edges, seeds, iters = 3,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val fresh = PageRank.runPersonalized(nodes, edges, seeds, iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(resumed === fresh,
      "resumed personalized ranks must be bit-identical to an uninterrupted run")
    val left = steps(dir)
    assert(left.contains("ppr-step-6"), s"expected frontier step 6 in $left")
    assert(!left.contains("ppr-step-4"),
      s"resumed-from step must be released once superseded, found $left")
  }

  test("resume on a cold dir falls back to a fresh run") {
    val nodes = ((1L to 4L) ++ (11L to 14L)).toDF("doc_id")
    val dir = s"$tmp/lpa-cold"
    val got = LabelProp.run(nodes, "doc_id", bridged, rounds = 2,
        checkpoint = CheckpointMode.Path(dir), resume = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val fresh = LabelProp.run(nodes, "doc_id", bridged, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got === fresh, "an empty dir must behave exactly like resume = false")
  }
}
