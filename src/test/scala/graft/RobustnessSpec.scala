package graft

import graft.ann.{Knn, Quantize}
import graft.er.ErEvaluation
import graft.text.TextStats
import org.apache.spark.sql.functions._

/** Degenerate-input behavior that matters at corpus scale: empty token
  * arrays, all-zero embedding vectors, and empty gold sets must yield
  * NULL/NaN/empty results — never an ANSI DIVIDE_BY_ZERO or an NPE that
  * kills a 1000-executor job 3 hours in.
  */
class RobustnessSpec extends SparkTestBase {

  import spark.implicits._

  test("TextStats ratios are NULL (not DIVIDE_BY_ZERO) for token-less docs") {
    val df = Seq((1, "real words here"), (2, "!!! ... ---"), (3, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.text.Tokenize.tokens(col("text")).as("tokens"))
    val out = df.select(col("doc_id"),
        TextStats.englishRatio(col("tokens")).as("er"),
        TextStats.distinctRatio(col("tokens")).as("dr"),
        TextStats.avgWordLen(col("tokens")).as("awl"),
        TextStats.langId(col("tokens")).as("lang"),
        TextStats.qualityScore(col("tokens")).as("score"))
      .orderBy("doc_id").collect()
    assert(!out(0).isNullAt(1) && !out(0).isNullAt(2) && !out(0).isNullAt(3))
    Seq(1, 2).foreach { i =>
      assert(out(i).isNullAt(1), "englishRatio must be NULL for empty tokens")
      assert(out(i).isNullAt(2), "distinctRatio must be NULL for empty tokens")
      assert(out(i).isNullAt(3), "avgWordLen must be NULL for empty tokens")
      assert(out(i).getString(4) == "und")
      assert(out(i).getInt(5) == 0, "quality score of an empty doc is 0")
    }
  }

  test("kNN/near-dup skip zero-norm and NULL vectors instead of crashing") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f)), // all-zero padding vector
      (3L, Array(0.5f, 0.5f)),
      (4L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val knn = Knn.cosineKnn(emb, "vec_id", "embedding", col("vec_id") < 2, 5).collect()
    assert(knn.nonEmpty)
    assert(!knn.exists(r => r.getLong(2) == 2L || r.getLong(2) == 4L),
      "zero-norm / NULL vectors must not appear as candidates")
    val dups = Knn.nearDupPairs(emb, "vec_id", "embedding", 0.1).collect()
    assert(dups.nonEmpty)
    assert(!dups.exists(r => r.getLong(0) == 2L || r.getLong(1) == 2L))
  }

  test("quantization fidelity is NULL for all-zero vectors") {
    val emb = Seq((0L, Array(1.0f, 2.0f, 3.0f)), (1L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Quantize.fidelity(emb, "vec_id", "embedding").orderBy("vec_id").collect()
    assert(!out(0).isNullAt(2) && out(0).getDouble(2) > 0.99)
    assert(out(1).isNullAt(2), "all-zero vector reconstruction cosine must be NULL")
  }

  test("clustering degenerate inputs: empty universe, empty pairs, self-loop") {
    import graft.dedup.Dedup
    val empty = Seq.empty[Long].toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.nearDupClusters(empty, "doc_id", noPairs, 2).collect().isEmpty)
    // pairs without a universe row contribute nothing (edges dangle)
    val ids = Seq(5L).toDF("doc_id")
    val dangling = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.nearDupClusters(ids, "doc_id", dangling, 2).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ===
      Seq((5L, 5L, true)))
    // a self-loop pair must not break the keep flag
    val selfLoop = Seq((5L, 5L)).toDF("id_a", "id_b")
    val out2 = Dedup.nearDupClusters(ids, "doc_id", selfLoop, 2).collect()
    assert(out2.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ===
      Seq((5L, 5L, true)))
  }

  test("ppmDecoder rejects non-PPM bytes instead of fabricating dimensions") {
    import graft.multimodal.Multimodal
    intercept[Exception](Multimodal.ppmDecoder(Array.empty[Byte]))
    intercept[Exception](Multimodal.ppmDecoder("JFIF not a ppm".getBytes("US-ASCII")))
    intercept[Exception](Multimodal.ppmDecoder("P6\n2".getBytes("US-ASCII")))
    // malformed dimensions must fail loudly, not return garbage: a
    // negative dim (or an Int-overflowing w*h*3) would otherwise skip
    // both the truncation check and the sum loop
    intercept[IllegalArgumentException](
      Multimodal.ppmDecoder("P3\n-2 3\n255\n0".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](
      Multimodal.ppmDecoder("P3\n100000 100000\n255\n0".getBytes("US-ASCII")))
  }

  test("reserved internal column names are rejected with a clear message") {
    import org.apache.spark.sql.functions.lit
    val base = Seq((1L, 10L)).toDF("k", "v")
    intercept[IllegalArgumentException](graft.operators.SaltedJoin.saltedEquiJoin(
      base.withColumn("_salt", lit(0)), base, "k", 4))
    intercept[IllegalArgumentException](graft.operators.SaltedJoin.saltedCollectSet(
      base.withColumn("_partial", lit(0)), "k", "v", 4))
    val ts = Seq((1L, 5L, 7L)).toDF("k", "t", "_asof_ts")
    intercept[IllegalArgumentException](graft.operators.AsOfJoin.asOf(
      ts.select("k", "t"), ts, Seq("k"), "t", "_asof_ts", Seq("_asof_ts")))
    val side = Seq((1L, 5L, 7L)).toDF("k", "t", "_side")
    intercept[IllegalArgumentException](graft.operators.AsOfJoin.asOf(
      side, side, Seq("k"), "t", "t", Seq("t")))
  }

  test("saltedEquiJoin works on a self-join of the same base plan") {
    // both sides deriving from one plan is the realistic skew self-join;
    // the join condition must reference the renamed right frame, not the
    // pre-rename one (which trips ambiguous-self-join detection)
    val base = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("k", "v")
    val got = graft.operators.SaltedJoin.saltedEquiJoin(base, base, "k", 4)
    assert(got.count() === 5) // 2*2 for k=1 plus 1 for k=2
  }

  test("streaming retrieval edges: empty codebook rejected, zero-norm queries dropped") {
    import graft.streaming.VectorStreams
    import org.apache.spark.sql.functions._
    intercept[IllegalArgumentException](
      VectorStreams.bucketExpr(col("v"), col("n"), Seq.empty))
    // retrieveStream is a pure transformation — on a batch frame the
    // watermark is a no-op, so the zero-norm drop is testable directly
    val corpus = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val (index, codebook) = VectorStreams.buildIndex(
      corpus, "vec_id", "embedding", col("vec_id") === 1L)
    val queries = Seq(
      (new java.sql.Timestamp(0L), 100L, Array(1.0f, 1.0f)),
      (new java.sql.Timestamp(0L), 200L, Array(0.0f, 0.0f))  // zero norm
    ).toDF("ts", "q_id", "q_vec")
    val got = VectorStreams.retrieveStream(queries, index, codebook, k = 1)
      .select("q_id").as[Long].collect().toSet
    assert(got === Set(100L), "the zero-norm query must be dropped, not crash ANSI division")
    // a codebook whose centroid collapsed to zero norm is filtered at build
    val zc = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val (_, cb2) = VectorStreams.buildIndex(zc, "vec_id", "embedding",
      col("vec_id").isin(1L, 2L))
    assert(cb2.map(_.id) === Seq(1L))
  }

  test("compression ratio separates repetitive from high-entropy text; empty is NULL") {
    import graft.text.TextStats
    val docs = Seq(
      (1L, "spam " * 2000),                                    // degenerate repetition
      (2L, (0 until 4000).map(i => (i * 2654435761L).toHexString).mkString(" ")), // high entropy
      (3L, "")                                                 // empty → NULL ratio
    ).toDF("doc_id", "text")
    val got = TextStats.compressionRatio(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(1L)._2.get < 0.05, s"repetition must compress hard, got ${got(1L)._2}")
    assert(got(2L)._2.get > 0.5, s"entropy must resist compression, got ${got(2L)._2}")
    assert(got(3L)._1 === 0 && got(3L)._2.isEmpty,
      "empty doc must yield NULL ratio, not divide by zero")
    // deterministic across runs (one Deflater per partition, reset per row)
    val again = TextStats.compressionRatio(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(again(1L) === got(1L)._2 && again(2L) === got(2L)._2)
  }

  test("evaluateModel returns NaN means (not NPE) when no pair is gold") {
    val sims = Seq(("a", "b", 0.5), ("c", "d", 0.3)).toDF("id_a", "id_b", "sim")
    val gold = Seq(("x", "y")).toDF("id_a", "id_b")
    val (dups, avgDup, avgNon) = ErEvaluation.evaluateModel(sims, gold)
    assert(dups == 0L)
    assert(avgDup.isNaN)
    assert(math.abs(avgNon - 0.4) < 1e-12)

    // the all-gold mirror case: no non-duplicates
    val allGold = Seq(("a", "b"), ("c", "d")).toDF("id_a", "id_b")
    val (d2, a2, n2) = ErEvaluation.evaluateModel(sims, allGold)
    assert(d2 == 2L && !a2.isNaN && n2.isNaN)
  }

  test("NaiveBayes degenerate inputs: empty train/test yield empty, not errors") {
    val train = Seq((0L, "en", Seq("hello", "world"))).toDF("doc_id", "lang", "tokens")
    val test = Seq((1L, "", Seq("hello"))).toDF("doc_id", "lang", "tokens")
    val noTrain = train.where(col("doc_id") < 0)
    val noTest = test.where(col("doc_id") < 0)
    import graft.text.NaiveBayes
    assert(NaiveBayes.predict(noTrain, test, "lang", "tokens", "doc_id").count() === 0)
    assert(NaiveBayes.predict(train, noTest, "lang", "tokens", "doc_id").count() === 0)
    // a test doc with an empty token array scores nothing (no evidence rows)
    val emptyToks = Seq((2L, "", Seq.empty[String])).toDF("doc_id", "lang", "tokens")
    assert(NaiveBayes.predict(train, emptyToks, "lang", "tokens", "doc_id").count() === 0)
  }

  test("mergeSpans of no hits is empty; BudgetSelect of an empty corpus selects nothing") {
    val noHits = Seq.empty[(Long, Int)].toDF("doc_id", "pos")
    assert(graft.dedup.Dedup.mergeSpans(noHits, 3).count() === 0)
    val empty = Seq.empty[(Long, Long, Double)].toDF("id", "w", "score")
    val b = spark.range(1).select(lit(100L).as("budget"))
    assert(graft.text.BudgetSelect
      .selectByBudget(empty, "id", "w", "score", b).count() === 0)
  }

  test("SemDeDup survives zero-norm vectors and never drops or pairs them") {
    // an all-zero embedding (failed-encode sentinel) divides by zero in
    // cosine under ANSI — it must be filtered before any pairing or
    // assignment, not crash the job or appear in the drop list
    val pts = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.01f)),
      (2L, Array(0.0f, 0.0f))                         // zero-norm sentinel
    ).toDF("vec_id", "embedding")
    val dropped = Knn.semanticDedupDropped(pts, "vec_id", "embedding",
        col("vec_id") === 0L, iters = 1, threshold = 0.9)
      .as[(Long, Long)].collect().toSeq
    assert(dropped === Seq((0L, 1L)))                 // 1 near-dups 0; 2 invisible
    // an empty corpus yields an empty drop list, not an error
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Knn.semanticDedupDropped(none, "vec_id", "embedding",
      col("vec_id") === 0L, iters = 1, threshold = 0.9).count() === 0)
  }

  test("containment of sub-bigram docs is empty, not a division error") {
    // 1-token and empty docs have zero bigrams: they must produce no
    // pairs (their |A| denominator never evaluates), and docs pairing
    // WITH them must not error either
    val d = Seq(
      (1L, Seq("solo")), (2L, Seq.empty[String]),
      (3L, Seq("big", "data")), (4L, Seq("big", "data", "spark"))
    ).toDF("doc_id", "tokens")
    val pairs = graft.dedup.Dedup.shingleContainmentPairs(d, "doc_id", "tokens",
        num = 0, den = 1).as[(Long, Long, Double)].collect().sorted
    assert(pairs === Seq((3L, 4L, 1.0), (4L, 3L, 0.5)))
  }

  test("round-7 operators on empty/degenerate inputs: empty results, never errors") {
    val emptyBaskets = spark.emptyDataset[(Long, Long)].toDF("basket", "item")
    assert(graft.operators.Cooccur.itemCosine(
      emptyBaskets, "basket", "item", 8, 1L).count() === 0L)
    // null baskets/items are dropped, not paired
    val nullish = spark.sql(
      "SELECT * FROM VALUES (CAST(NULL AS BIGINT), 1L), (1L, CAST(NULL AS BIGINT)) t(basket, item)")
    assert(graft.operators.Cooccur.itemCosine(
      nullish, "basket", "item", 8, 1L).count() === 0L)

    val emptyStr = spark.emptyDataset[(Long, String)].toDF("id", "name")
    val probes = Seq((1L, "abc")).toDF("id", "name")
    val blk = (c: org.apache.spark.sql.Column) => substring(c, 1, 1)
    // empty catalog: every probe reports zero band-mates, null best
    val noCat = graft.er.FuzzyJoin.bestMatch(probes, emptyStr, "id", "name",
      blk, maxDist = 2).collect()
    assert(noCat.length === 1 && noCat.head.getLong(2) === 0L && noCat.head.isNullAt(3))
    // empty probes: empty result
    assert(graft.er.FuzzyJoin.bestMatch(emptyStr, probes, "id", "name",
      blk, maxDist = 2).count() === 0L)

    val emptyQi = spark.emptyDataset[(String, Long)].toDF("seg", "band")
    assert(graft.operators.KAnonymity.ladder(emptyQi,
      Seq(col("seg"), col("band")), k = 5).count() === 0L)

    assert(graft.operators.KsTest.perGroupVsRest(
      spark.emptyDataset[(String, Long)].toDF("g", "v"), "g", "v").count() === 0L)

    assert(graft.operators.IntervalUnion.coverage(
      spark.emptyDataset[(Long, Long, Long, Long)].toDF("k", "st", "en", "id"),
      "k", "st", "en", "id").count() === 0L)

    assert(graft.operators.Compaction.latest(
      spark.emptyDataset[(Long, Long, Long, String, Double)]
        .toDF("k", "ts", "seq", "op", "v"),
      Seq("k"), "ts", Seq("seq"), Seq("v"), col("op") === "delete")
      .count() === 0L)

    // walks over an empty edge set: every walk is just its start row
    val starts = Seq(1L, 2L).toDF("n")
    val walkRows = graft.graph.RandomWalk.walks(
      spark.emptyDataset[(Long, Long)].toDF("src", "dst"), "src", "dst",
      starts, "n", walksPerNode = 2, steps = 3).collect()
    assert(walkRows.length === 4 && walkRows.forall(_.getInt(1) === 0))
    assert(graft.graph.RandomWalk.skipGramPairs(
      spark.emptyDataset[(String, Int, Long)].toDF("walk_id", "step", "node"),
      window = 2).count() === 0L)
  }

  test("PQ degenerate inputs: constant vectors quantize cleanly; empty probe set is empty") {
    // all-identical vectors: one seed centroid captures everything, the
    // other goes empty and is dropped — codes still cover every vector
    val const = (0L until 6L).map(i => (i, Seq(2f, 2f, 2f, 2f))).toDF("vid", "vec")
    val cb = graft.ann.Pq.trainCodebooks(const, "vid", "vec", m = 2,
      seedPred = col("vid") < 2, iters = 2)
    val codes = graft.ann.Pq.assign(
      graft.ann.Pq.subvectors(const, "vid", "vec", 2), cb)
    assert(codes.count() === 12L)
    assert(codes.where(col("d2") =!= 0.0).count() === 0L,
      "identical vectors must reconstruct exactly")
    // empty probe set → empty ADC result, not an error
    val noProbes = graft.ann.Pq.adcTopK(
      const.where(col("vid") < 0), "vid", "vec", codes, cb, m = 2, k = 3)
    assert(noProbes.count() === 0L)
  }

  test("RobustStats on empty and single-row counters: defined, never a div error") {
    val empty = Seq.empty[(String, Double, Long)].toDF("g", "v", "cnt")
    assert(graft.operators.RobustStats.madOutliers(empty, Seq("g"), "v", "cnt")
      .count() === 0L)
    val one = Seq(("a", 7.0, 1L)).toDF("g", "v", "cnt")
    val r = graft.operators.RobustStats.madOutliers(one, Seq("g"), "v", "cnt")
      .collect().head
    assert(r.getDouble(2) === 7.0 && r.getDouble(3) === 0.0 && r.getLong(4) === 0L)
  }

  test("LinkPredict on an empty or test-free edge set: empty/NULL report, no crash") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val rep = graft.graph.LinkPredict.evalReport(empty, "a", "b").collect()
    assert(rep.length === 1)
    assert(rep.head.getLong(0) === 0L, "n_test must be 0")
    assert(rep.head.isNullAt(5), "cn_recall must be NULL when nothing is held out")
  }

  test("Pca on an empty relation: empty eigen output, not a crash") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val cov = graft.ann.Pca.covariance(empty, "embedding", d = 4)
    assert(cov.count() === 0L)
    assert(graft.ann.Pca.leadingEigen(spark, cov, d = 4, iters = 2).count() === 0L)
  }

  test("Psi with an empty side: all terms one-sided, psi 0, full mass reported") {
    val rows = graft.operators.Psi.fromCounters(
      Seq((0L, 5L, 0L), (1L, 3L, 0L)).toDF("b", "r", "c"), "b", "r", "c")
      .collect()
    assert(rows.forall(_.isNullAt(3)), "no bin has two-sided support")
    assert(rows.forall(r => r.getDouble(4) === 0.0 && r.getLong(5) === 8L))
  }

  test("index lifecycle degenerate edges: delete of absent ids, delete-all, compact of empty") {
    import graft.ann.IvfIndex
    val dir = freshDir("rb_idx")
    val vecs = (0L until 12L).map(i =>
      (i, Array.tabulate(4)(d => (i % 3 + d).toFloat + 1f))).toDF("vec_id", "embedding")
    IvfIndex.build(vecs, "vec_id", "embedding", col("vec_id") % 6 === 0,
      iters = 1, dir)
    // deleting ids that are not in the index is harmless
    IvfIndex.delete(Seq(999L, 1000L).toDF("vec_id"), dir)
    assert(IvfIndex.assignments(spark, dir).get.count() === 12L)
    // delete EVERYTHING, compact the now-empty index: empty live
    // relation, dials intact, maintenance continues
    IvfIndex.delete(vecs.select("vec_id"), dir)
    assert(IvfIndex.assignments(spark, dir).get.count() === 0L)
    IvfIndex.compact(spark, dir)
    assert(IvfIndex.assignments(spark, dir).get.count() === 0L,
      "compacting an all-tombstoned index yields an empty live relation")
    assert(IvfIndex.centroids(spark, dir).nonEmpty,
      "the dial tables must survive an empty compaction")
    IvfIndex.refresh(vecs.where(col("vec_id") < 3), "vec_id", "embedding",
      dir, "back")
    assert(IvfIndex.assignments(spark, dir).get.count() === 3L,
      "refresh must still work against the empty compacted base")
  }

  test("ExactSubstr degenerate edges: all-short docs, empty delta, full retraction") {
    import graft.dedup.ExactSubstr
    val dir = freshDir("rb_es")
    val short = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]))
      .toDF("doc_id", "tokens")
    // no doc reaches L=4: the base commits an EMPTY count table and
    // every read stays defined
    ExactSubstr.build(short, "doc_id", "tokens", L = 4, dir)
    assert(ExactSubstr.storedL(spark, dir) === 4)
    assert(ExactSubstr.hashCounts(spark, dir).get.count() === 0L)
    assert(ExactSubstr.spans(short, "doc_id", "tokens", 4,
      ExactSubstr.dupHashes(spark, dir)).count() === 0L)
    // an empty delta refresh commits harmlessly
    ExactSubstr.refresh(short.where(col("doc_id") < 0), "doc_id", "tokens",
      dir, "quiet")
    assert(ExactSubstr.hashCounts(spark, dir).get.count() === 0L)
    // add real docs, then retract them ALL: counts net to zero and are
    // physically dropped at compaction
    val real = Seq((9L, Seq("x", "y", "z", "w", "x", "y", "z", "w")))
      .toDF("doc_id", "tokens")
    ExactSubstr.refresh(real, "doc_id", "tokens", dir, "r1")
    assert(ExactSubstr.dupHashes(spark, dir).count() >= 1L)
    ExactSubstr.retract(real, "doc_id", "tokens", dir, "rm1")
    assert(ExactSubstr.hashCounts(spark, dir).get.count() === 0L,
      "a full retraction must zero every count")
    ExactSubstr.compact(spark, dir)
    assert(ExactSubstr.hashCounts(spark, dir).get.count() === 0L)
    assert(ExactSubstr.storedL(spark, dir) === 4)
  }

  test("ClusterState degenerate edges: pairless build, delete-everything, drop-only compact, rebuild resets") {
    import graft.dedup.ClusterState
    val dir = freshDir("rb_cs")
    def ids(xs: Long*) = xs.toDF("id")
    def pairs(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
    // a pairless build: every doc a singleton
    ClusterState.build(ids(1L, 2L, 3L), "id", pairs(), dir)
    assert(ClusterState.labels(spark, dir).get
      .as[(Long, Long)].collect().toMap === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // delete EVERYTHING: empty live table, state still serviceable
    ClusterState.delete(ids(1L, 2L, 3L), dir, "all")
    assert(ClusterState.labels(spark, dir).get.count() === 0L)
    assert(ClusterState.liveEdges(spark, dir).get.count() === 0L)
    // compact a horizon that is ONLY drops; maintenance continues
    ClusterState.compact(spark, dir)
    ClusterState.gc(spark, dir)
    assert(ClusterState.labels(spark, dir).get.count() === 0L)
    ClusterState.refresh(ids(9L, 10L), "id", pairs((9L, 10L)), dir, "b1")
    assert(ClusterState.labels(spark, dir).get
      .as[(Long, Long)].collect().toMap === Map(9L -> 9L, 10L -> 9L))
    // a full rebuild resets the replay guard: b1 re-delivers
    ClusterState.build(ids(9L, 10L), "id", pairs(), dir)
    ClusterState.refresh(ids(20L), "id", pairs((20L, 9L)), dir, "b1")
    assert(ClusterState.labels(spark, dir).get
      .as[(Long, Long)].collect().toMap === Map(9L -> 9L, 10L -> 10L, 20L -> 9L),
      "post-rebuild the old delta id is a genuinely new batch")
  }

  test("multibyte delta ids: round-trip the replay guard whole; over-long ids are rejected, never truncated") {
    import graft.ann.IvfIndex
    val dir = freshDir("rb_mb")
    val vecs = (0L until 8L).map(i =>
      (i, Array.tabulate(4)(d => (i % 3 + d).toFloat + 1f))).toDF("vec_id", "embedding")
    IvfIndex.build(vecs.where(col("vec_id") < 5), "vec_id", "embedding",
      col("vec_id") % 4 === 0, iters = 1, dir)
    // 60 CJK chars = 180 UTF-8 bytes — legal, and must match on replay
    // byte-for-byte (a truncated marker read would never match)
    val cjk = "批" * 60
    val v1 = IvfIndex.refresh(vecs.where(col("vec_id") >= 5), "vec_id",
      "embedding", dir, deltaId = cjk)
    assert(IvfIndex.refresh(vecs.where(col("vec_id") >= 5), "vec_id",
      "embedding", dir, deltaId = cjk) === v1,
      "a multibyte id must replay as a no-op — the marker holds it whole")
    assert(IvfIndex.assignments(spark, dir).get.count() === 8L)
    // 80 CJK chars = 240 bytes: under the old 200-CHAR check, over the
    // byte bound — must be REJECTED loudly, not written-then-truncated
    val e = intercept[IllegalArgumentException] {
      IvfIndex.refresh(vecs.where(col("vec_id") >= 5), "vec_id",
        "embedding", dir, deltaId = "批" * 80)
    }
    assert(e.getMessage.contains("UTF-8 bytes"))
  }
}
