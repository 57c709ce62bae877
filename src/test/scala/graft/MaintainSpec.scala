package graft

import graft.ann.IvfIndex
import graft.dedup.{ClusterState, ExactSubstr}
import graft.text.Bm25State
import graft.operators.{GateVerdict, VersionedState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `maintain()` — the runbook as code: N batches through one entry
  * point keep the read horizon's marker count ≤ the dial (compaction
  * fires itself), replays are reported rather than re-applied, and the
  * audit gates trip with the runbook's TYPED distinction — drift is
  * Corruption (state lost/duplicated), fit/recall is BuildNeeded
  * (distribution moved; schedule a retrain).
  */
class MaintainSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(ids: Range, dir3: Int => Int = _ % 3): DataFrame =
    ids.map { i =>
      val d3 = dir3(i)
      val base = Array.tabulate(8)(d => ((d3 * 17 + d * 7 + i % 5).toFloat % 11f) + 1f)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")

  test("IVF maintain: N batches keep liveMarkers ≤ dial; replay reported; healthy gates") {
    val dir = freshDir("ivf")
    IvfIndex.build(vecs(0 until 40), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 2, dir)
    var maxSeen = 0
    for (b <- 0 until 10) {
      val r = IvfIndex.maintain(vecs(40 + 5 * b until 45 + 5 * b),
        "vec_id", "embedding", dir, deltaId = s"b$b", maxLiveMarkers = 4)
      assert(!r.replayed)
      maxSeen = math.max(maxSeen, r.liveMarkers)
      assert(r.liveMarkers <= 5,
        s"horizon must stay bounded by the dial (got ${r.liveMarkers})")
    }
    assert(maxSeen >= 2, "refreshes must actually append markers")
    assert(IvfIndex.assignments(spark, dir).get.count() === 90L)
    // a crash-replayed batch id: reported, not re-applied
    val r = IvfIndex.maintain(vecs(85 until 90), "vec_id", "embedding",
      dir, deltaId = "b9", maxLiveMarkers = 4)
    assert(r.replayed)
    assert(IvfIndex.assignments(spark, dir).get.count() === 90L)
    // healthy audit: all three gates Ok on an undisturbed state
    val audited = IvfIndex.maintain(vecs(90 until 95), "vec_id", "embedding",
      dir, deltaId = "b10", maxLiveMarkers = 99,
      audit = Some(IvfIndex.Audit(vecs(0 until 95),
        col("vec_id") % 10 === 0, iters = 2,
        queryPred = col("vec_id") < 8)))
    assert(audited.gates.map(_.gate) === Seq("drift", "fit", "recall"))
    assert(audited.healthy, s"healthy state must pass: ${audited.gates}")
    assert(!audited.corrupted && !audited.buildNeeded)
    // the audit row's raw numbers ride in `measured`
    assert(audited.measured("drift") === 0.0)
    assert(audited.measured("n_live") === 95.0)
    assert(audited.measured("n_live") === audited.measured("n_one_shot"))
  }

  test("IVF maintain: an id-less replay trips the DRIFT gate as Corruption") {
    val dir = freshDir("drift")
    IvfIndex.build(vecs(0 until 30), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    // the at-least-once footgun: the same batch delivered twice WITHOUT
    // a delta id — duplicated segment rows
    IvfIndex.refresh(vecs(30 until 35), "vec_id", "embedding", dir)
    IvfIndex.refresh(vecs(30 until 35), "vec_id", "embedding", dir)
    val r = IvfIndex.maintain(vecs(35 until 40), "vec_id", "embedding",
      dir, deltaId = "b1", maxLiveMarkers = 99,
      audit = Some(IvfIndex.Audit(vecs(0 until 40),
        col("vec_id") % 10 === 0, iters = 1,
        queryPred = col("vec_id") < 5)))
    assert(r.corrupted, s"duplicated rows must surface as Corruption: ${r.gates}")
    val d = r.gates.find(_.gate === "drift").get
    assert(d.isInstanceOf[GateVerdict.Corruption])
    assert(d.detail.contains("replay"),
      "the verdict must point the operator at replay discipline")
    assert(r.measured("n_live") > r.measured("n_one_shot"),
      "the duplicated segment shows in the audit row's counts")
  }

  test("IVF maintain: a drifted delta distribution trips the FIT gate as BuildNeeded") {
    val dir = freshDir("fit")
    // history lives in ONE direction; seeds (and thus centroids) too
    IvfIndex.build(vecs(0 until 30, _ => 0), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 2, dir)
    // the delta arrives from two NEW directions the frozen centroids
    // never saw — a retrain fits it far better
    val delta = vecs(30 until 90, i => 1 + i % 2)
    val r = IvfIndex.maintain(delta, "vec_id", "embedding", dir,
      deltaId = "b1", maxLiveMarkers = 99,
      audit = Some(IvfIndex.Audit(
        vecs(0 until 30, _ => 0).unionByName(delta),
        col("vec_id") % 10 === 0, iters = 2,
        queryPred = col("vec_id") < 5, fitSlackMicro = 100)))
    val f = r.gates.find(_.gate === "fit").get
    assert(f.isInstanceOf[GateVerdict.BuildNeeded],
      s"a drifted distribution must surface as BuildNeeded, got $f")
    assert(r.buildNeeded && !r.corrupted,
      "fit drift is a retrain signal, NEVER corruption")
  }

  test("ExactSubstr maintain: marker dial + drift gate (clean ≡, id-less replay trips)") {
    val dir = freshDir("es")
    def docs(rows: (Long, String)*): DataFrame =
      rows.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
    val hist = docs(1L -> "a b x y z w c d", 2L -> "p q r p q r p q")
    ExactSubstr.build(hist, "doc_id", "tokens", L = 4, dir)
    var corpus = hist
    for (b <- 0 until 6) {
      val d = docs((10L + b) -> s"m n o$b p m n o$b p")
      corpus = corpus.unionByName(d)
      val r = ExactSubstr.maintain(d, "doc_id", "tokens", dir,
        deltaId = s"b$b", maxLiveMarkers = 3,
        auditCorpus = Some(corpus))
      assert(r.liveMarkers <= 4)
      assert(r.healthy, s"clean maintenance must pass the recount: ${r.gates}")
    }
    // the footgun: one batch delivered twice WITHOUT an id
    val dup = docs(99L -> "z z y y z z y y")
    ExactSubstr.refresh(dup, "doc_id", "tokens", dir)
    ExactSubstr.refresh(dup, "doc_id", "tokens", dir)
    corpus = corpus.unionByName(dup)
    val r = ExactSubstr.maintain(docs(100L -> "f g h i f g h i"),
      "doc_id", "tokens", dir, deltaId = "b9", maxLiveMarkers = 99,
      auditCorpus = Some(corpus.unionByName(
        docs(100L -> "f g h i f g h i"))))
    assert(r.corrupted, s"double counts must surface as Corruption: ${r.gates}")
  }

  test("PqIndex maintain: marker dial + three typed gates; id-less replay trips drift") {
    import graft.ann.PqIndex
    val dir = freshDir("pq")
    PqIndex.build(vecs(0 until 30), "vec_id", "embedding", m = 2,
      col("vec_id") < 8, iters = 2, dir)
    for (b <- 0 until 6) {
      val r = PqIndex.maintain(vecs(30 + 5 * b until 35 + 5 * b),
        "vec_id", "embedding", dir, deltaId = s"b$b", maxLiveMarkers = 3)
      assert(r.liveMarkers <= 4)
      assert(!r.replayed)
    }
    val audited = PqIndex.maintain(vecs(60 until 65), "vec_id", "embedding",
      dir, deltaId = "b9", maxLiveMarkers = 99,
      audit = Some(PqIndex.Audit(vecs(0 until 65), col("vec_id") < 8,
        iters = 2, queryPred = col("vec_id") < 5)))
    assert(audited.gates.map(_.gate) === Seq("drift", "fit", "recall"))
    assert(audited.healthy, s"healthy state must pass: ${audited.gates}")
    // the at-least-once footgun: id-less double delivery
    PqIndex.refresh(vecs(65 until 70), "vec_id", "embedding", dir)
    PqIndex.refresh(vecs(65 until 70), "vec_id", "embedding", dir)
    val r = PqIndex.maintain(vecs(70 until 72), "vec_id", "embedding",
      dir, deltaId = "b10", maxLiveMarkers = 99,
      audit = Some(PqIndex.Audit(vecs(0 until 72), col("vec_id") < 8,
        iters = 2, queryPred = col("vec_id") < 5)))
    assert(r.corrupted, s"duplicated code rows must trip drift: ${r.gates}")
  }

  private def coarse: DataFrame = Seq(
      (0L, Array.tabulate(8)(d => (d * 7 % 11).toFloat + 1f)),
      (1L, Array.tabulate(8)(d => (17 + d * 7 % 11).toFloat % 11f + 1f)))
    .toDF("bid", "bvec")

  test("IvfPqIndex maintain: three typed gates healthy on an undisturbed composed index") {
    import graft.ann.IvfPqIndex
    val dir = freshDir("ivfpq")
    IvfPqIndex.build(vecs(0 until 30), "vec_id", "embedding", coarse,
      m = 2, col("id") < 8, iters = 2, dir)
    val r = IvfPqIndex.maintain(vecs(30 until 40), "vec_id", "embedding",
      dir, deltaId = "b1", maxLiveMarkers = 99,
      audit = Some(IvfPqIndex.Audit(vecs(0 until 40), col("id") < 8,
        iters = 2, queryPred = col("vec_id") < 5)))
    assert(r.gates.map(_.gate) === Seq("drift", "fit", "recall"))
    assert(r.healthy, s"healthy composed index must pass: ${r.gates}")
    assert(!r.compacted && r.liveMarkers === 2)
  }

  test("IvfPqIndex maintain: an id-less replay trips the DRIFT gate as Corruption") {
    import graft.ann.IvfPqIndex
    val dir = freshDir("ivfpqdrift")
    IvfPqIndex.build(vecs(0 until 30), "vec_id", "embedding", coarse,
      m = 2, col("id") < 8, iters = 1, dir)
    // the same batch delivered twice WITHOUT a delta id
    IvfPqIndex.refresh(vecs(30 until 35), "vec_id", "embedding", dir)
    IvfPqIndex.refresh(vecs(30 until 35), "vec_id", "embedding", dir)
    val r = IvfPqIndex.maintain(vecs(35 until 40), "vec_id", "embedding",
      dir, deltaId = "b1", maxLiveMarkers = 99,
      audit = Some(IvfPqIndex.Audit(vecs(0 until 40), col("id") < 8,
        iters = 1, queryPred = col("vec_id") < 5)))
    val d = r.gates.find(_.gate === "drift").get
    assert(d.isInstanceOf[GateVerdict.Corruption],
      s"duplicated code rows must surface as Corruption: ${r.gates}")
    assert(d.detail.contains("replay"),
      "the verdict must point the operator at replay discipline")
    assert(r.measured("n_live") > r.measured("n_one_shot"))
  }

  test("streaming ingest drives maintain(): foreachBatch batchId as the delta id, restart-replay a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = freshDir("stream")
    IvfIndex.build(vecs(0 until 20), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    val reports =
      new java.util.concurrent.ConcurrentLinkedQueue[
        graft.operators.MaintainReport]()
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        // the Structured Streaming replay contract: on restart the last
        // batch may re-deliver with the SAME batch id — maintain's
        // guard makes it a no-op instead of a duplicate segment
        reports.add(IvfIndex.maintain(batch, "vec_id", "embedding", dir,
          deltaId = s"sb$bid", maxLiveMarkers = 3)): Unit
      }
      .start()
    try {
      def rows(r: Range) = r.map { i =>
        (i.toLong, Array.tabulate(8)(d => ((i % 3) * 17 + d * 7 + i % 5)
          .toFloat % 11f + 1f))
      }
      for (b <- 0 until 5) {
        input.addData(rows(20 + 4 * b until 24 + 4 * b): _*)
        q.processAllAvailable()
      }
      assert(IvfIndex.assignments(spark, dir).get.count() === 40L)
      import scala.jdk.CollectionConverters._
      val rs = reports.asScala.toVector
      assert(rs.forall(_.liveMarkers <= 4), "the dial holds under the stream")
      assert(rs.exists(_.compacted), "the stream's cadence must trip a compact")
      // simulated restart replay: re-deliver the LAST batch id manually
      val replay = IvfIndex.maintain(
        rows(36 until 40).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir, deltaId = s"sb4", maxLiveMarkers = 3)
      assert(replay.replayed, "the re-delivered batch id must be recognized")
      assert(IvfIndex.assignments(spark, dir).get.count() === 40L,
        "replay must not duplicate rows — even across the compaction above")
    } finally q.stop()
  }

  test("streaming ingest drives Bm25State.maintain(): batchId as the delta id, dial holds, restart-replay a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = freshDir("bm")
    def toks(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
    Bm25State.build(toks(0L -> "x y z", 1L -> "x q r"), "doc_id", "tokens", dir)
    val reports =
      new java.util.concurrent.ConcurrentLinkedQueue[
        graft.operators.MaintainReport]()
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        reports.add(Bm25State.maintain(batch, "doc_id", "tokens", dir,
          deltaId = s"sb$bid", maxLiveMarkers = 3)): Unit
      }
      .start()
    try {
      for (b <- 0 until 5) {
        input.addData((10L + b, s"x w$b"))
        q.processAllAvailable()
      }
      assert(Bm25State.liveDocLens(spark, dir).get.count() === 7L)
      import scala.jdk.CollectionConverters._
      val rs = reports.asScala.toVector
      assert(rs.forall(_.liveMarkers <= 4), "the dial holds under the stream")
      assert(rs.exists(_.compacted), "the stream's cadence must trip a compact")
      // simulated restart replay: the LAST batch id re-delivers
      val replay = Bm25State.maintain(toks(14L -> "x w4"), "doc_id",
        "tokens", dir, deltaId = "sb4", maxLiveMarkers = 3)
      assert(replay.replayed, "the re-delivered batch id must be recognized")
      assert(Bm25State.liveDocLens(spark, dir).get.count() === 7L,
        "replay must not double counts — even across the compaction above")
    } finally q.stop()
  }

  test("BandedIndex maintain: marker dial + drift gate over the re-banding identity") {
    import graft.dedup.BandedIndex
    val dir = freshDir("bi")
    def docs(rows: (Long, String)*): DataFrame =
      rows.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
    var corpus = docs(1L -> "a b c d e", 2L -> "a b c d e")
    BandedIndex.build(corpus, "doc_id", "tokens", dir)
    for (b <- 0 until 5) {
      val d = docs((10L + b) -> s"p$b q$b r$b s$b t$b")
      corpus = corpus.unionByName(d)
      val r = BandedIndex.maintain(d, "doc_id", "tokens", dir,
        deltaId = s"b$b", maxLiveMarkers = 3, auditCorpus = Some(corpus))
      assert(r.liveMarkers <= 4)
      assert(r.healthy, s"clean maintenance must pass the re-band gate: ${r.gates}")
    }
    // a crash-replayed batch id: reported, not re-applied
    val replay = BandedIndex.maintain(docs(14L -> "p4 q4 r4 s4 t4"),
      "doc_id", "tokens", dir, deltaId = "b4", maxLiveMarkers = 3)
    assert(replay.replayed)
  }

  test("streaming ingest drives BandedIndex.maintain(): batchId as the delta id, dial holds, restart-replay a no-op") {
    import graft.dedup.BandedIndex
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = freshDir("bistream")
    def toks(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
    BandedIndex.build(toks(0L -> "a b c d e", 1L -> "p q r s t"),
      "doc_id", "tokens", dir)
    val reports =
      new java.util.concurrent.ConcurrentLinkedQueue[
        graft.operators.MaintainReport]()
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        reports.add(BandedIndex.maintain(batch, "doc_id", "tokens", dir,
          deltaId = s"sb$bid", maxLiveMarkers = 3)): Unit
      }
      .start()
    try {
      for (b <- 0 until 5) {
        input.addData((10L + b, s"w$b x$b y$b z$b v$b"))
        q.processAllAvailable()
      }
      assert(BandedIndex.liveBands(spark, dir).get
        .select("id").distinct().count() === 7L)
      import scala.jdk.CollectionConverters._
      val rs = reports.asScala.toVector
      assert(rs.forall(_.liveMarkers <= 4), "the dial holds under the stream")
      assert(rs.exists(_.compacted), "the stream's cadence must trip a compact")
      // simulated restart replay: the LAST batch id re-delivers
      val replay = BandedIndex.maintain(toks(14L -> "w4 x4 y4 z4 v4"),
        "doc_id", "tokens", dir, deltaId = "sb4", maxLiveMarkers = 3)
      assert(replay.replayed, "the re-delivered batch id must be recognized")
      assert(BandedIndex.liveBands(spark, dir).get.count() === 28L,
        "replay must not duplicate band rows — even across the compaction above")
    } finally q.stop()
  }

  test("streaming ingest drives the SRP (embedding) BandedIndex: batchId as delta id, dims holds, restart-replay a no-op") {
    import graft.dedup.BandedIndex
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = freshDir("srpstream")
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    BandedIndex.build(vecs(0L -> Seq(1f, 2f, -1f, 0.5f),
        1L -> Seq(-2f, 1f, 3f, -1f)),
      "vec_id", "embedding", dir, nBands = 4, rowsPerBand = 2, dims = 4)
    val reports =
      new java.util.concurrent.ConcurrentLinkedQueue[
        graft.operators.MaintainReport]()
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        reports.add(BandedIndex.maintain(batch, "vec_id", "embedding", dir,
          deltaId = s"sv$bid", maxLiveMarkers = 3)): Unit
      }
      .start()
    try {
      for (b <- 0 until 5) {
        input.addData((10L + b, Seq(b + 1f, -b - 2f, 0.5f * b + 1f, 3f)))
        q.processAllAvailable()
      }
      assert(BandedIndex.liveBands(spark, dir).get
        .select("id").distinct().count() === 7L)
      assert(BandedIndex.storedDims(spark, dir) === 4,
        "the modality dial must hold across streamed refreshes + compacts")
      import scala.jdk.CollectionConverters._
      val rs = reports.asScala.toVector
      assert(rs.forall(_.liveMarkers <= 4), "the dial holds under the stream")
      assert(rs.exists(_.compacted), "the stream's cadence must trip a compact")
      // simulated restart replay: the LAST batch id re-delivers
      val replay = BandedIndex.maintain(
        vecs(14L -> Seq(5f, -6f, 3f, 3f)), "vec_id", "embedding", dir,
        deltaId = "sv4", maxLiveMarkers = 3)
      assert(replay.replayed, "the re-delivered batch id must be recognized")
      assert(BandedIndex.liveBands(spark, dir).get.count() === 28L,
        "replay must not duplicate band rows — even across the compaction above")
    } finally q.stop()
  }

  test("QualityModel: replay-guarded fits, pinned reads across a drifted refit, fit gate Ok/BuildNeeded, gc retention") {
    import graft.text.QualityModel
    val dir = freshDir("qm")
    // a linearly separable toy: y = 1 iff x3 > 0 (x1/x2 noise-free zeros)
    def feat(rows: (Long, Double, Double)*): DataFrame =
      rows.toSeq.toDF("doc_id", "x3", "y")
        .select(col("doc_id"), lit(0.0).as("x1"), lit(0.0).as("x2"),
          col("x3"), col("y"))
    val tr = feat((1L, 0.4, 1.0), (2L, 0.3, 1.0), (3L, -0.4, 0.0),
      (4L, -0.3, 0.0))
    val v1 = QualityModel.fit(tr, dir, "m1")
    assert(QualityModel.fit(tr, dir, "m1") === v1,
      "a replayed trainer id must not re-train")
    val w1 = QualityModel.weights(spark, dir)
    assert(w1(3) > 0, "the separable fit must find w_sat > 0")
    // the aligned holdout passes the fit gate…
    val hold = feat((11L, 0.5, 1.0), (12L, -0.5, 0.0))
    assert(QualityModel.maintain(hold, dir, minAccuracy = 0.9).healthy)
    // …a drifted holdout (labels flipped) trips BuildNeeded, never silence
    val drifted = feat((21L, 0.5, 0.0), (22L, -0.5, 1.0))
    val r = QualityModel.maintain(drifted, dir, minAccuracy = 0.9)
    assert(r.buildNeeded, s"label drift must surface as BuildNeeded: ${r.gates}")
    // the head moves under a refit; the pinned read is unchanged
    val v2 = QualityModel.fit(feat((31L, 0.4, 0.0), (32L, -0.4, 1.0)),
      dir, "m2")
    assert(v2 > v1)
    assert(QualityModel.weights(spark, dir, asOf = Some(v1)).toSeq
      === w1.toSeq, "the pinned coefficients must survive the refit")
    assert(QualityModel.weights(spark, dir)(3) < 0,
      "the head serves the refit (flipped labels ⇒ flipped sign)")
    // retention: gc keeps the newest 2 — both reads still resolve
    QualityModel.gc(spark, dir, keepLast = 2)
    assert(QualityModel.model(spark, dir, asOf = Some(v1)).nonEmpty)
    // the gate's report names the EVALUATED version, not the head
    assert(QualityModel.maintain(hold, dir, minAccuracy = 0.0,
      asOf = Some(v1)).version === v1)
    // the trainer replay guard SURVIVES gc: the delivered-id sidecar
    // rides every commit, so a gc'd fit replays LOUDLY, never as a
    // silent re-train
    val v3 = QualityModel.fit(tr, dir, "m3")
    QualityModel.gc(spark, dir, keepLast = 2) // v1 is gone now
    assert(QualityModel.fit(tr, dir, "m2") === v2,
      "a replayed id whose version survives must stay a no-op after gc")
    val e = intercept[IllegalArgumentException] {
      QualityModel.fit(tr, dir, "m1") // delivered, but its version gc'd
    }
    assert(e.getMessage.contains("gc'd past retention"),
      s"a gc'd fit id must fail loudly, not re-train: ${e.getMessage}")
    assert(VersionedState.currentVersion(spark, dir) === Some(v3),
      "the refused replay must not commit")
  }

  test("BpeState: replay-guarded fits, pinned merges across a drifted refit, OOV/compression gate, gc retention") {
    import graft.text.{BpeState, BpeTrain}
    val dir = freshDir("bpe")
    def wc(rows: (String, Long)*): DataFrame = rows.toSeq.toDF("word", "cnt")
    val tr = wc("low" -> 5L, "lower" -> 2L, "lowest" -> 3L, "newer" -> 4L)
    val v1 = BpeState.fit(tr, "word", "cnt", merges = 2, dir, "t1")
    assert(BpeState.fit(tr, "word", "cnt", merges = 2, dir, "t1") === v1,
      "a replayed trainer id must not re-train")
    // the stored artifact ≡ a fresh deterministic train on the same cut
    val stored = BpeState.mergeTable(spark, dir).get
      .orderBy("merge_rank").collect().toSeq
    val fresh = BpeTrain.train(tr, "word", "cnt", merges = 2)
      .orderBy("merge_rank").collect().toSeq
    assert(stored === fresh, "stored merges must equal a fresh train")
    // encode off the pinned version ≡ BpeTrain.encode under the list
    val hold = wc("lows" -> 1L, "new" -> 2L)
    val viaState = BpeState.encode(hold, "word", dir, asOf = Some(v1))
      .select(col("word"), concat_ws("|", col("syms")).as("e"))
      .orderBy("word").collect().toSeq
    val viaList = BpeTrain.encode(hold, "word", BpeState.mergeList(spark, dir))
      .select(col("word"), concat_ws("|", col("syms")).as("e"))
      .orderBy("word").collect().toSeq
    assert(viaState === viaList)
    // an aligned holdout passes the drift gate…
    assert(BpeState.maintain(hold, "word", "cnt", dir,
      maxOovRate = 0.9, minCompression = 1.0).healthy)
    // …unseen characters trip the OOV gate: BuildNeeded, never silence
    val alien = wc("zzzz" -> 10L, "qqqq" -> 10L)
    val r = BpeState.maintain(alien, "word", "cnt", dir,
      maxOovRate = 0.1, minCompression = 1.0)
    assert(r.buildNeeded, s"alien chars must surface as BuildNeeded: ${r.gates}")
    // …and an impossible compression dial trips the other arm
    assert(BpeState.maintain(hold, "word", "cnt", dir,
      maxOovRate = 1.0, minCompression = 100.0).buildNeeded)
    // empty batch gates Ok (nothing to tokenize ⇒ nothing drifted)
    assert(BpeState.maintain(wc(), "word", "cnt", dir,
      maxOovRate = 0.0, minCompression = 100.0).healthy)
    // the head moves under a drifted refit; the pinned read is unchanged
    val v2 = BpeState.fit(wc("aaaa" -> 9L, "aaab" -> 9L), "word", "cnt",
      merges = 2, dir, "t2")
    assert(v2 > v1)
    assert(BpeState.mergeTable(spark, dir, asOf = Some(v1)).get
      .orderBy("merge_rank").collect().toSeq === stored,
      "the pinned merge table must survive the refit")
    assert(BpeState.mergeList(spark, dir).head._1 === "a",
      "the head serves the refit")
    // the gate's report names the EVALUATED version, not the head
    assert(BpeState.maintain(hold, "word", "cnt", dir, maxOovRate = 1.0,
      minCompression = 0.0, asOf = Some(v1)).version === v1)
    // retention: the replay guard survives gc — a gc'd fit id fails
    // LOUDLY instead of silently re-training
    val v3 = BpeState.fit(tr, "word", "cnt", merges = 2, dir, "t3")
    BpeState.gc(spark, dir, keepLast = 2) // v1 is gone now
    assert(BpeState.fit(tr, "word", "cnt", merges = 2, dir, "t2") === v2,
      "a replayed id whose version survives must stay a no-op after gc")
    val e = intercept[IllegalArgumentException] {
      BpeState.fit(tr, "word", "cnt", merges = 2, dir, "t1")
    }
    assert(e.getMessage.contains("gc'd past retention"))
    assert(VersionedState.currentVersion(spark, dir) === Some(v3),
      "the refused replay must not commit")
  }

  test("NbState: replay-guarded fits, pinned predictions across a drifted refit, accuracy gate, gc retention") {
    import graft.text.{NaiveBayes, NbState}
    val dir = freshDir("nb")
    def docsDf(rows: (Long, String, Seq[String])*): DataFrame =
      rows.toSeq.toDF("doc_id", "lang", "tokens")
    val tr = docsDf(
      (1L, "aa", Seq("apple", "apricot", "apple")),
      (2L, "aa", Seq("apple", "avocado")),
      (3L, "bb", Seq("banana", "berry", "banana")),
      (4L, "bb", Seq("berry", "banana")))
    val v1 = NbState.fit(tr, "lang", "tokens", dir, "n1")
    assert(NbState.fit(tr, "lang", "tokens", dir, "n1") === v1,
      "a replayed trainer id must not re-train")
    val batch = docsDf((11L, "aa", Seq("apple", "apple")),
      (12L, "bb", Seq("banana", "berry")))
    // pinned predictions ≡ a fresh one-shot train at the same cut
    val pinnedP = NbState.predict(batch, "tokens", "doc_id", dir,
        asOf = Some(v1)).orderBy("doc_id").collect().toSeq
    val freshP = NaiveBayes.predict(tr, batch, "lang", "tokens", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(pinnedP === freshP, "stored model must score ≡ fresh train")
    assert(pinnedP.map(_.getString(1)) === Seq("aa", "bb"))
    // the aligned holdout passes the fit gate…
    assert(NbState.maintain(batch, "lang", "tokens", "doc_id", dir,
      minAccuracy = 0.9).healthy)
    // …flipped labels trip BuildNeeded, never silence
    val flipped = docsDf((21L, "bb", Seq("apple", "apple")),
      (22L, "aa", Seq("banana", "berry")))
    val r = NbState.maintain(flipped, "lang", "tokens", "doc_id", dir,
      minAccuracy = 0.9)
    assert(r.buildNeeded, s"label drift must surface as BuildNeeded: ${r.gates}")
    // empty holdout gates Ok
    assert(NbState.maintain(docsDf(), "lang", "tokens", "doc_id", dir,
      minAccuracy = 1.0).healthy)
    // the head moves under a label-flipped refit; pinned reads hold
    val trFlip = docsDf(
      (31L, "bb", Seq("apple", "apricot")), (32L, "aa", Seq("banana", "berry")))
    val v2 = NbState.fit(trFlip, "lang", "tokens", dir, "n2")
    assert(v2 > v1)
    assert(NbState.predict(batch, "tokens", "doc_id", dir, asOf = Some(v1))
      .orderBy("doc_id").collect().toSeq === pinnedP,
      "the pinned predictions must survive the refit")
    assert(NbState.predict(batch, "tokens", "doc_id", dir)
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
      === Seq("bb", "aa"), "the head serves the refit")
    // the gate's report names the EVALUATED version, not the head
    assert(NbState.maintain(batch, "lang", "tokens", "doc_id", dir,
      minAccuracy = 0.0, asOf = Some(v1)).version === v1)
    // retention: the replay guard survives gc — loud past-retention fail
    val v3 = NbState.fit(tr, "lang", "tokens", dir, "n3")
    NbState.gc(spark, dir, keepLast = 2) // v1 is gone now
    assert(NbState.fit(trFlip, "lang", "tokens", dir, "n2") === v2,
      "a replayed id whose version survives must stay a no-op after gc")
    val e = intercept[IllegalArgumentException] {
      NbState.fit(tr, "lang", "tokens", dir, "n1")
    }
    assert(e.getMessage.contains("gc'd past retention"))
    assert(VersionedState.currentVersion(spark, dir) === Some(v3),
      "the refused replay must not commit")
  }

  test("streaming admission screens against the MAINTAINED PerceptualIndex; ingest + erasure evolve it by batchId") {
    import graft.multimodal.PerceptualIndex
    import graft.streaming.EventStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = freshDir("pistream")
    def hs(rows: (Long, Long)*) = rows.toSeq.toDF("id", "hsh")
    PerceptualIndex.build(hs(1L -> 0L, 2L -> ((1L << 56) - 1)),
      "id", "hsh", dir)
    // the admission screen probes the STORED state as its static
    // relation (one materialization per cut)
    val idx = PerceptualIndex.liveIndex(spark, dir).get.localCheckpoint()
    val probes = MemoryStream[(Long, Long)]
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val qs = EventStreams.perceptualCollisions(
        probes.toDF().toDF("id", "hsh"), "id", "hsh", idx, maxHamming = 6)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(col("id"), col("matched_id")).distinct().collect()
            .foreach(r => hits.add((r.getLong(0), r.getLong(1)))): Unit
      }
      .start()
    try {
      probes.addData((11L, 2L), (12L, 5L | (6L << 14) | (7L << 28)))
      qs.processAllAvailable()
    } finally qs.stop()
    import scala.jdk.CollectionConverters._
    assert(hits.asScala.toSet === Set((11L, 1L)),
      "the near probe must collide with the stored item; the far one is novel")
    // ingest batches evolve the SAME state, batchId as the delta id
    val ingest = MemoryStream[(Long, Long)]
    val reports =
      new java.util.concurrent.ConcurrentLinkedQueue[
        graft.operators.MaintainReport]()
    val qi = ingest.toDF().toDF("id", "hsh")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        reports.add(PerceptualIndex.maintain(batch, "id", "hsh", dir,
          deltaId = s"pb$bid", maxLiveMarkers = 3)): Unit
      }
      .start()
    try {
      for (b <- 0 until 5) {
        ingest.addData((10L + b, 0x100L * b + 7L))
        qi.processAllAvailable()
      }
    } finally qi.stop()
    val rs = reports.asScala.toVector
    assert(rs.forall(_.liveMarkers <= 4), "the dial holds under the stream")
    assert(rs.exists(_.compacted), "the stream's cadence must trip a compact")
    // restart replay of the LAST batch id: protocol-level no-op
    val n0 = PerceptualIndex.liveIndex(spark, dir).get.count()
    val replay = PerceptualIndex.maintain(hs(14L -> (0x100L * 4 + 7L)),
      "id", "hsh", dir, deltaId = "pb4", maxLiveMarkers = 3)
    assert(replay.replayed &&
      PerceptualIndex.liveIndex(spark, dir).get.count() === n0,
      "a re-delivered batch id must not duplicate band rows")
    // the erasure stream drives delete() with ITS batch id
    val erase = MemoryStream[Long]
    val qe = erase.toDF().toDF("id")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        PerceptualIndex.delete(batch, "id", dir, deltaId = s"pe$bid"): Unit
      }
      .start()
    try {
      erase.addData(1L)
      qe.processAllAvailable()
    } finally qe.stop()
    // a fresh cut's static relation no longer serves the erased item
    val idx2 = PerceptualIndex.liveIndex(spark, dir).get.localCheckpoint()
    assert(idx2.where(col("id") === 1L).count() === 0L,
      "the erased item must leave the next cut's serving relation")
  }

  test("streaming cut-advance hot-swap: a running screen serves its pinned snapshot; the swap serves the new cut") {
    import graft.multimodal.PerceptualIndex
    import graft.streaming.EventStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = freshDir("piswap")
    def hs(rows: (Long, Long)*) = rows.toSeq.toDF("id", "hsh")
    PerceptualIndex.build(hs(1L -> 0L), "id", "hsh", dir)
    // the documented discipline (PerceptualIndex scale-shape doc): the
    // screen probes liveIndex materialized ONCE per cut — an immutable
    // snapshot a concurrent writer can never tear mid-batch
    def snapshot() = PerceptualIndex.liveIndex(spark, dir).get.localCheckpoint()
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def startScreen(idx: DataFrame, probes: MemoryStream[(Long, Long)]) =
      EventStreams.perceptualCollisions(
          probes.toDF().toDF("id", "hsh"), "id", "hsh", idx, maxHamming = 6)
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.select(col("id"), col("matched_id")).distinct().collect()
              .foreach(r => hits.add((r.getLong(0), r.getLong(1)))): Unit
        }
        .start()
    val probes1 = MemoryStream[(Long, Long)]
    val q1 = startScreen(snapshot(), probes1)
    try {
      probes1.addData((11L, 1L))
      q1.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(hits.asScala.toSet === Set((11L, 1L)))
      hits.clear()
      // the cut ADVANCES mid-stream: an ingest refresh + an erasure
      PerceptualIndex.refresh(hs(2L -> (0xFFL << 40)), "id", "hsh", dir, "d1")
      PerceptualIndex.delete(hs(1L -> 0L).select("id"), "id", dir, "e1")
      // the RUNNING query still serves its PINNED snapshot — the
      // concurrent state evolution is invisible until the swap (the
      // same isolation a pinned asOf read gives a batch serve)
      probes1.addData((12L, 1L), (13L, (0xFFL << 40) | 1L))
      q1.processAllAvailable()
      assert(hits.asScala.toSet === Set((12L, 1L)),
        "the pre-swap query must still match the erased item and must " +
          "NOT see the newly ingested one — its snapshot is the old cut")
      hits.clear()
    } finally q1.stop()
    // the HOT-SWAP: restart the screen on the new cut's snapshot
    val probes2 = MemoryStream[(Long, Long)]
    val q2 = startScreen(snapshot(), probes2)
    try {
      probes2.addData((14L, 1L), (15L, (0xFFL << 40) | 1L))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(hits.asScala.toSet === Set((15L, 2L)),
        "after the swap the screen serves the NEW cut: the ingested " +
          "item matches, the erased one is gone")
    } finally q2.stop()
  }

  test("streaming ingest + erasure drive ClusterState: batchIds as delta ids, restart-replays no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = freshDir("csstream")
    ClusterState.build(Seq(1L, 2L, 3L).toDF("id"), "id",
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir)
    val reports =
      new java.util.concurrent.ConcurrentLinkedQueue[
        graft.operators.MaintainReport]()
    // ingest stream: each row is (new doc id, verified-dup parent)
    val ingest = MemoryStream[(Long, Long)]
    val qi = ingest.toDF().toDF("id", "parent")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        reports.add(ClusterState.maintain(
          batch.select("id"), "id",
          batch.select(col("id").as("id_a"), col("parent").as("id_b")),
          dir, deltaId = s"in$bid", maxLiveMarkers = 3)): Unit
      }
      .start()
    try {
      for (b <- 0 until 5) {
        ingest.addData((10L + b, 3L))
        qi.processAllAvailable()
      }
    } finally qi.stop()
    assert(ClusterState.labels(spark, dir).get.count() === 8L)
    import scala.jdk.CollectionConverters._
    val rs = reports.asScala.toVector
    assert(rs.forall(_.liveMarkers <= 4), "the dial holds under the stream")
    assert(rs.exists(_.compacted), "the stream's cadence must trip a compact")
    // the erasure stream drives delete() with ITS batch id as delta id
    val erase = MemoryStream[Long]
    val deleted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val qe = erase.toDF().toDF("id")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        deleted.add(ClusterState.delete(batch, dir,
          deltaId = s"del$bid")): Unit
      }
      .start()
    try {
      erase.addData(10L, 11L)
      qe.processAllAvailable()
    } finally qe.stop()
    assert(ClusterState.labels(spark, dir).get.count() === 6L)
    val after = ClusterState.labels(spark, dir).get
      .select(col("id").cast("long"), col("label").cast("long"))
      .as[(Long, Long)].collect().toSet
    // restart-replays: the LAST ingest batch id AND the erasure id
    // re-deliver — both protocol-level no-ops, labels untouched
    val ri = ClusterState.maintain(Seq(14L).toDF("id"), "id",
      Seq((14L, 3L)).toDF("id_a", "id_b"), dir, deltaId = "in4",
      maxLiveMarkers = 3)
    assert(ri.replayed, "the re-delivered ingest batch id must be recognized")
    ClusterState.delete(Seq(10L, 11L).toDF("id"), dir, deltaId = "del0")
    assert(ClusterState.labels(spark, dir).get
      .select(col("id").cast("long"), col("label").cast("long"))
      .as[(Long, Long)].collect().toSet === after,
      "replayed ingest + erasure must not move a single label")
    // maintained ≡ from-scratch CC over the survivors
    val (truth, _) = graft.dedup.Dedup.nearDupClustersConverged(
      Seq(1L, 2L, 3L, 12L, 13L, 14L).toDF("id"), "id",
      Seq((1L, 2L), (12L, 3L), (13L, 3L), (14L, 3L)).toDF("id_a", "id_b"))
    assert(after === truth.select(col("id").cast("long"),
      col("cluster_id").cast("long")).as[(Long, Long)].collect().toSet)
  }

  test("ClusterState maintain: marker dial + drift gate over the CC identity") {
    val dir = freshDir("cs")
    ClusterState.build(Seq(1L, 2L, 3L).toDF("id"), "id",
      Seq((1L, 2L)).toDF("id_a", "id_b"), dir)
    var ids = Seq(1L, 2L, 3L)
    var pairs = Seq((1L, 2L))
    for (b <- 0 until 5) {
      val nid = 10L + b
      val np = (nid, 3L)
      ids :+= nid; pairs :+= np
      val r = ClusterState.maintain(Seq(nid).toDF("id"), "id",
        Seq(np).toDF("id_a", "id_b"), dir, deltaId = s"b$b",
        maxLiveMarkers = 3,
        audit = Some((ids.toDF("id"), pairs.toDF("id_a", "id_b"))))
      assert(r.liveMarkers <= 4)
      assert(r.healthy, s"clean maintenance must pass the CC gate: ${r.gates}")
    }
    assert(ClusterState.labels(spark, dir).get.count() === ids.size.toLong)
  }
}
