package graft

import graft.ann.IvfIndex
import graft.dedup.ExactSubstr
import graft.operators.{StateManifest, VersionedState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cross-artifact consistent cut: a manifest is the one-marker
  * argument lifted one level — a crash between member commits leaves
  * the PREVIOUS cut resolvable with every member version still on
  * disk, and a reader never observes one artifact refreshed and its
  * sibling stale. Plus the `asOf` pinned reads the cut resolves into.
  */
class StateManifestSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(ids: Range): DataFrame =
    ids.map { i =>
      (i.toLong, Array.tabulate(4)(d => ((i % 3) * 7 + d).toFloat + 1f))
    }.toDF("vec_id", "embedding")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))

  test("a torn cut is invisible: members ahead of the manifest don't leak into resolve") {
    val (a, b, m) = (freshDir("ma"), freshDir("mb"), freshDir("mm"))
    IvfIndex.build(vecs(0 until 10), "vec_id", "embedding",
      col("vec_id") % 5 === 0, iters = 1, a)
    ExactSubstr.build(docs(1L -> "x y z w x y z w"), "doc_id", "tokens", 4, b)
    StateManifest.commit(spark, m, Map("idx" -> (a, 1L), "es" -> (b, 1L)))
    // the pipeline refreshes the INDEX, then crashes before the
    // sibling refresh and the manifest commit
    IvfIndex.refresh(vecs(10 until 15), "vec_id", "embedding", a, "d1")
    val cut = StateManifest.resolve(spark, m).get
    assert(cut === Map("idx" -> (a, 1L), "es" -> (b, 1L)),
      "readers must keep resolving the previous cut")
    assert(IvfIndex.assignments(spark, a, asOf = Some(cut("idx")._2)).get
      .count() === 10L,
      "the pinned read must not see the post-cut refresh")
    assert(IvfIndex.assignments(spark, a).get.count() === 15L,
      "the head read does (the member DID commit)")
    // the retry completes the cut: the sibling refreshes, the manifest
    // moves, and both pinned reads advance together
    ExactSubstr.refresh(docs(2L -> "x y z w q q q q"), "doc_id", "tokens",
      b, "d1")
    StateManifest.commit(spark, m, Map("idx" -> (a, 2L), "es" -> (b, 2L)))
    val cut2 = StateManifest.resolve(spark, m).get
    assert(IvfIndex.assignments(spark, a, asOf = Some(cut2("idx")._2)).get
      .count() === 15L)
    assert(ExactSubstr.hashCounts(spark, b, asOf = Some(cut2("es")._2)).get
      .agg(sum("c")).head().getLong(0) >
      ExactSubstr.hashCounts(spark, b, asOf = Some(1L)).get
        .agg(sum("c")).head().getLong(0),
      "the es member's pinned read advances with the new cut")
  }

  test("commit fails fast on a member version that is not committed") {
    val (a, m) = (freshDir("fa"), freshDir("fm"))
    IvfIndex.build(vecs(0 until 6), "vec_id", "embedding",
      col("vec_id") % 5 === 0, iters = 1, a)
    val e = intercept[IllegalArgumentException] {
      StateManifest.commit(spark, m, Map("idx" -> (a, 7L)))
    }
    assert(e.getMessage.contains("torn"))
    assert(StateManifest.resolve(spark, m).isEmpty,
      "a refused cut must not commit anything")
  }

  test("manifest retention: the previous cut stays readable, older ones are GC'd") {
    val (a, m) = (freshDir("ra"), freshDir("rm"))
    IvfIndex.build(vecs(0 until 6), "vec_id", "embedding",
      col("vec_id") % 5 === 0, iters = 1, a)
    IvfIndex.refresh(vecs(6 until 8), "vec_id", "embedding", a, "d1")
    IvfIndex.refresh(vecs(8 until 9), "vec_id", "embedding", a, "d2")
    StateManifest.commit(spark, m, Map("idx" -> (a, 1L)))
    StateManifest.commit(spark, m, Map("idx" -> (a, 2L)))
    StateManifest.commit(spark, m, Map("idx" -> (a, 3L)))
    assert(VersionedState.committed(spark, m).map(_._1) === Seq(2L, 3L),
      "retain 2: one previous cut for readers mid-resolve")
    assert(StateManifest.readCut(spark, m, 2L) === Map("idx" -> (a, 2L)))
    assert(StateManifest.resolve(spark, m).get === Map("idx" -> (a, 3L)))
  }

  test("gcMembers reclaims only what no retained cut can reach — pinned horizons survive") {
    import graft.operators.StateManifestGc
    val (a, m) = (freshDir("ga"), freshDir("gm"))
    IvfIndex.build(vecs(0 until 10), "vec_id", "embedding",
      col("vec_id") % 5 === 0, iters = 1, a)
    IvfIndex.refresh(vecs(10 until 12), "vec_id", "embedding", a, "d1")
    StateManifest.commit(spark, m, Map("idx" -> (a, 2L))) // cut 1 pins v2
    IvfIndex.refresh(vecs(12 until 15), "vec_id", "embedding", a, "d2")
    IvfIndex.compact(spark, a) // v4 = base-compact; v1-v3 retained
    StateManifest.commit(spark, m, Map("idx" -> (a, 4L))) // cut 2
    // cut 1 (retained) still pins the OLD horizon: gcMembers must keep
    // it — versions 1..3 stay, nothing below the pinned horizon's base
    val floors = StateManifestGc.gcMembers(spark, m)
    assert(floors(a) === 1L, "the oldest retained pin's horizon base")
    assert(VersionedState.committed(spark, a).map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(IvfIndex.assignments(spark, a, asOf = Some(2L)).get.count() === 12L,
      "the old cut's pinned read must survive the member GC")
    // a third cut supersedes cut 1 (manifest retention 2 drops it);
    // NOW the old horizon is unreachable and gcMembers reclaims it
    IvfIndex.refresh(vecs(15 until 16), "vec_id", "embedding", a, "d3")
    StateManifest.commit(spark, m, Map("idx" -> (a, 5L))) // cuts now 2,3
    val floors2 = StateManifestGc.gcMembers(spark, m)
    assert(floors2(a) === 4L, "both retained cuts pin the new horizon")
    assert(VersionedState.committed(spark, a).map(_._1) === Seq(4L, 5L))
    assert(IvfIndex.assignments(spark, a).get.count() === 16L)
  }

  test("a Bm25State member composes: pinned topK across erasure + compaction; gcMembers floors by its base") {
    import graft.operators.StateManifestGc
    import graft.text.Bm25State
    val (a, m) = (freshDir("ba"), freshDir("bmf"))
    Bm25State.build(docs(1L -> "x y z", 2L -> "x q"), "doc_id", "tokens", a)
    StateManifest.commit(spark, m, Map("bm" -> (a, 1L))) // cut 1
    Bm25State.delete(Seq(2L).toDF("doc_id"), "doc_id", a, "e1") // v2
    Bm25State.compact(spark, a) // v3 = base-compact:B=16; v1-v2 retained
    StateManifest.commit(spark, m, Map("bm" -> (a, 3L))) // cut 2
    def topDocs(asOf: Option[Long]) =
      Bm25State.topK(spark, a, Seq("x"), 10, asOf = asOf)
        .select(col("doc").cast("long")).as[Long].collect().toSet
    assert(topDocs(Some(1L)) === Set(1L, 2L),
      "the pre-erasure cut must still serve the erased doc through retention")
    assert(topDocs(None) === Set(1L))
    // cut 1 (retained) pins the pre-compaction horizon: its base survives
    val floors = StateManifestGc.gcMembers(spark, m)
    assert(floors(a) === 1L)
    assert(VersionedState.committed(spark, a).map(_._1) === Seq(1L, 2L, 3L))
    // a third cut supersedes cut 1; the old horizon becomes unreachable
    Bm25State.refresh(docs(5L -> "x w"), "doc_id", "tokens", a, "d2") // v4
    StateManifest.commit(spark, m, Map("bm" -> (a, 4L))) // cuts now 2, 3
    val floors2 = StateManifestGc.gcMembers(spark, m)
    assert(floors2(a) === 3L, "both retained cuts pin the compacted horizon")
    assert(VersionedState.committed(spark, a).map(_._1) === Seq(3L, 4L))
    assert(topDocs(None) === Set(1L, 5L))
    assert(Bm25State.storedBuckets(spark, a) === 16,
      "the bucket dial rides the base-compact label through member GC")
  }

  test("a needle-state member composes: an eval-suite update changes the verdict only when the cut advances") {
    import graft.text.Bm25State
    val (ns, bm, m) = (freshDir("ns"), freshDir("nbm"), freshDir("nm"))
    // train docs: 3 carries a leaked span only the UPDATED suite knows
    val train = docs(1L -> "x y z w q r s t",
      3L -> "h i j k x y z w")
    Bm25State.build(train, "doc_id", "tokens", bm)
    // needle state v1: eval suite version 1
    ExactSubstr.build(docs(100L -> "a b c d a b c d"), "doc_id", "tokens",
      4, ns)
    StateManifest.commit(spark, m,
      Map("bm" -> (bm, 1L), "ns" -> (ns, 1L))) // cut 1
    def contamUnder(pin: Long) =
      ExactSubstr.windowHashes(train, "doc_id", "tokens", 4)
        .join(ExactSubstr.hashCounts(spark, ns, asOf = Some(pin)).get
          .select("h"), "h")
        .select(col("doc")).distinct()
        .as[Long].collect().toSet
    assert(contamUnder(1L) === Set.empty[Long],
      "suite v1 contaminates nothing")
    // the suite UPDATE adds an eval item containing doc 3's span
    ExactSubstr.refresh(docs(101L -> "h i j k m"), "doc_id", "tokens",
      ns, "ev2") // ns v2
    // cut 1 still resolves the OLD suite: the verdict must not move
    val cut1 = StateManifest.resolve(spark, m).get
    assert(cut1("ns")._2 === 1L)
    assert(contamUnder(cut1("ns")._2) === Set.empty[Long],
      "the old cut serves the old verdict — the needle head moving is invisible")
    // the cut advances: the new verdict becomes visible, the excision
    // lands, and the pinned serve drops the contaminated doc
    assert(contamUnder(2L) === Set(3L))
    val bv2 = Bm25State.delete(Seq(3L).toDF("doc_id"), "doc_id", bm, "x1")
    StateManifest.commit(spark, m,
      Map("bm" -> (bm, bv2), "ns" -> (ns, 2L))) // cut 2
    val cut2 = StateManifest.resolve(spark, m).get
    def served(pin: Long) =
      Bm25State.topK(spark, bm, Seq("x"), 10, asOf = Some(pin))
        .select(col("doc").cast("long")).as[Long].collect().toSet
    assert(served(cut1("bm")._2) === Set(1L, 3L),
      "the old cut keeps serving the doc the old suite cleared")
    assert(served(cut2("bm")._2) === Set(1L))
  }

  test("asOf pins across a compaction: the retained folded horizon serves the old cut") {
    val (a, m) = (freshDir("ca"), freshDir("cm"))
    IvfIndex.build(vecs(0 until 10), "vec_id", "embedding",
      col("vec_id") % 5 === 0, iters = 1, a)
    IvfIndex.refresh(vecs(10 until 12), "vec_id", "embedding", a, "d1")
    StateManifest.commit(spark, m, Map("idx" -> (a, 2L)))
    IvfIndex.refresh(vecs(12 until 15), "vec_id", "embedding", a, "d2")
    IvfIndex.compact(spark, a) // retention keeps versions 1-3 on disk
    val cut = StateManifest.resolve(spark, m).get
    assert(IvfIndex.assignments(spark, a, asOf = Some(cut("idx")._2)).get
      .count() === 12L,
      "the pre-compaction cut must stay readable through retention")
    assert(IvfIndex.assignments(spark, a).get.count() === 15L)
    // once the manifest has moved past the old horizon, gc reclaims it
    StateManifest.commit(spark, m, Map("idx" -> (a, 4L)))
    IvfIndex.gc(spark, a)
    assert(IvfIndex.assignments(spark, a,
      asOf = Some(StateManifest.resolve(spark, m).get("idx")._2)).get
      .count() === 15L)
  }

  test("admission→serving torn cut: one member refreshed, crash, retry — no reader ever mixes the states") {
    import graft.dedup.BandedIndex
    import graft.text.Bm25State
    val (bi, bm, m) = (freshDir("tabi"), freshDir("tabm"), freshDir("tam"))
    val seed = docs(1L -> "x y z w", 2L -> "p q r s")
    val biV1 = BandedIndex.build(seed, "doc_id", "tokens", bi)
    val bmV1 = Bm25State.build(seed, "doc_id", "tokens", bm)
    StateManifest.commit(spark, m,
      Map("bi" -> (bi, biV1), "bm" -> (bm, bmV1))) // cut 1
    // the admitted batch refreshes the BANDED member… then the
    // maintainer crashes before the BM25 refresh and the cut commit
    val admitted = docs(9L -> "x y n m")
    BandedIndex.refresh(admitted, "doc_id", "tokens", bi, "b1")
    // a reader resolves the LAST manifest: both members still serve the
    // pre-admission state — the half-applied admission is invisible
    val cut = StateManifest.resolve(spark, m).get
    assert(cut("bi")._2 === biV1 && cut("bm")._2 === bmV1,
      "the torn admission must not advance the cut")
    assert(BandedIndex.screen(docs(20L -> "x y n m"), "doc_id", "tokens",
        bi, asOf = Some(cut("bi")._2))
      .where(col("id_corpus") === 9L).count() === 0L,
      "the pinned banded read must not see the half-applied batch")
    assert(Bm25State.topK(spark, bm, Seq("n"), 10,
        asOf = Some(cut("bm")._2)).count() === 0L,
      "the pinned serve must not see the half-applied batch")
    // the retry replays BOTH member refreshes under the same id (the
    // banded one a no-op) and only then commits the cut
    val biV2 = BandedIndex.refresh(admitted, "doc_id", "tokens", bi, "b1")
    val bmV2 = Bm25State.refresh(admitted, "doc_id", "tokens", bm, "b1")
    StateManifest.commit(spark, m,
      Map("bi" -> (bi, biV2), "bm" -> (bm, bmV2))) // cut 2
    val cut2 = StateManifest.resolve(spark, m).get
    assert(BandedIndex.screen(docs(20L -> "x y n m"), "doc_id", "tokens",
        bi, asOf = Some(cut2("bi")._2))
      .where(col("id_corpus") === 9L).count() > 0L)
    assert(Bm25State.topK(spark, bm, Seq("n"), 10,
        asOf = Some(cut2("bm")._2))
      .select("doc").as[Long].collect().toSet === Set(9L),
      "after the retried cut, BOTH members serve the admitted doc — " +
        "exactly once despite the replay")
  }

  test("full-stack torn cut: three of four members refreshed, crash, retry — no reader ever mixes the four states") {
    import graft.dedup.{BandedIndex, ClusterState}
    import graft.text.Bm25State
    val (bi, bm, ivf, cl, m) = (freshDir("fsbi"), freshDir("fsbm"),
      freshDir("fsivf"), freshDir("fscl"), freshDir("fsm"))
    val seed = docs(1L -> "x y z w", 2L -> "p q r s")
    val biV1 = BandedIndex.build(seed, "doc_id", "tokens", bi)
    val bmV1 = Bm25State.build(seed, "doc_id", "tokens", bm)
    val ivfV1 = IvfIndex.build(vecs(0 until 6), "vec_id", "embedding",
      col("vec_id") % 3 === 0, iters = 1, ivf)
    val noEdges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val clV1 = ClusterState.build(seed.select("doc_id"), "doc_id",
      noEdges, cl)
    StateManifest.commit(spark, m, Map("bi" -> (bi, biV1),
      "bm" -> (bm, bmV1), "ivf" -> (ivf, ivfV1), "cl" -> (cl, clV1)))
    // the admitted batch reaches THREE members… then the maintainer
    // crashes before the label refresh and the cut commit
    val admitted = docs(9L -> "x y n m")
    BandedIndex.refresh(admitted, "doc_id", "tokens", bi, "a1")
    Bm25State.refresh(admitted, "doc_id", "tokens", bm, "a1",
      requireNewDocs = true)
    IvfIndex.refresh(vecs(9 until 10), "vec_id", "embedding", ivf, "a1")
    // a reader resolves the LAST manifest: all four members still
    // serve the pre-admission state — the 3/4-applied cut is invisible
    val cut = StateManifest.resolve(spark, m).get
    assert(cut("bi")._2 === biV1 && cut("bm")._2 === bmV1
      && cut("ivf")._2 === ivfV1 && cut("cl")._2 === clV1,
      "the torn admission must not advance the cut")
    assert(Bm25State.topK(spark, bm, Seq("n"), 10,
      asOf = Some(cut("bm")._2)).count() === 0L)
    assert(IvfIndex.assignments(spark, ivf, asOf = Some(cut("ivf")._2)).get
      .where(col("id") === 9L).count() === 0L,
      "the pinned IVF read must not see the half-applied batch")
    assert(ClusterState.labels(spark, cl, asOf = Some(cut("cl")._2)).get
      .count() === 2L)
    // the retry replays ALL FOUR refreshes under the same id (the
    // first three no-ops) and only then commits the cut
    val biV2 = BandedIndex.refresh(admitted, "doc_id", "tokens", bi, "a1")
    val bmV2 = Bm25State.refresh(admitted, "doc_id", "tokens", bm, "a1",
      requireNewDocs = true)
    val ivfV2 = IvfIndex.refresh(vecs(9 until 10), "vec_id", "embedding",
      ivf, "a1")
    val clV2 = ClusterState.refresh(admitted.select("doc_id"), "doc_id",
      noEdges, cl, "a1")
    StateManifest.commit(spark, m, Map("bi" -> (bi, biV2),
      "bm" -> (bm, bmV2), "ivf" -> (ivf, ivfV2), "cl" -> (cl, clV2)))
    val cut2 = StateManifest.resolve(spark, m).get
    assert(Bm25State.topK(spark, bm, Seq("n"), 10,
      asOf = Some(cut2("bm")._2)).select("doc").as[Long].collect().toSet
      === Set(9L))
    assert(IvfIndex.assignments(spark, ivf, asOf = Some(cut2("ivf")._2)).get
      .where(col("id") === 9L).count() === 1L,
      "after the retried cut the IVF member serves the admitted vector " +
        "exactly once despite the replay")
    assert(ClusterState.labels(spark, cl, asOf = Some(cut2("cl")._2)).get
      .count() === 3L,
      "after the retried cut the label member carries the admitted doc " +
        "exactly once despite the replay")
  }
}
