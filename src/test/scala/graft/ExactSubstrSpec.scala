package graft

import graft.dedup.ExactSubstr
import graft.operators.VersionedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintained exact-substring state's contract: refresh from disk
  * ≡ one-shot recompute on the union (q274 gates it against the DuckDB
  * oracle; here the restart/replay/retract/compact semantics the
  * oracle can't see), L recovered from the stored base, and the
  * cross-document duplicate surfacing that makes the method stronger
  * than whole-document MinHash.
  */
class ExactSubstrSpec extends SparkTestBase {
  import spark.implicits._

  // tiny corpus with a planted 4-token boilerplate "x y z w" shared by
  // docs 1 and 3, and a self-repeat inside doc 2
  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"),
        split(col("text"), " ").as("tokens"))

  private val hist = docsDf(
    1L -> "a b x y z w c d",
    2L -> "p q r p q r p q",
    3L -> "e f g h x y z w")

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_es_$tag").toString + "/st"

  private def spansNow(dir: String, toks: DataFrame): Set[(Long, Long, Long)] =
    ExactSubstr.spans(toks, "doc_id", "tokens", ExactSubstr.storedL(spark, dir),
        ExactSubstr.dupHashes(spark, dir))
      .select(col("doc").cast("long"), col("span_start"), col("span_end"))
      .as[(Long, Long, Long)].collect().toSet

  test("build finds cross-doc and within-doc duplicated spans at the dial L") {
    val dir = freshDir("build")
    ExactSubstr.build(hist, "doc_id", "tokens", L = 4, dir)
    assert(ExactSubstr.storedL(spark, dir) === 4)
    val s = spansNow(dir, hist)
    // "x y z w" at doc1 pos 3..7 (end exclusive) and doc3 pos 5..9;
    // doc2's "p q r p" window repeats at i=1 and i=4 → merged island
    assert(s.contains((1L, 3L, 7L)))
    assert(s.contains((3L, 5L, 9L)))
    assert(s.exists(_._1 == 2L), "within-doc repeat must surface")
  }

  test("refresh from disk ≡ one-shot on the union; L comes from state, not the caller") {
    val dir = freshDir("restart")
    ExactSubstr.build(hist, "doc_id", "tokens", L = 4, dir)
    // delta doc 9 re-pastes doc1's opening "a b x y" — only duplicated
    // once the delta merges into the state
    val delta = docsDf(9L -> "a b x y q q q q")
    ExactSubstr.refresh(delta, "doc_id", "tokens", dir, deltaId = "b1")
    val union = hist.unionByName(delta)
    val maintained = spansNow(dir, union)
    // one-shot ground truth: rebuild in a scratch dir on the union
    val scratch = freshDir("oneshot")
    ExactSubstr.build(union, "doc_id", "tokens", 4, scratch)
    assert(maintained === spansNow(scratch, union),
      "maintained state must reproduce the one-shot span table (drift ≡ 0)")
    assert(maintained.contains((9L, 1L, 5L)),
      "a cross-batch duplicate (history window re-pasted in the delta) must surface")
  }

  test("replayed delta id is a no-op; id-less refresh appends") {
    val dir = freshDir("replay")
    ExactSubstr.build(hist, "doc_id", "tokens", 4, dir)
    val delta = docsDf(9L -> "a b x y q q q q")
    val v1 = ExactSubstr.refresh(delta, "doc_id", "tokens", dir, "b1")
    assert(ExactSubstr.refresh(delta, "doc_id", "tokens", dir, "b1") === v1)
    val c1 = ExactSubstr.hashCounts(spark, dir).get
      .agg(sum("c")).head().getLong(0)
    ExactSubstr.refresh(delta, "doc_id", "tokens", dir) // id-less: appends
    assert(ExactSubstr.hashCounts(spark, dir).get
      .agg(sum("c")).head().getLong(0) > c1)
  }

  test("retract removes a doc's windows; a fully-retracted dup pair stops being one") {
    val dir = freshDir("retract")
    ExactSubstr.build(hist, "doc_id", "tokens", 4, dir)
    assert(spansNow(dir, hist).contains((1L, 3L, 7L)))
    // dedup excises doc 3 — doc1's "x y z w" is no longer duplicated
    ExactSubstr.retract(hist.where(col("doc_id") === 3L), "doc_id", "tokens",
      dir, "rm-3")
    val after = spansNow(dir, hist.where(col("doc_id") =!= 3L))
    assert(!after.exists(_._1 == 1L),
      "retracting the only other copy must clear doc1's span")
    assert(after.exists(_._1 == 2L), "doc2's self-repeat is untouched")
  }

  test("compact folds to one base-compact; totals, L and spans survive bit-exact") {
    val dir = freshDir("compact")
    ExactSubstr.build(hist, "doc_id", "tokens", 4, dir)
    val delta = docsDf(9L -> "a b x y q q q q")
    ExactSubstr.refresh(delta, "doc_id", "tokens", dir, "b1")
    ExactSubstr.retract(hist.where(col("doc_id") === 3L), "doc_id", "tokens",
      dir, "rm-3")
    val union = hist.where(col("doc_id") =!= 3L).unionByName(delta)
    val before = ExactSubstr.hashCounts(spark, dir).get
      .as[(String, Long)].collect().toSet
    val spansBefore = spansNow(dir, union)
    // a reader resolves the old horizon just before the compact
    val inFlight = ExactSubstr.hashCounts(spark, dir).get
    ExactSubstr.compact(spark, dir)
    // default retention keeps the folded horizon for in-flight readers
    assert(VersionedState.committed(spark, dir).size === 4,
      "default compaction retains the folded horizon")
    assert(inFlight.as[(String, Long)].collect().toSet === before,
      "a plan resolved pre-compaction must still read after it")
    ExactSubstr.gc(spark, dir) // readers done: reclaim
    assert(VersionedState.committed(spark, dir).map(_._2) ===
      Seq("base-compact:L=4"))
    assert(ExactSubstr.storedL(spark, dir) === 4,
      "the L dial must survive compaction")
    assert(ExactSubstr.hashCounts(spark, dir).get
      .as[(String, Long)].collect().toSet === before,
      "compacted totals ≡ pre-compaction totals")
    assert(spansNow(dir, union) === spansBefore)
    // PRE-compaction ids replay as no-ops: the delivered sidecar
    // remembers both the delta and the retract across the fold
    val totNow = ExactSubstr.hashCounts(spark, dir).get
      .agg(sum("c")).head().getLong(0)
    ExactSubstr.refresh(delta, "doc_id", "tokens", dir, "b1")
    ExactSubstr.retract(hist.where(col("doc_id") === 3L), "doc_id", "tokens",
      dir, "rm-3")
    assert(ExactSubstr.hashCounts(spark, dir).get
      .agg(sum("c")).head().getLong(0) === totNow,
      "pre-compaction delta AND retract ids stay replay-guarded")
    // maintenance continues on the compacted base
    ExactSubstr.refresh(docsDf(11L -> "m n o p m n o p m"), "doc_id",
      "tokens", dir, "b2")
    assert(VersionedState.committed(spark, dir).size === 2)
  }

  test("spans' dup-set join degrades to shuffle gracefully: forced no-broadcast is result-identical") {
    val dir = freshDir("shuffle")
    ExactSubstr.build(hist, "doc_id", "tokens", L = 4, dir)
    val viaDefault = spansNow(dir, hist)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // the planner may NOT broadcast the dup side
      assert(spansNow(dir, hist) === viaDefault,
        "the long-encoded hash join must produce identical spans when " +
          "the dup side shuffles instead of broadcasting — the path a " +
          "corpus-scale dup set takes past the broadcast threshold")
    } finally spark.conf.set(key, saved)
  }

  test("refresh before build is refused; a non-ExactSubstr base label is surfaced") {
    val dir = freshDir("guards")
    val e = intercept[IllegalArgumentException] {
      ExactSubstr.refresh(hist, "doc_id", "tokens", dir)
    }
    assert(e.getMessage.contains("build"))
    // a foreign versioned-state dir (e.g. an IvfIndex) must not be
    // silently misread as exact-substring state
    VersionedState.commit(spark, dir, None, label = "base") { vdir =>
      spark.range(1).write.parquet(s"$vdir/hashes")
    }
    val e2 = intercept[IllegalStateException] {
      ExactSubstr.storedL(spark, dir)
    }
    assert(e2.getMessage.contains("L dial"))
  }

  test("a contract-violating retract's observable state is compaction-invariant (negatives fold, not drop)") {
    // content never ingested is retracted, leaving negative totals;
    // whether a later refresh of the same content stays dead must not
    // depend on an intervening compact
    val ghost = docsDf(9L -> "q r s t u q r s")
    def liveSet(dir: String): Set[(String, Long)] =
      ExactSubstr.hashCounts(spark, dir).get
        .select(col("h"), col("c")).as[(String, Long)].collect().toSet
    def runIt(compactBetween: Boolean): Set[(String, Long)] = {
      val dir = freshDir(s"viol$compactBetween")
      ExactSubstr.build(hist, "doc_id", "tokens", 4, dir)
      ExactSubstr.retract(ghost, "doc_id", "tokens", dir, "r1")
      if (compactBetween) ExactSubstr.compact(spark, dir)
      ExactSubstr.refresh(ghost, "doc_id", "tokens", dir, "re9")
      liveSet(dir)
    }
    assert(runIt(compactBetween = false) === runIt(compactBetween = true),
      "compaction must never change the observable multiset, even on " +
        "contract-violating retract input")
  }

  test("an unpartitioned hashes/ table needs no empty guard: an erased state compacts, an empty build commits") {
    val dir = freshDir("erased")
    ExactSubstr.build(hist, "doc_id", "tokens", 4, dir)
    ExactSubstr.retract(hist, "doc_id", "tokens", dir, "all")
    ExactSubstr.compact(spark, dir)
    assert(ExactSubstr.hashCounts(spark, dir).get.count() === 0L,
      "a fully retracted state folds to an empty, still readable base")
    ExactSubstr.refresh(docsDf(9L -> "a b c d e"), "doc_id", "tokens",
      dir, "re")
    assert(ExactSubstr.hashCounts(spark, dir).get.count() === 2L,
      "a refresh after the empty fold is readable")
    val empty = freshDir("emptybuild")
    ExactSubstr.build(hist.where(col("doc_id") > 100L), "doc_id", "tokens",
      4, empty)
    assert(VersionedState.committed(spark, empty).map(_._2) === Seq("base:L=4"))
    assert(ExactSubstr.hashCounts(spark, empty).get.count() === 0L,
      "an empty unpartitioned base still anchors its schema")
  }

  test("an invalid delta id is rejected before the replay guard or any state is consulted") {
    val dir = freshDir("badid")
    ExactSubstr.build(hist, "doc_id", "tokens", 4, dir)
    val e = intercept[IllegalArgumentException] {
      ExactSubstr.refresh(docsDf(9L -> "a b c d e"), "doc_id", "tokens",
        dir, deltaId = "x" * 300)
    }
    assert(e.getMessage.contains("200"), "the byte bound must be named")
    assert(VersionedState.currentVersion(spark, dir) === Some(1L),
      "a rejected id must not commit anything")
  }
}
