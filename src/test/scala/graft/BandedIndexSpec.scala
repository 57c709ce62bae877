package graft

import graft.dedup.{BandedIndex, Dedup}
import graft.operators.VersionedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintained banded-signature index's contract: screening a fresh
  * batch off disk state ≡ the one-shot incremental blocking over the
  * live corpus (q285 gates that against the DuckDB oracle; here the
  * restart/replay/delete/compact semantics the oracle can't see).
  */
class BandedIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))

  // docs 1/2 are near-identical (share every band), 3 is distinct,
  // 4 is a near-copy of 3
  private val hist = docsDf(
    1L -> "alpha beta gamma delta epsilon",
    2L -> "alpha beta gamma delta epsilon",
    3L -> "red green blue cyan magenta",
    4L -> "red green blue cyan magenta")

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_bi_$tag").toString + "/st"

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_new").cast("long"), col("id_corpus").cast("long"))
      .as[(Long, Long)].collect().toSet

  private def oneShot(corpus: DataFrame, fresh: DataFrame,
                      cap: Int = Int.MaxValue): Set[(Long, Long)] =
    pairs(Dedup.incrementalNearDupCandidates(corpus, fresh,
      "doc_id", "tokens", 4, 2, maxBucketSize = cap))

  private def liveSet(dir: String): Set[(Int, String, Long, Long)] =
    BandedIndex.liveBands(spark, dir).get
      .select(col("band"), col("chunk"), col("id").cast("long"), col("c"))
      .as[(Int, String, Long, Long)].collect().toSet

  test("build + screen ≡ one-shot incremental blocking; dials recovered from disk") {
    val dir = freshDir("build")
    BandedIndex.build(hist, "doc_id", "tokens", dir)
    assert(BandedIndex.storedDials(spark, dir) === ((4, 2, 16)))
    val fresh = docsDf(9L -> "alpha beta gamma delta epsilon",
      10L -> "nothing shared here at all")
    val got = pairs(BandedIndex.screen(fresh, "doc_id", "tokens", dir))
    assert(got === oneShot(hist, fresh))
    assert(got.contains((9L, 1L)) && got.contains((9L, 2L)))
    assert(!got.exists(_._1 == 10L), "a no-overlap doc screens clean")
  }

  test("refresh extends the corpus side; maintained ≡ one-shot on the union; replay is a no-op") {
    val dir = freshDir("refresh")
    BandedIndex.build(hist, "doc_id", "tokens", dir)
    val delta = docsDf(5L -> "alpha beta gamma delta epsilon")
    val v1 = BandedIndex.refresh(delta, "doc_id", "tokens", dir, "b1")
    assert(BandedIndex.refresh(delta, "doc_id", "tokens", dir, "b1") === v1,
      "a replayed delta id must be a no-op")
    val fresh = docsDf(9L -> "alpha beta gamma delta epsilon")
    assert(pairs(BandedIndex.screen(fresh, "doc_id", "tokens", dir)) ===
      oneShot(hist.unionByName(delta), fresh))
    // the refreshed doc is now screenable AGAINST
    assert(pairs(BandedIndex.screen(fresh, "doc_id", "tokens", dir))
      .contains((9L, 5L)))
  }

  test("delete by id: the erased doc stops blocking; double-delete is algebra-idempotent; re-add survives") {
    val dir = freshDir("delete")
    BandedIndex.build(hist, "doc_id", "tokens", dir)
    val before = liveSet(dir)
    BandedIndex.delete(Seq(2L).toDF("doc_id"), "doc_id", dir, "e1")
    val fresh = docsDf(9L -> "alpha beta gamma delta epsilon")
    val got = pairs(BandedIndex.screen(fresh, "doc_id", "tokens", dir))
    assert(got === oneShot(hist.where(col("doc_id") =!= 2L), fresh))
    assert(!got.exists(_._2 == 2L), "an erased doc must stop blocking")
    // a second delete under a DIFFERENT id sees zero live rows
    BandedIndex.delete(Seq(2L).toDF("doc_id"), "doc_id", dir, "e2")
    assert(liveSet(dir) === before.filterNot(_._3 == 2L))
    // erasure is intent-ordered: a later refresh re-adds
    BandedIndex.refresh(hist.where(col("doc_id") === 2L), "doc_id", "tokens",
      dir, "re-2")
    assert(liveSet(dir) === before)
  }

  test("skew cap counts BOTH sides, exactly like the one-shot path") {
    val dir = freshDir("cap")
    // 3 corpus docs in one bucket; cap 4 kills the bucket once the
    // fresh side's 2 members join it (5 > 4)
    val c3 = docsDf(1L -> "alpha beta gamma delta epsilon",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "alpha beta gamma delta epsilon")
    BandedIndex.build(c3, "doc_id", "tokens", dir)
    val fresh = docsDf(9L -> "alpha beta gamma delta epsilon",
      10L -> "alpha beta gamma delta epsilon")
    val capped = pairs(BandedIndex.screen(fresh, "doc_id", "tokens", dir,
      maxBucketSize = 4))
    assert(capped === oneShot(c3, fresh, cap = 4))
    assert(capped.isEmpty, "both-sides counting must kill the hot bucket")
    val uncapped = pairs(BandedIndex.screen(fresh, "doc_id", "tokens", dir))
    assert(uncapped === oneShot(c3, fresh) && uncapped.size === 6)
  }

  test("compact folds to one base-compact; dials, screen, replay guard survive; gc reclaims") {
    val dir = freshDir("compact")
    BandedIndex.build(hist, "doc_id", "tokens", dir)
    val delta = docsDf(5L -> "alpha beta gamma delta epsilon")
    BandedIndex.refresh(delta, "doc_id", "tokens", dir, "b1")
    BandedIndex.delete(Seq(2L).toDF("doc_id"), "doc_id", dir, "e1")
    val before = liveSet(dir)
    BandedIndex.compact(spark, dir)
    BandedIndex.gc(spark, dir)
    assert(VersionedState.committed(spark, dir).map(_._2) ===
      Seq("base-compact:bands=4,rows=2,B=16"))
    assert(BandedIndex.storedDials(spark, dir) === ((4, 2, 16)))
    assert(liveSet(dir) === before)
    // pre-compaction ids replay as no-ops via the delivered sidecar
    BandedIndex.refresh(delta, "doc_id", "tokens", dir, "b1")
    BandedIndex.delete(Seq(2L).toDF("doc_id"), "doc_id", dir, "e1")
    assert(liveSet(dir) === before,
      "pre-compaction delta AND drop ids stay replay-guarded")
  }

  test("screen reads only the fresh batch's bucket partitions") {
    val dir = freshDir("prune")
    // a wider corpus so chunks spread over several buckets
    val wide = docsDf((1L to 40L).map(i =>
      i -> s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e"): _*)
    BandedIndex.build(wide, "doc_id", "tokens", dir, buckets = 8)
    val vdir = VersionedState.versionPath(dir, 1L)
    val bucketDirs = new java.io.File(s"$vdir/bands").listFiles()
      .count(_.getName.startsWith("bb="))
    assert(bucketDirs > 1, s"fixture spreads over $bucketDirs buckets")
    // the on-disk format: every partition directory is bands/bb=<b>, b < B
    assert(new java.io.File(s"$vdir/bands").listFiles().filter(_.isDirectory)
      .forall(f => f.getName.matches("bb=\\d+") && f.getName.drop(3).toInt < 8),
      "band rows must partition as bands/bb=<bucket>")
    val fresh = docsDf(99L -> "tok7a tok7b tok7c tok7d tok7e")
    val df = BandedIndex.screen(fresh, "doc_id", "tokens", dir)
    val bandScans = graft.plans.FileScans.executedScans(df, Some("bands"))
    assert(bandScans.nonEmpty, "the bands scan must be visible")
    assert(bandScans.forall(_.partitionFilters.nonEmpty),
      "the bucket predicate must reach the scan as a PARTITION filter")
    val filesRead = bandScans.map(_.metrics("numFiles").value).sum
    assert(filesRead < bucketDirs,
      s"a 1-doc probe must open fewer bucket files than exist " +
        s"($filesRead vs $bucketDirs)")
  }

  test("writeSplits spreads a bucket over several files; screen and compaction are unchanged") {
    val one = freshDir("ws1")
    val split = freshDir("wsN")
    BandedIndex.build(hist, "doc_id", "tokens", one, buckets = 2)
    BandedIndex.build(hist, "doc_id", "tokens", split, buckets = 2,
      writeSplits = 4)
    assert(liveSet(split) === liveSet(one))
    val vdir = VersionedState.versionPath(split, 1L)
    val perBucket = new java.io.File(s"$vdir/bands").listFiles()
      .filter(_.getName.startsWith("bb=")).map(
        _.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.exists(_ > 1),
      s"writeSplits must spread a bucket over several files " +
        s"(got ${perBucket.mkString(",")})")
    assert(perBucket.forall(_ <= 4),
      s"a bucket must land in AT MOST `splits` files (bounded salt, " +
        s"not the raw id — got ${perBucket.mkString(",")})")
    val fresh = docsDf(9L -> "alpha beta gamma delta epsilon")
    assert(pairs(BandedIndex.screen(fresh, "doc_id", "tokens", split)) ===
      pairs(BandedIndex.screen(fresh, "doc_id", "tokens", one)))
    BandedIndex.refresh(docsDf(5L -> "m n o p q"), "doc_id", "tokens",
      split, "b1")
    BandedIndex.refresh(docsDf(5L -> "m n o p q"), "doc_id", "tokens",
      one, "b1")
    BandedIndex.compact(spark, split, retainHorizons = 0, writeSplits = 4)
    BandedIndex.compact(spark, one, retainHorizons = 0)
    assert(liveSet(split) === liveSet(one))
  }

  test("maintain: marker dial trips compaction; drift gate Ok clean, Corruption on an id-less replay") {
    val dir = freshDir("maintain")
    BandedIndex.build(hist, "doc_id", "tokens", dir)
    var corpus = hist
    for (b <- 0 until 6) {
      val d = docsDf((100L + b) -> s"w$b x$b y$b z$b q$b")
      corpus = corpus.unionByName(d)
      val r = BandedIndex.maintain(d, "doc_id", "tokens", dir,
        deltaId = s"b$b", maxLiveMarkers = 3, auditCorpus = Some(corpus))
      assert(!r.replayed)
      assert(r.liveMarkers <= 4,
        s"horizon must stay bounded by the dial (got ${r.liveMarkers})")
      assert(r.healthy, s"clean maintenance must pass the drift gate: ${r.gates}")
    }
    // the at-least-once footgun: one batch delivered twice WITHOUT an id
    val dup = docsDf(200L -> "m n o p q")
    corpus = corpus.unionByName(dup)
    BandedIndex.refresh(dup, "doc_id", "tokens", dir)
    BandedIndex.refresh(dup, "doc_id", "tokens", dir)
    val r = BandedIndex.maintain(docsDf(201L -> "s t u v w"), "doc_id",
      "tokens", dir, deltaId = "b9", maxLiveMarkers = 99,
      auditCorpus = Some(corpus.unionByName(docsDf(201L -> "s t u v w"))))
    assert(r.corrupted,
      "a doubled unguarded batch must trip the drift gate as Corruption")
  }

  test("degenerate inputs: empty probe, token-less docs, empty refresh, then normal life continues") {
    val dir = freshDir("degen")
    BandedIndex.build(hist, "doc_id", "tokens", dir)
    // an EMPTY fresh batch screens to zero candidates (the bucket
    // collect is empty → the partition filter matches nothing)
    assert(BandedIndex.screen(hist.where(col("doc_id") > 100L),
      "doc_id", "tokens", dir).count() === 0L)
    // token-less docs carry NULL chunks → no joinable band rows on
    // either side (never spurious mutual candidates)
    val empties = Seq((50L, Array.empty[String]), (51L, Array.empty[String]))
      .toDF("doc_id", "tokens")
    assert(BandedIndex.screen(empties, "doc_id", "tokens", dir)
      .count() === 0L)
    BandedIndex.refresh(empties, "doc_id", "tokens", dir, "e0")
    assert(BandedIndex.liveBands(spark, dir).get
      .where(col("id").isin(50L, 51L)).count() === 0L,
      "token-less docs store no band rows")
    // an all-empty refresh segment (zero part files under the
    // partitionBy write) must not poison later reads — the explicit
    // base schema carries them
    BandedIndex.refresh(hist.where(col("doc_id") > 100L),
      "doc_id", "tokens", dir, "e1")
    val fresh = docsDf(9L -> "alpha beta gamma delta epsilon")
    assert(pairs(BandedIndex.screen(fresh, "doc_id", "tokens", dir)) ===
      oneShot(hist, fresh),
      "life continues across empty segments")
    BandedIndex.compact(spark, dir, retainHorizons = 0)
    assert(pairs(BandedIndex.screen(fresh, "doc_id", "tokens", dir)) ===
      oneShot(hist, fresh))
  }

  test("build refuses an empty corpus; refresh before build refused; foreign base label surfaced") {
    val dir = freshDir("guards")
    val e0 = intercept[IllegalArgumentException] {
      BandedIndex.build(hist.where(col("doc_id") > 100L), "doc_id", "tokens", dir)
    }
    assert(e0.getMessage.contains("non-empty"))
    val e = intercept[IllegalArgumentException] {
      BandedIndex.refresh(hist, "doc_id", "tokens", dir)
    }
    assert(e.getMessage.contains("build"))
    val foreign = freshDir("foreign")
    VersionedState.commit(spark, foreign, None, label = "base:B=16") { vdir =>
      spark.range(1).write.parquet(s"$vdir/bands")
    }
    val e2 = intercept[IllegalStateException] {
      BandedIndex.storedDials(spark, foreign)
    }
    assert(e2.getMessage.contains("banding dials"))
  }

  test("a contract-violating retract's observable state is compaction-invariant (negatives fold, not drop)") {
    // doc 9 was never ingested; retract leaves negative band counts —
    // the later re-refresh's verdict (dead: sums to 0) must not depend
    // on an intervening compact
    val ghost = docsDf(9L -> "alpha beta gamma delta epsilon")
    def runIt(compactBetween: Boolean): Set[(Int, String, Long, Long)] = {
      val dir = freshDir(s"viol$compactBetween")
      BandedIndex.build(hist, "doc_id", "tokens", dir)
      BandedIndex.retract(ghost, "doc_id", "tokens", dir, "r1")
      if (compactBetween) BandedIndex.compact(spark, dir)
      BandedIndex.refresh(ghost, "doc_id", "tokens", dir, "re9")
      liveSet(dir)
    }
    assert(runIt(compactBetween = false) === runIt(compactBetween = true),
      "compaction must never change the observable band table, even on " +
        "contract-violating retract input")
  }

  test("build refuses a corpus whose docs are ALL token-less (derived-payload guard)") {
    val dir = freshDir("alltokless")
    val tokless = Seq(1L, 2L).toDF("doc_id")
      .select(col("doc_id"), expr("array()").cast("array<string>").as("tokens"))
    val e = intercept[IllegalArgumentException] {
      BandedIndex.build(tokless, "doc_id", "tokens", dir)
    }
    assert(e.getMessage.contains("joinable band row"),
      s"token-less docs yield NULL chunks that bandRows drops; the raw " +
        s"non-empty check is not enough: ${e.getMessage}")
  }

  // --- the SRP (embedding) modality: same state, dims > 0 ---

  private def vecsDf(rows: (Long, Seq[Float])*): DataFrame =
    rows.toSeq.toDF("vec_id", "embedding")

  // 1/2 identical (share every band chunk), 3 the sign-flipped twin
  // (shares NO chunk with 1/2), 4 a distinct direction
  private val vhist = vecsDf(
    1L -> Seq(1f, 2f, -1f, 0.5f),
    2L -> Seq(1f, 2f, -1f, 0.5f),
    3L -> Seq(-1f, -2f, 1f, -0.5f),
    4L -> Seq(0.2f, -3f, 2f, 1f))

  private def srpOneShot(corpus: DataFrame, fresh: DataFrame): Set[(Long, Long)] = {
    val c = graft.ann.Knn.srpChunkRows(corpus, "vec_id", "embedding", 4, 4, 2)
    val f = graft.ann.Knn.srpChunkRows(fresh, "vec_id", "embedding", 4, 4, 2)
    f.alias("f").join(c.alias("c"),
        col("f.band") === col("c.band") && col("f.chunk") === col("c.chunk"))
      .select(col("f.id").as("id_new"), col("c.id").as("id_corpus"))
      .distinct()
      .as[(Long, Long)].collect().toSet
  }

  test("SRP modality: full lifecycle on vectors; screen ≡ one-shot SRP blocking; dims rides the label") {
    val dir = freshDir("srp")
    val hist2 = vhist.where(col("vec_id") <= 2L) // 1, 2
    val delta = vhist.where(col("vec_id") > 2L)  // 3, 4
    BandedIndex.build(hist2, "vec_id", "embedding", dir,
      nBands = 4, rowsPerBand = 2, dims = 4)
    assert(VersionedState.committed(spark, dir).map(_._2) ===
      Seq("base:bands=4,rows=2,B=16,dims=4"),
      "the SRP base label is an on-disk format")
    assert(BandedIndex.storedDials(spark, dir) === ((4, 2, 16)))
    assert(BandedIndex.storedDims(spark, dir) === 4,
      "the modality dial must be recovered from the base label")
    val v1 = BandedIndex.refresh(delta, "vec_id", "embedding", dir, "d1")
    assert(BandedIndex.refresh(delta, "vec_id", "embedding", dir, "d1") === v1,
      "a replayed delta id must be a no-op")
    // fresh: 11 ≡ vector 1 (pairs with 1 and 2), 13 ≡ vector 3, and a
    // ZERO vector (no sign geometry → no band rows → no candidates)
    val fresh = vecsDf(
      11L -> Seq(1f, 2f, -1f, 0.5f),
      13L -> Seq(-1f, -2f, 1f, -0.5f),
      12L -> Seq(0f, 0f, 0f, 0f))
    val live = vhist
    val got = pairs(BandedIndex.screen(fresh, "vec_id", "embedding", dir))
    assert(got === srpOneShot(live, fresh),
      "maintained screen must equal the one-shot cross-side SRP blocking")
    assert(got.contains((11L, 1L)) && got.contains((11L, 2L)) &&
      got.contains((13L, 3L)),
      s"identical vectors share every band chunk: $got")
    assert(!got.exists(_._1 == 12L), "a zero-norm vector has no band rows")
    // erasure by id alone, then compact; the survivor side still pairs
    BandedIndex.delete(Seq(3L).toDF("vec_id"), "vec_id", dir, "e1")
    BandedIndex.compact(spark, dir)
    assert(BandedIndex.storedDims(spark, dir) === 4,
      "dims must survive the base-compact label")
    val afterDrop = pairs(BandedIndex.screen(fresh, "vec_id", "embedding", dir))
    assert(afterDrop === srpOneShot(live.where(col("vec_id") =!= 3L), fresh),
      "post-erasure screen must equal one-shot blocking over the survivors")
    assert(!afterDrop.exists(_._2 == 3L), "the erased vector must stop blocking")
    // post-compact re-delivery of the delta id: still a no-op
    val before = liveSet(dir)
    BandedIndex.refresh(delta, "vec_id", "embedding", dir, "d1")
    assert(liveSet(dir) === before,
      "a replayed id must stay a no-op across the compaction")
    // the drift gate audits against a one-shot re-projection
    val r = BandedIndex.maintain(vecsDf(20L -> Seq(3f, 1f, 0f, 2f)),
      "vec_id", "embedding", dir, deltaId = "d2",
      auditCorpus = Some(live.where(col("vec_id") =!= 3L)
        .unionByName(vecsDf(20L -> Seq(3f, 1f, 0f, 2f)))))
    assert(r.healthy, s"clean SRP maintenance must pass the gate: ${r.gates}")
  }

  test("SRP modality: build refuses an all-zero-norm corpus (derived-payload guard)") {
    val dir = freshDir("srpzero")
    val zeros = vecsDf(1L -> Seq(0f, 0f, 0f, 0f), 2L -> Seq(0f, 0f, 0f, 0f))
    val e = intercept[IllegalArgumentException] {
      BandedIndex.build(zeros, "vec_id", "embedding", dir,
        nBands = 4, rowsPerBand = 2, dims = 4)
    }
    assert(e.getMessage.contains("joinable band row"))
  }

  test("SRP modality: build refuses rowsPerBand > 31 at the dial boundary, not mid-plan") {
    val dir = freshDir("srpwide")
    val vecs = vecsDf(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f))
    val e = intercept[IllegalArgumentException] {
      BandedIndex.build(vecs, "vec_id", "embedding", dir,
        nBands = 2, rowsPerBand = 32, dims = 4)
    }
    assert(e.getMessage.contains("31 sign bits"))
  }
}
