package graft

import graft.multimodal.{Multimodal, PerceptualIndex}
import graft.operators.VersionedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintained perceptual-hash index's contract: screening a fresh
  * batch off disk state ≡ the one-shot cross-side banded-Hamming
  * screen over the live corpus (q289 gates that against the DuckDB
  * oracle; here the restart/replay/delete/compact semantics the
  * oracle can't see).
  */
class PerceptualIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def hashes(rows: (Long, Long)*): DataFrame =
    rows.toSeq.toDF("id", "hsh")

  // A/B one bit apart (share 3 of 4 bands); C the far-away all-ones
  // hash; D shares no band with anyone
  private val A = 0L
  private val B = 1L
  private val C = (1L << 56) - 1
  private val D = 0x00AA55AA55AA55L
  private val hist = hashes(1L -> A, 2L -> B, 3L -> C, 4L -> D)

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_pi_$tag").toString + "/st"

  private def collisions(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("id").cast("long"), col("matched_id").cast("long"),
        col("hamming"))
      .as[(Long, Long, Int)].collect().toSet

  /** One-shot twin: the fresh rows joined to a RE-DERIVED banded index
    * of the live corpus ([[Multimodal.bandedIndex]] — the pre-state
    * geometry), exact bit_count verify, distinct.
    */
  private def oneShot(live: DataFrame, fresh: DataFrame,
                      maxHamming: Int): Set[(Long, Long, Int)] = {
    val idx = Multimodal.bandedIndex(live, "id", "hsh")
    val f = PerceptualIndex.bandRows(fresh, "id", "hsh")
    collisions(f.alias("f").join(idx.alias("c"),
        col("f.band") === col("c.band") && col("f.chunk") === col("c.chunk"))
      .select(col("f.id").as("id"), col("c.id").as("matched_id"),
        expr("cast(bit_count(f.hsh ^ c.hsh) as int)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct())
  }

  test("build + screen ≡ one-shot banded-Hamming screen; near hashes match, far ones don't") {
    val dir = freshDir("build")
    PerceptualIndex.build(hist, "id", "hsh", dir)
    assert(PerceptualIndex.storedBuckets(spark, dir) === 16)
    // fresh: 11 one bit from A (matches A and B), 12 one bit from C,
    // 13 with chunks (5, 6, 7, 8) — no band shared with anything live
    val fresh = hashes(11L -> 2L, 12L -> (C ^ (1L << 30)),
      13L -> (5L | (6L << 14) | (7L << 28) | (8L << 42)))
    val got = collisions(PerceptualIndex.screen(fresh, "id", "hsh", dir, 6))
    assert(got === oneShot(hist, fresh, 6),
      "maintained screen must equal the one-shot cross-side screen")
    assert(got.contains((11L, 1L, 1)) && got.contains((11L, 2L, 2)) &&
      got.contains((12L, 3L, 1)), s"planted near-dups must surface: $got")
    assert(!got.exists(_._1 == 13L), "a far hash must stay novel")
  }

  test("refresh/delete/compact lifecycle: replay no-ops, erasure stops matching, guard survives the fold") {
    val dir = freshDir("life")
    PerceptualIndex.build(hashes(1L -> A, 4L -> D), "id", "hsh", dir)
    val v1 = PerceptualIndex.refresh(hashes(2L -> B, 3L -> C), "id", "hsh",
      dir, "d1")
    assert(PerceptualIndex.refresh(hashes(2L -> B, 3L -> C), "id", "hsh",
      dir, "d1") === v1, "a replayed delta id must be a no-op")
    val fresh = hashes(11L -> 2L, 12L -> (C ^ (1L << 30)))
    assert(collisions(PerceptualIndex.screen(fresh, "id", "hsh", dir, 6))
      === oneShot(hist, fresh, 6))
    // erase C by id alone, twice under one id
    PerceptualIndex.delete(Seq(3L).toDF("id"), "id", dir, "e1")
    PerceptualIndex.delete(Seq(3L).toDF("id"), "id", dir, "e1")
    val afterDrop = collisions(
      PerceptualIndex.screen(fresh, "id", "hsh", dir, 6))
    assert(afterDrop === oneShot(hist.where(col("id") =!= 3L), fresh, 6))
    assert(!afterDrop.exists(_._2 == 3L), "the erased item must stop matching")
    PerceptualIndex.compact(spark, dir)
    assert(VersionedState.committed(spark, dir).last._2 === "base-compact:B=16",
      "the compacted base label is an on-disk format")
    PerceptualIndex.gc(spark, dir)
    assert(PerceptualIndex.storedBuckets(spark, dir) === 16,
      "the bucket dial must survive the base-compact label")
    // post-compact re-delivery: the sidecar-carried guard holds
    val live = PerceptualIndex.liveIndex(spark, dir).get.count()
    PerceptualIndex.refresh(hashes(2L -> B, 3L -> C), "id", "hsh", dir, "d1")
    assert(PerceptualIndex.liveIndex(spark, dir).get.count() === live,
      "a replayed id must stay a no-op across the compaction")
    assert(collisions(PerceptualIndex.screen(fresh, "id", "hsh", dir, 6))
      === afterDrop)
  }

  test("the skew cap counts BOTH sides; screen reads only the fresh batch's bucket partitions") {
    val dir = freshDir("cap")
    // 30 copies of A's band geometry on the corpus side
    PerceptualIndex.build(
      hashes((1L to 30L).map(i => i -> A): _*), "id", "hsh", dir)
    val fresh = hashes(101L -> A, 102L -> A)
    // cap 10 < 30 corpus + 2 fresh members per (band, chunk): all capped
    assert(collisions(PerceptualIndex.screen(fresh, "id", "hsh", dir, 6,
      maxBucketSize = 10)).isEmpty, "a hot bucket carries no signal")
    assert(collisions(PerceptualIndex.screen(fresh, "id", "hsh", dir, 6))
      .size === 60, "uncapped: every copy pairs with both probes")
    // partition pruning: a SPREAD corpus (40 hashes across many
    // chunk-hash buckets) vs a one-hash probe — the screen must open
    // only the probe's buckets
    val spread = freshDir("spread")
    PerceptualIndex.build(
      hashes((1L to 40L).map(i => i -> (i * 0x0101010101L + i)): _*),
      "id", "hsh", spread, buckets = 8)
    val probe = PerceptualIndex.screen(hashes(101L -> A), "id", "hsh",
      spread, 6)
    val (files, _) = graft.plans.FileScans.selected(probe, Some("bands"))
    val (allFiles, _) = graft.plans.FileScans.selected(
      PerceptualIndex.liveIndex(spark, spread).get, Some("bands"))
    assert(files < allFiles,
      s"the screen must open fewer bucket files than a full read " +
        s"($files vs $allFiles)")
  }

  test("a contract-violating retract's observable state is compaction-invariant") {
    def runIt(compactBetween: Boolean): Set[(Long, Long, Int)] = {
      val dir = freshDir(s"viol$compactBetween")
      PerceptualIndex.build(hist, "id", "hsh", dir)
      PerceptualIndex.retract(hashes(9L -> A), "id", "hsh", dir, "r1")
      if (compactBetween) PerceptualIndex.compact(spark, dir)
      PerceptualIndex.refresh(hashes(9L -> A), "id", "hsh", dir, "re9")
      collisions(PerceptualIndex.screen(hashes(11L -> 2L), "id", "hsh",
        dir, 6))
    }
    assert(runIt(compactBetween = false) === runIt(compactBetween = true),
      "compaction must never change the observable screen, even on " +
        "contract-violating retract input")
  }

  test("build refuses an all-NULL-hash corpus; refresh before build refused; foreign base label surfaced") {
    val dir = freshDir("guards")
    val nulls = Seq(1L, 2L).toDF("id")
      .select(col("id"), lit(null).cast("long").as("hsh"))
    val e0 = intercept[IllegalArgumentException] {
      PerceptualIndex.build(nulls, "id", "hsh", dir)
    }
    assert(e0.getMessage.contains("non-NULL perceptual hash"))
    val e = intercept[IllegalArgumentException] {
      PerceptualIndex.refresh(hist, "id", "hsh", dir)
    }
    assert(e.getMessage.contains("build"))
    val foreign = freshDir("foreign")
    VersionedState.commit(spark, foreign, None, label = "base") { vdir =>
      spark.range(1).write.parquet(s"$vdir/bands")
    }
    val e2 = intercept[IllegalStateException] {
      PerceptualIndex.storedBuckets(spark, foreign)
    }
    assert(e2.getMessage.contains("bucket dial"))
  }

  test("maintain: marker dial trips compaction; drift gate Ok clean, Corruption on an id-less replay") {
    val dir = freshDir("maint")
    var corpus = hashes(1L -> A, 2L -> B)
    PerceptualIndex.build(corpus, "id", "hsh", dir)
    for (b <- 0 until 5) {
      val d = hashes((10L + b) -> (D ^ b.toLong))
      corpus = corpus.unionByName(d)
      val r = PerceptualIndex.maintain(d, "id", "hsh", dir,
        deltaId = s"b$b", maxLiveMarkers = 3, auditCorpus = Some(corpus))
      assert(r.liveMarkers <= 4)
      assert(r.healthy, s"clean maintenance must pass the gate: ${r.gates}")
    }
    val replay = PerceptualIndex.maintain(hashes(14L -> (D ^ 4L)),
      "id", "hsh", dir, deltaId = "b4", maxLiveMarkers = 3)
    assert(replay.replayed)
    // an ID-LESS duplicate delivery is uncatchable by the guard; the
    // drift gate must surface it as corruption
    PerceptualIndex.refresh(hashes(20L -> 0x77L), "id", "hsh", dir)
    PerceptualIndex.refresh(hashes(20L -> 0x77L), "id", "hsh", dir)
    val r = PerceptualIndex.maintain(hashes(21L -> 0x78L), "id", "hsh",
      dir, deltaId = "b5", maxLiveMarkers = 99,
      auditCorpus = Some(corpus
        .unionByName(hashes(20L -> 0x77L, 21L -> 0x78L))))
    assert(r.corrupted,
      s"a doubled unguarded batch must trip the drift gate: ${r.gates}")
  }
}
