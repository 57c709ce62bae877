package graft

import graft.ann.IndexSegments
import graft.dedup.{BandedIndex, ExactSubstr}
import graft.multimodal.PerceptualIndex
import graft.operators.VersionedState
import graft.text.Bm25State
import org.apache.spark.graftaccess.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The [[graft.operators.CountedState]] engine's own costs and edges:
  * the Spark jobs each lifecycle call launches (the empty-guards ride
  * the write, the base schema comes from one footer, the rewrite folds
  * behind one exchange), the footer-read schema against Spark's
  * inference, and what a refused commit leaves on disk.
  */
class CountedStateSpec extends SparkTestBase {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))

  private val hist = docsDf(
    1L -> "alpha beta gamma delta epsilon",
    2L -> "alpha beta gamma delta epsilon",
    3L -> "red green blue cyan magenta",
    4L -> "red green blue cyan magenta",
    5L -> "one two three four five six")

  /** `df` written to parquet and read back: a file-backed frame (as a
    * pipeline's input is), resolved before any job is counted.
    */
  private def onDisk(df: DataFrame, tag: String): DataFrame = {
    val p = s"${tempDir(s"graft-cs-$tag")}/t"
    df.write.parquet(p)
    spark.read.parquet(p)
  }

  /** The Spark jobs `body` launches, counted by a listener like
    * `graft.Profile`'s StageLines (the bus drained on both sides).
    */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusAccess.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(l)
    try {
      body
      ListenerBusAccess.waitUntilListenerBusEmpty(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }

  private def vdirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.startsWith("v")).sorted

  private def listing(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.toArray.toSeq.map(p => root.relativize(p.asInstanceOf[java.nio.file.Path]).toString).sorted
    finally s.close()
  }

  test("a BandedIndex lifecycle launches only the jobs its outputs need") {
    val dir = freshDir("jobs")
    val base = onDisk(hist, "base")
    val batch = onDisk(docsDf(6L -> "alpha beta gamma delta zeta",
      7L -> "seven eight nine ten eleven"), "batch")
    val probe = onDisk(docsDf(9L -> "alpha beta gamma delta epsilon",
      10L -> "red green blue cyan black"), "probe")
    val noProbe = probe.where(col("doc_id") < 0L)
    val erase = onDisk(Seq(2L, 7L).toDF("doc_id"), "erase")
    def screened(fresh: DataFrame): Long =
      BandedIndex.screen(fresh, "doc_id", "tokens", dir).count()
    var hits = -1L
    var empty = -1L
    val got = ListMap(
      "build" -> jobs(BandedIndex.build(base, "doc_id", "tokens", dir)),
      "refresh" -> jobs(BandedIndex.refresh(batch, "doc_id", "tokens", dir, "b0")),
      "screen" -> jobs { hits = screened(probe) },
      "screen-empty" -> jobs { empty = screened(noProbe) },
      "delete" -> jobs(BandedIndex.delete(erase, "doc_id", dir, "erase")),
      "compact" -> jobs(BandedIndex.compact(spark, dir)))
    assert(hits > 0L && empty === 0L)
    // build: the bucket exchange + the write (its row count rides it);
    // screen: checkpoint (observing its buckets) + the probe's stages;
    // delete and compact: one exchange ahead of the write
    assert(got === ListMap("build" -> 2, "refresh" -> 2, "screen" -> 6,
      "screen-empty" -> 2, "delete" -> 3, "compact" -> 2))
    // the compacted version still writes one file per bucket
    val bands = new java.io.File(VersionedState.versionPath(dir,
      VersionedState.currentVersion(spark, dir).get) + "/bands")
    val perBucket = bands.listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.nonEmpty && perBucket.forall(_ == 1),
      s"one file per bucket, got ${perBucket.mkString(",")}")
  }

  test("the screen's observed buckets: an empty probe and a PerceptualIndex probe") {
    val dir = freshDir("pscreen")
    val items = Seq(1L -> 0L, 2L -> 1L, 3L -> ((1L << 56) - 1)).toDF("id", "hsh")
    PerceptualIndex.build(items, "id", "hsh", dir)
    val fresh = Seq(11L -> 2L, 12L -> 0x00AA55AA55AA55L).toDF("id", "hsh")
    assert(PerceptualIndex.screen(fresh, "id", "hsh", dir, 6)
      .select(col("id"), col("matched_id")).as[(Long, Long)].collect().toSet ===
      Set((11L, 1L), (11L, 2L)))
    assert(PerceptualIndex.screen(fresh.where(col("id") < 0L), "id", "hsh", dir, 6)
      .count() === 0L, "an empty probe observes no bucket and reads none")
    val nulls = Seq[(Long, java.lang.Long)](13L -> null).toDF("id", "hsh")
    assert(PerceptualIndex.screen(nulls, "id", "hsh", dir, 6).count() === 0L,
      "a probe deriving no band row observes an empty bucket set")
  }

  private def footerMatches(dir: String, table: String): Unit = {
    val t = s"${VersionedState.versionPath(dir,
      VersionedState.currentVersion(spark, dir).get)}/$table"
    assert(IndexSegments.footerSchema(spark, t) === Some(spark.read.parquet(t).schema),
      s"$table: the footer-read schema must equal Spark's inference")
  }

  test("the footer-read base schema equals Spark's inference for every family's tables") {
    val bm = freshDir("bm25")
    Bm25State.build(hist, "doc_id", "tokens", bm)
    footerMatches(bm, "postings") // bucketed
    footerMatches(bm, "doclen") // unpartitioned
    val longIds = freshDir("bandsLong")
    BandedIndex.build(hist, "doc_id", "tokens", longIds)
    footerMatches(longIds, "bands")
    val strIds = freshDir("bandsStr")
    BandedIndex.build(hist.select(col("doc_id").cast("string").as("doc_id"),
      col("tokens")), "doc_id", "tokens", strIds)
    footerMatches(strIds, "bands")
    val es = freshDir("exact")
    ExactSubstr.build(hist, "doc_id", "tokens", L = 3, es)
    footerMatches(es, "hashes")
    val pi = freshDir("perceptual")
    PerceptualIndex.build(Seq(1L -> 0L, 2L -> 77L).toDF("id", "hsh"), "id", "hsh", pi)
    footerMatches(pi, "bands")
    // a segment with no data file has no footer: the reader falls back
    BandedIndex.refresh(hist.where(col("doc_id") < 0L), "doc_id", "tokens", longIds)
    val emptySeg = s"${VersionedState.versionPath(longIds,
      VersionedState.currentVersion(spark, longIds).get)}/bands"
    assert(IndexSegments.footerSchema(spark, emptySeg) === None)
    assert(IndexSegments.footerSchema(spark, s"$longIds/absent") === None)
  }

  test("a refused build leaves no version dir; the next build commits") {
    val tokless = Seq(1L, 2L).toDF("doc_id")
      .select(col("doc_id"), expr("array()").cast("array<string>").as("tokens"))
    val bands = freshDir("refusedBands")
    val e = intercept[IllegalArgumentException] {
      BandedIndex.build(tokless, "doc_id", "tokens", bands)
    }
    assert(e.getMessage.contains("joinable band row"))
    assert(vdirs(bands).isEmpty, s"left ${vdirs(bands)}")
    assert(BandedIndex.build(hist, "doc_id", "tokens", bands) === 1L)
    // two tables written side by side: the unbucketed doclen completes
    // before the postings refusal, and is removed with it
    val bm = freshDir("refusedBm25")
    Bm25State.build(hist, "doc_id", "tokens", bm)
    val before = listing(bm)
    val e2 = intercept[IllegalArgumentException] {
      Bm25State.build(tokless, "doc_id", "tokens", bm)
    }
    assert(e2.getMessage.contains("non-empty token array"))
    assert(listing(bm) === before, "a refused rebuild leaves the prior state as it was")
    assert(Bm25State.build(hist, "doc_id", "tokens", bm) === 2L)
  }

  test("a refused compaction leaves the listing unchanged; the next commit succeeds") {
    val dir = freshDir("refusedCompact")
    BandedIndex.build(hist, "doc_id", "tokens", dir)
    BandedIndex.delete(hist.select("doc_id"), "doc_id", dir, "all")
    val before = listing(dir)
    val e = intercept[IllegalArgumentException] {
      BandedIndex.compact(spark, dir)
    }
    assert(e.getMessage.contains("EMPTY"))
    assert(listing(dir) === before)
    val next = BandedIndex.refresh(docsDf(9L -> "alpha beta gamma delta epsilon"),
      "doc_id", "tokens", dir, "re")
    assert(next === 3L)
    assert(BandedIndex.compact(spark, dir) === 4L)
    assert(BandedIndex.liveBands(spark, dir).get.select("id").distinct()
      .as[Long].collect().toSeq === Seq(9L))
  }
}
