package graft

import graft.text.Bm25State
import graft.operators.VersionedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintained BM25 index's contract: scores off disk state ≡ a
  * one-shot q119-style compute on the live corpus (q281 gates that
  * against the DuckDB oracle; here the restart/replay/retract/compact
  * semantics the oracle can't see), erasure via negated counts, and
  * the replay guard surviving compaction.
  */
class Bm25StateSpec extends SparkTestBase {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))

  // "x" is the query term: doc1 has it twice in 4 tokens, doc2 once in
  // 4, doc3 once in 8 (length-penalized), doc4 not at all
  private val hist = docsDf(
    1L -> "x y x z",
    2L -> "x p q r",
    3L -> "m n o x u v w s",
    4L -> "g h i j")

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_bm_$tag").toString + "/st"

  private def top(dir: String, terms: Seq[String] = Seq("x"), k: Int = 10,
                  asOf: Option[Long] = None): Seq[(Long, Double)] =
    Bm25State.topK(spark, dir, terms, k, asOf = asOf)
      .select(col("doc").cast("long"), col("bm25"))
      .as[(Long, Double)].collect().toSeq

  private def postingsSet(dir: String): Set[(String, Long, Long)] =
    Bm25State.livePostings(spark, dir).get
      .select(col("term"), col("doc").cast("long"), col("tf"))
      .as[(String, Long, Long)].collect().toSet

  test("build + topK rank by tf with length normalization; scores match the closed form") {
    val dir = freshDir("build")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    val t = top(dir)
    assert(t.map(_._1) === Seq(1L, 2L, 3L),
      "tf=2 beats tf=1; short doc beats long at equal tf; doc without the term absent")
    // closed form: N=4, df=3, avgdl=5, idf=ln((4-3+0.5)/(3+0.5)+1)
    val idf = math.log((4 - 3 + 0.5) / (3 + 0.5) + 1)
    def s(tf: Int, dl: Int) =
      idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 5.0))
    assert(t.map(_._2) === Seq(s(2, 4), s(1, 4), s(1, 8)).map(v =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("refresh merges only the delta; maintained ≡ one-shot on the union") {
    val dir = freshDir("restart")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    val delta = docsDf(9L -> "x x x y")
    Bm25State.refresh(delta, "doc_id", "tokens", dir, deltaId = "b1")
    val scratch = freshDir("oneshot")
    Bm25State.build(hist.unionByName(delta), "doc_id", "tokens", scratch)
    assert(postingsSet(dir) === postingsSet(scratch),
      "maintained postings must reproduce the one-shot build (drift ≡ 0)")
    assert(top(dir) === top(scratch))
    assert(top(dir).head._1 === 9L, "the delta's tf=3 doc must rank first")
  }

  test("replayed delta id is a no-op; id-less refresh appends") {
    val dir = freshDir("replay")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    val delta = docsDf(9L -> "x x x y")
    val v1 = Bm25State.refresh(delta, "doc_id", "tokens", dir, "b1")
    assert(Bm25State.refresh(delta, "doc_id", "tokens", dir, "b1") === v1)
    assert(postingsSet(dir).count(_._2 == 9L) === 2) // x + y, tf not doubled
    Bm25State.refresh(delta, "doc_id", "tokens", dir) // id-less: appends
    assert(postingsSet(dir).contains(("x", 9L, 6L)),
      "an unguarded replay doubles the counts — the footgun maintain() audits for")
  }

  test("retract erases a doc from postings, N and avgdl; a later refresh re-adds it") {
    val dir = freshDir("retract")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    val before = top(dir)
    Bm25State.retract(hist.where(col("doc_id") === 3L), "doc_id", "tokens",
      dir, "rm-3")
    val after = top(dir)
    assert(!after.exists(_._1 == 3L), "a retracted doc must stop serving")
    assert(Bm25State.liveDocLens(spark, dir).get.count() === 3L,
      "N must shrink — the doc leaves the corpus stats, not just the result")
    assert(after.map(_._2) !== before.filter(_._1 != 3L).map(_._2),
      "scores must re-weight against the smaller corpus (df and avgdl moved)")
    // one-shot on the survivors agrees exactly
    val scratch = freshDir("survivors")
    Bm25State.build(hist.where(col("doc_id") =!= 3L), "doc_id", "tokens",
      scratch)
    assert(after === top(scratch))
    // delete-then-re-add: counts are linear, so the re-add restores
    Bm25State.refresh(hist.where(col("doc_id") === 3L), "doc_id", "tokens",
      dir, "re-3")
    assert(top(dir) === before)
  }

  test("delete by id ≡ retract by rows; double-delete is algebra-idempotent; re-add survives") {
    val dir = freshDir("delete")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    val before = top(dir)
    Bm25State.delete(Seq(3L).toDF("doc_id"), "doc_id", dir, "e1")
    // ≡ the token-rows path on a twin state
    val twin = freshDir("twin")
    Bm25State.build(hist, "doc_id", "tokens", twin)
    Bm25State.retract(hist.where(col("doc_id") === 3L), "doc_id", "tokens",
      twin, "e1")
    assert(postingsSet(dir) === postingsSet(twin),
      "erasure by id must negate exactly what the token rows would")
    assert(top(dir) === top(twin))
    // a second delete under a DIFFERENT id: live counts are already
    // zero, so nothing negates — idempotent by algebra, not just by
    // the replay guard (a double retract of the rows would over-subtract)
    Bm25State.delete(Seq(3L).toDF("doc_id"), "doc_id", dir, "e2")
    assert(postingsSet(dir) === postingsSet(twin))
    assert(Bm25State.liveDocLens(spark, dir).get.count() === 3L)
    // erasure is intent-ordered: a later refresh re-adds
    Bm25State.refresh(hist.where(col("doc_id") === 3L), "doc_id", "tokens",
      dir, "re-3")
    assert(top(dir) === before)
  }

  test("compact folds to one base-compact; totals, topK, replay guard and in-flight readers survive") {
    val dir = freshDir("compact")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    val delta = docsDf(9L -> "x x x y")
    Bm25State.refresh(delta, "doc_id", "tokens", dir, "b1")
    Bm25State.retract(hist.where(col("doc_id") === 3L), "doc_id", "tokens",
      dir, "rm-3")
    val before = postingsSet(dir)
    val topBefore = top(dir)
    val inFlight = Bm25State.livePostings(spark, dir).get
    Bm25State.compact(spark, dir)
    assert(VersionedState.committed(spark, dir).size === 4,
      "default compaction retains the folded horizon")
    assert(inFlight.select(col("term"), col("doc").cast("long"), col("tf"))
      .as[(String, Long, Long)].collect().toSet === before,
      "a plan resolved pre-compaction must still read after it")
    Bm25State.gc(spark, dir) // readers done: reclaim
    assert(VersionedState.committed(spark, dir).map(_._2) ===
      Seq("base-compact:B=16"))
    assert(Bm25State.storedBuckets(spark, dir) === 16,
      "the bucket dial must survive compaction")
    assert(postingsSet(dir) === before)
    assert(top(dir) === topBefore)
    // PRE-compaction ids replay as no-ops via the delivered sidecar
    Bm25State.refresh(delta, "doc_id", "tokens", dir, "b1")
    Bm25State.retract(hist.where(col("doc_id") === 3L), "doc_id", "tokens",
      dir, "rm-3")
    assert(postingsSet(dir) === before,
      "pre-compaction delta AND retract ids stay replay-guarded")
    // maintenance continues on the compacted base
    Bm25State.refresh(docsDf(11L -> "x q"), "doc_id", "tokens", dir, "b2")
    assert(VersionedState.committed(spark, dir).size === 2)
  }

  test("denormalized dl ≡ the doclen-join scorer: same scores, and live postings carry the live length") {
    val dir = freshDir("denorm")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    Bm25State.refresh(docsDf(9L -> "x x x y"), "doc_id", "tokens", dir, "b1")
    Bm25State.delete(Seq(3L).toDF("doc_id"), "doc_id", dir, "e1")
    // a full lifecycle behind us: every live posting's dl must equal
    // the doclen table's live sum for its doc
    val fromPostings = Bm25State.livePostings(spark, dir).get
      .select(col("doc").cast("long"), col("dl")).distinct()
      .as[(Long, Long)].collect().toMap
    val fromDoclen = Bm25State.liveDocLens(spark, dir).get
      .select(col("doc").cast("long"), col("dl"))
      .as[(Long, Long)].collect().toMap
    assert(fromPostings === fromDoclen.filter { case (d, _) =>
      fromPostings.contains(d) },
      "the denormalized dl must equal the doclen table's live sum")
    // score identity: topK (dl off the posting rows) ≡ the normalized
    // formulation (dl via a per-doc join against liveDocLens) — the
    // layout the denormalization replaced
    val tf = Bm25State.livePostings(spark, dir).get
      .where(col("term").isin("x"))
      .drop("dl") // force the join path
    val len = Bm25State.liveDocLens(spark, dir).get
    val stats = len.agg(count(lit(1)).as("nd"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val dft = tf.groupBy("term").agg(countDistinct("doc").as("df"))
    val joined = tf.join(broadcast(dft), "term").join(len, "doc")
      .crossJoin(broadcast(stats))
      .select(col("doc"),
        (log((col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1)
          * (col("tf") * 2.2)
          / (col("tf") + lit(1.2)
              * (lit(1) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("doc").agg(round(sum("s"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc")).limit(10)
      .select(col("doc").cast("long"), col("bm25"))
      .as[(Long, Double)].collect().toSeq
    assert(top(dir) === joined,
      "denormalizing dl must not change a single score bit")
  }

  test("compact defaults the delivered-id cap; oldest ids age out past an explicit tiny cap") {
    val dir = freshDir("cap")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    assert(graft.ann.IndexSegments.DefaultMaxDelivered === 65536)
    val d1 = docsDf(9L -> "x q")
    val d2 = docsDf(10L -> "y q")
    val d3 = docsDf(11L -> "z q")
    Bm25State.refresh(d1, "doc_id", "tokens", dir, "b1")
    Bm25State.refresh(d2, "doc_id", "tokens", dir, "b2")
    Bm25State.refresh(d3, "doc_id", "tokens", dir, "b3")
    // cap 2 keeps the NEWEST two (b2, b3): the sidecar is age-ordered
    Bm25State.compact(spark, dir, retainHorizons = 0, maxDelivered = 2)
    val before = postingsSet(dir)
    Bm25State.refresh(d3, "doc_id", "tokens", dir, "b3") // guarded: no-op
    Bm25State.refresh(d2, "doc_id", "tokens", dir, "b2") // guarded: no-op
    assert(postingsSet(dir) === before,
      "ids inside the cap stay replay-guarded across compaction")
    Bm25State.refresh(d1, "doc_id", "tokens", dir, "b1") // aged out: re-delivers
    assert(postingsSet(dir).contains(("x", 9L, 2L)),
      "an id aged out past the cap is re-deliverable — size the cap to " +
        "exceed the source's replay window")
  }

  test("writeSplits parallelizes a bucket's files; scores, pruning and compaction are unchanged") {
    val one = freshDir("split1")
    val split = freshDir("splitN")
    Bm25State.build(hist, "doc_id", "tokens", one, buckets = 2)
    Bm25State.build(hist, "doc_id", "tokens", split, buckets = 2,
      writeSplits = 4)
    // physical only: same live relation, same scores
    assert(postingsSet(split) === postingsSet(one))
    assert(top(split) === top(one))
    // a bucket directory actually holds multiple part files
    val vdir = VersionedState.versionPath(split, 1L)
    val perBucket = new java.io.File(s"$vdir/postings").listFiles()
      .filter(_.getName.startsWith("b=")).map(
        _.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.exists(_ > 1),
      s"writeSplits must spread a bucket over several files " +
        s"(got ${perBucket.mkString(",")})")
    assert(perBucket.forall(_ <= 4),
      s"a bucket must land in AT MOST `splits` files — more means the " +
        s"exchange keyed on the raw doc instead of a bounded salt and " +
        s"every bucket fanned out to every task (got ${perBucket.mkString(",")})")
    // pruning still skips non-query buckets (partition dirs unchanged)
    val df = Bm25State.topK(spark, split, Seq("x"), 10)
    assert(graft.plans.FileScans.executedScans(df, Some("postings"))
      .forall(_.partitionFilters.nonEmpty))
    // a split compact folds identically
    Bm25State.refresh(docsDf(9L -> "x q"), "doc_id", "tokens", split, "b1")
    Bm25State.refresh(docsDf(9L -> "x q"), "doc_id", "tokens", one, "b1")
    Bm25State.compact(spark, split, retainHorizons = 0, writeSplits = 4)
    Bm25State.compact(spark, one, retainHorizons = 0)
    assert(postingsSet(split) === postingsSet(one))
    assert(top(split) === top(one))
  }

  test("compact refuses a fully-erased state (an empty bucket-partitioned base has no schema anchor)") {
    val dir = freshDir("erased")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    Bm25State.delete(hist.select("doc_id"), "doc_id", dir, "all")
    assert(Bm25State.livePostings(spark, dir).get.count() === 0L)
    val e = intercept[IllegalArgumentException] {
      Bm25State.compact(spark, dir)
    }
    assert(e.getMessage.contains("EMPTY"))
    // the unfolded horizon stays healthy: reads work, a refresh revives
    Bm25State.refresh(docsDf(9L -> "x y"), "doc_id", "tokens", dir, "re")
    assert(top(dir).map(_._1) === Seq(9L))
    Bm25State.compact(spark, dir) // non-empty again: folds fine
    assert(top(dir).map(_._1) === Seq(9L))
  }

  test("a stored dir predating the denormalized layout fails with the rebuild remedy, not an opaque error") {
    val dir = freshDir("legacy")
    // hand-commit a v1 base whose postings lack the dl column (the
    // pre-denormalization layout)
    VersionedState.commit(spark, dir, None, label = "base:B=4") { vdir =>
      Seq(("x", 1L, 2L)).toDF("term", "doc", "tf")
        .withColumn("b", Bm25State.bucketExpr(col("term"), 4))
        .write.partitionBy("b").parquet(s"$vdir/postings")
      Seq((1L, 4L)).toDF("doc", "dl").write.parquet(s"$vdir/doclen")
    }
    val e = intercept[IllegalArgumentException] {
      Bm25State.livePostings(spark, dir).get.collect()
    }
    assert(e.getMessage.contains("predates") &&
      e.getMessage.contains("build()"),
      s"must name the missing column and the remedy: ${e.getMessage}")
  }

  test("a doc's tokens split across two refreshes is contract-violating and trips the drift gate") {
    val dir = freshDir("split-arrival")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    // doc 9's content arrives in two halves under two ids — the flow
    // the whole-doc-per-commit contract forbids (delete + re-ingest
    // whole is the supported update path)
    Bm25State.refresh(docsDf(9L -> "x y"), "doc_id", "tokens", dir, "h1")
    val r = Bm25State.maintain(docsDf(9L -> "x z"), "doc_id", "tokens",
      dir, deltaId = "h2", maxLiveMarkers = 99,
      auditCorpus = Some(hist.unionByName(docsDf(9L -> "x y x z"))))
    assert(r.corrupted,
      "per-term dl divergence from a split arrival must surface as " +
        s"Corruption, not silent score drift: ${r.gates}")
  }

  test("build refuses an empty corpus (an all-empty base would poison later schema reads)") {
    val dir = freshDir("empty")
    val e = intercept[IllegalArgumentException] {
      Bm25State.build(hist.where(col("doc_id") > 100L), "doc_id", "tokens", dir)
    }
    assert(e.getMessage.contains("non-empty"))
  }

  test("a precomputed stats row is score-identical to the per-query derivation") {
    val dir = freshDir("stats")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    val st = Bm25State.stats(spark, dir).localCheckpoint() // once per cut
    val viaPre = Bm25State.topK(spark, dir, Seq("x"), 10,
        precomputedStats = Some(st))
      .select(col("doc").cast("long"), col("bm25"))
      .as[(Long, Double)].collect().toSeq
    assert(viaPre === top(dir),
      "the serving-layer fast path must not change a single score bit")
    assert(st.as[(Long, Double)].head() === ((4L, 5.0)))
  }

  test("asOf pins a manifest cut: pre-retract reads survive the head moving") {
    val dir = freshDir("asof")
    Bm25State.build(hist, "doc_id", "tokens", dir) // v1
    val pinned = top(dir)
    Bm25State.retract(hist.where(col("doc_id") === 1L), "doc_id", "tokens",
      dir, "rm-1") // v2
    assert(top(dir, asOf = Some(1L)) === pinned,
      "a cut pinned before the erasure must still score doc 1")
    assert(!top(dir).exists(_._1 == 1L))
  }

  test("refresh before build is refused; empty query is refused; foreign base label surfaced") {
    val dir = freshDir("guards")
    val e = intercept[IllegalArgumentException] {
      Bm25State.refresh(hist, "doc_id", "tokens", dir)
    }
    assert(e.getMessage.contains("build"))
    Bm25State.build(hist, "doc_id", "tokens", dir)
    val e2 = intercept[IllegalArgumentException] {
      Bm25State.topK(spark, dir, Nil, 10)
    }
    assert(e2.getMessage.contains("empty query"))
    // a foreign versioned-state dir (e.g. an ExactSubstr state) must
    // not be silently misread as a BM25 index
    val foreign = freshDir("foreign")
    VersionedState.commit(spark, foreign, None, label = "base:L=6") { vdir =>
      spark.range(1).write.parquet(s"$vdir/postings")
    }
    val e3 = intercept[IllegalStateException] {
      Bm25State.storedBuckets(spark, foreign)
    }
    assert(e3.getMessage.contains("bucket dial"))
  }

  test("topK opens only the query terms' bucket partitions; bucketOf ≡ bucketExpr") {
    val dir = freshDir("prune")
    Bm25State.build(hist, "doc_id", "tokens", dir, buckets = 8)
    // the driver-side twin matches the column expression on every term
    val pairs = hist.select(explode(col("tokens")).as("term")).distinct()
      .select(col("term"), Bm25State.bucketExpr(col("term"), 8).as("be"))
      .as[(String, Int)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (t, be) => Bm25State.bucketOf(t, 8) == be },
      "query planning computes buckets driver-side — it must agree " +
        "with the write-side column bit-exactly")
    // terms must spread over >1 bucket or the pruning assertion is vacuous
    val vdir = VersionedState.versionPath(dir, 1L)
    val bucketDirs = new java.io.File(s"$vdir/postings").listFiles()
      .count(_.getName.startsWith("b="))
    assert(bucketDirs > 1, s"fixture spreads over $bucketDirs buckets")
    // the on-disk format: every partition directory is postings/b=<b>, b < B
    assert(new java.io.File(s"$vdir/postings").listFiles().filter(_.isDirectory)
      .forall(f => f.getName.matches("b=\\d+") && f.getName.drop(2).toInt < 8),
      "postings must partition as postings/b=<bucket>")
    val df = Bm25State.topK(spark, dir, Seq("x"), 10)
    val postingScans = graft.plans.FileScans.executedScans(df,
      Some("postings"))
    assert(postingScans.nonEmpty, "the postings scan must be visible")
    assert(postingScans.forall(_.partitionFilters.nonEmpty),
      "the bucket predicate must reach the scan as a PARTITION filter " +
        "— a data filter would still open every bucket directory")
    val filesRead = postingScans.map(_.metrics("numFiles").value).sum
    assert(filesRead < bucketDirs,
      s"a 1-term query must open fewer bucket files than exist " +
        s"($filesRead vs $bucketDirs) — partition pruning is the point")
    // with a precomputed per-cut stats row, the pruned postings buckets
    // are the query's ONLY table input: no doclen (or any other
    // corpus-sized) scan anywhere in the serve plan
    val st = Bm25State.stats(spark, dir).localCheckpoint()
    val served = Bm25State.topK(spark, dir, Seq("x"), 10,
      precomputedStats = Some(st))
    val allScans = graft.plans.FileScans.executedScans(served)
    assert(allScans.nonEmpty && allScans.forall(_.relation.location.rootPaths
      .exists(_.toString.contains("postings"))),
      "the serve path must read postings buckets ONLY — the doclen join " +
        "was the one per-query cost that grew with the corpus")
  }

  test("maintain: marker dial trips compaction; drift gate Ok clean, Corruption on an id-less replay") {
    val dir = freshDir("maintain")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    var corpus = hist
    for (b <- 0 until 6) {
      val d = docsDf((100L + b) -> s"x w$b z")
      corpus = corpus.unionByName(d)
      val r = Bm25State.maintain(d, "doc_id", "tokens", dir,
        deltaId = s"b$b", maxLiveMarkers = 3,
        auditCorpus = Some(corpus))
      assert(!r.replayed)
      assert(r.liveMarkers <= 4,
        s"horizon must stay bounded by the dial (got ${r.liveMarkers})")
      assert(r.healthy, s"clean maintenance must pass the drift gate: ${r.gates}")
    }
    // the at-least-once footgun: one batch delivered twice WITHOUT an id
    val dup = docsDf(200L -> "x x q")
    corpus = corpus.unionByName(dup)
    Bm25State.refresh(dup, "doc_id", "tokens", dir)
    Bm25State.refresh(dup, "doc_id", "tokens", dir)
    val r = Bm25State.maintain(docsDf(201L -> "z z"), "doc_id", "tokens",
      dir, deltaId = "b9", maxLiveMarkers = 99,
      auditCorpus = Some(corpus.unionByName(docsDf(201L -> "z z"))))
    assert(r.corrupted,
      "a doubled unguarded batch must trip the drift gate as Corruption")
  }

  test("a contract-violating retract's observable state is compaction-invariant (negatives fold, not drop)") {
    // doc 9 was NEVER ingested; retracting its rows leaves negative
    // totals. The contract says the doc is then dead to a later
    // refresh — and that verdict must not depend on whether a compact
    // ran in between (the old positive-only fold dropped the negatives
    // and the refresh revived the doc on the compacted twin only).
    def runIt(compactBetween: Boolean): (Seq[(Long, Double)], Long) = {
      val dir = freshDir(s"viol$compactBetween")
      Bm25State.build(hist, "doc_id", "tokens", dir)
      Bm25State.retract(docsDf(9L -> "x y"), "doc_id", "tokens", dir, "r1")
      if (compactBetween) Bm25State.compact(spark, dir)
      Bm25State.refresh(docsDf(9L -> "x y"), "doc_id", "tokens", dir, "re9")
      (top(dir), Bm25State.livePostings(spark, dir).get.count())
    }
    val (tPlain, nPlain) = runIt(compactBetween = false)
    val (tCompacted, nCompacted) = runIt(compactBetween = true)
    assert(tPlain === tCompacted && nPlain === nCompacted,
      "compaction must never change observable state, even on " +
        "contract-violating retract input")
    assert(!tPlain.map(_._1).contains(9L),
      "the violated-then-refreshed doc sums to ≤ 0 and stays dead " +
        "(the drift gate, not compaction, is where the violation surfaces)")
  }

  test("build refuses a corpus whose docs are ALL token-less (derived-payload guard)") {
    val dir = freshDir("alltokless")
    val tokless = Seq(1L, 2L).toDF("doc_id")
      .select(col("doc_id"), expr("array()").cast("array<string>").as("tokens"))
    val e = intercept[IllegalArgumentException] {
      Bm25State.build(tokless, "doc_id", "tokens", dir)
    }
    assert(e.getMessage.contains("non-empty token array"),
      s"token-less docs write no postings; the raw non-empty check is " +
        s"not enough: ${e.getMessage}")
  }

  test("requireNewDocs rejects a live doc's second refresh up front; fresh docs and crash-replays pass") {
    val dir = freshDir("reqnew")
    Bm25State.build(hist, "doc_id", "tokens", dir)
    val e = intercept[IllegalArgumentException] {
      Bm25State.refresh(docsDf(1L -> "x q"), "doc_id", "tokens", dir,
        deltaId = "h2", requireNewDocs = true)
    }
    assert(e.getMessage.contains("already LIVE"))
    assert(VersionedState.currentVersion(spark, dir) === Some(1L),
      "the rejected refresh must not commit")
    // a genuinely new doc passes the guard
    val v = Bm25State.refresh(docsDf(9L -> "x y"), "doc_id", "tokens", dir,
      deltaId = "d9", requireNewDocs = true)
    assert(v === 2L)
    // a crash-replay of that id names its own (now live) doc — the
    // replay guard answers BEFORE the disjointness check
    val vr = Bm25State.refresh(docsDf(9L -> "x y"), "doc_id", "tokens", dir,
      deltaId = "d9", requireNewDocs = true)
    assert(vr === v, "a replayed id must stay a no-op under the guard")
    // the composed-loop hazard (q290/q294's refresh calls run with the
    // guard ON): the REST of doc 9's tokens arriving under a NEW id is
    // a split arrival — rejected up front, not left for the drift gate
    val e2 = intercept[IllegalArgumentException] {
      Bm25State.refresh(docsDf(9L -> "z w"), "doc_id", "tokens", dir,
        deltaId = "d9-rest", requireNewDocs = true)
    }
    assert(e2.getMessage.contains("already LIVE"),
      "a split arrival inside the admission loop must be rejected")
    assert(VersionedState.currentVersion(spark, dir) === Some(v),
      "the rejected split arrival must not commit")
  }
}
