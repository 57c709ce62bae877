package graft.text

import graft.ann.IndexSegments
import graft.operators.{Bucket, CountedState, CountedTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The RETRIEVAL member of the durable maintenance family: a BM25
  * inverted index (term postings + document lengths) maintained as
  * [[graft.operators.VersionedState]] across corpus ingest batches —
  * the production shape of batch q119 (which computes BM25 one-shot
  * per query): a web-scale corpus evolves by ingest and erasure
  * batches, and the postings table is the artifact you maintain, not
  * recompute per query.
  *
  * Both state components are LINEAR COUNTS — a posting is (term, doc,
  * tf) and a length is (doc, dl) — so the whole
  * [[graft.dedup.ExactSubstr]] count algebra transfers: a refresh
  * commits ONLY the batch's postings (history is never re-tokenized),
  * a deletion is a merge of NEGATED counts (no tombstones — unlike the
  * ANN index family, whose rows are not additive), compaction folds
  * the horizon into one table of the nonzero totals, and ANY
  * drift vs a one-shot recount is corruption by construction, never
  * approximation.
  *
  * == State layout ==
  *
  * One versioned-state directory; every version's payload is a
  * `postings/` parquet table (term STRING, doc, tf BIGINT, dl
  * BIGINT), PARTITIONED BY a term-hash bucket `b` (the first 8 md5
  * hex digits of the term mod B — B a build-time dial carried in the
  * base label, recovered from disk on every later commit so
  * maintainers cannot desynchronize it), and an unpartitioned
  * `doclen/` table (doc, dl BIGINT). The document length is
  * DENORMALIZED into every posting row: dl is known at every commit
  * (build/refresh tokenize the batch; retract/delete negate LIVE
  * rows, which already carry it) and negates alongside tf, so the
  * count algebra is unchanged — and the serving path never joins a
  * corpus-sized table (see the scale-shape note below). The
  * `doclen/` table remains the N/avgdl STATS source only (one
  * doc-count-sized agg folding to one row per cut). Labels
  * (`base:B=<n>`, `delta:<id>`, `retract:<id>`, `drop:<id>`,
  * `base-compact:B=<n>`), replay, compaction and the live sums
  * ([[livePostings]] / [[liveDocLens]]) are the
  * [[graft.operators.CountedState]] engine's.
  *
  * == Scale shape (100 TB) ==
  *
  * The per-batch state delta is one token explode + hash agg OVER THE
  * BATCH (the inverted-index build cost of the batch alone). A query
  * filters the postings union by its terms' BUCKETS and the terms
  * themselves BEFORE the live-sum agg: the bucket predicate is a
  * PARTITION filter (a k-term query opens ≤ k of B directories per
  * segment — a file skip), the term predicate a pushed data filter
  * inside them (a row skip) — and because dl rides the posting row,
  * the per-doc length needs NO lookup join: EVERY per-query input is
  * bounded by the query terms' postings, never the corpus. Corpus
  * stats (N, avgdl) are one doc-count-sized agg folding to one row,
  * computed once per manifest cut by a serving layer ([[stats]] →
  * `precomputedStats`) — with it, a query's total selected bytes are
  * the pruned postings buckets alone (`graft.Profile bm25`'s
  * `scan_mb_serve_total` field). The segment fan-out and the
  * driver-side marker scan are bounded by [[compact]], exactly like
  * the rest of the family.
  */
object Bm25State {

  /** Batch postings: (term, doc, tf) — one explode + one hash agg over
    * the batch given (map-side partial agg keeps the shuffle at
    * distinct-(term, doc) size).
    */
  def postings(toks: DataFrame, idCol: String, toksCol: String): DataFrame =
    toks.select(col(idCol).as("doc"), explode(col(toksCol)).as("term"))
      .groupBy("term", "doc").agg(count(lit(1)).as("tf"))

  /** Batch document lengths: (doc, dl), zero-token docs excluded (they
    * carry no postings and must not count toward N or avgdl — q119's
    * `len(tokens) >= 1` filter).
    */
  def docLens(toks: DataFrame, idCol: String, toksCol: String): DataFrame =
    toks.where(size(col(toksCol)) >= 1)
      .select(col(idCol).as("doc"), size(col(toksCol)).cast("long").as("dl"))

  /** Batch postings WITH the doc length denormalized onto every row:
    * (term, doc, tf, dl) — the stored payload shape, ONE pass over the
    * batch (dl = size(tokens) rides through the explode as a grouping
    * key; under the one-row-per-doc batch contract it is functionally
    * dependent on doc, so the group is exactly (term, doc)). Same
    * shuffle as [[postings]] — no second scan, no join.
    */
  def postingsWithDl(toks: DataFrame, idCol: String,
                     toksCol: String): DataFrame =
    toks.where(size(col(toksCol)) >= 1)
      .select(col(idCol).as("doc"),
        size(col(toksCol)).cast("long").as("dl"),
        explode(col(toksCol)).as("term"))
      .groupBy("term", "doc", "dl").agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc"), col("tf"), col("dl"))

  /** The term-hash bucket COLUMN: first 8 md5 hex digits mod B —
    * md5 for the repo's portable-hash discipline (the family's
    * [[graft.operators.CountedState.bucketExpr]]), byte-equal to
    * [[bucketOf]] (the driver-side twin query planning uses).
    */
  def bucketExpr(term: Column, nB: Int): Column =
    CountedState.bucketExpr(term, nB)

  /** Driver-side twin of [[bucketExpr]]: the bucket of one term. */
  def bucketOf(term: String, nB: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % nB).toInt
  }

  private val Postings = CountedTable("postings", Seq("term", "doc"),
    Seq("tf", "dl"), Some(Bucket("b", "term", "doc with a non-empty token array")))

  private val DocLens = CountedTable("doclen", Seq("doc"), Seq("dl"))

  // the guard is on the DERIVED postings, not the raw input: a corpus
  // whose docs all have EMPTY token arrays passes a raw non-empty check
  // while postings/doclen (filtered by size ≥ 1) derive no row
  private val State = new CountedState(Seq(Postings, DocLens),
    dialNames = Seq("B"), dialNoun = "bucket dial",
    dirNoun = "a Bm25State directory", id = Some("doc"),
    derive = (toks, idCol, toksCol, _) => Seq(
      postingsWithDl(toks, idCol, toksCol), docLens(toks, idCol, toksCol)))

  /** The bucket count the stored state was partitioned with. `asOf`
    * pins the read to a committed version (a manifest cut).
    */
  def storedBuckets(spark: SparkSession, stateDir: String,
                    asOf: Option[Long] = None): Int =
    State.storedDials(spark, stateDir, asOf)("B")

  /** Full (re)build: the inverted index of the entire corpus given,
    * committed as `base:B=<buckets>`; prior versions (and the
    * replay-guard horizon) GC'd. `buckets` sizes the postings'
    * term-hash partitioning — the dial to raise with corpus size
    * (16 keeps the toy testdata at one small file per bucket; a
    * 100 TB corpus wants 1024+, each bucket a directory a k-term
    * query never opens unless it has to). `writeSplits` (> 1)
    * parallelizes each bucket's corpus-sized write/read into ~that
    * many files — size so bucket files land near the input split size
    * (bytes/B/splits ≈ `maxPartitionBytes`); deltas don't need it.
    * A corpus with no non-empty token array is refused (start an
    * index with the first real batch's build, not an empty one).
    */
  def build(toks: DataFrame, idCol: String, toksCol: String,
            stateDir: String, buckets: Int = 16,
            writeSplits: Int = 1): Long = {
    require(buckets >= 1, s"buckets must be ≥ 1, got $buckets")
    State.build(toks, idCol, toksCol, stateDir,
      Seq("B" -> buckets), writeSplits)
  }

  /** Incremental refresh: postings + lengths of ONLY the delta docs.
    * `deltaId` (optional) makes the refresh replay-idempotent.
    *
    * ⚠ Family contract: a doc's tokens arrive WHOLE in one commit, and
    * a live doc is updated by [[delete]] + re-[[refresh]], never by a
    * second refresh of the same id. The denormalized layout depends on
    * it: splitting one doc's content across two refreshes leaves each
    * (term, doc)'s dl summing only over the commits that term appeared
    * in — per-term lengths diverge and scores silently differ from the
    * doclen-join formulation (which this layout replaced precisely
    * because no shipped pipeline used incremental per-doc appends).
    * The [[maintain]] drift gate reports a split arrival as Corruption
    * when an `auditCorpus` is supplied; `requireNewDocs = true` rejects
    * it UP FRONT instead — one doc-count-sized scan of the live
    * lengths against the broadcast batch ids, checked after the replay
    * guard (a crash-replayed batch legitimately names its own docs).
    */
  def refresh(toks: DataFrame, idCol: String, toksCol: String,
              stateDir: String, deltaId: String = "",
              requireNewDocs: Boolean = false): Long =
    State.refresh(toks, idCol, toksCol, stateDir, deltaId,
      check = if (requireNewDocs) {
        val dup = liveDocLens(toks.sparkSession, stateDir).get
          .join(broadcast(toks.select(col(idCol).as("doc")).distinct()), "doc")
          .select("doc").limit(3).collect().map(_.get(0))
        require(dup.isEmpty,
          s"refresh delta names docs already LIVE in $stateDir (e.g. " +
            s"${dup.mkString(", ")}) — a live doc is updated by delete() " +
            "+ re-refresh(), never a second refresh (the denormalized dl " +
            "rides each commit whole)")
      })

  /** Remove docs from the maintained index: commit their postings and
    * lengths NEGATED (counts are linear — the dedup pipeline's
    * erasure verdicts are a merge here, no tombstones needed). The
    * caller passes the same token rows the docs contributed when
    * added; when the doc store is no longer queryable, use [[delete]]
    * — the postings name the doc, so the rows can be re-derived from
    * the live state.
    *
    * ⚠ Contract hazard (prefer [[delete]] for erasure): retracting
    * token rows the doc never contributed leaves NEGATIVE stored
    * totals — a later [[refresh]] of that doc sums to ≤ 0 and the doc
    * stays dead. [[compact]] preserves nonzero totals (negatives
    * included), so the dead-doc state is at least compaction-invariant
    * — but it is still WRONG relative to the caller's intent, and only
    * the drift gate ([[maintain]] with an `auditCorpus`) surfaces it,
    * as Corruption. [[delete]] has no such mode — it negates LIVE
    * totals, so it is idempotent at the algebra level. The same hazard
    * note applies to [[graft.dedup.ExactSubstr.retract]].
    */
  def retract(toks: DataFrame, idCol: String, toksCol: String,
              stateDir: String, deltaId: String = ""): Long =
    State.retract(toks, idCol, toksCol, stateDir, deltaId)

  /** Erasure BY ID ALONE: negate the docs' LIVE postings and lengths —
    * no token rows needed (unlike [[retract]] and ExactSubstr.retract,
    * the postings name the doc, so the negation re-derives from the
    * state itself). Deriving from the LIVE totals also makes deletion
    * idempotent at the ALGEBRA level, not just the replay guard: a
    * second delete of the same ids (even under a different delta id)
    * sees zero live counts and negates nothing — where a double
    * [[retract]] of the same token rows under two ids would
    * over-subtract. A later [[refresh]] re-adds the doc (erasure is
    * intent-ordered, like the ANN family's latest-wins tombstones).
    * `ids` is a one-column relation of doc ids (erasure-batch-sized,
    * broadcast against one scan of the live tables).
    */
  def delete(ids: DataFrame, idCol: String, stateDir: String,
             deltaId: String = ""): Long =
    State.delete(ids, idCol, stateDir, deltaId)

  /** The LIVE postings (term, doc, tf, dl): per-key totals summed
    * across every version since the latest base, positive tf totals
    * only — dl sums by the same linear algebra (it was committed
    * alongside tf and negated alongside it), so a live row's dl IS
    * the doc's live length PROVIDED each doc's tokens arrived whole
    * per commit (the [[refresh]] contract — split arrivals leave
    * per-term dl divergent, which the drift gate surfaces).
    * None before the first commit. With
    * `terms` given, the read filters to those terms' BUCKET
    * PARTITIONS (a file skip — ≤ k of B directories per segment open)
    * plus the terms themselves (a pushed row filter inside them)
    * BEFORE the live-sum agg. `asOf` pins the read to a committed
    * version (a manifest cut; the pinned horizon must still be on
    * disk — retention keeps one folded horizon, [[gc]] reclaims it).
    */
  def livePostings(spark: SparkSession, stateDir: String,
                   asOf: Option[Long] = None,
                   terms: Option[Seq[String]] = None): Option[DataFrame] = {
    val where = terms.map { ts =>
      val nB = storedBuckets(spark, stateDir, asOf)
      val bs = ts.map(bucketOf(_, nB)).distinct
      col("b").isin(bs: _*) && col("term").isin(ts: _*)
    }
    State.live(spark, stateDir, Postings, asOf, where)
  }

  /** The LIVE document lengths (doc, dl) — same algebra; the N/avgdl
    * STATS source (the serving path reads dl off the postings rows).
    * A fully retracted doc sums to 0 and drops out of N and avgdl.
    */
  def liveDocLens(spark: SparkSession, stateDir: String,
                  asOf: Option[Long] = None): Option[DataFrame] =
    State.live(spark, stateDir, DocLens, asOf)

  /** Corpus stats — one row (nd, avgdl) derived from the live doc
    * lengths (exact: derived, never maintained additively, so a
    * re-ingested doc can't desynchronize them from the doclen truth).
    * The derivation is a doc-count-sized scan folding to one row, and
    * the result only changes at COMMITS — a serving layer computes
    * this once per manifest cut (collect the single row, re-`lit` it)
    * and passes it to [[topK]], which otherwise recomputes per query
    * for self-containment.
    */
  def stats(spark: SparkSession, stateDir: String,
            asOf: Option[Long] = None): DataFrame =
    liveDocLens(spark, stateDir, asOf).getOrElse(
        throw new IllegalStateException(s"no committed state at $stateDir"))
      .agg(count(lit(1)).as("nd"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl"))

  /** BM25 top-k over the maintained index (k1/b the Robertson defaults,
    * the +1 idf form — q119's scorer verbatim): per-term partial
    * scores summed per doc, ROUNDED to `roundTo` digits (ties broken
    * by doc), cut by TakeOrderedAndProject — per-partition top-k then
    * a k-row merge, never a corpus sort. The term filter lands below
    * the live-sum agg and the segment union; df/stats ride one-row /
    * k-row broadcasts; dl rides the posting rows themselves, so there
    * is NO per-doc length lookup join — with `precomputedStats` (a
    * [[stats]] result, one row per cut — same arithmetic or the
    * scores change) the query's only table input is the pruned
    * postings buckets. Without it, the corpus-stats derivation scans
    * the doclen table once (doc-count-sized) for self-containment.
    */
  def topK(spark: SparkSession, stateDir: String, terms: Seq[String],
           k: Int, k1: Double = 1.2, b: Double = 0.75, roundTo: Int = 6,
           asOf: Option[Long] = None,
           precomputedStats: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val tf = livePostings(spark, stateDir, asOf, Some(terms)).getOrElse(
      throw new IllegalStateException(s"no committed state at $stateDir"))
    val stats = precomputedStats.getOrElse(Bm25State.stats(spark, stateDir, asOf))
    val dft = tf.groupBy("term").agg(countDistinct("doc").as("df"))
    tf.join(broadcast(dft), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc"),
        (log((col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1)
          * (col("tf") * (k1 + 1))
          / (col("tf") + lit(k1)
              * (lit(1) - b + lit(b) * col("dl") / col("avgdl")))).as("s"))
      .groupBy("doc").agg(round(sum("s"), roundTo).as("bm25"))
      .orderBy(col("bm25").desc, col("doc")).limit(k)
  }

  /** Fold the horizon into ONE `base-compact` version
    * ([[graft.operators.CountedState.compact]]; a fully-erased index is
    * refused). `writeSplits` as in [[build]] — the fold is the other
    * corpus-sized write.
    */
  def compact(spark: SparkSession, stateDir: String,
              retainHorizons: Int = 1,
              maxDelivered: Int = IndexSegments.DefaultMaxDelivered,
              writeSplits: Int = 1): Long =
    State.compact(spark, stateDir, retainHorizons, maxDelivered, writeSplits)

  /** Reclaim the horizon a retaining [[compact]] left alive. */
  def gc(spark: SparkSession, stateDir: String): Unit =
    IndexSegments.gcOldHorizons(spark, stateDir)

  /** The runbook as code ([[graft.operators.CountedState.maintain]]):
    * the drift gate audits BOTH tables against a one-shot recount.
    */
  def maintain(deltaToks: DataFrame, idCol: String, toksCol: String,
               stateDir: String, deltaId: String = "",
               maxLiveMarkers: Int = 8,
               auditCorpus: Option[DataFrame] = None):
      graft.operators.MaintainReport =
    State.maintain(deltaToks, idCol, toksCol, stateDir, deltaId,
      maxLiveMarkers, auditCorpus)
}
