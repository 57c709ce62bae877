package graft.dedup

import graft.ann.IndexSegments
import graft.operators.{CountedState, CountedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT-substring dedup (Lee et al., "Deduplicating Training Data
  * Makes Language Models Better", ACL 2022 — the ExactSubstr method)
  * at a PARAMETERIZED window length L, with the duplicated-window
  * hash-count state maintained as durable
  * [[graft.operators.VersionedState]] across corpus refreshes — the
  * production shape of batch q268 (which runs the method one-shot at
  * L = 6): a web-scale corpus evolves by ingest batches, and the
  * window-hash multiset is the artifact you maintain, not recompute.
  *
  * The paper runs L ≈ 50 tokens on web corpora; the testdata documents
  * are ~50 tokens, so the catalog exercises L = 6 (q268) and L = 8
  * (q274) — the operator takes L as a dial and recovers it from the
  * stored state on refresh, so maintainers cannot desynchronize it.
  *
  * == State layout ==
  *
  * One versioned-state directory; every version's payload is a
  * `hashes/` parquet table (h STRING, c BIGINT) — window-hash counts;
  * a hash is a duplicate when its live total ≥ 2 ([[dupHashes]]).
  * Counts are linear, so deletion ([[retract]]) is a merge where the
  * ANN index family needs tombstones. Labels (`base:L=<n>`,
  * `delta:<id>`, `retract:<id>`, `base-compact:L=<n>`), replay,
  * compaction and the live sum ([[hashCounts]]) are the
  * [[graft.operators.CountedState]] engine's; `hashes/` is
  * unpartitioned, so an empty build or fully-retracted fold commits
  * (an unpartitioned write keeps its schema footer).
  *
  * Scale shape (100 TB): window hashing is one stateless projection
  * per doc (n−L+1 md5s — corpus-token-sized, like the inverted
  * index); the per-batch state delta is one hash agg OVER THE BATCH;
  * the live-count union is segment-count-bounded and reset to one
  * table by [[compact]]. [[spans]] shuffles once on the window hash
  * (the only corpus-sized exchange) and merges islands per-doc
  * (windows PARTITION BY doc, never global) — exactly q268's plan
  * with the dup-hash side read from state instead of recomputed.
  */
object ExactSubstr {

  /** All length-L token windows of each doc: (doc, i, h) with i the
    * 1-based window start and h = md5 of the space-joined slice (the
    * portable-hash discipline — DuckDB computes the identical key).
    * Docs shorter than L emit nothing.
    */
  def windowHashes(toks: DataFrame, idCol: String, toksCol: String,
                   L: Int): DataFrame = {
    require(L >= 2, s"window length L must be ≥ 2, got $L")
    toks.where(size(col(toksCol)) >= L)
      .select(col(idCol).as("doc"), posexplode(expr(
        s"transform(sequence(1, size($toksCol) - $L + 1), " +
          s"i -> md5(concat_ws(' ', slice($toksCol, i, $L))))"))
        .as(Seq("p", "h")))
      .select(col("doc"), (col("p") + 1).cast("long").as("i"), col("h"))
  }

  private def counts(toks: DataFrame, idCol: String, toksCol: String,
                     L: Int): DataFrame =
    windowHashes(toks, idCol, toksCol, L)
      .groupBy("h").agg(count(lit(1)).as("c"))

  private val Hashes = CountedTable("hashes", Seq("h"), Seq("c"))

  private val State = new CountedState(Seq(Hashes), dialNames = Seq("L"),
    dialNoun = "L dial", dirNoun = "an ExactSubstr state directory",
    id = None,
    derive = (toks, idCol, toksCol, d) => Seq(counts(toks, idCol, toksCol, d("L"))))

  /** The window length the stored state was built with. `asOf` pins
    * the read to a committed version (a manifest cut).
    */
  def storedL(spark: SparkSession, stateDir: String,
              asOf: Option[Long] = None): Int =
    State.storedDials(spark, stateDir, asOf)("L")

  /** Full (re)build: window-hash counts of the entire corpus given,
    * committed as `base:L=<L>`; prior versions GC'd (their counts
    * were computed at a possibly different L).
    */
  def build(toks: DataFrame, idCol: String, toksCol: String, L: Int,
            stateDir: String): Long =
    State.build(toks, idCol, toksCol, stateDir,
      Seq("L" -> L))

  /** Incremental refresh: window-hash counts of ONLY the delta docs,
    * at the L recovered from the stored base. `deltaId` (optional)
    * makes the refresh replay-idempotent.
    */
  def refresh(toks: DataFrame, idCol: String, toksCol: String,
              stateDir: String, deltaId: String = ""): Long =
    State.refresh(toks, idCol, toksCol, stateDir, deltaId)

  /** Remove docs from the maintained multiset: commit their counts
    * NEGATED (counts are linear — the dedup pipeline's deletions are
    * a merge here, no tombstones needed). The caller passes the same
    * token rows the docs contributed when added.
    *
    * ⚠ Contract hazard (the [[graft.text.Bm25State.retract]] note):
    * retracting rows that were never ingested leaves NEGATIVE stored
    * totals — a later refresh of the same content sums to ≤ 0 and
    * stays invisible. [[compact]] preserves nonzero totals (negatives
    * included), so that state is at least compaction-invariant — but
    * it is still wrong relative to the caller's intent, and only the
    * [[maintain]] drift gate surfaces it, as Corruption.
    */
  def retract(toks: DataFrame, idCol: String, toksCol: String,
              stateDir: String, deltaId: String = ""): Long =
    State.retract(toks, idCol, toksCol, stateDir, deltaId)

  /** The LIVE window-hash multiset: per-hash totals summed across
    * every version since the latest base (zero/negative totals — from
    * retractions — excluded). None before the first commit. `asOf`
    * pins the read to a committed version (a manifest cut; the pinned
    * horizon must still be on disk — retention keeps one folded
    * horizon, [[gc]] reclaims it).
    */
  def hashCounts(spark: SparkSession, stateDir: String,
                 asOf: Option[Long] = None): Option[DataFrame] =
    State.live(spark, stateDir, Hashes, asOf)

  /** Hashes whose live count ≥ 2 — the duplicated-window set
    * [[spans]] excises against. `asOf` pins the read to a committed
    * version (a manifest cut).
    */
  def dupHashes(spark: SparkSession, stateDir: String,
                asOf: Option[Long] = None): DataFrame =
    hashCounts(spark, stateDir, asOf).getOrElse(
      throw new IllegalStateException(s"no committed state at $stateDir"))
      .where(col("c") >= 2).select("h")

  /** Fold the horizon into ONE `base-compact:L=<L>` version
    * ([[graft.operators.CountedState.compact]]) — bounds the union
    * fan-out and the driver-side marker reads, like the ANN family's
    * compact.
    */
  def compact(spark: SparkSession, stateDir: String,
              retainHorizons: Int = 1,
              maxDelivered: Int = IndexSegments.DefaultMaxDelivered): Long =
    State.compact(spark, stateDir, retainHorizons, maxDelivered, 1)

  /** Reclaim the horizon a retaining [[compact]] left alive. */
  def gc(spark: SparkSession, stateDir: String): Unit =
    IndexSegments.gcOldHorizons(spark, stateDir)

  /** The runbook as code ([[graft.operators.CountedState.maintain]]):
    * the drift gate audits the multiset against a one-shot recount.
    * MaintainSpec pins the marker bound and the gate's tripping
    * semantics.
    */
  def maintain(deltaToks: DataFrame, idCol: String, toksCol: String,
               stateDir: String, deltaId: String = "",
               maxLiveMarkers: Int = 8,
               auditCorpus: Option[DataFrame] = None):
      graft.operators.MaintainReport =
    State.maintain(deltaToks, idCol, toksCol, stateDir, deltaId,
      maxLiveMarkers, auditCorpus)

  /** Maximal duplicated spans of `toks` against a duplicated-hash set
    * (one row per span: doc, span_start, span_end [token extents,
    * end exclusive], span_len, n_windows) — q268's gaps-and-islands
    * merge, parameterized by L. Windows PARTITION BY doc; the only
    * corpus-sized shuffle is the equi-join on the window hash.
    *
    * The join key is LONG-ENCODED internally (first 15 md5 hex digits
    * as a 60-bit BIGINT): the corpus-sized exchange and the dup-side
    * broadcast/shuffle carry an 8-byte primitive instead of a 32-char
    * string — roughly half the row bytes at 19.5M windows (the
    * `graft.Profile exactsubstr` dial), which is what lets the pass run in the
    * default 8 GB fork. md5 STRINGS remain the state and oracle
    * boundary ([[windowHashes]]/[[hashCounts]] are unchanged). A
    * 60-bit collision between distinct md5s needs ~2^30 windows for
    * even-odds (W²/2^61) — and its worst case is one false dup window
    * widening a span, the same failure md5 itself risks at 128 bits.
    * The join itself is planner-free to broadcast OR shuffle the dup
    * side: both degrade gracefully (ExactSubstrSpec pins the forced-
    * shuffle path result-identical).
    */
  def spans(toks: DataFrame, idCol: String, toksCol: String, L: Int,
            dup: DataFrame): DataFrame = {
    def hl(h: org.apache.spark.sql.Column) =
      conv(substring(h, 1, 15), 16, 10).cast("long")
    val w = windowHashes(toks, idCol, toksCol, L)
      .select(col("doc"), col("i"), hl(col("h")).as("hl"))
    // distinct AFTER truncation: two distinct md5s colliding at 60
    // bits must not double-match every window carrying that key
    val dl = dup.select(hl(col("h")).as("hl")).distinct()
    val dw = w.join(dl, "hl").select("doc", "i")
    val wPrev = Window.partitionBy("doc").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy("doc").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dw.withColumn("pme", max(col("i") + L).over(wPrev))
      .withColumn("island",
        sum(when(col("pme").isNull || col("i") > col("pme"), 1L)
          .otherwise(0L)).over(wCum))
      .groupBy("doc", "island")
      .agg(min("i").as("span_start"),
        (max("i") + L).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc"), col("island").as("span_idx"),
        col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"),
        col("n_windows"))
  }
}
