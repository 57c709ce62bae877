package graft.dedup

import graft.ann.IndexSegments
import graft.operators.{Bucket, CountedState, CountedTable, Observed}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The banded SIGNATURE index maintained as durable
  * [[graft.operators.VersionedState]] — the candidate-GENERATION
  * artifact behind near-dup admission, promoted to the same lifecycle
  * as the rest of the family: q89 (incremental dedup) recomputes the
  * corpus side's signatures and band buckets on EVERY run, which at
  * 100 TB is a full corpus re-tokenize + re-minhash per ingest batch —
  * the cost the steady-state pipeline cannot pay. Here the corpus's
  * banded bucket table is stored once and evolved by delta commits;
  * an ingest batch is screened by probing the STORED buckets
  * ([[screen]] ≡ [[Dedup.incrementalNearDupCandidates]] over the live
  * corpus, which q285 gates hash-exact).
  *
  * == Two modalities, one state ==
  *
  * A stored band row is (band, chunk) with the chunk an OPAQUE string
  * join key, so the same lifecycle serves both banded-LSH families:
  * `dims = 0` stores banded MINHASH chunks of a token array (the text
  * near-dup geometry, q27/q89/q285); `dims > 0` stores banded
  * SIGN-RANDOM-PROJECTION chunks of an `Array[Float]` embedding
  * ([[graft.ann.Knn.srpChunkRows]] — the q36/q76 geometry, promoted
  * from per-run recomputation by q288). The modality rides the base
  * label with the other dials, so a probe can never band the fresh
  * side differently from the stored corpus.
  *
  * == State layout ==
  *
  * One versioned-state directory; every version's payload is a
  * `bands/` parquet table (band INT, chunk STRING, id, c BIGINT),
  * PARTITIONED BY a chunk-hash bucket `bb` (first 8 md5 hex digits of
  * the chunk mod B — the [[graft.text.Bm25State]] postings layout).
  * A band row is a LINEAR COUNT like a posting: (band, chunk) is a
  * pure function of the doc's payload (tokens or embedding), so a
  * doc's band rows re-derive
  * from its payload at any time and negate on erasure — [[delete]]
  * negates LIVE rows by id alone (no payload rows needed), [[retract]]
  * negates caller-supplied payload rows, and ANY drift vs a one-shot
  * re-banding is corruption, never approximation ([[maintain]]'s
  * gate). Dials (nBands, rowsPerBand, B, dims) ride the base label
  * (`base:bands=<n>,rows=<r>,B=<n>[,dims=<d>]`) and are recovered from
  * disk on
  * every later commit and probe, so maintainers cannot desynchronize
  * them. The lifecycle — replay (`delta:<id>`/`retract:<id>`/`drop:<id>`
  * markers + the compaction-carried delivered sidecar), compaction,
  * torn commits, GC, retention and second-writer surfacing — is the
  * [[graft.operators.CountedState]] engine's.
  *
  * == Scale shape (100 TB) ==
  *
  * The per-batch state delta is one map-side signature pass over the
  * BATCH (the native MinHash kernel) + one bucket-partitioned write.
  * A probe computes the fresh side's band rows map-side, observes its
  * ≤ B DISTINCT bucket ids (bounded by the dial, not the batch), and
  * reads ONLY those bucket directories of each segment — a partition
  * filter, the file-skip the Bm25State postings pruning established —
  * then blocks fresh×stored inside the shared (band, chunk) buckets
  * with the q89 skew cap counting BOTH sides. Candidate fan-out is
  * bucket-size-bounded; nothing corpus-sized moves.
  */
object BandedIndex {

  /** The chunk-hash bucket COLUMN ([[CountedState.bucketExpr]]). */
  def bucketExpr(chunk: Column, nB: Int): Column =
    CountedState.bucketExpr(chunk, nB)

  /** One batch's band rows as COUNTS: (band, chunk, id, c=1) — the
    * map-side signature + banding pass. `dims = 0` (the text modality)
    * is [[Dedup.bandedChunkRows]]'s MinHash chunks with NULL chunks
    * dropped (a token-less doc has no joinable band rows; storing them
    * would only bloat the NULL group). `dims > 0` (the EMBEDDING
    * modality) is [[graft.ann.Knn.srpChunkRows]]: `payloadCol` is an
    * Array[Float] of that many dimensions, a chunk is a band's packed
    * SRP sign bits rendered as a decimal string, and zero-norm vectors
    * yield no band rows. Either way a chunk is an OPAQUE equi-join
    * key, so every lifecycle path below is modality-blind.
    */
  def bandRows(docs: DataFrame, idCol: String, payloadCol: String,
               nBands: Int, rowsPerBand: Int, dims: Int = 0): DataFrame =
    if (dims > 0)
      graft.ann.Knn.srpChunkRows(docs, idCol, payloadCol, dims,
        nBands, rowsPerBand)
    else
      Dedup.bandedChunkRows(docs, idCol, payloadCol, nBands, rowsPerBand)
        .where(col("chunk").isNotNull)
        .select(col("band"), col("chunk"), col(idCol).as("id"),
          lit(1L).as("c"))

  private val Bands = CountedTable("bands", Seq("band", "chunk", "id"),
    Seq("c"), Some(Bucket("bb", "chunk", "doc with a joinable band row " +
      "(a non-empty token array / a nonzero-norm vector)")))

  // dials ride the base label as `bands=<n>,rows=<r>,B=<n>[,dims=<d>]`
  private val State = new CountedState(Seq(Bands),
    dialNames = Seq("bands", "rows", "B"), optionalDials = Seq("dims"),
    dialNoun = "banding dials", dirNoun = "a BandedIndex state directory",
    id = Some("id"),
    derive = (docs, idCol, toksCol, d) => Seq(bandRows(docs, idCol, toksCol,
      d("bands"), d("rows"), d.getOrElse("dims", 0))))

  /** The (nBands, rowsPerBand, buckets) dials the stored state was
    * built with. `asOf` pins the read to a committed version.
    */
  def storedDials(spark: SparkSession, stateDir: String,
                  asOf: Option[Long] = None): (Int, Int, Int) = {
    val d = State.storedDials(spark, stateDir, asOf)
    (d("bands"), d("rows"), d("B"))
  }

  /** The SRP dimensionality the stored state was built with — 0 for a
    * text (MinHash) index, > 0 for an embedding (SRP) index. Like the
    * banding dials it rides the base label, so probes can never
    * desynchronize the modality from the stored rows.
    */
  def storedDims(spark: SparkSession, stateDir: String,
                 asOf: Option[Long] = None): Int =
    State.storedDials(spark, stateDir, asOf).getOrElse("dims", 0)

  /** Full (re)build: band rows of the entire corpus given, committed
    * as a base carrying the dials; prior versions (and the replay
    * guard) GC'd. `buckets` sizes the chunk-hash partitioning — raise
    * it with corpus size like the Bm25State postings dial.
    * `writeSplits` as in [[graft.text.Bm25State.build]]: parallelize
    * the corpus-sized write (size so bucket files land near the input
    * split size; over-splitting costs per-file overhead). A corpus
    * whose docs are all token-less (resp. zero-norm vectors) derives no
    * band row and is refused.
    */
  def build(docs: DataFrame, idCol: String, toksCol: String,
            stateDir: String, nBands: Int = 4, rowsPerBand: Int = 2,
            buckets: Int = 16, writeSplits: Int = 1, dims: Int = 0): Long = {
    require(nBands >= 1 && rowsPerBand >= 1 && buckets >= 1,
      s"dials must be ≥ 1, got bands=$nBands rows=$rowsPerBand B=$buckets")
    require(dims >= 0, s"dims must be ≥ 0 (0 = MinHash text), got $dims")
    // the SRP kernel packs a band's sign bits into a positive Int, so
    // the embedding dial is bounded at 31 rows/band — fail here, at
    // the dial boundary, not as an opaque Catalyst TypeCheckFailure
    // mid-plan after the label convention already accepted the dials
    require(dims == 0 || rowsPerBand <= 31,
      s"SRP banding packs ≤ 31 sign bits per band chunk, got rows=$rowsPerBand")
    State.build(docs, idCol, toksCol, stateDir, Seq("bands" -> nBands,
      "rows" -> rowsPerBand, "B" -> buckets) ++
      (if (dims > 0) Seq("dims" -> dims) else Nil), writeSplits)
  }

  /** Incremental refresh: band rows of ONLY the delta docs, at the
    * dials recovered from the stored base. `deltaId` (optional) makes
    * the refresh replay-idempotent across compactions.
    */
  def refresh(docs: DataFrame, idCol: String, toksCol: String,
              stateDir: String, deltaId: String = ""): Long =
    State.refresh(docs, idCol, toksCol, stateDir, deltaId)

  /** Remove docs by their token rows: the batch's band rows NEGATED.
    * ⚠ The [[graft.text.Bm25State.retract]] hazard note applies:
    * retracting rows never ingested leaves negative totals; prefer
    * [[delete]], which negates LIVE rows and is algebra-idempotent.
    */
  def retract(docs: DataFrame, idCol: String, toksCol: String,
              stateDir: String, deltaId: String = ""): Long =
    State.retract(docs, idCol, toksCol, stateDir, deltaId)

  /** Erasure BY ID ALONE: negate the ids' LIVE band rows (the rows
    * name the doc, so the negation re-derives from the state itself —
    * no token rows needed, idempotent at the algebra level like
    * [[graft.text.Bm25State.delete]]). One scan of the live table
    * against the broadcast erasure batch.
    */
  def delete(ids: DataFrame, idCol: String, stateDir: String,
             deltaId: String = ""): Long =
    State.delete(ids, idCol, stateDir, deltaId)

  /** The LIVE band rows (band, chunk, id, c): per-key totals summed
    * across every version since the latest base, positive totals only.
    * None before the first commit. With `buckets` given, the read
    * filters to those chunk-hash PARTITIONS before the live-sum agg —
    * the probe's file skip. `asOf` pins the read to a committed
    * version (a manifest cut).
    */
  def liveBands(spark: SparkSession, stateDir: String,
                asOf: Option[Long] = None,
                buckets: Option[Seq[Int]] = None): Option[DataFrame] =
    State.live(spark, stateDir, Bands, asOf,
      buckets.map(bs => col("bb").isin(bs: _*)))

  /** The banded screen [[BandedIndex]] and
    * [[graft.multimodal.PerceptualIndex]] share: the fresh batch's band
    * rows (derived map-side at the stored dials, local-checkpointed),
    * its ≤ B DISTINCT bucket ids observed on the checkpoint's own job
    * (bounded by the dial, not the batch), the stored side read ONLY
    * from those bucket partitions, the skew cap counting BOTH sides'
    * bucket members (exactly like the one-shot path), and the (band,
    * chunk) join of fresh rows `f` to stored rows `c` — the family
    * projects (and verifies) the pairs.
    */
  private[graft] def bandedScreen(state: CountedState, fresh: DataFrame,
                                  idCol: String, payloadCol: String,
                                  stateDir: String, maxBucketSize: Int,
                                  asOf: Option[Long]): DataFrame = {
    val spark = fresh.sparkSession
    val t = state.tables.head
    val b = t.bucket.get
    val d = state.storedDials(spark, stateDir, asOf)
    // batch-bounded checkpoint; its own job observes the ≤ B bucket ids
    val (f, buckets) = Observed.metric(state.derive(fresh, idCol, payloadCol, d).head
        .withColumn(b.column, CountedState.bucketExpr(col(b.key), d("B"))),
      collect_set(col(b.column)), scala.collection.Seq.empty[Int])(_.localCheckpoint())
    val keys = t.keys.map(col)
    // .get is safe: storedDials above already refused an uncommitted
    // (or empty-asOf) state
    val stored = state.live(spark, stateDir, t, asOf,
        Some(col(b.column).isin(buckets.toSeq: _*))).get
      .select(keys :+ lit(0).as("_side"): _*)
    val tagged = stored.unionByName(f.select(keys :+ lit(1).as("_side"): _*))
    val kept = Dedup.capBuckets(tagged, Seq("band", "chunk"), maxBucketSize)
    val c = kept.where(col("_side") === 0)
    val fr = kept.where(col("_side") === 1)
    fr.alias("f").join(c.alias("c"),
      col("f.band") === col("c.band") && col("f.chunk") === col("c.chunk"))
  }

  /** Screen a fresh batch against the maintained index: candidate
    * (id_new, id_corpus) pairs sharing any banded minhash chunk with a
    * LIVE corpus doc — ≡ [[Dedup.incrementalNearDupCandidates]] with
    * the corpus side read from state instead of re-banded (q285 gates
    * the identity hash-exact), through the shared [[bandedScreen]].
    * Fresh ids must be disjoint from the live corpus ids (the dedup
    * universe contract).
    */
  def screen(fresh: DataFrame, idCol: String, toksCol: String,
             stateDir: String, maxBucketSize: Int = Int.MaxValue,
             asOf: Option[Long] = None): DataFrame =
    bandedScreen(State, fresh, idCol, toksCol, stateDir, maxBucketSize, asOf)
      .select(col("f.id").as("id_new"), col("c.id").as("id_corpus"))
      .distinct()

  /** Fold the horizon into ONE base-compact version carrying the dials
    * ([[graft.operators.CountedState.compact]]; a fully-erased state is
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
    * band rows are a pure function of the tokens, so the drift gate's
    * one-shot re-banding must match them exactly.
    */
  def maintain(deltaDocs: DataFrame, idCol: String, toksCol: String,
               stateDir: String, deltaId: String = "",
               maxLiveMarkers: Int = 8,
               auditCorpus: Option[DataFrame] = None):
      graft.operators.MaintainReport =
    State.maintain(deltaDocs, idCol, toksCol, stateDir, deltaId,
      maxLiveMarkers, auditCorpus)
}
