package graft.multimodal

import graft.ann.IndexSegments
import graft.dedup.BandedIndex
import graft.operators.{Bucket, CountedState, CountedTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The banded PERCEPTUAL-HASH index maintained as durable
  * [[graft.operators.VersionedState]] — the multimodal member of the
  * banded-index family: [[Multimodal.bandedIndex]] is the right probe
  * geometry for image/audio/video admission (q217/q224/q241's 4-band ×
  * 14-bit blocking over 56-bit dHash / energy-sign / temporal-luma
  * hashes), but as a plain DataFrame it is rebuilt per run and the
  * streaming admission screen probes it with no replay guard, no
  * deletes and no compaction. Here the banded hash table is stored
  * once and evolved by the family lifecycle, exactly like
  * [[graft.dedup.BandedIndex]] (text/embedding chunks) — q289 gates
  * maintained ≡ one-shot screening hash-exact.
  *
  * == State layout ==
  *
  * One versioned-state directory; every version's payload is a
  * `bands/` parquet table (band INT, chunk INT, id, hsh LONG, c
  * BIGINT), PARTITIONED BY a chunk-hash bucket `bb` (md5 of the chunk
  * string mod B — the family's portable-hash discipline; B rides the
  * base label `base:B=<n>`). Unlike the text/embedding
  * [[graft.dedup.BandedIndex]], a row carries the FULL 56-bit hash
  * beside its band chunk: the perceptual screen VERIFIES candidates by
  * exact `bit_count(xor)` ≤ maxHamming, and keeping hsh on the row
  * makes the probed bucket self-sufficient — no per-candidate lookup
  * join back to a corpus-sized hash store. hsh is functionally
  * dependent on id, so it rides the count key unchanged: rows are
  * LINEAR COUNTS ((band, chunk) is a pure function of the hash), a
  * refresh commits only the batch's rows, [[delete]] negates LIVE rows
  * by id alone, [[retract]] negates caller-supplied hash rows,
  * [[compact]] folds NONZERO totals (so compaction never changes
  * observable state, even on contract-violating retracts), and ANY
  * drift vs a one-shot re-banding is corruption ([[maintain]]'s gate).
  * Replay ids, torn commits, GC, retention, delivered-sidecar carriage
  * and second-writer surfacing are the [[graft.operators.CountedState]]
  * engine's.
  *
  * == Scale shape (100 TB) ==
  *
  * A stored row is ~28 bytes × 4 bands per item — a billion-item
  * corpus indexes in ~112 GB of parquet, bucket-partitioned. The
  * per-batch state delta is a map-side band explode over the BATCH; a
  * probe collects its ≤ B distinct bucket ids driver-side (bounded by
  * the dial, not the batch) and reads ONLY those bucket directories,
  * then verifies candidates with the codegen'd bit_count inside the
  * shared buckets — nothing corpus-sized moves. The streaming
  * admission screen ([[graft.streaming.EventStreams
  * .perceptualCollisions]]) probes [[liveIndex]] as its static
  * relation, so online admission serves off the SAME maintained state
  * the batch path evolves.
  */
object PerceptualIndex {

  /** Band geometry: 4 bands × 14 bits of the 56-bit hash — fixed by
    * the hash width ([[Multimodal.bandedHammingPairs]]'s geometry).
    */
  val NBands = 4

  /** The chunk-hash bucket COLUMN ([[CountedState.bucketExpr]] — md5
    * of the chunk's decimal string, uniform even when perceptual chunks
    * cluster).
    */
  def bucketExpr(chunk: Column, nB: Int): Column =
    CountedState.bucketExpr(chunk, nB)

  /** One batch's band rows as COUNTS: (band, chunk, id, hsh, c=1) —
    * the map-side band explode of [[Multimodal.bandedIndex]] with the
    * count column appended. NULL hashes dropped (an undecodable item
    * has no perceptual geometry).
    */
  def bandRows(h: DataFrame, idCol: String, hashCol: String): DataFrame =
    h.where(col(hashCol).isNotNull)
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("hsh"),
        explode(expr(s"sequence(0, ${NBands - 1})")).as("band"))
      .withColumn("chunk",
        expr("cast(shiftright(hsh, band * 14) & 16383 as int)"))
      .select(col("band"), col("chunk"), col("id"), col("hsh"),
        lit(1L).as("c"))

  // hsh is functionally dependent on id, so it rides the count key
  // unchanged
  private val Bands = CountedTable("bands", Seq("band", "chunk", "id", "hsh"),
    Seq("c"), Some(Bucket("bb", "chunk", "item with a non-NULL perceptual hash")))

  private val State = new CountedState(Seq(Bands), dialNames = Seq("B"),
    dialNoun = "bucket dial", dirNoun = "a PerceptualIndex state directory",
    id = Some("id"),
    derive = (h, idCol, hashCol, _) => Seq(bandRows(h, idCol, hashCol)))

  /** The bucket count the stored state was partitioned with. */
  def storedBuckets(spark: SparkSession, stateDir: String,
                    asOf: Option[Long] = None): Int =
    State.storedDials(spark, stateDir, asOf)("B")

  /** Full (re)build from the corpus's (id, hash) rows; prior versions
    * (and the replay guard) GC'd. An all-NULL-hash corpus is refused.
    */
  def build(h: DataFrame, idCol: String, hashCol: String,
            stateDir: String, buckets: Int = 16,
            writeSplits: Int = 1): Long = {
    require(buckets >= 1, s"buckets must be ≥ 1, got $buckets")
    State.build(h, idCol, hashCol, stateDir,
      Seq("B" -> buckets), writeSplits)
  }

  /** Incremental refresh with ONLY the delta's (id, hash) rows;
    * `deltaId` makes it replay-idempotent across compactions.
    */
  def refresh(h: DataFrame, idCol: String, hashCol: String,
              stateDir: String, deltaId: String = ""): Long =
    State.refresh(h, idCol, hashCol, stateDir, deltaId)

  /** Remove items by their hash rows, NEGATED. ⚠ The family's retract
    * hazard note applies (see [[graft.text.Bm25State.retract]]):
    * retracting rows never ingested leaves negative totals — prefer
    * [[delete]], which negates LIVE rows and is algebra-idempotent.
    */
  def retract(h: DataFrame, idCol: String, hashCol: String,
              stateDir: String, deltaId: String = ""): Long =
    State.retract(h, idCol, hashCol, stateDir, deltaId)

  /** Erasure BY ID ALONE: negate the ids' LIVE band rows (the rows
    * name the item and carry its hash, so the negation re-derives from
    * the state itself — idempotent at the algebra level).
    */
  def delete(ids: DataFrame, idCol: String, stateDir: String,
             deltaId: String = ""): Long =
    State.delete(ids, idCol, stateDir, deltaId)

  /** The LIVE banded index (band, chunk, id, hsh) — the static
    * relation [[graft.streaming.EventStreams.perceptualCollisions]]
    * probes (same schema as [[Multimodal.bandedIndex]]). With
    * `buckets` given, the read filters to those chunk-hash PARTITIONS
    * before the live-sum agg. `asOf` pins a manifest cut.
    */
  def liveIndex(spark: SparkSession, stateDir: String,
                asOf: Option[Long] = None,
                buckets: Option[Seq[Int]] = None): Option[DataFrame] =
    State.live(spark, stateDir, Bands, asOf,
        buckets.map(bs => col("bb").isin(bs: _*)))
      .map(_.select(col("band"), col("chunk"), col("id"), col("hsh")))

  /** Screen a fresh batch of (id, hash) rows against the maintained
    * index: (id, matched_id, hamming) rows for every fresh item within
    * `maxHamming` of a LIVE corpus item — ≡ the one-shot cross-side
    * banded screen over the live corpus (q289 gates the identity
    * hash-exact). The shared [[BandedIndex.bandedScreen]] blocks
    * (skew cap over BOTH sides, q217's dial; the stored side reads
    * ONLY the fresh batch's bucket partitions), then candidates are
    * verified by exact `bit_count(xor)`. Fresh ids must be disjoint
    * from the live corpus ids.
    */
  def screen(fresh: DataFrame, idCol: String, hashCol: String,
             stateDir: String, maxHamming: Int,
             maxBucketSize: Int = Int.MaxValue,
             asOf: Option[Long] = None): DataFrame =
    BandedIndex.bandedScreen(State, fresh, idCol, hashCol, stateDir,
        maxBucketSize, asOf)
      .select(col("f.id").as("id"), col("c.id").as("matched_id"),
        expr("cast(bit_count(f.hsh ^ c.hsh) as int)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()

  /** Fold the horizon into ONE base-compact version
    * ([[graft.operators.CountedState.compact]]; a fully-erased state is
    * refused).
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
    * band rows are a pure function of the hash, so the drift gate's
    * one-shot re-banding of `auditCorpus` must match them exactly.
    */
  def maintain(delta: DataFrame, idCol: String, hashCol: String,
               stateDir: String, deltaId: String = "",
               maxLiveMarkers: Int = 8,
               auditCorpus: Option[DataFrame] = None):
      graft.operators.MaintainReport =
    State.maintain(delta, idCol, hashCol, stateDir, deltaId,
      maxLiveMarkers, auditCorpus)
}
