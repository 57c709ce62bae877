package graft.ann

import graft.operators.{GateVerdict, Maintain, MaintainReport, VersionedState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable, INCREMENTALLY-maintained PQ code table — [[IvfIndex]]'s
  * sibling for the product-quantization half of the IVF-PQ serving
  * stack: codebooks train rarely (a base build); between retrains,
  * each ingest batch ENCODES ONLY ITS OWN vectors against the frozen
  * codebooks and appends a code segment. History codes are read back,
  * never re-encoded — at 100 TB the code table is the corpus-sized
  * artifact and re-encoding it per batch is exactly the
  * rebuild-from-scratch shape q225/q266 exist to retire.
  *
  * Same [[graft.operators.VersionedState]] layout and crash story as
  * IvfIndex: every version is an atomic (codebooks, code-segment)
  * pair labeled base/delta; the live index is the latest codebooks +
  * the union of segments since the latest base; a torn commit is
  * invisible and overwritten by the next attempt. Encoding is
  * pointwise (a vector's codes depend only on the frozen codebooks),
  * so maintained ∪ delta ≡ re-encoding everything — q267 gates that
  * drift at exactly 0, plus quantization-error and ADC-recall audits
  * against a full codebook retrain. Segment append is NOT idempotent
  * (exactly-once delta delivery is the caller's contract —
  * PqIndexSpec pins the duplicate-on-replay behavior).
  *
  * Stored segment schema: (id, sub, code, d2) — d2, the exact
  * sub-quantization error at encode time, rides along as the audit
  * column the fit gate reads without re-joining raw vectors.
  */
object PqIndex {

  /** Full (re)build: train per-subspace codebooks on `emb`
    * ([[Pq.trainCodebooks]] — deterministic from `seedPred` seeds),
    * encode every vector against the codebooks READ BACK from the
    * freshly written version, and commit the pair as a BASE version
    * (prior versions GC'd — their segments encode against superseded
    * codebooks).
    */
  def build(emb: DataFrame, idCol: String, vecCol: String, m: Int,
            seedPred: org.apache.spark.sql.Column, iters: Int,
            stateDir: String): Long = {
    val spark = emb.sparkSession
    val cb = Pq.trainCodebooks(emb, idCol, vecCol, m, seedPred, iters)
    // dial-sized table (m·k rows); an empty one means seedPred matched
    // nothing — fail HERE with a clear message, not in the first
    // refresh's m-recovery
    require(cb.head(1).nonEmpty,
      s"trained codebook table is empty (seedPred matched no rows) — " +
        s"refusing to commit an unusable index to $stateDir")
    val prev = VersionedState.currentVersion(spark, stateDir)
    val next = prev.getOrElse(0L) + 1L
    VersionedState.commit(spark, stateDir, prev, label = "base",
      gcBelow = next) { vdir =>
      cb.write.mode("overwrite").parquet(s"$vdir/codebooks")
      val stored = spark.read.parquet(s"$vdir/codebooks")
      Pq.assign(Pq.subvectors(emb, idCol, vecCol, m), stored)
        .write.mode("overwrite").parquet(s"$vdir/segment")
    }
  }

  /** Incremental refresh: encode ONLY `delta` against the stored
    * (frozen) codebooks — m is recovered from the codebook table
    * itself, so refresh callers cannot desynchronize the dial — and
    * commit (same codebooks, delta segment) as a DELTA version.
    * `deltaId` (optional) makes the refresh replay-idempotent
    * ([[IvfIndex.refresh]]'s contract, shared via [[IndexSegments]]).
    */
  def refresh(delta: DataFrame, idCol: String, vecCol: String,
              stateDir: String, deltaId: String = ""): Long =
    IndexSegments.refresh(delta.sparkSession, stateDir, deltaId,
        Seq("codebooks")) { case Seq(cb) =>
      Pq.assign(Pq.subvectors(delta, idCol, vecCol, Pq.storedM(cb, stateDir)), cb)
    }

  /** Delete `ids` (first column) from the live code table via a
    * TOMBSTONE version (codebooks carried forward); physical excision
    * at the next [[compact]]. Semantics in [[IndexSegments]].
    */
  def delete(ids: DataFrame, stateDir: String, deltaId: String = ""): Long =
    IndexSegments.commitTombstone(ids, stateDir, Seq("codebooks"), deltaId)

  /** Fold every code segment since the last base into ONE
    * `base-compact` version (codebooks copied, no retrain, tombstones
    * excised) and GC below the retention floor (default keeps the
    * folded horizon alive for in-flight readers; reclaim with [[gc]]
    * or the next compact). Delivered delta ids ride the sidecar.
    */
  def compact(spark: SparkSession, stateDir: String,
              retainHorizons: Int = 1,
              maxDelivered: Int = IndexSegments.DefaultMaxDelivered): Long =
    IndexSegments.compact(spark, stateDir, Seq("codebooks"), retainHorizons,
      maxDelivered)

  /** Reclaim the pre-compaction horizon a retaining [[compact]] left
    * alive — call once in-flight readers of the old horizon are done.
    */
  def gc(spark: SparkSession, stateDir: String): Unit =
    IndexSegments.gcOldHorizons(spark, stateDir)

  /** Periodic-audit dials for [[maintain]] — [[IvfIndex.Audit]]'s PQ
    * sibling: `fitRatioMilli` is q267's criterion (the maintained
    * total quantization error may exceed a fresh codebook retrain's by
    * at most ratio/1000, compared in exact micro-scaled integers);
    * `recallSlack` bounds how far maintained ADC recall@k may trail a
    * retrained index against the exact-L2 brute truth on `queryPred`.
    */
  final case class Audit(corpus: DataFrame,
                         seedPred: org.apache.spark.sql.Column, iters: Int,
                         queryPred: org.apache.spark.sql.Column,
                         k: Int = 5, fitRatioMilli: Long = 1250,
                         recallSlack: Double = 0.2)

  /** The runbook as code for the PQ code table — [[IvfIndex.maintain]]'s
    * sibling: replay-guarded refresh, self-compaction past the marker
    * dial, and (on audit cadence) drift / fit / recall verdicts typed
    * from [[audit]]'s row (its numbers in `measured`).
    */
  def maintain(delta: DataFrame, idCol: String, vecCol: String,
               stateDir: String, deltaId: String = "",
               maxLiveMarkers: Int = 8,
               audit: Option[Audit] = None): MaintainReport = {
    val spark = delta.sparkSession
    Maintain.run(spark, stateDir, maxLiveMarkers,
      refresh(delta, idCol, vecCol, stateDir, deltaId), compact(spark, stateDir),
      audit.fold((Seq.empty[GateVerdict], Map.empty[String, Double])) { a =>
        IndexSegments.auditGates(this.audit(spark, stateDir, idCol, vecCol, a)._1,
            "re-encode", a.recallSlack)(
          IndexSegments.errorFit(_, a.fitRatioMilli, "codebooks"))
      })
  }

  /** The audit's raw numbers ([[IndexSegments.auditRow]]), lazily
    * composed — the ONE definition [[maintain]]'s gates and q267 read:
    * the maintained codes vs a one-shot re-encode of `a.corpus` under
    * the same frozen codebooks (drift per (id, sub), row counts),
    * Σ round(d2·1e6) of the maintained table vs a full codebook
    * retrain's encoding (fit), and ADC recall@k of both indexes against
    * the exact-L2 truth on the `a.queryPred` slice. Returned beside the
    * row: the checkpointed maintained table it reads.
    */
  private[graft] def audit(spark: SparkSession, stateDir: String,
                           idCol: String, vecCol: String,
                           a: Audit): (DataFrame, DataFrame) = {
    val cb = codebooks(spark, stateDir).get.localCheckpoint()
    val m = Pq.storedM(cb, stateDir)
    val live = codes(spark, stateDir).get.localCheckpoint()
    val sv = Pq.subvectors(a.corpus, idCol, vecCol, m)
      .localCheckpoint() // frozen re-encode AND rebuilt encode read it
    val reCb = Pq.trainCodebooks(a.corpus, idCol, vecCol, m, a.seedPred,
      a.iters)
    val reAsg = Pq.assign(sv, reCb)
      .localCheckpoint() // fit sum + rebuilt ADC read it
    val brute = Pq.exactL2TopK(a.corpus, idCol, vecCol, a.queryPred, a.k)
      .localCheckpoint() // 2 hit joins read it
    def hits(cds: DataFrame, books: DataFrame): DataFrame =
      Pq.adcTopK(a.corpus.where(a.queryPred), idCol, vecCol,
          cds.select("id", "sub", "code"), books, m, a.k)
        .select("q_id", "cand_id").join(brute, Seq("q_id", "cand_id"))
    (IndexSegments.auditRow(live, Pq.assign(sv, cb), Seq("id", "sub"),
      Seq("code"), round(col("d2") * 1000000).cast("long"), reAsg,
      hits(live, cb), hits(reAsg, reCb), brute), live)
  }

  /** The live codebook table, or None before the first build. */
  def codebooks(spark: SparkSession, stateDir: String): Option[DataFrame] =
    IndexSegments.dial(spark, stateDir, "codebooks")

  /** The live code table — the union of every segment from the latest
    * base (`base`/`base-compact`) onward, minus tombstoned rows (all
    * encoded against the same frozen codebooks, by the commit pairing;
    * ordering semantics in [[IndexSegments.live]]).
    */
  def codes(spark: SparkSession, stateDir: String): Option[DataFrame] =
    IndexSegments.live(spark, stateDir)
}
