package graft.ann

import graft.operators.{GateVerdict, Maintain, MaintainReport, VersionedState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable, INCREMENTALLY-maintained IVF-PQ index — the COMPOSED
  * production layout ([[IvfIndex]] coarse routing + [[PqIndex]]
  * residual codes in one atomically-versioned artifact): each vector
  * is routed to its L2-nearest coarse bucket and its RESIDUAL
  * (vector − bucket centroid) is product-quantized — the FAISS
  * billion-scale serving shape (see [[IvfPq]]). Between retrains, a
  * refresh routes and encodes ONLY the delta against the frozen
  * coarse table + codebooks read back off disk; history segments are
  * never re-read, let alone re-encoded.
  *
  * Version payload (one atomic commit covers all three):
  * `coarse/` (bid, bvec — the coarse quantizer, a fixed dial here),
  * `codebooks/` (sub, code, cvec — trained on RESIDUALS),
  * `segment/` (id, bid, sub, code, d2 — this version's encodings;
  * d2 is the encode-time sub-quantization error, the fit-gate audit
  * column). Same base/delta labeling, GC-on-rebuild, torn-commit
  * invisibility, and append-non-idempotence as the component indexes
  * (IvfPqIndexSpec pins them); q270 gates drift ≡ 0 / retrain fit /
  * ADC recall against the full rebuild.
  */
object IvfPqIndex extends SegmentedIndex {

  protected val dials: Seq[String] = Seq("coarse", "codebooks")

  /** Full (re)build: store the coarse quantizer, train residual
    * codebooks on `emb` (residuals computed against the coarse table
    * READ BACK from the fresh version — the committed artifact is the
    * authority), encode everything, and commit the triple as a BASE
    * version. `seedPred` filters the RESIDUAL relation (column `id`).
    */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            coarse: DataFrame, m: Int,
            seedPred: org.apache.spark.sql.Column, iters: Int,
            stateDir: String): Long = {
    val spark = emb.sparkSession
    val prev = VersionedState.currentVersion(spark, stateDir)
    val next = prev.getOrElse(0L) + 1L
    VersionedState.commit(spark, stateDir, prev, label = "base",
      gcBelow = next) { vdir =>
      coarse.write.mode("overwrite").parquet(s"$vdir/coarse")
      val cc = spark.read.parquet(s"$vdir/coarse")
      val res = IvfPq.residuals(emb, idCol, vecCol, cc).localCheckpoint()
      val trained = Pq.trainCodebooks(res, "id", "rv", m, seedPred, iters)
      // dial-sized (m·k rows); empty means seedPred matched no residual
      // rows — fail before committing an unusable index
      require(trained.head(1).nonEmpty,
        s"trained residual codebook table is empty (seedPred matched no " +
          s"rows) — refusing to commit an unusable index to $stateDir")
      trained.write.mode("overwrite").parquet(s"$vdir/codebooks")
      val cb = spark.read.parquet(s"$vdir/codebooks")
      Pq.assign(Pq.subvectors(res, "id", "rv", m), cb)
        .join(res.select("id", "bid"), "id")
        .write.mode("overwrite").parquet(s"$vdir/segment")
    }
  }

  /** Incremental refresh: route + encode ONLY `delta` against the
    * stored coarse table and codebooks (m recovered from the codebook
    * table) and commit as a DELTA version carrying both forward.
    * `deltaId` (optional) makes the refresh replay-idempotent
    * ([[IvfIndex.refresh]]'s contract, shared via [[IndexSegments]]).
    */
  def refresh(delta: DataFrame, idCol: String, vecCol: String,
              stateDir: String, deltaId: String = ""): Long =
    IndexSegments.refresh(delta.sparkSession, stateDir, deltaId,
        Seq("coarse", "codebooks")) { case Seq(cc, cb) =>
      val m = Pq.storedM(cb, stateDir)
      val res = IvfPq.residuals(delta, idCol, vecCol, cc).localCheckpoint()
      Pq.assign(Pq.subvectors(res, "id", "rv", m), cb)
        .join(res.select("id", "bid"), "id")
    }

  /** The live coarse quantizer, or None before the first build. */
  def coarse(spark: SparkSession, stateDir: String): Option[DataFrame] =
    IndexSegments.dial(spark, stateDir, "coarse")

  /** The live residual codebooks, or None before the first build. */
  def codebooks(spark: SparkSession, stateDir: String): Option[DataFrame] =
    IndexSegments.dial(spark, stateDir, "codebooks")

  /** The live code table (id, bid, sub, code, d2) — the union of every
    * segment from the latest base (`base`/`base-compact`) onward,
    * minus tombstoned rows (ordering semantics in
    * [[IndexSegments.live]]).
    */
  def codes(spark: SparkSession, stateDir: String): Option[DataFrame] =
    IndexSegments.live(spark, stateDir)

  /** Periodic-audit dials for [[maintain]] — [[PqIndex.Audit]]'s
    * composed sibling; `nprobe` sizes the ADC search's bucket probes.
    */
  final case class Audit(corpus: DataFrame,
                         seedPred: org.apache.spark.sql.Column, iters: Int,
                         queryPred: org.apache.spark.sql.Column,
                         k: Int = 5, nprobe: Int = 2,
                         fitRatioMilli: Long = 1250,
                         recallSlack: Double = 0.2)

  /** The runbook as code for the composed index — drift compares BOTH
    * the coarse route and the residual codes per (id, sub); fit is the
    * residual-quantization error vs a codebook retrain (coarse table
    * is a fixed dial); recall is the two-stage ADC search vs exact-L2
    * truth on the bounded query slice — the verdicts typed from
    * [[audit]]'s row (its numbers in `measured`).
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
            "route+encode", a.recallSlack,
            " (consider raising nprobe until it lands)")(
          IndexSegments.errorFit(_, a.fitRatioMilli, "residual codebooks"))
      })
  }

  /** The audit's raw numbers ([[IndexSegments.auditRow]]), lazily
    * composed — the ONE definition [[maintain]]'s gates and q270 read:
    * the maintained codes vs a one-shot re-route + re-encode of
    * `a.corpus` under the same frozen coarse table and codebooks (drift
    * over bucket AND code per (id, sub), row counts), Σ round(d2·1e6)
    * of the maintained table vs a residual codebook retrain's encoding
    * (fit), and two-stage ADC recall@k of both indexes against the
    * exact-L2 truth on the `a.queryPred` slice. Returned beside the
    * row: the checkpointed maintained table it reads.
    */
  private[graft] def audit(spark: SparkSession, stateDir: String,
                           idCol: String, vecCol: String,
                           a: Audit): (DataFrame, DataFrame) = {
    val cc = coarse(spark, stateDir).get.localCheckpoint()
    val cb = codebooks(spark, stateDir).get.localCheckpoint()
    val m = Pq.storedM(cb, stateDir)
    val live = codes(spark, stateDir).get.localCheckpoint()
    val res = IvfPq.residuals(a.corpus, idCol, vecCol, cc)
      .localCheckpoint() // frozen re-encode AND rebuilt encode read it
    def encode(books: DataFrame): DataFrame =
      Pq.assign(Pq.subvectors(res, "id", "rv", m), books)
        .join(res.select("id", "bid"), "id")
    val reCb = Pq.trainCodebooks(res, "id", "rv", m, a.seedPred, a.iters)
    val reAsg = encode(reCb).localCheckpoint() // fit sum + rebuilt ADC read it
    val brute = Pq.exactL2TopK(a.corpus, idCol, vecCol, a.queryPred, a.k)
      .localCheckpoint() // 2 hit joins read it
    val probes = IvfPq.probeResiduals(a.corpus.where(a.queryPred), idCol,
      vecCol, cc, a.nprobe).localCheckpoint() // both searches read it
    def hits(cds: DataFrame, books: DataFrame): DataFrame =
      IvfPq.searchAdc(probes, cds.select("id", "bid", "sub", "code"), books,
          m, a.k)
        .select("q_id", "cand_id").join(brute, Seq("q_id", "cand_id"))
    (IndexSegments.auditRow(live, encode(cb), Seq("id", "sub"),
      Seq("code", "bid"), round(col("d2") * 1000000).cast("long"), reAsg,
      hits(live, cb), hits(reAsg, reCb), brute), live)
  }
}
