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
object IvfPqIndex {

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
              stateDir: String, deltaId: String = ""): Long = {
    val spark = delta.sparkSession
    val prev = VersionedState.currentVersion(spark, stateDir)
    require(prev.nonEmpty,
      s"no committed index at $stateDir — run build() before refresh()")
    IndexSegments.replayGuarded(spark, stateDir, "delta", deltaId) { label =>
      val pdir = VersionedState.versionPath(stateDir, prev.get)
      val cbStored = spark.read.parquet(s"$pdir/codebooks")
      val mRow = cbStored.agg(max("sub")).head()
      require(!mRow.isNullAt(0),
        s"stored codebook table at $stateDir is empty — the index is " +
          "unusable; run build() with a non-empty seed set")
      val m = mRow.getInt(0) + 1
      VersionedState.commit(spark, stateDir, prev, label = label) { vdir =>
        // coarse table + codebooks are frozen off a build: byte-identical
        // FS carries (no Spark round-trips)
        IndexSegments.carryDir(spark, s"$pdir/coarse", s"$vdir/coarse")
        IndexSegments.carryDir(spark, s"$pdir/codebooks", s"$vdir/codebooks")
        val res = IvfPq.residuals(delta, idCol, vecCol,
          spark.read.parquet(s"$vdir/coarse")).localCheckpoint()
        Pq.assign(Pq.subvectors(res, "id", "rv", m),
            spark.read.parquet(s"$vdir/codebooks"))
          .join(res.select("id", "bid"), "id")
          .write.mode("overwrite").parquet(s"$vdir/segment")
      }
    }
  }

  /** The live coarse quantizer, or None before the first build. */
  def coarse(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedState.currentVersion(spark, stateDir).map { n =>
      spark.read.parquet(s"${VersionedState.versionPath(stateDir, n)}/coarse")
    }

  /** The live residual codebooks, or None before the first build. */
  def codebooks(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedState.currentVersion(spark, stateDir).map { n =>
      spark.read.parquet(s"${VersionedState.versionPath(stateDir, n)}/codebooks")
    }

  /** The live code table (id, bid, sub, code, d2) — the union of every
    * segment from the latest base (`base`/`base-compact`) onward,
    * minus tombstoned rows (ordering semantics in
    * [[IndexSegments.live]]).
    */
  def codes(spark: SparkSession, stateDir: String): Option[DataFrame] =
    IndexSegments.live(spark, stateDir)

  /** Delete `ids` (first column) from the live code table via a
    * TOMBSTONE version (coarse table + codebooks carried forward);
    * physical excision at the next [[compact]].
    */
  def delete(ids: DataFrame, stateDir: String, deltaId: String = ""): Long =
    IndexSegments.commitTombstone(ids, stateDir, Seq("coarse", "codebooks"),
      deltaId)

  /** Fold every code segment since the last base into ONE
    * `base-compact` version — ONE marker still covers coarse +
    * codebooks + segment, so a crash mid-compaction can never mix
    * folded codes with a half-copied quantizer — and GC below the
    * retention floor (default keeps the folded horizon alive for
    * in-flight readers; reclaim with [[gc]] or the next compact).
    */
  def compact(spark: SparkSession, stateDir: String,
              retainHorizons: Int = 1,
              maxDelivered: Int = IndexSegments.DefaultMaxDelivered): Long =
    IndexSegments.compact(spark, stateDir, Seq("coarse", "codebooks"),
      retainHorizons, maxDelivered)

  /** Reclaim the pre-compaction horizon a retaining [[compact]] left
    * alive — call once in-flight readers of the old horizon are done.
    */
  def gc(spark: SparkSession, stateDir: String): Unit =
    IndexSegments.gcOldHorizons(spark, stateDir)

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
    * truth on the bounded query slice (q270's three gates, typed).
    */
  def maintain(delta: DataFrame, idCol: String, vecCol: String,
               stateDir: String, deltaId: String = "",
               maxLiveMarkers: Int = 8,
               audit: Option[Audit] = None): MaintainReport = {
    val spark = delta.sparkSession
    val prev = VersionedState.currentVersion(spark, stateDir)
    val v = refresh(delta, idCol, vecCol, stateDir, deltaId)
    val replayed = prev.exists(v <= _) // fresh commit ⇒ prev+1
    val compacted = Maintain.liveMarkers(spark, stateDir) > maxLiveMarkers
    if (compacted) compact(spark, stateDir)
    val gates = audit.toSeq.flatMap { a =>
      val cc = coarse(spark, stateDir).get.localCheckpoint()
      val cb = codebooks(spark, stateDir).get.localCheckpoint()
      val m = cb.agg(max("sub")).head().getInt(0) + 1
      // checkpoint + count fused (one job each — Lineage doc): the
      // audit always counts what it just materialized
      val (live, nLive) = graft.operators.Lineage.localCheckpointWithCount(
        codes(spark, stateDir).get)
      val res = IvfPq.residuals(a.corpus, idCol, vecCol, cc).localCheckpoint()
      val (oneShot, nOne) = graft.operators.Lineage.localCheckpointWithCount(
        Pq.assign(Pq.subvectors(res, "id", "rv", m), cb)
          .join(res.select("id", "bid"), "id")) // drift + fit + search read it
      // gate 1 — drift over BOTH halves: bucket and code per (id, sub)
      val mism = live.select(col("id"), col("sub"),
          col("bid").as("b1"), col("code").as("c1"))
        .join(oneShot.select(col("id"), col("sub"),
          col("bid").as("b2"), col("code").as("c2")),
          Seq("id", "sub"), "full_outer")
        .where(col("c1").isNull || col("c2").isNull ||
          col("b1") =!= col("b2") || col("c1") =!= col("c2"))
        .count()
      val drift =
        if (mism == 0 && nLive == nOne)
          GateVerdict.Ok("drift",
            s"maintained ≡ one-shot route+encode over $nOne code rows")
        else GateVerdict.Corruption("drift",
          s"$mism route/code mismatches, $nLive live rows vs $nOne " +
            "one-shot — segments lost, duplicated or mixed across bases; " +
            "rebuild and check replay discipline")
      // gate 2 — residual-quantization fit vs a codebook retrain
      val reCb = Pq.trainCodebooks(res, "id", "rv", m, a.seedPred, a.iters)
        .localCheckpoint()
      val reAsg = Pq.assign(Pq.subvectors(res, "id", "rv", m), reCb)
        .join(res.select("id", "bid"), "id")
        .localCheckpoint()
      def errMicro(df: DataFrame): Long =
        df.agg(coalesce(sum(round(col("d2") * 1000000).cast("long")), lit(0L)))
          .head().getLong(0)
      val eInc = errMicro(oneShot)
      val eReb = errMicro(reAsg)
      val fit =
        if (eInc * 1000 <= eReb * a.fitRatioMilli)
          GateVerdict.Ok("fit", s"maintained µerr $eInc vs retrain $eReb " +
            s"(ratio dial ${a.fitRatioMilli}/1000)")
        else GateVerdict.BuildNeeded("fit",
          s"maintained µerr $eInc exceeds ${a.fitRatioMilli}/1000 of the " +
            s"retrain's $eReb — the frozen residual codebooks no longer " +
            "fit; schedule a build")
      // gate 3 — two-stage ADC recall@k vs exact-L2 truth
      val (brute, nBrute) = graft.operators.Lineage.localCheckpointWithCount(
        Pq.exactL2TopK(a.corpus, idCol, vecCol, a.queryPred, a.k))
      val queries = a.corpus.where(a.queryPred)
      val probes = IvfPq.probeResiduals(queries, idCol, vecCol, cc, a.nprobe)
        .localCheckpoint() // both searches read it
      def hits(cds: DataFrame, books: DataFrame): Long =
        IvfPq.searchAdc(probes, cds.select("id", "bid", "sub", "code"),
            books, m, a.k)
          .select("q_id", "cand_id")
          .join(brute, Seq("q_id", "cand_id")).count()
      val hm = hits(live, cb)
      val hr = hits(reAsg, reCb)
      val recall =
        if (nBrute == 0 || hm >= hr - a.recallSlack * nBrute)
          GateVerdict.Ok("recall",
            s"maintained $hm vs retrained $hr of $nBrute brute pairs")
        else GateVerdict.BuildNeeded("recall",
          s"maintained $hm vs retrained $hr of $nBrute brute pairs — " +
            "recall trails the retrain past the slack; schedule a build " +
            "(consider raising nprobe until it lands)")
      Seq(drift, fit, recall)
    }
    MaintainReport(v, replayed, compacted,
      Maintain.liveMarkers(spark, stateDir), gates)
  }
}
