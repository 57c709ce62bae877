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
              stateDir: String, deltaId: String = ""): Long = {
    val spark = delta.sparkSession
    val prev = VersionedState.currentVersion(spark, stateDir)
    require(prev.nonEmpty,
      s"no committed index at $stateDir — run build() before refresh()")
    IndexSegments.replayGuarded(spark, stateDir, "delta", deltaId) { label =>
      val stored = spark.read.parquet(
        s"${VersionedState.versionPath(stateDir, prev.get)}/codebooks")
      // bounded collect: the codebook table is m·k rows by construction
      val mRow = stored.agg(max("sub")).head()
      require(!mRow.isNullAt(0),
        s"stored codebook table at $stateDir is empty — the index is " +
          "unusable; run build() with a non-empty seed set")
      val m = mRow.getInt(0) + 1
      val pdir = VersionedState.versionPath(stateDir, prev.get)
      VersionedState.commit(spark, stateDir, prev, label = label) { vdir =>
        // codebooks are frozen off a build: byte-identical FS carry
        IndexSegments.carryDir(spark, s"$pdir/codebooks", s"$vdir/codebooks")
        Pq.assign(Pq.subvectors(delta, idCol, vecCol, m),
            spark.read.parquet(s"$vdir/codebooks"))
          .write.mode("overwrite").parquet(s"$vdir/segment")
      }
    }
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
    * dial, and (on audit cadence) drift / fit / recall verdicts typed.
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
      val cb = codebooks(spark, stateDir).get.localCheckpoint()
      val m = cb.agg(max("sub")).head().getInt(0) + 1
      // checkpoint + count fused (one job each — Lineage doc): the
      // audit always counts what it just materialized
      val (live, nLive) = graft.operators.Lineage.localCheckpointWithCount(
        codes(spark, stateDir).get)
      val (oneShot, nOne) = graft.operators.Lineage.localCheckpointWithCount(
        Pq.assign(Pq.subvectors(a.corpus, idCol, vecCol, m), cb)) // drift + fit + search read it
      // gate 1 — drift: per-(id, sub) code identity + row-count check
      // (duplicated segments match pointwise; the count catches them)
      val mism = live.select(col("id"), col("sub"), col("code").as("c1"))
        .join(oneShot.select(col("id"), col("sub"), col("code").as("c2")),
          Seq("id", "sub"), "full_outer")
        .where(col("c1").isNull || col("c2").isNull || col("c1") =!= col("c2"))
        .count()
      val drift =
        if (mism == 0 && nLive == nOne)
          GateVerdict.Ok("drift", s"maintained ≡ one-shot re-encode over $nOne code rows")
        else GateVerdict.Corruption("drift",
          s"$mism code mismatches, $nLive live rows vs $nOne one-shot — " +
            "segments lost, duplicated or mixed across bases; rebuild and " +
            "check for id-less replays or a foreign writer")
      // gate 2 — fit: maintained total quantization error vs a fresh
      // codebook retrain, exact micro-scaled integers (q267's gate)
      val reCb = Pq.trainCodebooks(a.corpus, idCol, vecCol, m,
        a.seedPred, a.iters).localCheckpoint()
      val reAsg = Pq.assign(Pq.subvectors(a.corpus, idCol, vecCol, m), reCb)
        .localCheckpoint() // fit sum + rebuilt search read it
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
            s"retrain's $eReb — the frozen codebooks no longer fit; " +
            "schedule a build")
      // gate 3 — ADC recall@k vs exact-L2 truth on the query slice
      val (brute, nBrute) = graft.operators.Lineage.localCheckpointWithCount(
        Pq.exactL2TopK(a.corpus, idCol, vecCol, a.queryPred, a.k)) // 2 hit joins read it
      val queries = a.corpus.where(a.queryPred)
      def hits(cds: DataFrame, books: DataFrame): Long =
        Pq.adcTopK(queries, idCol, vecCol, cds.select("id", "sub", "code"),
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
            "recall trails the retrain past the slack; schedule a build")
      Seq(drift, fit, recall)
    }
    MaintainReport(v, replayed, compacted,
      Maintain.liveMarkers(spark, stateDir), gates)
  }

  /** The live codebook table, or None before the first build. */
  def codebooks(spark: SparkSession, stateDir: String): Option[DataFrame] =
    VersionedState.currentVersion(spark, stateDir).map { n =>
      spark.read.parquet(s"${VersionedState.versionPath(stateDir, n)}/codebooks")
    }

  /** The live code table — the union of every segment from the latest
    * base (`base`/`base-compact`) onward, minus tombstoned rows (all
    * encoded against the same frozen codebooks, by the commit pairing;
    * ordering semantics in [[IndexSegments.live]]).
    */
  def codes(spark: SparkSession, stateDir: String): Option[DataFrame] =
    IndexSegments.live(spark, stateDir)
}
