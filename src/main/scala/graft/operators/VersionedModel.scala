package graft.operators

import graft.ann.IndexSegments
import org.apache.spark.sql.SparkSession

/** Shared lifecycle of a VERSIONED TRAINED ARTIFACT (quality-filter
  * coefficients, BPE merge tables, Naive-Bayes count tables, …): a
  * model never evolves incrementally — every commit is a full retrain
  * — so there is no count algebra, no compaction, no base horizon; a
  * version is self-contained. What the member families share is the
  * PROTOCOL: `model` / `model:<id>` labels, the trainer replay guard
  * (a crashed-and-retried fit is a no-op, never a silent re-train on a
  * drifted corpus under an old intent), the delivered-id sidecar that
  * rides EVERY commit so the guard survives [[gc]] (a past-retention
  * replay fails LOUDLY), pinned version resolution, and retention.
  * This object holds that protocol in ONE place — it existed as three
  * hand-copies (QualityModel / BpeState / NbState) until the first
  * shared guard fix would have had to land three times (the
  * IndexSegments.liveCounts lesson applied to trained artifacts).
  */
object VersionedModel {

  /** Every fit id known delivered, oldest first: the NEWEST version's
    * sidecar (each commit carries the full prior set forward) followed
    * by the live markers' labels.
    */
  def deliveredAll(spark: SparkSession, stateDir: String,
                   cs: Seq[(Long, String)]): Seq[String] = {
    val sidecar = cs.lastOption.toSeq.flatMap { case (n, _) =>
      VersionedState.readLines(spark,
        VersionedState.versionPath(stateDir, n), IndexSegments.DeliveredFile)
    }
    (sidecar ++ cs.collect { case (_, l) if l.contains(":") => l }).distinct
  }

  /** Replay-guarded commit of a (re)train: returns the already-
    * committed version when `deltaId` was delivered, refuses LOUDLY
    * when the delivered version was gc'd past retention, and otherwise
    * runs `write` — which trains and writes the artifact into the
    * fresh version dir — beside the carried-forward sidecar. Training
    * inside the commit closure keeps the torn-commit guarantee: a
    * crashed trainer leaves no marker, so the half-written version is
    * invisible.
    */
  def fitCommit(spark: SparkSession, stateDir: String, deltaId: String)
               (write: String => Unit): Long = {
    // validate-first (family invariant)
    val label = IndexSegments.replayLabel("model", deltaId)
    val cs = VersionedState.committed(spark, stateDir)
    if (deltaId.nonEmpty) {
      cs.collectFirst { case (n, l) if l == label => n } match {
        case Some(v) => return v // replayed trainer run: already committed
        case None =>
          require(!deliveredAll(spark, stateDir, cs).contains(label),
            s"fit '$deltaId' was already delivered at $stateDir but its " +
              "version was gc'd past retention — a replay this old cannot " +
              "resolve its artifact; use a fresh id if a retrain is intended")
      }
    }
    val delivered = IndexSegments.retainDelivered(
      deliveredAll(spark, stateDir, cs),
      IndexSegments.DefaultMaxDelivered, stateDir, op = "fit")
    val prev = cs.lastOption.map(_._1)
    VersionedState.commit(spark, stateDir, prev, label = label) { vdir =>
      write(vdir)
      VersionedState.writeLines(spark, vdir, IndexSegments.DeliveredFile,
        delivered)
    }
  }

  /** The version a pinned read resolves: newest committed ≤ `asOf`. */
  def pinned(spark: SparkSession, stateDir: String,
             asOf: Option[Long]): Option[Long] = {
    val cs0 = VersionedState.committed(spark, stateDir)
    asOf.fold(cs0)(v => cs0.filter(_._1 <= v)).lastOption.map(_._1)
  }

  /** Reclaim versions below the newest `keepLast` (pinned cuts must be
    * within the retained window).
    */
  def gc(spark: SparkSession, stateDir: String, keepLast: Int = 2): Unit = {
    val cs = VersionedState.committed(spark, stateDir)
    if (cs.length > keepLast)
      VersionedState.gc(spark, stateDir,
        keepFrom = cs.map(_._1).sorted.takeRight(keepLast).head)
  }
}
