package graft.operators

/** The runbook's decision table as a RESULT TYPE — what a maintenance
  * call tells its operator (ARCHITECTURE.md "Runbook: operating the
  * durable maintenance family"), so the build-needed / corruption
  * distinction is code a scheduler can branch on, not prose:
  *
  *  - [[GateVerdict.Ok]] — the gate held.
  *  - [[GateVerdict.BuildNeeded]] — fit/recall degraded: the frozen
  *    dials no longer fit the drifted distribution. NOT corruption;
  *    schedule a `build` at the next maintenance window.
  *  - [[GateVerdict.Corruption]] — drift ≠ 0 under frozen dials:
  *    merges are exact by algebra, so the maintained state can only
  *    differ from a one-shot recompute if segments were lost,
  *    duplicated (an id-less refresh replayed by an at-least-once
  *    source), or mixed across bases. Rebuild AND investigate.
  */
sealed trait GateVerdict {
  def gate: String
  def detail: String
  def ok: Boolean
}

object GateVerdict {
  final case class Ok(gate: String, detail: String) extends GateVerdict {
    val ok = true
  }
  final case class BuildNeeded(gate: String, detail: String)
      extends GateVerdict {
    val ok = false
  }
  final case class Corruption(gate: String, detail: String)
      extends GateVerdict {
    val ok = false
  }
}

/** What one `maintain()` call did and found.
  *
  * @param version     the committed version after the refresh (the
  *                    already-committed one when `replayed`)
  * @param replayed    the delta id was already delivered — the refresh
  *                    was a no-op
  * @param compacted   this call folded the horizon (the marker dial
  *                    tripped after the refresh)
  * @param liveMarkers markers on the current read horizon after the
  *                    call — what the next read's segment fan-out and
  *                    the driver-side marker scan cost
  * @param gates       audit verdicts (empty when no audit was requested)
  * @param measured    the raw numbers the gates evaluated (e.g.
  *                    "acc" / "oov_rate"), so a caller that needs the
  *                    value the verdict was based on reads it here
  *                    instead of re-running the scoring pass the gate
  *                    already paid for
  */
final case class MaintainReport(version: Long, replayed: Boolean,
                                compacted: Boolean, liveMarkers: Int,
                                gates: Seq[GateVerdict],
                                measured: Map[String, Double] = Map.empty) {
  def corrupted: Boolean =
    gates.exists(_.isInstanceOf[GateVerdict.Corruption])
  def buildNeeded: Boolean =
    gates.exists(_.isInstanceOf[GateVerdict.BuildNeeded])
  def healthy: Boolean = gates.forall(_.ok)
}

private[graft] object Maintain {

  /** Markers on the current read horizon (≥ the latest base). */
  def liveMarkers(spark: org.apache.spark.sql.SparkSession,
                  stateDir: String): Int = {
    val cs = VersionedState.committed(spark, stateDir)
    val base = graft.ann.IndexSegments.lastBase(cs, stateDir)
    cs.count(_._1 >= base)
  }

  /** The runbook shell every family's `maintain()` shares: `refresh`
    * the delta (replay-guarded by the family), `compact` when the read
    * horizon's marker count exceeds `maxLiveMarkers`, then run `gates`
    * (the audit verdicts and the numbers they read; empty when no audit
    * was asked for). A fresh commit returns prev+1, so a version ≤ the
    * one listed before the refresh is a replay — one `currentVersion`
    * listing instead of a second full delivered-set read. The markers
    * are listed again only when the compaction changed them.
    */
  def run(spark: org.apache.spark.sql.SparkSession, stateDir: String,
          maxLiveMarkers: Int, refresh: => Long, compact: => Unit,
          gates: => (Seq[GateVerdict], Map[String, Double])): MaintainReport = {
    val prev = VersionedState.currentVersion(spark, stateDir)
    val v = refresh
    val markers = liveMarkers(spark, stateDir)
    val compacted = markers > maxLiveMarkers
    if (compacted) compact
    val (verdicts, measured) = gates
    MaintainReport(v, prev.exists(v <= _), compacted,
      if (compacted) liveMarkers(spark, stateDir) else markers, verdicts,
      measured)
  }
}
