package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Shared physical-plan walker for file scans — the profiles and the
  * partition-pruning specs all audit the same question ("which files
  * did this plan SELECT, post partition-pruning?"), and a per-site
  * copy of the AQE unwrapping would silently under-count scans the
  * first time a new adaptive wrapper node appears.
  */
object FileScans {

  /** Every [[FileSourceScanExec]] in an executed plan, unwrapping the
    * adaptive nodes (call AFTER an action so AQE's final plan exists).
    */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec        => scans(s.plan)
    case f: FileSourceScanExec    => Seq(f)
    case other                    => other.children.flatMap(scans)
  }

  /** Execute `df` and return its file scans, optionally restricted to
    * scans whose root path contains `pathPart`.
    */
  def executedScans(df: DataFrame,
                    pathPart: Option[String] = None): Seq[FileSourceScanExec] = {
    df.collect()
    scansAfterRun(df, pathPart)
  }

  /** As [[executedScans]], for a `df` whose own plan already ran (a
    * `collect()`; `head()` runs a different, limited plan).
    */
  def scansAfterRun(df: DataFrame,
                    pathPart: Option[String] = None): Seq[FileSourceScanExec] =
    scans(df.queryExecution.executedPlan)
      .filter(s => pathPart.forall(p =>
        s.relation.location.rootPaths.exists(_.toString.contains(p))))

  /** (selected file count, selected bytes) across the matching scans —
    * the deterministic post-pruning footprint a cold store charges.
    */
  def selected(df: DataFrame,
               pathPart: Option[String] = None): (Long, Long) =
    footprint(executedScans(df, pathPart))

  /** (selected file count, selected bytes) of executed scans. */
  def footprint(ps: Seq[FileSourceScanExec]): (Long, Long) =
    (ps.map(_.metrics("numFiles").value).sum,
      ps.map(_.metrics("filesSize").value).sum)
}
