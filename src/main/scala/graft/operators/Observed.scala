package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Free audit metrics on production actions — `Dataset.observe`
  * (Catalyst `CollectMetrics`): named aggregates ride the SAME pass
  * that executes the action, so a 100 TB corpus write gets its row
  * count, null tallies and checksums for zero extra scans. The
  * alternative — re-reading the output to validate it — doubles the
  * I/O bill of every pipeline stage; the degenerate version (a
  * separate `.count()` before the write) even doubles the compute.
  *
  * Metrics must be aggregate expressions (Spark enforces: no
  * distinct, no filter clauses); they partial-aggregate per task and
  * merge on the driver, so the overhead is a few accumulators per
  * task, independent of data volume.
  */
object Observed {

  /** Run `action` over `df` with `metrics` observed on the way
    * through; returns (action result, metric name → value). The
    * metrics describe exactly the rows the action consumed — if the
    * action short-circuits (e.g. `limit`), they reflect the rows
    * actually read, which is the honest number for an audit.
    */
  def audited[T](df: DataFrame, metrics: Map[String, Column])
                (action: DataFrame => T): (T, Map[String, Any]) = {
    require(metrics.nonEmpty, "need at least one metric")
    val obs = Observation()
    val cols = metrics.map { case (n, c) => c.as(n) }.toSeq
    val observed = df.observe(obs, cols.head, cols.tail: _*)
    val result = action(observed)
    (result, obs.get)
  }

  /** Run `action` over `df` with ONE `metric` observed; returns (action
    * result, metric value). An input found empty — by the optimizer,
    * or by adaptive execution once the exchange above it ran empty —
    * may lose its observation from the executed plan, and Spark then
    * reports no metric at all; `whenPruned` is the value for that case
    * (the metric over zero rows: 0 for a count, empty for a set).
    */
  def metric[T, M](df: DataFrame, metric: Column, whenPruned: M)
                  (action: DataFrame => T): (T, M) = {
    val (result, m) = audited(df, Map("m" -> metric))(action)
    (result, m.get("m").fold(whenPruned)(_.asInstanceOf[M]))
  }

  /** Parquet write + audit in one pass: writes `df` to `path`
    * (overwrite) and returns the observed metrics — the manifest row
    * a pipeline stores next to the output it just produced.
    */
  def writeAudited(df: DataFrame, path: String,
                   metrics: Map[String, Column]): Map[String, Any] =
    audited(df, metrics)(_.write.mode("overwrite").parquet(path))._2
}
