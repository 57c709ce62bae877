package graft

import org.apache.spark.sql.SparkSession

/** The session every command-line main runs on: `local[cpus]` with one
  * shuffle partition per core, UTC session time and no UI. `cpus` is
  * `SPARK_GRAFT_CPUS` when set, else the main's own default.
  */
object LocalSession {
  def apply(defaultCpus: Int, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
