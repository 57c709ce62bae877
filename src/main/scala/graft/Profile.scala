package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.immutable.ListMap

/** Dev tool: one main for every profiling scenario —
  * `runMain graft.Profile <scenario> [args...]`, on a
  * `local[SPARK_GRAFT_CPUS]` session (default 32 cores).
  *
  *  - `query <q1,q2,...> [n] [sfDir]` — each catalog query `n` times
  *    (default 3) in one warm session through the `noop` sink, with a
  *    PROFILE line per run, per job and per stage;
  *  - `plans <outDir> <q1,q2,...> [sfDir] [suffix]` — write each
  *    query's `explain("formatted")` to `<outDir>/<name><suffix>.txt`
  *    (the before/after plan evidence under `plans/`);
  *  - `bm25`, `banded`, `cluster`, `exactsubstr`, `rank` — the scale
  *    spot-checks in [[ScaleChecks]], each on synthetic data far past
  *    the catalog's sf0.1, each equal-results-checked before it times
  *    anything.
  *
  * Queries read `sfDir`, default `/root/testdata/sf0.1`. Every
  * scenario ends with one JSON summary line; timings inside it are the
  * median of the PROFILE lines it printed.
  */
object Profile {

  /** A scenario's summary: ordered fields, rendered by [[Json.obj]]. */
  type Summary = Seq[(String, Any)]
  type Scenario = (SparkSession, Seq[String]) => Summary

  val scenarios: ListMap[String, Scenario] = ListMap(
    "query" -> query,
    "plans" -> plans,
    "bm25" -> ScaleChecks.bm25,
    "banded" -> ScaleChecks.banded,
    "cluster" -> ScaleChecks.cluster,
    "exactsubstr" -> ScaleChecks.exactSubstr,
    "rank" -> ScaleChecks.rank)

  def scenario(name: String): Scenario = scenarios.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown scenario '$name'; one of: ${scenarios.keys.mkString(", ")}"))

  def main(args: Array[String]): Unit = {
    val run = scenario(args.headOption.getOrElse(""))
    val spark = LocalSession(32)
    try println(Json.obj(run(spark, args.toSeq.tail)))
    finally spark.stop()
  }

  private val DefaultSf = "/root/testdata/sf0.1"

  private[graft] def arg(args: Seq[String], i: Int, default: => String): String =
    if (args.length > i) args(i) else default

  /** Median wall seconds of `reps` runs of `body(rep)` (reps count from
    * 1), each after a cache clear; one PROFILE line per run.
    */
  private[graft] def timed(spark: SparkSession, tag: String, reps: Int)(
      body: Int => Unit): Double = {
    val ts = (1 to reps).map { i =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      body(i)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"PROFILE $tag rep $i: $s%.2f s")
      s
    }.sorted
    ts(ts.length / 2)
  }

  /** Runs `body` on a fresh temporary directory and deletes it after:
    * the scale scenarios write gigabytes of index state at their
    * default sizes.
    */
  private[graft] def withScratch[A](prefix: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def queryNames(list: String): Seq[String] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    names
  }

  private def query(spark: SparkSession, args: Seq[String]): Summary = {
    val names = queryNames(arg(args, 0, ""))
    val n = arg(args, 1, "3").toInt
    val sfDir = arg(args, 2, DefaultSf)
    val sc = spark.sparkContext
    val listener = new StageLines
    sc.addSparkListener(listener)
    val medians =
      try names.map { nm =>
        nm -> timed(spark, nm, n) { _ =>
          SparkEntry.queries(nm)(spark, sfDir).write.mode("overwrite")
            .format("noop").save()
        }
      } finally sc.removeSparkListener(listener)
    Seq("metric" -> "query_sec", "sf" -> sfDir, "median" -> medians)
  }

  /** One PROFILE line per finished job and per completed stage. */
  private class StageLines extends SparkListener {
    private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobStarts.put(js.jobId, System.nanoTime())
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStarts.remove(je.jobId)).getOrElse(0L)
      println(f"PROFILE   job ${je.jobId}%3d: ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val wall = (for {a <- si.completionTime; b <- si.submissionTime}
        yield (a - b) / 1e3).getOrElse(-1.0)
      println(f"PROFILE     stage ${si.stageId}%4d: $wall%6.2f s " +
        f"tasks=${si.numTasks}%3d run=${si.taskMetrics.executorRunTime / 1e3}%7.2f s " +
        f"shr=${si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB " +
        f"shw=${si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB " +
        s"| ${si.name.takeWhile(_ != '\n').take(90)}")
    }
  }

  private def plans(spark: SparkSession, args: Seq[String]): Summary = {
    val outDir = arg(args, 0, throw new IllegalArgumentException(
      "plans <outDir> <q1,q2,...> [sfDir] [suffix]"))
    val names = queryNames(arg(args, 1, ""))
    val sfDir = arg(args, 2, DefaultSf)
    val suffix = arg(args, 3, "")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { nm =>
      // building the frame runs the query's EAGER prelude (state
      // builds, checkpoints); the plan written is the returned frame's
      val txt = SparkEntry.queries(nm)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$nm$suffix.txt"), txt)
      System.err.println(s"[plans] wrote $outDir/$nm$suffix.txt")
    }
    Seq("metric" -> "plans", "out" -> outDir, "written" -> names.size)
  }
}
