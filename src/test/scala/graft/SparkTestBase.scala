package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. One JVM-wide session (sbt runs
  * suites sequentially in a forked JVM) keeps total test time dominated by
  * the queries, not session startup.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  def sf(dir: String): String = s"/root/testdata/$dir"

  def tempDir(prefix: String): String = SparkTestBase.tempDir(prefix)

  /** A state dir that does not exist yet, inside a new temp dir. */
  def freshDir(tag: String): String = tempDir(s"graft_${suiteName}_$tag") + "/st"
}

object SparkTestBase {

  /** A new empty directory under the system temp dir, deleted with
    * everything in it when the test JVM exits. Not sooner: lazily read
    * frames and the shared session's checkpoint dir may point into it.
    */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    ScratchDirs.cleanupOnExit(d)
    d
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
