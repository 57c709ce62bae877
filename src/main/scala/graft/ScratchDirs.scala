package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.commons.io.FileUtils

/** Scratch directories that outlive the query that made them: a
  * result frame reads its state dir lazily, so JVM exit is the earliest
  * safe point to delete one.
  */
private[graft] object ScratchDirs {

  /** Paths to delete at JVM exit, by one shutdown hook for all of them. */
  private lazy val atExit = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d => FileUtils.deleteQuietly(new java.io.File(d)))))
    dirs
  }

  /** Registers `path` for recursive deletion at JVM exit (idempotent:
    * a bench reruns a query many times in one process).
    */
  def cleanupOnExit(path: String): Unit = atExit.add(path): Unit

  /** One FRESH dir per name for one execution of a state-owning query,
    * `<tmpdir>/graft_<name>_<input dir>_p<pid>_<run>`, deleted at JVM
    * exit. Bench reps and repeated verify runs must each exercise the
    * full build → refresh cycle, not append segments to a previous
    * run's state; the run counter is what makes "fresh" true within one
    * JVM.
    */
  def fresh(dir: String, names: String*): Seq[String] = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_p" +
      ProcessHandle.current.pid + "_" + runs.incrementAndGet()
    val dirs = names.map(n => s"${System.getProperty("java.io.tmpdir")}/graft_${n}_$tag")
    dirs.foreach(cleanupOnExit)
    dirs
  }
  private val runs = new AtomicLong()
}
