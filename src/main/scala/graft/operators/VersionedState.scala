package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned atomic commits for durable on-disk state — the commit
  * protocol shared by the sketch-maintenance state tables
  * ([[graft.streaming.SketchState]]) and the incrementally-maintained
  * ANN index ([[graft.ann.IvfIndex]]).
  *
  * Layout under a state directory:
  *
  * {{{
  * stateDir/
  *   v0000000000000000001/   ← one version's payload (whatever the
  *   v0000000000000000002/     caller's writer put there — a parquet
  *                              table, or several under subdirs)
  *   commits/1  commits/2    ← commit markers; marker CREATION is the
  *                              commit point (atomic create on HDFS; a
  *                              single PUT on object stores). Marker
  *                              BYTES carry a small caller label.
  * }}}
  *
  * A commit writes the payload into the FRESH directory v(prev+1) and
  * only then creates `commits/(prev+1)` — never an in-place overwrite
  * of a directory a reader may be scanning. A crash anywhere before
  * the marker leaves the previous version as the committed state; the
  * half-written next version is invisible to readers and simply
  * overwritten by the next attempt. All paths resolve through Hadoop
  * `FileSystem` from the session's `hadoopConfiguration` — local,
  * HDFS, or object store alike.
  *
  * Single-writer discipline is assumed (one maintainer per state
  * directory); a concurrent second writer is surfaced by the marker's
  * create-exclusive failing, not silently merged.
  */
object VersionedState {

  /** Upper bound on a commit marker's byte length — generous (family
    * labels are `base-compact:L=50`-sized; delta ids are capped at 200
    * chars upstream) but finite, so [[committed]]'s full-marker read
    * can never be asked to buffer an arbitrarily large foreign file.
    */
  val MaxLabelBytes = 4096

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The on-disk directory of version `n` under `stateDir`. */
  def versionPath(stateDir: String, n: Long): String =
    new Path(new Path(stateDir), f"v$n%019d").toString

  /** All committed (version, label) pairs, ascending by version —
    * empty if no commit ever succeeded. A state directory that exists
    * but holds anything OTHER than this module's layout (version dirs
    * + commit log) is an error to surface — e.g. a flat parquet table
    * from a pre-versioned layout, or a caller pointing at the wrong
    * path — never silently treated as empty state. Version dirs
    * without any marker are a crashed FIRST commit: there was no
    * committed state to lose, so empty is the truth.
    */
  def committed(spark: SparkSession, stateDir: String): Seq[(Long, String)] = {
    val (fs, root) = fsOf(spark, stateDir)
    if (!fs.exists(root)) return Nil
    val foreign = fs.listStatus(root).map(_.getPath.getName).filterNot { n =>
      n == "commits" || (n.startsWith("v") && n.drop(1).forall(_.isDigit))
    }
    require(foreign.isEmpty,
      s"$stateDir exists but is not a versioned-state directory " +
        s"(unexpected entries: ${foreign.sorted.mkString(", ")}) — refusing " +
        "to treat it as empty state")
    val commits = new Path(root, "commits")
    if (!fs.exists(commits)) return Nil
    fs.listStatus(commits).toSeq
      .flatMap { st =>
        st.getPath.getName.toLongOption.map { n =>
          // the WHOLE marker, not a prefix: the replay guard compares
          // labels by equality, and a truncated read would silently
          // never match a long (e.g. multibyte) delta id. commit()
          // bounds what it writes; a marker past that bound is foreign.
          require(st.getLen <= MaxLabelBytes,
            s"commit marker ${st.getPath} is ${st.getLen} bytes (> " +
              s"$MaxLabelBytes) — not written by this module")
          val in = fs.open(st.getPath)
          val label =
            try {
              val buf = new Array[Byte](st.getLen.toInt)
              var off = 0
              var r = 0
              while (off < buf.length && r >= 0) {
                r = in.read(buf, off, buf.length - off)
                if (r > 0) off += r
              }
              new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8)
            } finally in.close()
          (n, label)
        }
      }
      .sortBy(_._1)
  }

  /** Highest committed version, or None before the first commit. */
  def currentVersion(spark: SparkSession, stateDir: String): Option[Long] =
    committed(spark, stateDir).lastOption.map(_._1)

  /** Write version prev+1 via `write` (handed the fresh version
    * directory) and atomically commit it with `label` in the marker;
    * then delete committed versions strictly below `gcBelow` (marker
    * and payload). Returns the committed version number. A `write` that
    * throws (a refusal counted inside the write, a failed job) has its
    * half-written directory removed before the rethrow, so a refused
    * commit leaves the directory listing as it found it; a failed
    * marker create does not, since that directory may be a second
    * writer's.
    */
  def commit(spark: SparkSession, stateDir: String, prev: Option[Long],
             label: String = "", gcBelow: Long = Long.MinValue)
            (write: String => Unit): Long = {
    val labelBytes = label.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(labelBytes.length <= MaxLabelBytes,
      s"commit label is ${labelBytes.length} bytes (> $MaxLabelBytes) — " +
        "labels ride in the marker and must stay small; large payloads " +
        "belong in the version directory")
    val (fs, root) = fsOf(spark, stateDir)
    val next = prev.getOrElse(0L) + 1L
    val commits = new Path(root, "commits")
    // fail FAST if this version is already committed — a second writer
    // with a stale `prev` must never touch an already-committed
    // version's payload (the create-exclusive below still guards the
    // race where both writers pass this check; this check guarantees
    // the COMMON stale-prev case leaves the committed payload unread
    // and unwritten)
    if (fs.exists(new Path(commits, next.toString)))
      throw new IllegalStateException(
        s"version $next already exists (committed) under $stateDir — a " +
          "second writer committed it; refusing to touch its payload. " +
          "Re-read currentVersion and retry with a fresh prev.")
    // the writer targets a fresh dir; a half-written leftover of a
    // crashed attempt at this same (uncommitted) version is cleared
    // first — it was never committed, nothing is lost
    val vdir = new Path(versionPath(stateDir, next))
    if (fs.exists(vdir)) fs.delete(vdir, true)
    try write(vdir.toString)
    catch { case e: Throwable => fs.delete(vdir, true); throw e }
    fs.mkdirs(commits)
    // create-exclusive IS the commit point; an existing marker means a
    // second writer committed this version — surface, don't clobber
    val out = fs.create(new Path(commits, next.toString), false)
    try out.write(labelBytes)
    finally out.close()
    gc(spark, stateDir, gcBelow, protect = next)
    next
  }

  /** Delete committed versions strictly below `keepFrom` (payload
    * FIRST, marker second — a crash between the two leaves a marker
    * whose payload is gone, retried by the next GC pass which iterates
    * markers, never a marker-less payload no later pass would ever
    * reclaim) and sweep marker-less version dirs below the floor
    * (crashed attempts at superseded versions; invisible to readers but
    * they leak disk forever if nobody deletes them). `protect` is a
    * version never touched regardless of the floor (the version a
    * surrounding [[commit]] just created).
    */
  def gc(spark: SparkSession, stateDir: String, keepFrom: Long,
         protect: Long = Long.MinValue): Unit = {
    val (fs, root) = fsOf(spark, stateDir)
    val commits = new Path(root, "commits")
    for ((old, _) <- committed(spark, stateDir) if old < keepFrom && old != protect) {
      fs.delete(new Path(versionPath(stateDir, old)), true)
      fs.delete(new Path(commits, old.toString), false)
    }
    if (keepFrom > Long.MinValue) {
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v") && n.drop(1).forall(_.isDigit)) {
          n.drop(1).toLongOption.foreach { v =>
            if (v < keepFrom && v != protect &&
                !fs.exists(new Path(commits, v.toString)))
              fs.delete(st.getPath, true)
          }
        }
      }
    }
  }

  /** Write `lines` as a small newline-delimited sidecar file inside a
    * version directory being built (call from a [[commit]] writer).
    * Families use this for driver-side metadata that must survive
    * compaction — e.g. the delivered-delta-id set the replay guard
    * consults ([[graft.ann.IndexSegments.compact]]). Lines must not
    * contain line breaks (the delta-id validation upstream enforces
    * it for ids).
    */
  def writeLines(spark: SparkSession, vdir: String, name: String,
                 lines: Seq[String]): Unit = {
    val (fs, _) = fsOf(spark, vdir)
    val out = fs.create(new Path(new Path(vdir), name), true)
    try out.write(lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a sidecar file written by [[writeLines]] — empty if the file
    * does not exist (versions predating the convention).
    */
  def readLines(spark: SparkSession, vdir: String,
                name: String): Seq[String] = {
    val (fs, _) = fsOf(spark, vdir)
    val p = new Path(new Path(vdir), name)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      var off = 0
      var r = 0
      while (off < len && r >= 0) {
        r = in.read(buf, off, len - off)
        if (r > 0) off += r
      }
      val s = new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8)
      if (s.isEmpty) Nil else s.split("\n", -1).toSeq
    } finally in.close()
  }
}
