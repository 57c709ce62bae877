package graft

import graft.operators.VersionedState
import org.apache.spark.sql.functions._

/** Direct contract tests for the shared commit protocol (SketchState /
  * IvfIndex / PqIndex / IvfPqIndex specs cover it end-to-end; these pin
  * the primitive's own edges: marker labels round-trip, GC keeps the
  * requested tail, and the single-writer assumption is SURFACED by the
  * create-exclusive marker, never silently merged).
  */
class VersionedStateSpec extends SparkTestBase {

  private def commitOne(dir: String, prev: Option[Long], label: String,
                        gcBelow: Long = Long.MinValue): Long =
    VersionedState.commit(spark, dir, prev, label, gcBelow) { vdir =>
      spark.range(3).write.mode("overwrite").parquet(vdir)
    }

  test("labels round-trip through the commit markers in version order") {
    val dir = freshDir("labels")
    commitOne(dir, None, "base")
    commitOne(dir, Some(1L), "delta")
    commitOne(dir, Some(2L), "delta")
    assert(VersionedState.committed(spark, dir) ===
      Seq((1L, "base"), (2L, "delta"), (3L, "delta")))
    assert(VersionedState.currentVersion(spark, dir) === Some(3L))
  }

  test("a second writer is surfaced by the marker create, not silently merged") {
    val dir = freshDir("writers")
    commitOne(dir, None, "base")
    // writer B commits version 2 while writer A still believes prev = 1
    VersionedState.commit(spark, dir, Some(1L), "delta") { vdir =>
      spark.range(100, 107).write.mode("overwrite").parquet(vdir)
    }
    // writer A's attempt at version 2 must FAIL BEFORE touching v2's
    // payload — a stale-prev writer that clobbered the committed
    // payload and only then failed at the marker would leave the
    // marker pointing at the stale writer's (possibly torn) data
    val e = intercept[Exception] {
      VersionedState.commit(spark, dir, Some(1L), "delta") { vdir =>
        spark.range(5).write.mode("overwrite").parquet(vdir) // writer A's rows
      }
    }
    assert(e.isInstanceOf[java.io.IOException]
        || e.getMessage.toLowerCase.contains("exist"),
      s"expected the commit to refuse, got: $e")
    // the committed history is writer B's, intact — PAYLOAD included
    assert(VersionedState.committed(spark, dir).map(_._1) === Seq(1L, 2L))
    assert(spark.read.parquet(VersionedState.versionPath(dir, 2L))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted === (100L until 107L).toArray,
      "writer B's committed payload must be untouched by writer A's attempt")
  }

  test("GC is payload-first and sweeps marker-less orphans below the floor") {
    val dir = freshDir("orphan")
    commitOne(dir, None, "base")
    commitOne(dir, Some(1L), "delta")
    // simulate a GC pass that died between payload delete and marker
    // delete for v1: payload gone, marker still present
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      VersionedState.versionPath(dir, 1L)), true)
    // plus a crashed attempt at a never-committed version: payload
    // without marker
    val orphanDir = new java.io.File(new java.io.File(dir), f"v${0L}%019d")
    assert(orphanDir.mkdirs())
    java.nio.file.Files.writeString(orphanDir.toPath.resolve("junk"), "x")
    // the next commit's GC pass reclaims BOTH: the half-GC'd marker
    // retries (payload already gone), and the marker-less orphan below
    // the floor is swept
    commitOne(dir, Some(2L), "delta", gcBelow = 3L)
    assert(VersionedState.committed(spark, dir).map(_._1) === Seq(3L),
      "the marker of the half-GC'd version must be reclaimed on retry")
    assert(!orphanDir.exists,
      "a marker-less payload below the GC floor must be swept")
  }

  test("gcBelow deletes exactly the requested tail — markers and payloads") {
    val dir = freshDir("gc")
    commitOne(dir, None, "base")
    commitOne(dir, Some(1L), "delta")
    commitOne(dir, Some(2L), "delta", gcBelow = 2L) // delete v1 only
    assert(VersionedState.committed(spark, dir).map(_._1) === Seq(2L, 3L))
    assert(!new java.io.File(VersionedState.versionPath(dir, 1L)).exists,
      "GC'd payload must be gone from disk")
    // the survivors still read
    assert(spark.read.parquet(VersionedState.versionPath(dir, 3L)).count() === 3L)
  }

  test("a crashed attempt's leftover payload is cleared by the retry") {
    val dir = freshDir("retry")
    commitOne(dir, None, "base")
    // simulate: writer died mid-payload for v2 (no marker)
    val torn = new java.io.File(VersionedState.versionPath(dir, 2L))
    assert(torn.mkdirs())
    java.nio.file.Files.writeString(torn.toPath.resolve("junk"), "torn")
    assert(VersionedState.currentVersion(spark, dir) === Some(1L))
    commitOne(dir, Some(1L), "delta") // retry overwrites the torn v2
    assert(VersionedState.committed(spark, dir).map(_._1) === Seq(1L, 2L))
    assert(!new java.io.File(torn, "junk").exists,
      "the torn leftover must not survive inside the committed version")
    assert(spark.read.parquet(VersionedState.versionPath(dir, 2L)).count() === 3L)
  }

  test("sidecar lines round-trip whole — multibyte, empty, and missing files") {
    val dir = freshDir("sidecar")
    VersionedState.commit(spark, dir, None, "base") { vdir =>
      spark.range(1).write.mode("overwrite").parquet(s"$vdir/t")
      VersionedState.writeLines(spark, vdir, "delivered",
        Seq("delta:batch-1", "delta:批-2", "retract:rm-3"))
    }
    val vdir = VersionedState.versionPath(dir, 1L)
    assert(VersionedState.readLines(spark, vdir, "delivered") ===
      Seq("delta:batch-1", "delta:批-2", "retract:rm-3"),
      "multibyte ids must read back byte-exact")
    assert(VersionedState.readLines(spark, vdir, "absent") === Nil,
      "a missing sidecar is empty, not an error (pre-convention versions)")
    VersionedState.writeLines(spark, vdir, "empty", Nil)
    assert(VersionedState.readLines(spark, vdir, "empty") === Nil)
  }

  test("standalone gc honors keepFrom and the protect escape hatch") {
    val dir = freshDir("gc")
    commitOne(dir, None, "base")
    commitOne(dir, Some(1L), "delta")
    commitOne(dir, Some(2L), "delta")
    commitOne(dir, Some(3L), "base-compact")
    // protect keeps a version BELOW the floor alive (the in-flight
    // commit's own version during a surrounding commit's GC pass)
    VersionedState.gc(spark, dir, keepFrom = 4L, protect = 2L)
    assert(VersionedState.committed(spark, dir).map(_._1) === Seq(2L, 4L))
    VersionedState.gc(spark, dir, keepFrom = 4L)
    assert(VersionedState.committed(spark, dir).map(_._1) === Seq(4L))
    assert(spark.read.parquet(VersionedState.versionPath(dir, 4L)).count() === 3L,
      "versions at/above the floor are untouched")
  }

  test("a commit label past the byte bound is refused; a bounded one reads back whole") {
    val dir = freshDir("labelbound")
    val e = intercept[IllegalArgumentException] {
      commitOne(dir, None, "x" * (VersionedState.MaxLabelBytes + 1))
    }
    assert(e.getMessage.contains("bytes"))
    assert(VersionedState.committed(spark, dir).isEmpty,
      "the refused commit must not leave a marker")
    // near the bound, multibyte: must round-trip WHOLE (the replay
    // guard compares by equality — truncation would silently unmatch)
    val big = "批" * 1300 // 3900 bytes < 4096
    commitOne(dir, None, big)
    assert(VersionedState.committed(spark, dir) === Seq((1L, big)))
  }
}
