package graft

import graft.ann.IvfIndex
import graft.operators.VersionedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The durable IVF index's maintenance contract across a RESTART: the
  * versioned state directory — not driver memory — carries the index
  * between runs. A build commits a base; a refresh from a DIFFERENT
  * "driver" (fresh DataFrames, state read off disk) appends a delta
  * segment; the union must equal routing everything through the same
  * frozen centroids in one shot. Crash-safety mirrors SketchStateSpec:
  * a torn version is invisible and recovered over.
  */
class IvfIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(ids: Range): DataFrame =
    ids.map { i =>
      // deterministic spread: 8 dims, three rough directions by i % 3
      val base = Array.tabulate(8)(d =>
        (((i % 3) * 17 + d * 7 + i % 5).toFloat % 11f) + 1f)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")

  test("refresh from disk ≡ one-shot routing; centroids frozen across versions") {
    val dir = freshDir("restart")
    val hist = vecs(0 until 40)
    val delta = vecs(40 until 55)
    IvfIndex.build(hist, "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 2, dir)
    val centsBefore = IvfIndex.centroids(spark, dir).get
      .as[(Long, Seq[Float])].collect().toMap

    // "new driver": nothing in memory survives; refresh reads disk
    IvfIndex.refresh(delta, "vec_id", "embedding", dir)

    val centsAfter = IvfIndex.centroids(spark, dir).get
      .as[(Long, Seq[Float])].collect().toMap
    assert(centsAfter === centsBefore, "refresh must not move centroids")

    val maintained = IvfIndex.assignments(spark, dir).get
      .select("id", "centroid_id").as[(Long, Long)].collect().toMap
    val oneShot = IvfIndex.assignTo(vecs(0 until 55), "vec_id", "embedding",
        IvfIndex.centroids(spark, dir).get)
      .select("id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(maintained === oneShot,
      "union of segments must equal routing everything at once (drift ≡ 0)")
  }

  test("rebuild supersedes: old segments die with their centroid basis") {
    val dir = freshDir("rebuild")
    IvfIndex.build(vecs(0 until 30), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    IvfIndex.refresh(vecs(30 until 40), "vec_id", "embedding", dir)
    // periodic retrain over everything: a NEW base
    IvfIndex.build(vecs(0 until 40), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 2, dir)
    val asg = IvfIndex.assignments(spark, dir).get
    assert(asg.count() === 40L, "exactly one row per vector after a rebuild")
    assert(asg.select("id").distinct().count() === 40L)
    // prior versions are GC'd: only the new base lives on disk
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base"))
  }

  test("kill mid-commit: a torn refresh is invisible and recovered over") {
    val dir = freshDir("crash")
    IvfIndex.build(vecs(0 until 30), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    val before = IvfIndex.assignments(spark, dir).get.count()
    // simulate a refresh dying after writing payload but before marker
    val torn = new java.io.File(VersionedState.versionPath(dir, 2L))
    assert(new java.io.File(torn, "segment").mkdirs())
    java.nio.file.Files.writeString(
      torn.toPath.resolve("segment/part-00000.parquet"), "torn")
    assert(IvfIndex.assignments(spark, dir).get.count() === before,
      "the torn version must be invisible to readers")
    IvfIndex.refresh(vecs(30 until 35), "vec_id", "embedding", dir)
    assert(IvfIndex.assignments(spark, dir).get.count() === before + 5,
      "the next refresh must overwrite the torn attempt and commit")
  }

  test("replaying a delta WITH a delta id is a no-op — the protocol-level guard") {
    val dir = freshDir("replay")
    IvfIndex.build(vecs(0 until 20), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    val v1 = IvfIndex.refresh(vecs(20 until 25), "vec_id", "embedding", dir,
      deltaId = "batch-0042")
    // crash-replay: the same batch re-delivered must NOT re-commit
    val v2 = IvfIndex.refresh(vecs(20 until 25), "vec_id", "embedding", dir,
      deltaId = "batch-0042")
    assert(v2 === v1, "a replayed delta id returns the existing version")
    assert(IvfIndex.assignments(spark, dir).get
      .where(col("id") >= 20).count() === 5L,
      "replay must not duplicate the delta's rows")
    assert(VersionedState.committed(spark, dir).map(_._2) ===
      Seq("base", "delta:batch-0042"))
    // a DIFFERENT id is a genuinely new batch and commits
    IvfIndex.refresh(vecs(25 until 28), "vec_id", "embedding", dir,
      deltaId = "batch-0043")
    assert(IvfIndex.assignments(spark, dir).get.count() === 28L)
  }

  test("replaying an ID-LESS delta duplicates its rows — the documented append semantics") {
    val dir = freshDir("replayless")
    IvfIndex.build(vecs(0 until 20), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    IvfIndex.refresh(vecs(20 until 25), "vec_id", "embedding", dir)
    IvfIndex.refresh(vecs(20 until 25), "vec_id", "embedding", dir) // replay
    val n = IvfIndex.assignments(spark, dir).get
      .where(col("id") >= 20).count()
    assert(n === 10L,
      "id-less segment append is additive; exactly-once delivery is the caller's job")
  }

  test("compact folds the segment tail into one base-compact version, hash-exact") {
    val dir = freshDir("compact")
    IvfIndex.build(vecs(0 until 30), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 2, dir)
    IvfIndex.refresh(vecs(30 until 40), "vec_id", "embedding", dir, "d1")
    IvfIndex.refresh(vecs(40 until 45), "vec_id", "embedding", dir, "d2")
    val before = IvfIndex.assignments(spark, dir).get
      .select("id", "centroid_id", "cs").as[(Long, Long, Double)]
      .collect().toSet
    val centsBefore = IvfIndex.centroids(spark, dir).get
      .as[(Long, Seq[Float])].collect().toMap
    assert(VersionedState.committed(spark, dir).size === 3)

    // a reader resolves the OLD horizon before the compact lands —
    // retention must keep its files alive until the explicit gc
    val inFlight = IvfIndex.assignments(spark, dir).get

    IvfIndex.compact(spark, dir)

    // the folded horizon is RETAINED (default retention 1): the
    // in-flight reader's lazy plan still scans its files
    assert(VersionedState.committed(spark, dir).map(_._2) ===
      Seq("base", "delta:d1", "delta:d2", "base-compact"),
      "default compaction retains the folded horizon for in-flight readers")
    assert(new java.io.File(VersionedState.versionPath(dir, 1L)).exists)
    assert(inFlight.select("id", "centroid_id", "cs").as[(Long, Long, Double)]
      .collect().toSet === before,
      "a plan resolved pre-compaction must still read after it")
    assert(IvfIndex.assignments(spark, dir).get
      .select("id", "centroid_id", "cs").as[(Long, Long, Double)]
      .collect().toSet === before,
      "compacted ≡ pre-compaction union, value-exact")
    assert(IvfIndex.centroids(spark, dir).get
      .as[(Long, Seq[Float])].collect().toMap === centsBefore,
      "compaction must not move centroids (no retrain)")

    // readers done: reclaim the old horizon
    IvfIndex.gc(spark, dir)
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base-compact"),
      "gc must leave exactly one live version")
    assert(!new java.io.File(VersionedState.versionPath(dir, 1L)).exists)
    assert(!new java.io.File(VersionedState.versionPath(dir, 2L)).exists)
    assert(IvfIndex.assignments(spark, dir).get
      .select("id", "centroid_id", "cs").as[(Long, Long, Double)]
      .collect().toSet === before)

    // maintenance continues on the compacted base: refresh then restart-read
    IvfIndex.refresh(vecs(45 until 50), "vec_id", "embedding", dir, "d3")
    assert(VersionedState.committed(spark, dir).size === 2,
      "post-compaction state is one base + one delta")
    assert(IvfIndex.assignments(spark, dir).get.count() === 50L)
    // a replayed PRE-compaction delta id: its marker is gone, but the
    // base-compact's delivered sidecar remembers it — re-delivery is a
    // NO-OP (the crash-replay window compaction used to reopen)
    val vReplay = IvfIndex.refresh(vecs(40 until 45), "vec_id", "embedding",
      dir, "d2")
    assert(vReplay === 4L,
      "a pre-compaction delta id resolves to the base-compact that folded it")
    assert(IvfIndex.assignments(spark, dir).get.count() === 50L,
      "a pre-compaction delta id stays inside the replay guard across compaction")
    // ... and a full BUILD is the one horizon reset: d2 re-delivers
    IvfIndex.build(vecs(0 until 50), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    IvfIndex.refresh(vecs(40 until 45), "vec_id", "embedding", dir, "d2")
    assert(IvfIndex.assignments(spark, dir).get.count() === 55L,
      "a rebuild resets the replay guard — by then the rows live in the base")
  }

  test("maxDelivered ages out the OLDEST ids: aged ids re-deliver, recent ones stay guarded") {
    val dir = freshDir("cap")
    IvfIndex.build(vecs(0 until 20), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    IvfIndex.refresh(vecs(20 until 22), "vec_id", "embedding", dir, "d1")
    IvfIndex.refresh(vecs(22 until 24), "vec_id", "embedding", dir, "d2")
    IvfIndex.refresh(vecs(24 until 26), "vec_id", "embedding", dir, "d3")
    IvfIndex.compact(spark, dir, retainHorizons = 0, maxDelivered = 2)
    // d2/d3 (newest) stay guarded; d1 aged out past the cap — its
    // re-delivery APPENDS, the documented contract when the cap is
    // narrower than the source's replay window
    IvfIndex.refresh(vecs(22 until 24), "vec_id", "embedding", dir, "d2")
    IvfIndex.refresh(vecs(24 until 26), "vec_id", "embedding", dir, "d3")
    assert(IvfIndex.assignments(spark, dir).get.count() === 26L,
      "ids within the cap stay replay-guarded")
    IvfIndex.refresh(vecs(20 until 22), "vec_id", "embedding", dir, "d1")
    assert(IvfIndex.assignments(spark, dir).get.count() === 28L,
      "an id aged out past the cap is re-deliverable (size the cap to " +
        "the source's replay window)")
  }

  test("compacting a lone base is a no-op (already compact)") {
    val dir = freshDir("compactnoop")
    IvfIndex.build(vecs(0 until 20), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    val v = IvfIndex.compact(spark, dir)
    assert(v === 1L)
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base"))
  }

  test("delete tombstones ids; delete-then-refresh re-adds; compact excises physically") {
    val dir = freshDir("tomb")
    IvfIndex.build(vecs(0 until 30), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    IvfIndex.refresh(vecs(30 until 40), "vec_id", "embedding", dir, "d1")
    // dedup decided ids 5,6,35 are duplicates — excise them
    IvfIndex.delete(Seq(5L, 6L, 35L).toDF("vec_id"), dir)
    val live = IvfIndex.assignments(spark, dir).get
    assert(live.count() === 37L)
    assert(live.where(col("id").isin(5L, 6L, 35L)).count() === 0L,
      "tombstoned ids must vanish from the live relation")
    // delete-then-refresh ORDERING: re-adding id 5 after the delete
    // must survive (the tombstone only kills EARLIER segments)
    IvfIndex.refresh(vecs(5 until 6), "vec_id", "embedding", dir, "readd-5")
    val live2 = IvfIndex.assignments(spark, dir).get
    assert(live2.count() === 38L)
    assert(live2.where(col("id") === 5L).count() === 1L,
      "a refresh AFTER the delete re-adds the id")
    assert(live2.where(col("id").isin(6L, 35L)).count() === 0L)
    // compaction physically excises the tombstoned rows and drops the
    // tombstone version itself (retention 0: no in-flight readers here)
    IvfIndex.compact(spark, dir, retainHorizons = 0)
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base-compact"))
    val live3 = IvfIndex.assignments(spark, dir).get
    assert(live3.count() === 38L)
    assert(live3.where(col("id").isin(6L, 35L)).count() === 0L)
    assert(live3.where(col("id") === 5L).count() === 1L)
  }

  test("a REPLAYED delete id is a no-op: a re-add between delivery attempts survives") {
    val dir = freshDir("tombreplay")
    IvfIndex.build(vecs(0 until 20), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    // the erasure source delivers delete(7) with a stable id
    val v1 = IvfIndex.delete(Seq(7L).toDF("vec_id"), dir, deltaId = "erase-7")
    IvfIndex.refresh(vecs(7 until 8), "vec_id", "embedding", dir, "readd-7")
    // ... then crash-replays the SAME delete: without the guard the
    // latest-wins tombstone would re-kill the legitimate re-add
    assert(IvfIndex.delete(Seq(7L).toDF("vec_id"), dir, "erase-7") === v1,
      "a replayed delete id returns the existing tombstone version")
    assert(IvfIndex.assignments(spark, dir).get
      .where(col("id") === 7L).count() === 1L,
      "the re-add must survive the replayed delete")
    // the guard survives compaction like every other delivered id
    IvfIndex.compact(spark, dir)
    IvfIndex.gc(spark, dir)
    assert(IvfIndex.delete(Seq(7L).toDF("vec_id"), dir, "erase-7") > 0L)
    assert(IvfIndex.assignments(spark, dir).get
      .where(col("id") === 7L).count() === 1L,
      "the replayed delete stays guarded across the fold")
    // a NEW intent (fresh id) deletes for real
    IvfIndex.delete(Seq(7L).toDF("vec_id"), dir, "erase-7-again")
    assert(IvfIndex.assignments(spark, dir).get
      .where(col("id") === 7L).count() === 0L)
  }

  test("deleting an id twice and re-adding between: the LATEST tombstone decides") {
    val dir = freshDir("tombtwice")
    IvfIndex.build(vecs(0 until 20), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    IvfIndex.delete(Seq(7L).toDF("vec_id"), dir)        // v2: kill 7
    IvfIndex.refresh(vecs(7 until 8), "vec_id", "embedding", dir, "r1") // v3: re-add
    IvfIndex.delete(Seq(7L).toDF("vec_id"), dir)        // v4: kill again
    assert(IvfIndex.assignments(spark, dir).get
      .where(col("id") === 7L).count() === 0L,
      "the second tombstone must kill the re-added segment too")
    IvfIndex.refresh(vecs(7 until 8), "vec_id", "embedding", dir, "r2") // v5
    assert(IvfIndex.assignments(spark, dir).get
      .where(col("id") === 7L).count() === 1L)
  }

  test("an EMPTY delta refresh commits harmlessly (the quiet-ingest-window case)") {
    val dir = freshDir("emptydelta")
    IvfIndex.build(vecs(0 until 20), "vec_id", "embedding",
      col("vec_id") % 10 === 0, iters = 1, dir)
    val before = IvfIndex.assignments(spark, dir).get
      .select("id", "centroid_id").as[(Long, Long)].collect().toSet
    IvfIndex.refresh(vecs(20 until 20), "vec_id", "embedding", dir)
    assert(IvfIndex.assignments(spark, dir).get
      .select("id", "centroid_id").as[(Long, Long)].collect().toSet === before,
      "an empty segment must not disturb the index")
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base", "delta"),
      "the empty refresh still commits (maintenance cadence stays observable)")
  }

  test("refresh before any build is refused") {
    val dir = freshDir("norefresh")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.refresh(vecs(0 until 5), "vec_id", "embedding", dir)
    }
    assert(e.getMessage.contains("build"))
  }
}
