package graft

import graft.functions.{HyperLogLog, Kmv}
import graft.streaming.SketchState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The q225 incremental-maintenance contract across a STREAM RESTART:
  * the parquet state table — not the query's checkpoint, not executor
  * memory — is what carries the sketches between runs. A first stream
  * commits history, dies; a second, brand-new stream (fresh source,
  * fresh query) continues maintenance from what disk says, and an
  * at-least-once redelivery of the delta must be a no-op (register MAX
  * and bottom-k-of-union are idempotent). Final state must equal the
  * from-scratch batch sketch of everything, register for register and
  * slot for slot.
  */
class SketchStateSpec extends SparkTestBase {
  import spark.implicits._

  private val m = 64
  private val k = 16

  private def runStream(stateH: String, stateK: String,
                        batches: Seq[Seq[(String, String)]]): Unit = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("grp", "item").writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        SketchState.mergeHllBatch(b, col("item"), Seq("grp"), m, stateH)
        SketchState.mergeKmvBatch(b, col("item"), Seq("grp"), k, stateK)
      }
      .start()
    try {
      batches.foreach { rows =>
        input.addData(rows: _*); q.processAllAvailable()
      }
    } finally q.stop()
  }

  test("state table survives a restart; replayed delta is a no-op") {
    val base = tempDir("graft_sketch_state")
    val (stateH, stateK) = (s"$base/hll", s"$base/kmv")
    val history = (1 to 40).map(i => ("click", s"user$i"))
    val delta = (30 to 70).map(i => ("click", s"user$i")) :+ ("view", "v1")

    // run 1: history only, then the driver "dies" (query stopped)
    runStream(stateH, stateK, Seq(history))
    assert(SketchState.read(spark, stateH).isDefined, "state must be committed")

    // run 2: a NEW query continues from disk — delta arrives TWICE
    // (at-least-once redelivery around a crash)
    runStream(stateH, stateK, Seq(delta, delta))

    val full = (history ++ delta).toDF("grp", "item")
    val wantH = HyperLogLog.sketch(full, col("item"), Seq("grp"), m)
      .as[(String, Int, Int)].collect().toSet
    val gotH = SketchState.read(spark, stateH).get
      .as[(String, Int, Int)].collect().toSet
    assert(gotH === wantH,
      "merged HLL state must equal the from-scratch batch sketch")

    val wantK = Kmv.sketch(full, col("item"), Seq("grp"), k)
      .as[(String, Seq[Long])].collect().toMap
    val gotK = SketchState.read(spark, stateK).get
      .as[(String, Seq[Long])].collect().toMap
    assert(gotK === wantK,
      "merged KMV state must equal the from-scratch batch sketch")
  }

  test("histogram state survives a restart; replay DOUBLE-COUNTS — the documented hazard") {
    implicit val ctx = spark.sqlContext
    import graft.functions.BucketHistogram
    val stateDir = freshDir("hist_state")
    val width = 10L
    def run(batches: Seq[Seq[(String, Long)]]): Unit = {
      val input = MemoryStream[(String, Long)]
      val q = input.toDF().toDF("grp", "cents").writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          SketchState.mergeHistogramBatch(b, col("cents"), Seq("grp"),
            width, stateDir)
        }
        .start()
      try batches.foreach { rows =>
        input.addData(rows: _*); q.processAllAvailable()
      } finally q.stop()
    }
    val b1 = (1L to 30L).map(v => ("a", v))
    val b2 = (25L to 60L).map(v => ("a", v))
    run(Seq(b1))
    run(Seq(b2)) // new query, state continues from disk
    val want = BucketHistogram.sketch((b1 ++ b2).toDF("grp", "cents"),
        col("cents"), Seq("grp"), width)
      .as[(String, Long, Long)].collect().toSet
    assert(SketchState.read(spark, stateDir).get
      .as[(String, Long, Long)].collect().toSet === want,
      "restart continuity: merged counters must equal the batch rebuild")
    // counter ADDITION is not idempotent: ID-LESS replay of b2
    // double-counts. This is the contract line that separates the
    // histogram member from KMV/HLL — for id-less calls, exactly-once
    // delivery is the caller's job.
    run(Seq(b2))
    val total = SketchState.read(spark, stateDir).get
      .agg(sum("n")).as[Long].head()
    assert(total === (b1.size + 2 * b2.size).toLong,
      "id-less replay must double-count (additive counters, not max-merge)")
  }

  test("histogram batch-id guard: a replayed foreachBatch id is a no-op") {
    import graft.functions.BucketHistogram
    val stateDir = freshDir("hist_guard")
    val width = 10L
    def mergeWithId(rows: Seq[(String, Long)], id: String): Unit =
      SketchState.mergeHistogramBatch(rows.toDF("grp", "cents"),
        col("cents"), Seq("grp"), width, stateDir, batchId = id)
    val b1 = (1L to 30L).map(v => ("a", v))
    val b2 = (25L to 60L).map(v => ("a", v))
    mergeWithId(b1, "0")
    mergeWithId(b2, "1")
    // crash-restart: foreachBatch re-delivers the LAST batch with the
    // SAME batch id — the guard must make it a no-op
    mergeWithId(b2, "1")
    val want = BucketHistogram.sketch((b1 ++ b2).toDF("grp", "cents"),
        col("cents"), Seq("grp"), width)
      .as[(String, Long, Long)].collect().toSet
    assert(SketchState.read(spark, stateDir).get
      .as[(String, Long, Long)].collect().toSet === want,
      "a replayed batch id must not double-count")
    // a NEW id is a genuinely new batch and merges
    mergeWithId(Seq(("a", 5L)), "2")
    assert(SketchState.read(spark, stateDir).get
      .agg(sum("n")).as[Long].head() === (b1.size + b2.size + 1).toLong)
  }

  test("kill mid-commit: a torn next version is invisible and recovered over") {
    // The crash window the flat-overwrite layout could NOT survive: a
    // writer dies after starting to write the next state version but
    // before committing it. The torn directory must be invisible to
    // read() (committed state intact), and the next merge must build
    // on the COMMITTED state — never on the torn one, never from
    // scratch.
    val base = tempDir("graft_sketch_crash")
    val (stateH, stateK) = (s"$base/hll", s"$base/kmv")
    val history = (1 to 40).map(i => ("click", s"user$i"))
    runStream(stateH, stateK, Seq(history)) // commits v1
    val committedH = SketchState.read(spark, stateH).get
      .as[(String, Int, Int)].collect().toSet

    // simulate the kill: v2 exists, half-written (wrong content, no
    // _SUCCESS even), and NO commit marker
    val torn = new java.io.File(s"$stateH/v${"0" * 18}2")
    assert(torn.mkdirs())
    java.nio.file.Files.writeString(
      torn.toPath.resolve("part-00000.parquet"), "torn write, not parquet")

    assert(SketchState.read(spark, stateH).get
      .as[(String, Int, Int)].collect().toSet === committedH,
      "read() must keep serving the committed version, not the torn one")

    // recovery: the next merge reads v1, overwrites the torn v2, commits
    val delta = (30 to 70).map(i => ("click", s"user$i"))
    runStream(stateH, stateK, Seq(delta))
    val want = HyperLogLog.sketch((history ++ delta).toDF("grp", "item"),
      col("item"), Seq("grp"), m).as[(String, Int, Int)].collect().toSet
    assert(SketchState.read(spark, stateH).get
      .as[(String, Int, Int)].collect().toSet === want,
      "post-crash merge must equal the from-scratch sketch of history ∪ delta")
  }

  test("a state directory with foreign content is an error, never empty state") {
    val dir = tempDir("graft_sketch_foreign")
    // e.g. the pre-versioned flat layout, or a caller's wrong path
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-00000.parquet"), "flat-layout relic")
    val e = intercept[IllegalArgumentException] {
      SketchState.read(spark, dir)
    }
    assert(e.getMessage.contains("refusing"),
      s"foreign state dir must surface, got: ${e.getMessage}")
  }

  test("a crashed FIRST commit reads as empty state (nothing was ever committed)") {
    val dir = freshDir("sketch_first")
    val torn = new java.io.File(s"$dir/v${"0" * 18}1")
    assert(torn.mkdirs())
    java.nio.file.Files.writeString(
      torn.toPath.resolve("part-00000.parquet"), "torn first write")
    assert(SketchState.read(spark, dir).isEmpty,
      "no marker ever created → no committed state → None")
    // and the next merge recovers by overwriting the torn v1
    runStream(dir, s"$dir-kmv", Seq(Seq(("g", "x"), ("g", "y"))))
    assert(SketchState.read(spark, dir).isDefined)
  }

  test("GC keeps exactly the last two committed versions") {
    val base = tempDir("graft_sketch_gc")
    val (stateH, stateK) = (s"$base/hll", s"$base/kmv")
    runStream(stateH, stateK,
      Seq(Seq(("a", "1")), Seq(("a", "2")), Seq(("a", "3")), Seq(("a", "4"))))
    val vdirs = new java.io.File(stateH).listFiles()
      .map(_.getName).filter(_.startsWith("v")).sorted
    assert(vdirs.length === 2, s"expected 2 live versions, got: ${vdirs.mkString(", ")}")
    val markers = new java.io.File(stateH, "commits").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")) // local-FS .crc shadows
    assert(markers.map(_.toLong).sorted.toSeq === Seq(3L, 4L),
      s"markers must match the live versions: ${markers.mkString(", ")}")
  }

  test("a key alive only in history survives a delta that lacks it") {
    val base = tempDir("graft_sketch_state2")
    val (stateH, stateK) = (s"$base/hll", s"$base/kmv")
    runStream(stateH, stateK, Seq(Seq(("old", "a"), ("old", "b"))))
    runStream(stateH, stateK, Seq(Seq(("new", "c"))))
    val grpsK = SketchState.read(spark, stateK).get
      .select("grp").as[String].collect().toSet
    assert(grpsK === Set("old", "new"),
      "full-outer merge must keep history-only keys")
    val est = HyperLogLog.estimate(
        SketchState.read(spark, stateH).get, Seq("grp"), m)
      .where(col("grp") === "old").select("est").as[Double].head()
    assert(math.abs(est - 2.0) <= 1.0, s"history-only HLL group lost: $est")
  }
}
