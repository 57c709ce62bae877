package graft

import graft.ann.{Pq, PqIndex}
import graft.operators.VersionedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The durable PQ code table's maintenance contract across a restart —
  * IvfIndexSpec's sibling (the torn-commit mechanics are shared
  * VersionedState machinery and proven there; here the PQ-specific
  * semantics: frozen-codebook encode equivalence, m recovered from the
  * stored codebooks, rebuild GC, replay duplication).
  */
class PqIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(ids: Range): DataFrame =
    ids.map { i =>
      val v = Array.tabulate(8)(d =>
        (((i % 4) * 13 + d * 5 + i % 7).toFloat % 9f) - 3f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")

  test("refresh from disk ≡ one-shot encoding; codebooks frozen; m recovered") {
    val dir = freshDir("restart")
    PqIndex.build(vecs(0 until 40), "vec_id", "embedding", m = 2,
      seedPred = col("vec_id") < 4, iters = 2, stateDir = dir)
    val cbBefore = PqIndex.codebooks(spark, dir).get
      .as[(Int, Long, Seq[Float])].collect().toSet

    // "new driver": refresh never receives m — it must come from disk
    PqIndex.refresh(vecs(40 until 50), "vec_id", "embedding", dir)

    assert(PqIndex.codebooks(spark, dir).get
      .as[(Int, Long, Seq[Float])].collect().toSet === cbBefore,
      "refresh must not move codebooks")
    val maintained = PqIndex.codes(spark, dir).get
      .select("id", "sub", "code").as[(Long, Int, Long)].collect().toSet
    val oneShot = Pq.assign(
        Pq.subvectors(vecs(0 until 50), "vec_id", "embedding", 2),
        PqIndex.codebooks(spark, dir).get)
      .select("id", "sub", "code").as[(Long, Int, Long)].collect().toSet
    assert(maintained === oneShot,
      "union of segments must equal encoding everything at once (drift ≡ 0)")
  }

  test("rebuild supersedes: old segments die with their codebook basis") {
    val dir = freshDir("rebuild")
    PqIndex.build(vecs(0 until 30), "vec_id", "embedding", 2,
      col("vec_id") < 4, 1, dir)
    PqIndex.refresh(vecs(30 until 40), "vec_id", "embedding", dir)
    PqIndex.build(vecs(0 until 40), "vec_id", "embedding", 2,
      col("vec_id") < 4, 2, dir)
    val codes = PqIndex.codes(spark, dir).get
    assert(codes.count() === 80L, "one row per (vector, subspace) after a rebuild")
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base"))
  }

  test("replaying an id-less delta duplicates; a delta id makes replay a no-op") {
    val dir = freshDir("replay")
    PqIndex.build(vecs(0 until 20), "vec_id", "embedding", 2,
      col("vec_id") < 4, 1, dir)
    PqIndex.refresh(vecs(20 until 25), "vec_id", "embedding", dir)
    PqIndex.refresh(vecs(20 until 25), "vec_id", "embedding", dir)
    assert(PqIndex.codes(spark, dir).get.where(col("id") >= 20).count() === 20L,
      "id-less segment append is additive; exactly-once delivery is the caller's job")
    val v1 = PqIndex.refresh(vecs(25 until 30), "vec_id", "embedding", dir, "b7")
    val v2 = PqIndex.refresh(vecs(25 until 30), "vec_id", "embedding", dir, "b7")
    assert(v2 === v1)
    assert(PqIndex.codes(spark, dir).get.where(col("id") >= 25).count() === 10L,
      "a replayed delta id must not duplicate the delta's codes")
  }

  test("delete tombstones; compact folds to one base-compact, excising tombstones") {
    val dir = freshDir("compact")
    PqIndex.build(vecs(0 until 30), "vec_id", "embedding", 2,
      col("vec_id") < 4, 2, dir)
    PqIndex.refresh(vecs(30 until 40), "vec_id", "embedding", dir, "d1")
    PqIndex.delete(Seq(3L, 33L).toDF("vec_id"), dir)
    val before = PqIndex.codes(spark, dir).get
      .select("id", "sub", "code").as[(Long, Int, Long)].collect().toSet
    assert(!before.exists(r => r._1 == 3L || r._1 == 33L))
    assert(before.map(_._1).size === 38)
    val cbBefore = PqIndex.codebooks(spark, dir).get
      .as[(Int, Long, Seq[Float])].collect().toSet
    PqIndex.compact(spark, dir)
    PqIndex.gc(spark, dir) // no in-flight readers here: reclaim eagerly
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base-compact"))
    assert(PqIndex.codes(spark, dir).get
      .select("id", "sub", "code").as[(Long, Int, Long)].collect().toSet === before,
      "compacted ≡ pre-compaction live relation, value-exact")
    assert(PqIndex.codebooks(spark, dir).get
      .as[(Int, Long, Seq[Float])].collect().toSet === cbBefore,
      "compaction must not move codebooks (no retrain)")
    // maintenance continues: m is still recoverable from the compacted base
    PqIndex.refresh(vecs(40 until 45), "vec_id", "embedding", dir, "d2")
    assert(PqIndex.codes(spark, dir).get.count() === (38L + 5L) * 2)
  }

  test("an EMPTY delta refresh commits harmlessly (the quiet-ingest-window case)") {
    val dir = freshDir("emptydelta")
    PqIndex.build(vecs(0 until 20), "vec_id", "embedding", 2,
      col("vec_id") < 4, 1, dir)
    val before = PqIndex.codes(spark, dir).get
      .select("id", "sub", "code").as[(Long, Int, Long)].collect().toSet
    PqIndex.refresh(vecs(20 until 20), "vec_id", "embedding", dir)
    assert(PqIndex.codes(spark, dir).get
      .select("id", "sub", "code").as[(Long, Int, Long)].collect().toSet === before,
      "an empty segment must not disturb the code table")
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base", "delta"))
  }

  test("refresh before any build is refused") {
    val e = intercept[IllegalArgumentException] {
      PqIndex.refresh(vecs(0 until 5), "vec_id", "embedding",
        freshDir("norefresh"))
    }
    assert(e.getMessage.contains("build"))
  }
}
