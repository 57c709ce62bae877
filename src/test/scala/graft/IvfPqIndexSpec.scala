package graft

import graft.ann.{IvfPq, IvfPqIndex, Pq}
import graft.operators.VersionedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed IVF-PQ index's maintenance contract across a restart:
  * one atomic version carries coarse + codebooks + segment, so the
  * refresh (routing AND encoding only the delta, both dials read off
  * disk) must reproduce a one-shot route+encode of everything, and a
  * rebuild must retire every stale-basis segment at once.
  */
class IvfPqIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(ids: Range): DataFrame =
    ids.map { i =>
      val v = Array.tabulate(8)(d =>
        (((i % 3) * 11 + d * 7 + i % 5).toFloat % 13f) - 4f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")

  private def coarseOf(df: DataFrame): DataFrame =
    df.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bvec"))

  test("refresh from disk ≡ one-shot route+encode; coarse and codebooks frozen") {
    val dir = freshDir("restart")
    val hist = vecs(0 until 40)
    IvfPqIndex.build(hist, "vec_id", "embedding", coarseOf(hist),
      m = 2, seedPred = col("id") < 4, iters = 1, stateDir = dir)
    val cbBefore = IvfPqIndex.codebooks(spark, dir).get
      .as[(Int, Long, Seq[Float])].collect().toSet

    IvfPqIndex.refresh(vecs(40 until 52), "vec_id", "embedding", dir)

    assert(IvfPqIndex.codebooks(spark, dir).get
      .as[(Int, Long, Seq[Float])].collect().toSet === cbBefore,
      "refresh must not move codebooks")
    val maintained = IvfPqIndex.codes(spark, dir).get
      .select("id", "bid", "sub", "code")
      .as[(Long, Long, Int, Long)].collect().toSet
    val cc = IvfPqIndex.coarse(spark, dir).get
    val res = IvfPq.residuals(vecs(0 until 52), "vec_id", "embedding", cc)
    val oneShot = Pq.assign(Pq.subvectors(res, "id", "rv", 2),
        IvfPqIndex.codebooks(spark, dir).get)
      .join(res.select("id", "bid"), "id")
      .select("id", "bid", "sub", "code")
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(maintained === oneShot,
      "union of segments must equal routing+encoding everything at once")
  }

  test("rebuild supersedes: one atomic base replaces coarse, codebooks AND segments") {
    val dir = freshDir("rebuild")
    IvfPqIndex.build(vecs(0 until 30), "vec_id", "embedding",
      coarseOf(vecs(0 until 30)), 2, col("id") < 4, 1, dir)
    IvfPqIndex.refresh(vecs(30 until 40), "vec_id", "embedding", dir)
    IvfPqIndex.build(vecs(0 until 40), "vec_id", "embedding",
      coarseOf(vecs(0 until 40)), 2, col("id") < 4, 1, dir)
    assert(IvfPqIndex.codes(spark, dir).get.count() === 80L,
      "one row per (vector, subspace) after a rebuild")
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base"))
  }

  test("refresh before any build is refused") {
    val e = intercept[IllegalArgumentException] {
      IvfPqIndex.refresh(vecs(0 until 5), "vec_id", "embedding",
        freshDir("norefresh"))
    }
    assert(e.getMessage.contains("build"))
  }

  test("delta-id replay is a no-op; compact folds coarse+codebooks+segment under ONE marker") {
    val dir = freshDir("compact")
    val hist = vecs(0 until 30)
    IvfPqIndex.build(hist, "vec_id", "embedding", coarseOf(hist),
      2, col("id") < 4, 1, dir)
    val v1 = IvfPqIndex.refresh(vecs(30 until 40), "vec_id", "embedding", dir, "d1")
    assert(IvfPqIndex.refresh(vecs(30 until 40), "vec_id", "embedding",
      dir, "d1") === v1, "replayed delta id must be a no-op")
    IvfPqIndex.delete(Seq(2L, 31L).toDF("vec_id"), dir)
    val before = IvfPqIndex.codes(spark, dir).get
      .select("id", "bid", "sub", "code")
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(!before.exists(r => r._1 == 2L || r._1 == 31L))
    val coarseBefore = IvfPqIndex.coarse(spark, dir).get
      .as[(Long, Seq[Float])].collect().toSet
    val cbBefore = IvfPqIndex.codebooks(spark, dir).get
      .as[(Int, Long, Seq[Float])].collect().toSet
    IvfPqIndex.compact(spark, dir)
    IvfPqIndex.gc(spark, dir) // no in-flight readers here: reclaim eagerly
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base-compact"))
    assert(IvfPqIndex.codes(spark, dir).get
      .select("id", "bid", "sub", "code")
      .as[(Long, Long, Int, Long)].collect().toSet === before,
      "compacted ≡ pre-compaction live relation")
    assert(IvfPqIndex.coarse(spark, dir).get
      .as[(Long, Seq[Float])].collect().toSet === coarseBefore)
    assert(IvfPqIndex.codebooks(spark, dir).get
      .as[(Int, Long, Seq[Float])].collect().toSet === cbBefore)
    // maintenance continues against the compacted base (m recovered)
    IvfPqIndex.refresh(vecs(40 until 44), "vec_id", "embedding", dir, "d2")
    assert(IvfPqIndex.codes(spark, dir).get.count() === (38L + 4L) * 2)
  }
}
