package graft

import graft.dedup.{ClusterState, Dedup}
import graft.operators.VersionedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintained cluster-label state's contract: refresh on the
  * reduced (label-contracted) graph must reproduce a from-scratch
  * converged CC over the union — including the non-local case where
  * one new bridge doc merges two old clusters and every member of the
  * larger one relabels (the remap, not a rewrite). q276 gates the
  * same identity against the DuckDB fixpoint; here the restart /
  * replay / compact / bridge semantics the oracle can't see.
  */
class ClusterStateSpec extends SparkTestBase {
  import spark.implicits._

  private def idsDf(ids: Seq[Long]): DataFrame = ids.toDF("id")
  private def pairsDf(ps: Seq[(Long, Long)]): DataFrame =
    ps.toDF("id_a", "id_b")

  private def labelMap(dir: String): Map[Long, Long] =
    ClusterState.labels(spark, dir).get
      .as[(Long, Long)].collect().toMap

  private def fullCc(ids: Seq[Long], ps: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.nearDupClustersConverged(idsDf(ids), "id", pairsDf(ps))._1
      .select(col("id"), col("cluster_id"))
      .as[(Long, Long)].collect().toMap

  test("a bridge doc merges two OLD clusters: remap relabels, ≡ from-scratch CC") {
    val dir = freshDir("bridge")
    // history: clusters {1,2,3} (min 1) and {10,11} (min 10), loner 20
    val histIds = Seq(1L, 2L, 3L, 10L, 11L, 20L)
    val histPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    ClusterState.build(idsDf(histIds), "id", pairsDf(histPairs), dir)
    assert(labelMap(dir) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    // delta: doc 30 bridges 3 and 11 — the {10,11} cluster must
    // relabel to 1 WITHOUT touching history rows (remap only)
    ClusterState.refresh(idsDf(Seq(30L, 31L)), "id",
      pairsDf(Seq((30L, 3L), (30L, 11L))), dir, "b1")
    val got = labelMap(dir)
    assert(got === fullCc(histIds ++ Seq(30L, 31L),
      histPairs ++ Seq((30L, 3L), (30L, 11L))),
      "maintained labels must equal from-scratch CC on the union")
    assert(got(11L) === 1L, "old cluster {10,11} must relabel through the remap")
    assert(got(31L) === 31L, "an isolated new doc labels itself")
    // the remap table is DELTA-sized: one row (10 → 1)
    val v = VersionedState.currentVersion(spark, dir).get
    assert(spark.read.parquet(
        s"${VersionedState.versionPath(dir, v)}/remap")
      .as[(Long, Long)].collect().toSet === Set((10L, 1L)),
      "only the touched old cluster appears in the remap")
  }

  test("chained merges across THREE batches resolve through the remap chain") {
    val dir = freshDir("chain")
    ClusterState.build(idsDf(Seq(5L, 6L, 8L, 9L)), "id",
      pairsDf(Seq((5L, 6L), (8L, 9L))), dir)
    // batch 1: 40 joins {8,9} → cluster 8 stays 8
    ClusterState.refresh(idsDf(Seq(40L)), "id", pairsDf(Seq((40L, 9L))),
      dir, "b1")
    // batch 2: 41 bridges the two clusters → everything relabels to 5
    ClusterState.refresh(idsDf(Seq(41L)), "id",
      pairsDf(Seq((41L, 6L), (41L, 40L))), dir, "b2")
    val got = labelMap(dir)
    val want = fullCc(Seq(5L, 6L, 8L, 9L, 40L, 41L),
      Seq((5L, 6L), (8L, 9L), (40L, 9L), (41L, 6L), (41L, 40L)))
    assert(got === want)
    assert(got.values.toSet === Set(5L), "one component, min id 5")
  }

  test("restart: a new 'driver' refreshes from disk; replayed delta id is a no-op") {
    val dir = freshDir("restart")
    ClusterState.build(idsDf(Seq(1L, 2L)), "id", pairsDf(Seq((1L, 2L))), dir)
    val v1 = ClusterState.refresh(idsDf(Seq(7L)), "id",
      pairsDf(Seq((7L, 2L))), dir, "b1")
    assert(ClusterState.refresh(idsDf(Seq(7L)), "id",
      pairsDf(Seq((7L, 2L))), dir, "b1") === v1,
      "a replayed delta id returns the existing version")
    assert(labelMap(dir) === Map(1L -> 1L, 2L -> 1L, 7L -> 1L))
    assert(VersionedState.committed(spark, dir).map(_._2) ===
      Seq("base", "delta:b1"))
  }

  test("compact folds the remap chain into one base-compact, value-exact") {
    val dir = freshDir("compact")
    ClusterState.build(idsDf(Seq(1L, 2L, 10L, 11L)), "id",
      pairsDf(Seq((1L, 2L), (10L, 11L))), dir)
    ClusterState.refresh(idsDf(Seq(30L)), "id",
      pairsDf(Seq((30L, 2L), (30L, 11L))), dir, "b1")
    ClusterState.refresh(idsDf(Seq(50L)), "id", pairsDf(Nil), dir, "b2")
    val before = labelMap(dir)
    // a reader resolves the old horizon just before the compact
    val inFlight = ClusterState.labels(spark, dir).get
    ClusterState.compact(spark, dir)
    assert(VersionedState.committed(spark, dir).size === 4,
      "default compaction retains the folded horizon for in-flight readers")
    assert(inFlight.as[(Long, Long)].collect().toMap === before,
      "a plan resolved pre-compaction must still read after it")
    ClusterState.gc(spark, dir) // readers done: reclaim
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base-compact"))
    assert(labelMap(dir) === before, "compacted ≡ pre-compaction labels")
    // PRE-compaction delta ids replay as no-ops via the delivered sidecar
    val v = ClusterState.refresh(idsDf(Seq(30L)), "id",
      pairsDf(Seq((30L, 2L), (30L, 11L))), dir, "b1")
    assert(labelMap(dir) === before,
      "a pre-compaction delta id stays replay-guarded across compaction")
    assert(v === VersionedState.currentVersion(spark, dir).get)
    // maintenance continues on the compacted base
    ClusterState.refresh(idsDf(Seq(60L)), "id", pairsDf(Seq((60L, 50L))),
      dir, "b3")
    assert(labelMap(dir)(60L) === 50L)
  }

  test("refresh before build is refused") {
    val e = intercept[IllegalArgumentException] {
      ClusterState.refresh(idsDf(Seq(1L)), "id", pairsDf(Nil),
        freshDir("norefresh"))
    }
    assert(e.getMessage.contains("build"))
  }

  test("deleting a BRIDGE doc splits its cluster; deleting a minimum relabels; ≡ from-scratch CC") {
    val dir = freshDir("split")
    // one chain 1–2–3 (2 is a bridge), one clique {10,11,12}, loner 20
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L)
    val ps = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    ClusterState.build(idsDf(ids), "id", pairsDf(ps), dir)
    assert(labelMap(dir) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
    // delete the bridge 2 AND the clique's minimum 10: {1,3} must SPLIT
    // into two singletons, {11,12} must relabel to 11
    ClusterState.delete(idsDf(Seq(2L, 10L)), dir, "x1")
    val got = labelMap(dir)
    val want = fullCc(ids.filterNot(Set(2L, 10L)),
      ps.filterNot(p => Set(2L, 10L).exists(d => d == p._1 || d == p._2)))
    assert(got === want, "maintained ≡ from-scratch CC over the survivors")
    assert(got(1L) === 1L && got(3L) === 3L,
      "removing the bridge must SPLIT the chain (3 cannot keep label 1)")
    assert(got(11L) === 11L && got(12L) === 11L,
      "removing the minimum must relabel the survivors to the new minimum")
    // the drop commit is CLUSTER-bounded: only the touched survivors
    val v = VersionedState.currentVersion(spark, dir).get
    assert(spark.read.parquet(
        s"${VersionedState.versionPath(dir, v)}/relabel")
      .as[(Long, Long)].collect().toSet === Set((3L, 3L), (11L, 11L), (12L, 11L)),
      "relabel rows cover exactly the affected survivors whose label changed")
    // a replayed drop id is a no-op
    assert(ClusterState.delete(idsDf(Seq(2L, 10L)), dir, "x1") === v)
    assert(labelMap(dir) === want)
  }

  test("delete-then-refresh: a deleted id re-enters with fresh edges; its OLD edges stay dead") {
    val dir = freshDir("readd")
    ClusterState.build(idsDf(Seq(1L, 2L, 3L)), "id",
      pairsDf(Seq((1L, 2L), (2L, 3L))), dir)
    ClusterState.delete(idsDf(Seq(2L)), dir, "x1") // split: {1}, {3}
    assert(labelMap(dir) === Map(1L -> 1L, 3L -> 3L))
    // 2 re-ingested, now verified near 3 only — its old 1–2 edge must
    // NOT resurrect (the content may have changed entirely)
    ClusterState.refresh(idsDf(Seq(2L)), "id", pairsDf(Seq((2L, 3L))),
      dir, "b2")
    assert(labelMap(dir) === Map(1L -> 1L, 2L -> 2L, 3L -> 2L),
      "the re-added doc joins only through its NEW edges")
    // ... and a subsequent delete of 3 splits using the LIVE edge set
    ClusterState.delete(idsDf(Seq(3L)), dir, "x2")
    assert(labelMap(dir) === Map(1L -> 1L, 2L -> 2L))
  }

  test("compact folds drops into the base: labels, edges and later deletes stay exact") {
    val dir = freshDir("dropfold")
    ClusterState.build(idsDf(Seq(1L, 2L, 3L, 4L)), "id",
      pairsDf(Seq((1L, 2L), (2L, 3L), (3L, 4L))), dir)
    ClusterState.delete(idsDf(Seq(2L)), dir, "x1") // {1}, {3,4}
    ClusterState.compact(spark, dir)
    ClusterState.gc(spark, dir)
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base-compact"))
    assert(labelMap(dir) === Map(1L -> 1L, 3L -> 3L, 4L -> 3L))
    // the folded edge relation excludes the dead 1–2/2–3 edges, so a
    // post-compaction delete still splits correctly
    ClusterState.delete(idsDf(Seq(3L)), dir, "x2")
    assert(labelMap(dir) === Map(1L -> 1L, 4L -> 4L))
    // the pre-compaction drop id stays replay-guarded via the sidecar
    val cur = VersionedState.currentVersion(spark, dir).get
    assert(ClusterState.delete(idsDf(Seq(2L)), dir, "x1") ===
      VersionedState.committed(spark, dir)
        .collectFirst { case (n, l) if l == "base-compact" => n }.get)
    assert(VersionedState.currentVersion(spark, dir).get === cur,
      "the replayed pre-compaction drop must not commit")
  }

  test("refresh refuses a batch that overlaps the stored LIVE ids (but a deleted id may re-enter)") {
    val dir = freshDir("overlap")
    ClusterState.build(idsDf(Seq(1L, 2L)), "id", pairsDf(Seq((1L, 2L))), dir)
    val e = intercept[IllegalArgumentException] {
      ClusterState.refresh(idsDf(Seq(2L, 7L)), "id", pairsDf(Nil), dir, "b1")
    }
    assert(e.getMessage.contains("overlap"))
    // nothing was committed by the refused refresh
    assert(VersionedState.committed(spark, dir).map(_._2) === Seq("base"))
    ClusterState.delete(idsDf(Seq(2L)), dir)
    ClusterState.refresh(idsDf(Seq(2L)), "id", pairsDf(Nil), dir, "b1")
    assert(labelMap(dir) === Map(1L -> 1L, 2L -> 2L))
  }

  test("refresh refuses pairs whose endpoint is neither live nor in the batch (stale edge after erasure)") {
    val dir = freshDir("staleedge")
    ClusterState.build(idsDf(Seq(5L, 9L)), "id", pairsDf(Nil), dir)
    ClusterState.delete(idsDf(Seq(5L)), dir, "x1")
    // an at-least-once edge source re-delivers an edge whose endpoint
    // was erased — minting 5 as a node could install a DEAD doc id as
    // a cluster label and later spuriously merge unrelated clusters
    val e = intercept[IllegalArgumentException] {
      ClusterState.refresh(idsDf(Seq(10L, 11L)), "id",
        pairsDf(Seq((10L, 5L), (11L, 5L))), dir, "b1")
    }
    assert(e.getMessage.contains("neither live"))
    assert(VersionedState.committed(spark, dir).map(_._2) ===
      Seq("base", "drop:x1"), "the refused refresh must not commit")
    // the same batch with the stale edges filtered commits fine
    ClusterState.refresh(idsDf(Seq(10L, 11L)), "id",
      pairsDf(Seq((10L, 11L))), dir, "b1")
    assert(labelMap(dir) === Map(9L -> 9L, 10L -> 10L, 11L -> 10L))
  }

  test("a labels-only (pre-edge-relation) state dir surfaces a contract error on delete, not a path error") {
    val dir = freshDir("preedges")
    // simulate a state dir committed before the edge relation existed
    VersionedState.commit(spark, dir, None, label = "base") { vdir =>
      Seq((1L, 1L), (2L, 1L)).toDF("id", "label")
        .write.mode("overwrite").parquet(s"$vdir/labels")
    }
    assert(ClusterState.labels(spark, dir).get.count() === 2L,
      "label reads of the old layout still work")
    val e = intercept[IllegalArgumentException] {
      ClusterState.delete(idsDf(Seq(1L)), dir)
    }
    assert(e.getMessage.contains("predates the stored edge relation"))
  }

  test("deleting absent ids is a harmless no-op commit") {
    val dir = freshDir("absent")
    ClusterState.build(idsDf(Seq(1L, 2L)), "id", pairsDf(Seq((1L, 2L))), dir)
    ClusterState.delete(idsDf(Seq(99L)), dir)
    assert(labelMap(dir) === Map(1L -> 1L, 2L -> 1L))
  }

  test("refresh IO is DELTA-bounded: no plan materializes or writes corpus-sized rows") {
    val dir = freshDir("deltaio")
    // corpus of 5000 singletons + a few pairs; the batch touches 6 docs
    val n = 5000L
    val corpus = spark.range(n).select(col("id"))
    ClusterState.build(corpus, "id",
      pairsDf(Seq((1L, 2L), (3L, 4L))), dir)
    val captured = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.graftaccess.ListenerBusAccess
      .waitUntilListenerBusEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      ClusterState.refresh(idsDf(Seq(9001L, 9002L, 9003L)), "id",
        pairsDf(Seq((9001L, 2L), (9002L, 9003L), (9001L, 9002L))), dir, "b1")
      org.apache.spark.graftaccess.ListenerBusAccess
        .waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    def rootRows(p: org.apache.spark.sql.execution.SparkPlan): Option[Long] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          rootRows(a.executedPlan)
        case other => other.metrics.get("numOutputRows").map(_.value)
      }
    val roots = captured.synchronized(captured.toVector).flatMap(rootRows)
    assert(roots.nonEmpty, "the capture must see the refresh's jobs")
    // the refresh SCANS the 5000-row label table once (interior of a
    // join), but nothing corpus-sized is ever materialized or written:
    // every job's OUTPUT is bounded by the batch, not the corpus
    assert(roots.max < 200,
      s"refresh materialized a plan with ${roots.max} output rows — " +
        "corpus-sized, not delta-bounded (got roots: " +
        roots.sorted.mkString(", ") + ")")
    assert(labelMap(dir)(9003L) === 1L,
      "the bridge batch must still merge through the stored labels")
  }
}
