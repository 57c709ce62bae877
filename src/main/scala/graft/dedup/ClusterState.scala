package graft.dedup

import graft.ann.IndexSegments
import graft.operators.VersionedState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable, INCREMENTALLY-maintained near-duplicate CLUSTER LABELS —
  * the missing state between q72 (batch connected components over the
  * verified near-dup graph) and q89 (screening one batch against a
  * corpus): at 100 TB the label table `doc → cluster min-id` is a
  * corpus-sized artifact an evolving corpus must MAINTAIN, not
  * recompute — but unlike the ANN index family, cluster labels change
  * NON-LOCALLY: one new bridge document merges two old clusters
  * (relabeling every member of the larger one), and deleting a bridge
  * document SPLITS one (relabeling one side). Rewriting the
  * corpus-sized table per batch would be the rebuild shape q225
  * retired; this operator stores every non-local change as a
  * DELTA-SIZED commit instead.
  *
  * == State layout ==
  *
  * One [[graft.operators.VersionedState]] directory:
  *
  *  - `base` / `base-compact`: `labels/` (id, label) — converged
  *    component-minimum labels for every doc known at that point —
  *    plus `edges/` (id_a, id_b), the verified near-dup edge relation
  *    those labels derive from. Storing the edges (corpus ×
  *    avg-degree-sized, like the label table itself) is what makes
  *    DELETION decidable: removing a doc is decremental connectivity,
  *    and whether a cluster splits cannot be read off labels alone.
  *  - `delta` / `delta:<id>` (a [[refresh]]): `adds/` (id, label) for
  *    the NEW docs, `remap/` (old_label, new_label) for every OLD
  *    cluster whose label changed, and `edges/` (the batch's verified
  *    pairs) — all bounded by the batch and the clusters it touches.
  *  - `drop` / `drop:<id>` (a [[delete]]): `removals/` (id) for the
  *    deleted docs and `relabel/` (id, label) for every SURVIVING
  *    member of an affected cluster whose label changed — bounded by
  *    the deleted docs' clusters. A removal also kills every stored
  *    edge touching a removed id that was committed BEFORE it (a doc
  *    re-ingested later contributes fresh edges at a higher version,
  *    which survive — the tombstone latest-wins ordering of
  *    [[graft.ann.IndexSegments.live]]).
  *
  * The live table ([[labels]]) is the base pushed through the
  * delta/drop chain in version order; each step's tables are
  * delta-bounded and broadcast. [[compact]] folds the chain (labels
  * AND live edges) back into one `base-compact`, carrying the replay
  * guard's delivered-id sidecar; the folded horizon is retained for
  * in-flight readers and reclaimed by [[gc]] or the next compact.
  *
  * == Why the reduced graph is exact ==
  *
  * A [[refresh]] contracts every existing cluster to its label (each
  * new edge's endpoints map through the stored table; new docs map to
  * themselves) and runs converged CC on that REDUCED graph only —
  * nodes are touched old labels + new ids, edges are the batch's.
  * Contracting an already-connected component preserves
  * connectivity, and because every old label IS its component's
  * minimum doc id, the reduced component's minimum equals the full
  * graph's minimum — so maintained labels ≡ a from-scratch CC over
  * the union (q276 gates it hash-exact against the DuckDB fixpoint).
  * Labels never resurrect: a label that died in a merge was a doc id
  * that now maps to something smaller, so it can never re-enter a
  * later reduced graph as a node — which is what makes applying the
  * remap chain in version order exact.
  *
  * == Why cluster-local re-CC on delete is exact ==
  *
  * Deleting docs D only changes components that CONTAIN a doc of D
  * (removing vertices cannot connect anything, and components disjoint
  * from D keep their vertex and edge sets verbatim). [[delete]]
  * therefore re-runs converged CC over exactly the surviving members
  * of the affected clusters with the surviving live edges INSIDE those
  * clusters — every edge incident to an affected cluster has both
  * endpoints in it, so the induced subgraph is self-contained — and
  * commits each survivor whose component minimum changed as a per-doc
  * `relabel` row. Survivor labels are again true component minima of
  * the surviving graph (every member of an old component ≥ its old
  * minimum, so new minima are well-defined surviving doc ids), which
  * is the invariant the NEXT refresh's contraction argument needs.
  * q277 gates maintained ≡ from-scratch CC over the surviving corpus,
  * split clusters included, hash-exact against the DuckDB fixpoint.
  *
  * Replay: `deltaId` rides in the commit marker (`delta:<id>` /
  * `drop:<id>`) and a re-delivered id is a no-op — surviving
  * compaction via the delivered sidecar ([[graft.ann.IndexSegments]]).
  * Torn commits, GC, and second-writer surfacing are VersionedState's
  * guarantees.
  *
  * Scale shape (100 TB): a refresh reads the stored label table ONCE
  * (probe ids broadcast against one scan; every derived table —
  * endpoint labels, reduced graph, remap, adds — is delta-bounded)
  * and writes only delta-bounded tables; a delete reads the label
  * table twice (victims' labels, then affected-cluster members) and
  * the live edge relation once, writing cluster-bounded tables;
  * neither ever rewrites a corpus-sized artifact. ClusterStateSpec
  * plan-asserts the no-corpus-write property via the listener capture.
  */
object ClusterState {

  /** Full (re)build: converged CC over `ids`/`pairs` (columns
    * id_a/id_b), committed as a `base` holding both the labels and the
    * verified edge relation; prior versions GC'd (a build resets the
    * read horizon AND the replay guard).
    */
  def build(ids: DataFrame, idCol: String, pairs: DataFrame,
            stateDir: String): Long = {
    val spark = ids.sparkSession
    val (lab, _) = Dedup.nearDupClustersConverged(ids, idCol, pairs)
    val prev = VersionedState.currentVersion(spark, stateDir)
    val next = prev.getOrElse(0L) + 1L
    VersionedState.commit(spark, stateDir, prev, label = "base",
      gcBelow = next) { vdir =>
      // independent payload tables: overlapped writes (guide §2.6),
      // content and layout exactly the sequential ones
      graft.operators.Par.both(
        () => lab.select(col(idCol).as("id"), col("cluster_id").as("label"))
          .write.mode("overwrite").parquet(s"$vdir/labels"),
        () => pairs.select(col("id_a"), col("id_b"))
          .write.mode("overwrite").parquet(s"$vdir/edges"))
    }
  }

  /** Incremental refresh: `newIds` are this batch's docs; `pairs`
    * (id_a/id_b) are the verified near-dup edges TOUCHING the batch
    * (new–new and new–old alike; old–old edges were already folded
    * into the stored labels). Runs converged CC on the reduced graph
    * only and commits (adds, remap, batch edges) as a delta. `deltaId`
    * (optional) makes the refresh replay-idempotent across compactions.
    *
    * `newIds` must be DISJOINT from the stored LIVE ids — a re-ingested
    * live doc would get a second `adds` row (possibly with a divergent
    * label), so overlaps are refused loudly (a previously [[delete]]d
    * id may re-enter). The check shares the refresh's single scan of
    * the stored table.
    */
  def refresh(newIds: DataFrame, idCol: String, pairs: DataFrame,
              stateDir: String, deltaId: String = ""): Long = {
    val spark = newIds.sparkSession
    val prev = VersionedState.currentVersion(spark, stateDir)
    require(prev.nonEmpty,
      s"no committed state at $stateDir — run build() before refresh()")
    IndexSegments.replayGuarded(spark, stateDir, "delta", deltaId) { label =>
      val newIdTable = newIds.select(col(idCol).as("id")).distinct()
        .localCheckpoint() // batch-bounded; probe, guard, nodes, adds read it
      // ONE scan of the stored live table: project the batch's endpoint
      // ids (and the overlap guard's probe) through it with the
      // delta-bounded probe broadcast — never a second corpus-sized read,
      // never a corpus-sized write
      val probe = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id")))
        .unionByName(newIdTable)
        .distinct()
      val hits = labels(spark, stateDir).get
        .join(broadcast(probe), Seq("id"))
        .localCheckpoint() // delta-bounded (id, label) of every known endpoint
      // BOTH contract guards ride ONE driver action off the shared hits
      // checkpoint (they were two separate limit(3).collect()s — two full
      // job launches per refresh for probes that are almost always empty):
      //  - overlap: a batch must not re-ingest ids already LIVE (a second
      //    adds row, possibly divergently labeled);
      //  - unknown: every pair endpoint must be LIVE or IN THIS BATCH —
      //    an unknown endpoint (deleted, or never ingested, e.g. an
      //    at-least-once edge source re-delivering an edge after its
      //    endpoint's erasure) would be minted as a node, could become a
      //    cluster LABEL that is a dead doc id, and a later re-ingest of
      //    that id would spuriously merge unrelated clusters.
      val endpoints = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id"))).distinct()
      val violations = hits.join(newIdTable, Seq("id"))
        .select(col("id"), lit("overlap").as("kind")).limit(3)
        .unionByName(endpoints
          .join(hits.select("id"), Seq("id"), "left_anti")
          .join(newIdTable, Seq("id"), "left_anti")
          .select(col("id"), lit("unknown").as("kind")).limit(3))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val overlap = violations.collect { case (id, "overlap") => id }
      require(overlap.isEmpty,
        s"refresh newIds overlap ids already LIVE in $stateDir (e.g. " +
          s"${overlap.mkString(", ")}) — a batch must not re-ingest live " +
          "docs; delete() them first or drop them from the batch")
      val unknown = violations.collect { case (id, "unknown") => id }
      require(unknown.isEmpty,
        s"pairs reference ids that are neither live in $stateDir nor in " +
          s"this batch (e.g. ${unknown.mkString(", ")}) — deleted or never " +
          "ingested; drop stale edges before refreshing (an at-least-once " +
          "edge source must filter re-delivered edges against erasures)")
      // contract: each endpoint to its current label (new docs have no
      // stored label and stay themselves)
      val e = pairs
        .join(broadcast(hits.select(col("id").as("_pa"), col("label").as("_mla"))),
          col("id_a") === col("_pa"), "left")
        .join(broadcast(hits.select(col("id").as("_pb"), col("label").as("_mlb"))),
          col("id_b") === col("_pb"), "left")
        .select(coalesce(col("_mla"), col("id_a")).as("id_a"),
          coalesce(col("_mlb"), col("id_b")).as("id_b"))
        .where(col("id_a") =!= col("id_b"))
      val nodes = e.select(col("id_a").as("id"))
        .unionByName(e.select(col("id_b").as("id")))
        .unionByName(newIdTable)
        .distinct()
      val (rl, _) = Dedup.nearDupClustersConverged(nodes, "id", e)
      val reduced = rl.select(col("id").as("node"), col("cluster_id"))
        .localCheckpoint() // the remap filter AND the adds join read it
      // remap rows: old labels whose component minimum changed. Every
      // old-label node entered the reduced graph as SOME endpoint's
      // projection, so the delta-bounded hits cover them all — the
      // stored table is not re-read
      val remap = reduced
        .join(broadcast(hits.select(col("label")).distinct()),
          col("node") === col("label"))
        .where(col("cluster_id") =!= col("node"))
        .select(col("node").as("old_label"), col("cluster_id").as("new_label"))
      // adds: every new doc's final label (isolated docs label themselves
      // — they are in `nodes`, so the reduced CC covers them)
      val adds = reduced.join(broadcast(newIdTable), col("node") === col("id"))
        .select(col("id"), col("cluster_id").as("label"))
      VersionedState.commit(spark, stateDir, prev, label = label) { vdir =>
        graft.operators.Par.run[Unit](Seq(
          () => adds.write.mode("overwrite").parquet(s"$vdir/adds"),
          () => remap.write.mode("overwrite").parquet(s"$vdir/remap"),
          () => pairs.select(col("id_a"), col("id_b"))
            .write.mode("overwrite").parquet(s"$vdir/edges")))
      }
    }
  }

  /** Delete docs from the maintained corpus: decremental connectivity,
    * the non-local update in the OTHER direction — removing a bridge
    * doc may SPLIT its cluster. Re-runs converged CC only inside the
    * clusters containing a deleted doc (see the object doc's exactness
    * argument) and commits (removals, relabel) as a `drop` version —
    * both cluster-bounded, never corpus-sized. Ids absent from the
    * live table are ignored (idempotent against over-delivery).
    * `deltaId` (optional) makes the delete replay-idempotent, like a
    * refresh.
    *
    * Sizing contract: the victims and their clusters' members ride
    * BROADCAST joins — right for erasure-batch-sized deletions against
    * naturally small near-dup/session clusters (the q277/q275 shape).
    * A purge spanning a corpus-scale fraction of docs should [[build]]
    * over the survivors instead: at that size the "delta" isn't one.
    */
  def delete(ids: DataFrame, stateDir: String, deltaId: String = ""): Long = {
    val spark = ids.sparkSession
    val prev = VersionedState.currentVersion(spark, stateDir)
    require(prev.nonEmpty,
      s"no committed state at $stateDir — nothing to delete from")
    IndexSegments.replayGuarded(spark, stateDir, "drop", deltaId) { label =>
      val victims = ids.select(col(ids.columns.head).as("id")).distinct()
        .localCheckpoint() // batch-bounded; two scans + the edge filter read it
      val stored = labels(spark, stateDir).get
      // scan 1 of the label table: which clusters are affected
      val affected = stored.join(broadcast(victims), Seq("id"))
        .select(col("label")).distinct()
        .localCheckpoint() // bounded by the victims' cluster count
      // scan 2: the affected clusters' SURVIVING members (id, old label)
      val members = stored
        .join(broadcast(affected), Seq("label"))
        .join(broadcast(victims), Seq("id"), "left_anti")
        .select(col("id"), col("label").as("old_label"))
        .localCheckpoint() // bounded by the affected clusters' sizes
      // one scan of the live edge relation: edges fully inside the
      // affected clusters between survivors (an edge incident to an
      // affected cluster has BOTH endpoints in it, so inner-joining both
      // ends against the members keeps exactly the induced subgraph)
      val mIds = members.select(col("id"))
      val edges = liveEdges(spark, stateDir).get
        .join(broadcast(mIds.select(col("id").as("_ea"))), col("id_a") === col("_ea"))
        .join(broadcast(mIds.select(col("id").as("_eb"))), col("id_b") === col("_eb"))
        .select(col("id_a"), col("id_b"))
      val (rl, _) = Dedup.nearDupClustersConverged(mIds, "id", edges)
      // survivors whose component minimum changed (a split's far side,
      // or any component that lost its minimum doc)
      val relabel = rl.select(col("id"), col("cluster_id"))
        .join(broadcast(members), Seq("id"))
        .where(col("cluster_id") =!= col("old_label"))
        .select(col("id"), col("cluster_id").as("label"))
      VersionedState.commit(spark, stateDir, prev, label = label) { vdir =>
        graft.operators.Par.both(
          () => victims.write.mode("overwrite").parquet(s"$vdir/removals"),
          () => relabel.write.mode("overwrite").parquet(s"$vdir/relabel"))
      }
    }
  }

  /** The live label table (id, label) — the base pushed through the
    * delta/drop chain in version order (each step delta-bounded and
    * broadcast). None before the first commit. `asOf` pins the read to
    * the state as of that committed version (a
    * [[graft.operators.StateManifest]] cut); the version must still be
    * on disk — retention keeps one folded horizon, [[gc]] reclaims.
    */
  def labels(spark: SparkSession, stateDir: String,
             asOf: Option[Long] = None): Option[DataFrame] = {
    val cs0 = VersionedState.committed(spark, stateDir)
    val cs = asOf.fold(cs0)(v => cs0.filter(_._1 <= v))
    if (cs.isEmpty) return None
    val base = IndexSegments.lastBase(cs, stateDir)
    var lab = spark.read.parquet(
      s"${VersionedState.versionPath(stateDir, base)}/labels")
    for ((n, l) <- cs.filter(_._1 > base)) {
      val vdir = VersionedState.versionPath(stateDir, n)
      if (l.startsWith("delta")) {
        val adds = spark.read.parquet(s"$vdir/adds")
        val remap = spark.read.parquet(s"$vdir/remap")
          .select(col("old_label"), col("new_label"))
        lab = lab.unionByName(adds)
          .join(broadcast(remap), col("label") === col("old_label"), "left")
          .select(col("id"),
            coalesce(col("new_label"), col("label")).as("label"))
      } else if (l.startsWith("drop")) {
        val removals = spark.read.parquet(s"$vdir/removals")
          .select(col("id").as("_rm"))
        val relabel = spark.read.parquet(s"$vdir/relabel")
          .select(col("id").as("_ri"), col("label").as("_rl"))
        lab = lab
          .join(broadcast(removals), col("id") === col("_rm"), "left_anti")
          .join(broadcast(relabel), col("id") === col("_ri"), "left")
          .select(col("id"), coalesce(col("_rl"), col("label")).as("label"))
      }
    }
    Some(lab)
  }

  /** The live verified edge relation (id_a, id_b) — every stored edge
    * from the latest base onward, minus edges with an endpoint removed
    * at a LATER version (a re-ingested doc's fresh edges survive its
    * old removal — the tombstone latest-wins ordering). None before
    * the first commit.
    */
  def liveEdges(spark: SparkSession, stateDir: String,
                asOf: Option[Long] = None): Option[DataFrame] = {
    val cs0 = VersionedState.committed(spark, stateDir)
    val cs = asOf.fold(cs0)(v => cs0.filter(_._1 <= v))
    if (cs.isEmpty) return None
    val base = IndexSegments.lastBase(cs, stateDir)
    val since = cs.filter(_._1 >= base)
    // a version without an edges table predates the edge-relation
    // layout (labels-only ClusterState) — surface a contract error
    // with the remedy, not a raw path-not-found from the parquet scan
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    since.foreach { case (n, l) =>
      if (l.startsWith("base") || l.startsWith("delta"))
        require(fs.exists(new org.apache.hadoop.fs.Path(
            s"${VersionedState.versionPath(stateDir, n)}/edges")),
          s"version $n of $stateDir has no edges table — the state " +
            "predates the stored edge relation; run build() over the " +
            "corpus to adopt it (deletions need the verified edges)")
    }
    val segs = since.collect {
      case (n, l) if l.startsWith("base") || l.startsWith("delta") =>
        spark.read.parquet(s"${VersionedState.versionPath(stateDir, n)}/edges")
          .withColumn("_seg_v", lit(n))
    }
    val all = segs.reduce(_.unionByName(_))
    val rms = since.collect { case (n, l) if l.startsWith("drop") =>
      spark.read.parquet(s"${VersionedState.versionPath(stateDir, n)}/removals")
        .select(col("id").as("_rm_id"), lit(n).as("_rm_v"))
    }
    val out =
      if (rms.isEmpty) all
      else {
        val r = rms.reduce(_.unionByName(_))
          .groupBy("_rm_id").agg(max("_rm_v").as("_rm_v"))
        all
          .join(r.select(col("_rm_id").as("_ra"), col("_rm_v").as("_va")),
            col("id_a") === col("_ra"), "left")
          .join(r.select(col("_rm_id").as("_rb"), col("_rm_v").as("_vb")),
            col("id_b") === col("_rb"), "left")
          .where((col("_va").isNull || col("_seg_v") > col("_va")) &&
            (col("_vb").isNull || col("_seg_v") > col("_vb")))
          .select(col("id_a"), col("id_b"), col("_seg_v"))
      }
    Some(out.drop("_seg_v"))
  }

  /** Fold the delta/drop chain into one `base-compact` version (labels
    * AND live edges), carry the replay guard's delivered-id sidecar,
    * and GC below the retention floor (default keeps the folded
    * horizon alive for in-flight readers; reclaim with [[gc]] or the
    * next compact).
    */
  def compact(spark: SparkSession, stateDir: String,
              retainHorizons: Int = 1,
              maxDelivered: Int = IndexSegments.DefaultMaxDelivered): Long = {
    val cs = VersionedState.committed(spark, stateDir)
    require(cs.nonEmpty, s"no committed state at $stateDir — nothing to compact")
    val base = IndexSegments.lastBase(cs, stateDir)
    val cur = cs.last._1
    if (cur == base) return cur
    val folded = labels(spark, stateDir).get
    val foldedEdges = liveEdges(spark, stateDir).get
    val delivered = IndexSegments.retainDelivered(
      IndexSegments.deliveredLabelsOrdered(spark, stateDir, cs),
      maxDelivered, stateDir)
    val next = cur + 1
    VersionedState.commit(spark, stateDir, Some(cur), label = "base-compact",
      gcBelow = IndexSegments.compactGcFloor(cs, next, retainHorizons)) { vdir =>
      graft.operators.Par.both(
        () => folded.write.mode("overwrite").parquet(s"$vdir/labels"),
        () => foldedEdges.write.mode("overwrite").parquet(s"$vdir/edges"))
      VersionedState.writeLines(spark, vdir, IndexSegments.DeliveredFile,
        delivered)
    }
  }

  /** Reclaim the pre-compaction horizon a retaining [[compact]] left
    * alive — call once in-flight readers of the old horizon are done.
    */
  def gc(spark: SparkSession, stateDir: String): Unit =
    IndexSegments.gcOldHorizons(spark, stateDir)

  /** The runbook as code — one call per ingest batch: refresh with the
    * batch (replay-guarded by `deltaId`), compact when the read
    * horizon's marker count exceeds `maxLiveMarkers`, and — when an
    * audit universe `(allIds, allPairs)` for the full live corpus is
    * supplied — gate the maintained labels against a from-scratch
    * converged CC: contraction is exact, so ANY difference is
    * corruption, never approximation. MaintainSpec pins the marker
    * bound and the gate's tripping semantics; q276/q277 oracle-gate
    * the same identity.
    */
  def maintain(newIds: DataFrame, idCol: String, pairs: DataFrame,
               stateDir: String, deltaId: String = "",
               maxLiveMarkers: Int = 8,
               audit: Option[(DataFrame, DataFrame)] = None):
      graft.operators.MaintainReport = {
    import graft.operators.{GateVerdict, Maintain}
    val spark = newIds.sparkSession
    Maintain.run(spark, stateDir, maxLiveMarkers,
      refresh(newIds, idCol, pairs, stateDir, deltaId), compact(spark, stateDir),
      (audit.toSeq.map { case (allIds, allPairs) =>
        val (truth, _) = Dedup.nearDupClustersConverged(allIds,
          allIds.columns.head, allPairs)
        val diff = labels(spark, stateDir).get
          .join(truth.select(col(allIds.columns.head).as("id"),
            col("cluster_id")), Seq("id"), "full_outer")
          .where(col("label").isNull || col("cluster_id").isNull ||
            col("label") =!= col("cluster_id"))
          .count()
        if (diff == 0)
          GateVerdict.Ok("drift", "maintained labels ≡ from-scratch converged CC")
        else
          GateVerdict.Corruption("drift",
            s"$diff docs whose maintained label differs from a from-scratch " +
              "CC — contraction and cluster-local re-CC are exact, so this " +
              "is lost/replayed state; rebuild and check replay discipline")
      }, Map.empty))
  }
}
