package graft.ann

import graft.operators.{GateVerdict, Maintain, MaintainReport, VersionedState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable, INCREMENTALLY-maintained IVF index — q225's
  * `merge(stored, Δ) ≡ rebuild(S ∪ Δ)` contract applied to the last
  * rebuild-from-scratch family: at 100 TB you refresh a vector index
  * from deltas and GATE drift against a periodic full retrain; you do
  * not re-route the corpus on every ingest batch.
  *
  * == State layout ==
  *
  * One [[graft.operators.VersionedState]] directory; every version is
  * an atomic (centroids, assignment segment) pair, labeled in its
  * commit marker:
  *
  *  - `base` (from [[build]]): centroids freshly trained; the segment
  *    holds assignments of the ENTIRE corpus given. Earlier versions
  *    are dead (their segments route against superseded centroids)
  *    and are garbage-collected.
  *  - `delta` (from [[refresh]]): centroids carried over UNCHANGED
  *    (frozen — the centroid table is bucket-count-sized, so the
  *    per-version rewrite is trivia); the segment holds ONLY the
  *    delta's assignments. History is never re-scanned.
  *
  * The live index is the latest version's centroids + the UNION of
  * segments from the latest base onward. Because a version's marker
  * covers both tables, a crash can never pair new centroids with
  * stale segments or vice versa — the mixed-basis corruption a
  * two-directory layout invites.
  *
  * == Maintenance algebra ==
  *
  * Assignment is POINTWISE (each vector's bucket depends only on the
  * frozen centroids), so refresh-by-union is exactly re-routing
  * everything: drift ≡ 0 by construction, and q266 verifies it
  * engine-side against a full re-route. What frozen centroids DO lose
  * over time is fit — the delta may drift from the training
  * distribution — so [[refresh]] is paired with q266's retrain audit:
  * mean assigned cosine of the maintained index vs a full Lloyd
  * retrain, gated in exact micro-scaled integer space, plus an IVF
  * recall comparison on a bounded query set. When the gate trips, run
  * [[build]] again (the periodic rebuild) — not every batch.
  *
  * Replay: a refresh carrying a caller-supplied `deltaId` is
  * IDEMPOTENT — the id rides in the commit marker and a re-delivered
  * id is a no-op (the protocol-level guard [[IndexSegments]] provides;
  * IvfIndexSpec pins it). An ID-LESS refresh keeps additive append
  * semantics (re-delivering duplicates its rows, like SketchState's
  * histogram member — exactly-once delivery is then the caller's
  * contract). A [[build]] interrupted before its marker leaves the
  * previous index intact; re-run it. [[delete]] tombstones ids;
  * [[compact]] folds the segment tail and excises tombstones.
  */
object IvfIndex extends SegmentedIndex {

  protected val dials: Seq[String] = Seq("centroids")

  /** Frozen-centroid routing: (id, centroid_id, cs) — each vector's
    * most-cosine-similar centroid, ties to the smaller centroid id,
    * via the partial-aggregable max-struct (no window; the corpus is
    * never sorted). Zero-norm vectors are dropped (cosine undefined);
    * zero-norm centroids likewise.
    */
  def assignTo(vectors: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame): DataFrame = {
    val e = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
        Knn.l2norm(col(vecCol)).as("nrm"))
      .where(col("nrm") > 0)
    val cn = centroids.select(col("centroid_id"), col("cent_vec"),
        Knn.l2norm(col("cent_vec")).as("cent_nrm"))
      .where(col("cent_nrm") > 0)
    e.crossJoin(broadcast(cn))
      .select(col("id"), col("centroid_id"),
        (Knn.dot(col("v"), col("cent_vec")) / (col("nrm") * col("cent_nrm")))
          .as("cs"))
      .groupBy("id")
      .agg(max(struct(col("cs"), (-col("centroid_id")).as("nid"))).as("b"))
      .select(col("id"), (-col("b.nid")).as("centroid_id"),
        col("b.cs").as("cs"))
  }

  /** Full (re)build: train centroids on `emb` (spherical k-means,
    * [[Knn.kmeansCentroids]] — deterministic from `seedPred` seeds),
    * route every vector, and commit the pair as a BASE version. The
    * routing reads the centroids BACK from the freshly written
    * version directory, so the committed artifact — not an in-memory
    * plan — is what every assignment derives from. Prior versions are
    * garbage-collected after the marker lands.
    */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            seedPred: org.apache.spark.sql.Column, iters: Int,
            stateDir: String): Long = {
    val spark = emb.sparkSession
    val cents = Knn.kmeansCentroids(emb, idCol, vecCol, seedPred, iters)
    val prev = VersionedState.currentVersion(spark, stateDir)
    val next = prev.getOrElse(0L) + 1L
    val v = VersionedState.commit(spark, stateDir, prev, label = "base",
      gcBelow = next) { vdir =>
      cents.write.mode("overwrite").parquet(s"$vdir/centroids")
      val stored = spark.read.parquet(s"$vdir/centroids")
      assignTo(emb, idCol, vecCol, stored)
        .write.mode("overwrite").parquet(s"$vdir/segment")
    }
    v
  }

  /** Incremental refresh: route ONLY `delta` through the stored
    * (frozen) centroids and commit (same centroids, delta segment) as
    * a DELTA version. One broadcast join over the delta — the history
    * segments are not read, let alone re-routed.
    *
    * `deltaId` (optional) makes the refresh REPLAY-IDEMPOTENT: the id
    * rides in the commit marker (`delta:<id>`) and survives compaction
    * via the delivered sidecar, so a re-delivered id is a no-op
    * returning the already-committed version until the next full
    * build. An id-less refresh keeps the additive append semantics
    * (exactly-once delivery is then the caller's contract — all three
    * behaviors pinned in IvfIndexSpec).
    */
  def refresh(delta: DataFrame, idCol: String, vecCol: String,
              stateDir: String, deltaId: String = ""): Long =
    IndexSegments.refresh(delta.sparkSession, stateDir, deltaId,
        Seq("centroids")) { case Seq(cents) =>
      assignTo(delta, idCol, vecCol, cents)
    }

  /** Periodic-audit dials for [[maintain]]: `corpus` is the full live
    * vector set the gates recompute against (the audit's cost IS a
    * one-shot re-route + a Lloyd retrain + a brute-force kNN on the
    * `queryPred` slice — pass an audit only on audit cadence, not per
    * batch); `seedPred`/`iters` mirror the build's training dials;
    * `fitSlackMicro` is q266's exact micro-scaled mean-cosine slack
    * (retrain may beat the frozen dials by at most this per vector);
    * `recallSlack` bounds how far the maintained index's recall@k may
    * trail a retrained one on the bounded query slice.
    */
  final case class Audit(corpus: DataFrame,
                         seedPred: org.apache.spark.sql.Column, iters: Int,
                         queryPred: org.apache.spark.sql.Column,
                         k: Int = 5, nprobe: Int = 2,
                         fitSlackMicro: Long = 50000,
                         recallSlack: Double = 0.2)

  /** The runbook as code — one call per ingest batch: refresh the
    * delta (replay-guarded by `deltaId`), compact when the read
    * horizon's marker count exceeds `maxLiveMarkers` (retention 1; the
    * next compact or [[gc]] reclaims the folded horizon), and — when
    * an [[Audit]] is supplied — run [[audit]]'s row in one action and
    * return the three gates' verdicts typed: drift (corruption), fit
    * and recall (build-needed), with the row's numbers in `measured`.
    * MaintainSpec drives N batches through it and pins the marker
    * bound and each gate's tripping semantics; q266 oracle-gates the
    * same row.
    */
  def maintain(delta: DataFrame, idCol: String, vecCol: String,
               stateDir: String, deltaId: String = "",
               maxLiveMarkers: Int = 8,
               audit: Option[Audit] = None): MaintainReport = {
    val spark = delta.sparkSession
    Maintain.run(spark, stateDir, maxLiveMarkers,
      refresh(delta, idCol, vecCol, stateDir, deltaId), compact(spark, stateDir),
      audit.fold((Seq.empty[GateVerdict], Map.empty[String, Double])) { a =>
        IndexSegments.auditGates(this.audit(spark, stateDir, idCol, vecCol, a)._1,
            "re-route", a.recallSlack,
            " (consider raising nprobe until it lands)") { n =>
          // a fresh Lloyd retrain may beat the frozen centroids by at
          // most fitSlackMicro mean-cosine-micros per vector (exact
          // integer space, q266's criterion)
          val gain = n("s_rebuilt") - n("s_maintained")
          if (gain <= a.fitSlackMicro * n("n_one_shot"))
            GateVerdict.Ok("fit", s"retrain gains $gain µcs over " +
              s"${n("n_one_shot")} vectors (slack ${a.fitSlackMicro}/vector)")
          else GateVerdict.BuildNeeded("fit",
            s"retrain gains $gain µcs over ${n("n_one_shot")} vectors — the " +
              "frozen centroids no longer fit the distribution; schedule a build")
        }
      })
  }

  /** The audit's raw numbers ([[IndexSegments.auditRow]]), lazily
    * composed — the ONE definition [[maintain]]'s gates and q266 read:
    * the maintained assignments vs a one-shot re-route of `a.corpus`
    * under the same frozen centroids (drift, row counts), Σ round(cs·1e6)
    * of the maintained table vs a full Lloyd retrain's routing (fit),
    * and IVF recall@k of both indexes against the brute-force cosine
    * truth on the `a.queryPred` slice. Returned beside the row: the
    * checkpointed maintained table it reads.
    */
  private[graft] def audit(spark: SparkSession, stateDir: String,
                           idCol: String, vecCol: String,
                           a: Audit): (DataFrame, DataFrame) = {
    val cents = centroids(spark, stateDir).get.localCheckpoint()
    val live = assignments(spark, stateDir).get.localCheckpoint()
    val reCents = Knn.kmeansCentroids(a.corpus, idCol, vecCol, a.seedPred,
      a.iters)
    val reAsg = assignTo(a.corpus, idCol, vecCol, reCents)
      .localCheckpoint() // fit sum + rebuilt search read it
    val brute = Knn.cosineKnn(a.corpus, idCol, vecCol, a.queryPred, a.k)
      .select("q_id", "cand_id").localCheckpoint() // 2 hit joins read it
    def hits(asg: DataFrame, cts: DataFrame): DataFrame =
      searchStored(a.corpus, idCol, vecCol, asg, cts, a.queryPred, a.k,
        a.nprobe).join(brute, Seq("q_id", "cand_id"))
    (IndexSegments.auditRow(live, assignTo(a.corpus, idCol, vecCol, cents),
      Seq("id"), Seq("centroid_id"), round(col("cs") * 1000000).cast("long"),
      reAsg, hits(live, cents), hits(reAsg, reCents), brute), live)
  }

  /** IVF search over a STORED (assignments, centroids) pair — queries
    * probe their `nprobe` most-similar buckets and score only those
    * buckets' members (the audit's search shape: windows partition by
    * query, buckets join by equi-key).
    */
  private def searchStored(corpus: DataFrame, idCol: String, vecCol: String,
                           asg: DataFrame, cents: DataFrame,
                           queryPred: org.apache.spark.sql.Column,
                           k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = corpus.select(col(idCol), col(vecCol),
        Knn.l2norm(col(vecCol)).as("nrm"))
      .where(col("nrm") > 0)
    val cn = cents.select(col("centroid_id"), col("cent_vec"),
        Knn.l2norm(col("cent_vec")).as("cnrm"))
      .where(col("cnrm") > 0)
    val wp = Window.partitionBy("q_id")
      .orderBy(col("cs").desc, col("centroid_id"))
    val probes = e.where(queryPred).crossJoin(broadcast(cn))
      .select(col(idCol).as("q_id"), col("centroid_id"),
        (Knn.dot(col(vecCol), col("cent_vec")) / (col("nrm") * col("cnrm")))
          .as("cs"))
      .withColumn("rk", row_number().over(wp)).where(col("rk") <= nprobe)
      .select("q_id", "centroid_id")
    val cand = probes
      .join(asg.select(col("id").as("cand_id"), col("centroid_id")),
        Seq("centroid_id"))
      .where(col("cand_id") =!= col("q_id"))
    val sims = cand
      .join(e.select(col(idCol).as("q_id"), col(vecCol).as("qv"),
        col("nrm").as("qn")), "q_id")
      .join(e.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        col("nrm").as("cn2")), "cand_id")
      .select(col("q_id"), col("cand_id"),
        (Knn.dot(col("qv"), col("cv")) / (col("qn") * col("cn2"))).as("sim"))
    val wk = Window.partitionBy("q_id").orderBy(col("sim").desc, col("cand_id"))
    sims.withColumn("rk", row_number().over(wk)).where(col("rk") <= k)
      .select("q_id", "cand_id")
  }

  /** The live centroid table, or None before the first build. `asOf`
    * pins the read to a committed version (a manifest cut).
    */
  def centroids(spark: SparkSession, stateDir: String,
                asOf: Option[Long] = None): Option[DataFrame] =
    IndexSegments.dial(spark, stateDir, "centroids", asOf)

  /** The live assignment relation — the union of every segment from
    * the latest base (`base`/`base-compact`) onward, minus tombstoned
    * rows (all segments routed against the same frozen centroid table,
    * by the commit pairing; ordering semantics in
    * [[IndexSegments.live]]). `asOf` pins the read to a committed
    * version (a manifest cut).
    */
  def assignments(spark: SparkSession, stateDir: String,
                  asOf: Option[Long] = None): Option[DataFrame] =
    IndexSegments.live(spark, stateDir, asOf)
}
