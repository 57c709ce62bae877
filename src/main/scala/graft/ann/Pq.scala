package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the ANN storage/serving
  * path beyond scalar int8: split each d-dim vector into `m`
  * subvectors, train a k-entry codebook per subspace (Lloyd, L2), and
  * store each vector as m small codes (m bytes for k ≤ 256 — a 64×
  * compression of a 64-dim float vector). Queries score candidates
  * WITHOUT touching raw vectors: an Asymmetric Distance Computation
  * (ADC) table of exact query→centroid sub-distances is built per
  * query (m·k doubles), and a candidate's approximate distance is the
  * sum of m table lookups selected by its codes.
  *
  * Scale shape (100 TB): codebooks are m·k rows — broadcast
  * everywhere; training assignment is a broadcast join + mergeable
  * min-struct argmin per (vector, subspace) (never a window); the code
  * table is the only corpus-sized artifact and it is ~64× smaller
  * than the vectors. ADC joins the probe batch's distance table
  * (broadcast) to the codes and reduces with a partial-aggregable
  * top-k — the corpus is scanned once, raw vectors never.
  *
  * Determinism/parity: subvector L2 distances fold per-element
  * squared differences in index order (exact double products, same
  * fold order as DuckDB's list_sum — bit-identical); Lloyd means are
  * cast to FLOAT each iteration to collapse summation-order noise
  * (the q53 discipline), so iteration n+1 starts from bit-identical
  * codebooks in any engine; the m per-subspace ADC terms are summed
  * in fixed subspace order, not group-aggregation order.
  */
object Pq {

  /** Squared L2 distance between two float/double-array columns:
    * exact per-element (widened to double, subtract, square), summed
    * in index order. Routed through the native codegen kernel
    * [[graft.functions.VecSqDist]] — the `aggregate(zip_with(...))`
    * formulation is CodegenFallback and this runs in every PQ
    * train/assign/ADC inner loop; the kernel's sequential
    * accumulation keeps it bit-identical to the higher-order form
    * (VectorExpressionSpec pins the equivalence).
    */
  def sqdist(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecSqDist(a, b)

  /** Exact L2 top-k ground truth on a BOUNDED query slice (q_id,
    * cand_id) — the brute-force side the PQ families' recall gates
    * compare against. O(|queries| · |corpus|) by design; queries
    * broadcast, the cut is [[Knn.topKSelect]]'s mergeable top-k (so
    * every id type Knn supports works here too).
    */
  def exactL2TopK(emb: DataFrame, idCol: String, vecCol: String,
                  queryPred: Column, k: Int): DataFrame = {
    val q = emb.where(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val c = emb.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val sims = broadcast(q).join(c, col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        (-sqdist(col("qv"), col("cv"))).as("sim"))
    Knn.topKSelect(sims, emb.schema(idCol).dataType, k)
      .select("q_id", "cand_id")
  }

  /** The subspace count `m` a stored codebook table was trained with:
    * max(sub)+1, recovered from the table itself so refresh and audit
    * callers cannot desynchronize the dial. An empty table fails with
    * the rebuild remedy (bounded collect: the table is m·k rows).
    */
  def storedM(codebooks: DataFrame, stateDir: String): Int = {
    val r = codebooks.agg(max("sub")).head()
    require(!r.isNullAt(0),
      s"stored codebook table at $stateDir is empty — the index is " +
        "unusable; run build() with a non-empty seed set")
    r.getInt(0) + 1
  }

  /** Long-form subvector table (id, sub, sv): sub ∈ [0, m), sv the
    * sub-th length-(d/m) slice. d must be divisible by m (trailing
    * dims would silently vanish otherwise — refused at plan build
    * when the schema knows the array is literal-sized; enforced by
    * construction on the 64-dim corpus here).
    */
  def subvectors(emb: DataFrame, idCol: String, vecCol: String, m: Int): DataFrame = {
    require(m >= 1, s"m must be positive, got $m")
    emb.select(col(idCol).as("id"),
        posexplode(expr(
          s"transform(sequence(0, ${m - 1}), j -> slice($vecCol, j * (size($vecCol) div $m) + 1, size($vecCol) div $m))"))
          .as(Seq("sub", "sv")))
  }

  /** Per-subspace argmin against a codebook: (id, sub, code, d2).
    * Ties break toward the smaller code (min-struct — mergeable, no
    * window). Codebook rows: (sub, code, cvec).
    */
  def assign(sv: DataFrame, codebooks: DataFrame): DataFrame =
    sv.join(broadcast(codebooks), "sub")
      .groupBy("id", "sub")
      .agg(min(struct(sqdist(col("sv"), col("cvec")).as("d2"), col("code")))
        .as("best"))
      .select(col("id"), col("sub"), col("best.code").as("code"),
        col("best.d2").as("d2"))

  /** Train per-subspace codebooks by `iters` joint Lloyd iterations
    * (all m subspaces in each pass — one job per iteration, not m).
    * Seeds: the subvectors of rows matching `seedPred`, code = id (so
    * seed ids should be the k smallest to keep codes dense). A
    * subspace cluster that captures no vectors disappears (standard
    * Lloyd empty-cluster drop). Returns (sub, code, cvec).
    *
    * Per-iteration codebooks (m·k rows — tiny) are materialized via
    * the checkpoint-mode dial and superseded steps released — the
    * family-wide durability contract: `CheckpointMode.Path(dir)` +
    * `resume = true` re-enters a dead run at the last committed step
    * (step 1 = seeds, step 1+i = iteration i), bit-identical to an
    * uninterrupted run (ResumeSpec). The resumed call must use the
    * same (m, seedPred) dials — the codebook files carry no dial
    * fingerprint.
    */
  def trainCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                     m: Int, seedPred: Column, iters: Int,
                     checkpoint: graft.operators.CheckpointMode =
                       graft.operators.CheckpointMode.Local,
                     resume: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    val sv = subvectors(emb, idCol, vecCol, m)
    val cp = new graft.operators.Checkpointer(checkpoint, "pq")
    val resumed = (checkpoint, resume) match {
      case (graft.operators.CheckpointMode.Path(dir), true) =>
        graft.operators.Checkpointer
          .lastCompleteStep(emb.sparkSession, dir, "pq")
          .filter { case (s, _) => s >= 1 && s <= iters + 1 }
      case _ => None
    }
    var (cb, prevCp, remaining) = resumed match {
      case Some((s, frame)) =>
        val f = cp.resumeAt(s, frame)
        (f, Option(f), iters - (s - 1))
      case None =>
        val c0 = cp.materialize(subvectors(emb.where(seedPred), idCol, vecCol, m)
          .select(col("sub"), col("id").as("code"), col("sv").as("cvec")))
        (c0, Option(c0), iters)
    }
    (1 to remaining).foreach { _ =>
      val assigned = assign(sv, cb)
      val next = cp.materialize(
        sv.join(assigned.select("id", "sub", "code"), Seq("id", "sub"))
          .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("dim", "v")))
          .groupBy("sub", "code", "dim")
          .agg(avg(col("v")).as("mval"))
          .groupBy("sub", "code")
          .agg(array_sort(collect_list(struct(col("dim"), col("mval")))).as("dm"))
          .select(col("sub"), col("code"),
            transform(col("dm"), x => x.getField("mval").cast("float")).as("cvec")))
      prevCp.foreach(cp.release)
      prevCp = Some(next)
      cb = next
    }
    cb
  }

  /** ADC top-k: for each probe vector, the k nearest code rows by
    * summed table distance. `queries`: (idCol, vecCol); `codes`:
    * encode() output. Probe distance tables are m·k·|probes| rows —
    * broadcast; the reduction over the corpus-sized code table is a
    * partial-aggregable top-k (never a per-query window). Emits
    * (q_id, rk, cand_id, adc_d2) — adc_d2 bit-exact (fixed-order
    * subspace sum).
    */
  def adcTopK(queries: DataFrame, idCol: String, vecCol: String,
              codes: DataFrame, codebooks: DataFrame, m: Int, k: Int): DataFrame = {
    val qsv = subvectors(queries, idCol, vecCol, m)
      .select(col("id").as("q_id"), col("sub"), col("sv"))
    val dtab = qsv.join(codebooks, "sub")
      .select(col("q_id"), col("sub"), col("code"),
        sqdist(col("sv"), col("cvec")).as("d2"))
    val terms = codes.select("id", "sub", "code")
      .join(broadcast(dtab), Seq("sub", "code"))
      .where(col("id") =!= col("q_id"))
      .groupBy(col("q_id"), col("id"))
      .agg(max(when(col("sub") === 0, col("d2"))).as("d0"),
        (1 until m).map(j =>
          max(when(col("sub") === j, col("d2"))).as(s"d$j")): _*)
    val adc = terms.withColumn("adc_d2",
      (0 until m).map(j => col(s"d$j")).reduce(_ + _))
    adc.groupBy("q_id")
      .agg(graft.functions.TopKAggregator.topK(k)(
        -col("adc_d2"), col("id").cast("long")).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "sc")))
      .select(col("q_id"), (col("pos") + 1).as("rk"),
        col("sc.cand_id").as("cand_id"), (-col("sc.sim")).as("adc_d2"))
  }
}
