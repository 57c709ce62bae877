package graft.similarity

import graft.functions.{PackPostings, ProbeCosine}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise document cosine similarity over TF-IDF weight tables.
  *
  * The reference has two strategies:
  *  - naive cartesian product over all pairs
  *    (textanalyse/EntityResolution.scala:133-157)
  *  - inverted index + common-token join + broadcast maps
  *    (textanalyse/ScalableEntityResolution.scala:64-129)
  *
  * The scalable strategy runs as a broadcast-probe kernel
  * ([[graft.functions.InvertedIndexKernel]]), planned from stock
  * operators so it works in any session:
  *
  *  1. build: the build side's `(id, token, weight)` rows are read in
  *     one task (they all meet in one place anyway, so no gather
  *     shuffle) and fold into a packed index — token → `(doc, weight)`
  *     postings plus each doc's squared norm — which is broadcast inside
  *     the query's execution (a `BroadcastNestedLoopJoin` against that
  *     single row; building the DataFrame launches no job);
  *  2. probe: the other side's rows group per document (one shuffle of
  *     weight rows, none when they are already hash-partitioned by id;
  *     never a shuffle of pairs), and each probe document is scored
  *     inside one task by a dense accumulator that emits
  *     `(id_a, id_b, sim)` for every build doc it shares a token with.
  *
  * No exchange carries pair rows and nothing aggregates pairs. Each dot
  * and squared norm is summed in one fixed token order, so a cosine is
  * bit-identical under any partitioning, and an identical token bag
  * scores exactly 1.0. `sim = dot / sqrt(ssA * ssB)`; a doc with a zero
  * norm has no cosine and scores no pair. Docs sharing no token never
  * meet (their cosine is 0 in the reference too).
  *
  * Memory bound, as for any broadcast join: the build side's whole
  * weight table, packed (about 12 bytes per posting plus its ids and
  * vocabulary), is held by one task while it is packed, then, broadcast,
  * by every process of the application. Put the smaller catalog on the build
  * side (`weightsA`, or the corpus of the self variant). The narrow work
  * that produces the build rows since their last shuffle or cache runs
  * in that one task too, so feed it a cached or cheaply derived table.
  *
  * The `norms` arguments keep the signature of [[cartesianCosine]]: the
  * kernel derives each squared norm from the weights in the fixed token
  * order instead, so they must be the norms of the same weights.
  */
object DocSimilarity {

  /** Scalable inverted-index cosine: all pairs sharing ≥1 token.
    *
    * @param weightsA long-form weights of the build side (the broadcast
    *                 one), tokens col "token"
    * @param weightsB long-form weights of the probe side
    * @return (idA, idB, sim)
    */
  def invertedIndexCosine(
      weightsA: DataFrame, normsA: DataFrame,
      weightsB: DataFrame, normsB: DataFrame,
      idA: String, idB: String): DataFrame =
    probe(weightsA, idA, weightsB, idB, idA, idB, below = false)

  /** Self-join variant over one corpus: unordered pairs (a < b). */
  def selfCosinePairs(weights: DataFrame, norms: DataFrame, id: String): DataFrame =
    probe(weights, id, weights, id, "id_a", "id_b", below = true)

  private def probe(build: DataFrame, buildId: String, docs: DataFrame, docId: String,
                    outA: String, outB: String, below: Boolean): DataFrame = {
    val index = build.coalesce(1)
      .agg(collect_list(struct(col(buildId), col("token"), col("weight").cast("double")))
        .as("rows"))
      .select(PackPostings(col("rows")).as("_index"))
    docs
      .groupBy(col(docId).as(outB))
      .agg(collect_list(struct(col("token"), col("weight").cast("double"))).as("_terms"))
      .crossJoin(broadcast(index))
      .select(col(outB), inline(ProbeCosine(
        col("_index"), col(outB), col("_terms"), outA, below)))
      .select(col(outA), col(outB), col("sim"))
  }

  /** Naive cartesian cosine (reference's small-sample strategy,
    * textanalyse/EntityResolution.scala:133-157). Correct at any scale
    * but O(|A|·|B|); kept for parity tests and tiny inputs — the
    * cross join is a `BroadcastNestedLoopJoin` when one side is small.
    */
  def cartesianCosine(
      weightsA: DataFrame, normsA: DataFrame,
      weightsB: DataFrame, normsB: DataFrame,
      idA: String, idB: String): DataFrame = {
    val pairs = normsA.select(col(idA), col("norm").as("norm_a"))
      .crossJoin(normsB.select(col(idB), col("norm").as("norm_b")))
    val dots = weightsA.select(col(idA), col("token"), col("weight").as("wa"))
      .join(weightsB.select(col(idB), col("token"), col("weight").as("wb")), "token")
      .groupBy(col(idA), col(idB))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    pairs.join(dots, Seq(idA, idB), "left")
      .select(col(idA), col(idB),
        (coalesce(col("dot"), lit(0.0)) / (col("norm_a") * col("norm_b"))).as("sim"))
  }
}
