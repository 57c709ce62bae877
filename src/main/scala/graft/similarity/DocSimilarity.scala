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
  * The kernel takes no norms table: it derives each squared norm from
  * the weights themselves. [[cartesianCosine]] scores through it too,
  * so both strategies return the same bits for a pair.
  */
object DocSimilarity {

  /** Scalable inverted-index cosine: all pairs sharing ≥1 token.
    *
    * @param weightsA long-form weights of the build side (the broadcast
    *                 one), tokens col "token"
    * @param weightsB long-form weights of the probe side
    * @return (idA, idB, sim)
    */
  def invertedIndexCosine(weightsA: DataFrame, weightsB: DataFrame,
                          idA: String, idB: String): DataFrame =
    probe(weightsA, idA, weightsB, idB, idA, idB, below = false)

  /** Self-join variant over one corpus: unordered pairs (a < b). */
  def selfCosinePairs(weights: DataFrame, id: String): DataFrame =
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
    * textanalyse/EntityResolution.scala:133-157): every `docsA × docsB`
    * id pair, scored 0.0 when the two share no token. Correct at any
    * scale but O(|A|·|B|); kept for parity tests and tiny inputs.
    *
    * The scores are the kernel's ([[invertedIndexCosine]]) left-joined
    * onto the id pairs, so a nonzero sim is bit-equal to the scalable
    * one. Only the id columns of `docsA`/`docsB` are read. Under a
    * threshold that rejects 0.0 (`sim > θ`, θ ≥ 0), Spark's own
    * `EliminateOuterJoin` makes the left join inner (the defaulted rows
    * cannot pass) and `ReorderJoin` turns the cross join into two
    * equi-joins against the kernel's pairs, so no all-pairs product is
    * built. A doc with a zero norm scores 0.0 against every doc.
    */
  def cartesianCosine(
      weightsA: DataFrame, docsA: DataFrame,
      weightsB: DataFrame, docsB: DataFrame,
      idA: String, idB: String): DataFrame =
    docsA.select(col(idA)).crossJoin(docsB.select(col(idB)))
      .join(invertedIndexCosine(weightsA, weightsB, idA, idB), Seq(idA, idB), "left")
      .select(col(idA), col(idB), coalesce(col("sim"), lit(0.0)).as("sim"))
}
