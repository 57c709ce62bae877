package graft.queries

import graft.{QueryDef, Tables}
import graft.dedup.Dedup
import graft.er.ErEvaluation
import graft.similarity.DocSimilarity
import graft.text.{TfIdf, Tokenize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's gold-standard evaluation layer (SURVEY.md §2 J3-J5,
  * P5, A7, A9, A10) over the testdata `documents` table. The "gold
  * standard" is derived deterministically: pairs whose word-bigram
  * Jaccard ≥ 0.5 count as true duplicates; the similarity under
  * evaluation is TF-IDF cosine. Both sides are exact integer/single-
  * division arithmetic, so the gold set is bit-identical across engines.
  */
object EvalQueries {

  private def tokenized(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents").where(col("doc_id") < 150)
      .select(col("doc_id"), Tokenize.tokens(col("text"), TextQueries.Stop).as("tokens"))

  private def sims(s: SparkSession, dir: String): DataFrame = {
    val d = tokenized(s, dir)
    val w = TfIdf.weights(d, "doc_id", "tokens")
    DocSimilarity.selfCosinePairs(w, "doc_id")
  }

  /** Gold = the 25 most-bigram-Jaccard-similar pairs (total order with
    * id tie-break; Jaccard is exact int division → identical set in any
    * engine). A top-k keeps the eval non-degenerate at every scale
    * factor, where any fixed threshold goes empty as the corpus grows.
    */
  private def gold(s: SparkSession, dir: String): DataFrame =
    Dedup.bigramJaccardPairs(tokenized(s, dir), "doc_id", "tokens")
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b")).limit(25)
      .select("id_a", "id_b")

  /** Shared DuckDB CTE chain: TF-IDF cosine pairs + Jaccard gold over
    * documents with doc_id < 150 (mirrors q26/q29 formulations).
    */
  private val SimsAndGoldCte = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         t -> t <> '' AND t NOT IN ('the','a')) AS tokens
      FROM documents WHERE doc_id < 150),
    tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
    tot AS (SELECT doc_id, len(tokens) AS total FROM toks),
    cnt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
    idf AS (SELECT token,
                   (SELECT COUNT(*) FROM toks)::DOUBLE / COUNT(DISTINCT doc_id) AS idf
            FROM tok GROUP BY token),
    w AS (SELECT c.doc_id, c.token, (c.cnt / t.total) * i.idf AS weight
          FROM cnt c JOIN tot t USING(doc_id) JOIN idf i USING(token)),
    nrm AS (SELECT doc_id, SQRT(SUM(weight*weight)) AS norm FROM w GROUP BY doc_id),
    dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.weight*b.weight) AS dot
             FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sims AS (SELECT id_a, id_b, dot / (na.norm * nb.norm) AS sim
             FROM dots JOIN nrm na ON na.doc_id = id_a JOIN nrm nb ON nb.doc_id = id_b),
    sh AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(tokens)),
                           i -> tokens[i] || ' ' || tokens[i+1])) AS sh
           FROM toks),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    sz AS (SELECT doc_id, len(sh) AS n FROM sh),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    jac AS (SELECT id_a, id_b, inter / (sa.n + sb.n - inter) AS jaccard
            FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b),
    gold AS (SELECT id_a, id_b FROM jac
             ORDER BY jaccard DESC, id_a, id_b LIMIT 25)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- q42: evaluateModel (J3 left-outer vs gold, P5 null split, A4
    // count, A7 means) — one aggregation pass, reference
    // EntityResolution.scala:230-280.
    QueryDef("q42_er_evaluate", Some(s"""$SimsAndGoldCte
      SELECT COUNT(*) AS n_pairs,
             COUNT(CASE WHEN g.isd THEN 1 END) AS dups,
             ROUND(AVG(CASE WHEN g.isd THEN s.sim END), 6) AS avg_dup,
             ROUND(AVG(CASE WHEN g.isd IS NULL THEN s.sim END), 6) AS avg_nondup
      FROM sims s
      LEFT JOIN (SELECT id_a, id_b, TRUE AS isd FROM gold) g USING (id_a, id_b)"""),
      (s, dir) =>
        sims(s, dir).join(
            gold(s, dir).withColumn("isd", lit(true)), Seq("id_a", "id_b"), "left")
          .agg(count(lit(1)).as("n_pairs"),
            count(when(col("isd"), lit(1))).as("dups"),
            round(avg(when(col("isd"), col("sim"))), 6).as("avg_dup"),
            round(avg(when(col("isd").isNull, col("sim"))), 6).as("avg_nondup"))),

    // ---- q43: the 101-threshold precision/recall/F1 sweep (A9 histogram
    // + A10 metrics) — single shuffle + window cumsum, reference
    // ScalableEntityResolution.scala:150-259 (which runs ~100 jobs).
    QueryDef("q43_er_prf_sweep", Some(s"""$SimsAndGoldCte,
      gs AS (SELECT g.id_a, g.id_b, COALESCE(s.sim, 0.0) AS sim
             FROM gold g LEFT JOIN sims s USING (id_a, id_b)),
      dupb AS (SELECT CAST(FLOOR(sim*100) AS INTEGER) AS bin, COUNT(*) AS nd
               FROM gs GROUP BY 1),
      nondupb AS (SELECT CAST(FLOOR(s.sim*100) AS INTEGER) AS bin, COUNT(*) AS nn
                  FROM sims s
                  LEFT JOIN (SELECT id_a, id_b, TRUE AS isd FROM gold) g USING (id_a, id_b)
                  WHERE g.isd IS NULL GROUP BY 1),
      bins AS (SELECT CAST(t.range AS INTEGER) AS bin,
                      COALESCE(d.nd, 0) AS nd, COALESCE(n.nn, 0) AS nn
               FROM range(0, 101) t
               LEFT JOIN dupb d ON d.bin = t.range
               LEFT JOIN nondupb n ON n.bin = t.range),
      cum AS (SELECT bin,
                CAST(SUM(nd) OVER (ORDER BY bin DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
                CAST(SUM(nn) OVER (ORDER BY bin DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
              FROM bins),
      met AS (SELECT bin, tp, fp, (SELECT COUNT(*) FROM gold) - tp AS fn,
                CASE WHEN tp + fp = 0 THEN NULL
                     ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
                CASE WHEN (SELECT COUNT(*) FROM gold) = 0 THEN NULL
                     ELSE CAST(tp AS DOUBLE) / (SELECT COUNT(*) FROM gold) END AS recall
              FROM cum)
      SELECT bin, tp, fp, fn, precision, recall,
             CASE WHEN precision IS NULL OR precision + recall = 0 THEN NULL
                  ELSE 2 * precision * recall / (precision + recall) END AS fmeasure
      FROM met ORDER BY bin"""),
      (s, dir) => {
        // sims and gold share the tokenized stage, and the weight table
        // feeds three plan branches inside the cosine join (a-side,
        // b-side, norms) — cache both for the sweep's duration so the
        // scan+tokenize+TF-IDF chain runs once, not five times. Eager
        // fills (count) prevent the multi-branch race where each branch
        // computes the whole upstream chain into an unfilled cache.
        // prfSweep is eager (returns a materialized 101-row frame), so
        // unpersisting before returning is safe.
        val d = tokenized(s, dir).persist()
        val w = TfIdf.weights(d, "doc_id", "tokens").persist()
        try {
          // ONE eager fill: computing w reads through d's (persisted,
          // unfilled) cache and fills it as a side effect, so a separate
          // d.count() job is pure overhead. Worst case some d partitions
          // are computed twice inside this first job when w's TF and IDF
          // branches race on the unfilled cache — bounded by what the
          // dropped d.count() used to cost, and after this job both
          // caches are warm for sims and the Jaccard gold branch.
          w.count()
          val sims = DocSimilarity.selfCosinePairs(w, "doc_id")
          val g = Dedup.bigramJaccardPairs(d, "doc_id", "tokens")
            .orderBy(col("jaccard").desc, col("id_a"), col("id_b")).limit(25)
            .select("id_a", "id_b")
          ErEvaluation.prfSweep(sims, g)
        } finally {
          w.unpersist()
          d.unpersist()
        }
      })
  )
}
