package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Full query catalog: one entry per operator family from SURVEY.md §2
    * plus the corpus-pipeline extensions (dedup, similarity search, text
    * stats, embeddings, events).
    */
  val catalog: Seq[QueryDef] =
    RelationalQueries.defs ++ TextQueries.defs ++
      EmbeddingQueries.defs ++ EventQueries.defs ++
      EvalQueries.defs ++ MultimodalQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * End-to-end slice of the reference pipeline: tokenize → TF-IDF →
    * inverted-index cosine → top pairs (SURVEY.md §7.2 M0).
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val d = Tables.read(spark, sfDir, "documents")
      .where(col("doc_id") < 200)
      .select(col("doc_id"), text.Tokenize.tokens(col("text"), TextQueries.Stop).as("tokens"))
    val w = text.TfIdf.weights(d, "doc_id", "tokens")
    similarity.DocSimilarity.selfCosinePairs(w, "doc_id")
      .orderBy(col("sim").desc, col("id_a"), col("id_b"))
      .limit(50)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
