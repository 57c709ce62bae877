package graft.er

import graft.functions.{EvalOnce, RegexpGroups}
import graft.similarity.DocSimilarity
import graft.text.{TfIdf, Tokenize}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest for the reference's CSV-with-regex data files
  * (reference: textanalyse/Utils.scala:10-11,14-25,37-49,51-73).
  *
  * The reference parses lines with anchored Java regexes rather than a CSV
  * reader, tags unparsable lines, drops the header by literal id match and
  * strips `"` characters from ids. We reproduce those semantics with one
  * native match per line ([[graft.functions.RegexpGroups]]: the same
  * java.util.regex engine and `find` as `rlike`/`regexp_extract` →
  * byte-identical group capture, including greedy backtracking across the
  * quoted fields), so corrupt-line accounting and all downstream goldens
  * match. Everything stays distributed — no driver-side parsing.
  */
object ErIngest {

  /** reference: textanalyse/Utils.scala:10 */
  val DataPattern = """^(.+),"(.+)",(.*),(.*),(.*)"""

  /** reference: textanalyse/Utils.scala:11 */
  val GoldPattern = """^(.+),"(.+)"""

  private def stripQuotes(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "\"", "")

  /** The groups of `pattern` in each matching line of `path` (column
    * `g`), the header line (first group `header`) dropped. One match per
    * line: EvalOnce keeps the optimizer from copying the match into the
    * filter (`rlike` + one `regexp_extract` per group matched up to six
    * times per line).
    */
  private def parse(spark: SparkSession, path: String, pattern: String, groups: Int,
                    header: String): DataFrame =
    spark.read.text(path)
      .select(EvalOnce(RegexpGroups(col("value"), pattern, groups)).as("g"))
      .where(col("g").isNotNull && col("g")(0) =!= header)

  /** Product table `(id, text)`: text = title + " " + description + " " +
    * manufacturer (empty fields keep their separator — reference
    * Utils.scala:57 uses plain string concatenation).
    */
  def products(spark: SparkSession, path: String): DataFrame =
    parse(spark, path, DataPattern, 4, "\"id\"")
      .select(stripQuotes(col("g")(0)).as("id"),
        concat(col("g")(1), lit(" "), col("g")(2), lit(" "), col("g")(3)).as("text"))

  /** Lines that fail the product regex (reference prints the first 10 —
    * Utils.scala:22-23; we return them as a DataFrame instead).
    */
  def corruptProductLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).where(!col("value").rlike(DataPattern))

  /** Gold standard `(id_a, id_b)` of known duplicate pairs. */
  def goldStandard(spark: SparkSession, path: String): DataFrame =
    parse(spark, path, GoldPattern, 2, "\"idAmazon\"")
      .select(stripQuotes(col("g")(0)).as("id_a"), stripQuotes(col("g")(1)).as("id_b"))

  /** Driver-side stopword load (127 words — tiny by contract; reference
    * Utils.scala:27-35).
    */
  def stopwords(spark: SparkSession, path: String): Seq[String] =
    spark.read.textFile(path).collect().toSeq
}

/** The reference's end-to-end entity-resolution pipeline, Spark-first:
  * two product catalogs → tokenize → corpus-wide plain-ratio IDF →
  * TF-IDF weights → pairwise cosine (naive cartesian or inverted-index
  * broadcast probe) → gold-standard evaluation.
  *
  * Everything is a composition over long-form `(id, token, weight)`
  * tables. Nothing is collected at construction (the
  * reference collects its IDF dict and full weight maps —
  * textanalyse/EntityResolution.scala:121,
  * textanalyse/ScalableEntityResolution.scala:59-62); the scalable path
  * broadcasts Amazon's packed index inside its own query.
  *
  * Only the tables whose recomputation costs more than their cache are
  * persisted: the IDF (read by both weight tables) and the weight tables
  * (read by the cosine kernel, the norms and the naive sample). The raw
  * catalogs, gold and the norms are read once per pass and stay lazy.
  * The token tables are read twice (corpus IDF, weights) but recomputing
  * them is cheaper than caching: every scan of a cached table is its own
  * cache-fill job under AQE, and it would keep the IDF's df and N
  * branches from sharing one exchange.
  */
final class ErPipeline(
    spark: SparkSession,
    amazonPath: String,
    googlePath: String,
    goldPath: String,
    stopwordsPath: String) {

  val stopWords: Seq[String] = ErIngest.stopwords(spark, stopwordsPath)

  val amazon: DataFrame = ErIngest.products(spark, amazonPath)
  val google: DataFrame = ErIngest.products(spark, googlePath)
  val gold: DataFrame = ErIngest.goldStandard(spark, goldPath)

  private def tokenize(df: DataFrame): DataFrame =
    df.select(col("id"), Tokenize.tokens(col("text"), stopWords).as("tokens"))

  val amazonTokens: DataFrame = tokenize(amazon)
  val googleTokens: DataFrame = tokenize(google)

  /** Bag union — reference EntityResolution.scala:86-96. */
  val corpus: DataFrame = amazonTokens.union(googleTokens)

  /** Corpus-wide plain-ratio IDF `(token, idf)` —
    * reference EntityResolution.scala:114-128 (idf = N/df, no log).
    */
  lazy val idf: DataFrame = TfIdf.idf(corpus, "id", "tokens").cache()

  /** TF-IDF weights of one side against the CORPUS IDF (the reference
    * weighs both catalogs with the shared dict —
    * EntityResolution.scala:183, ScalableEntityResolution.scala:20).
    * Per-document TF is narrow, and the IDF broadcasts: no shuffle.
    */
  def weights(tokens: DataFrame): DataFrame =
    TfIdf.termFrequency(tokens, "id", "tokens")
      .join(broadcast(idf), "token")
      .select(col("id"), col("token"), (col("tf") * col("idf")).as("weight"))

  lazy val amazonWeights: DataFrame = weights(amazonTokens).cache()
  lazy val googleWeights: DataFrame = weights(googleTokens).cache()
  lazy val amazonNorms: DataFrame = TfIdf.norms(amazonWeights, "id")
  lazy val googleNorms: DataFrame = TfIdf.norms(googleWeights, "id")

  /** Naive strategy: every Amazon×Google pair scored (sim 0.0 when no
    * shared token) — reference EntityResolution.scala:133-157.
    * Returns (id_a, id_b, sim).
    */
  lazy val naiveSimilarities: DataFrame =
    DocSimilarity.cartesianCosine(
        amazonWeights.withColumnRenamed("id", "id_a"),
        amazonNorms.withColumnRenamed("id", "id_a"),
        googleWeights.withColumnRenamed("id", "id_b"),
        googleNorms.withColumnRenamed("id", "id_b"),
        "id_a", "id_b")

  /** Scalable strategy: only pairs sharing ≥1 token are scored — the
    * reference's build-index → broadcast → probe chain
    * (ScalableEntityResolution.scala:64-129) as one query: Amazon's
    * weights pack into a token → `(doc, weight)` index that is
    * broadcast, and each Google document is scored against it inside
    * one task ([[DocSimilarity.invertedIndexCosine]]). No pair row is
    * shuffled or aggregated. Amazon is the build side, so its packed
    * weight table must fit in one task's memory and in a broadcast, as
    * for any broadcast join. Returns (id_a, id_b, sim), one row per
    * pair (ids are unique per catalog).
    */
  lazy val scalableSimilarities: DataFrame =
    DocSimilarity.invertedIndexCosine(
        amazonWeights.withColumnRenamed("id", "id_a"),
        amazonNorms.withColumnRenamed("id", "id_a"),
        googleWeights.withColumnRenamed("id", "id_b"),
        googleNorms.withColumnRenamed("id", "id_b"),
        "id_a", "id_b")

  /** Ad-hoc two-string document similarity against the corpus IDF —
    * reference calculateDocumentSimilarity (EntityResolution.scala:406-420).
    */
  def documentSimilarity(textA: String, textB: String): Double = {
    import spark.implicits._
    val docs = Seq(("a", textA), ("b", textB)).toDF("id", "text")
    val w = weights(tokenize(docs))
    val n = TfIdf.norms(w, "id")
    val sims = DocSimilarity.invertedIndexCosine(
      w.where(col("id") === "a").withColumnRenamed("id", "id_a"),
      n.where(col("id") === "a").withColumnRenamed("id", "id_a"),
      w.where(col("id") === "b").withColumnRenamed("id", "id_b"),
      n.where(col("id") === "b").withColumnRenamed("id", "id_b"),
      "id_a", "id_b")
    sims.select("sim").collect().headOption.map(_.getDouble(0)).getOrElse(0.0)
  }
}

/** Gold-standard evaluation layer — reference
  * EntityResolution.scala:230-280 (evaluateModel) and
  * ScalableEntityResolution.scala:150-259 (histogram + P/R/F1 sweep).
  *
  * Gold is the small side of every join here: it is broadcast into the
  * candidate stream, so candidate pairs are never shuffled. Where the
  * reference runs one distributed filter+count job per threshold (100
  * jobs — ScalableEntityResolution.scala:222-259) plus a custom mutable
  * `Vector[Int]` accumulator, the sweep bins every candidate in one
  * aggregation and derives all 101 thresholds from the ≤101 bin counts.
  */
object ErEvaluation {

  private def tagged(gold: DataFrame, tag: String) =
    broadcast(gold.select(col("id_a"), col("id_b"), lit(true).as(tag)))

  /** (duplicateCount, avgSimOfDuplicates, avgSimOfNonDuplicates) —
    * reference evaluateModel (EntityResolution.scala:230-280), but as ONE
    * aggregation pass instead of a join + three separate jobs.
    */
  def evaluateModel(sims: DataFrame, gold: DataFrame): (Long, Double, Double) = {
    val row = sims.join(tagged(gold, "is_dup"), Seq("id_a", "id_b"), "left").agg(
      count(when(col("is_dup"), lit(1))).as("dups"),
      avg(when(col("is_dup"), col("sim"))).as("avg_dup"),
      avg(when(col("is_dup").isNull, col("sim"))).as("avg_nondup")
    ).collect()(0)
    // the avg aggregates are NULL when sims contain no gold pairs (or
    // only gold pairs) — surface NaN instead of NPE-ing on getDouble
    def d(i: Int): Double = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
    (row.getLong(0), d(1), d(2))
  }

  /** Gold-pair similarities with absent candidates scored 0.0 —
    * reference `gs_value` (ScalableEntityResolution.scala:156-158,321-327).
    * The candidates meet the broadcast gold pairs first; only the found
    * pairs (at most |gold|) are broadcast back onto gold.
    */
  def goldSimilarities(sims: DataFrame, gold: DataFrame): DataFrame = {
    val found = sims.join(tagged(gold, "is_dup"), Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("sim"))
    gold.join(broadcast(found), Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), coalesce(col("sim"), lit(0.0)).as("sim"))
  }

  /** Full precision/recall/F1 sweep over thresholds k/100, k = 0..100:
    * `(bin, tp, fp, fn, precision, recall, fmeasure)`, 101 rows by bin.
    * tp(k) = gold pairs with sim ≥ k/100, fp(k) = non-gold candidates
    * with sim ≥ k/100, fn(k) = |gold| − tp(k)
    * (reference falsepos/falseneg/truepos —
    * ScalableEntityResolution.scala:222-259). Gold pairs that are not
    * candidates score 0.0, the reference's `gs_value` semantics.
    *
    * One query: gold is broadcast into the candidate stream (a left
    * join, so candidates are never shuffled), every candidate lands in
    * bin floor(sim·100) as gold or not, and the gold rows themselves are
    * counted in the same aggregation under a NULL bin. The ≤102 count
    * rows are collected, and the finishing step puts the `n_gold − found`
    * absent gold pairs in bin 0 and sums the bins from the top. A
    * candidate binned outside 0..100 counts in no threshold, as before.
    *
    * PRECONDITION: `sims0` must hold at most one row per (id_a, id_b),
    * and `gold0` exactly one: `found` counts the candidate rows that
    * match a gold pair, so a duplicated candidate would be found twice
    * and the absent count would come out short. Every similarity
    * generator in this library emits unique pairs (the cosine kernel
    * scores each pair once; LSH candidates are `.distinct()`); dedup
    * first if yours does not.
    */
  def prfSweep(sims0: DataFrame, gold0: DataFrame): DataFrame = {
    val spark = sims0.sparkSession
    val bin = floor(coalesce(col("sim"), lit(0.0)) * 100).cast("int")
    val counts = sims0.join(tagged(gold0, "isd"), Seq("id_a", "id_b"), "left")
      .select(bin.as("bin"), col("isd").isNotNull.as("isd"))
      .union(gold0.select(lit(null).cast("int").as("bin"), lit(true).as("isd")))
      .groupBy("bin")
      .agg(count(when(col("isd"), lit(1))).as("n_dups"),
        count(when(!col("isd"), lit(1))).as("n_nondups"))
      .collect()
    val (dups, nondups) = (new Array[Long](101), new Array[Long](101))
    var (nGold, found) = (0L, 0L)
    counts.foreach { r =>
      if (r.isNullAt(0)) nGold = r.getLong(1)
      else {
        found += r.getLong(1)
        val b = r.getInt(0)
        if (b >= 0 && b <= 100) { dups(b) += r.getLong(1); nondups(b) += r.getLong(2) }
      }
    }
    dups(0) += nGold - found
    val inRange = dups.sum
    var (tp, fp) = (0L, 0L)
    val rows = (100 to 0 by -1).map { b =>
      tp += dups(b)
      fp += nondups(b)
      // the NULL guards mirror DuckDB: no x/0 under ANSI mode either
      val precision = if (tp + fp == 0) None else Some(tp.toDouble / (tp + fp))
      val recall = if (inRange == 0) None else Some(tp.toDouble / inRange)
      val fmeasure = for (p <- precision; r <- recall if p + r != 0) yield 2 * p * r / (p + r)
      Row(b, tp, fp, inRange - tp, boxed(precision), boxed(recall), boxed(fmeasure))
    }.reverse
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, SweepSchema)
  }

  private def boxed(d: Option[Double]): java.lang.Double = d.map(Double.box).orNull

  private val SweepSchema = StructType(Seq(
    StructField("bin", IntegerType, nullable = false),
    StructField("tp", LongType), StructField("fp", LongType), StructField("fn", LongType),
    StructField("precision", DoubleType), StructField("recall", DoubleType),
    StructField("fmeasure", DoubleType)))
}
