package graft.text

import graft.functions.{EvalOnce, TermFrequencies}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Tokenization with the reference's exact semantics
  * (reference: textanalyse/Utils.scala:75-79 and
  * textanalyse/EntityResolution.scala:285-295):
  *
  *  - lowercase, split on the Java regex `\W+`
  *  - drop empty tokens
  *  - drop stopwords but KEEP duplicate tokens (so `array_except`, which
  *    deduplicates, is NOT equivalent — we use a higher-order `filter`)
  *
  * Everything is a `Column` expression, so it stays inside whole-stage
  * codegen and distributes trivially: no UDFs, no driver-side state.
  */
object Tokenize {

  /** Above this, chained `array_remove`s would out-grow the codegen
    * method-size budget; fall back to one higher-order `filter`.
    */
  private val MaxChainedRemoves = 16

  /** lowercase + split `\W+` + drop empties.
    *
    * Codegen note: Java's `split` drops trailing empty strings, so the
    * only possible empty token is a single LEADING one (text starting
    * with a non-word char, or all-non-word text). `array_remove(_, "")`
    * strips exactly that while keeping every other duplicate — and unlike
    * a higher-order `filter` (CodegenFallback, interpreted per row) it
    * stays inside whole-stage codegen.
    */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "\\W+"), "")

  /** tokens minus stopwords, duplicates preserved. `array_except` would
    * dedup (wrong — reference keeps duplicates,
    * textanalyse/EntityResolution.scala:293); `array_remove` per stopword
    * removes all its occurrences and keeps everything else, codegen'd.
    */
  def tokens(text: Column, stopwords: Seq[String]): Column =
    if (stopwords.isEmpty) tokens(text)
    else if (stopwords.size <= MaxChainedRemoves)
      stopwords.foldLeft(tokens(text))((c, sw) => array_remove(c, sw))
    else filter(tokens(text), t => !t.isInCollection(stopwords))
}

/** TF-IDF over a normalized (long-form) token table.
  *
  * Layout choice for scale: instead of per-document `Map[token,weight]`
  * columns (the reference's representation, which it even collects to the
  * driver — textanalyse/EntityResolution.scala:121,
  * textanalyse/ScalableEntityResolution.scala:59-62), we keep everything
  * as long tables `(id, token, weight)`. At 100 TB that is the only
  * layout that shuffles and prunes well; the cosine kernel packs it into
  * its broadcast index itself (graft.similarity.DocSimilarity).
  *
  * IDF parity trap (SURVEY.md §7): the reference computes
  * `idf = N / df` — a PLAIN RATIO, no log, no smoothing
  * (textanalyse/EntityResolution.scala:121-128). MLlib's `IDF` uses
  * `log((N+1)/(df+1))` and will NOT match; we hand-roll the ratio.
  */
object TfIdf {

  /** Term frequency `(id, token, tf)`: count(token within doc) /
    * count(tokens in doc) (reference: textanalyse/EntityResolution.scala:297-315).
    * Each document's terms are counted from its own token array in ONE
    * narrow pass ([[graft.functions.TermFrequencies]]): no `(id, token)`
    * shuffle and no join back of the per-doc totals.
    *
    * PRECONDITION: `idCol` is unique per row. Two rows with one id are
    * two documents here, each with its own frequencies; grouping would
    * have pooled them.
    */
  def termFrequency(docs: DataFrame, idCol: String, tokensCol: String): DataFrame =
    docs.select(col(idCol), inline(TermFrequencies(col(tokensCol))))

  /** Document frequency: number of distinct docs containing each token.
    * `array_distinct` BEFORE explode keeps the exploded row count at
    * (docs × distinct-tokens-per-doc) instead of total token count —
    * the map-side dedup the reference does with `.distinct` per row
    * (textanalyse/EntityResolution.scala:117-118).
    */
  def documentFrequency(docs: DataFrame, idCol: String, tokensCol: String): DataFrame =
    docs.select(explode(array_distinct(col(tokensCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))

  /** IDF table `(token, idf)` with the reference's plain-ratio formula
    * `idf = N / df` (textanalyse/EntityResolution.scala:121). Kept as a
    * DataFrame — broadcast-joined downstream, never collected. N counts
    * every row of `docs`; a NULL token is not a term.
    */
  def idf(docs: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    // N stays a LAZY broadcast scalar, never `docs.count()`: an eager
    // count at plan-construction time runs a full corpus scan job before
    // every query that touches TF-IDF. It also rides the df pass itself:
    // each doc contributes its distinct non-NULL tokens plus one NULL
    // marker, so ONE explode and ONE shuffle count df per token and N as
    // the marker's count. The marker row and the term rows are split by
    // EvalOnce filters, which the optimizer cannot push below the
    // aggregate, so both branches share that one exchange.
    val noToken = array(lit(null).cast(StringType))
    val counts = docs
      .select(explode(array_union(
        array_except(coalesce(col(tokensCol), typedLit(Seq.empty[String])), noToken),
        noToken)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val isMarker = EvalOnce(col("token").isNull)
    val n = counts.where(isMarker).select(col("df").cast("double").as("n_docs"))
    counts.where(!isMarker)
      .crossJoin(broadcast(n))
      .select(col("token"), (col("n_docs") / col("df")).as("idf"))
  }

  /** TF-IDF weights `(id, token, weight)` = TF ⋈ IDF on token.
    * The IDF side is tiny (vocabulary-sized) → broadcast it.
    */
  def weights(docs: DataFrame, idCol: String, tokensCol: String): DataFrame = {
    val tf = termFrequency(docs, idCol, tokensCol)
    tf.join(broadcast(idf(docs, idCol, tokensCol)), "token")
      .select(col(idCol), col("token"), (col("tf") * col("idf")).as("weight"))
  }

  /** Per-document L2 norms `(id, norm)` of the TF-IDF vectors —
    * precomputed once so the pairwise cosine never recomputes them
    * (reference: textanalyse/ScalableEntityResolution.scala:32-35, but
    * there the norms are collected to the driver; here they stay
    * distributed and are joined in).
    */
  def norms(weights: DataFrame, idCol: String): DataFrame =
    weights.groupBy(col(idCol))
      .agg(sqrt(sum(col("weight") * col("weight"))).as("norm"))
}
