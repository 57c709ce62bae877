package graft

import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet: ORC, JSON-lines and CSV
  * round-trip the documents table with schema and values intact — the
  * interchange formats an ingestion pipeline meets. (Parquet is
  * exercised everywhere else: every gate dump, bucketed tables,
  * partitioned layouts, file-source streaming.)
  */
class FormatsSpec extends SparkTestBase {

  private lazy val docs = Tables.read(spark, sf("sf0.001"), "documents")

  private def roundTrip(fmt: String,
                        opts: Map[String, String] = Map.empty): Unit = {
    val dir = tempDir(s"graft-$fmt")
    docs.write.mode("overwrite").options(opts).format(fmt).save(dir)
    val back = spark.read.options(opts).format(fmt)
      .schema(docs.schema) // CSV/JSON need the schema pinned (no inference drift)
      .load(dir)
    assert(back.schema === docs.schema, s"$fmt schema drift")
    val a = docs.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.length === b.length, s"$fmt row count")
    a.zip(b).foreach { case (x, y) => assert(x === y, s"$fmt value drift") }
  }

  test("ORC round trip preserves schema and values") { roundTrip("orc") }

  test("JSON-lines round trip preserves schema and values") { roundTrip("json") }

  test("CSV round trip preserves schema and values (quoted multiline text)") {
    // document text contains commas/newlines — the escaping options ARE
    // the test
    roundTrip("csv", Map("header" -> "true", "multiLine" -> "true",
      "escape" -> "\""))
  }

  test("parquet schema evolution: mergeSchema unions batch schemas, old rows null-fill") {
    // the 100 TB ingest reality: a corpus written over months grows
    // columns. Batch 1 lacks `quality`; batch 2 adds it. mergeSchema
    // must union the file schemas, serve old rows with NULL in the new
    // column, and keep filters on the new column working (NULL-safe).
    val dir = tempDir("graft-evolve")
    docs.select(col("doc_id"), col("text"))
      .where(col("doc_id") < 25)
      .write.mode("append").parquet(dir)
    docs.select(col("doc_id"), col("text"), col("lang"),
        (length(col("text")) % 5).cast("int").as("quality"))
      .where(col("doc_id") >= 25)
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("doc_id", "text", "lang", "quality"),
      s"merged schema must union all batches, got ${merged.columns.toSeq}")
    val total = docs.count()
    assert(merged.count() === total)
    assert(merged.where(col("doc_id") < 25 && col("quality").isNull).count() === 25,
      "pre-evolution rows must null-fill the new column")
    // predicate on the evolved column only matches post-evolution rows
    val q = merged.where(col("quality") >= 0)
    assert(q.count() === total - 25)
    assert(q.select(min(col("doc_id"))).head().getLong(0) >= 25)
  }
}
