package graft

import graft.operators.Observed
import org.apache.spark.sql.functions._

class ObservedSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val tmp =
    tempDir("graft-observed")

  test("write-with-audit: metrics equal a separate pass, for zero extra scans") {
    val df = Seq((1L, 10.50, "a"), (2L, -0.25, "b"), (3L, 4.75, null))
      .toDF("id", "value", "tag")
    val metrics = Map(
      "n_rows" -> count(lit(1)),
      "sum_cents" -> sum(QueryDef.cents(col("value"))),
      "null_tags" -> sum(when(col("tag").isNull, 1L).otherwise(0L)))
    val got = Observed.writeAudited(df, s"$tmp/out", metrics)
    assert(got("n_rows") === 3L)
    assert(got("sum_cents") === 1500L) // 1050 - 25 + 475
    assert(got("null_tags") === 1L)
    // the written data really is what the metrics describe
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() === 3L)
    assert(back.agg(sum(QueryDef.cents(col("value")))).head.getLong(0) === 1500L)
  }

  test("audited action: metrics reflect the rows the action consumed") {
    val df = spark.range(100).toDF("id")
    val (n, m) = Observed.audited(df,
      Map("n" -> count(lit(1)), "mx" -> max(col("id")))) { d => d.count() }
    assert(n === 100L && m("n") === 100L && m("mx") === 99L)
  }

  test("empty metric map is refused") {
    intercept[IllegalArgumentException] {
      Observed.audited(spark.range(1).toDF("id"), Map.empty)(_.count())
    }
  }
}
