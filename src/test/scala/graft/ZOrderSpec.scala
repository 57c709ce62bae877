package graft

import graft.sources.ZOrder
import org.apache.spark.sql.functions._

/** Z-order layout: the Morton key machinery and the property that pays
  * for it — after clustering on (user_id, value), a filter on EITHER
  * column finds its rows concentrated in a few files (parquet min/max
  * stats then skip the rest), while a layout sorted linearly on one
  * column serves only that column.
  */
class ZOrderSpec extends SparkTestBase {
  import spark.implicits._

  test("interleave places bit i of column j at position i*k + j") {
    val r = Seq((5L, 3L)).toDF("x", "y")
      .select(ZOrder.interleave(Seq(col("x"), col("y")), 3).as("z"))
      .as[Long].collect()(0)
    // x=101, y=011 → bits (x0,y0,x1,y1,x2,y2) = 1,1,0,1,1,0 → 0b011011
    assert(r === 27L)
  }

  test("quantize maps bounds to the edge buckets and is monotonic") {
    val df = Seq(0.0, 2.5, 5.0, 7.5, 10.0).toDF("v")
      .select(ZOrder.quantize(col("v"), lit(0.0), lit(10.0), 2).as("q"))
    assert(df.as[Long].collect().toSeq === Seq(0L, 1L, 2L, 3L, 3L))
    // degenerate bounds: everything lands in bucket 0, no divide-by-zero
    val d = Seq(4.2).toDF("v")
      .select(ZOrder.quantize(col("v"), lit(4.2), lit(4.2), 8).as("q"))
    assert(d.as[Long].collect()(0) === 0L)
  }

  test("z-ordered layout concentrates BOTH dimensions; linear only its sort column") {
    val events = graft.Tables.events(spark, sf("sf0.01"))
      .select(col("event_id"), col("user_id"), col("value"))
    val nFiles = 16

    val zDir = tempDir("graft_zorder")
    ZOrder.writeZOrdered(events, zDir, Seq("user_id", "value"), nFiles)

    val linDir = tempDir("graft_linear")
    events.repartitionByRange(nFiles, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(linDir)

    def filesWithMatches(dir: String, pred: org.apache.spark.sql.Column): Int =
      spark.read.parquet(dir).where(pred)
        .select(input_file_name()).distinct().count().toInt

    // a file contains matching rows iff its min/max admit the predicate
    // — exactly the files parquet stats skipping cannot prune, so
    // "files with matches" is the layout's pruning quality
    val uZ = filesWithMatches(zDir, col("user_id") === 7)
    val uL = filesWithMatches(linDir, col("user_id") === 7)
    assert(uZ <= nFiles / 2, s"z-order must concentrate a user's rows, got $uZ/$nFiles")
    assert(uL <= 2, "sanity: the linear layout serves its own sort column")

    val vZ = filesWithMatches(zDir, col("value") > 300)
    val vL = filesWithMatches(linDir, col("value") > 300)
    assert(vZ < vL,
      s"the second dimension must benefit from z-order: $vZ z-files vs $vL linear")
    assert(vZ <= nFiles / 2,
      s"a top-value slice must be concentrated, got $vZ/$nFiles")

    // round trip intact
    assert(spark.read.parquet(zDir).count() === events.count())
  }
}
