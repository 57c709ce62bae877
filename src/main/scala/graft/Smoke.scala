package graft

/** Local stand-in for the driver's t1 smoke: run SparkEntry.entry and
  * assert rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4, logLevel = "ERROR")
    val df = SparkEntry.entry(spark)
    val rows = df.count()
    df.show(10, truncate = false)
    println(s"SMOKE rows=$rows ${if (rows > 0) "OK" else "EMPTY — FAIL"}")
    spark.stop()
  }
}
