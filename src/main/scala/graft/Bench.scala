package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: one JSON line with per-query wall seconds at the sf
  * given by SPARK_GRAFT_SF_DIR. Methodology:
  *  - queries run in name order (deterministic),
  *  - an uncounted warmup primes the JVM/codegen/parquet-footer paths so
  *    the first real query isn't charged for session startup,
  *  - each query materializes fully through the `noop` sink (a bare
  *    `count()` would let Catalyst prune projections and under-measure
  *    map-heavy queries).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(32)

    // warmup (not timed): codegen + shuffle machinery + parquet readers
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    Tables.names.foreach {
      case "events" => Tables.events(spark, sfDir).count() // ts_us/ts derivation
      case t        => Tables.read(spark, sfDir, t).count()
    }

    // Best of 3 measured reps per query, but the reps are ROUND-ROBIN
    // passes over the whole catalog (q01..qNN, q01..qNN, q01..qNN), not
    // back-to-back runs of one query: scheduler/GC transients on this
    // shared box arrive as multi-minute noise WINDOWS, and with
    // back-to-back reps one window poisons all reps of several
    // consecutive queries (round 2: four queries read 11-19s that
    // steady-state at 0.3-1.1s). Spreading a query's reps ~N×catalog
    // apart means a window has to recur three times in phase to corrupt
    // its min. Data caches are cleared before every rep (only JIT warmth
    // persists), so each rep executes the full pipeline from parquet.
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
    val passes = 3
    val times = Array.fill(catalog.size)(
      scala.collection.mutable.ArrayBuffer.empty[Double]) // -1 marks a failed rep
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                i: Int, tag: String): Unit = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed ($tag): ${e.getMessage}"); false
        }
      times(i) += (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    // One UNCOUNTED warm-up pass over the whole catalog before the
    // timed passes: r6→r5 showed a uniform ~4.5% per-query drift on
    // untouched code — JIT/page-cache state charged unevenly to pass 1
    // and surviving into the min as the catalog grows. After this pass
    // every timed rep runs against fully-JITted query paths, so
    // cross-round drift on untouched queries reflects plans, not
    // warm-up order. (Data caches are still cleared per rep; only code
    // warmth persists, which is exactly the point.)
    for (((name, fn), _) <- catalog.zipWithIndex) {
      spark.catalog.clearCache()
      // NonFatal only: an OOM/interrupt here must propagate — a JVM in
      // fatal state would poison every timed pass that follows; query
      // failures surface (and are attributed) in the timed passes
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case scala.util.control.NonFatal(_) => () }
    }

    for (p <- 0 until passes; ((name, fn), i) <- catalog.zipWithIndex)
      runOnce(name, fn, i, s"pass ${p + 1}")

    // Variance control: a rep spread > 3x means a noise window hit one
    // of the three passes (r5 audit: rep-3 outliers of 6-19s on queries
    // whose min is ~2s — one degraded pass late in the run). Give such
    // queries up to 2 targeted extra reps so the three FASTEST reps —
    // what the min is judged against — come from clean windows; the
    // outlier rep stays visible in "reps" for the post-hoc audit, and
    // anything still spread > 3x over its fastest three is named in
    // "noisy" rather than silently trusted.
    val maxSpread = 3.0
    def fastest3(i: Int): Seq[Double] =
      times(i).filter(_ >= 0).sorted.take(3).toSeq
    for (((name, fn), i) <- catalog.zipWithIndex) {
      var extra = 0
      while (extra < 2 && fastest3(i).nonEmpty &&
             fastest3(i).max / fastest3(i).min > maxSpread) {
        runOnce(name, fn, i, s"retry ${extra + 1}")
        extra += 1
      }
    }

    // Locale.ROOT: the f-interpolator honors the JVM default locale, and
    // a comma-decimal locale would emit invalid JSON ("1,2345")
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val results = catalog.zipWithIndex.map { case ((name, _), i) =>
      val good = times(i).filter(_ >= 0)
      (name, if (good.nonEmpty) Some(good.min) else None, times(i).toSeq, i)
    }
    // an all-failed query serializes as null (never -1: a consumer
    // summing the map must not ingest a negative elapsed time) and is
    // listed in "failed"; per-rep times go to "reps" so a noise-skewed
    // min is auditable after the fact
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v.map(fmt).getOrElse("null") }
      .mkString("{", ",", "}")
    val reps = results.map { case (k, _, r, _) =>
      "\"" + k + "\":" + r.map(t => if (t >= 0) fmt(t) else "null").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // median of the fastest 3 reps: a drift metric robust to one lucky
    // rep, reported beside the judged min for cross-round audits.
    // Lower-median index ((size-1)/2): with only 2 surviving reps the
    // upper pick would report the SLOWER one and manufacture phantom
    // drift on exactly the flaky queries the metric exists to audit.
    val med3 = results.map { case (k, _, _, i) =>
      val f3 = fastest3(i)
      "\"" + k + "\":" + (if (f3.isEmpty) "null" else fmt(f3((f3.size - 1) / 2)))
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val noisy = results.collect {
      case (k, Some(_), _, i)
        if fastest3(i).max / fastest3(i).min > maxSpread => "\"" + k + "\""
    }.mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"reps":$reps,"med3":$med3,"failed":$failed,"noisy":$noisy,"sf":"$sfDir"}"""
    println(line)
    // Also persist the line: stdout of a long bench run may be captured
    // through a bounded tail buffer that truncates the head of the JSON,
    // losing early queries and the total. The file is the durable record.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
