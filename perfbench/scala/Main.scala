package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result file. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => str(x.toString)
  }
}

/** Benchmark harness: one workload, one run.
  *
  * {{{
  * perfbench.Main <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *                <resultJson> <cpus> <setupReps>
  * }}}
  * Set-up runs `setupReps` times (session start, reading every input,
  * a warm-up job); an untimed check pass follows and dumps what the
  * correctness checks compare; then passes run back to back, one client
  * in a closed loop, until `seconds` have passed and at least
  * `MinPasses` are done. With trace = 1 the
  * passes alternate untraced and traced, so the result holds both and
  * the tracing overhead. Everything measured goes to `resultJson`.
  */
object Main {
  /** Timed passes a run makes even when `seconds` ran out sooner, so
    * that every run of a workload reports the same number of passes;
    * with trace = 1, of each kind. */
  val MinPasses = 2

  def session(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(name, dataDir, workDir, secondsS, traceS, resultPath, cpusS, repsS) = args.take(8)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = cpusS.toInt
    val wl: Workload = name match {
      case "er_two_catalog" => new ErTwoCatalog(dataDir, sample = 300,
        catalogQuery = "q42_er_evaluate")
      case "state_lifecycle" => new StateLifecycle(dataDir, workDir,
        batches = new java.io.File(dataDir).list().count(_.startsWith("batch_")),
        nBands = 8, rowsPerBand = 3, buckets = 16, maxLiveMarkers = 2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setupS = (1 to repsS.toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, workDir)
      wl.load(spark)
      spark.range(1 << 16).selectExpr("sum(id)").collect()
      Workload.secs(t0)
    }

    val t0 = System.nanoTime()
    val (check, checkFacts) = wl.checkPass(spark, s"$workDir/check")
    val checkS = Workload.secs(t0)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    def count(traced: Boolean) = passes.count(_("traced") == traced)
    while (System.nanoTime() < deadline || count(false) < MinPasses ||
           (trace && count(true) < MinPasses)) {
      val traced = trace && i % 2 == 1
      spark.catalog.clearCache()
      val tp = if (traced) tracer else None
      tp.foreach(_.reset())
      val w0 = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val out = wl.pass(spark, tp)
      val wall = Workload.secs(p0)
      val w1 = System.currentTimeMillis()
      val layers = tp.map { t =>
        val (all, perLayer) = t.totals()
        Map("spark" -> all.c.toMap, "by_layer" -> perLayer.map { case (k, v) => k -> v.c.toMap },
          "self_s" -> t.selfS.c.toMap, "plans" -> t.plans.c.toMap,
          "driver_gap_s" -> t.driverGap(w0, w1))
      }
      // outside the timed region: a pass whose outputs differ from the
      // check pass, or whose state fails the audit, failed every op
      val ok = wl.sameOutput(out, check) && wl.audit(spark)
      if (!ok) System.err.println(s"[perfbench] pass $i output check failed: " +
        out.fingerprint.split(",").zipAll(check.fingerprint.split(","), "", "")
          .filter { case (a, b) => a != b }.take(5).mkString(" "))
      passes += Map("traced" -> traced, "wall_s" -> wall,
        "ops" -> out.ops.map(o => Seq(o.name, o.secs, o.ok && ok)),
        "counts" -> out.counts, "layers" -> layers)
      i += 1
    }
    tracer.foreach(_.close())

    val result = Map("workload" -> name, "cpus" -> cpus, "items" -> wl.items,
      "setup_jvm_s" -> setupS, "check_s" -> checkS,
      "check_ops" -> check.ops.map(o => Seq(o.name, o.secs, o.ok)),
      "check" -> checkFacts, "passes" -> passes,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(resultPath), Json(result))
    spark.stop()
  }
}
