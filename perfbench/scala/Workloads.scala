package perfbench

import scala.collection.mutable

import graft.Tables
import graft.dedup.{BandedIndex, Dedup}
import graft.er.{ErEvaluation, ErIngest, ErPipeline}
import graft.operators.VersionedState
import graft.similarity.DocSimilarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation of a pass. */
final case class Op(name: String, secs: Double, ok: Boolean)

/** A pass's operations, a fingerprint of its outputs (equal on every
  * pass of one run when the program is deterministic and correct) and
  * the per-layer counts only a workload can see.
  */
final case class PassOut(ops: Seq[Op], fingerprint: String,
                         counts: Map[String, Double] = Map.empty)

trait Workload {
  /** Documents (or queries) one pass processes. */
  def items: Long
  /** Set-up: read every input once. */
  def load(spark: SparkSession): Unit
  /** Untimed correctness pass: dumps what the outside checks compare
    * into `outDir` and returns facts for the result file. */
  def checkPass(spark: SparkSession, outDir: String): (PassOut, Map[String, Any])
  /** One timed pass; with a tracer, each layer call is its own span and
    * its output is materialized so the span holds its self time. */
  def pass(spark: SparkSession, tr: Option[Tracer]): PassOut
  /** Untimed check after a timed pass; false fails the pass's ops. */
  def audit(spark: SparkSession): Boolean = true
  /** Whether a timed pass produced the check pass's outputs. */
  def sameOutput(out: PassOut, ref: PassOut): Boolean = out.fingerprint == ref.fingerprint
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[T](name: String, ops: mutable.ArrayBuffer[Op])(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try { val r = body; ops += Op(name, secs(t0), ok = true); Some(r) }
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] $name failed: $e")
      ops += Op(name, secs(t0), ok = false); None
    }
  }
}
import Workload._

/** The paper's pipeline over two generated catalogs, run by the
  * program's own `ErPipeline` (a fresh one per pass): ingest, tokenize,
  * corpus IDF, per-side TF-IDF weights and norms, inverted-index cosine
  * (`scalableSimilarities`) and the 101-threshold sweep against the gold
  * pairs. Each pass also scores a `sample` x `sample` corner of the
  * catalogs with the reference's naive cartesian strategy, unthresholded
  * so that no optimizer rule can drop its cross join, and runs the
  * catalog's own ER evaluation query (`catalogQuery`, from the
  * SparkEntry catalog) over catalog A as the `documents` table.
  */
final class ErTwoCatalog(dir: String, sample: Int, catalogQuery: String) extends Workload {
  private val query = graft.SparkEntry.queries(catalogQuery)
  private val (aPath, bPath) = (s"$dir/a.csv", s"$dir/b.csv")
  private var nA, nB = 0L
  /** Check-pass candidates whose exact cosine is the bin edge k/100, by k. */
  private var edgePairs = Map.empty[Int, Long]
  def items: Long = nA + nB

  def load(spark: SparkSession): Unit = {
    nA = ErIngest.products(spark, aPath).count()
    nB = ErIngest.products(spark, bPath).count()
    ErIngest.goldStandard(spark, s"$dir/gold.csv").count()
    Tables.read(spark, dir, "documents").count()
  }

  private def pipeline(spark: SparkSession) =
    new ErPipeline(spark, aPath, bPath, s"$dir/gold.csv", s"$dir/stopwords.txt")

  private def inSample(id: Column, prefix: String) =
    id.isin((0 until sample).map(i => s"$prefix$i"): _*)

  private def cartesianSample(p: ErPipeline) = {
    def side(d: DataFrame, prefix: String, id: String) =
      d.where(inSample(col("id"), prefix)).withColumnRenamed("id", id)
    DocSimilarity.cartesianCosine(side(p.amazonWeights, "a", "id_a"),
      side(p.amazonNorms, "a", "id_a"), side(p.googleWeights, "b", "id_b"),
      side(p.googleNorms, "b", "id_b"), "id_a", "id_b")
  }

  /** `prfSweep` runs the pipeline and returns its 101 rows as a local
    * relation, so reading them back launches no job. */
  private def fingerprint(sweep: DataFrame): String =
    sweep.select("bin", "tp", "fp", "fn").collect()
      .map(r => s"${r.getInt(0)}:${r.getLong(1)}:${r.getLong(2)}:${r.getLong(3)}")
      .mkString(",")

  private def bins(fp: String): Seq[Seq[Long]] =
    fp.split(",").toSeq.map(_.split(":").toSeq.map(_.toLong))

  /** Cosines are float sums in shuffle order, so a pair whose exact
    * cosine is a bin edge k/100 (e.g. 1.0 for copies equal after
    * stopword removal) may land in bin k or k - 1 from pass to pass,
    * which moves the cumulative tp or fp of bin k only. So bin k's tp
    * and fp may move by at most the number of edge pairs at k, and every
    * other bin must match exactly. */
  override def sameOutput(out: PassOut, ref: PassOut): Boolean =
    out.fingerprint == ref.fingerprint || scala.util.Try {
      val (a, b) = (bins(out.fingerprint), bins(ref.fingerprint))
      a.size == 101 && b.size == 101 && a.zip(b).forall { case (x, y) =>
        x(0) == y(0) && x(1) + x(3) == y(1) + y(3) &&
          math.abs(x(1) - y(1)) + math.abs(x(2) - y(2)) <= edgePairs.getOrElse(x(0).toInt, 0L)
      }
    }.getOrElse(false)

  def pass(spark: SparkSession, tr: Option[Tracer]): PassOut = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val counts = mutable.Map.empty[String, Double]
    val fp = tr match {
      case None => timed("er_pass", ops) {
        val p = pipeline(spark)
        val sweep = ErEvaluation.prfSweep(p.scalableSimilarities, p.gold)
        noop(cartesianSample(p))
        noop(query(spark, dir))
        fingerprint(sweep)
      }
      case Some(t) => timed("er_pass", ops) {
        // the pipeline's own caches hold each layer's output
        val p = t.span("sources", "ingest") {
          val p = pipeline(spark)
          Seq(p.amazon, p.google, p.gold).foreach(_.count())
          p
        }
        t.span("text", "tfidf") {
          Seq(p.amazonTokens, p.googleTokens, p.idf, p.amazonWeights, p.googleWeights,
            p.amazonNorms, p.googleNorms).foreach(_.count())
        }
        val s = t.span("similarity", "inverted_index") {
          val s = p.scalableSimilarities.persist()
          counts("candidate_pairs") = s.count().toDouble
          s
        }
        t.span("similarity", "cartesian_sample")(noop(cartesianSample(p)))
        val sweep = t.span("er", "prf_sweep")(ErEvaluation.prfSweep(s, p.gold))
        t.span("queries", catalogQuery) {
          val t0 = System.nanoTime()
          val df = query(spark, dir)
          df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          df.queryExecution.toRdd.foreach(_ => ())
          counts("plan_s") = (t1 - t0) / 1e9
          counts("exec_s") = secs(t1)
          t.countPlan(df.queryExecution.executedPlan)
        }
        s.unpersist()
        fingerprint(sweep)
      }
    }
    PassOut(ops.toSeq, fp.getOrElse("failed"), counts.toMap)
  }

  def checkPass(spark: SparkSession, outDir: String): (PassOut, Map[String, Any]) = {
    val p = pipeline(spark)
    val s = p.scalableSimilarities.persist()
    val sweep = ErEvaluation.prfSweep(s, p.gold)
    val rows = sweep.collect().map { r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i)).toSeq
    }.toSeq
    // candidates, gold pairs among them, and edge pairs by k, in one job
    val edge = round(col("sim") * 100)
    val byEdge = s.join(p.gold.withColumn("g", lit(1)), Seq("id_a", "id_b"), "left")
      .groupBy(when(abs(col("sim") * 100 - edge) < 1e-7, edge.cast("int")).as("k"))
      .agg(count(lit(1)), count(col("g"))).collect()
    val cand = byEdge.map(_.getLong(1)).sum
    val goldFound = byEdge.map(_.getLong(2)).sum
    edgePairs = byEdge.filterNot(_.isNullAt(0)).map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the naive strategy scores every sample pair; its nonzero pairs (a
    // predicate the cross-join elimination rule does not match) are the
    // inverted index's sample pairs, with the same cosines
    val cart = cartesianSample(p).persist()
    val cartRows = cart.count()
    val sampleDocs = p.amazonNorms.where(inSample(col("id"), "a")).count() *
      p.googleNorms.where(inSample(col("id"), "b")).count()
    val cartOff = cart.where(col("sim") =!= 0.0).select(col("id_a"), col("id_b"),
        col("sim").as("sim_c"))
      .join(s.where(inSample(col("id_a"), "a") && inSample(col("id_b"), "b"))
        .select(col("id_a"), col("id_b"), col("sim").as("sim_i")),
        Seq("id_a", "id_b"), "full_outer")
      .where(col("sim_c").isNull || col("sim_i").isNull ||
        abs(col("sim_c") - col("sim_i")) > 1e-9)
      .count()
    Seq(s, cart).foreach(_.unpersist())
    // the catalog query's result and oracle, for scripts/check_oracles.py
    query(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$catalogQuery")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json(Map(catalogQuery -> graft.SparkEntry.oracleSql(catalogQuery))))
    val ref = PassOut(Nil, fingerprint(sweep))
    val ok = cartRows == sampleDocs && cartOff == 0
    if (!ok) System.err.println(s"[perfbench] er check pass: cartesian rows $cartRows of " +
      s"$sampleDocs, $cartOff sample pairs differ")
    (PassOut(Seq(Op("er_pass", 0, ok)), ref.fingerprint),
      Map("catalog_query" -> catalogQuery, "sweep_columns" -> sweep.columns.toSeq, "sweep" -> rows,
        "candidate_pairs" -> cand, "gold_found" -> goldFound, "edge_pairs_by_bin" -> edgePairs,
        "docs_a" -> nA, "docs_b" -> nB))
  }
}

/** A BandedIndex state lifecycle in a fresh state directory per pass:
  * build on a base, then per ingest batch one `maintain` (refresh, and
  * compaction when the marker dial trips) and one `screen` of probe
  * documents; then an erasure batch, a final compaction and GC.
  */
final class StateLifecycle(dir: String, workDir: String, batches: Int,
                           nBands: Int, rowsPerBand: Int, buckets: Int,
                           maxLiveMarkers: Int) extends Workload {
  private var nDocs = 0L
  private var passNo = 0
  private var stateDir = ""
  def items: Long = nDocs

  def load(spark: SparkSession): Unit =
    nDocs = ("base" +: (0 until batches).flatMap(i => Seq(s"batch_$i", s"probe_$i")))
      .map(Tables.read(spark, dir, _).count()).sum

  private def read(spark: SparkSession, t: String) = Tables.read(spark, dir, t)

  private def liveCorpus(spark: SparkSession) =
    ("base" +: (0 until batches).map(i => s"batch_$i"))
      .map(read(spark, _)).reduce(_ unionByName _)
      .join(read(spark, "delete"), Seq("id"), "left_anti")

  private def freshDir(): String = {
    if (stateDir.nonEmpty) deleteTree(new java.io.File(stateDir))
    passNo += 1
    stateDir = s"$workDir/state/pass-$passNo"
    stateDir
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def diskBytes(f: java.io.File = new java.io.File(stateDir)): Double =
    if (f.isFile) f.length.toDouble
    else Option(f.listFiles).map(_.map(diskBytes).sum).getOrElse(0.0)

  /** (pairs, order-independent hash of the pair set) of a candidate
    * frame, in one job. */
  private def digest(pairs: DataFrame): (Long, Long) = {
    val r = pairs.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("id_new"), col("id_corpus"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def pass(spark: SparkSession, tr: Option[Tracer]): PassOut = {
    val sd = freshDir()
    val ops = mutable.ArrayBuffer.empty[Op]
    val facts = mutable.ArrayBuffer.empty[String]
    var screened = 0.0
    var markers = 0.0
    def op[T](name: String)(body: => T): Option[T] =
      timed(name, ops)(tr.fold(body)(_.span("dedup", name)(body)))
    op("build")(BandedIndex.build(read(spark, "base"), "id", "tokens", sd,
      nBands, rowsPerBand, buckets))
    for (i <- 0 until batches) {
      op("maintain")(BandedIndex.maintain(read(spark, s"batch_$i"), "id", "tokens",
        sd, deltaId = s"b$i", maxLiveMarkers = maxLiveMarkers)).foreach { r =>
        markers = math.max(markers, r.liveMarkers)
        facts += s"m$i:${r.version}:${r.compacted}"
      }
      op("screen")(digest(BandedIndex.screen(read(spark, s"probe_$i"), "id", "tokens", sd)))
        .foreach { case (n, h) => screened += n; facts += s"s$i:$n:$h" }
    }
    op("delete")(BandedIndex.delete(read(spark, "delete"), "id", sd, deltaId = "erase"))
    op("compact")(BandedIndex.compact(spark, sd)).foreach(v => facts += s"c:$v")
    op("gc")(BandedIndex.gc(spark, sd))
    val commits = VersionedState.currentVersion(spark, sd).getOrElse(0L).toDouble
    PassOut(ops.toSeq, facts.mkString(","), Map("screen_candidates" -> screened,
      "live_markers" -> markers, "commits" -> commits, "state_disk_bytes" -> diskBytes()))
  }

  /** The `maintain(auditCorpus = …)` gate, run outside the timed
    * region: the live band rows equal a one-shot banding of the live
    * corpus. */
  override def audit(spark: SparkSession): Boolean = {
    val diff = BandedIndex.liveBands(spark, stateDir).get
      .join(BandedIndex.bandRows(liveCorpus(spark), "id", "tokens", nBands, rowsPerBand)
          .select(col("band"), col("chunk"), col("id"), col("c").as("c_one")),
        Seq("band", "chunk", "id"), "full_outer")
      .where(col("c").isNull || col("c_one").isNull || col("c") =!= col("c_one"))
      .count()
    if (diff != 0) System.err.println(s"[perfbench] state audit: $diff band rows differ")
    diff == 0
  }

  def checkPass(spark: SparkSession, outDir: String): (PassOut, Map[String, Any]) = {
    // band rows are audited after every timed pass, whose versions,
    // compaction flags and screens must equal this pass's
    val p = pass(spark, None)
    // each screen gave the pair set of the one-shot incremental near-dup
    // candidates over the corpus live at that batch (no erasures yet)
    val screensOk = (0 until batches).forall { i =>
      val corpus = ("base" +: (0 to i).map(j => s"batch_$j")).map(read(spark, _))
        .reduce(_ unionByName _)
      val (n, h) = digest(Dedup.incrementalNearDupCandidates(corpus,
        read(spark, s"probe_$i"), "id", "tokens", nBands, rowsPerBand)
        .select(col("id_new"), col("id_corpus")))
      val got = p.fingerprint.split(",").find(_.startsWith(s"s$i:"))
      if (!got.contains(s"s$i:$n:$h"))
        System.err.println(s"[perfbench] screen $i: got $got, one-shot $n:$h")
      got.contains(s"s$i:$n:$h")
    }
    val ok = screensOk && p.ops.forall(_.ok)
    (p.copy(ops = p.ops.map(_.copy(ok = ok))),
      Map("screens_ok" -> screensOk, "facts" -> p.fingerprint,
        "state_disk_bytes" -> p.counts("state_disk_bytes")))
  }
}
