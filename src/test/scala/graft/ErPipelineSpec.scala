package graft

import java.nio.file.{Files, Path}

import graft.er.{ErEvaluation, ErPipeline}
import graft.similarity.DocSimilarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A small two-catalog fixture in `ErIngest`'s line layout: a header,
  * then `"id","title","","","0"` per product (the whole text in the
  * title), a gold file of `"a<i>","b<j>"` pairs and a stopword list.
  */
object ErFixture {
  private val stop = Seq("the", "a", "and")

  private def write(dir: Path, name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    p.toString
  }

  private def catalog(dir: Path, name: String, prefix: String, docs: Seq[Seq[String]]) =
    write(dir, name, "\"id\",\"title\",\"description\",\"manufacturer\",\"price\"" +:
      docs.zipWithIndex.map { case (d, i) => s""""$prefix$i","${d.mkString(" ")}","","","0"""" })

  /** Writes the catalogs and returns a pipeline over them. */
  def pipeline(spark: org.apache.spark.sql.SparkSession, a: Seq[Seq[String]],
               b: Seq[Seq[String]], gold: Seq[(Int, Int)]): ErPipeline = {
    val dir = Files.createTempDirectory("er-fixture")
    dir.toFile.deleteOnExit()
    new ErPipeline(spark,
      catalog(dir, "a.csv", "a", a), catalog(dir, "b.csv", "b", b),
      write(dir, "gold.csv", "\"idAmazon\",\"idGoogleBase\"" +:
        gold.map { case (i, j) => s""""a$i","b$j"""" }),
      write(dir, "stopwords.txt", stop))
  }

  /** 40 A docs over 60 words; B = 12 reordered copies of A docs (equal
    * token bags), 10 perturbed copies, 7 fresh docs and one doc that
    * shares no token with A. Gold = the 22 copies plus (a39, b29), a
    * pair that is not a candidate.
    */
  lazy val (a, b, gold): (Seq[Seq[String]], Seq[Seq[String]], Seq[(Int, Int)]) = {
    val rnd = new scala.util.Random(710)
    val vocab = (0 until 60).map(i => s"w$i") ++ stop
    def doc() = Seq.fill(5 + rnd.nextInt(11))(vocab(rnd.nextInt(vocab.size)))
    val a = Seq.fill(40)(doc())
    val copies = (0 until 12).map(i => rnd.shuffle(a(i)))
    val perturbed = (12 until 22).map(i => a(i).drop(2) :+ vocab(rnd.nextInt(60)))
    val fresh = Seq.fill(7)(doc())
    val lonely = Seq(Seq("zz0", "zz1", "zz1", "the"))
    (a, copies ++ perturbed ++ fresh ++ lonely, (0 until 22).map(i => (i, i)) :+ (39 -> 29))
  }
}

class ErPipelineSpec extends SparkTestBase {

  private lazy val er = ErFixture.pipeline(spark, ErFixture.a, ErFixture.b, ErFixture.gold)

  private def pairs(df: DataFrame): Map[(String, String), Double] =
    df.select("id_a", "id_b", "sim").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap

  private lazy val scalable = pairs(er.scalableSimilarities)

  test("scalable pairs are the naive strategy's nonzero pairs, sims within 1e-9") {
    val naive = pairs(er.naiveSimilarities)
    assert(naive.size == 40 * 30, "the naive strategy scores every pair")
    val nonzero = naive.filter(_._2 != 0.0)
    assert(scalable.keySet == nonzero.keySet)
    assert(scalable.forall { case (k, s) => math.abs(s - nonzero(k)) <= 1e-9 })
    assert(scalable.size == er.scalableSimilarities.count(), "one row per pair")
  }

  test("a B doc whose token bag equals its A source scores exactly 1.0") {
    (0 until 12).foreach(i => assert(scalable((s"a$i", s"b$i")) == 1.0, s"a$i/b$i"))
  }

  test("prfSweep equals a local brute force in every bin") {
    val gold = ErFixture.gold.map { case (i, j) => (s"a$i", s"b$j") }
    assert(!scalable.contains(gold.last), "the fixture holds a non-candidate gold pair")
    def bin(s: Double) = math.floor(s * 100).toInt
    val goldBins = gold.map(p => bin(scalable.getOrElse(p, 0.0)))
    val nonGoldBins = scalable.filter(kv => !gold.contains(kv._1)).values.map(bin).toSeq
    val sweep = ErEvaluation.prfSweep(er.scalableSimilarities, er.gold).collect()
    assert(sweep.map(_.getInt(0)).toSeq == (0 to 100))
    sweep.foreach { r =>
      val k = r.getInt(0)
      val tp = goldBins.count(_ >= k).toLong
      val fp = nonGoldBins.count(_ >= k).toLong
      val p = tp.toDouble / (tp + fp)
      val rc = tp.toDouble / gold.size
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((tp, fp, gold.size - tp)), s"bin $k")
      assert(r.getDouble(4) == p && r.getDouble(5) == rc, s"bin $k")
      assert(r.getDouble(6) == 2 * p * rc / (p + rc), s"bin $k")
    }
    assert(sweep(0).getLong(1) == gold.size, "every gold pair counts at threshold 0")
  }

  test("sweep edges: empty gold leaves recall NULL; disjoint catalogs leave precision NULL") {
    val noGold = ErEvaluation.prfSweep(er.scalableSimilarities, er.gold.limit(0)).collect()
    assert(noGold.length == 101 && noGold.forall(r => r.isNullAt(5) && r.isNullAt(6)))
    assert(noGold.forall(_.getLong(1) == 0L))
    val disjoint = ErFixture.pipeline(spark, Seq(Seq("red", "apple")),
      Seq(Seq("blue", "pear"), Seq("green")), Nil)
    assert(disjoint.scalableSimilarities.count() == 0)
    val sweep = ErEvaluation.prfSweep(disjoint.scalableSimilarities, disjoint.gold).collect()
    assert(sweep.length == 101)
    assert(sweep.forall(r => r.isNullAt(4) && r.getLong(2) == 0L && r.isNullAt(5)))
  }

  test("evaluateModel and goldSimilarities score absent gold pairs as expected") {
    val gs = pairs(ErEvaluation.goldSimilarities(er.scalableSimilarities, er.gold))
    assert(gs.size == ErFixture.gold.size)
    assert(gs(("a39", "b29")) == 0.0)
    assert(gs.forall { case (k, s) => s == scalable.getOrElse(k, 0.0) })
    val (dups, _, _) = ErEvaluation.evaluateModel(er.scalableSimilarities, er.gold)
    assert(dups == ErFixture.gold.size - 1)
  }

  test("selfCosinePairs is the a < b half of the two-sided kernel") {
    val w = er.amazonWeights
    val self = DocSimilarity.selfCosinePairs(w, er.amazonNorms, "id")
    val both = pairs(DocSimilarity.invertedIndexCosine(
      w.withColumnRenamed("id", "id_a"), er.amazonNorms.withColumnRenamed("id", "id_a"),
      w.withColumnRenamed("id", "id_b"), er.amazonNorms.withColumnRenamed("id", "id_b"),
      "id_a", "id_b"))
    val got = pairs(self)
    assert(got.keySet == both.keySet.filter { case (x, y) => x < y })
    assert(got.forall { case (k, s) => s == both(k) })
    assert((0 until 40).forall(i => both((s"a$i", s"a$i")) == 1.0), "self-similarity is 1.0")
  }

  test("sims are bit-equal across shuffle partitions, AQE and input partitioning") {
    def bits(m: Map[(String, String), Double]) = m.map { case (k, s) =>
      k -> java.lang.Double.doubleToRawLongBits(s) }
    val ref = bits(scalable)
    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(k => k -> conf.get(k))
    def rerun(n: Option[Int]): Map[(String, String), Double] = {
      def side(w: DataFrame, id: String) = {
        val r = w.withColumnRenamed("id", id)
        n.fold(r)(r.repartition(_))
      }
      pairs(DocSimilarity.invertedIndexCosine(
        side(er.amazonWeights, "id_a"), er.amazonNorms.withColumnRenamed("id", "id_a"),
        side(er.googleWeights, "id_b"), er.googleNorms.withColumnRenamed("id", "id_b"),
        "id_a", "id_b"))
    }
    try {
      for (parts <- Seq("1", "7"); aqe <- Seq("true", "false"); input <- Seq(None, Some(1), Some(8))) {
        conf.set("spark.sql.shuffle.partitions", parts)
        conf.set("spark.sql.adaptive.enabled", aqe)
        assert(bits(rerun(input)) == ref, s"partitions=$parts aqe=$aqe input=$input")
      }
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }
}
