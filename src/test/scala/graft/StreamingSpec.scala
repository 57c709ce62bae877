package graft

import graft.streaming.{EventStreams, UserEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured-Streaming semantics: the same transformations run on a
  * MemoryStream across micro-batches and must agree with their batch
  * equivalents; watermarks must close (emit) windows and drop state.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  private val batch1 = Seq(
    UserEvent(ts(5), 1L, "click", 1.00),
    UserEvent(ts(10), 1L, "click", 2.50),
    UserEvent(ts(20), 2L, "error", 0.25))
  private val batch2 = Seq(
    UserEvent(ts(62), 1L, "click", 4.00),   // next hour → advances watermark
    UserEvent(ts(200), 2L, "click", 8.00))  // far future → closes hour-1 windows

  test("tumbling hourly window: streaming (append, watermarked) matches batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      // watermark = max(ts) - 1h = t+140; windows ending ≤ t+140 emitted:
      // hour 0 (both event types) and hour 1
      val got = spark.table("hourly")
        .select("window_start", "event_type", "n", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val expected = Set(
        (ts(0), "click", 2L, 3.50),
        (ts(0), "error", 1L, 0.25),
        (ts(60), "click", 1L, 4.00))
      assert(got === expected)
      // and the emitted rows equal the batch run of the same transformation
      // on the same rows (restricted to closed windows)
      val batchRun = EventStreams.hourlyCounts((batch1 ++ batch2).toDF())
        .where(col("window_start") < ts(120))
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(got === batchRun)
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the time bound") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[UserEvent]
    val errors = MemoryStream[UserEvent]
    val q = EventStreams.joinEventsWithin(clicks.toDF(), errors.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("joined")
      .outputMode(OutputMode.Append())
      .start()
    try {
      clicks.addData(
        UserEvent(ts(5), 1L, "click", 1.0),
        UserEvent(ts(100), 1L, "click", 2.0),
        UserEvent(ts(10), 2L, "click", 3.0))
      errors.addData(
        UserEvent(ts(20), 1L, "error", 0.1),   // 15 min after user-1 click → match
        UserEvent(ts(50), 1L, "error", 0.2),   // 45 min after → outside bound
        UserEvent(ts(15), 3L, "error", 0.3))   // different user → no match
      q.processAllAvailable()
      // push watermarks forward so bounded state flushes
      clicks.addData(UserEvent(ts(500), 9L, "click", 0.0))
      errors.addData(UserEvent(ts(500), 9L, "error", 0.0))
      q.processAllAvailable()
      val got = spark.table("joined")
        .select("user_id", "l_ts", "r_ts")
        .as[(Long, Timestamp, Timestamp)].collect().toSet
      assert(got.contains((1L, ts(5), ts(20))), "in-window pair must join")
      assert(!got.exists(t => t._1 == 1L && t._3 == ts(50) && t._2 == ts(5)),
        "pair outside the interval must not join")
      assert(!got.exists(_._1 == 3L), "unmatched user must not appear")
      // batch equivalence on the same rows
      val batchGot = EventStreams.joinEventsWithin(
          Seq(UserEvent(ts(5), 1L, "click", 1.0), UserEvent(ts(100), 1L, "click", 2.0),
            UserEvent(ts(10), 2L, "click", 3.0)).toDF(),
          Seq(UserEvent(ts(20), 1L, "error", 0.1), UserEvent(ts(50), 1L, "error", 0.2),
            UserEvent(ts(15), 3L, "error", 0.3)).toDF())
        .select("user_id", "l_ts", "r_ts")
        .as[(Long, Timestamp, Timestamp)].collect().toSet
      assert(batchGot.subsetOf(got) || got.subsetOf(batchGot))
      assert(batchGot.contains((1L, ts(5), ts(20))))
    } finally q.stop()
  }

  test("watermarked streaming dedup keeps first occurrence of each key") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.dedupEvents(input.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch1 contains an exact duplicate row; batch2 re-sends one of
      // batch1's rows within the watermark horizon — all must dedup
      input.addData(batch1 :+ batch1.head: _*); q.processAllAvailable()
      input.addData(batch2 :+ batch1.head: _*); q.processAllAvailable()
      val got = spark.table("dedup")
        .select("ts", "user_id", "event_type")
        .as[(Timestamp, Long, String)].collect().toSeq
      assert(got.size === got.toSet.size, "no duplicate keys may survive")
      assert(got.toSet === (batch1 ++ batch2)
        .map(e => (e.ts, e.user_id, e.event_type)).toSet)
    } finally q.stop()
  }

  test("session windows: gap-merge in streaming matches batch semantics") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.userSessions(input.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // user 1: events at t5 and t10 (one session), then t62 (gap 52min → new session)
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("sessions")
        .select("user_id", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSet
      // watermark t200-30=t170 closes user-1 sessions (t5-t40, t62-t92)
      // and user-2's t20 session; user-2's t200 session is still open
      assert(got === Set((1L, 2L, 3.50), (1L, 1L, 4.00), (2L, 1L, 0.25)))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user totals across micro-batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      val after1 = spark.table("running")
        .as[(Long, Long, Long)].collect().toSet
      assert(after1 === Set((1L, 2L, 350L), (2L, 1L, 25L)))
      input.addData(batch2: _*); q.processAllAvailable()
      // update mode appends the refreshed state rows; latest per user wins
      val latest = spark.table("running")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_cents").as("c"))
        .as[(Long, Long, Long)].collect().toSet
      assert(latest === Set((1L, 3L, 750L), (2L, 2L, 825L)))
    } finally q.stop()
  }

  test("cents fold rounds HALF_UP like the batch oracle, not floor(x+0.5)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("neg_cents")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // a refund of -0.005: Spark round(-0.5) = -1 cent under HALF_UP;
      // math.round would give 0 and silently diverge from q84/q39
      input.addData(UserEvent(ts(1), 1L, "refund", -0.005)); q.processAllAvailable()
      val c = spark.table("neg_cents").select("total_cents").as[Long].collect().head
      assert(c === -1L)
    } finally q.stop()
  }

  test("round trip on real events: streamed hourlyCounts equals the oracle-checked q14 result") {
    implicit val ctx = spark.sqlContext
    val dir = sf("sf0.001")
    val rows = Tables.events(spark, dir)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .as[UserEvent].collect().toSeq
    val input = MemoryStream[UserEvent]
    val q = EventStreams.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("rt_hourly")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(rows: _*); q.processAllAvailable()
      // a far-future sentinel pushes the watermark past every real
      // window so append mode emits all of them
      val maxTs = rows.map(_.ts.getTime).max
      input.addData(UserEvent(new Timestamp(maxTs + 10L * 3600 * 1000), 0L, "sentinel", 0.0))
      q.processAllAvailable()
      val got = spark.table("rt_hourly")
        .where(col("event_type") =!= "sentinel")
        .select(col("window_start").cast("long").as("hour_epoch"),
          col("event_type"), col("n"), col("sum_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      // q14 is the DuckDB-oracle-checked batch analogue on the same table
      val want = SparkEntry.queries("q14_hourly_window")(spark, dir)
        .as[(Long, String, Long, Double)].collect().toSet
      assert(got === want)
    } finally q.stop()
  }

  test("round trip on real events: streamed madOutliers equals the oracle-checked q111 result") {
    implicit val ctx = spark.sqlContext
    val dir = sf("sf0.001")
    // "train" the stats table with the batch q111 medians — in CENTS,
    // exactly what the serving join expects
    val c = Tables.events(spark, dir)
      .select(col("event_type"), QueryDef.cents(col("value")).as("cv"))
    val med = c.groupBy("event_type").agg(expr("percentile(cv, 0.5)").as("med"))
    val stats = c.join(med, "event_type")
      .withColumn("adev", abs(col("cv") - col("med")))
      .groupBy("event_type").agg(first("med").as("med"),
        expr("percentile(adev, 0.5)").as("mad"))
    val rows = Tables.events(spark, dir)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .as[UserEvent].collect().toSeq
    val input = MemoryStream[UserEvent]
    val q = EventStreams.madOutliers(input.toDF(), stats)
      .writeStream.format("memory").queryName("rt_mad")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(rows: _*); q.processAllAvailable()
      val got = spark.table("rt_mad")
        .select("event_id", "event_type", "value", "median_value", "mad_value")
        .as[(Long, String, Double, Double, Double)].collect().toSet
      val want = SparkEntry.queries("q111_mad_outliers")(spark, dir)
        .select("event_id", "event_type", "value", "median_value", "mad_value")
        .as[(Long, String, Double, Double, Double)].collect().toSet
      assert(got === want)
      assert(got.nonEmpty, "fixture must actually flag outliers")
    } finally q.stop()
  }

  test("foreachBatch serving: streamed NB classification equals the q106 batch result") {
    implicit val ctx = spark.sqlContext
    val dir = sf("sf0.001")
    import graft.text.{NaiveBayes, Tokenize}
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        Tokenize.tokens(col("text"), graft.queries.TextQueries.Stop).as("tokens"))
    val documents = Tables.read(spark, dir, "documents")
    // fit ONCE on the labeled slice — the stored model then scores every
    // micro-batch without re-deriving the training pass
    val model = NaiveBayes.fit(
      toks(documents.where(col("doc_id") < 400))
        .join(documents.select("doc_id", "lang"), "doc_id"),
      "lang", "tokens")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]()
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = input.toDF().toDF("ts", "doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        NaiveBayes.predictWithModel(model, toks(batch), "tokens", "doc_id")
          .collect().foreach(r =>
            results.add((r.getLong(0), r.getString(1), r.getDouble(2))))
      }
      .start()
    try {
      val testDocs = documents.where(col("doc_id") >= 400)
        .select("doc_id", "text").as[(Long, String)].collect()
      // two micro-batches — the stored model must serve both identically
      val (b1, b2) = testDocs.splitAt(testDocs.length / 2)
      input.addData(b1.map { case (id, t) => (ts(1), id, t) }.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.map { case (id, t) => (ts(2), id, t) }.toSeq: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = results.asScala.toSet
      val want = SparkEntry.queries("q106_nb_classify")(spark, dir)
        .select("doc_id", "pred_lang", "score")
        .as[(Long, String, Double)].collect().toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("late rows behind the watermark are dropped; the batch run keeps them") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("late_hourly")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val fresh = UserEvent(ts(300), 1L, "click", 1.0)
      val late = UserEvent(ts(5), 1L, "click", 2.0)
      input.addData(fresh); q.processAllAvailable()
      // watermark is now t300 − 1h = t240; t5 is hours behind it
      input.addData(late); q.processAllAvailable()
      input.addData(UserEvent(ts(5000), 9L, "sentinel", 0.0)); q.processAllAvailable()
      val got = spark.table("late_hourly")
        .select(col("window_start").cast("long"), col("event_type"), col("n"))
        .as[(Long, String, Long)].collect().toSet
      assert(got.contains((300L * 60 / 3600 * 3600, "click", 1L)),
        "the fresh event's window must emit")
      assert(!got.exists(_._1 == 0L), "the late event's hour-0 window must NOT emit")
      // batch semantics have no arrival order — the same rows all count
      val batchRun = EventStreams.hourlyCounts(Seq(fresh, late).toDF())
        .select(col("window_start").cast("long"))
        .as[Long].collect().toSet
      assert(batchRun.contains(0L), "batch keeps the row streaming dropped as late")
    } finally q.stop()
  }

  test("streaming content dedup: same token bag dedups, first arrival wins") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.dedupDocsByContent(
        input.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("docdedup")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (ts(1), 1L, "big data spark engine"),
        (ts(2), 2L, "engine spark DATA big big"),  // same bag → dup of 1
        (ts(3), 3L, "totally different words"))
      q.processAllAvailable()
      input.addData((ts(10), 4L, "spark big engine data")) // re-sent bag, later batch
      q.processAllAvailable()
      val got = spark.table("docdedup").select("doc_id")
        .as[Long].collect().toSet
      assert(got === Set(1L, 3L), s"only first arrivals may survive, got $got")
    } finally q.stop()
  }

  test("streaming admission rejects corpus dups and in-stream dups, admits novel docs") {
    implicit val ctx = spark.sqlContext
    // the stored index: one doc whose bag is "big data spark engine"
    val corpus = Seq((0L, "spark ENGINE big data")).toDF("doc_id", "text")
    val index = EventStreams.corpusFingerprints(corpus)
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.admitNewDocs(
        input.toDF().toDF("ts", "doc_id", "text"), index)
      .writeStream.format("memory").queryName("admit")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (ts(1), 1L, "big data spark engine"),     // bag matches the corpus → rejected
        (ts(2), 2L, "fresh novel document here"), // admitted
        (ts(3), 3L, "novel fresh here document")) // same bag as 2 → in-stream dup
      q.processAllAvailable()
      input.addData((ts(10), 4L, "another brand new one"))
      q.processAllAvailable()
      val got = spark.table("admit").select("doc_id").as[Long].collect().toSet
      assert(got === Set(2L, 4L), s"only novel first arrivals may land, got $got")
    } finally q.stop()
  }

  test("streaming OOV scoring against the stored vocab sketch, stateless") {
    implicit val ctx = spark.sqlContext
    // train the vocabulary from a batch corpus: tokens seen ≥ 2 times
    // ({big, data, spark} — "engine" and the others fall below)
    val corpus = Seq(
      (0L, "big data spark"), (1L, "big data spark engine"),
      (2L, "big data spark rules")).toDF("doc_id", "text")
    val sketch = EventStreams.vocabBloomSketch(corpus, minCount = 2)
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.oovScores(
        input.toDF().toDF("ts", "doc_id", "text"), sketch)
      .writeStream.format("memory").queryName("oov")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (ts(1), 10L, "big data spark"),            // fully in-vocab → 0/3
        (ts(2), 11L, "big unknown mystery words"), // 3 of 4 OOV
        (ts(3), 12L, "???"))                       // token-less → dropped
      q.processAllAvailable()
      val got = spark.table("oov")
        .select("doc_id", "n_tokens", "n_oov", "oov_rate")
        .as[(Long, Int, Int, Double)].collect().sortBy(_._1)
      assert(got === Seq((10L, 3, 0, 0.0), (11L, 4, 3, 0.75)))
    } finally q.stop()
  }

  test("streaming heavy-hitter flags against the stored count-min sketch, stateless") {
    implicit val ctx = spark.sqlContext
    // batch-build the frequency sketch: "data" ×3 and "spark" ×3 are
    // the hot tokens; everything else appears once
    val corpus = Seq(
      (0L, "data spark big"), (1L, "data spark engine"), (2L, "data spark rules"))
      .toDF("doc_id", "text")
    val sketch = graft.functions.CountMin.sketch(
        corpus.select(explode(graft.text.Tokenize.tokens(col("text"), Nil)).as("t")),
        col("t"), lit(1L), depth = 4, width = 4096)
      .localCheckpoint()
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = EventStreams.heavyHitterFlags(
        input.toDF().toDF("ts", "doc_id", "text"), sketch,
        threshold = 3L, depth = 4, width = 4096)
      .writeStream.format("memory").queryName("hot")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (ts(1), 10L, "spark data mystery"),     // spark + data flagged once each
        (ts(2), 11L, "spark spark spark"),      // distinct → ONE flag row
        (ts(3), 12L, "mystery words only"))     // nothing hot
      q.processAllAvailable()
      val got = spark.table("hot")
        .select("doc_id", "token", "cms_est")
        .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._2))
      assert(got === Seq((10L, "data", 3L), (10L, "spark", 3L), (11L, "spark", 3L)))
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch sketch; estimate is live") {
    implicit val ctx = spark.sqlContext
    import graft.functions.HyperLogLog
    val m = 64
    val input = MemoryStream[(String, String)]
    val q = EventStreams.liveDistinctRegisters(
        input.toDF().toDF("event_type", "item"),
        col("item"), Seq("event_type"), m)
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      // two overlapping micro-batches: 70 distinct click items total,
      // 25..40 re-delivered in batch 2 (idempotence under replay)
      val b1 = (1 to 40).map(i => ("click", s"user$i@2026-01-01"))
      val b2 = (25 to 70).map(i => ("click", s"user$i@2026-01-01")) :+
        ("view", "user1@2026-01-01")
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("hll_regs")
        .as[(String, Int, Int)].collect().toSet
      val batch = HyperLogLog.sketch((b1 ++ b2).toDF("event_type", "item"),
          col("item"), Seq("event_type"), m)
        .as[(String, Int, Int)].collect().toSet
      // incremental maintenance == batch rebuild, register for register
      assert(streamed === batch)
      // the live estimate is within the m=64 4-sigma band of truth (70)
      val est = HyperLogLog.estimate(spark.table("hll_regs"),
          Seq("event_type"), m)
        .where(col("event_type") === "click")
        .select("est").as[Double].head()
      assert(math.abs(est - 70.0) <= 70.0 * 0.52,
        s"live estimate $est outside 4-sigma of 70")
    } finally q.stop()
  }

  test("streaming histogram counters equal the batch sketch; quantile is live") {
    implicit val ctx = spark.sqlContext
    import graft.functions.BucketHistogram
    val width = 10L
    val input = MemoryStream[(String, Long)]
    val q = EventStreams.liveHistogramCounters(
        input.toDF().toDF("g", "cents"), col("cents"), Seq("g"), width)
      .writeStream.format("memory").queryName("hist_counters")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      // values straddle zero (floor-division buckets) across two batches
      val b1 = (-25L to 30L).map(v => ("a", v))
      val b2 = (10L to 55L).map(v => ("a", v)) :+ (("b", -7L))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("hist_counters")
        .as[(String, Long, Long)].collect().toSet
      val batch = BucketHistogram.sketch((b1 ++ b2).toDF("g", "cents"),
          col("cents"), Seq("g"), width)
        .as[(String, Long, Long)].collect().toSet
      assert(streamed === batch,
        "incremental counters must equal the batch rebuild, counter for counter")
      // live median off the running counters: 102 'a' values, qrank 51
      // → the 51st smallest (-25..30 then 10..55 → sorted multiset);
      // the true median bucket must carry the quantile guarantee
      // snapshot the live counters before the quantile read: quantiles
      // branches the relation (cumsum window + total agg) and the
      // memory-sink view can't be self-joined unmaterialized
      val med = BucketHistogram.quantiles(
          spark.table("hist_counters").localCheckpoint(), Seq("g"), Seq((1, 2)))
        .where(col("g") === "a")
        .select("bucket", "qrank").as[(Long, Long)].head()
      val sorted = (b1 ++ b2).filter(_._1 == "a").map(_._2).sorted
      val trueQ = sorted(med._2.toInt - 1)
      assert(trueQ >= med._1 * width && trueQ < (med._1 + 1) * width,
        s"live median $trueQ outside bucket [${med._1 * width}, ${(med._1 + 1) * width})")
    } finally q.stop()
  }

  test("streaming LOG histogram counters equal the batch sketch; p95 is live") {
    implicit val ctx = spark.sqlContext
    import graft.functions.BucketHistogram
    val s8 = 8
    val input = MemoryStream[(String, Long)]
    val q = EventStreams.liveLogHistogramCounters(
        input.toDF().toDF("g", "cents"), col("cents"), Seq("g"), s8)
      .writeStream.format("memory").queryName("log_hist_counters")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      // 4 decades of spread plus zero and negatives across two batches
      val b1 = (1L to 60L).map(v => ("a", v * v * v)) :+ (("a", 0L))
      val b2 = (1L to 40L).map(v => ("a", v * 17L)) :+ (("b", -12345L))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("log_hist_counters")
        .as[(String, Long, Long)].collect().toSet
      val batch = BucketHistogram.logSketch((b1 ++ b2).toDF("g", "cents"),
          col("cents"), Seq("g"), s8)
        .as[(String, Long, Long)].collect().toSet
      assert(streamed === batch,
        "incremental log counters must equal the batch rebuild")
      val p95 = BucketHistogram.quantiles(
          spark.table("log_hist_counters").localCheckpoint(), Seq("g"),
          Seq((19, 20)))
        .where(col("g") === "a")
        .select("bucket", "qrank").as[(Long, Long)].head()
      val sorted = (b1 ++ b2).filter(_._1 == "a").map(_._2).sorted
      val trueQ = sorted(p95._2.toInt - 1)
      // the true p95 must land in the reported bucket, and the bucket's
      // relative width must be within the 1/s contract
      val (lo, hi) = (BucketHistogram.logBucketEdgesExpr("bucket", s8)._1,
        BucketHistogram.logBucketEdgesExpr("bucket", s8)._2)
      val (loV, hiV) = Seq(p95._1).toDF("bucket")
        .select(lo.as("lo"), hi.as("hi")).as[(Long, Long)].head()
      assert(trueQ >= loV && trueQ < hiV,
        s"live p95 $trueQ outside bucket [$loV, $hiV)")
      assert((hiV - loV) * s8 <= loV + s8, "relative-width contract broken")
    } finally q.stop()
  }

  test("stateless perceptual collision screen flags near-dups of the stored corpus only") {
    implicit val ctx = spark.sqlContext
    import graft.multimodal.Multimodal
    // stored corpus: audio fingerprints of groups 0..19, variant 0
    def hashOf(g: Long, v: Int): Long = {
      val n = (((g * 7) % 6).toInt + 2) * 60
      Multimodal.audioSignHash56(Multimodal.variantWavBytes(g, v, n, 8000))
    }
    val index = Multimodal.bandedIndex(
      (0L until 20L).map(g => (g, hashOf(g, 0))).toDF("id", "hsh"), "id", "hsh")
    val input = MemoryStream[(Long, Long)]
    val q = EventStreams.perceptualCollisions(
        input.toDF().toDF("item_id", "ahash"), "item_id", "ahash", index, 6)
      .writeStream.format("memory").queryName("perc_collisions")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // arriving items: 100+g = near-dup variant of stored group g (g<20),
      // 200+g = genuinely novel groups (g >= 100)
      val arrivals = (0L until 20L).map(g => (100L + g, hashOf(g, 2))) ++
        (0L until 20L).map(g => (200L + g, hashOf(100L + g, 0)))
      input.addData(arrivals: _*); q.processAllAvailable()
      val hits = spark.table("perc_collisions")
        .select("id", "matched_id").distinct()
        .as[(Long, Long)].collect().toSet
      assert(hits === (0L until 20L).map(g => (100L + g, g)).toSet,
        "every stored-group variant flagged against exactly its group; novel items silent")
      // no streaming state: the plan must carry no stateful operator
      val lastProgress = q.lastProgress
      assert(lastProgress.stateOperators.isEmpty,
        "collision screen must be stateless (no state store operators)")
    } finally q.stop()
  }

  test("KS drift read straight off live histogram counters equals the bucketed batch test") {
    implicit val ctx = spark.sqlContext
    val width = 10L
    val input = MemoryStream[(String, Long)]
    val q = EventStreams.liveHistogramCounters(
        input.toDF().toDF("g", "cents"), col("cents"), Seq("g"), width)
      .writeStream.format("memory").queryName("drift_counters")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      // 'a' drifts upward in batch 2; 'b' and 'c' stay put (the third
      // group breaks the two-group symmetry KS(a vs rest) = KS(b vs rest))
      val b1 = Seq("a", "b", "c").flatMap(g => (0L to 40L).map(v => (g, v)))
      val b2 = (60L to 99L).map(v => ("a", v)) ++
        Seq("b", "c").flatMap(g => (0L to 39L).map(v => (g, v)))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // the monitor reads KS off the BOUNDED counter state — no raw
      // rows are ever re-expanded (the weighted form)
      val live = graft.operators.KsTest.perGroupVsRestWeighted(
          spark.table("drift_counters").localCheckpoint(), "g", "bucket", "n")
        .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
      // ground truth: the same bucketed KS from the raw batch rows
      val want = graft.operators.KsTest.perGroupVsRest(
          (b1 ++ b2).toDF("g", "cents")
            .select(col("g"), expr(s"(cents - pmod(cents, $width)) div $width").as("v")),
          "g", "v")
        .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
      assert(live === want,
        "drift off live counters must equal the bucketed batch statistic exactly")
      assert(live("a")._2 > live("b")._2,
        "the drifted group must carry the larger statistic")
    } finally q.stop()
  }

  test("MAD outlier fences read off live histogram counters equal the batch fences") {
    implicit val ctx = spark.sqlContext
    val width = 10L
    val input = MemoryStream[(String, Long)]
    val q = EventStreams.liveHistogramCounters(
        input.toDF().toDF("g", "cents"), col("cents"), Seq("g"), width)
      .writeStream.format("memory").queryName("mad_counters")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      // a tight cluster plus far excursions so the fence actually fires
      val b1 = (0L to 50L).map(v => ("a", v)) :+ (("a", 900L))
      val b2 = (10L to 60L).map(v => ("a", v)) :+ (("a", -800L)) :+ (("b", 5L))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // the monitor reads Hampel fences off the BOUNDED counter state —
      // the q202 batch operator applied verbatim to live state rows
      val live = graft.operators.RobustStats.madOutliers(
          spark.table("mad_counters").localCheckpoint()
            .select(col("g"), col("bucket").cast("double").as("v"), col("n").as("cnt")),
          Seq("g"), "v", "cnt")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
      val want = graft.operators.RobustStats.madOutliers(
          (b1 ++ b2).toDF("g", "cents")
            .select(col("g"),
              expr(s"cast((cents - pmod(cents, $width)) div $width as double)").as("v"))
            .groupBy("g", "v").agg(count(lit(1)).as("cnt")),
          Seq("g"), "v", "cnt")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
      assert(live === want,
        "fences off live counters must equal the batch bucketed fences exactly")
      assert(live("a")._4 === 2L, "both excursions must be outside the fence")
    } finally q.stop()
  }

  test("PSI read off live histogram counters equals the batch computation") {
    implicit val ctx = spark.sqlContext
    import graft.functions.BucketHistogram
    val width = 10L
    // reference: the training-time histogram (a static batch artifact);
    // current: LIVE counters over a drifted stream
    val refRows = (0L to 40L) ++ (0L to 40L)
    val curRows = (20L to 80L)
    val input = MemoryStream[(String, Long)]
    val q = EventStreams.liveHistogramCounters(
        input.toDF().toDF("g", "cents"), col("cents"), Seq("g"), width)
      .writeStream.format("memory").queryName("psi_counters")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(curRows.map(("x", _)): _*); q.processAllAvailable()
      val ref = BucketHistogram.sketch(refRows.toDF("cents"),
        col("cents"), Seq.empty, width).select(col("bucket"), col("n").as("n_ref"))
      def joined(cur: org.apache.spark.sql.DataFrame) = ref
        .join(cur.select(col("bucket"), col("n").as("n_cur")),
          Seq("bucket"), "full_outer")
        .na.fill(0L, Seq("n_ref", "n_cur"))
      val live = graft.operators.Psi.fromCounters(
          joined(spark.table("psi_counters").localCheckpoint().drop("g")),
          "bucket", "n_ref", "n_cur")
        .orderBy("bucket").collect().map(_.toSeq).toSeq
      val batch = graft.operators.Psi.fromCounters(
          joined(BucketHistogram.sketch(curRows.toDF("cents"),
            col("cents"), Seq.empty, width)),
          "bucket", "n_ref", "n_cur")
        .orderBy("bucket").collect().map(_.toSeq).toSeq
      assert(live === batch,
        "PSI off live counters must equal the batch computation row for row")
      // the planted drift is gross — the gate number must say ACT
      assert(live.head.last.asInstanceOf[Long] > 0 ||
        live.head(4).asInstanceOf[Double] > 0.25,
        "a 4-decile shift must clear the 0.25 action gate")
    } finally q.stop()
  }

  test("online rolling-spend feature equals the batch q210 window, cent for cent") {
    implicit val ctx = spark.sqlContext
    // 3-minute window so both inclusion and expiry happen inside the fixture
    val win = 3L * 60000000L
    val fixture = Seq(
      UserEvent(ts(1), 1L, "view", 1.00, 101L),
      UserEvent(ts(2), 1L, "click", 2.00, 102L),
      UserEvent(ts(2), 1L, "click", 4.00, 103L), // same-ts peer: excluded from 102's frame and vice versa
      UserEvent(ts(4), 1L, "purchase", 8.00, 104L), // ts(1) expired (4-3=1 not >= ... boundary)
      UserEvent(ts(9), 1L, "purchase", 0.50, 105L), // everything expired
      UserEvent(ts(2), 2L, "view", 7.00, 201L),
      UserEvent(ts(3), 2L, "purchase", 1.25, 202L))
    val input = MemoryStream[UserEvent]
    val q = EventStreams.pointInTimeSpend(input.toDS(), win)
      .writeStream.format("memory").queryName("online_spend")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // split MID-STREAM (in order per key): state must carry batch 1's
      // ledger into batch 2 for the result to match batch
      val (b1, b2) = fixture.partition(_.ts.getTime <= ts(2).getTime)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val online = spark.table("online_spend")
        .select("event_id", "spend_7d_cents").as[(Long, Long)].collect().toMap
      // ground truth: the exact q210 window over the same rows
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tu").rangeBetween(-win, -1L)
      val batch = fixture
        .map(e => (e.user_id, e.event_id, e.ts.getTime * 1000L,
          math.round(e.value * 100)))
        .toDF("user_id", "event_id", "tu", "cents")
        .withColumn("spend", coalesce(sum("cents").over(w), lit(0L)))
        .select("event_id", "spend").as[(Long, Long)].collect().toMap
      assert(online === batch,
        s"served features must equal the training join: $online vs $batch")
      // spot-check the geometry: 104 sees 102+103 (ts(1) aged out of [t-3m, t-1µs]? no — ts(1) is exactly t-3m, inclusive)
      assert(online(104L) === 700L, "frame [t-3m, t-1us] includes ts(1..3)")
      assert(online(105L) === 0L, "fully aged-out ledger serves 0")
      assert(online(103L) === 100L, "same-ts peer excluded from the frame")
    } finally q.stop()
  }

  test("stateless KMV audience routing matches the batch router, no state store") {
    implicit val ctx = spark.sqlContext
    import graft.functions.Kmv
    val k = 32
    // two stored audiences with disjoint shingle vocabularies
    val corpusA = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "beta gamma delta epsilon zeta eta theta iota")).toDF("doc_id", "text")
    val corpusB = Seq((3L, "one two three four five six seven eight"),
      (4L, "two three four five six seven eight nine")).toDF("doc_id", "text")
    def audSketch(c: org.apache.spark.sql.DataFrame) = Kmv.sketch(
        c.select(explode(graft.dedup.Dedup.wordShingles(
          graft.text.Tokenize.tokens(col("text"), Nil), 3)).as("item"))
          .withColumn("g", lit(1)),
        col("item"), Seq("g"), k)
      .select("kmv").as[Seq[Long]].head()
    val audiences = Seq(("greek", audSketch(corpusA)), ("numbers", audSketch(corpusB)))
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val routed = EventStreams.kmvAudienceRoute(
      input.toDF().toDF("doc_id", "ts", "text"), audiences, nGram = 3, k = k)
    // stateless ⇒ the query runs in APPEND mode with no watermark
    val q = routed.writeStream.format("memory").queryName("kmv_route")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      input.addData(
        (10L, t0, "gamma delta epsilon zeta eta"),       // clearly greek
        (11L, t0, "three four five six seven"),          // clearly numbers
        (12L, t0, "xx yy"))                              // no shingles → tie → min name
      q.processAllAvailable()
      val got = spark.table("kmv_route")
        .select("doc_id", "audience", "jaccard")
        .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
      assert(got.map(r => (r._1, r._2)) ===
        Seq((10L, "greek"), (11L, "numbers"), (12L, "greek")),
        s"routing must follow shingle resemblance (tie → smallest name); got $got")
      assert(got(0)._3 > 0.0 && got(1)._3 > 0.0 && got(2)._3 === 0.0)
      // the engine agrees the query is stateless: no state operators
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty,
        "router must run without a state store")
    } finally q.stop()
  }

  test("streaming KMV buffer equals the batch sketch under replay; estimate is live") {
    implicit val ctx = spark.sqlContext
    import graft.functions.Kmv
    val k = 16
    val input = MemoryStream[(String, String)]
    val q = EventStreams.liveKmvSketch(
        input.toDF().toDF("g", "item"), col("item"), Seq("g"), k)
      .writeStream.format("memory").queryName("kmv_buf")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      // items 20..35 re-delivered in batch 2: the DISTINCT insert must
      // leave the buffer identical to one delivery of each
      val b1 = (1 to 35).map(i => ("g", s"k$i"))
      val b2 = (20 to 60).map(i => ("g", s"k$i"))
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("kmv_buf")
        .as[(String, Seq[Long])].collect().toMap
      val batch = Kmv.sketch((b1 ++ b2).toDF("g", "item"),
          col("item"), Seq("g"), k)
        .as[(String, Seq[Long])].collect().toMap
      assert(streamed === batch,
        "incremental bottom-k must equal the batch rebuild, slot for slot")
      // live estimate within the k=16 4-sigma band of truth (60 distinct)
      val est = spark.table("kmv_buf")
        .select(Kmv.estimate(col("kmv"), k)).as[Double].head()
      assert(math.abs(est - 60.0) <= 60.0 * 4.0 / math.sqrt(k - 2.0),
        s"live estimate $est outside 4-sigma of 60")
    } finally q.stop()
  }

  test("hot-swap serving: a republished index goes live without stream restart") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.VectorStreams
    val root = tempDir("ivf-versions")
    // v1 corpus: only vector 1 near the x-axis
    val corpus1 = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val (i1, c1) = VectorStreams.buildIndex(
      corpus1, "vec_id", "embedding", col("vec_id").isin(1L, 2L))
    assert(VectorStreams.publishIndex(i1, c1, root) === 1)
    assert(VectorStreams.latestVersion(spark, root) === Some(1))

    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val results = scala.collection.mutable.Buffer.empty[(Long, Long, Int)] // (q_id, cand, version)
    val q = VectorStreams.retrieveHotSwap(
        input.toDF().toDF("ts", "q_id", "q_vec"), root, k = 1) { (df, _, v) =>
      results ++= df.select("q_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), v))
    }.start()
    try {
      input.addData((ts(1), 100L, Array(1.0f, 0.1f, 0.0f)))
      q.processAllAvailable()
      assert(results.toSeq === Seq((100L, 1L, 1)), "v1 serves corpus1's nearest")

      // REBUILD batch-side: vector 9 is now the x-axis nearest; publish v2.
      // The running stream must pick it up at the next micro-batch.
      val corpus2 = Seq(
        (1L, Array(1.0f, 0.0f, 0.0f)),
        (2L, Array(0.0f, 1.0f, 0.0f)),
        (9L, Array(1.0f, 0.1f, 0.0f))
      ).toDF("vec_id", "embedding")
      val (i2, c2) = VectorStreams.buildIndex(
        corpus2, "vec_id", "embedding", col("vec_id").isin(1L, 2L))
      assert(VectorStreams.publishIndex(i2, c2, root) === 2)

      input.addData((ts(2), 101L, Array(1.0f, 0.1f, 0.0f)))
      q.processAllAvailable()
      assert(results.toSeq.last === ((101L, 9L, 2)),
        s"the same query vector must now hit v2's new corpus member: $results")

      // a half-written v3 (no marker) must be invisible to the server
      i2.write.mode("overwrite").parquet(
        graft.operators.VersionedState.versionPath(root, 3L) + "/index")
      input.addData((ts(3), 102L, Array(1.0f, 0.1f, 0.0f)))
      q.processAllAvailable()
      assert(results.toSeq.last === ((102L, 9L, 2)),
        "an unmarked version directory must never be resolved")

      // a RACING second publisher (stale prev) is SURFACED, and the
      // committed v1/v2 survive untouched — the silent-clobber hazard
      // the pre-VersionedState _PUBLISHED marker carried
      val e = intercept[Exception] {
        graft.operators.VersionedState.commit(spark, root, Some(1L),
          label = "index") { vdir =>
          i1.write.mode("overwrite").parquet(s"$vdir/index")
        }
      }
      assert(e.getMessage.toLowerCase.contains("exist"),
        s"expected the racing publish to be refused, got: $e")
      assert(VectorStreams.latestVersion(spark, root) === Some(2))
      input.addData((ts(4), 103L, Array(1.0f, 0.1f, 0.0f)))
      q.processAllAvailable()
      assert(results.toSeq.last === ((103L, 9L, 2)),
        "serving must still resolve the intact v2 after the surfaced race")

      // publish v3: GC keeps retention 2 (v2 stays for in-flight
      // readers, v1's payload is reclaimed)
      assert(VectorStreams.publishIndex(i2, c2, root) === 3)
      assert(!new java.io.File(
        graft.operators.VersionedState.versionPath(root, 1L)).exists,
        "v1 must be GC'd at the v3 publish (retention 2)")
      assert(new java.io.File(
        graft.operators.VersionedState.versionPath(root, 2L)).exists,
        "v2 must survive the v3 publish (retention 2)")
    } finally q.stop()
  }

  test("streaming vector retrieval against the stored index matches the batch path") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.VectorStreams
    // corpus = the KnnSpec fixture; centroids {1 (x-axis), 2 (y-axis)}:
    // bucket 1 = {1, 3, 4} (vec 3 ties 0.707 → smaller centroid), bucket 2 = {2}
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 1.0f, 0.0f)),
      (4L, Array(2.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val (index, codebook) = VectorStreams.buildIndex(
      corpus, "vec_id", "embedding", col("vec_id").isin(1L, 2L))
    assert(codebook.map(_.id) === Seq(1L, 2L))
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val q = VectorStreams.retrieveStream(
        input.toDF().toDF("ts", "q_id", "q_vec"), index, codebook,
        k = 2, watermark = "10 minutes")
      .writeStream.format("memory").queryName("retrieve")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (ts(1), 100L, Array(1.0f, 0.1f, 0.0f)),  // ~x-axis → bucket 1
        (ts(2), 200L, Array(0.1f, 1.0f, 0.0f)))  // ~y-axis → bucket 2
      q.processAllAvailable()
      input.addData((ts(60), 300L, Array(1.0f, 0.0f, 0.0f))) // advances watermark
      q.processAllAvailable()
      val got = spark.table("retrieve")
        .select("q_id", "rk", "cand_id").as[(Long, Int, Long)].collect().toSet
      // query 100 probes bucket 1: colinear 1 and 4 tie → id order;
      // query 200 probes bucket 2: single member 2
      assert(got === Set((100L, 1, 1L), (100L, 2, 4L), (200L, 1, 2L)),
        s"got $got")
      // the streaming answer for query 100 = the batch two-table IVF answer
      val batch = graft.ann.Knn.ivfRetrieve(
          Seq((100L, Array(1.0f, 0.1f, 0.0f))).toDF("vec_id", "embedding"),
          corpus, "vec_id", "embedding", col("vec_id").isin(1L, 2L),
          k = 2, nprobe = 1)
        .select("q_id", "rk", "cand_id").as[(Long, Int, Long)].collect().toSet
      assert(got.filter(_._1 == 100L) === batch)
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits anomalies against the running per-user mean") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.valueAnomalies(input.toDS(), factor = 3L)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // user 1 baseline 1.0, then a 10x spike; user 2's first event is
      // huge but has no baseline → never anomalous
      input.addData(
        UserEvent(ts(1), 1L, "click", 1.0),
        UserEvent(ts(2), 1L, "click", 1.0),
        UserEvent(ts(3), 2L, "click", 500.0))
      q.processAllAvailable()
      input.addData(
        UserEvent(ts(4), 1L, "click", 10.0),   // > 3 × mean(1.0) → anomaly
        UserEvent(ts(5), 1L, "click", 1.2),    // below the bar
        UserEvent(ts(6), 2L, "click", 400.0))  // below 3 × 500 baseline
      q.processAllAvailable()
      val got = spark.table("anomalies")
        .select("user_id", "value").as[(Long, Double)].collect().toSet
      assert(got === Set((1L, 10.0)), s"exactly the spike must surface, got $got")
    } finally q.stop()
  }

  test("streaming CDC compaction: newer wins, late events are no-ops, tombstones resurrect") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = EventStreams.latestUserState(input.toDS())
      .writeStream.format("memory").queryName("cdc_state")
      .outputMode(OutputMode.Update())
      .start()
    def latest(): Map[Long, (Long, String, Boolean)] =
      spark.table("cdc_state")
        .groupBy("user_id")
        .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"),
          col("deleted"))).as("s"))
        .select("user_id", "s.event_id", "s.event_type", "s.deleted")
        .as[(Long, Long, String, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    try {
      input.addData(
        UserEvent(ts(10), 1L, "view", 1.0, event_id = 1L),
        UserEvent(ts(20), 2L, "click", 2.0, event_id = 2L))
      q.processAllAvailable()
      assert(latest() === Map(1L -> ((1L, "view", false)), 2L -> ((2L, "click", false))))
      // batch 2: a LATE event for user 1 (older ts — must be ignored),
      // a tombstone for user 2
      input.addData(
        UserEvent(ts(5), 1L, "purchase", 9.0, event_id = 3L),
        UserEvent(ts(30), 2L, "error", 0.0, event_id = 4L))
      q.processAllAvailable()
      assert(latest() === Map(1L -> ((1L, "view", false)), 2L -> ((4L, "error", true))))
      // batch 3: user 2 resurrects with a newer upsert
      input.addData(UserEvent(ts(40), 2L, "signup", 3.0, event_id = 5L))
      q.processAllAvailable()
      assert(latest()(2L) === ((5L, "signup", false)))
    } finally q.stop()
  }

  test("CDC TTL eviction: idle keys flush once with expired=true and restart fresh") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    // ttl = 10 minutes of event time
    val q = EventStreams.latestUserStateWithTtl(input.toDS(), ttlMicros = 600000000L)
      .writeStream.format("memory").queryName("cdc_ttl")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(UserEvent(ts(10), 1L, "view", 1.0, event_id = 1L))
      q.processAllAvailable()
      // user 2 at t100 pushes the watermark far past user 1's t10+10min
      input.addData(UserEvent(ts(100), 2L, "click", 2.0, event_id = 2L))
      q.processAllAvailable()
      // the eviction fires while processing the NEXT batch after the
      // watermark moves — poke once more
      input.addData(UserEvent(ts(101), 2L, "click", 2.5, event_id = 3L))
      q.processAllAvailable()
      val rows = spark.table("cdc_ttl")
        .select("user_id", "event_id", "expired")
        .as[(Long, Long, Boolean)].collect().toSeq
      assert(rows.contains((1L, 1L, true)), s"idle key must flush with expired=true, got $rows")
      assert(rows.count(r => r._1 == 1L && r._3) === 1, "exactly one flush per eviction")
      // a post-eviction event restarts user 1 from scratch (old state gone)
      input.addData(UserEvent(ts(102), 1L, "signup", 9.0, event_id = 4L))
      q.processAllAvailable()
      val after = spark.table("cdc_ttl")
        .where(col("user_id") === 1L && !col("expired"))
        .groupBy("user_id").agg(max(struct(col("ts_us"), col("event_id"))).as("s"))
        .select("s.event_id").as[Long].collect()
      assert(after.toSeq === Seq(4L))
    } finally q.stop()
  }

  test("round trip on real events: streamed latestUserState equals the oracle-checked q188 result") {
    implicit val ctx = spark.sqlContext
    val dir = sf("sf0.001")
    val rows = Tables.events(spark, dir)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .as[UserEvent].collect().toSeq
    val input = MemoryStream[UserEvent]
    val q = EventStreams.latestUserState(input.toDS())
      .writeStream.format("memory").queryName("rt_cdc")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // split the feed across two micro-batches to exercise cross-batch
      // state; compaction is arrival-order-insensitive so the final
      // state must still equal the batch argmax exactly
      val (b1, b2) = rows.splitAt(rows.size / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("rt_cdc")
        .groupBy("user_id")
        .agg(max(struct(col("ts_us"), col("event_id"), col("event_type"),
          col("value"), col("deleted"))).as("s"))
        .where(!col("s.deleted"))
        .select("user_id", "s.event_type", "s.value", "s.ts_us")
        .as[(Long, String, Double, Long)].collect().toSet
      val want = SparkEntry.queries("q188_cdc_compaction")(spark, dir)
        .as[(Long, String, Double, Long)].collect().toSet
      assert(got === want)
    } finally q.stop()
  }

  test("round trip on real events: streamed valueAnomalies equals the oracle-checked q84 result") {
    implicit val ctx = spark.sqlContext
    val dir = sf("sf0.001")
    val rows = Tables.events(spark, dir)
      .select("ts", "user_id", "event_type", "value", "event_id")
      .as[UserEvent].collect().toSeq
    val input = MemoryStream[UserEvent]
    val q = EventStreams.valueAnomalies(input.toDS(), factor = 3L)
      .writeStream.format("memory").queryName("rt_anomalies")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // ONE micro-batch = one full (event-time µs, event_id) sort per
      // user — exactly the window order of the batch twin, including
      // same-timestamp ties broken by event_id
      input.addData(rows: _*); q.processAllAvailable()
      val got = spark.table("rt_anomalies").select("event_id")
        .as[Long].collect().toSet
      val want = SparkEntry.queries("q84_value_anomalies")(spark, dir)
        .select("event_id").as[Long].collect().toSet
      assert(got === want)
    } finally q.stop()
  }

  test("checkpoint restart: watermark state resumes, closed windows emit exactly once") {
    // the durability contract a production stream lives on: stop the
    // query, restart it against the SAME checkpoint, and (a) already-
    // emitted windows are not re-emitted, (b) state (open windows +
    // watermark) carries across the restart so later data closes the
    // windows opened before the stop
    val srcDir = tempDir("graft-src")
    val ckpt = tempDir("graft-ckpt")
    val schema = batch1.toDF().schema
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()

    def start() = EventStreams.hourlyCounts(
        spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select(col("window_start").cast("long"), col("event_type"), col("n"))
          .collect().foreach(r => emitted.add(
            (r.getLong(0), r.getString(1), r.getLong(2))))
      }
      .start()

    // the parquet file SOURCE watches top-level files, not directories:
    // stage each batch's part file in flat, like an ingest job would
    def land(rows: Seq[UserEvent], name: String): Unit = {
      val tmp = tempDir("graft-land")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, name))
    }

    // run 1: hour-0 events only — windows stay OPEN (no emission)
    land(batch1, "f1.parquet")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(emitted.isEmpty, "open windows must not emit before the watermark passes")

    // run 2, same checkpoint: far-future rows close the hour-0 windows.
    // If state had NOT survived the restart, hour-0 counts would be lost.
    land(batch2, "f2.parquet")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    import scala.jdk.CollectionConverters._
    val afterRestart = emitted.asScala.toSet
    assert(afterRestart.contains((0L, "click", 2L)),
      s"hour-0 click count opened before the stop must emit after restart: $afterRestart")
    assert(afterRestart.contains((0L, "error", 1L)))

    // run 3, same checkpoint, NO new data: nothing re-emits (exactly once)
    val before = emitted.size
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(emitted.size === before, "restart without new input must re-emit nothing")
  }

  test("file-source streaming: real events parquet through readStream") {
    val dir = sf("sf0.001")
    // events.ts is parquet TIMESTAMP(MICROS) without the UTC flag →
    // TIMESTAMP_NTZ; the UTC session cast matches Tables.events
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts", expr("cast(ts as timestamp)"))
      .select("ts", "user_id", "event_type", "value")
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("filestream")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("filestream")
        .agg(sum("n")).collect()(0).getLong(0)
      assert(streamed === 1000L)  // every event lands in exactly one window
    } finally q.stop()
  }

  test("live CUSUM monitor equals the oracle-checked q244 chart bit-for-bit") {
    implicit val ctx = spark.sqlContext
    val dir = sf("sf0.001")
    // the same daily counts q244 aggregates, collected as the stream feed
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
      .as[(String, Long, Long)].collect().sortBy(c => (c._2, c._1))
    // frozen reference stats per type, the exact power-sum formula on
    // the SAME doubles batch q244 derives them from
    val ref = daily.groupBy(_._1).map { case (t, rows) =>
      val n = rows.length.toDouble
      val s1 = rows.map(_._3).sum.toDouble
      val s2 = rows.map(r => r._3 * r._3).sum.toDouble
      t -> (s1 / n, math.sqrt((s2 - s1 * s1 / n) / n))
    }
    val input = MemoryStream[graft.streaming.DailyCount]
    val q = EventStreams.cusumMonitor(input.toDS(), ref)
      .writeStream.format("memory").queryName("cusum")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val (firstHalf, secondHalf) = daily.partition(_._2 < daily(daily.length / 2)._2)
      input.addData(firstHalf.map(c => graft.streaming.DailyCount(c._1, c._2, c._3)): _*)
      q.processAllAvailable()
      input.addData(secondHalf.map(c => graft.streaming.DailyCount(c._1, c._2, c._3)): _*)
      q.processAllAvailable()
      val streamed = spark.table("cusum")
        .select("event_type", "d", "x", "zm", "s_pos", "s_neg",
          "alarm_up", "alarm_down")
        .collect().map(_.toSeq).toSet
      val batch = SparkEntry.queries("q244_cusum")(spark, dir)
        .collect().map(_.toSeq).toSet
      assert(streamed === batch,
        "streamed Page recurrence must equal the batch closed form")
    } finally q.stop()
  }

  test("live mSPRT monitor equals the oracle-checked q257 p-sequence bit-for-bit") {
    implicit val ctx = spark.sqlContext
    val dir = sf("sf0.001")
    // derive the per-day two-arm increments INDEPENDENTLY of the q257
    // code path: per-user firsts driver-side, then day histograms over
    // the zero-filled calendar grid
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(expr("ts_us div 86400000000")).as("fe"),
        min(when(col("event_type") === "purchase",
          expr("ts_us div 86400000000"))).as("fp"))
      .select((conv(substring(md5(concat(lit("ms:"), col("user_id"))), 1, 1),
          16, 10).cast("long") % 2).as("arm"), col("fe"), col("fp"))
      .as[(Long, Long, Option[Long])].collect()
    val dom = Tables.events(spark, dir)
      .select(expr("ts_us div 86400000000").as("d"))
      .distinct().as[Long].collect().sorted
    val feed = dom.map { d =>
      graft.streaming.ArmDay("expA", d,
        ne_a = users.count(u => u._1 == 0 && u._2 == d),
        nc_a = users.count(u => u._1 == 0 && u._3.contains(d)),
        ne_b = users.count(u => u._1 == 1 && u._2 == d),
        nc_b = users.count(u => u._1 == 1 && u._3.contains(d)))
    }
    val input = MemoryStream[graft.streaming.ArmDay]
    val q = EventStreams.msprtMonitor(input.toDS())
      .writeStream.format("memory").queryName("msprt")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // two micro-batches so the cumulative state provably carries over
      val (h1, h2) = feed.splitAt(feed.length / 2)
      input.addData(h1: _*); q.processAllAvailable()
      input.addData(h2: _*); q.processAllAvailable()
      val streamed = spark.table("msprt")
        .select("d", "n_a", "c_a", "n_b", "c_b", "theta", "lambda",
          "p_always_valid", "reject")
        .collect().map(_.toSeq).toSet
      val batch = SparkEntry.queries("q257_msprt")(spark, dir)
        .collect().map(_.toSeq).toSet
      assert(streamed === batch,
        "streamed always-valid p-sequence must equal batch q257")
    } finally q.stop()
  }

  test("live NORMAL mSPRT monitor equals the oracle-checked q273 p-sequence bit-for-bit") {
    implicit val ctx = spark.sqlContext
    val dir = sf("sf0.001")
    // derive the per-day two-arm winsorized moments INDEPENDENTLY of
    // the q273 code path: per-(user, day) capped spends driver-side,
    // then daily (n, Σx, Σx²) per arm over the zero-filled grid
    val obs = Tables.events(spark, dir)
      .groupBy(col("user_id"), expr("ts_us div 86400000000").as("d"))
      .agg(least(coalesce(sum(when(col("event_type") === "purchase",
        QueryDef.cents(col("value")))).cast("long"), lit(0L)),
        lit(10000L)).as("x"))
      .select((conv(substring(md5(concat(lit("msn:"), col("user_id"))), 1, 1),
          16, 10).cast("long") % 2).as("arm"), col("d"), col("x"))
      .as[(Long, Long, Long)].collect()
    val dom = Tables.events(spark, dir)
      .select(expr("ts_us div 86400000000").as("d"))
      .distinct().as[Long].collect().sorted
    val feed = dom.map { d =>
      val a = obs.filter(o => o._1 == 0 && o._2 == d)
      val b = obs.filter(o => o._1 == 1 && o._2 == d)
      graft.streaming.ArmDayNorm("expA", d,
        n_a = a.length.toLong, s1_a = a.map(_._3).sum,
        s2_a = a.map(o => o._3 * o._3).sum,
        n_b = b.length.toLong, s1_b = b.map(_._3).sum,
        s2_b = b.map(o => o._3 * o._3).sum)
    }
    val input = MemoryStream[graft.streaming.ArmDayNorm]
    val q = EventStreams.msprtNormalMonitor(input.toDS())
      .writeStream.format("memory").queryName("msprt_norm")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // two micro-batches so the cumulative state provably carries over
      val (h1, h2) = feed.splitAt(feed.length / 2)
      input.addData(h1: _*); q.processAllAvailable()
      input.addData(h2: _*); q.processAllAvailable()
      val streamed = spark.table("msprt_norm")
        .select("d", "n_a", "s1_a", "n_b", "s1_b", "theta", "lambda",
          "p_always_valid", "reject")
        .collect().map(_.toSeq).toSet
      val batch = SparkEntry.queries("q273_msprt_normal")(spark, dir)
        .collect().map(_.toSeq).toSet
      assert(streamed === batch,
        "streamed always-valid p-sequence must equal batch q273")
    } finally q.stop()
  }

  test("normal mSPRT monitor drops late days and isolates experiments") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[graft.streaming.ArmDayNorm]
    val q = EventStreams.msprtNormalMonitor(input.toDS())
      .writeStream.format("memory").queryName("msprt_norm_edge")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // expA: strong persistent lift; expB: perfect null (identical
      // arms, nonzero variance)
      input.addData(
        graft.streaming.ArmDayNorm("expA", 1L, 50L, 1000L, 300000L,
          50L, 9000L, 2500000L),
        graft.streaming.ArmDayNorm("expB", 1L, 50L, 1000L, 300000L,
          50L, 1000L, 300000L))
      q.processAllAvailable()
      input.addData(
        graft.streaming.ArmDayNorm("expA", 1L, 999L, 9L, 9L, 9L, 9L, 9L), // late → dropped
        graft.streaming.ArmDayNorm("expA", 2L, 50L, 1000L, 300000L,
          50L, 9000L, 2500000L),
        graft.streaming.ArmDayNorm("expB", 2L, 50L, 1000L, 300000L,
          50L, 1000L, 300000L))
      q.processAllAvailable()
      val got = spark.table("msprt_norm_edge")
        .as[graft.streaming.MsprtNormPoint].collect()
      val a = got.filter(_.exp == "expA").sortBy(_.d)
      val b = got.filter(_.exp == "expB").sortBy(_.d)
      assert(a.map(_.d).toSeq === Seq(1L, 2L), "late day must be dropped")
      assert(a.map(_.n_a).toSeq === Seq(50L, 100L),
        "cumulative counts must ignore the late replay")
      assert(a.map(_.p_always_valid).sliding(2).forall(w => w(1) <= w(0)),
        s"p-sequence rose: ${a.map(_.p_always_valid).toSeq}")
      assert(a.last.reject,
        s"the strong persistent lift must reject: p=${a.last.p_always_valid}")
      assert(!b.last.reject && b.last.p_always_valid === 1.0,
        s"the perfect null must not be dragged down by expA's state: " +
          s"p=${b.last.p_always_valid}")
    } finally q.stop()
  }

  test("mSPRT monitor drops late days; p-sequence never rises") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[graft.streaming.ArmDay]
    val q = EventStreams.msprtMonitor(input.toDS())
      .writeStream.format("memory").queryName("msprt_late")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        graft.streaming.ArmDay("e", 1L, 50L, 5L, 50L, 20L),
        graft.streaming.ArmDay("e", 2L, 50L, 5L, 50L, 20L))
      q.processAllAvailable()
      input.addData(
        graft.streaming.ArmDay("e", 2L, 999L, 999L, 999L, 999L), // late → dropped
        graft.streaming.ArmDay("e", 3L, 50L, 5L, 50L, 20L))
      q.processAllAvailable()
      val got = spark.table("msprt_late")
        .as[graft.streaming.MsprtPoint].collect().sortBy(_.d)
      assert(got.map(_.d).toSeq === Seq(1L, 2L, 3L), "late day must be dropped")
      assert(got.map(_.n_a).toSeq === Seq(50L, 100L, 150L),
        "cumulative counts must ignore the late replay")
      // always-valid p is a running min: monotone non-increasing
      assert(got.map(_.p_always_valid).sliding(2).forall(w => w(1) <= w(0)),
        s"p-sequence rose: ${got.map(_.p_always_valid).toSeq}")
      // a strong persistent effect should eventually reject
      assert(got.last.reject, s"expected rejection, p=${got.last.p_always_valid}")
    } finally q.stop()
  }

  test("mSPRT monitor isolates concurrent experiments' state by key") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[graft.streaming.ArmDay]
    val q = EventStreams.msprtMonitor(input.toDS())
      .writeStream.format("memory").queryName("msprt_multi")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // expA: strong effect; expB: perfect null — interleaved arrivals
      input.addData(
        graft.streaming.ArmDay("expA", 1L, 80L, 8L, 80L, 40L),
        graft.streaming.ArmDay("expB", 1L, 80L, 20L, 80L, 20L))
      q.processAllAvailable()
      input.addData(
        graft.streaming.ArmDay("expB", 2L, 80L, 20L, 80L, 20L),
        graft.streaming.ArmDay("expA", 2L, 80L, 8L, 80L, 40L))
      q.processAllAvailable()
      val got = spark.table("msprt_multi")
        .as[graft.streaming.MsprtPoint].collect()
      val a = got.filter(_.exp == "expA").sortBy(_.d)
      val b = got.filter(_.exp == "expB").sortBy(_.d)
      assert(a.map(_.n_a).toSeq === Seq(80L, 160L)
        && b.map(_.n_a).toSeq === Seq(80L, 160L),
        "each experiment accumulates its own counts")
      assert(a.last.reject, s"the strong effect must reject: p=${a.last.p_always_valid}")
      assert(!b.last.reject && b.last.p_always_valid === 1.0,
        s"the perfect null must not be dragged down by expA's state: " +
          s"p=${b.last.p_always_valid}")
    } finally q.stop()
  }

  test("CUSUM monitor drops late days and unknown types") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[graft.streaming.DailyCount]
    val q = EventStreams.cusumMonitor(input.toDS(),
        Map("a" -> (10.0, 2.0)))
      .writeStream.format("memory").queryName("cusum_late")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(graft.streaming.DailyCount("a", 5L, 12L),
        graft.streaming.DailyCount("b", 5L, 12L)) // b: no reference → unscored
      q.processAllAvailable()
      input.addData(graft.streaming.DailyCount("a", 4L, 99L), // late → dropped
        graft.streaming.DailyCount("a", 6L, 14L))
      q.processAllAvailable()
      val got = spark.table("cusum_late")
        .as[graft.streaming.ChartPoint].collect().sortBy(_.d)
      assert(got.map(_.event_type).toSet === Set("a"))
      assert(got.map(_.d).toSeq === Seq(5L, 6L))
      // replay: z(5) = 1e6, z(6) = 2e6; S⁺ = 0.5 then 2.0
      assert(got.map(_.s_pos).toSeq === Seq(0.5, 2.0))
    } finally q.stop()
  }
}
