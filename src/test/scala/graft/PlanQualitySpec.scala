package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

/** Physical-plan properties that make these pipelines survive a 100 TB
  * scale-up: filters reach the parquet scan, scans prune to the needed
  * columns, small dimension tables broadcast, and similarity queries
  * never degenerate to cartesian products. Locked in as tests so a
  * refactor that silently loses a pushdown fails CI, not the cluster.
  */
class PlanQualitySpec extends SparkTestBase {

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf("sf0.001"))

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan
  }

  /** EVERY executed plan a query runs — `localCheckpoint`
    * materialization jobs included. The final
    * `queryExecution.executedPlan` truncates at each checkpoint (the
    * checkpointed relation appears as a leaf ScanExistingRDD), so a
    * sweep over only the final plan is blind to everything upstream
    * of the repo's ~156 checkpoint call sites — q228's global
    * mixture-rank window was invisible to round 8's sweep exactly
    * this way. `Dataset.localCheckpoint` runs through `withAction`,
    * which notifies QueryExecutionListener like any other action, so
    * registering a capture listener for the duration of the query
    * sees every plan. Delivery is async on the shared listener bus —
    * drain it (via the org.apache.spark test shim) before reading.
    */
  private def allExecutedPlans(name: String): Seq[SparkPlan] = {
    val captured = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // drain stragglers from PRIOR queries so they can't bleed into
    // this query's capture buffer
    org.apache.spark.graftaccess.ListenerBusAccess
      .waitUntilListenerBusEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      df.collect()
      org.apache.spark.graftaccess.ListenerBusAccess
        .waitUntilListenerBusEmpty(spark.sparkContext)
      val finalPlan = df.queryExecution.executedPlan
      (captured.synchronized(captured.toVector) :+ finalPlan)
        .flatMap(collectAll)
    } finally spark.listenerManager.unregister(listener)
  }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = p match {
    // AQE wraps materialized stages in leaf nodes — traverse through them
    case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      Seq(s) ++ collectAll(s.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      Seq(r) ++ collectAll(r.child)
    case other =>
      Seq(other) ++ other.children.flatMap(collectAll) ++
        other.subqueries.flatMap(collectAll)
  }

  test("q02: filters are pushed into the parquet scan, columns pruned") {
    val scans = collectAll(executed(q("q02_revenue_filter")))
      .filter(_.nodeName.contains("Scan")).map(_.toString)
    assert(scans.nonEmpty)
    val lineitemScan = scans.find(_.contains("lineitem")).get
    assert(lineitemScan.contains("PushedFilters: ["))
    assert(lineitemScan.contains("l_shipdate"), "shipdate filter must reach the scan")
    // projection pruning: the scan must NOT read all 11 lineitem columns
    assert(!lineitemScan.contains("l_returnflag"))
    assert(!lineitemScan.contains("l_orderkey"))
  }

  test("q08: the small part table broadcasts — fact side never shuffles for the join") {
    val plan = collectAll(executed(q("q08_broadcast_join")))
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false })
    assert(!plan.exists(_.nodeName.contains("SortMergeJoin")),
      "dim join must not sort-merge (would shuffle the fact table)")
  }

  test("q03: 3-way join keeps filters below the joins") {
    val plan = collectAll(executed(q("q03_top_orders")))
    val scans = plan.filter(_.nodeName.contains("Scan")).map(_.toString)
    assert(scans.exists(s => s.contains("orders") && s.contains("PushedFilters: [") &&
      s.contains("o_orderdate")))
    assert(scans.exists(s => s.contains("lineitem") && s.contains("l_shipdate")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q26 cosine pairs: inverted-index join, never a cartesian product") {
    val plan = collectAll(executed(q("q26_cosine_pairs")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "similarity must block on tokens, not enumerate all pairs")
  }

  /** Aggregates grouped by both pair ids: what the token-join
    * formulation of the cosine needed and the broadcast probe does not. */
  private def pairAggregates(plan: Seq[SparkPlan]): Seq[SparkPlan] = plan.collect {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      if Set("id_a", "id_b").subsetOf(a.groupingExpressions.flatMap(_.references.map(_.name)).toSet) => a
  }

  test("q26 and the ER scalable path: broadcast probe, no (id_a, id_b) aggregate, no pair shuffle") {
    val q26 = collectAll(executed(q("q26_cosine_pairs")))
    assert(pairAggregates(q26).isEmpty, "q26 must not aggregate pairs")
    assert(q26.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "the packed index must reach the probe as a broadcast")
    val er = ErFixture.pipeline(spark, ErFixture.a, ErFixture.b, ErFixture.gold)
    val sims = collectAll(executed(er.scalableSimilarities))
    assert(pairAggregates(sims).isEmpty, "scalableSimilarities must not aggregate pairs")
    val pairShuffles = sims.collect {
      case s: ShuffleExchangeExec if Set("id_a", "id_b").subsetOf(s.output.map(_.name).toSet) => s
    }
    assert(pairShuffles.isEmpty, s"no exchange may carry pair rows:\n${pairShuffles.mkString("\n")}")
  }

  test("q34 brute-force kNN: query side broadcasts; corpus is never shuffled") {
    val plan = collectAll(executed(q("q34_knn_brute")))
    // scoring phase = broadcast nested loop over the corpus; the only
    // shuffle allowed is the per-query top-k (window) on the small
    // scored output, never the full corpus scan side
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 2)
    assert(plan.exists(_.nodeName.contains("BroadcastNestedLoopJoin")))
  }

  test("q44 simhash: map-only pipeline — no shuffle except the final sort") {
    val plan = collectAll(executed(q("q44_simhash")))
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    // one range-partitioning exchange for the ORDER BY; signature
    // computation itself must stay map-side
    assert(shuffles.size <= 1)
  }

  test("q36 embedding near-dup: SRP-blocked — no cartesian, no nested-loop join") {
    // the all-pairs variant exists only as q62's bounded recall check;
    // the catalog path must block on SRP band buckets (equi-joins)
    val plan = collectAll(executed(q("q36_embedding_neardup")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "embedding near-dup must not enumerate all pairs")
    assert(!plan.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "embedding near-dup must not nested-loop join")
  }

  test("constructing a TF-IDF plan launches zero Spark jobs (lazy corpus count)") {
    // TfIdf.idf keeps N as a lazy broadcast scalar; an eager docs.count()
    // here would run a full corpus scan per TF-IDF query at 100 TB
    val sc = spark.sparkContext
    // read the source OUTSIDE the job group: parquet schema inference
    // legitimately runs a footer-read job; the claim under test is that
    // the TF-IDF operators themselves add no eager work on top of it
    val docs = Tables.read(spark, sf("sf0.001"), "documents")
    sc.setJobGroup("tfidf-construct", "plan construction must be lazy")
    try {
      val d = docs.select(org.apache.spark.sql.functions.col("doc_id"),
        text.Tokenize.tokens(org.apache.spark.sql.functions.col("text")).as("tokens"))
      val w = text.TfIdf.weights(d, "doc_id", "tokens")
      val n = text.TfIdf.norms(w, "doc_id")
      n.queryExecution.optimizedPlan // force analysis + optimization, no execution
      // the cosine kernels broadcast their index inside the query's own
      // execution: building and planning them runs nothing either
      def side(df: DataFrame, id: String) = df.withColumnRenamed("doc_id", id)
      Seq(
        similarity.DocSimilarity.invertedIndexCosine(side(w, "id_a"), side(n, "id_a"),
          side(w, "id_b"), side(n, "id_b"), "id_a", "id_b"),
        similarity.DocSimilarity.selfCosinePairs(w, n, "doc_id")
      ).foreach(_.queryExecution.executedPlan)
    } finally sc.clearJobGroup()
    Thread.sleep(300) // listener bus drains async
    assert(sc.statusTracker.getJobIdsForGroup("tfidf-construct").isEmpty,
      "TF-IDF and cosine plan construction must not launch jobs")
  }

  test("q67 decontamination: benchmark shingle set broadcasts; never a cartesian") {
    val plan = collectAll(executed(q("q67_decontaminate")))
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false },
      "the small eval shingle set must broadcast against the training side")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q66 PII scrub: scan reads only the referenced customer columns") {
    val scans = collectAll(executed(q("q66_pii_scrub")))
      .filter(_.nodeName.contains("Scan")).map(_.toString)
    val customerScan = scans.find(_.contains("customer")).get
    assert(customerScan.contains("c_name"))
    assert(!customerScan.contains("c_acctbal"), "unused columns must be pruned")
  }

  test("q64 IVF: corpus scored against the codebook once; window only over query rows") {
    // round-2 plan computed the corpus×codebook ranking twice (assignment
    // rank=1 and probes rank<=nprobe as two uncached window branches);
    // the fixed shape is one full-corpus pass into a max_by hash-agg,
    // with the only row_number window over the bounded query set and the
    // final top-k as the mergeable k-slot aggregator
    val plan = collectAll(executed(q("q64_ivf_nprobe2")))
    // exact match: WindowGroupLimit nodes (the rank<=n pushdown Spark
    // derives from this very window) also contain "Window"
    val windows = plan.filter(_.nodeName == "Window").distinct
    assert(windows.size == 1,
      s"expected only the probe-list window, got ${windows.size}")
    assert(plan.exists(_.toString.contains("max_by")),
      "candidate assignment must be the partial-aggregable max_by top-1")
    assert(plan.exists(_.nodeName.contains("ObjectHashAggregate")),
      "final top-k must be the mergeable k-slot aggregator, not a window")
  }

  test("q74 Bloom prefilter: sketch rides a scalar subquery, probe side filters map-side") {
    val plan = collectAll(executed(q("q74_decontaminate_bloom")))
    val filters = plan.filter(_.nodeName == "Filter").map(_.toString)
    assert(filters.exists(_.contains("might_contain")),
      "the Bloom membership test must be a Filter, not a join")
    // the exact join still runs after the prefilter (false-positive removal)
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false })
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
    assert(!plan.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "the sketch must NOT be distributed via a cross join")
  }

  test("q70 stratified sample: mergeable bottom-k, no window over the 3 strata") {
    // a row_number window partitioned by split would sort the whole
    // corpus on exactly 3 partitions at any scale; the k-slot aggregator
    // bounds per-task state to k rows per stratum
    val plan = collectAll(executed(q("q70_stratified_sample")))
    assert(!plan.exists(_.nodeName == "Window"),
      "stratified sampling must not rank via WindowExec")
    assert(plan.exists(_.nodeName.contains("ObjectHashAggregate")),
      "selection must be the mergeable k-slot aggregator")
  }

  test("q89 incremental dedup: band equi-joins only — no cartesian, no nested loop") {
    val plan = collectAll(executed(q("q89_incremental_dedup")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "fresh×corpus blocking must ride the band buckets, not enumerate pairs")
    assert(!plan.exists(_.nodeName.contains("BroadcastNestedLoopJoin")))
  }

  test("q91 kNN classification: majority vote is a hash agg, not a window") {
    val plan = collectAll(executed(q("q91_knn_classify")))
    // the only acceptable non-equi join is the broadcast of the bounded
    // query set inside cosineKnn; the vote itself must stay mergeable
    assert(plan.exists(_.toString.contains("max_by")),
      "vote must be the partial-aggregable max_by")
    assert(!plan.exists(_.nodeName == "Window"),
      "no window may rank the votes or the candidates")
  }

  test("q14 hourly window: partial aggregation before the shuffle") {
    val plan = collectAll(executed(q("q14_hourly_window")))
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_")),
      "map-side combine must run before the exchange")
  }

  test("q98 IVF retrieval: one probe window over queries; bucket join, mergeable top-k") {
    val plan = collectAll(executed(q("q98_ivf_retrieve")))
    val windows = plan.filter(_.nodeName == "Window").distinct
    assert(windows.size == 1,
      s"expected only the query probe-list window, got ${windows.size}")
    assert(plan.exists(_.toString.contains("max_by")),
      "corpus bucket assignment must be the partial-aggregable max_by top-1")
    assert(plan.exists(_.nodeName.contains("ObjectHashAggregate")),
      "final top-k must be the mergeable k-slot aggregator, not a window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "query×candidate scoring must ride the bucket equi-join")
  }

  test("q99 funnel: three hash aggs and user equi-joins — no window over events") {
    val plan = collectAll(executed(q("q99_funnel")))
    assert(!plan.exists(_.nodeName == "Window"),
      "stage ordering must come from min-aggregates + joins, not a window sort")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q96 keywords: per-doc top-3 is the mergeable k-slot aggregator, no window") {
    // a row_number window partitioned by doc_id would be correct but
    // sorts every doc's vocabulary through WindowExec partition chains;
    // the binary-id top-k aggregator keeps selection map-side partial
    val plan = collectAll(executed(q("q96_keywords")))
    assert(!plan.exists(_.nodeName == "Window"),
      "keyword selection must not rank via WindowExec")
    assert(plan.exists(_.nodeName.contains("ObjectHashAggregate")),
      "selection must be the mergeable k-slot aggregator")
  }

  test("q110/q113 grouped stats: one partial-agg pass, no window, no join") {
    for (name <- Seq("q110_grouped_moments", "q113_user_features")) {
      val plan = collectAll(executed(q(name)))
      assert(!plan.exists(_.nodeName == "Window"), s"$name must not window")
      assert(!plan.exists(_.nodeName.contains("Join")), s"$name must not join")
      val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
      assert(aggs.exists(_.contains("partial_")),
        s"$name must combine map-side before the shuffle")
    }
  }

  test("q106 NB classify: count tables join distributed; only label-sized tables broadcast") {
    val plan = collectAll(executed(q("q106_nb_classify")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the test-token × label expansion must ride the broadcast, not enumerate")
    // the (label, token) count join must NOT be nested-loop
    assert(!plan.exists(_.nodeName.contains("BroadcastNestedLoopJoin")))
  }

  test("q107 budget selection: the only per-doc window partitions by bucket") {
    val plan = collectAll(executed(q("q107_token_budget")))
    val windows = plan.filter(_.nodeName == "Window").map(_.toString).distinct
    // two windows exist: the ≤1001-row bucket cumsum (ordered by _bucket
    // DESC, no partition — bounded by construction) and the boundary-
    // bucket cumsum, which MUST carry the bucket partition key
    val perDoc = windows.filterNot(_.contains("_bucket#"))
    assert(perDoc.isEmpty || perDoc.forall(_.contains("partitionBy")),
      s"unexpected unpartitioned per-doc window:\n${perDoc.mkString("\n")}")
  }

  test("q109 span self-dedup: islands windows partition per doc") {
    val plan = collectAll(executed(q("q109_span_self_dedup")))
    val windows = plan.filter(_.nodeName == "Window").map(_.toString)
    assert(windows.nonEmpty)
    assert(windows.forall(_.contains("doc_id")),
      "every gaps-and-islands window must be bounded by one document")
  }

  test("q112 source overlap: shingle equi-join, never a cartesian over sources") {
    val plan = collectAll(executed(q("q112_source_overlap")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
    assert(!plan.exists(_.nodeName.contains("BroadcastNestedLoopJoin")))
  }

  test("q116 corpus build: composition stays cartesian-free; budget windows bucketed") {
    val plan = collectAll(executed(q("q116_corpus_build")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
    // BroadcastNestedLoopJoin IS expected here — it is the one-row
    // budget scalar riding crossJoin(broadcast(...)), the same shape as
    // q93/q94's corpus totals. What must NOT appear is a BNLJ between
    // two corpus-scale relations, which (absent a join condition) would
    // surface as CartesianProductExec — asserted above.
    val windows = plan.filter(_.nodeName == "Window").map(_.toString).distinct
    val perDoc = windows.filterNot(_.contains("_bucket#"))
    assert(perDoc.isEmpty,
      s"only BudgetSelect's bucket windows may appear:\n${perDoc.mkString("\n")}")
  }

  test("q129 weighted sample: mergeable k-slot selection, no window, no join") {
    val plan = collectAll(executed(q("q129_weighted_sample")))
    assert(!plan.exists(_.nodeName == "Window"),
      "per-source selection must not rank via WindowExec")
    assert(!plan.exists(_.nodeName.contains("Join")),
      "priority sampling is one pass — no join anywhere")
    assert(plan.exists(_.nodeName.contains("ObjectHashAggregate")),
      "selection must be the mergeable k-slot aggregator")
  }

  test("q131 semantic dedup: clustering blocks the pairs — no cartesian, codebook broadcasts") {
    val plan = collectAll(executed(q("q131_semantic_dedup")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "in-cluster pairing must be an equi-join on centroid_id, never all-pairs")
    // corpus×codebook scoring rides broadcast (the codebook is k rows);
    // the only shuffle-bearing joins key on vec_id / centroid_id
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false },
      "centroid scoring must broadcast the codebook")
    assert(!plan.exists(_.nodeName == "Window"),
      "assignment must be the max_by hash agg, not a ranking window")
  }

  test("q132 containment: inverted-index equi-join, never a cartesian") {
    val plan = collectAll(executed(q("q132_containment")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "only docs sharing a shingle may ever meet")
  }

  test("q133 OOV rate: vocab join reads aggregated (source, token) counts, not instances") {
    val plan = collectAll(executed(q("q133_oov_rate")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
    assert(!plan.exists(_.nodeName == "Window"), "q133 must not window")
    // the left-join's stream side must sit above the (source, tok) hash
    // agg — hot tokens are one row each by the time they reach the join
    val joins = plan.filter(_.nodeName.contains("Join"))
    assert(joins.nonEmpty)
    def subtree(p: SparkPlan): Seq[SparkPlan] = collectAll(p)
    assert(joins.exists(j => subtree(j).exists(n =>
        n.nodeName.contains("HashAggregate") && n.toString.contains("tok"))),
      "vocabulary join must consume pre-aggregated token counts")
  }

  test("q139 prefix Jaccard: prefix equi-joins only — no cartesian, no nested loop") {
    val plan = collectAll(executed(q("q139_jaccard_prefix")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "candidates must come from the prefix-shingle equi-join")
    assert(!plan.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "the size filter must ride the equi-join, not force a nested loop")
    // the one per-doc window (prefix ranking) must partition by doc
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.forall(_.toString.contains("doc_id")),
      "prefix ranking must be bounded per doc, never corpus-wide")
  }

  test("q140 triangles: closure probe is an equi-join membership test") {
    val plan = collectAll(executed(q("q140_triangles")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
    // the wedge→edge closure must be a semi join on (w_src, w_dst) —
    // a probe, not a fan-out
    assert(plan.exists(p => p.nodeName.contains("Join") &&
        p.toString.contains("LeftSemi")),
      "triangle closure must be a semi-join membership probe")
  }

  test("q144 z-order: row-group pruning engages on the NON-leading dimension") {
    // the ZOrderSpec file-concentration claim, promoted into the
    // executed-plan metrics layer: a value-only slice over the
    // z-ordered copy must SCAN (post row-group-stats pruning) far fewer
    // rows than the copy holds, while a user_id-sorted linear layout
    // scans essentially everything — min/max stats on `value` are
    // useless when every file spans the full value range
    val events = graft.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "value")
    val tmp = java.nio.file.Files.createTempDirectory("graft_zprune").toString
    val zDir = s"$tmp/z"
    val linDir = s"$tmp/lin"
    graft.sources.ZOrder.writeZOrdered(events, zDir, Seq("user_id", "value"), 16)
    events.repartitionByRange(16, org.apache.spark.sql.functions.col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(linDir)

    def scanned(dir: String): (Long, String) = {
      val df = spark.read.parquet(dir)
        .where(org.apache.spark.sql.functions.col("value") > 250.0)
      df.collect()
      val scan = collectAll(df.queryExecution.executedPlan).collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      (scan.metrics("numOutputRows").value, scan.toString)
    }
    val total = events.count()
    val (zRows, zScanStr) = scanned(zDir)
    val (linRows, _) = scanned(linDir)
    assert(zScanStr.contains("PushedFilters") && zScanStr.contains("value"),
      "the value predicate must reach the parquet scan")
    // (no absolute lower bound on linRows: the generator's per-user
    // value maxima vary, so even a user-sorted layout prunes SOME files
    // on a top-value slice — the layout claim is the relative one)
    assert(zRows < total / 2,
      s"z-order must let row-group stats prune a value slice: scanned $zRows of $total")
    assert(zRows < linRows / 2,
      s"z-ordered scan must beat linear by 2x+ on the non-leading dim: $zRows vs $linRows")
  }

  test("q130 winsorized mean: bounds broadcast back; no window over lineitem") {
    val plan = collectAll(executed(q("q130_winsorized_mean")))
    assert(!plan.exists(_.nodeName == "Window"),
      "winsorization is two hash aggs + a broadcast join — no window")
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false },
      "the 3-row bounds table must broadcast, not shuffle lineitem")
  }

  test("HLL sketch build (q148/q150): registers partial-aggregate before the shuffle") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    // the scale claim of the sketch family: each map task collapses to
    // <= m register rows BEFORE the exchange, so the shuffle moves
    // O(partitions*m) rows no matter how many items the corpus holds
    val li = graft.Tables.read(spark, sf("sf0.001"), "lineitem")
      .select(col("l_returnflag"),
        concat_ws("-", col("l_partkey"), col("l_suppkey")).as("item"))
    val plan = collectAll(executed(graft.functions.HyperLogLog
      .sketch(li, col("item"), Seq("l_returnflag"), 1024)))
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_max")),
      "register MAX must partial-aggregate map-side")
    assert(!plan.exists(_.nodeName == "Window"), "sketch build must not window")
  }

  test("q149 bigram LM: count tables pre-aggregate; only the 1-row vocab nested-loops") {
    val plan = collectAll(executed(q("q149_bigram_lm")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "scoring joins key on the bigram/prefix strings — never all-pairs")
    // the model tables reach the scoring joins as aggregated counts
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_count")),
      "count tables must partial-aggregate before their shuffle")
    // the only nested-loop join allowed is the broadcast of the 1-row
    // vocabulary size (a crossJoin by construction)
    val bnlj = plan.filter(_.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.size <= 1,
      s"only the vocab-size cross join may nested-loop, found ${bnlj.size}")
    assert(!plan.exists(_.nodeName == "Window"), "q149 must not window")
  }

  test("q150 HLL overlap: pair algebra is equi-joins over sketch-sized tables") {
    val plan = collectAll(executed(q("q150_hll_overlap")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "pair expansion must ride the tiny broadcast pair table, never a corpus cartesian")
    assert(!plan.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "all pair/register joins are equi-joins (the pair build itself is checkpointed)")
    assert(!plan.exists(_.nodeName == "Window"), "q150 must not window")
  }

  test("KMV sketch build (q153/q154): k-slot buffers partial-aggregate before the shuffle") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    // same scale claim as the HLL lock: each map task collapses to a
    // <= k-slot buffer BEFORE the exchange — the shuffle moves
    // O(partitions*k) longs, never the corpus's distinct hashes
    val li = graft.Tables.read(spark, sf("sf0.001"), "lineitem")
      .select(col("l_returnflag"),
        concat_ws("-", col("l_partkey"), col("l_suppkey")).as("item"))
    val plan = collectAll(executed(graft.functions.Kmv
      .sketch(li, col("item"), Seq("l_returnflag"), 2048)))
    val aggs = plan.filter(_.nodeName.contains("Aggregate")).map(_.toString.toLowerCase)
    // batch plan: relational (keys, h) dedup — itself partial-aggregated
    // map-side — then the heap buffer collapses each partition to ≤ k
    // slots before the final exchange
    assert(aggs.exists(a => a.contains("partial") && a.contains("bottomkheapaggregator")),
      s"KMV heap buffer must partial-aggregate map-side, found:\n${aggs.mkString("\n")}")
    assert(!plan.exists(_.nodeName == "Window"), "sketch build must not window")
  }

  test("q155 sketch panel: one corpus read feeds all three sketches; only the bounded counter window") {
    val plan = collectAll(executed(q("q155_sketch_panel")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "panel joins key on lang — never all-pairs")
    // the documents parquet is read once into the checkpointed token
    // table; exact count, HLL registers and the KMV buffer all consume
    // the one checkpointed shingle dedup — no scan may reach parquet
    val parquetScans = plan.count(p => p.nodeName.contains("Scan parquet"))
    assert(parquetScans === 0,
      s"corpus must flow through the checkpointed projections, found $parquetScans parquet scans")
    // the only window is the quantile cumsum over the counter table —
    // bounded by range/width per lang, never over documents
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.size <= 1, s"only the counter cumsum may window, found ${windows.size}")
  }

  test("q158 KMV routing: per-doc argmax is a map-side fold — no window, no cartesian") {
    val plan = collectAll(executed(q("q158_kmv_route")))
    assert(!plan.exists(_.nodeName == "Window"),
      "the audience argmax is an aggregate() fold over the bounded literal, never a per-doc window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "audiences ride as a literal array — no join fan-out at all")
    assert(!plan.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "routing must not join against an audience table; the artifact is a literal")
  }

  test("q154 KMV jaccard: pair algebra runs over 3 sketch rows, no corpus re-read") {
    val plan = collectAll(executed(q("q154_kmv_jaccard")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the 3x3 sketch pair join is flag-inequality over localCheckpointed " +
        "3-row sides — Spark plans it as a tiny BNLJ, never a corpus cartesian")
    assert(!plan.exists(_.nodeName == "Window"), "q154 must not window")
    // the exact-Jaccard ground truth joins ride the distinct item table,
    // which is materialized ONCE (localCheckpoint): the executed plan
    // must contain scans of the checkpoint RDD, not three parquet reads
    val parquetScans = plan.count(p => p.nodeName.contains("Scan parquet"))
    assert(parquetScans === 0,
      s"corpus must be read through the one checkpointed projection, found $parquetScans parquet scans")
  }

  test("q162 join-size estimator: corpus passes are map-side, no corpus self-join") {
    import org.apache.spark.sql.functions.col
    // the whole point of estimating BEFORE the shuffle: the estimator
    // itself must never pay a corpus-vs-corpus join. Every join over
    // the lineitem column is broadcast (θ row, ≤ k−1 sampled keys) and
    // the only aggregations over corpus-sized input partial-aggregate
    // to k-bounded buffers / sampled-key groups.
    val li = graft.Tables.read(spark, sf("sf0.001"), "lineitem")
      .select(col("l_partkey")).localCheckpoint()
    val plan = collectAll(executed(
      graft.functions.Kmv.joinSizeEst(li, li, "l_partkey", 64)))
    assert(!plan.exists(_.nodeName.contains("SortMergeJoin")),
      "no shuffle join anywhere in the estimator")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "no cartesian in the estimator")
    assert(!plan.exists(_.nodeName == "Window"), "estimator must not window")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_kmvaggregator")),
      "θ must come from a partial bottom-k aggregation, not a pre-shuffled distinct")
  }

  test("HyperBall round (q163): register MAX partial-aggregates; no window, no cartesian") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the ball-growth shuffle must move register-table rows (≤ m per
    // vertex after map-side MAX), never exploded ball members
    val regs = (1L to 50L).map(i => (i, (i % 64).toInt, 1))
      .toDF("id", "j", "mreg")
    val e = (1L to 49L).map(i => (i, i + 1))
    val edges = (e ++ e.map(_.swap)).toDF("src", "dst")
    val plan = collectAll(executed(graft.graph.HyperBall.step(edges, regs)))
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_max")),
      "round group-MAX must partial-aggregate map-side")
    assert(!plan.exists(_.nodeName == "Window"), "HyperBall must not window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
    // and the full run introduces no window/cartesian either
    val full = collectAll(executed(graft.graph.HyperBall.run(
      (1L to 50L).toDF("id"), "id", edges, rounds = 2, m = 64)))
    assert(!full.exists(_.nodeName == "Window"))
    assert(!full.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q165 weighted sample: mergeable k-slot selection — no per-source window; winners broadcast back") {
    val plan = collectAll(executed(q("q165_weighted_sample")))
    assert(!plan.exists(_.nodeName == "Window"),
      "selection must be the k-slot aggregator, never a per-source row_number window")
    val aggs = plan.filter(_.nodeName.contains("ObjectHashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_topkaggregator")),
      "k-slot buffers must partial-aggregate before the exchange")
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false },
      "the k-per-source winner table must broadcast for its payload join")
  }

  test("q166 JS drift: one vocab agg, mergeable top-k, no window") {
    val plan = collectAll(executed(q("q166_js_drift")))
    assert(!plan.exists(_.nodeName == "Window"), "q166 must not window")
    assert(plan.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "the top-20 must be the mergeable TakeOrdered, not a global sort")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(a => a.contains("partial_sum") && a.contains("token")),
      "slice counts must partial-aggregate map-side in the one vocab agg")
  }

  test("q168 distance distribution: aggregates all the way down — no window, no sort of the corpus") {
    val plan = collectAll(executed(q("q168_distance_distribution")))
    assert(!plan.exists(_.nodeName == "Window"), "q168 must not window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the 1-row total joins as a broadcast, never a cartesian")
  }

  test("q180 co-occurrence: only the per-basket cap windows; counts broadcast back") {
    val plan = collectAll(executed(q("q180_item_cooccur")))
    val windows = plan.filter(_.nodeName == "Window")
    // the per-basket rank window runs ONCE in the capped-table
    // materialization job; the final plan's branches all read that
    // single materialization instead of re-ranking per consumer
    assert(windows.size <= 1, s"only the per-basket rank may window, found ${windows.size}")
    assert(windows.forall(_.toString.contains("basket")),
      "the one allowed window must partition by basket (bounded per key)")
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false },
      "vocab-sized item counts must broadcast into the final join")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_count")),
      "pair counts must partial-aggregate before the exchange")
  }

  test("q181 fuzzy lookup: probe side broadcasts, best match is an agg not a window") {
    val plan = collectAll(executed(q("q181_fuzzy_lookup")))
    assert(!plan.exists(_.nodeName == "Window"),
      "best-match must be the mergeable min-struct, never a per-probe window")
    assert(!plan.exists(_.nodeName.contains("SortMergeJoin")),
      "the catalog must never shuffle for the probe join")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q182 k-anonymity: one rollup Expand, no windows, partial aggregation") {
    val plan = collectAll(executed(q("q182_k_anonymity")))
    assert(!plan.exists(_.nodeName == "Window"), "the ladder never windows")
    assert(plan.count(_.nodeName == "Expand") == 1,
      "exactly one rollup Expand — the whole ladder rides one corpus scan")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_count")),
      "class counts must partial-aggregate map-side")
  }

  test("PQ search (q185): codebooks broadcast, selection is the mergeable top-k, no window") {
    val plan = collectAll(executed(q("q185_pq_adc")))
    assert(!plan.exists(_.nodeName == "Window"),
      "ADC selection must be the k-slot aggregator, never a per-query window")
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false },
      "the per-probe distance table must broadcast against the code table")
    val aggs = plan.filter(_.nodeName.contains("ObjectHashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_topkaggregator")),
      "top-k buffers must partial-aggregate before the exchange")
  }

  test("IVF-PQ (q189): bucket-pruned search — broadcasts, no window, no cartesian on the corpus") {
    val plan = collectAll(executed(q("q189_ivfpq")))
    assert(!plan.exists(_.nodeName == "Window"),
      "routing and selection are argmin/top-k aggregates, never windows")
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false },
      "probed-bucket distance tables must broadcast against the codes")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the only cross shapes are centroid broadcasts, never a corpus cartesian")
  }

  test("q188 CDC compaction: ONE mergeable argmax — no window, no self-join") {
    val plan = collectAll(executed(q("q188_cdc_compaction")))
    assert(!plan.exists(_.nodeName == "Window"),
      "compaction must never sort per-key history under a window")
    assert(!plan.exists(_.nodeName.contains("Join")),
      "latest-state is one aggregation — no join against max(ts)")
    val aggs = plan.filter(_.nodeName.contains("Aggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_max_by")),
      "the argmax must partial-aggregate map-side")
  }

  test("q192 interval union: every window partitions by user — never a global sweep") {
    val plan = collectAll(executed(q("q192_active_coverage")))
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.nonEmpty)
    assert(windows.forall(_.toString.contains("user_id")),
      "sweep windows must partition by the key, never run globally")
  }

  test("q195 six-table star: year filter reaches the orders scan; dims broadcast; no cartesian") {
    val plan = collectAll(executed(q("q195_regional_revenue")))
    val scans = plan.filter(_.nodeName.contains("Scan")).map(_.toString)
    assert(scans.exists(s => s.contains("orders") && s.contains("PushedFilters: [") &&
      s.contains("o_orderdate")), "the year filter must reach the orders scan")
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false },
      "nation/region dims must broadcast")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q196 Theil-Sen: corpus collapses to the daily table before any pairing") {
    val plan = collectAll(executed(q("q196_theil_sen")))
    assert(!plan.exists(_.nodeName == "Window"),
      "median rides the aggregate, never a slope-sort window")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "daily cents must partial-aggregate before the exchange")
  }

  test("q197 funnel latency: anchors are keyed min-aggs, never an event-stream window") {
    val plan = collectAll(executed(q("q197_funnel_latency")))
    assert(!plan.exists(_.nodeName == "Window"),
      "first-view/first-purchase must be mergeable MINs")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the 1-row viewer total joins as a broadcast")
  }

  test("q202 MAD fences: rank windows ride the counter table, partitioned by type") {
    val plan = collectAll(executed(q("q202_mad_outliers")))
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.nonEmpty, "the middle-rank locator is a counter-row window")
    assert(windows.forall(_.toString.contains("event_type#")),
      "every median window must partition by event_type over the bounded counter")
    // the counter build itself rides the localCheckpoint (its own job);
    // what must hold in the visible plan is that the deviation re-group
    // still partial-aggregates and nothing degenerates to a cartesian
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "the deviation counter re-group must partial-aggregate before the exchange")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "med/mad joins are key-sized broadcasts, never cartesians")
  }

  test("q203 autocorrelation: moment sketch, no windows, reference broadcast") {
    val plan = collectAll(executed(q("q203_autocorr")))
    assert(!plan.exists(_.nodeName == "Window"),
      "consecutive-day pairing is an equi-join, never a LEAD window")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "daily cents must partial-aggregate before the exchange")
    assert(plan.exists { case _: BroadcastHashJoinExec => true; case _ => false },
      "the per-type min reference joins as a broadcast")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q204 link prediction: cap + AUC sweep are the only windows, no cartesian") {
    val plan = collectAll(executed(q("q204_link_predict")))
    // edge build rides the localCheckpoint; the visible windows are the
    // shared-neighbor cap rank (partitioned by n) and the AUC cumulative
    // sweep (unpartitioned but provably over the distinct-SCORE table —
    // the q141 justification)
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.size <= 2,
      s"cap rank + AUC sweep only, got ${windows.size} windows")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the 1-row test-count join is a broadcast nested loop, never a cartesian")
  }

  test("q205 PCA: corpus moments partial-aggregate; iteration is window-free algebra") {
    // the iteration plan (post-checkpoint): pure join+aggregate algebra
    val plan = collectAll(executed(q("q205_pca_power")))
    assert(!plan.exists(_.nodeName == "Window"))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the 1-row normalize join is a broadcast, never a cartesian")
    // the corpus pass (pre-checkpoint): moment sums must partial-aggregate
    val cov = collectAll(executed(graft.ann.Pca.covariance(
      graft.Tables.read(spark, sf("sf0.001"), "embeddings"), "embedding", 16)))
    val aggs = cov.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "pico-scaled moment sums must partial-aggregate before the exchange")
  }

  test("q210 feature assembly: every window rides the ONE user-keyed exchange") {
    val plan = collectAll(executed(q("q210_feature_assembly")))
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.nonEmpty)
    assert(windows.forall(_.toString.contains("user_id#")),
      "all three features must partition by user_id — one shuffle, not one per feature")
    // lag + running-min fuse into one Window node; the range-frame spend
    // sum is the second — both fed by the SAME user-keyed sort/exchange
    // (verified by the node count: a per-feature shuffle would force
    // extra Window nodes over separate exchanges)
    assert(windows.size == 2,
      s"expected the fused lag/min window + the range-frame spend window, got ${windows.size}")
    // node toString prints the whole subtree — test the node's OWN
    // partitioning, and dedupe by identity (AQE can visit an exchange
    // through both the stage wrapper and a reuse link)
    assert(plan.collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.toString.contains("user_id") => s.id
    }.distinct.size <= 1,
      "the feature windows must share a single user-keyed exchange")
  }

  test("q211 centroid classifier: broadcast centroids, mergeable argmin, no window") {
    val plan = collectAll(executed(q("q211_centroid_classifier")))
    assert(!plan.exists(_.nodeName == "Window"),
      "the per-vector argmin must be a mergeable min-struct, never a window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the labels×d centroid table joins as a broadcast")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "centroid moment sums must partial-aggregate before the exchange")
  }

  test("q213 PSI: counter-table algebra only — no windows, no cartesians") {
    val plan = collectAll(executed(q("q213_psi")))
    assert(!plan.exists(_.nodeName == "Window"))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the totals row joins as a broadcast")
  }

  test("q214 session metrics: session windows ride one user-keyed pass") {
    // the session build (gap flag + session id windows) runs under the
    // localCheckpoint; any window VISIBLE here would be a regression,
    // and the depth rollup must stay cartesian-free
    val plan = collectAll(executed(q("q214_session_metrics")))
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.forall(_.toString.contains("user_id#")),
      "any session window must partition by user_id")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the session-total row joins as a broadcast")
  }

  test("q215 skew report: per-key counters partial-aggregate, no cartesian") {
    val plan = collectAll(executed(q("q215_skew_report")))
    assert(!plan.exists(_.nodeName == "Window"))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "each column's 1-row total joins as a broadcast")
  }

  test("q217 image dhash: banded join only — no cartesian over the hash table") {
    val plan = collectAll(executed(q("q217_image_dhash")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "candidates must come from the band-bucket equi-join, never all-pairs")
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.forall(_.toString.contains("chunk#")),
      "the only window is the bucket-skew cap, partitioned by (band, chunk)")
  }

  test("q226 ANN advisor: every cross join is a broadcast nested loop, never a cartesian") {
    val plan = collectAll(executed(q("q226_ann_advisor")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "codebook/centroid/scalar joins must all broadcast")
  }

  test("q227 log histogram: counters partial-aggregate; quantile windows ride the counter table") {
    val plan = collectAll(executed(q("q227_log_histogram")))
    // the counter build itself sits behind the sketch's localCheckpoint;
    // what remains in-plan (bound-check counts, drift sums) must still
    // partial-aggregate before the exchange
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "bound-check sums must partial-aggregate before the exchange")
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.forall(_.toString.contains("o_orderpriority#")),
      "the cumsum window must partition by the sketch key")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q224 audio fingerprint: banded join only — no cartesian over the hash table") {
    val plan = collectAll(executed(q("q224_audio_fingerprint")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "candidates must come from the band-bucket equi-join, never all-pairs")
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.forall(_.toString.contains("chunk#")),
      "the only window is the bucket-skew cap, partitioned by (band, chunk)")
  }

  test("q230 multimodal dedup: all four modality blockings banded — no cartesian") {
    // sweep EVERY plan: the modality fingerprint stages run behind
    // localCheckpoints, so the final plan alone proves nothing
    val plans = allExecutedPlans("q230_multimodal_dedup")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false },
      "text/image/audio/video candidates must come from banded equi-joins")
  }

  test("q266 IVF maintain: routing is hash-agg argmin — corpus never windowed, no cartesian") {
    // sweep ALL plans: build/refresh/rebuild run behind checkpoints and
    // versioned-state writes, so the final plan alone proves nothing
    val plans = allExecutedPlans("q266_ivf_maintain")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false },
      "centroid scoring must broadcast the codebook, never cartesian")
    val globals = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty,
      "assignment is the mergeable max-struct argmin; only the bounded " +
        "query set may window, partitioned by q_id")
  }

  test("q267 PQ maintain: encoding is hash-agg argmin — corpus never windowed, no cartesian") {
    val plans = allExecutedPlans("q267_pq_maintain")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false },
      "codebook scoring must broadcast the codebooks, never cartesian")
    val globals = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty,
      "PQ assign/ADC are mergeable aggregations; only the bounded probe " +
        "set may window, partitioned by q_id")
  }

  test("q268 exact-substring spans: windows partition by doc_id — never global") {
    val plan = collectAll(executed(q("q268_exact_substring_spans")))
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "gaps-and-islands needs the per-doc windows")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "span merge must partition by doc_id; a global window would " +
        "one-task-sort every duplicated window in the corpus")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q269 Bradley-Terry: items²-bounded arithmetic — no global window, no cartesian") {
    val plans = allExecutedPlans("q269_bradley_terry")
    assert(!plans.exists(_.nodeName == "Window"),
      "MM folds ride sorted-list aggregation; ranks come from the bounded self-join")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q271/q272/q275 index lifecycle: NO window operator anywhere — routing is mergeable argmin") {
    for (name <- Seq("q271_ivf_compact", "q272_ivf_tombstone",
        "q275_dedup_excision")) {
      val plans = allExecutedPlans(name)
      assert(!plans.exists(_.nodeName == "Window"),
        s"$name: build/refresh/compact/drift must route via the " +
          "partial-aggregable max-struct and compare via joins+aggs — " +
          "a window anywhere means a corpus sort crept in")
    }
  }

  test("q274/q276/q279/q280 span-family dedup: windows only per-doc / per-bucket — never global") {
    for (name <- Seq("q274_exact_substring_maintain", "q276_cluster_maintain",
        "q279_exact_substring_excise", "q280_substring_decontam")) {
      val plans = allExecutedPlans(name)
      val windows = plans.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$name: span merge partitions by doc, the LSH bucket cap by " +
          "(band, chunk) — a global window would one-task-sort the corpus")
      assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
    }
  }

  test("q277 session-delete maintain: windows only per-user; CC and delete are join/agg shapes") {
    val plans = allExecutedPlans("q277_session_delete_maintain")
    val windows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "the chain edges need the per-user lag window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q277: the only window is the per-user consecutive-event lag — " +
        "converged CC, the reduced refresh and the cluster-local delete " +
        "are joins + aggregations; a global window means an event sort " +
        "crept in")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q278 consistent cut: NO window anywhere — fingerprint groups, counts and pinned reads are joins/aggs") {
    val plans = allExecutedPlans("q278_consistent_cut")
    assert(!plans.exists(_.nodeName == "Window"),
      "q278: fp self-join, window-hash counts, CC and the manifest's " +
        "pinned reads are all join/agg shapes — a window anywhere means " +
        "a corpus sort crept in")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q281/q282 BM25 maintain: NO window anywhere — count algebra and top-k are aggs + TakeOrdered") {
    for (name <- Seq("q281_bm25_maintain", "q282_decontam_excision")) {
      val plans = allExecutedPlans(name)
      assert(!plans.exists(_.nodeName == "Window"),
        s"$name: build/refresh/retract/delete/compact are explode + " +
          "hash-agg shapes and the query-time cut is " +
          "TakeOrderedAndProject — a window anywhere means a corpus " +
          "sort crept in")
      assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
    }
  }

  test("q285 banded-index maintain: windows only per-(band, chunk) — band-local work, no cartesian") {
    val plans = allExecutedPlans("q285_banded_index_maintain")
    val windows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q285: the only window is the skew cap's per-(band, chunk) bucket " +
        "count — signatures are map-side, the probe is a bucket " +
        "equi-join, verification is candidate-bounded; a global window " +
        "would one-task-sort the corpus")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q287 admission loop: windows only per-(band, chunk) — each round band-local, no cartesian") {
    val plans = allExecutedPlans("q287_admission_loop")
    val windows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q287: the only windows are the skew cap's per-(band, chunk) " +
        "counts — both rounds' screens are bucket equi-joins, " +
        "verification is candidate-bounded, refreshes are delta-sized; " +
        "a global window would one-task-sort the corpus")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q288 SRP index maintain: windows only per-(band, chunk) — vector banding map-side, probe bucket-local, no cartesian") {
    val plans = allExecutedPlans("q288_srp_index_maintain")
    val windows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q288: the only window is the skew cap's per-(band, chunk) bucket " +
        "count — SRP signatures are map-side literals, the probe is a " +
        "bucket equi-join on the pruned partitions, verification is " +
        "candidate-bounded cosine; a global window would one-task-sort " +
        "the corpus")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q290 admission→serving cut: windows only per-(band, chunk) — screen band-local, serves TakeOrdered, no cartesian") {
    val plans = allExecutedPlans("q290_admission_serving_cut")
    val windows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q290: the only window is the admission screen's per-(band, chunk) " +
        "skew cap — verification is candidate-bounded, member refreshes " +
        "and deletes are delta-sized, and both pinned serves are " +
        "explode + agg shapes cut by TakeOrderedAndProject; a global " +
        "window would one-task-sort the corpus")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q292 admission+cluster loop: windows only per-(band, chunk) — screens band-local, label writes delta-bounded, no cartesian") {
    val plans = allExecutedPlans("q292_admission_cluster_loop")
    val windows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q292: the only windows are the skew caps' per-(band, chunk) " +
        "bucket counts — verification is candidate-bounded, both state " +
        "families commit delta/cluster-bounded tables, and the CC " +
        "fixpoint is joins + aggs; a global window would one-task-sort " +
        "the corpus")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q294 full-stack cut: windows only per-(band, chunk) — screen band-local, quality map-side, serves TakeOrdered, no cartesian") {
    val plans = allExecutedPlans("q294_full_stack_cut")
    val windows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q294: the only window is the admission screen's per-(band, chunk) " +
        "skew cap — the pinned quality score is map-side literals, " +
        "verification is candidate-bounded, all four member refreshes " +
        "and deletes are delta-sized, and every serve (BM25 both cuts, " +
        "IVF probe + rerank both cuts) is an explode + agg / probed-" +
        "bucket shape cut by TakeOrderedAndProject; a global window " +
        "would one-task-sort the corpus")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q289 perceptual index maintain: windows only per-(band, chunk) — decode partition-wise, probe bucket-local, no cartesian") {
    val plans = allExecutedPlans("q289_perceptual_index_maintain")
    val windows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "q289: the only window is the skew cap's per-(band, chunk) bucket " +
        "count — the dHash decode is one partition-wise pass, banding is " +
        "a map-side explode, the probe is a bucket equi-join and the " +
        "verify a codegen'd bit_count; a global window would " +
        "one-task-sort the corpus")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q286 needle-state cuts: NO window anywhere — verdicts, excisions and pinned serves are joins/aggs") {
    val plans = allExecutedPlans("q286_needle_state_cuts")
    assert(!plans.exists(_.nodeName == "Window"),
      "q286: needle derivation, contamination joins, erasure negations " +
        "and both pinned topK serves are explode + join + agg shapes " +
        "cut by TakeOrderedAndProject — a window anywhere means a " +
        "corpus sort crept in")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q283 quality LR: NO window, no cartesian — GD is one checkpointed feature pass + agg scans") {
    val plans = allExecutedPlans("q283_quality_lr")
    assert(!plans.exists(_.nodeName == "Window"),
      "q283: the feature pass and every gradient iteration are " +
        "partial-agg scans with the weights riding the driver — a " +
        "window anywhere means a corpus sort crept in")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q291 pinned quality model: NO window, no cartesian shuffle shape — GD agg scans + map-side pinned scoring") {
    val plans = allExecutedPlans("q291_quality_model_pinned")
    assert(!plans.exists(_.nodeName == "Window"),
      "q291: training is checkpointed-feature agg scans, scoring bakes " +
        "the pinned coefficients in as literals — a window anywhere " +
        "means a corpus sort crept in")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q284 serving stack: windows only per-query probe ranks — no global window, no cartesian") {
    val plans = allExecutedPlans("q284_serving_stack_decontam")
    val globals = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty,
      "q284: both top-20 lists are dial-bounded (TakeOrdered + " +
        "broadcast rank self-joins) and routing is the mergeable " +
        "argmin — only the per-query probe rank may window, " +
        "partitioned by q_id")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q270 IVF-PQ maintain: broadcast codebooks + bucket equi-joins — no cartesian, no global window") {
    val plans = allExecutedPlans("q270_ivfpq_maintain")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false },
      "coarse scoring and ADC must broadcast the small side, never cartesian")
    val globals = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty,
      "routing/encoding are mergeable argmins; only the bounded probe " +
        "set may window, partitioned by q_id")
  }

  test("q220 Kaplan-Meier: day-domain windows only, corpus collapses first") {
    val plan = collectAll(executed(q("q220_kaplan_meier")))
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(a => a.contains("partial_min") || a.contains("partial_max")),
      "per-user anchors must partial-aggregate before the exchange")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q222 Gini: distributed exact rank — NO window operator at all") {
    val plan = collectAll(executed(q("q222_gini")))
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "per-customer revenue must partial-aggregate before the exchange")
    assert(!plan.exists(_.nodeName == "Window"),
      "ranks must come from ExactRank (range partition + offsets), not WindowExec")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q233 Poisson bootstrap: replicate fan-out partial-aggregates, no window") {
    val plan = collectAll(executed(q("q233_poisson_bootstrap")))
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "per-replicate weighted sums must partial-aggregate before the exchange")
    assert(!plan.exists(_.nodeName == "Window"),
      "the percentile CI is an aggregate over the B-row replicate table, not a window")
  }

  test("q235 Mann-Whitney: ranks via ExactRank — NO window operator at all") {
    val plan = collectAll(executed(q("q235_mann_whitney")))
    assert(!plan.exists(_.nodeName == "Window"),
      "midranks must come from ExactRank min/max per value, not WindowExec")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q239 attribution: per-user windows only; channel fold joins small") {
    val plan = collectAll(executed(q("q239_attribution")))
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "touch carry-forward must partition by user_id, never globally")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q240 SCD2 build: per-user lag/lead windows only; profile partial-aggregates") {
    val plan = collectAll(executed(q("q240_scd2_build")))
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "version open/close must partition by user_id, never globally")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "per-user version counters must partial-aggregate before the exchange")
  }

  test("q244 CUSUM: daily counts partial-aggregate; chart windows partition by type") {
    val plan = collectAll(executed(q("q244_cusum")))
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_count")),
      "the corpus-scale daily-count agg must partial-aggregate before the exchange")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "every chart window must partition by event_type, never globally")
  }

  test("q245 EWMA: the day-domain self-join is never a cartesian") {
    val plan = collectAll(executed(q("q245_ewma")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "the day-index row_number must partition by event_type")
  }

  test("q246 scene change: every window rides the per-doc frame domain") {
    val plan = collectAll(executed(q("q246_scene_change")))
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "boundary lag and scene cumsum must partition by doc, never globally")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q247 VAD: island row_number partitions by doc; no cartesian") {
    val plan = collectAll(executed(q("q247_vad_segments")))
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "the gaps-and-islands numbering must partition by doc")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  // NOTE (both locks below): the corpus-scale counting aggs are hidden
  // behind localCheckpoint leaves (PageRank's per-iteration materialize,
  // q249's shared counter table) — the executed plan shows only the
  // stages AFTER the last checkpoint, so the locks assert those.
  test("q248 textrank: top-k select, window-free, no cartesian") {
    val plan = collectAll(executed(q("q248_textrank")))
    // the rank table itself is a checkpoint leaf; what remains visible
    // is the final selection — which must be a bounded top-k, not a
    // global sort of the vocabulary
    assert(plan.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "top-20 keywords must ride a TakeOrdered, never a full sort")
    assert(!plan.exists(_.nodeName == "Window"),
      "weighted PageRank iterates via join + agg, never a window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q249 kappa: marginal/total aggs partial-aggregate; no windows") {
    val plan = collectAll(executed(q("q249_rater_agreement")))
    assert(!plan.exists(_.nodeName == "Window"))
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_sum")),
      "the marginal sums over the counter table must partial-aggregate")
  }

  test("q250 silhouette: broadcast centroid distances; per-point windows only") {
    val plan = collectAll(executed(q("q250_silhouette")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "the corpus×centroids distance table must ride a broadcast, never a cartesian")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "the two-smallest rank must partition by vec_id")
  }

  test("q251 conformal: ExactRank quantile — NO window operator at all") {
    val plan = collectAll(executed(q("q251_conformal")))
    assert(!plan.exists(_.nodeName == "Window"),
      "the calibration quantile must come from ExactRank, not a global window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q252 seasonal: counter-table algebra only — no windows, broadcast joins") {
    val plan = collectAll(executed(q("q252_seasonal")))
    assert(!plan.exists(_.nodeName == "Window"),
      "baseline and z ride bounded joins, never a window")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_count")),
      "the corpus-scale daily-count agg must partial-aggregate before the exchange")
  }

  test("q253 share shift: partial-aggregated halves, top-k never a global sort") {
    val plan = collectAll(executed(q("q253_share_shift")))
    assert(plan.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "the top-20 movers must ride a TakeOrdered")
    assert(!plan.exists(_.nodeName == "Window"))
  }

  test("q254 layout advisor: one exploded pass, melt agg partial-aggregates") {
    val plan = collectAll(executed(q("q254_layout_advisor")))
    assert(!plan.exists(_.nodeName == "Window"))
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(_.contains("partial_count")),
      "the (candidate, key) counting agg must partial-aggregate before the exchange")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q255 QTE: per-arm deciles via ExactRank — NO window operator at all") {
    val plan = collectAll(executed(q("q255_qte")))
    assert(!plan.exists(_.nodeName == "Window"),
      "per-arm ranks must come from ExactRank, not a 2-partition window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q256 embedding drift: broadcast assignment, mergeable argmax, no window") {
    val plan = collectAll(executed(q("q256_embedding_drift")))
    assert(!plan.exists(_.nodeName == "Window"),
      "codebook assignment must be the mergeable argmax, never a per-vector window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q259 winsorized A/B: pooled cap via ExactRank — NO window operator") {
    val plan = collectAll(executed(q("q259_winsorized_ab")))
    assert(!plan.exists(_.nodeName == "Window"),
      "the pooled p95 cap must come from ExactRank, not a global window")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q216 vocab coverage: top-10k TakeOrderedAndProject, NO window anywhere") {
    // ranks come from ExactRank inside the bounded top-10k table; the
    // vocabulary itself is never globally sorted. Sweep ALL plans
    // (ExactRank checkpoints, so the final plan alone proves nothing).
    val plans = allExecutedPlans("q216_vocab_coverage")
    assert(!plans.exists(_.nodeName == "Window"),
      "vocab coverage must never rank via a window operator")
    assert(plans.exists(_.nodeName.contains("TakeOrderedAndProject")),
      "the top-10k must be a TakeOrderedAndProject, not a global sort")
    assert(!plans.exists { case _: CartesianProductExec => true; case _ => false })
  }

  test("q241 video fingerprint: banded join only — no cartesian over the hash table") {
    val plan = collectAll(executed(q("q241_video_fingerprint")))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "candidates must come from the band-bucket equi-join, never all-pairs")
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.forall(_.toString.contains("chunk#")),
      "the only window is the bucket-skew cap, partitioned by (band, chunk)")
  }

  // ---- capture fidelity: the sweep below is only as strong as the
  // plans it can see. This test proves the listener-based capture sees
  // THROUGH a localCheckpoint: a deliberately global window
  // materialized behind one is invisible to the final executed plan
  // (the checkpoint truncates to a ScanExistingRDD leaf) but MUST
  // appear in the captured set — if this ever regresses, the sweep is
  // blind again and every checkpointed stage escapes audit.
  test("plan capture sees global windows hidden behind localCheckpoint") {
    import org.apache.spark.sql.expressions.Window
    val captured = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.graftaccess.ListenerBusAccess
      .waitUntilListenerBusEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val hidden = spark.range(100)
        .withColumn("rk", org.apache.spark.sql.functions.row_number()
          .over(Window.orderBy("id")))
        .localCheckpoint() // the window runs HERE, not in the final job
        .groupBy().count()
      hidden.collect()
      org.apache.spark.graftaccess.ListenerBusAccess
        .waitUntilListenerBusEmpty(spark.sparkContext)
      val finalGlobals = collectAll(hidden.queryExecution.executedPlan)
        .collect { case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w }
      assert(finalGlobals.isEmpty,
        "precondition: the checkpoint must hide the window from the final plan")
      val capturedGlobals = captured.synchronized(captured.toVector)
        .flatMap(collectAll)
        .collect { case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w }
      assert(capturedGlobals.nonEmpty,
        "the listener capture must surface the checkpointed global window")
    } finally spark.listenerManager.unregister(listener)
  }

  // ---- catalog-wide sweep: an unpartitioned WindowExec moves the whole
  // relation into ONE task. q222 shipped with a plausible-but-wrong
  // boundedness comment in round 7; this sweep makes that class of bug
  // structurally impossible: EVERY executed plan of every query —
  // localCheckpoint materialization jobs included, via the listener
  // capture above — is scanned, and a WindowExec with an EMPTY
  // partition spec must appear in the allowlist below with the reason
  // its windowed relation is DOMAIN-bounded (bins/days/digits/stages/
  // top-k — sizes fixed by the dial, not the scale factor). Allowlist
  // hygiene is enforced both ways: an entry whose query no longer has
  // a global window anywhere is stale and fails too.
  test("catalog sweep: no WindowExec without partition keys outside the bounded-domain allowlist") {
    val allowlist: Map[String, String] = Map(
      "q107_token_budget" -> ("BudgetSelect's running sum rides the ≤1001-row " +
        "score-bucket table; only the boundary bucket orders per-doc"),
      "q114_vocab_growth" -> "cumulative curve over EXACTLY 10 decile rows",
      "q115_zipf_slope" -> ("rank + regression over the top-100 bigram rows " +
        "(TakeOrderedAndProject upstream, never a vocabulary sort)"),
      "q116_corpus_build" -> ("the composed BudgetSelect stage: same ≤1001-row " +
        "bucket-table window as q107"),
      "q141_nb_auc" -> ("Mann–Whitney sweep over the DISTINCT-score table of " +
        "the 100-doc labeled eval slice — labeling-budget bounded"),
      "q204_link_predict" -> ("AUC sweep over the distinct common-neighbor-count " +
        "table — score domain ≤ maxDegree, not corpus-sized"),
      "q220_kaplan_meier" -> ("survival product over the DAY-domain risk table " +
        "— calendar-bounded, corpus collapses via min/max anchors first"),
      "q228_mixture_plan" -> ("largest-remainder rank over the mixture table " +
        "— ≤ #languages rows (runs inside a localCheckpoint job; visible " +
        "only to the listener capture)"),
      "q257_msprt" -> ("the always-valid p-sequence's running min rides the " +
        "DAY-domain cumulative table — calendar-bounded, corpus collapses " +
        "into per-arm daily counts first"),
      "q273_msprt_normal" -> ("same shape as q257: the p-sequence's running " +
        "min rides the DAY-domain cumulative table — calendar-bounded, " +
        "corpus collapses into per-(arm, day) winsorized moments first"))
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val stale = scala.collection.mutable.ListBuffer.empty[String]
    for (qd <- SparkEntry.catalog) {
      val plan = allExecutedPlans(qd.name)
      val global = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      if (global.nonEmpty && !allowlist.contains(qd.name))
        offenders += qd.name
      if (global.isEmpty && allowlist.contains(qd.name))
        stale += qd.name
    }
    assert(offenders.isEmpty,
      s"queries with an unpartitioned WindowExec not in the allowlist: " +
        offenders.mkString(", "))
    assert(stale.isEmpty,
      s"stale allowlist entries (no global window anymore): ${stale.mkString(", ")}")
  }

  test("q193 KS drift: count aggs partial-aggregate; sweep windows partition by group") {
    val plan = collectAll(executed(q("q193_ks_drift")))
    val windows = plan.filter(_.nodeName == "Window")
    assert(windows.forall(_.toString.contains("g#")),
      "ECDF sweeps must partition by group over the bounded value grid")
    val aggs = plan.filter(_.nodeName.contains("HashAggregate")).map(_.toString)
    assert(aggs.exists(a => a.contains("partial_sum") || a.contains("partial_count")),
      "(group, value) weights must partial-aggregate before the exchange")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "group/total fan-outs are broadcasts, never cartesians")
  }
}
