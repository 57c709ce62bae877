package graft

import graft.Profile.{Summary, arg, timed, withScratch}
import graft.dedup.{BandedIndex, ClusterState, Dedup, ExactSubstr}
import graft.plans.FileScans
import graft.text.Bm25State
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The scale spot-checks [[Profile]] runs: synthetic inputs far past
  * the catalog's sf0.1, where a layout or plan choice that is noise at
  * toy scale decides the cost. Each checks its fast path against the
  * slow one for equal results before it times anything.
  */
private[graft] object ScaleChecks {

  private def sizes(args: Seq[String], default: String): Seq[Long] =
    arg(args, 0, default).split(",").map(_.trim.toLong).toSeq

  /** Per-size summaries turned inside out: `field -> {size -> value}`. */
  private def bySize(results: Seq[(Long, Summary)]): Summary =
    results.headOption.toSeq.flatMap(_._2.map(_._1)).map { k =>
      k -> results.map { case (n, r) => n.toString -> r.toMap.apply(k) }
    }

  private def partitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  // one run of `df`: its rows, and the number and byte size of the
  // files its scans SELECTED (post partition-pruning) — deterministic
  // plan metrics, not IO timing (a warm page cache hides the read cost
  // wall-clock that a 100 TB cold store charges in full). `part = None`
  // counts EVERY file scan in the plan (the per-query TOTAL selected
  // bytes).
  private def scanned(df: DataFrame, part: Option[String]): (Seq[Row], (Long, Long)) = {
    val rows = df.collect().toSeq
    (rows, FileScans.footprint(FileScans.scansAfterRun(df, part)))
  }

  /** `bm25 [sizes] [reps]`: does `Bm25State`'s bucket-partitioned
    * postings layout pay at scale? The catalog exercises the index at
    * sf0.1 (~60k docs), where a query's cost is dominated by fixed
    * overheads; the 100 TB claim is that a k-term query's cost scales
    * with the TERMS' postings (≤ k of B bucket directories opened per
    * segment — a file skip), not the corpus. Builds synthetic indexes
    * of growing corpus size at B = 64 and times, per size:
    *
    *  - `query_pruned`  — the shipped [[graft.text.Bm25State.topK]]
    *    path (bucket partition filter + pushed term filter);
    *  - `query_fullscan` — the same score computed off
    *    `livePostings(terms = None)` with only the term filter, i.e.
    *    what the layout would cost WITHOUT partitioning (every bucket
    *    file of every segment opened) — equal-results-checked against
    *    the pruned path once per size before timing;
    *  - `refresh` — a FIXED 2000-doc batch against the stored index
    *    (must be flat in corpus size: only the batch is tokenized);
    *  - `query_pruned_split<splits>` — the pruned query on a second
    *    build written with `writeSplits = splits`, one split per 100
    *    docs up to 32 (32 at every default size: 64 × 32 files per
    *    commit, which is what the check measures, and what makes it
    *    slow to build; a toy corpus gets a toy layout).
    *
    * Sizes are comma-separated doc counts, default
    * `200000,800000,3200000` (× 60 tokens/doc over a 50k-term
    * vocabulary); reps default 3.
    */
  def bm25(spark: SparkSession, args: Seq[String]): Summary = {
    val reps = arg(args, 1, "3").toInt
    val V = 50000 // vocabulary
    val terms = Seq("t17", "t4242", "t31337") // the 3-term query
    // deterministic synthetic docs: 60 tokens each, uniform-ish vocab
    def corpus(n: Long, from: Long = 0L): DataFrame =
      spark.range(from, from + n).select(col("id").as("doc_id"),
        expr(s"transform(sequence(0, 59), j -> " +
          s"concat('t', pmod(id * 31 + j * 7919 + j * j, $V)))")
          .as("tokens"))

    // the full-scan twin of topK: same arithmetic (dl off the posting
    // rows), no bucket filter — what the layout would cost WITHOUT the
    // partitioning (every bucket file of every segment opened)
    def fullScan(dir: String): DataFrame = {
      val tf = Bm25State.livePostings(spark, dir).get
        .where(col("term").isin(terms: _*))
      val stats = Bm25State.stats(spark, dir)
      val dft = tf.groupBy("term").agg(countDistinct("doc").as("df"))
      tf.join(broadcast(dft), "term")
        .crossJoin(broadcast(stats))
        .select(col("doc"),
          (log((col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1)
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2)
                * (lit(1) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))))
            .as("s"))
        .groupBy("doc").agg(round(sum("s"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc")).limit(10)
    }
    def top(rows: Seq[Row]): Seq[(Any, Double)] = rows.map(r => (r.get(0), r.getDouble(1)))
    def topScanned(df: DataFrame, part: Option[String]): (Seq[(Any, Double)], (Long, Long)) = {
      val (rows, footprint) = scanned(df, part)
      (top(rows), footprint)
    }

    val results = sizes(args, "200000,800000,3200000").map { n =>
      n -> withScratch(s"graft_pbm_$n") { root =>
        val dir = s"$root/st"
        val tBuild = timed(spark, s"build corpus=$n", 1) { _ =>
          Bm25State.build(corpus(n), "doc_id", "tokens", dir, buckets = 64): Unit
        }
        // equal-results check once, outside the timers
        val (pruned0, (fP, bP)) =
          topScanned(Bm25State.topK(spark, dir, terms, 10), Some("postings"))
        val (full0, (fF, bF)) = topScanned(fullScan(dir), Some("postings"))
        require(pruned0 == full0 && pruned0.nonEmpty,
          s"pruned and full-scan paths disagree at n=$n")
        // the serving path (per-cut precomputed stats): its TOTAL
        // selected bytes across EVERY scan in the plan — before the dl
        // denormalization this included the corpus-sized doclen table
        // per query; now it must equal the pruned postings buckets
        val preStats = Bm25State.stats(spark, dir).localCheckpoint()
        val (served, (fT, bT)) = topScanned(Bm25State.topK(spark, dir, terms, 10,
          precomputedStats = Some(preStats)), None)
        require(served == pruned0, s"precomputed-stats path disagrees at n=$n")
        // what the pre-denormalization layout charged per query on the
        // dl side: the whole live doclen table
        val (_, (_, bDl)) = scanned(
          Bm25State.liveDocLens(spark, dir).get.groupBy().count(), Some("doclen"))
        val tP = timed(spark, s"query_pruned corpus=$n", reps) { _ =>
          Bm25State.topK(spark, dir, terms, 10).collect(): Unit
        }
        val tF = timed(spark, s"query_fullscan corpus=$n", reps) { _ =>
          fullScan(dir).collect(): Unit
        }
        val tR = timed(spark, s"refresh corpus=$n", reps) { i =>
          Bm25State.refresh(corpus(2000, from = n + i.toLong * 2000),
            "doc_id", "tokens", dir, deltaId = s"rep$i"): Unit
        }
        // the writeSplits layout: same buckets, each spread over ~splits
        // files — the corpus-sized write parallelizes AND the pruned
        // read stops bin-packing a whole bucket into one input split
        val sdir = s"$root/split"
        val splits = math.min(32L, math.max(1L, n / 100)).toInt
        Bm25State.build(corpus(n), "doc_id", "tokens", sdir, buckets = 64,
          writeSplits = splits)
        require(top(Bm25State.topK(spark, sdir, terms, 10).collect().toSeq) == pruned0,
          s"writeSplits layout disagrees at n=$n")
        val tPs = timed(spark, s"query_pruned_split$splits corpus=$n", reps) { _ =>
          Bm25State.topK(spark, sdir, terms, 10).collect(): Unit
        }
        Seq("build" -> tBuild, "query_pruned" -> tP, "query_fullscan" -> tF,
          "refresh_2k" -> tR, s"query_pruned_split$splits" -> tPs,
          "scan_files_pruned" -> fP, "scan_files_fullscan" -> fF,
          "scan_files_serve_total" -> fT,
          "scan_mb_pruned" -> bP / 1e6, "scan_mb_fullscan" -> bF / 1e6,
          "scan_mb_serve_total" -> bT / 1e6, "scan_mb_old_dl_side" -> bDl / 1e6)
      }
    }
    Seq("metric" -> "bm25_query_sec_by_corpus", "buckets" -> 64) ++ bySize(results)
  }

  /** One `BandedIndex` payload dial: how its docs are generated and
    * banded, and the one-shot blocking its screen must reproduce.
    */
  private final case class Dial(name: String, payload: String,
                                rowsPerBand: Int, dims: Int,
                                corpus: (Long, Long) => DataFrame,
                                fresh: Long => DataFrame,
                                oneShot: (Long, DataFrame) => DataFrame)

  /** `banded [sizes] [reps]`: does `BandedIndex`'s chunk-hash bucket
    * partitioning pay at scale? The catalog exercises the index at
    * sf0.1 (~60k docs); the 100 TB claim is that an admission SCREEN's
    * cost scales with the probe's buckets, not the corpus — a small
    * probe (the per-doc / small-batch ingest screen) collects its ≤ B
    * bucket ids driver-side and opens only those partitions of each
    * segment. Builds synthetic indexes of growing corpus size at
    * B = 256 and, per size and per dial:
    *
    *  - `screen_pruned` — the shipped [[graft.dedup.BandedIndex.screen]]
    *    (bucket partition filter), probing a FIXED 10-doc fresh batch
    *    (2 of them copies of the corpus's planted template, so
    *    candidates exist and grow with the corpus);
    *  - `screen_fullscan` — the same blocking computed off
    *    `liveBands(buckets = None)` (every bucket file of every segment
    *    opened) — equal-results-checked against the pruned path and
    *    the one-shot blocking once per size before timing;
    *  - `refresh` — a FIXED 2000-doc batch against the stored index
    *    (must be flat in corpus size: only the batch is signed).
    *
    * Two dials run the same state machine:
    *  - `tokens`: 60 tokens per doc, 4 × 2 MinHash bands; every 100th
    *    doc carries the SHARED template token set (the near-dup
    *    population a screen exists to catch), the rest are unique-ish;
    *    the one-shot reference is `Dedup.incrementalNearDupCandidates`.
    *  - `srp`: SRP chunks over 64-dim embeddings, banded 4 × 16
    *    (65536-value chunks; random 4-bit chunks would candidate every
    *    probe against 1/16 of the corpus, which is LSH physics, not an
    *    index property). Every vector is one of 48 cluster patterns
    *    (copies — magnitude exact, so chunks are cluster-determined);
    *    every 100th is the shared TEMPLATE pattern the fresh probes
    *    duplicate. Known defect: the 8 fresh "unique" patterns are NOT
    *    disjoint from the corpus. A pattern is `((31·seed + 17j) mod
    *    101 − 50) / 50`, and each fresh seed `48 + id` sits one residue
    *    from a cluster seed `id % 48`, so the two vectors differ in one
    *    component and share SRP chunks. The dial's `n_candidates`
    *    therefore counts cluster collisions as well as the planted dups
    *    (9,682 at 20,000 docs, where the token dial finds 400).
    *
    * Sizes are comma-separated doc counts, default
    * `200000,800000,3200000`; reps default 3.
    */
  def banded(spark: SparkSession, args: Seq[String]): Summary = {
    val reps = arg(args, 1, "3").toInt
    val ns = sizes(args, "200000,800000,3200000")
    val B = 256
    // fresh batches: 10 docs with ids far beyond any corpus; docs 0/1
    // are template copies (candidates), the rest unique
    def freshIds(seed: Long) =
      spark.range(10).select((col("id") + 900000000L + seed * 100).as("doc_id"), col("id"))
    def tokens(tpl: String, other: String) =
      expr(s"""CASE WHEN $tpl THEN transform(sequence(0, 59), j -> concat('tpl', j))
               ELSE transform(sequence(0, 59), j -> concat($other, '_', j)) END""")
        .as("tokens")
    val dims = 64
    def vec(tpl: String, cSeed: String) = {
      def v(seed: String) = s"""transform(sequence(0, ${dims - 1}), j ->
          cast((($seed * 31 + j * 17) % 101 - 50) / 50.0 as float))"""
      expr(s"CASE WHEN $tpl THEN ${v("99")} ELSE ${v(cSeed)} END").as("vec")
    }
    def bands(docs: DataFrame, d: Dial): DataFrame =
      BandedIndex.bandRows(docs, "doc_id", d.payload, 4, d.rowsPerBand, d.dims)
    // the pair blocking of `fresh` against band rows (stored or derived)
    // — screen()'s join without the bucket filter
    def blocking(corpusBands: DataFrame, fresh: DataFrame, d: Dial): DataFrame =
      bands(fresh, d).alias("f")
        .join(corpusBands.select(col("band"), col("chunk"), col("id")).alias("c"),
          col("f.band") === col("c.band") && col("f.chunk") === col("c.chunk"))
        .select(col("f.id").as("id_new"), col("c.id").as("id_corpus"))
        .distinct()
    lazy val tokenDial: Dial = Dial("tokens", "tokens", rowsPerBand = 2, dims = 0,
      (n, from) => spark.range(from, from + n).select(col("id").as("doc_id"),
        tokens("id % 100 = 0", "'u', id")),
      seed => freshIds(seed).select(col("doc_id"), tokens("id < 2", "'f', id")),
      (n, f) => Dedup.incrementalNearDupCandidates(tokenDial.corpus(n, 0L), f,
        "doc_id", "tokens", 4, 2))
    lazy val srpDial: Dial = Dial("srp", "vec", rowsPerBand = 16, dims = dims,
      (n, from) => spark.range(from, from + n).select(col("id").as("doc_id"),
        vec("id % 100 = 0", "(id % 48)")),
      seed => freshIds(seed).select(col("doc_id"), vec("id < 2", "(48 + id)")),
      (n, f) => blocking(bands(srpDial.corpus(n, 0L), srpDial), f, srpDial))

    // (pair count, id checksum), and the band scans' footprint
    def summarize(df: DataFrame): ((Long, Long), (Long, Long)) = {
      val (rows, footprint) =
        scanned(df.agg(count(lit(1)), sum(col("id_new") * 31 + col("id_corpus"))), Some("bands"))
      val r = rows.head
      ((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)), footprint)
    }

    def run(d: Dial): Summary = {
      val results = ns.map { n =>
        n -> withScratch(s"graft_pbi_${d.name}_$n") { root =>
          val dir = s"$root/st"
          def screen(f: DataFrame) = BandedIndex.screen(f, "doc_id", d.payload, dir)
          def fullScan(f: DataFrame) =
            blocking(BandedIndex.liveBands(spark, dir).get, f, d)
          val tBuild = timed(spark, s"${d.name}_build corpus=$n", 1) { _ =>
            BandedIndex.build(d.corpus(n, 0L), "doc_id", d.payload, dir,
              nBands = 4, rowsPerBand = d.rowsPerBand, buckets = B, dims = d.dims): Unit
          }
          // equal-results check once, outside the timers
          val f0 = d.fresh(0)
          val (viaState, (fP, bP)) = summarize(screen(f0))
          val (viaFull, (fF, bF)) = summarize(fullScan(f0))
          val (viaOneShot, _) = summarize(d.oneShot(n, f0))
          require(viaState == viaFull && viaState == viaOneShot && viaState._1 > 0,
            s"${d.name} pruned/full/one-shot disagree at n=$n: " +
              s"$viaState / $viaFull / $viaOneShot")
          val tS = timed(spark, s"${d.name}_screen_pruned corpus=$n", reps) { i =>
            screen(d.fresh(i)).collect(): Unit
          }
          val tFu = timed(spark, s"${d.name}_screen_fullscan corpus=$n", reps) { i =>
            fullScan(d.fresh(i)).collect(): Unit
          }
          val tR = timed(spark, s"${d.name}_refresh corpus=$n", reps) { i =>
            BandedIndex.refresh(d.corpus(2000, n + i.toLong * 2000),
              "doc_id", d.payload, dir, deltaId = s"rep$i"): Unit
          }
          Seq("build" -> tBuild, "screen_pruned" -> tS, "screen_fullscan" -> tFu,
            "refresh_2k" -> tR, "scan_files_pruned" -> fP, "scan_files_fullscan" -> fF,
            "scan_mb_pruned" -> bP / 1e6, "scan_mb_fullscan" -> bF / 1e6,
            "n_candidates" -> viaState._1)
        }
      }
      Seq("dims" -> d.dims) ++ bySize(results)
    }
    Seq("metric" -> "banded_index_screen_by_corpus", "buckets" -> B,
      "tokens" -> run(tokenDial), "srp" -> run(srpDial))
  }

  /** `cluster [sizes] [batch] [reps]`: is `ClusterState.refresh` flat in
    * CORPUS size? Round 10 flagged the old implementation's one
    * weakness — it `localCheckpoint`ed the full (id, label) table per
    * batch, a corpus-sized read AND write per ingest at 10¹¹ docs.
    * Round 11 replaced it with ONE scan of the stored table against a
    * broadcast delta-bounded probe (endpoint ids + overlap guard share
    * it) and delta-bounded writes. This measures what remains:
    * per-refresh wall time for a FIXED batch against stored label
    * tables of growing corpus size (built once per size, outside the
    * timer), and the same for a fixed 100-victim delete. The remaining
    * growth is the unavoidable one read of the label parquet; there is
    * no corpus-sized materialization or write anywhere
    * (ClusterStateSpec plan-asserts exactly that with the listener
    * capture).
    *
    * Sizes default `1000000,3000000,10000000`; batch 1000; reps 3.
    */
  def cluster(spark: SparkSession, args: Seq[String]): Summary = {
    val batch = arg(args, 1, "1000").toInt
    val reps = arg(args, 2, "3").toInt
    val results = sizes(args, "1000000,3000000,10000000").map { n =>
      n -> withScratch(s"graft_pcr_$n") { root =>
        val dir = s"$root/st"
        // corpus of n docs with a sparse planted pair structure (every
        // 1000th doc pairs with its neighbor) — label-table size is the
        // variable under test, cluster structure is constant
        val ids = spark.range(n).select(col("id"))
        val pairs = spark.range(n / 1000)
          .select((col("id") * 1000).as("id_a"), (col("id") * 1000 + 1).as("id_b"))
        ClusterState.build(ids, "id", pairs, dir) // outside the timer
        val tR = timed(spark, s"refresh corpus=$n", reps) { i =>
          // a FIXED-size batch of new docs, half pairing into the stored
          // corpus (forces the endpoint projection + a remap check), ids
          // disjoint per rep (the overlap guard is part of the timed path)
          val base = n + i.toLong * batch * 2
          val newIds = spark.range(base, base + batch).select(col("id"))
          val newPairs = spark.range(base, base + batch / 2)
            .select(col("id").as("id_a"), ((col("id") - base) * 997 % n).as("id_b"))
          ClusterState.refresh(newIds, "id", newPairs, dir, deltaId = s"rep$i"): Unit
        }
        // the decremental path: a fixed 100-victim erasure batch hitting
        // the planted pairs (forces the cluster-local re-CC, not just the
        // removals write) — two label scans + one edge scan per delete
        val tD = timed(spark, s"delete corpus=$n", reps) { i =>
          val victims = spark.range(100)
            .select((col("id") * 1000 + (if (i % 2 == 0) 0 else 1)
              + i.toLong / 2 * 200000).as("id"))
          ClusterState.delete(victims, dir, deltaId = s"del$i"): Unit
        }
        Seq("median" -> tR, "delete_median" -> tD)
      }
    }
    Seq("metric" -> "cluster_refresh_sec_by_corpus", "batch" -> batch) ++ bySize(results)
  }

  /** `exactsubstr [nDocs] [docLen] [L] [reps]`: ExactSubstr at the
    * PAPER's dial. The catalog exercises L = 6/8 on ~50-token testdata
    * docs (q268/q274); Lee et al. run L ≈ 50 tokens on web corpora with
    * documents orders of magnitude longer. This measures the operator
    * where the window explode actually hurts — synthetic documents of
    * `docLen` tokens with a planted 100-token boilerplate block
    * (positions 500-599) in every 10th doc — at L = 50: build (window
    * hash + count + state write), a 2%-delta refresh, and the full span
    * pass, plus the row counts that size the shuffles (n−L+1 windows
    * per doc; the hash equi-join is the only corpus-sized exchange;
    * islands merge per-doc).
    *
    * Defaults 10000 × 2000 tokens at L = 50 (≈ 19.5M windows, ~2×
    * sf0.1's token volume), reps 3.
    */
  def exactSubstr(spark: SparkSession, args: Seq[String]): Summary = {
    val nDocs = arg(args, 0, "10000").toLong
    val docLen = arg(args, 1, "2000").toInt
    val l = arg(args, 2, "50").toInt
    val reps = arg(args, 3, "3").toInt
    // deterministic corpus: 6-hex tokens unique per (doc, position);
    // every 10th doc carries the shared boilerplate block — the
    // cross-document duplication the method exists to excise.
    // Materialized once — generation is outside every timer.
    val toks = spark.range(nDocs).select(col("id").as("doc_id"),
        expr(s"""transform(sequence(1, $docLen), j ->
          CASE WHEN id % 10 = 0 AND j BETWEEN 500 AND 599
               THEN substr(md5(concat('b:', j)), 1, 6)
               ELSE substr(md5(concat('d:', id, ':', j)), 1, 6) END)""")
          .as("tokens"))
      .repartition(partitions(spark))
      .localCheckpoint()
    val hist = toks.where(col("doc_id") % 50 =!= 7)
    val delta = toks.where(col("doc_id") % 50 === 7) // the 2% batch

    val nWindows = ExactSubstr.windowHashes(toks, "doc_id", "tokens", l).count()
    withScratch("graft_pes") { root =>
      var dirs = 0
      def freshDir(): String = { dirs += 1; s"$root/st$dirs" }
      val tBuild = timed(spark, "build", reps) { _ =>
        ExactSubstr.build(hist, "doc_id", "tokens", l, freshDir()): Unit
      }
      // each refresh rep gets its own pre-built state (built OUTSIDE the
      // timer) — re-committing the same delta into one dir would
      // double-count its windows and pollute the span measurement below
      val rdirs = (1 to reps).map { _ =>
        val d = freshDir()
        ExactSubstr.build(hist, "doc_id", "tokens", l, d)
        d
      }
      val tRefresh = timed(spark, "refresh_2pct", reps) { i =>
        ExactSubstr.refresh(delta, "doc_id", "tokens", rdirs(i - 1), deltaId = "d1"): Unit
      }
      val rdir = rdirs.head // exactly one refresh applied
      val nDup = ExactSubstr.dupHashes(spark, rdir).count()
      var spanRows = 0L
      val tSpans = timed(spark, "spans_full", reps) { _ =>
        spanRows = ExactSubstr.spans(toks, "doc_id", "tokens", l,
          ExactSubstr.dupHashes(spark, rdir)).count()
      }
      Seq("metric" -> s"exactsubstr_at_L$l", "n_docs" -> nDocs, "doc_len" -> docLen,
        "n_windows" -> nWindows, "n_dup_hashes" -> nDup, "n_spans" -> spanRows,
        "build_sec" -> tBuild, "refresh_sec" -> tRefresh, "spans_sec" -> tSpans)
    }
  }

  /** `rank [nTypes] [reps]`: the q216 crossover measurement. Round 9
    * rewrote q216's vocabulary rank from a global `ROW_NUMBER` window
    * over the FULL vocabulary counter to `orderBy().limit(10000)`
    * (TakeOrderedAndProject) + ExactRank inside the bounded table — a
    * deliberate scale-safety trade that costs ~1.6× at sf0.1 (the
    * range-partition pass outweighs a toy window) and is supposed to
    * WIN once the vocabulary is big enough that a single-task global
    * sort is the bottleneck. The catalog bench never demonstrates the
    * crossover (sf0.1's vocabulary is ~50k types); this does, on a
    * synthetic Zipf-shaped vocabulary counter of `nTypes` types
    * (default 2×10⁷ — the sf1-ish regime; web corpora reach 10⁸–10⁹,
    * where the windowed plan's single ordered task is simply not
    * runnable).
    *
    * Both plans compute the identical q216 tail (top-10000 ranks →
    * coverage at k ∈ {1,…,10000}) from the same materialized counter,
    * so the measured delta is exactly the rank strategy. Reps default 3.
    */
  def rank(spark: SparkSession, args: Seq[String]): Summary = {
    val n = arg(args, 0, "20000000").toLong
    val reps = arg(args, 1, "3").toInt
    // Zipf-shaped counter: cnt(i) = n/(i+1), md5-keyed tokens so the
    // (cnt desc, token) order is not the generation order. Materialized
    // once — generation cost is outside both timers.
    val vc = spark.range(n).select(
        md5(concat(lit("t"), col("id"))).as("token"),
        (lit(n) / (col("id") + 1)).cast("long").as("cnt"))
      .repartition(partitions(spark))
      .localCheckpoint()
    val ks = spark.range(1)
      .select(explode(expr("array(1L, 10L, 100L, 1000L, 10000L)")).as("k"))

    def coverageTail(ranked: DataFrame): DataFrame =
      broadcast(ks).join(ranked, col("rk") <= col("k"))
        .groupBy("k").agg(sum("cnt").cast("long").as("covered"))
        .orderBy("k")

    def bounded(): DataFrame = {
      val top = vc.orderBy(col("cnt").desc, col("token")).limit(10000)
      val (ranked, _) = graft.operators.ExactRank.withRowNumber(
        top, Seq(col("cnt").desc, col("token")), "rk")
      coverageTail(ranked)
    }

    def windowed(): DataFrame = {
      val w = Window.orderBy(col("cnt").desc, col("token"))
      coverageTail(vc.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 10000))
    }

    // equal-results sanity before timing (also warms both paths)
    val a = bounded().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = windowed().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    require(a == b, s"plans disagree: $a vs $b")

    def time(tag: String)(mk: () => DataFrame): Double =
      timed(spark, tag, reps) { _ => mk().write.mode("overwrite").format("noop").save() }
    val tb = time("bounded")(bounded _)
    val tw = time("windowed")(windowed _)
    Seq("metric" -> "rank_bounded_vs_windowed", "n_types" -> n,
      "coverage" -> a.map { case (k, c) => k.toString -> c },
      "bounded_sec" -> tb, "windowed_sec" -> tw,
      "ratio_windowed_over_bounded" -> tw / tb)
  }
}
