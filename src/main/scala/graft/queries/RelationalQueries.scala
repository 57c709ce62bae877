package graft.queries

import graft.{QueryDef, ScratchDirs, Tables}
import graft.QueryDef.cents
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator coverage over the TPC-H-ish tables: scan,
  * filter+projection pushdown, inner/outer/semi/anti/cross/broadcast
  * joins, global and grouped aggregation, rollup, union, distinct,
  * top-k, ranking and frame windows (SURVEY.md §2.2-§2.5 and the
  * engine-capability extensions of §2.9/§7).
  */
object RelationalQueries {

  private val epCents   = "CAST(ROUND(l_extendedprice*100) AS BIGINT)"
  private val discPct   = "CAST(ROUND((1-l_discount)*100) AS BIGINT)"
  private val taxPct    = "CAST(ROUND((1+l_tax)*100) AS BIGINT)"

  val defs: Seq[QueryDef] = Seq(

    // ---- q01: TPC-H Q1-style pricing summary: scan + filter + group agg.
    QueryDef("q01_pricing_summary", Some(s"""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
             CAST(SUM($epCents) AS BIGINT) / 100.0 AS sum_base_price,
             CAST(SUM($epCents * $discPct) AS BIGINT) / 10000.0 AS sum_disc_price,
             CAST(SUM($epCents * $discPct * $taxPct) AS BIGINT) / 1000000.0 AS sum_charge,
             AVG(l_quantity) AS avg_qty,
             COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
      (s, dir) => {
        val ep = cents(col("l_extendedprice"))
        val dp = cents(lit(1) - col("l_discount"))
        val tp = cents(lit(1) + col("l_tax"))
        Tables.read(s, dir, "lineitem")
          .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum("l_quantity").cast("long").as("sum_qty"),
            (sum(ep) / 100.0).as("sum_base_price"),
            (sum(ep * dp) / 10000.0).as("sum_disc_price"),
            (sum(ep * dp * tp) / 1000000.0).as("sum_charge"),
            avg("l_quantity").as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      }),

    // ---- q02: TPC-H Q6-style: selective filter → global agg. The scan
    // must show PushedFilters on l_shipdate/l_quantity.
    QueryDef("q02_revenue_filter", Some(s"""
      SELECT CAST(SUM($epCents * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
             COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
        AND l_quantity < 24"""),
      (s, dir) =>
        Tables.read(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
            && col("l_discount").between(0.05, 0.07)
            && col("l_quantity") < 24)
          .agg((sum(cents(col("l_extendedprice")) * cents(col("l_discount"))) / 10000.0).as("revenue"),
               count(lit(1)).as("n"))),

    // ---- q03: TPC-H Q3-style 3-way join + grouped agg + deterministic top-10.
    QueryDef("q03_top_orders", Some(s"""
      SELECT o_orderkey,
             CAST(SUM($epCents * $discPct) AS BIGINT) / 10000.0 AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1997-01-01'
        AND l_shipdate  > TIMESTAMP '1997-01-01'
      GROUP BY o_orderkey
      ORDER BY CAST(SUM($epCents * $discPct) AS BIGINT) DESC, o_orderkey
      LIMIT 10"""),
      (s, dir) => {
        val c = Tables.read(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        val o = Tables.read(s, dir, "orders")
          .where(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val l = Tables.read(s, dir, "lineitem")
          .where(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey")
          .agg(sum(cents(col("l_extendedprice")) * cents(lit(1) - col("l_discount"))).as("rc"))
          .orderBy(col("rc").desc, col("o_orderkey"))
          .limit(10)
          .select(col("o_orderkey"), (col("rc") / 10000.0).as("revenue"))
      }),

    // ---- q04: left outer join keeping customers with zero orders,
    // then a second aggregation over the first (orders-per-customer histogram).
    QueryDef("q04_order_count_histogram", Some("""
      SELECT n_orders, COUNT(*) AS n_customers
      FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey)
      GROUP BY n_orders ORDER BY n_orders"""),
      (s, dir) =>
        Tables.read(s, dir, "customer")
          .join(Tables.read(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey").agg(count(col("o_orderkey")).as("n_orders"))
          .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
          .orderBy("n_orders")),

    // ---- q05: left-semi join (EXISTS).
    QueryDef("q05_semi_join", Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey"""),
      (s, dir) =>
        Tables.read(s, dir, "customer")
          .join(Tables.read(s, dir, "orders").where(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name").orderBy("c_custkey")),

    // ---- q06: left-anti join (NOT EXISTS).
    QueryDef("q06_anti_join", Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      ORDER BY c_custkey"""),
      (s, dir) =>
        Tables.read(s, dir, "customer")
          .join(Tables.read(s, dir, "orders").where(col("o_totalprice") > 400000),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name").orderBy("c_custkey")),

    // ---- q07: cartesian product (reference J1, EntityResolution.scala:149).
    QueryDef("q07_cross_join", Some("""
      SELECT n_name, r_name FROM nation CROSS JOIN region
      ORDER BY n_name, r_name"""),
      (s, dir) =>
        Tables.read(s, dir, "nation").select("n_name")
          .crossJoin(Tables.read(s, dir, "region").select("r_name"))
          .orderBy("n_name", "r_name")),

    // ---- q08: broadcast hash join (small dim → hint; reference J5).
    QueryDef("q08_broadcast_join", Some(s"""
      SELECT p_brand,
             CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
             CAST(SUM($epCents) AS BIGINT) / 100.0 AS sum_price,
             COUNT(*) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""),
      (s, dir) =>
        Tables.read(s, dir, "lineitem")
          .join(broadcast(Tables.read(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(sum("l_quantity").cast("long").as("sum_qty"),
               (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_price"),
               count(lit(1)).as("n"))
          .orderBy("p_brand")),

    // ---- q09: UNION ALL (bag semantics — reference U1).
    QueryDef("q09_union", Some("""
      SELECT bucket, o_orderkey FROM (
        SELECT 'high' AS bucket, o_orderkey FROM orders WHERE o_totalprice > 450000
        UNION ALL
        SELECT 'low' AS bucket, o_orderkey FROM orders WHERE o_totalprice < 5000)
      ORDER BY bucket, o_orderkey"""),
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
        o.where(col("o_totalprice") > 450000).select(lit("high").as("bucket"), col("o_orderkey"))
          .union(o.where(col("o_totalprice") < 5000).select(lit("low").as("bucket"), col("o_orderkey")))
          .orderBy("bucket", "o_orderkey")
      }),

    // ---- q10: DISTINCT.
    QueryDef("q10_distinct", Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus"""),
      (s, dir) =>
        Tables.read(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
          .distinct().orderBy("l_returnflag", "l_linestatus")),

    // ---- q11: top-k by stored column with tiebreak (reference A3).
    QueryDef("q11_topk", Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
      (s, dir) =>
        Tables.read(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),

    // ---- q12: ranking window — top-3 customers per segment.
    QueryDef("q12_window_rank", Some("""
      SELECT c_mktsegment, rk, c_custkey, c_acctbal FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rk
        FROM customer)
      WHERE rk <= 3 ORDER BY c_mktsegment, rk"""),
      (s, dir) => {
        val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
        Tables.read(s, dir, "customer")
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
          .select("c_mktsegment", "rk", "c_custkey", "c_acctbal")
          .orderBy("c_mktsegment", "rk")
      }),

    // ---- q13: frame window — running total per customer (scaled ints → exact).
    QueryDef("q13_window_running", Some("""
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
               AS running_total
      FROM orders WHERE o_custkey < 50
      ORDER BY o_custkey, o_orderkey"""),
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.read(s, dir, "orders").where(col("o_custkey") < 50)
          .select(col("o_custkey"), col("o_orderkey"),
            (sum(cents(col("o_totalprice"))).over(w) / 100.0).as("running_total"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // ---- q16: ROLLUP grouping sets.
    QueryDef("q16_rollup", Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
      (s, dir) =>
        Tables.read(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").cast("long").as("sum_qty"), count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ---- q17: CASE + math scalar functions.
    QueryDef("q17_case_math", Some(s"""
      SELECT CASE WHEN l_quantity < 10 THEN 'small'
                  WHEN l_quantity < 30 THEN 'mid' ELSE 'big' END AS bucket,
             COUNT(*) AS n,
             CAST(SUM($epCents) AS BIGINT) / 100.0 AS sum_price,
             ROUND(SUM(SQRT(l_quantity)), 4) AS sum_sqrt_qty
      FROM lineitem GROUP BY 1 ORDER BY bucket"""),
      (s, dir) =>
        Tables.read(s, dir, "lineitem")
          .withColumn("bucket",
            when(col("l_quantity") < 10, "small")
              .when(col("l_quantity") < 30, "mid").otherwise("big"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
               (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_price"),
               round(sum(sqrt(col("l_quantity"))), 4).as("sum_sqrt_qty"))
          .orderBy("bucket")),

    // ---- q18: date-part extraction + agg.
    QueryDef("q18_orders_by_month", Some("""
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
             CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mth,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS total
      FROM orders GROUP BY 1, 2 ORDER BY yr, mth"""),
      (s, dir) =>
        Tables.read(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mth"))
          .agg(count(lit(1)).as("n"), (sum(cents(col("o_totalprice"))) / 100.0).as("total"))
          .orderBy("yr", "mth")),

    // ---- q49: CUBE grouping sets (all 4 combinations).
    QueryDef("q49_cube", Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
      (s, dir) =>
        Tables.read(s, dir, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").cast("long").as("sum_qty"), count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ---- q50: EXCEPT set difference (distinct semantics; reference U2,
    // the commented-out subtract — EntityResolution.scala:226).
    QueryDef("q50_except", Some("""
      SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      EXCEPT
      SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
      ORDER BY o_custkey"""),
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
        o.where(year(col("o_orderdate")) === 1995).select("o_custkey")
          .except(o.where(year(col("o_orderdate")) === 1996).select("o_custkey"))
          .orderBy("o_custkey")
      }),

    // ---- q57: exact interpolated percentiles (both engines use linear
    // interpolation on the sorted values → bit-comparable after round).
    QueryDef("q57_percentiles", Some("""
      SELECT l_returnflag,
             ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
             ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
             ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      (s, dir) =>
        Tables.read(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
               round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
               round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99_price"))
          .orderBy("l_returnflag")),

    // ---- q86: the sketch twin of q57 as an oracle-checked row — exact
    // percentiles (DuckDB-verifiable) PLUS booleans asserting the
    // mergeable approx_percentile sketch landed within its calibrated
    // bound of them. The approx value itself is engine-specific and
    // never emitted; what the oracle locks is the exact answer and the
    // bound-satisfaction contract — the measured license to swap the
    // sketch in at 100 TB, where exact percentile's per-group value
    // buffer stops being an option (ApproxPercentileSpec measures the
    // same bound as a spec). Bounds are comparison-only (no division,
    // no /0 edge): |approx − exact| ≤ 1.0 qty, ≤ 1% relative price.
    QueryDef("q86_approx_percentile_bound", Some("""
      SELECT l_returnflag,
             ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
             ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price,
             TRUE AS p50_within_1, TRUE AS p99_within_1pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      (s, dir) =>
        Tables.read(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(expr("percentile(l_quantity, 0.5)").as("p50_exact"),
            expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50_approx"),
            expr("percentile(l_extendedprice, 0.99)").as("p99_exact"),
            expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("p99_approx"))
          .select(col("l_returnflag"),
            round(col("p50_exact"), 6).as("p50_qty"),
            round(col("p99_exact"), 6).as("p99_price"),
            (abs(col("p50_approx") - col("p50_exact")) <= 1.0).as("p50_within_1"),
            (abs(col("p99_approx") - col("p99_exact")) <= col("p99_exact") * 0.01)
              .as("p99_within_1pct"))
          .orderBy("l_returnflag")),

    // ---- q58: pivot (long → wide): order counts per status column.
    QueryDef("q58_pivot", Some("""
      SELECT o_orderpriority,
             COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
             COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
             COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      (s, dir) =>
        Tables.read(s, dir, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select(col("o_orderpriority"),
            coalesce(col("F"), lit(0L)).as("n_f"),
            coalesce(col("O"), lit(0L)).as("n_o"),
            coalesce(col("P"), lit(0L)).as("n_p"))
          .orderBy("o_orderpriority")),

    // ---- q54: grouped array aggregation (reference A8 groupByKey →
    // Iterable shape — the similarity path deliberately fuses it away,
    // so it gets first-class coverage here; sorted for determinism).
    QueryDef("q54_collect_list", Some("""
      SELECT o_custkey,
             array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys,
             COUNT(*) AS n
      FROM orders WHERE o_orderstatus = 'P'
      GROUP BY o_custkey ORDER BY o_custkey"""),
      (s, dir) =>
        Tables.read(s, dir, "orders")
          .where(col("o_orderstatus") === "P")
          .groupBy("o_custkey")
          // sorted then serialized: list columns don't hash-compare
          .agg(concat_ws(",", array_sort(collect_list(col("o_orderkey")))).as("orderkeys"),
               count(lit(1)).as("n"))
          .orderBy("o_custkey")),

    // ---- q55: INTERSECT (distinct set intersection).
    QueryDef("q55_intersect", Some("""
      SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      INTERSECT
      SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
      ORDER BY o_custkey"""),
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
        o.where(year(col("o_orderdate")) === 1995).select("o_custkey")
          .intersect(o.where(year(col("o_orderdate")) === 1996).select("o_custkey"))
          .orderBy("o_custkey")
      }),

    // ---- q126: salted equi-join IN THE GATE — the skew-mitigation
    // operator (replicate-and-salt; operators.SaltedJoin) answering a
    // real query, with the DuckDB oracle running the PLAIN join: the
    // salt must be invisible in the result, and this row proves it
    // against the hash compare every round, not just in a spec. Revenue
    // sums ride exact cents; the salted shape bounds any one hot
    // orderkey's rows to nSalts reducers.
    QueryDef("q126_salted_join", Some("""
      SELECT o.o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               / 100.0 AS sum_price
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"""),
      (s, dir) => {
        val l = Tables.read(s, dir, "lineitem")
          .select(col("l_orderkey").as("okey"),
            QueryDef.cents(col("l_extendedprice")).as("cents"))
        val o = Tables.read(s, dir, "orders")
          .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
        graft.operators.SaltedJoin.saltedEquiJoin(l, o, "okey", nSalts = 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), (sum("cents") / 100.0).as("sum_price"))
          .orderBy("o_orderpriority")
      }),

    // ---- q130: winsorized mean — the outlier-robust location estimate a
    // quality pipeline reports instead of the raw mean (one corrupted
    // price record can't move it). Values are clamped to the group's
    // [p05, p95] before averaging, but the whole computation stays
    // EXACT: the mid-range rows sum as integer cents (order-free), the
    // clamped tails contribute count×bound (one IEEE multiply each), and
    // the final combination is the identical left-associated expression
    // tree in both engines — no rounding anywhere. The percentile bounds
    // themselves reuse the q57-proven interpolated-percentile parity.
    //
    // Scale shape: two hash aggregates over lineitem plus one broadcast
    // join of the 3-row bounds table — no window, no sort; at 100 TB the
    // exact percentile pass swaps for the q86-calibrated sketch.
    QueryDef("q130_winsorized_mean", Some("""
      WITH c AS (SELECT l_returnflag AS flag,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
                 FROM lineitem),
      b AS (SELECT flag, quantile_cont(c, 0.05) AS lo, quantile_cont(c, 0.95) AS hi
            FROM c GROUP BY flag),
      g AS (SELECT c.flag, COUNT(*) AS n,
              CAST(SUM(CASE WHEN c.c >= b.lo AND c.c <= b.hi THEN c.c
                            ELSE 0 END) AS BIGINT) AS mid_sum,
              COUNT(CASE WHEN c.c < b.lo THEN 1 END) AS n_lo,
              COUNT(CASE WHEN c.c > b.hi THEN 1 END) AS n_hi,
              MIN(b.lo) AS lo, MIN(b.hi) AS hi
            FROM c JOIN b ON b.flag = c.flag
            GROUP BY c.flag)
      SELECT flag, n, n_lo, n_hi,
             lo / 100.0 AS lo_price, hi / 100.0 AS hi_price,
             ((mid_sum + n_lo * lo + n_hi * hi) / n) / 100.0 AS win_mean
      FROM g ORDER BY flag"""),
      (s, dir) => {
        val c = Tables.read(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            QueryDef.cents(col("l_extendedprice")).as("c"))
        val b = c.groupBy("flag")
          .agg(expr("percentile(c, 0.05)").as("lo"),
               expr("percentile(c, 0.95)").as("hi"))
        c.join(broadcast(b), "flag")
          .groupBy("flag")
          .agg(count(lit(1)).as("n"),
            sum(when(col("c") >= col("lo") && col("c") <= col("hi"), col("c"))
              .otherwise(0L)).as("mid_sum"),
            count(when(col("c") < col("lo"), 1)).as("n_lo"),
            count(when(col("c") > col("hi"), 1)).as("n_hi"),
            min(col("lo")).as("lo"), min(col("hi")).as("hi"))
          .select(col("flag"), col("n"), col("n_lo"), col("n_hi"),
            (col("lo") / 100.0).as("lo_price"), (col("hi") / 100.0).as("hi_price"),
            ((col("mid_sum") + col("n_lo") * col("lo") + col("n_hi") * col("hi"))
              / col("n") / 100.0).as("win_mean"))
          .orderBy("flag")
      }),

    // ---- q148: HyperLogLog distinct-count sketch WITH shard merge,
    // both under the gate — the distinct-count member of the portable
    // sketch family (q142/q146 CMS frequencies): per returnflag,
    // estimate |distinct (partkey, suppkey)| from 1024 max-rank
    // registers instead of shuffling every distinct key. The register
    // table, the split-long harmonic sum (s_hi, s_lo) and the estimate
    // hash-match DuckDB exactly (functions.HyperLogLog's md5 bit
    // chain; only the linear-counting ln gets round 6); the estimator
    // crosses regimes with SF — linear counting at sf0.001 (~1.2k
    // distinct < 2.5m), raw HLL at sf0.01/0.1 (19k/199k) — so all
    // branches are gate-covered. merge_drift counts register cells
    // where max-merged shard sketches (l_orderkey parity) differ from
    // the monolithic build; its all-zero hash match proves register
    // MAX mergeability — build where the 100 TB lives, ship m rows.
    // Since round 7 the estimator also removes the HLL++ mid-range
    // bias (self-derived knot table shared by both engines — see
    // functions.HyperLogLog.biasKnots), so the 4σ band below holds
    // across the 2.5m..4.2m crossover too, not just at the gated SFs.
    // err_ok bounds |est − exact| ≤ 13% (4σ at m=1024; measured ≤3.2%
    // across the 3 SFs).
    QueryDef("q148_hll_distinct", Some({
      import graft.functions.HyperLogLog.{hashCtesSql, estimateSql}
      val m = 1024
      s"""WITH li AS (SELECT l_returnflag, l_orderkey,
                        l_partkey || '-' || l_suppkey AS item
                      FROM lineitem),
      ${hashCtesSql("item", "li", "l_returnflag", m, "w").trim},
      regsW AS (SELECT l_returnflag, j, MAX(rho) AS mreg FROM wr GROUP BY 1, 2),
      ${hashCtesSql("item", "(SELECT * FROM li WHERE l_orderkey % 2 = 0)",
        "l_returnflag", m, "a").trim},
      regsA AS (SELECT l_returnflag, j, MAX(rho) AS mreg FROM ar GROUP BY 1, 2),
      ${hashCtesSql("item", "(SELECT * FROM li WHERE l_orderkey % 2 = 1)",
        "l_returnflag", m, "b").trim},
      regsB AS (SELECT l_returnflag, j, MAX(rho) AS mreg FROM br GROUP BY 1, 2),
      regsM AS (SELECT l_returnflag, j, MAX(mreg) AS mreg
                FROM (SELECT * FROM regsA UNION ALL SELECT * FROM regsB)
                GROUP BY 1, 2),
      drift AS (SELECT COALESCE(a.l_returnflag, w.l_returnflag) AS l_returnflag,
                  CAST(SUM(CASE WHEN COALESCE(a.mreg, -1) <> COALESCE(w.mreg, -1)
                                THEN 1 ELSE 0 END) AS BIGINT) AS merge_drift
                FROM regsM a FULL OUTER JOIN regsW w
                  ON a.l_returnflag = w.l_returnflag AND a.j = w.j
                GROUP BY 1),
      ex AS (SELECT l_returnflag, COUNT(DISTINCT item) AS exact_distinct
             FROM li GROUP BY 1),
      est AS (${estimateSql("SELECT * FROM regsW", "l_returnflag", m).trim})
      SELECT e.l_returnflag, e.v0, e.n_present, e.s_hi, e.s_lo, e.est,
             x.exact_distinct,
             ABS(e.est - x.exact_distinct) <= x.exact_distinct * 0.13 AS err_ok,
             d.merge_drift
      FROM est e JOIN ex x USING (l_returnflag) JOIN drift d USING (l_returnflag)
      ORDER BY l_returnflag"""
    }),
      (s, dir) => {
        import graft.functions.HyperLogLog
        val m = 1024
        // 2 consumers (exact count + hash step): materialize the
        // projected item table once, not once per branch
        val li = Tables.read(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"),
            concat_ws("-", col("l_partkey"), col("l_suppkey")).as("item"))
          .localCheckpoint()
        val keys = Seq("l_returnflag")
        // ONE materialized (j, rho) projection serves the shard AND
        // whole register builds: the lazy form re-ran the md5 register/
        // rank chain in each consumer's eager agg (two hash passes);
        // checkpointing the projection itself makes both aggs cheap
        // scans of cached primitive rows (guide §1.2 — don't recompute;
        // shard/whole registers still aggregate INDEPENDENTLY, so the
        // merge-drift gate still compares two genuinely separate builds)
        val hashed = li.select(col("l_returnflag"),
            (col("l_orderkey") % 2).as("par"),
            HyperLogLog.register(col("item"), m).as("j"),
            HyperLogLog.rank(col("item")).as("rho"))
          .localCheckpoint()
        val shardRegs = hashed
          .groupBy(col("l_returnflag"), col("par"), col("j"))
          .agg(max("rho").as("mreg"))
          .localCheckpoint() // 2 consumers: shard A and shard B
        val skA = shardRegs.where(col("par") === 0).drop("par")
        val skB = shardRegs.where(col("par") === 1).drop("par")
        val merged = HyperLogLog.merge(skA, skB)
        val whole = hashed.groupBy(col("l_returnflag"), col("j"))
          .agg(max("rho").as("mreg"))
          .localCheckpoint() // 2 consumers: drift compare + estimate
        val drift = merged.withColumnRenamed("mreg", "m_merged")
          .join(whole.withColumnRenamed("mreg", "m_whole"),
            Seq("l_returnflag", "j"), "full_outer")
          .groupBy("l_returnflag")
          .agg(sum(when(coalesce(col("m_merged"), lit(-1)) =!=
              coalesce(col("m_whole"), lit(-1)), 1L).otherwise(0L))
            .as("merge_drift"))
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct("item").as("exact_distinct"))
        HyperLogLog.estimate(whole, keys, m)
          .join(exact, "l_returnflag").join(drift, "l_returnflag")
          .select(col("l_returnflag"), col("v0"), col("n_present"),
            col("s_hi"), col("s_lo"), col("est"), col("exact_distinct"),
            (abs(col("est") - col("exact_distinct")) <=
              col("exact_distinct") * 0.13).as("err_ok"),
            col("merge_drift"))
          .orderBy("l_returnflag")
      }),

    // ---- q152: mergeable bucket-histogram quantiles — the quantile
    // member of the portable sketch family (q142/q146 frequencies,
    // q148/q150 distinct counts): per returnflag, $500-wide counters
    // over price cents answer the median and p95 with error bounded by
    // the bucket width BY CONSTRUCTION. Unlike the engine-opaque
    // approx twins (q57's exact vs q86's approx_percentile bound),
    // every row here is pure long arithmetic — counters, ceil-ranks as
    // (p_num·n + p_den − 1) div p_den, bucket edges — so the sketch
    // STATE and the answer both hash-match with NO rounding anywhere.
    // merge_drift proves counter-ADDITION mergeability (shard builds by
    // l_orderkey parity vs the monolithic build, all-zero cells);
    // quantile_lo/hi_ok are the exact integer count argument that the
    // TRUE p-quantile lies inside the reported bucket: at least qrank
    // values sit at or below the upper edge AND fewer than qrank below
    // the lower edge. The cumsum window runs over the counter table
    // (≤ range/width rows per flag — bounded by the dial, not the
    // corpus; the q43 window adjudication).
    QueryDef("q152_hist_quantile_merge", Some(s"""
      WITH li AS (SELECT l_returnflag, l_orderkey % 2 AS par,
                    $epCents AS cv
                  FROM lineitem),
      hw AS (SELECT l_returnflag,
                    (cv - ((cv % 50000) + 50000) % 50000) // 50000 AS bucket,
                    COUNT(*) AS n
             FROM li GROUP BY 1, 2),
      hs AS (SELECT l_returnflag, par,
                    (cv - ((cv % 50000) + 50000) % 50000) // 50000 AS bucket,
                    COUNT(*) AS n
             FROM li GROUP BY 1, 2, 3),
      hm AS (SELECT l_returnflag, bucket, CAST(SUM(n) AS BIGINT) AS n
             FROM hs GROUP BY 1, 2),
      drift AS (SELECT COALESCE(a.l_returnflag, b.l_returnflag) AS l_returnflag,
                  CAST(SUM(CASE WHEN COALESCE(a.n, -1) <> COALESCE(b.n, -1)
                                THEN 1 ELSE 0 END) AS BIGINT) AS merge_drift
                FROM hm a FULL OUTER JOIN hw b
                  ON a.l_returnflag = b.l_returnflag AND a.bucket = b.bucket
                GROUP BY 1),
      tot AS (SELECT l_returnflag, CAST(SUM(n) AS BIGINT) AS n_total
              FROM hw GROUP BY 1),
      cum AS (SELECT l_returnflag, bucket,
                CAST(SUM(n) OVER (PARTITION BY l_returnflag
                                  ORDER BY bucket) AS BIGINT) AS cum
              FROM hw),
      p AS (SELECT * FROM (VALUES (1, 2), (19, 20)) t(p_num, p_den)),
      pick AS (SELECT c.l_returnflag, p.p_num, p.p_den, t.n_total,
                 (p.p_num * t.n_total + p.p_den - 1) // p.p_den AS qrank,
                 MIN(c.bucket) AS bucket
               FROM cum c JOIN tot t USING (l_returnflag) CROSS JOIN p
               WHERE c.cum >= (p.p_num * t.n_total + p.p_den - 1) // p.p_den
               GROUP BY 1, 2, 3, 4, 5),
      chk AS (SELECT k.l_returnflag, k.p_num, k.p_den,
                CAST(SUM(CASE WHEN li.cv < (k.bucket + 1) * 50000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_le_hi,
                CAST(SUM(CASE WHEN li.cv < k.bucket * 50000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_lt_lo
              FROM pick k JOIN li ON li.l_returnflag = k.l_returnflag
              GROUP BY 1, 2, 3)
      SELECT k.l_returnflag, k.p_num, k.p_den, k.n_total, k.qrank, k.bucket,
             k.bucket * 50000 AS lo_cents, (k.bucket + 1) * 50000 AS hi_cents,
             c.n_le_hi >= k.qrank AS quantile_hi_ok,
             c.n_lt_lo < k.qrank AS quantile_lo_ok,
             d.merge_drift
      FROM pick k
      JOIN chk c ON c.l_returnflag = k.l_returnflag
                AND c.p_num = k.p_num AND c.p_den = k.p_den
      JOIN drift d ON d.l_returnflag = k.l_returnflag
      ORDER BY k.l_returnflag, k.p_num, k.p_den"""),
      (s, dir) => {
        import graft.functions.BucketHistogram
        val w = 50000L
        // 3 consumers (whole build, shard builds, bound-check counts)
        val li = Tables.read(s, dir, "lineitem")
          .select(col("l_returnflag"), (col("l_orderkey") % 2).as("par"),
            cents(col("l_extendedprice")).as("cv"))
          .localCheckpoint()
        val whole = BucketHistogram.sketch(li, col("cv"),
            Seq("l_returnflag"), w)
          .localCheckpoint() // 2 consumers: drift compare + quantiles
        val shards = BucketHistogram.sketch(li, col("cv"),
            Seq("l_returnflag", "par"), w)
          .localCheckpoint() // 2 consumers: shard A and shard B
        val merged = BucketHistogram.merge(
          shards.where(col("par") === 0).drop("par"),
          shards.where(col("par") === 1).drop("par"))
        val drift = merged.withColumnRenamed("n", "n_merged")
          .join(whole.withColumnRenamed("n", "n_whole"),
            Seq("l_returnflag", "bucket"), "full_outer")
          .groupBy("l_returnflag")
          .agg(sum(when(coalesce(col("n_merged"), lit(-1L)) =!=
              coalesce(col("n_whole"), lit(-1L)), 1L).otherwise(0L))
            .as("merge_drift"))
        val pick = BucketHistogram.quantiles(whole, Seq("l_returnflag"),
          Seq((1, 2), (19, 20)))
        val chk = broadcast(pick).join(li, "l_returnflag")
          .groupBy("l_returnflag", "p_num", "p_den")
          .agg(sum(when(col("cv") < (col("bucket") + 1) * w, 1L)
              .otherwise(0L)).as("n_le_hi"),
            sum(when(col("cv") < col("bucket") * w, 1L)
              .otherwise(0L)).as("n_lt_lo"))
        pick.join(chk, Seq("l_returnflag", "p_num", "p_den"))
          .join(drift, "l_returnflag")
          .select(col("l_returnflag"), col("p_num"), col("p_den"),
            col("n_total"), col("qrank"), col("bucket"),
            (col("bucket") * w).as("lo_cents"),
            ((col("bucket") + 1) * w).as("hi_cents"),
            (col("n_le_hi") >= col("qrank")).as("quantile_hi_ok"),
            (col("n_lt_lo") < col("qrank")).as("quantile_lo_ok"),
            col("merge_drift"))
          .orderBy("l_returnflag", "p_num", "p_den")
      }),

    // ---- q153: KMV (k minimum values) distinct sketch WITH shard
    // merge — the distinct-SAMPLING member of the portable sketch
    // family (q142/q146 CMS frequencies, q148/q150 HLL counts, q152
    // quantiles): keep the 2048 smallest distinct 60-bit item hashes
    // per returnflag. Unlike HLL the buffer doubles as a uniform
    // sample of the distinct keys (what q154 spends on resemblance).
    // Every output is exact integer algebra plus ONE long→double
    // division (correctly-rounded IEEE in both engines), so the sketch
    // head/tail, the estimate and the drift all hash-match with NO
    // rounding anywhere. Regimes cross with SF exactly like q148:
    // unfilled at sf0.001 (≤1274 distinct < k → est IS the distinct
    // hash count), estimator (k−1)·2^60/h_k at sf0.01/0.1 (19k/199k);
    // err_ok bounds |est − exact| ≤ 10% (4σ ≈ 8.8% at k=2048).
    // merge_drift = 0 proves bottom-k-of-union mergeability: bottom-k
    // of two shard sketches (l_orderkey parity) IS the whole corpus's
    // sketch — build where the 100 TB lives, ship ≤ k longs per key.
    // merged_err_ok gates the merged-shard ESTIMATE separately from
    // drift, so a merge bug mirrored by the whole-side build (drift
    // still 0) is caught by its absolute error against ground truth.
    QueryDef("q153_kmv_distinct", Some({
      import graft.functions.Kmv
      val k = 2048
      s"""WITH li AS (SELECT l_returnflag, l_orderkey % 2 AS par,
                        l_partkey || '-' || l_suppkey AS item
                      FROM lineitem),
      h AS (SELECT l_returnflag, par, ${Kmv.hash60Sql("item")} AS h FROM li),
      whole AS (SELECT l_returnflag, list_sort(list(DISTINCT h))[1:$k] AS kmv
                FROM h GROUP BY 1),
      sa AS (SELECT l_returnflag, list_sort(list(DISTINCT h))[1:$k] AS kmv
             FROM h WHERE par = 0 GROUP BY 1),
      sb AS (SELECT l_returnflag, list_sort(list(DISTINCT h))[1:$k] AS kmv
             FROM h WHERE par = 1 GROUP BY 1),
      m AS (SELECT a.l_returnflag,
              list_sort(list_distinct(a.kmv || b.kmv))[1:$k] AS kmv_m
            FROM sa a JOIN sb b USING (l_returnflag)),
      drift AS (SELECT w.l_returnflag, m.kmv_m,
                  CAST(CASE WHEN w.kmv = m.kmv_m THEN 0 ELSE 1 END AS BIGINT)
                    AS merge_drift
                FROM whole w JOIN m USING (l_returnflag)),
      ex AS (SELECT l_returnflag, COUNT(DISTINCT item) AS exact_distinct
             FROM li GROUP BY 1)
      SELECT w.l_returnflag, CAST(len(w.kmv) AS INTEGER) AS n_slots,
             w.kmv[1] AS h_first, w.kmv[len(w.kmv)] AS h_last,
             ${Kmv.estimateSql("w.kmv", k)} AS est,
             x.exact_distinct,
             ABS(${Kmv.estimateSql("w.kmv", k)} - x.exact_distinct)
               <= x.exact_distinct * 0.1 AS err_ok,
             d.merge_drift,
             ABS(${Kmv.estimateSql("d.kmv_m", k)} - x.exact_distinct)
               <= x.exact_distinct * 0.1 AS merged_err_ok
      FROM whole w JOIN ex x USING (l_returnflag) JOIN drift d USING (l_returnflag)
      ORDER BY w.l_returnflag"""
    }),
      (s, dir) => {
        import graft.functions.Kmv
        val k = 2048
        // 2 consumers (hash projection + exact distinct): one scan
        val li = Tables.read(s, dir, "lineitem")
          .select(col("l_returnflag"), (col("l_orderkey") % 2).as("par"),
            concat_ws("-", col("l_partkey"), col("l_suppkey")).as("item"))
          .localCheckpoint()
        // one md5 pass + ONE relational dedup feeds whole AND shard
        // builds (the q148 single-hash-pass shape): after the
        // (flag, par, h) distinct the heap fast path applies — the
        // buffer never sees a duplicate (Kmv.sketch's batch plan,
        // inlined here so both builds share the dedup)
        val dfp = li.select(col("l_returnflag"), col("par"),
            Kmv.hash60(col("item")).as("h"))
          .distinct()
          .localCheckpoint()
        // whole and shard builds are independent given dfp — overlap
        // their eager aggs from the driver pool (guide §2.6)
        val (whole, shards) = graft.operators.Par.both(
          () => dfp.select(col("l_returnflag"), col("h")).distinct()
            .groupBy("l_returnflag")
            .agg(Kmv.bottomKUnique(k)(col("h")).as("kmv"))
            .localCheckpoint(), // 2 consumers: drift compare + output row
          () => dfp.groupBy("l_returnflag", "par")
            .agg(Kmv.bottomKUnique(k)(col("h")).as("kmv"))
            .localCheckpoint()) // 2 consumers: shard A and shard B
        val merged = shards.where(col("par") === 0)
          .select(col("l_returnflag"), col("kmv").as("ka"))
          .join(shards.where(col("par") === 1)
            .select(col("l_returnflag"), col("kmv").as("kb")), "l_returnflag")
          .select(col("l_returnflag"),
            Kmv.mergeArrays(col("ka"), col("kb"), k).as("kmv_m"))
        val drift = whole.join(merged, "l_returnflag")
          .select(col("l_returnflag"), col("kmv_m"),
            when(col("kmv") === col("kmv_m"), 0L).otherwise(1L).as("merge_drift"))
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct("item").as("exact_distinct"))
        whole.join(exact, "l_returnflag").join(drift, "l_returnflag")
          .select(col("l_returnflag"), size(col("kmv")).as("n_slots"),
            element_at(col("kmv"), 1).as("h_first"),
            element_at(col("kmv"), size(col("kmv"))).as("h_last"),
            Kmv.estimate(col("kmv"), k).as("est"),
            col("exact_distinct"),
            (abs(Kmv.estimate(col("kmv"), k) - col("exact_distinct")) <=
              col("exact_distinct") * 0.1).as("err_ok"),
            col("merge_drift"),
            // the merged-shard estimate is gated INDEPENDENTLY of drift:
            // a merge bug that keeps arrays sorted but loses slots would
            // shift h_k and blow this bound even if an equally-buggy
            // whole-side build made merge_drift stay 0
            (abs(Kmv.estimate(col("kmv_m"), k) - col("exact_distinct")) <=
              col("exact_distinct") * 0.1).as("merged_err_ok"))
          .orderBy("l_returnflag")
      }),

    // ---- q154: KMV set resemblance — pairwise Jaccard of the
    // returnflag item sets from their q153 sketches ALONE, the
    // capability HLL set algebra (q150) cannot offer: the bottom-k
    // buffer is a UNIFORM sample of the distinct union, so the
    // fraction of bottomK(A∪B) present in both inputs estimates
    // |A∩B|/|A∪B| directly — no inclusion–exclusion error stacking,
    // no second corpus pass. Pure integer set algebra + one IEEE
    // division per side ⇒ every column hash-matches. At sf0.001 both
    // sketches are unfilled (sets < k) and the estimate IS the true
    // Jaccard (jac_err = 0 exactly); at sf0.01/0.1 the sampling
    // estimator takes over, bounded by jac_ok's 0.05 absolute band
    // (σ = √(J(1−J)/k) ≤ 0.011 at k=2048). Scale shape: the corpus is
    // touched once to build 3 sketch rows; the pair algebra then runs
    // over ≤ k-slot arrays — s² pairs of audiences cost s² ARRAY ops,
    // not s² corpus joins.
    QueryDef("q154_kmv_jaccard", Some({
      import graft.functions.Kmv
      val k = 2048
      s"""WITH li AS (SELECT DISTINCT l_returnflag,
                        l_partkey || '-' || l_suppkey AS item
                      FROM lineitem),
      h AS (SELECT l_returnflag, ${Kmv.hash60Sql("item")} AS h FROM li),
      sk AS (SELECT l_returnflag, list_sort(list(DISTINCT h))[1:$k] AS kmv
             FROM h GROUP BY 1),
      sz AS (SELECT l_returnflag, COUNT(*) AS n FROM li GROUP BY 1),
      inter AS (SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
                  COUNT(*) AS n_inter
                FROM li a JOIN li b
                  ON a.item = b.item AND a.l_returnflag < b.l_returnflag
                GROUP BY 1, 2),
      pairs AS (SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
                  a.kmv AS ka, b.kmv AS kb
                FROM sk a JOIN sk b ON a.l_returnflag < b.l_returnflag)
      SELECT p.flag_a, p.flag_b,
             CAST(len(list_sort(list_distinct(p.ka || p.kb))[1:$k]) AS INTEGER)
               AS n_union_slots,
             ${Kmv.jaccardSql("p.ka", "p.kb", k)} AS jac_est,
             CAST(i.n_inter AS DOUBLE)
               / CAST(sa.n + sb.n - i.n_inter AS DOUBLE) AS jac_exact,
             ABS(${Kmv.jaccardSql("p.ka", "p.kb", k)}
                 - CAST(i.n_inter AS DOUBLE)
                   / CAST(sa.n + sb.n - i.n_inter AS DOUBLE)) <= 0.05 AS jac_ok
      FROM pairs p
      JOIN inter i ON i.flag_a = p.flag_a AND i.flag_b = p.flag_b
      JOIN sz sa ON sa.l_returnflag = p.flag_a
      JOIN sz sb ON sb.l_returnflag = p.flag_b
      ORDER BY p.flag_a, p.flag_b"""
    }),
      (s, dir) => {
        import graft.functions.Kmv
        val k = 2048
        // 3 consumers (sketch build, per-flag sizes, pair intersections)
        val sets = Tables.read(s, dir, "lineitem")
          .select(col("l_returnflag"),
            concat_ws("-", col("l_partkey"), col("l_suppkey")).as("item"))
          .distinct()
          .localCheckpoint()
        val sk = Kmv.sketch(sets, col("item"), Seq("l_returnflag"), k)
          .localCheckpoint() // 2 consumers: both sides of the pair join
        val sizes = sets.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        val inter = sets.alias("a")
          .join(sets.alias("b"), col("a.item") === col("b.item") &&
            col("a.l_returnflag") < col("b.l_returnflag"))
          .groupBy(col("a.l_returnflag").as("flag_a"),
            col("b.l_returnflag").as("flag_b"))
          .agg(count(lit(1)).as("n_inter"))
        val pairs = sk.select(col("l_returnflag").as("flag_a"), col("kmv").as("ka"))
          .join(sk.select(col("l_returnflag").as("flag_b"), col("kmv").as("kb")),
            col("flag_a") < col("flag_b"))
        val jacExact = col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double")
        pairs
          .join(inter, Seq("flag_a", "flag_b"))
          .join(broadcast(sizes.select(col("l_returnflag").as("flag_a"),
            col("n").as("na"))), "flag_a")
          .join(broadcast(sizes.select(col("l_returnflag").as("flag_b"),
            col("n").as("nb"))), "flag_b")
          .select(col("flag_a"), col("flag_b"),
            size(Kmv.mergeArrays(col("ka"), col("kb"), k)).as("n_union_slots"),
            graft.functions.KmvJaccard(col("ka"), col("kb"), k).as("jac_est"),
            jacExact.as("jac_exact"),
            (abs(graft.functions.KmvJaccard(col("ka"), col("kb"), k) - jacExact) <= 0.05)
              .as("jac_ok"))
          .orderBy("flag_a", "flag_b")
      }),

    // ---- q156: theta-sketch set-operation CARDINALITIES from the KMV
    // pair — where q154 answers the overlap RATIO, this answers the
    // audience-subtraction questions directly: |A∪B|, |A∩B|, |A\B| per
    // returnflag pair from two ≤ k-slot arrays and nothing else. The
    // two sketches' common threshold θ = min of their k-th hashes
    // (2^60 for an unfilled buffer — its sketch IS the set) makes
    // {h < θ} a uniform sample of the union's distinct hashes with
    // known inclusion probability θ/2^60, so every estimate is
    // (retained count)·2^60/θ: exact integer list algebra + ONE IEEE
    // multiply-divide, hash-exact cross-engine, exact by construction
    // at sf0.001 (both buffers unfilled ⇒ scale = 1). vs q150's HLL
    // inclusion–exclusion: no error stacking (intersection measured
    // directly, not as a difference of three estimates) and the
    // difference |A\B| — which inclusion–exclusion cannot give without
    // a fourth sketch — falls out of the same sample. Bounds: union
    // 4σ ≈ 8.8% at k=2048; inter/diff absolute 4σ ≈ 0.05·union.
    QueryDef("q156_kmv_set_ops", Some({
      import graft.functions.Kmv
      val k = 2048
      s"""WITH li AS (SELECT DISTINCT l_returnflag,
                        l_partkey || '-' || l_suppkey AS item
                      FROM lineitem),
      h AS (SELECT l_returnflag, ${Kmv.hash60Sql("item")} AS h FROM li),
      sk AS (SELECT l_returnflag, list_sort(list(DISTINCT h))[1:$k] AS kmv
             FROM h GROUP BY 1),
      sz AS (SELECT l_returnflag, COUNT(*) AS n FROM li GROUP BY 1),
      inter AS (SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
                  COUNT(*) AS n_inter
                FROM li a JOIN li b
                  ON a.item = b.item AND a.l_returnflag < b.l_returnflag
                GROUP BY 1, 2),
      pairs AS (SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
                  a.kmv AS ka, b.kmv AS kb
                FROM sk a JOIN sk b ON a.l_returnflag < b.l_returnflag),
      ex AS (SELECT p.flag_a, p.flag_b, p.ka, p.kb,
               sa.n + sb.n - i.n_inter AS union_exact,
               i.n_inter AS inter_exact,
               sa.n - i.n_inter AS a_only_exact
             FROM pairs p
             JOIN inter i ON i.flag_a = p.flag_a AND i.flag_b = p.flag_b
             JOIN sz sa ON sa.l_returnflag = p.flag_a
             JOIN sz sb ON sb.l_returnflag = p.flag_b)
      SELECT flag_a, flag_b,
             ${Kmv.setOpSql("ka", "kb", k, "sample")} AS n_sample,
             ${Kmv.setOpSql("ka", "kb", k, "union")} AS union_est,
             ${Kmv.setOpSql("ka", "kb", k, "inter")} AS inter_est,
             ${Kmv.setOpSql("ka", "kb", k, "aonly")} AS a_only_est,
             union_exact, inter_exact, a_only_exact,
             ABS(${Kmv.setOpSql("ka", "kb", k, "union")} - union_exact)
               <= union_exact * 0.1 AS union_ok,
             ABS(${Kmv.setOpSql("ka", "kb", k, "inter")} - inter_exact)
               <= union_exact * 0.05 AS inter_ok,
             ABS(${Kmv.setOpSql("ka", "kb", k, "aonly")} - a_only_exact)
               <= union_exact * 0.06 AS a_only_ok
      FROM ex ORDER BY flag_a, flag_b"""
    }),
      (s, dir) => {
        import graft.functions.Kmv
        val k = 2048
        // 3 consumers (sketch build, per-flag sizes, pair intersections)
        val sets = Tables.read(s, dir, "lineitem")
          .select(col("l_returnflag"),
            concat_ws("-", col("l_partkey"), col("l_suppkey")).as("item"))
          .distinct()
          .localCheckpoint()
        val sk = Kmv.sketch(sets, col("item"), Seq("l_returnflag"), k)
          .localCheckpoint() // 2 consumers: both sides of the pair join
        val sizes = sets.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        val inter = sets.alias("a")
          .join(sets.alias("b"), col("a.item") === col("b.item") &&
            col("a.l_returnflag") < col("b.l_returnflag"))
          .groupBy(col("a.l_returnflag").as("flag_a"),
            col("b.l_returnflag").as("flag_b"))
          .agg(count(lit(1)).as("n_inter"))
        // evaluate the set-op struct ONCE per pair row: six output
        // columns read its fields, and an unmaterialized struct would
        // be re-inlined per reference by CollapseProject — six copies
        // of the O(k²) array algebra (measured +3 s at sf0.1)
        val pairs = sk.select(col("l_returnflag").as("flag_a"), col("kmv").as("ka"))
          .join(sk.select(col("l_returnflag").as("flag_b"), col("kmv").as("kb")),
            col("flag_a") < col("flag_b"))
          .select(col("flag_a"), col("flag_b"),
            Kmv.setOps(col("ka"), col("kb"), k).as("o"))
          .localCheckpoint() // 3 rows — the struct fields read cached values
        val ops = col("o")
        pairs
          .join(inter, Seq("flag_a", "flag_b"))
          .join(broadcast(sizes.select(col("l_returnflag").as("flag_a"),
            col("n").as("na"))), "flag_a")
          .join(broadcast(sizes.select(col("l_returnflag").as("flag_b"),
            col("n").as("nb"))), "flag_b")
          .withColumn("union_exact", col("na") + col("nb") - col("n_inter"))
          .withColumn("inter_exact", col("n_inter"))
          .withColumn("a_only_exact", col("na") - col("n_inter"))
          .select(col("flag_a"), col("flag_b"),
            ops.getField("n_sample").as("n_sample"),
            ops.getField("union_est").as("union_est"),
            ops.getField("inter_est").as("inter_est"),
            ops.getField("a_only_est").as("a_only_est"),
            col("union_exact"), col("inter_exact"), col("a_only_exact"),
            (abs(ops.getField("union_est") - col("union_exact")) <=
              col("union_exact") * 0.1).as("union_ok"),
            (abs(ops.getField("inter_est") - col("inter_exact")) <=
              col("union_exact") * 0.05).as("inter_ok"),
            (abs(ops.getField("a_only_est") - col("a_only_exact")) <=
              col("union_exact") * 0.06).as("a_only_ok"))
          .orderBy("flag_a", "flag_b")
      }),

    // ---- q162: join-size estimation BEFORE the shuffle — how big
    // would the lineitem⋈lineitem self-join on l_partkey be? THE
    // question an operator asks before launching a dedup/blocking
    // self-join at 100 TB, answered from a KMV-θ key sample
    // (Kmv.joinSizeEst): θ via one bottom-k partial aggregation over
    // the raw key hashes, a ≤ k−1 key sample recovered by a MAP-SIDE
    // h < θ filter (the dedup shuffle sees only survivors), exact
    // sampled-key frequencies via broadcast semi-join + a k-sized hash
    // agg, estimate = Σf²·2^60/θ. Exact when distinct keys < k
    // (sf0.001); a genuine 1024-of-20000 sample at sf0.1. The exact
    // Σf² ground truth is computed HERE only for the gate — at scale
    // you run only the estimator, which never shuffles the corpus.
    QueryDef("q162_join_size_est", Some("""
      WITH li AS (SELECT l_partkey AS key FROM lineitem),
      kmv AS (SELECT list_sort(list(DISTINCT h))[1:1024] AS kmv
              FROM (SELECT CAST('0x' || substr(md5(key::VARCHAR), 1, 15) AS BIGINT) AS h
                    FROM li)),
      th AS (SELECT CASE WHEN len(kmv) < 1024 THEN CAST(1152921504606846976 AS BIGINT)
                    ELSE kmv[1024] END AS theta FROM kmv),
      samp AS (SELECT DISTINCT key FROM li, th
               WHERE CAST('0x' || substr(md5(key::VARCHAR), 1, 15) AS BIGINT) < theta),
      f AS (SELECT li.key, COUNT(*) AS f FROM li JOIN samp USING (key) GROUP BY 1),
      sm AS (SELECT CAST(COALESCE(SUM(f * f), 0) AS BIGINT) AS s_sum FROM f),
      ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_join_size,
                    CAST(COUNT(*) AS BIGINT) AS n_keys,
                    CAST(SUM(c) AS BIGINT) AS n_rows
             FROM (SELECT COUNT(*) AS c FROM li GROUP BY key)),
      e0 AS (SELECT n_rows, n_keys,
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sampled,
                    theta, s_sum,
                    CAST(s_sum AS DOUBLE)
                      / (CAST(theta AS DOUBLE) / 1152921504606846976.0) AS est_join_size,
                    exact_join_size
             FROM sm, th, ex)
      SELECT n_rows, n_keys, n_sampled, theta, s_sum, est_join_size, exact_join_size,
             ABS(est_join_size - CAST(exact_join_size AS DOUBLE))
               / CAST(exact_join_size AS DOUBLE) AS rel_err,
             ABS(est_join_size - CAST(exact_join_size AS DOUBLE))
               / CAST(exact_join_size AS DOUBLE) <= 0.1 AS err_ok,
             theta < 1152921504606846976 AS sampling
      FROM e0"""),
      (s, dir) => {
        import graft.functions.Kmv
        val k = 1024
        val li = Tables.read(s, dir, "lineitem").select(col("l_partkey"))
          .localCheckpoint() // 5 consumers: θ, sample, 2 frequency passes, exact
        val est = Kmv.joinSizeEst(li, li, "l_partkey", k)
        val ex = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * col("c")).cast("long").as("exact_join_size"),
            count(lit(1)).cast("long").as("n_keys"),
            sum("c").cast("long").as("n_rows"))
        est.crossJoin(broadcast(ex))
          .withColumn("rel_err",
            abs(col("est_join_size") - col("exact_join_size").cast("double"))
              / col("exact_join_size").cast("double"))
          .select(col("n_rows"), col("n_keys"), col("n_sampled"), col("theta"),
            col("s_sum"), col("est_join_size"), col("exact_join_size"),
            col("rel_err"), (col("rel_err") <= 0.1).as("err_ok"),
            (col("theta") < lit(1152921504606846976L)).as("sampling"))
      }),

    // ---- q167: expectations-style data-quality audit
    // (operators.Audit) — the validation gate a pipeline runs before a
    // snapshot goes near training, as ONE relation of violation
    // counts. Scale shape: every row-local check on a table folds into
    // ONE conditional-sum aggregate over ONE scan (ten checks cost the
    // same 100 TB scan as one, unpivoted to report rows only AFTER the
    // data is 1×checks); uniqueness is a partial-aggregating grouped
    // count (Σ(cnt−1) — no COUNT(DISTINCT) expand); referential
    // integrity is a left-anti join counting orphans. The l_tax range
    // check fails BY DESIGN (TPC-H tax reaches 0.08 > the 0.07
    // expectation) so the report proves it counts violations instead
    // of rubber-stamping — and the unique check then caught a REAL
    // artifact: the synthetic generator emits duplicate (l_orderkey,
    // l_linenumber) pairs, exactly the class of defect the audit
    // exists to surface. NOT-IN null semantics match both engines
    // (null status is the not_null check's job, not accepted's).
    QueryDef("q167_audit", Some("""
      WITH parts AS (
        SELECT 'orders' AS tbl, 'not_null' AS chk, 'o_custkey' AS col_name,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
        FROM orders
        UNION ALL
        SELECT 'orders', 'accepted', 'o_orderstatus',
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orders', 'in_range', 'o_totalprice',
               CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem', 'in_range', 'l_quantity',
               CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem', 'in_range', 'l_tax',
               CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 0.07 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem', 'unique', 'l_orderkey,l_linenumber',
               CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
        FROM (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey, l_linenumber)
        UNION ALL
        SELECT 'lineitem', 'ref_integrity', 'l_orderkey', CAST(COUNT(*) AS BIGINT)
        FROM lineitem l WHERE l_orderkey IS NOT NULL AND NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'orders', 'ref_integrity', 'o_custkey', CAST(COUNT(*) AS BIGINT)
        FROM orders od WHERE o_custkey IS NOT NULL AND NOT EXISTS
          (SELECT 1 FROM customer c WHERE c.c_custkey = od.o_custkey))
      SELECT tbl, chk, col_name, violations, violations = 0 AS pass
      FROM parts ORDER BY tbl, chk, col_name"""),
      (s, dir) => {
        import graft.operators.Audit
        val o = Tables.read(s, dir, "orders")
        val l = Tables.read(s, dir, "lineitem")
        val c = Tables.read(s, dir, "customer")
        Audit.report(
          Audit.rowChecks(o, "orders", Seq(
            Audit.RowCheck("not_null", "o_custkey", col("o_custkey").isNull),
            Audit.RowCheck("accepted", "o_orderstatus",
              not(col("o_orderstatus").isin("F", "O", "P"))),
            Audit.RowCheck("in_range", "o_totalprice", col("o_totalprice") <= 0))),
          Audit.rowChecks(l, "lineitem", Seq(
            Audit.RowCheck("in_range", "l_quantity",
              col("l_quantity") < 1 || col("l_quantity") > 50),
            Audit.RowCheck("in_range", "l_tax",
              col("l_tax") < 0 || col("l_tax") > 0.07))),
          Audit.unique(l, "lineitem", Seq("l_orderkey", "l_linenumber")),
          Audit.refIntegrity(l, "l_orderkey", "lineitem", o, "o_orderkey"),
          Audit.refIntegrity(o, "o_custkey", "orders", c, "c_custkey"))
      }),

    // ---- q180: market-basket item–item co-occurrence (implicit-
    // feedback similarity): parts sharing an order, cosine-normalized
    // over basket-incidence counts plus lift. The per-basket cap (8,
    // binding — sf0.001 baskets reach 11 distinct parts) is the
    // power-basket skew guard that bounds the self-join at K²/2 pairs
    // per basket at any scale; the pair table is ≤ |vocab|² rows
    // regardless of corpus size, and the per-item count table is
    // vocab-sized and broadcast. Both ratios are single IEEE ops over
    // exact integer counts → bit-identical across engines.
    QueryDef("q180_item_cooccur", Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                 FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      c AS (SELECT basket, item FROM
              (SELECT basket, item,
                      ROW_NUMBER() OVER (PARTITION BY basket ORDER BY item) AS rk
               FROM b) WHERE rk <= 8),
      ni AS (SELECT item, COUNT(*) AS n_item FROM c GROUP BY item),
      nb AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM c),
      p AS (SELECT a.item AS item_a, b2.item AS item_b, COUNT(*) AS n_ab
            FROM c a JOIN c b2 ON a.basket = b2.basket AND a.item < b2.item
            GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT p.item_a, p.item_b, p.n_ab, na.n_item AS n_a, nbi.n_item AS n_b,
             p.n_ab / sqrt(CAST(na.n_item * nbi.n_item AS DOUBLE)) AS cosine,
             CAST(p.n_ab * nb.n_baskets AS DOUBLE)
               / CAST(na.n_item * nbi.n_item AS DOUBLE) AS lift
      FROM p JOIN ni na ON na.item = p.item_a
             JOIN ni nbi ON nbi.item = p.item_b
             CROSS JOIN nb
      ORDER BY item_a, item_b"""),
      (s, dir) =>
        graft.operators.Cooccur.itemCosine(
            Tables.read(s, dir, "lineitem"), "l_orderkey", "l_partkey",
            maxBasketSize = 8, minCount = 2L)
          .orderBy("item_a", "item_b"))
,
    // ---- q181: blocked edit-distance entity lookup — a fixed probe
    // batch of part names (p_partkey < 50, the "incoming records")
    // fuzzy-matched against the rest of the catalog. Blocking key =
    // last name token, candidates pruned by the |len diff| ≤ maxDist
    // Levenshtein lower bound, best match per probe via a mergeable
    // min-struct (no window); probes are broadcast, the catalog never
    // shuffles, and oversized blocks are skipped by the skew cap
    // (mirrored in the oracle). ASCII names → Spark's char-based and
    // DuckDB's byte-based levenshtein agree exactly.
    QueryDef("q181_fuzzy_lookup", Some("""
      WITH t AS (SELECT p_partkey AS id, p_name AS s,
                        string_split(p_name, ' ')[-1] AS blk,
                        length(p_name) AS ln
                 FROM part WHERE p_name IS NOT NULL),
      p AS (SELECT * FROM t WHERE id < 50),
      c AS (SELECT t.* FROM t,
              (SELECT blk, COUNT(*) AS n FROM t WHERE id >= 50 GROUP BY blk) z
            WHERE t.id >= 50 AND z.blk = t.blk AND z.n <= 4096),
      sc AS (SELECT a.id AS qid, b.id AS cid, b.s AS cs,
                    CAST(levenshtein(a.s, b.s) AS INTEGER) AS d
             FROM p a JOIN c b ON a.blk = b.blk AND abs(a.ln - b.ln) <= 3),
      ag AS (SELECT qid, COUNT(*) AS n_band FROM sc GROUP BY qid),
      bm AS (SELECT qid, cid, cs, d FROM
               (SELECT qid, cid, cs, d,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY d, cid) AS rk
                FROM sc WHERE d <= 3) WHERE rk = 1)
      SELECT p.id AS probe_id, p.s AS probe_str,
             COALESCE(ag.n_band, 0) AS n_band,
             bm.cid AS best_id, bm.cs AS best_str, bm.d AS best_dist
      FROM p LEFT JOIN ag ON ag.qid = p.id
             LEFT JOIN bm ON bm.qid = p.id
      ORDER BY probe_id"""),
      (s, dir) => {
        val part = Tables.read(s, dir, "part")
        graft.er.FuzzyJoin.bestMatch(
            part.where(col("p_partkey") < 50),
            part.where(col("p_partkey") >= 50),
            "p_partkey", "p_name", c => element_at(split(c, " "), -1),
            maxDist = 3, maxBlockSize = 4096L)
          .orderBy("probe_id")
      }),

    // ---- q182: k-anonymity generalization ladder — the release gate
    // on quasi-identifiers (market segment, nation, $1000 balance
    // band). ONE rollup pass yields every suffix-truncated QI set's
    // equivalence classes; a bounded second aggregation reduces each
    // ladder level to (classes, achieved k, at-risk rows/fraction).
    // Band uses FLOOR division in integer cents (pmod form in Spark ≡
    // `//` in DuckDB) so negative balances band correctly; risk_pct is
    // one exact IEEE division over exact integer counts.
    QueryDef("q182_k_anonymity", Some("""
      WITH base AS (SELECT c_mktsegment AS qi0, c_nationkey AS qi1,
                           -- floor division in exact integer cents: subtract the
                           -- POSITIVE mod (DuckDB's % and // both truncate toward
                           -- zero), then the quotient of the exact multiple
                           ((CAST(ROUND(c_acctbal*100) AS BIGINT)
                             - (((CAST(ROUND(c_acctbal*100) AS BIGINT) % 100000)
                                 + 100000) % 100000)) // 100000) AS qi2
                    FROM customer
                    WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL
                      AND c_acctbal IS NOT NULL),
      cls AS (SELECT GROUPING(qi0, qi1, qi2) AS g, COUNT(*) AS cls_n
              FROM base GROUP BY ROLLUP(qi0, qi1, qi2)),
      lv AS (SELECT CASE g WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 3 THEN 2 END AS lvl,
                    cls_n
             FROM cls WHERE g <> 7)
      SELECT lvl, COUNT(*) AS n_classes, MIN(cls_n) AS k_min,
             CAST(SUM(CASE WHEN cls_n < 5 THEN cls_n ELSE 0 END) AS BIGINT)
               AS rows_below_k,
             CAST(SUM(CASE WHEN cls_n < 5 THEN cls_n ELSE 0 END) AS DOUBLE)
               / CAST(SUM(cls_n) AS DOUBLE) AS risk_pct,
             MIN(cls_n) >= 5 AS anonymous
      FROM lv GROUP BY lvl ORDER BY lvl"""),
      (s, dir) =>
        graft.operators.KAnonymity.ladder(
            Tables.read(s, dir, "customer"),
            Seq(col("c_mktsegment"), col("c_nationkey"),
              expr("(cast(round(c_acctbal*100) as bigint) - " +
                "pmod(cast(round(c_acctbal*100) as bigint), 100000)) div 100000")),
            k = 5L)
          .orderBy("lvl"))
,
    // ---- q183: deterministic random-walk corpus over the co-purchase
    // graph (q180's n_ab ≥ 2 pairs, symmetrized) — the DeepWalk
    // sampling step that turns a graph into skip-gram training
    // sequences. Next hops are hash-seeded (min md5("walk:step:src:dst")
    // over neighbors — the q97 portable-hash discipline), so the walk
    // corpus is bit-reproducible and the oracle unrolls the same three
    // steps. Each step is one frontier⋈edges equi-join + a mergeable
    // min-struct agg (the PageRank shape); dead ends stop the walk.
    QueryDef("q183_random_walks", Some({
      def stepCte(t: Int, prev: String) = s"""
      s$t AS MATERIALIZED (SELECT walk_id, node FROM (
             SELECT w.walk_id, e.dst AS node,
                    ROW_NUMBER() OVER (PARTITION BY w.walk_id
                      ORDER BY md5(w.walk_id || ':$t:' || CAST(e.src AS VARCHAR)
                                   || ':' || CAST(e.dst AS VARCHAR)), e.dst) AS rk
             FROM $prev w JOIN e ON e.src = w.node) WHERE rk = 1)"""
      s"""
      WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                 FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      c AS (SELECT basket, item FROM
              (SELECT basket, item,
                      ROW_NUMBER() OVER (PARTITION BY basket ORDER BY item) AS rk
               FROM b) WHERE rk <= 8),
      p AS (SELECT a.item AS ia, b2.item AS ib
            FROM c a JOIN c b2 ON a.basket = b2.basket AND a.item < b2.item
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      e AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM p
                         UNION ALL SELECT ib, ia FROM p),
      st AS (SELECT DISTINCT item FROM c WHERE item < 30),
      w0 AS (SELECT CAST(item AS VARCHAR) || '#' || CAST(w AS VARCHAR) AS walk_id,
                    item AS node
             FROM st CROSS JOIN (VALUES (0), (1)) t(w)),
      ${stepCte(1, "w0")},
      ${stepCte(2, "s1")},
      ${stepCte(3, "s2")}
      SELECT walk_id, 0 AS step, node FROM w0
      UNION ALL SELECT walk_id, 1, node FROM s1
      UNION ALL SELECT walk_id, 2, node FROM s2
      UNION ALL SELECT walk_id, 3, node FROM s3
      ORDER BY walk_id, step"""
    }),
      (s, dir) => {
        // the walk needs only the PAIR ids: pairCounts over one shared
        // capped table, not itemCosine — whose per-item counts, basket
        // total, two broadcast joins and crossJoin all exist to build
        // cosine/lift columns this query immediately discards (inner
        // joins are not pruned away by the optimizer). The capped table
        // is materialized once and feeds both self-join sides AND the
        // walk starts (previously re-derived from lineitem a second
        // time: distinct + per-basket rank window, for a start list).
        val capped = graft.operators.Cooccur.cappedBaskets(
            Tables.read(s, dir, "lineitem"), "l_orderkey", "l_partkey", 8)
          .localCheckpoint()
        val pairs = graft.operators.Cooccur.pairCounts(capped, minCount = 2L)
          .select(col("item_a"), col("item_b"))
        val edges = pairs.unionByName(
          pairs.select(col("item_b").as("item_a"), col("item_a").as("item_b")))
          .toDF("src", "dst")
          // the edge table is an aggregation product; materialize it ONCE
          // or every walk step's eager checkpoint recomputes the whole
          // co-occurrence chain (8 rebuilds for a 3-step walk)
          .localCheckpoint()
        val starts = capped.select(col("item")).where(col("item") < 30).distinct()
        graft.graph.RandomWalk.walks(edges, "src", "dst", starts, "item",
            walksPerNode = 2, steps = 3)
          .orderBy("walk_id", "step")
      }),

    // ---- q187: skip-gram pairs from the q183 walk corpus — the
    // word2vec-over-walks data layout (DeepWalk): every within-window
    // co-walker pair, both directions, aggregated to counts. The
    // self-join keys on walk_id so the quadratic is walk-length ×
    // window bounded at any corpus size; the count is one mergeable
    // hash agg.
    QueryDef("q187_skipgram_pairs", Some({
      def stepCte(t: Int, prev: String) = s"""
      s$t AS MATERIALIZED (SELECT walk_id, node FROM (
             SELECT w.walk_id, e.dst AS node,
                    ROW_NUMBER() OVER (PARTITION BY w.walk_id
                      ORDER BY md5(w.walk_id || ':$t:' || CAST(e.src AS VARCHAR)
                                   || ':' || CAST(e.dst AS VARCHAR)), e.dst) AS rk
             FROM $prev w JOIN e ON e.src = w.node) WHERE rk = 1)"""
      s"""
      WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                 FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      c AS (SELECT basket, item FROM
              (SELECT basket, item,
                      ROW_NUMBER() OVER (PARTITION BY basket ORDER BY item) AS rk
               FROM b) WHERE rk <= 8),
      p AS (SELECT a.item AS ia, b2.item AS ib
            FROM c a JOIN c b2 ON a.basket = b2.basket AND a.item < b2.item
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      e AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM p
                         UNION ALL SELECT ib, ia FROM p),
      st AS (SELECT DISTINCT item FROM c WHERE item < 30),
      w0 AS (SELECT CAST(item AS VARCHAR) || '#' || CAST(w AS VARCHAR) AS walk_id,
                    item AS node
             FROM st CROSS JOIN (VALUES (0), (1)) t(w)),
      ${stepCte(1, "w0")},
      ${stepCte(2, "s1")},
      ${stepCte(3, "s2")},
      walks AS (SELECT walk_id, 0 AS step, node FROM w0
                UNION ALL SELECT walk_id, 1, node FROM s1
                UNION ALL SELECT walk_id, 2, node FROM s2
                UNION ALL SELECT walk_id, 3, node FROM s3)
      SELECT a.node AS center, b.node AS context, COUNT(*) AS n
      FROM walks a JOIN walks b
        ON a.walk_id = b.walk_id AND a.step <> b.step
           AND abs(a.step - b.step) <= 2
      GROUP BY 1, 2 ORDER BY center, context"""
    }),
      (s, dir) => {
        // same shape as q183: pair ids only (pairCounts, not the
        // discarded-cosine itemCosine) over ONE materialized capped
        // table shared with the walk starts
        val capped = graft.operators.Cooccur.cappedBaskets(
            Tables.read(s, dir, "lineitem"), "l_orderkey", "l_partkey", 8)
          .localCheckpoint()
        val pairs = graft.operators.Cooccur.pairCounts(capped, minCount = 2L)
          .select(col("item_a"), col("item_b"))
        val edges = pairs.unionByName(
          pairs.select(col("item_b").as("item_a"), col("item_a").as("item_b")))
          .toDF("src", "dst")
          // the edge table is an aggregation product; materialize it ONCE
          // or every walk step's eager checkpoint recomputes the whole
          // co-occurrence chain (8 rebuilds for a 3-step walk)
          .localCheckpoint()
        val starts = capped.select(col("item")).where(col("item") < 30).distinct()
        val walks = graft.graph.RandomWalk.walks(edges, "src", "dst",
          starts, "item", walksPerNode = 2, steps = 3)
        graft.graph.RandomWalk.skipGramPairs(walks, window = 2)
          .orderBy("center", "context")
      }),

    // ---- q195: TPC-H Q5-shaped six-table star join — regional revenue
    // where customer and supplier share a nation: the canonical
    // join-ordering exercise. Declared flat and left to Catalyst/AQE;
    // the genuinely tiny dims (region, nation) carry explicit
    // broadcast hints, the year filter reaches the orders scan as a
    // pushed predicate, and revenue sums in exact cents (the rounded
    // per-row product is the same double in both engines; the SUM is
    // order-free integer arithmetic).
    QueryDef("q195_regional_revenue", Some("""
      SELECT n_name,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) / 100.0 AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name ORDER BY n_name"""),
      (s, dir) => {
        val c = Tables.read(s, dir, "customer")
        val o = Tables.read(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val l = Tables.read(s, dir, "lineitem")
        val su = Tables.read(s, dir, "supplier")
        val n = broadcast(Tables.read(s, dir, "nation"))
        val r = broadcast(Tables.read(s, dir, "region")
          .where(col("r_name") === "ASIA"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(n, col("s_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * 100).cast("long")).cast("long") / 100.0).as("revenue"))
          .orderBy("n_name")
      }),

    // ---- q199: association rules over the co-purchase baskets — the
    // DIRECTIONAL serving table ("took X → also took Y") the symmetric
    // q180 cosine cannot express: both orientations of every frequent
    // pair, kept at confidence n_xy/n_x ≥ 1/16 tested as an integer
    // cross-product (no float boundary); confidence and lift are exact
    // single divisions. Same scale shape as q180 (the rule table is
    // ≤ 2·|pairs| rows, count tables broadcast).
    QueryDef("q199_association_rules", Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                 FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      c AS (SELECT basket, item FROM
              (SELECT basket, item,
                      ROW_NUMBER() OVER (PARTITION BY basket ORDER BY item) AS rk
               FROM b) WHERE rk <= 8),
      ni AS (SELECT item, COUNT(*) AS n_item FROM c GROUP BY item),
      nb AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM c),
      p AS (SELECT a.item AS ia, b2.item AS ib, COUNT(*) AS n_ab
            FROM c a JOIN c b2 ON a.basket = b2.basket AND a.item < b2.item
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      pl AS (SELECT p.ia, p.ib, p.n_ab, na.n_item AS n_a, nbi.n_item AS n_b,
                    CAST(p.n_ab * nb.n_baskets AS DOUBLE)
                      / CAST(na.n_item * nbi.n_item AS DOUBLE) AS lift
             FROM p JOIN ni na ON na.item = p.ia
                    JOIN ni nbi ON nbi.item = p.ib
                    CROSS JOIN nb),
      ab AS (SELECT ia AS antecedent, ib AS consequent, n_ab, n_a AS n_x, lift FROM pl
             UNION ALL
             SELECT ib, ia, n_ab, n_b, lift FROM pl)
      SELECT antecedent, consequent, n_ab, n_x,
             n_ab / n_x AS confidence, lift
      FROM ab WHERE n_ab * 16 >= 1 * n_x
      ORDER BY antecedent, consequent"""),
      (s, dir) =>
        graft.operators.Cooccur.associationRules(
            Tables.read(s, dir, "lineitem"), "l_orderkey", "l_partkey",
            maxBasketSize = 8, minCount = 2L, confNum = 1, confDen = 16)
          .orderBy("antecedent", "consequent")),

    // ---- q204: link-prediction audit of the co-purchase graph
    // (graph.LinkPredict) — hold out 25% of q180's pair edges by the
    // portable md5 draw (q97's leakage-safe-split discipline), score
    // every non-train pair sharing ≥1 neighbor by common-neighbor
    // COUNT, and report Mann–Whitney AUC (q141's integer rank-sum —
    // tie halves exact as 2U) plus candidate-generator coverage
    // cn_recall = scored positives / held-out edges on the SAME row:
    // a sky-high AUC over 4% of test edges is not a good predictor,
    // and the one-row report says so. The triangle-shaped score join
    // is bounded by the shared-neighbor cap (16 incident nodes per
    // neighbor — binding at sf0.001, where the small part catalog
    // makes the graph dense), the q180 basket cap bounds the edge
    // build, and the AUC machinery runs on the distinct-score table.
    // Everything up to the two final divisions is integer arithmetic.
    QueryDef("q204_link_predict", Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                 FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      c AS (SELECT basket, item FROM
              (SELECT basket, item,
                      ROW_NUMBER() OVER (PARTITION BY basket ORDER BY item) AS rk
               FROM b) WHERE rk <= 8),
      e AS (SELECT a.item AS a, b2.item AS b
            FROM c a JOIN c b2 ON a.basket = b2.basket AND a.item < b2.item
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      tr AS (SELECT a, b FROM e
             WHERE CAST('0x' || substr(md5('lp:' || a || ':' || b), 1, 1) AS BIGINT) % 4 <> 0),
      te AS (SELECT a, b FROM e
             WHERE CAST('0x' || substr(md5('lp:' || a || ':' || b), 1, 1) AS BIGINT) % 4 = 0),
      sym0 AS (SELECT a AS u, b AS n FROM tr UNION ALL SELECT b, a FROM tr),
      sym AS (SELECT u, n FROM
                (SELECT u, n, ROW_NUMBER() OVER (PARTITION BY n ORDER BY u) AS rk
                 FROM sym0) WHERE rk <= 16),
      cn0 AS (SELECT x.u AS a, y.u AS b, CAST(COUNT(*) AS BIGINT) AS cn
              FROM sym x JOIN sym y ON x.n = y.n AND x.u < y.u GROUP BY 1, 2),
      cand AS (SELECT cn0.a, cn0.b, cn0.cn FROM cn0
               WHERE NOT EXISTS (SELECT 1 FROM tr
                                 WHERE tr.a = cn0.a AND tr.b = cn0.b)),
      lab AS (SELECT cand.cn, CASE WHEN te.a IS NOT NULL THEN 1 ELSE 0 END AS pos
              FROM cand LEFT JOIN te ON te.a = cand.a AND te.b = cand.b),
      g AS (SELECT cn AS m, CAST(SUM(pos) AS BIGINT) AS np,
                   CAST(SUM(1 - pos) AS BIGINT) AS nn
            FROM lab GROUP BY cn),
      cum AS (SELECT m, np, nn,
                COALESCE(CAST(SUM(nn) OVER (ORDER BY m
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS nb
              FROM g),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test FROM te)
      SELECT nt.n_test, CAST(SUM(np) AS BIGINT) AS n_pos,
             CAST(SUM(nn) AS BIGINT) AS n_neg,
             CAST(SUM(2 * np * nb + np * nn) AS BIGINT) AS u2,
             CASE WHEN SUM(np) = 0 OR SUM(nn) = 0 THEN NULL
                  ELSE CAST(SUM(2 * np * nb + np * nn) AS BIGINT)
                       / (2 * CAST(SUM(np) AS BIGINT) * CAST(SUM(nn) AS BIGINT))
             END AS auc,
             CASE WHEN nt.n_test = 0 THEN NULL
                  ELSE CAST(SUM(np) AS BIGINT) / nt.n_test END AS cn_recall
      FROM cum CROSS JOIN nt GROUP BY nt.n_test"""),
      (s, dir) => {
        val capped = graft.operators.Cooccur.cappedBaskets(
          Tables.read(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          maxBasketSize = 8)
        val edges = graft.operators.Cooccur.pairCounts(capped, minCount = 2L)
          .select(col("item_a").as("a"), col("item_b").as("b"))
        graft.graph.LinkPredict.evalReport(edges, "a", "b",
          salt = "lp", mod = 4, maxDegree = 16)
      }),

    // ---- q215: join-key skew preflight — the report an operator runs
    // BEFORE shipping a 100 TB join: per candidate join key of
    // lineitem, how many rows, how many distinct keys, the hottest
    // key's row count and share, and the key distribution's Shannon
    // entropy — top_share tells you whether one reducer eats the
    // shuffle (the q-salting decision input), entropy summarizes the
    // whole tail in one number. Each column is ONE partial-aggregating
    // hash agg onto its key-domain-bounded counter table; entropy
    // terms nano-scale to exact longs per key (order-free sums, the
    // q166 discipline); top_share is one exact bigint division.
    QueryDef("q215_skew_report", Some(s"""
      WITH ${Seq("l_orderkey", "l_partkey", "l_suppkey").map(c => s"""
      c_$c AS (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY $c),
      t_$c AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nn FROM c_$c),
      s_$c AS (SELECT '$c' AS key_col, t.nn AS n_rows,
                      CAST(COUNT(*) AS BIGINT) AS n_keys,
                      CAST(MAX(cnt) AS BIGINT) AS max_cnt,
                      CAST(MAX(cnt) AS BIGINT) / t.nn AS top_share,
                      CAST(SUM(CAST(round(-(CAST(cnt AS DOUBLE) / t.nn)
                           * ln(CAST(cnt AS DOUBLE) / t.nn)
                           * 1000000000.0) AS BIGINT)) AS BIGINT) AS entropy_nanos
               FROM c_$c CROSS JOIN t_$c t GROUP BY t.nn)""").mkString(",")}
      SELECT * FROM s_l_orderkey UNION ALL
      SELECT * FROM s_l_partkey UNION ALL
      SELECT * FROM s_l_suppkey ORDER BY key_col"""),
      (s, dir) => {
        val li = Tables.read(s, dir, "lineitem")
        def stats(c: String): org.apache.spark.sql.DataFrame = {
          val ct = li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
            .localCheckpoint() // the total AND the stats rollup read it
          val tot = ct.agg(sum("cnt").as("nn"))
          val p = col("cnt").cast("double") / col("nn")
          ct.crossJoin(broadcast(tot))
            .groupBy(col("nn"))
            .agg(count(lit(1)).as("n_keys"), max("cnt").as("max_cnt"),
              sum(round(-p * log(p) * lit(1000000000.0)).cast("long"))
                .as("entropy_nanos"))
            .select(lit(c).as("key_col"), col("nn").as("n_rows"),
              col("n_keys"), col("max_cnt"),
              (col("max_cnt") / col("nn")).as("top_share"),
              col("entropy_nanos"))
        }
        stats("l_orderkey").unionByName(stats("l_partkey"))
          .unionByName(stats("l_suppkey"))
          .select("key_col", "n_rows", "n_keys", "max_cnt", "top_share",
            "entropy_nanos")
          .orderBy("key_col")
      }),

    // ---- q218: join-strategy advisor — q215's statistics composed
    // into the actual decision an operator (or an optimizer hook)
    // makes per fact⋈dim join: broadcast when the build side is small
    // (dial: ≤ 10,000 rows — the autoBroadcastJoinThreshold stand-in),
    // else SALT when the hottest fact key holds more than 1/32 of the
    // rows (one reducer eats the shuffle at 32-way parallelism —
    // tested as the integer cross-product max_cnt·32 > fact_rows, no
    // float boundary), else plain shuffle. The inputs are one
    // partial-aggregating counter pass per key plus a dim count;
    // recommendations move across scale factors as the dims grow
    // through the broadcast dial — which is the point: the advisor is
    // a function of measured stats, not of table names.
    QueryDef("q218_join_advisor", Some(s"""
      WITH ${Seq(("orders", "o_orderkey", "l_orderkey"),
                 ("part", "p_partkey", "l_partkey"),
                 ("supplier", "s_suppkey", "l_suppkey")).map { case (d, _, fk) => s"""
      ct_$d AS (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY $fk),
      st_$d AS (SELECT CAST(SUM(cnt) AS BIGINT) AS fact_rows,
                       CAST(COUNT(*) AS BIGINT) AS n_keys,
                       CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM ct_$d),
      dim_$d AS (SELECT CAST(COUNT(*) AS BIGINT) AS dim_rows FROM $d),
      row_$d AS (SELECT 'lineitem_$d' AS join_name, s.fact_rows, d.dim_rows,
                        s.n_keys, s.max_cnt,
                        s.max_cnt / s.fact_rows AS top_share,
                        CASE WHEN d.dim_rows <= 10000 THEN 'broadcast'
                             WHEN s.max_cnt * 32 > s.fact_rows THEN 'salt'
                             ELSE 'shuffle' END AS recommendation
                 FROM st_$d s CROSS JOIN dim_$d d)""" }.mkString(",")}
      SELECT * FROM row_orders UNION ALL
      SELECT * FROM row_part UNION ALL
      SELECT * FROM row_supplier ORDER BY join_name"""),
      (s, dir) => {
        val li = Tables.read(s, dir, "lineitem")
        def advise(dim: String, fk: String): org.apache.spark.sql.DataFrame = {
          val st = li.groupBy(col(fk)).agg(count(lit(1)).as("cnt"))
            .agg(sum("cnt").as("fact_rows"), count(lit(1)).as("n_keys"),
              max("cnt").as("max_cnt"))
          val dr = Tables.read(s, dir, dim).agg(count(lit(1)).as("dim_rows"))
          st.crossJoin(broadcast(dr))
            .select(lit(s"lineitem_$dim").as("join_name"),
              col("fact_rows"), col("dim_rows"), col("n_keys"), col("max_cnt"),
              (col("max_cnt") / col("fact_rows")).as("top_share"),
              when(col("dim_rows") <= 10000, "broadcast")
                .when(col("max_cnt") * 32 > col("fact_rows"), "salt")
                .otherwise("shuffle").as("recommendation"))
        }
        advise("orders", "l_orderkey")
          .unionByName(advise("part", "l_partkey"))
          .unionByName(advise("supplier", "l_suppkey"))
          .orderBy("join_name")
      }),

    // ---- q222: revenue concentration — Gini coefficient and
    // top-decile share of per-customer revenue, the inequality readout
    // behind "how exposed are we to our biggest accounts" (and, in a
    // corpus pipeline, "how concentrated is the data on few sources").
    // Exact end to end: Gini's closed sorted form
    // G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n needs only integer rank-weighted
    // sums. The asc rank i comes from the DISTRIBUTED exact-rank
    // operator (range-partition + partition offsets + per-partition
    // counter — operators.ExactRank), NOT a global window: per-customer
    // revenue rows grow with scale factor, so an unpartitioned sort is
    // the one sequential bottleneck this catalog forbids
    // (PlanQualitySpec's window sweep). The (x, custkey) order is
    // total, so the desc rank needs no second pass: j = n + 1 − i
    // exactly. The two emitted ratios are single divisions of exact
    // longs; the top-decile cut k = ⌈n/10⌉ is integer arithmetic — no
    // percentile float boundary. (The oracle keeps DuckDB's single-node
    // window form — same ranks by totality of the order.)
    QueryDef("q222_gini", Some("""
      WITH r AS (SELECT o_custkey AS c,
                        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
                 FROM orders GROUP BY 1),
      rk AS (SELECT x, c,
                    ROW_NUMBER() OVER (ORDER BY x, c) AS i,
                    ROW_NUMBER() OVER (ORDER BY x DESC, c DESC) AS j,
                    COUNT(*) OVER () AS nn
             FROM r),
      a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(i * x) AS BIGINT) AS six,
                   CAST(SUM(CASE WHEN j <= (nn + 9) // 10 THEN x ELSE 0 END)
                        AS BIGINT) AS topx
            FROM rk)
      SELECT n AS n_customers, sx / 100.0 AS total_revenue,
             CASE WHEN n = 0 OR sx = 0 THEN NULL
                  ELSE CAST(2 * six AS DOUBLE) / CAST(n * sx AS DOUBLE)
                       - CAST(n + 1 AS DOUBLE) / n END AS gini,
             CASE WHEN sx = 0 THEN NULL ELSE topx / sx END AS top_decile_share
      FROM a"""),
      (s, dir) => {
        val r = Tables.read(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(QueryDef.cents(col("o_totalprice"))).as("x"))
        val (rk, n) = graft.operators.ExactRank.withRowNumber(
          r, Seq(col("x"), col("o_custkey")), "i")
        val kTop = (n + 9L) / 10L // ⌈n/10⌉, driver-side exact integer
        val a = rk.agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("i") * col("x")).as("six"),
          sum(when(lit(n) + 1L - col("i") <= lit(kTop), col("x")).otherwise(0L))
            .as("topx"))
        a.select(col("n").as("n_customers"),
          (col("sx") / 100.0).as("total_revenue"),
          when(col("n") === 0 || col("sx") === 0, lit(null).cast("double"))
            .otherwise((lit(2L) * col("six")).cast("double")
                / (col("n") * col("sx")).cast("double")
              - (col("n") + 1).cast("double") / col("n")).as("gini"),
          when(col("sx") === 0, lit(null).cast("double"))
            .otherwise(col("topx") / col("sx")).as("top_decile_share"))
      }),

    // ---- q225: INCREMENTAL sketch maintenance — the missing cross-
    // snapshot contract for the portable sketch family: at 100 TB you
    // never re-scan history to refresh a sketch, you merge the STORED
    // state with the sketch of the day's delta. q153/q148 prove the
    // merge algebra shard-side within one run; this query proves it
    // ACROSS a persistence boundary: the stored KMV arrays and HLL
    // register tables are written to a parquet state table, read BACK
    // (a fresh scan — no lineage handle survives), merged with
    // sketch(Δ) (l_orderkey % 8 = 7, the ~12.5% "new batch" of the
    // q105 upsert flow), and gated bit-exact against sketch(full):
    // kmv_drift / hll_drift ≡ 0 IS the contract
    // merge(stored, sketch(Δ)) ≡ sketch(S ∪ Δ). Estimates are emitted
    // from the MERGED sketches only — the production read path — and
    // err-gated against exact ground truth (the oracle-side full scan
    // the incremental path exists to avoid). SketchStateSpec's restart
    // test drives the same state table through a stop/restart to show
    // it survives a new session.
    QueryDef("q225_sketch_maintain", Some({
      import graft.functions.{Kmv, HyperLogLog}
      import HyperLogLog.{hashCtesSql, estimateSql}
      val k = 2048
      val m = 1024
      s"""WITH li AS (SELECT l_returnflag, l_orderkey % 8 = 7 AS is_delta,
                        l_partkey || '-' || l_suppkey AS item
                      FROM lineitem),
      h AS (SELECT l_returnflag, is_delta, ${Kmv.hash60Sql("item")} AS h FROM li),
      stk AS (SELECT l_returnflag, list_sort(list(DISTINCT h))[1:$k] AS kmv
              FROM h WHERE NOT is_delta GROUP BY 1),
      dk AS (SELECT l_returnflag, list_sort(list(DISTINCT h))[1:$k] AS kmv_d
             FROM h WHERE is_delta GROUP BY 1),
      mk AS (SELECT s.l_returnflag,
               list_sort(list_distinct(s.kmv || d.kmv_d))[1:$k] AS kmv_m
             FROM stk s JOIN dk d USING (l_returnflag)),
      fk AS (SELECT l_returnflag, list_sort(list(DISTINCT h))[1:$k] AS kmv_f
             FROM h GROUP BY 1),
      kd AS (SELECT f.l_returnflag, m.kmv_m,
               CAST(CASE WHEN f.kmv_f = m.kmv_m THEN 0 ELSE 1 END AS BIGINT)
                 AS kmv_drift
             FROM fk f JOIN mk m USING (l_returnflag)),
      ${hashCtesSql("item", "(SELECT * FROM li WHERE NOT is_delta)",
        "l_returnflag", m, "s").trim},
      regsS AS (SELECT l_returnflag, j, MAX(rho) AS mreg FROM sr GROUP BY 1, 2),
      ${hashCtesSql("item", "(SELECT * FROM li WHERE is_delta)",
        "l_returnflag", m, "d").trim},
      regsD AS (SELECT l_returnflag, j, MAX(rho) AS mreg FROM dr GROUP BY 1, 2),
      regsM AS (SELECT l_returnflag, j, MAX(mreg) AS mreg
                FROM (SELECT * FROM regsS UNION ALL SELECT * FROM regsD)
                GROUP BY 1, 2),
      ${hashCtesSql("item", "li", "l_returnflag", m, "f").trim},
      regsF AS (SELECT l_returnflag, j, MAX(rho) AS mreg FROM fr GROUP BY 1, 2),
      hd AS (SELECT COALESCE(a.l_returnflag, b.l_returnflag) AS l_returnflag,
               CAST(SUM(CASE WHEN COALESCE(a.mreg, -1) <> COALESCE(b.mreg, -1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS hll_drift
             FROM regsM a FULL OUTER JOIN regsF b
               ON a.l_returnflag = b.l_returnflag AND a.j = b.j
             GROUP BY 1),
      he AS (${estimateSql("SELECT * FROM regsM", "l_returnflag", m).trim}),
      ex AS (SELECT l_returnflag, COUNT(DISTINCT item) AS exact_distinct
             FROM li GROUP BY 1)
      SELECT k.l_returnflag, k.kmv_drift,
             ${Kmv.estimateSql("k.kmv_m", k)} AS kmv_est,
             ABS(${Kmv.estimateSql("k.kmv_m", k)} - x.exact_distinct)
               <= x.exact_distinct * 0.1 AS kmv_err_ok,
             h2.hll_drift, e.est AS hll_est,
             ABS(e.est - x.exact_distinct) <= x.exact_distinct * 0.13
               AS hll_err_ok,
             x.exact_distinct
      FROM kd k JOIN hd h2 USING (l_returnflag) JOIN he e USING (l_returnflag)
        JOIN ex x USING (l_returnflag)
      ORDER BY k.l_returnflag"""
    }),
      (s, dir) => {
        import graft.functions.{Kmv, HyperLogLog}
        val k = 2048
        val m = 1024
        val stDir = s"${System.getProperty("java.io.tmpdir")}/graft_q225_st_" +
          dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "_p" + ProcessHandle.current.pid
        ScratchDirs.cleanupOnExit(stDir)
        // 3 consumers (kmv hash pass, hll hash pass, exact count):
        // materialize the projected item table once
        val li = Tables.read(s, dir, "lineitem")
          .select(col("l_returnflag"),
            (col("l_orderkey") % 8 === 7).as("is_delta"),
            concat_ws("-", col("l_partkey"), col("l_suppkey")).as("item"))
          .localCheckpoint()
        // ---- the KMV and HLL branches are independent given the li
        // checkpoint: their eager hash passes + stored-sketch writes
        // overlap from a driver pool (guide §2.6); content unchanged
        val (dfp, (hashed, mergedH)) = graft.operators.Par.both(
          () => {
            // KMV: one md5 + relational dedup pass serves the stored,
            // delta AND full builds (q153's single-hash-pass shape)
            val dfp = li.select(col("l_returnflag"), col("is_delta"),
                Kmv.hash60(col("item")).as("h"))
              .distinct()
              .localCheckpoint()
            dfp.where(!col("is_delta")).groupBy("l_returnflag")
              .agg(Kmv.bottomKUnique(k)(col("h")).as("kmv"))
              .write.mode("overwrite").parquet(s"$stDir/kmv")
            dfp
          },
          () => {
            // HLL: one (j, rho) projection serves all three register
            // builds (q148's shape)
            val hashed = li.select(col("l_returnflag"), col("is_delta"),
                HyperLogLog.register(col("item"), m).as("j"),
                HyperLogLog.rank(col("item")).as("rho"))
              .localCheckpoint()
            hashed.where(!col("is_delta")).groupBy("l_returnflag", "j")
              .agg(max("rho").as("mreg"))
              .write.mode("overwrite").parquet(s"$stDir/hll")
            val deltaH = hashed.where(col("is_delta"))
              .groupBy("l_returnflag", "j").agg(max("rho").as("mreg"))
            val mergedH = HyperLogLog
              .merge(s.read.parquet(s"$stDir/hll"), deltaH)
              .localCheckpoint() // 2 consumers: drift compare + estimate
            (hashed, mergedH)
          })
        val deltaK = dfp.where(col("is_delta")).groupBy("l_returnflag")
          .agg(Kmv.bottomKUnique(k)(col("h")).as("kmv_d"))
        // the stored sketch comes back off DISK — the merge below never
        // touches the history rows
        val mergedK = s.read.parquet(s"$stDir/kmv")
          .join(deltaK, "l_returnflag")
          .select(col("l_returnflag"),
            Kmv.mergeArrays(col("kmv"), col("kmv_d"), k).as("kmv_m"))
        // re-distinct on (flag, h): dfp's dedup keyed is_delta too, so a
        // hash alive in BOTH halves would reach the unique buffer twice
        val fullK = dfp.select(col("l_returnflag"), col("h")).distinct()
          .groupBy("l_returnflag")
          .agg(Kmv.bottomKUnique(k)(col("h")).as("kmv_f"))
        val kmvSide = fullK.join(mergedK, "l_returnflag")
          .select(col("l_returnflag"), col("kmv_m"),
            when(col("kmv_f") === col("kmv_m"), 0L).otherwise(1L)
              .as("kmv_drift"))
        val fullH = hashed.groupBy("l_returnflag", "j")
          .agg(max("rho").as("mreg"))
        val hllDrift = mergedH.withColumnRenamed("mreg", "m_merged")
          .join(fullH.withColumnRenamed("mreg", "m_full"),
            Seq("l_returnflag", "j"), "full_outer")
          .groupBy("l_returnflag")
          .agg(sum(when(coalesce(col("m_merged"), lit(-1)) =!=
              coalesce(col("m_full"), lit(-1)), 1L).otherwise(0L))
            .as("hll_drift"))
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct("item").as("exact_distinct"))
        kmvSide
          .join(hllDrift, "l_returnflag")
          .join(HyperLogLog.estimate(mergedH, Seq("l_returnflag"), m)
            .select(col("l_returnflag"), col("est").as("hll_est")),
            "l_returnflag")
          .join(exact, "l_returnflag")
          .select(col("l_returnflag"), col("kmv_drift"),
            Kmv.estimate(col("kmv_m"), k).as("kmv_est"),
            (abs(Kmv.estimate(col("kmv_m"), k) - col("exact_distinct")) <=
              col("exact_distinct") * 0.1).as("kmv_err_ok"),
            col("hll_drift"), col("hll_est"),
            (abs(col("hll_est") - col("exact_distinct")) <=
              col("exact_distinct") * 0.13).as("hll_err_ok"),
            col("exact_distinct"))
          .orderBy("l_returnflag")
      }),

    // ---- q227: LOG-SPACED bucket-histogram quantiles — q152's twin
    // for heavy-tailed values: per order priority, log-linear counters
    // over o_totalprice cents (8 sub-buckets per decade — the
    // HdrHistogram shape in EXACT integer arithmetic; a libm
    // floor(ln v/ln b) was rejected because a 1-ulp boundary
    // divergence silently splits the engines) answer the median and
    // p95 with RELATIVE error ≤ 1/8 by construction — what a fixed
    // width cannot offer across 4 decades of order values without
    // wasting head buckets. Same counter-table state, same merge
    // algebra: merge_drift proves shard ADDITION (o_orderkey parity) ≡
    // monolithic; rel_err_ok gates (hi − lo)·s ≤ lo + s on the
    // reported bucket; quantile_lo/hi_ok is q152's exact
    // true-quantile-in-bucket count argument against the cents table.
    QueryDef("q227_log_histogram", Some({
      import graft.functions.BucketHistogram
      val s8 = 8
      val bSql = BucketHistogram.logBucketSql("cv", s8)
      val (loSql, hiSql) = BucketHistogram.logBucketEdgesSql("k.bucket", s8)
      s"""WITH o AS (SELECT o_orderpriority, o_orderkey % 2 AS par,
                       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cv
                     FROM orders),
      hw AS (SELECT o_orderpriority, $bSql AS bucket, COUNT(*) AS n
             FROM o GROUP BY 1, 2),
      hs AS (SELECT o_orderpriority, par, $bSql AS bucket, COUNT(*) AS n
             FROM o GROUP BY 1, 2, 3),
      hm AS (SELECT o_orderpriority, bucket, CAST(SUM(n) AS BIGINT) AS n
             FROM hs GROUP BY 1, 2),
      drift AS (SELECT COALESCE(a.o_orderpriority, b.o_orderpriority)
                         AS o_orderpriority,
                  CAST(SUM(CASE WHEN COALESCE(a.n, -1) <> COALESCE(b.n, -1)
                                THEN 1 ELSE 0 END) AS BIGINT) AS merge_drift
                FROM hm a FULL OUTER JOIN hw b
                  ON a.o_orderpriority = b.o_orderpriority
                  AND a.bucket = b.bucket
                GROUP BY 1),
      tot AS (SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS n_total
              FROM hw GROUP BY 1),
      cum AS (SELECT o_orderpriority, bucket,
                CAST(SUM(n) OVER (PARTITION BY o_orderpriority
                                  ORDER BY bucket) AS BIGINT) AS cum
              FROM hw),
      p AS (SELECT * FROM (VALUES (1, 2), (19, 20)) t(p_num, p_den)),
      pick AS (SELECT c.o_orderpriority, p.p_num, p.p_den, t.n_total,
                 (p.p_num * t.n_total + p.p_den - 1) // p.p_den AS qrank,
                 MIN(c.bucket) AS bucket
               FROM cum c JOIN tot t USING (o_orderpriority) CROSS JOIN p
               WHERE c.cum >= (p.p_num * t.n_total + p.p_den - 1) // p.p_den
               GROUP BY 1, 2, 3, 4, 5),
      edge AS (SELECT k.o_orderpriority, k.p_num, k.p_den, k.n_total,
                 k.qrank, k.bucket, $loSql AS lo_cents, $hiSql AS hi_cents
               FROM pick k),
      chk AS (SELECT k.o_orderpriority, k.p_num, k.p_den,
                CAST(SUM(CASE WHEN o.cv < k.hi_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_le_hi,
                CAST(SUM(CASE WHEN o.cv < k.lo_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_lt_lo
              FROM edge k JOIN o ON o.o_orderpriority = k.o_orderpriority
              GROUP BY 1, 2, 3)
      SELECT k.o_orderpriority, k.p_num, k.p_den, k.n_total, k.qrank,
             k.bucket, k.lo_cents, k.hi_cents,
             (k.hi_cents - k.lo_cents) * $s8 <= k.lo_cents + $s8 AS rel_err_ok,
             c.n_le_hi >= k.qrank AS quantile_hi_ok,
             c.n_lt_lo < k.qrank AS quantile_lo_ok,
             d.merge_drift
      FROM edge k
      JOIN chk c ON c.o_orderpriority = k.o_orderpriority
                AND c.p_num = k.p_num AND c.p_den = k.p_den
      JOIN drift d ON d.o_orderpriority = k.o_orderpriority
      ORDER BY k.o_orderpriority, k.p_num, k.p_den"""
    }),
      (s, dir) => {
        import graft.functions.BucketHistogram
        val s8 = 8
        // 3 consumers (whole build, shard builds, bound-check counts)
        val o = Tables.read(s, dir, "orders")
          .select(col("o_orderpriority"), (col("o_orderkey") % 2).as("par"),
            QueryDef.cents(col("o_totalprice")).as("cv"))
          .localCheckpoint()
        val whole = BucketHistogram.logSketch(o, col("cv"),
            Seq("o_orderpriority"), s8)
          .localCheckpoint() // 2 consumers: drift compare + quantiles
        val shards = BucketHistogram.logSketch(o, col("cv"),
            Seq("o_orderpriority", "par"), s8)
          .localCheckpoint() // 2 consumers: shard A and shard B
        val merged = BucketHistogram.merge(
          shards.where(col("par") === 0).drop("par"),
          shards.where(col("par") === 1).drop("par"))
        val drift = merged.withColumnRenamed("n", "n_merged")
          .join(whole.withColumnRenamed("n", "n_whole"),
            Seq("o_orderpriority", "bucket"), "full_outer")
          .groupBy("o_orderpriority")
          .agg(sum(when(coalesce(col("n_merged"), lit(-1L)) =!=
              coalesce(col("n_whole"), lit(-1L)), 1L).otherwise(0L))
            .as("merge_drift"))
        val (loE, hiE) = BucketHistogram.logBucketEdgesExpr("bucket", s8)
        val pick = BucketHistogram.quantiles(whole, Seq("o_orderpriority"),
            Seq((1, 2), (19, 20)))
          .withColumn("lo_cents", loE)
          .withColumn("hi_cents", hiE)
        val chk = broadcast(pick).join(o, "o_orderpriority")
          .groupBy("o_orderpriority", "p_num", "p_den")
          .agg(sum(when(col("cv") < col("hi_cents"), 1L).otherwise(0L))
              .as("n_le_hi"),
            sum(when(col("cv") < col("lo_cents"), 1L).otherwise(0L))
              .as("n_lt_lo"))
        pick.join(chk, Seq("o_orderpriority", "p_num", "p_den"))
          .join(drift, "o_orderpriority")
          .select(col("o_orderpriority"), col("p_num"), col("p_den"),
            col("n_total"), col("qrank"), col("bucket"),
            col("lo_cents"), col("hi_cents"),
            ((col("hi_cents") - col("lo_cents")) * s8 <=
              col("lo_cents") + s8).as("rel_err_ok"),
            (col("n_le_hi") >= col("qrank")).as("quantile_hi_ok"),
            (col("n_lt_lo") < col("qrank")).as("quantile_lo_ok"),
            col("merge_drift"))
          .orderBy("o_orderpriority", "p_num", "p_den")
      }),

    // ---- q229: EXACT global percentile audit — operators.ExactRank's
    // second consumer (q222 Gini was the first): the value at rank
    // ⌈p·n⌉ of ALL lineitem price cents for p ∈ {50%, 95%, 99%},
    // computed with NO single-partition sort — range partition, ≤P-row
    // offset table, per-partition counters. This is the ground-truth
    // side the sketch family (q57 exact-per-group, q86 approx bound,
    // q152 width-bounded, q227 relative-bounded) is audited against at
    // full scale: the VALUE at a rank is deterministic even though
    // ranks among equal values are not (any tie permutation yields the
    // same cv), so the sort key needs no tiebreak here. qranks are
    // driver-side exact integers from the offset pass's free total —
    // no COUNT(*) OVER () window anywhere.
    QueryDef("q229_exact_percentile", Some("""
      WITH v AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cv
                 FROM lineitem),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
      r AS (SELECT cv, ROW_NUMBER() OVER (ORDER BY cv) AS rk FROM v),
      p AS (SELECT * FROM (VALUES (1, 2), (19, 20), (99, 100)) t(p_num, p_den)),
      t AS (SELECT p_num, p_den, n.n AS n_total,
                   (p_num * n.n + p_den - 1) // p_den AS qrank
            FROM p CROSS JOIN n)
      SELECT t.p_num, t.p_den, t.n_total, t.qrank, r.cv AS value_cents
      FROM t JOIN r ON r.rk = t.qrank
      ORDER BY t.p_num, t.p_den"""),
      (s, dir) => {
        import s.implicits._
        val v = Tables.read(s, dir, "lineitem")
          .select(QueryDef.cents(col("l_extendedprice")).as("cv"))
        val (ranked, n) = graft.operators.ExactRank.withRowNumber(
          v, Seq(col("cv")), "rk")
        val targets = Seq((1, 2), (19, 20), (99, 100)).map { case (num, den) =>
          (num, den, n, (num.toLong * n + den - 1) / den)
        }.toDF("p_num", "p_den", "n_total", "qrank")
        ranked.join(broadcast(targets), col("rk") === col("qrank"))
          .select(col("p_num"), col("p_den"), col("n_total"), col("qrank"),
            col("cv").as("value_cents"))
          .orderBy("p_num", "p_den")
      }),

    // ---- q242: l-diversity audit — the homogeneity-attack gate q182's
    // k-anonymity ladder cannot see: a class of k identical-QI rows
    // still leaks if (nearly) all of them share one sensitive value.
    // Per (nation, $2000 balance band) class, both textbook gates over
    // the sensitive market segment: distinct l-diversity (≥ 3 values)
    // and entropy l-diversity (exp(−Σ p·ln p) ≥ 3). Entropy rides the
    // ln(n) − (Σ c·ln c)/n identity so the only aggregate is an exact
    // micro-scaled long sum (order-free); ln/exp run once per class on
    // identical exact inputs in both engines. One scan → one
    // (QI, sensitive) hash agg → one reduction over the bounded
    // (QI × segment-vocabulary) counter table; no windows, no joins.
    QueryDef("q242_l_diversity", Some("""
      WITH base AS (SELECT c_nationkey AS qi0,
                      ((CAST(ROUND(c_acctbal*100) AS BIGINT)
                        - (((CAST(ROUND(c_acctbal*100) AS BIGINT) % 200000)
                            + 200000) % 200000)) // 200000) AS qi1,
                      c_mktsegment AS sv
                    FROM customer
                    WHERE c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL
                      AND c_mktsegment IS NOT NULL),
      vc AS (SELECT qi0, qi1, sv, CAST(COUNT(*) AS BIGINT) AS c
             FROM base GROUP BY qi0, qi1, sv),
      cls AS (SELECT qi0, qi1, CAST(SUM(c) AS BIGINT) AS cls_n,
                     CAST(COUNT(*) AS BIGINT) AS l_distinct,
                     CAST(SUM(CAST(ROUND(c * ln(c) * 1000000.0) AS BIGINT))
                       AS BIGINT) AS st
              FROM vc GROUP BY qi0, qi1)
      SELECT qi0, qi1, cls_n, l_distinct,
             ROUND(EXP(LN(cls_n) - (CAST(st AS DOUBLE)/1000000.0)/cls_n), 6)
               AS entropy_l,
             l_distinct >= 3 AS distinct_ok,
             ROUND(EXP(LN(cls_n) - (CAST(st AS DOUBLE)/1000000.0)/cls_n), 5)
               >= 3.0 AS entropy_ok
      FROM cls ORDER BY qi0, qi1"""),
      (s, dir) =>
        graft.operators.KAnonymity.lDiversity(
            Tables.read(s, dir, "customer"),
            Seq(col("c_nationkey"),
              expr("(cast(round(c_acctbal*100) as bigint) - " +
                "pmod(cast(round(c_acctbal*100) as bigint), 200000)) div 200000")),
            col("c_mktsegment"), l = 3)
          .orderBy("qi0", "qi1")),

    // ---- q243: ε-DP histogram release with DETERMINISTIC Laplace
    // noise (inverse-CDF over a seeded md5 uniform — the q97 portable-
    // hash discipline, which is also what lets a SQL oracle verify a
    // "random" mechanism) plus the accounting a release needs beside
    // every number: per-histogram ε (parallel composition across
    // disjoint bins) and the Σε sequential-composition total across
    // the two-dial ladder. ε rides as an exact integer rational
    // (num, den) so no 0.1 literal ever crosses an engine boundary.
    // Scale shape: one counting scan; the ε ladder and its total are
    // literal-sized broadcasts; noise is per-bin scalar math.
    QueryDef("q243_dp_release", Some("""
      WITH seg AS (SELECT c_mktsegment AS segment,
                          CAST(COUNT(*) AS BIGINT) AS n_true
                   FROM customer GROUP BY c_mktsegment),
      eps AS (SELECT * FROM (VALUES (1, 10), (1, 1)) t(eps_num, eps_den)),
      tot AS (SELECT SUM(CAST(eps_num AS DOUBLE)/CAST(eps_den AS DOUBLE))
                AS eps_total FROM eps),
      d AS (SELECT eps_num, eps_den, segment, n_true,
                   (CAST('0x' || substr(md5('dp:' || eps_num || ':'
                           || eps_den || ':' || segment), 1, 12) AS BIGINT)
                     + 0.5) / 281474976710656.0 AS u,
                   CAST(eps_den AS DOUBLE)/CAST(eps_num AS DOUBLE) AS b
            FROM seg CROSS JOIN eps)
      SELECT eps_num, eps_den, segment, n_true,
             ROUND(-b * sign(u - 0.5) * ln(1 - 2*abs(u - 0.5)), 6) AS noise,
             ROUND(n_true - b * sign(u - 0.5) * ln(1 - 2*abs(u - 0.5)), 6)
               AS n_noisy,
             (SELECT eps_total FROM tot) AS eps_total
      FROM d ORDER BY eps_num, eps_den, segment"""),
      (s, dir) => {
        val seg = Tables.read(s, dir, "customer")
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_true"))
        graft.operators.DpRelease.releaseCountsSeededForReplay(seg, "segment", "n_true",
            Seq((1, 10), (1, 1)), "dp")
          .orderBy("eps_num", "eps_den", "segment")
      }),

    // ---- q251: split-conformal prediction interval — the
    // distribution-free uncertainty wrapper (Vovk; Angelopoulos &
    // Bates 2022) any point predictor gets before its numbers ship: a
    // deterministic 3-way hash split (md5 first digit: 8/4/4 — the
    // q68/q97 discipline), a per-priority mean-price predictor from
    // the train slice, q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration
    // |residual| at α = 0.1 — computed by the DISTRIBUTED ExactRank
    // (range-partition + offset table, the q229 shape; the oracle may
    // use its single-partition ROW_NUMBER, the engine may not), and
    // the finite-sample coverage audit on the held-out test slice.
    // The quantile rank is exact integer arithmetic ((9(n+1)+9)//10 —
    // no float ceil to disagree about); residuals are |cents − s1/n|,
    // identical IEEE trees from exact integer sums.
    QueryDef("q251_conformal", Some("""
      WITH o AS (SELECT o_orderkey, o_orderpriority AS pri,
                        CAST(ROUND(o_totalprice*100) AS BIGINT) AS yc,
                        CAST('0x' || substr(md5('cf:' || o_orderkey), 1, 1)
                          AS BIGINT) AS bucket
                 FROM orders),
      tr AS (SELECT pri, CAST(SUM(yc) AS DOUBLE) AS s1,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM o WHERE bucket < 8 GROUP BY pri),
      cal AS (SELECT o.o_orderkey, ABS(o.yc - tr.s1/tr.n) AS res
              FROM o JOIN tr ON tr.pri = o.pri
              WHERE bucket BETWEEN 8 AND 11),
      qr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
                    (9 * (CAST(COUNT(*) AS BIGINT) + 1) + 9) // 10 AS qrank
             FROM cal),
      rkd AS (SELECT res, ROW_NUMBER() OVER (ORDER BY res, o_orderkey) AS rk
              FROM cal),
      qh AS (SELECT rkd.res AS qhat FROM rkd, qr WHERE rkd.rk = qr.qrank),
      te AS (SELECT ABS(o.yc - tr.s1/tr.n) AS res
             FROM o JOIN tr ON tr.pri = o.pri WHERE bucket >= 12),
      cov AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
                     CAST(SUM(CASE WHEN te.res <= qh.qhat THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_covered
              FROM te, qh)
      SELECT qr.n_cal, qr.qrank, qh.qhat, cov.n_test, cov.n_covered,
             CAST(cov.n_covered AS DOUBLE) / cov.n_test AS coverage
      FROM qr, qh, cov"""),
      (s, dir) => {
        import s.implicits._
        val o = Tables.read(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
            QueryDef.cents(col("o_totalprice")).as("yc"),
            conv(substring(md5(concat(lit("cf:"), col("o_orderkey"))), 1, 1),
              16, 10).cast("long").as("bucket"))
          .localCheckpoint() // train, calibration, and test slices read it
        val tr = o.where(col("bucket") < 8).groupBy("pri")
          .agg(sum(col("yc").cast("decimal(38,0)")).cast("double").as("s1"),
            count(lit(1)).as("n"))
        val res = (col("yc") - col("s1") / col("n")).as("r")
        val cal = o.where(col("bucket").between(8, 11))
          .join(broadcast(tr), "pri")
          .select(col("o_orderkey"), abs(res).as("res"))
        val (ranked, nCal) = graft.operators.ExactRank.withRowNumber(
          cal, Seq(col("res"), col("o_orderkey")), "rk")
        val qrank = (9L * (nCal + 1) + 9) / 10
        val qh = ranked.where(col("rk") === qrank)
          .select(col("res").as("qhat"))
        val te = o.where(col("bucket") >= 12).join(broadcast(tr), "pri")
          .select(abs(res).as("res"))
        val cov = te.crossJoin(broadcast(qh))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("res") <= col("qhat"), 1L).otherwise(0L))
              .cast("long").as("n_covered"),
            first("qhat").as("qhat"))
        cov.select(lit(nCal).as("n_cal"), lit(qrank).as("qrank"),
            col("qhat"), col("n_test"), col("n_covered"),
            (col("n_covered").cast("double") / col("n_test")).as("coverage"))
      }),

    // ---- q253: period-over-period share shift — "what became hot":
    // per part, its share of line items in the first vs second half of
    // the order-date range (midpoint = exact integer micros midpoint,
    // one-row broadcast — no calendar literals to drift across SFs),
    // ranked by absolute share change. The monitoring question behind
    // every mix-shift investigation, answered with ONE fact-dim join +
    // ONE per-part hash agg (both partial-aggregating); shares are
    // single exact divisions, the ranking key is the nano-scaled
    // rounded delta (total (|Δ|, part) order → the same top 20 in any
    // engine), and the top-k rides a TakeOrdered, never a global sort.
    // Degenerate single-date corpora (one half empty) emit nothing
    // rather than divide by zero.
    QueryDef("q253_share_shift", Some("""
      WITH l AS (SELECT l.l_partkey AS part, epoch_us(o.o_orderdate) AS tu
                 FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      mid AS (SELECT (MIN(tu) + MAX(tu) + 1) // 2 AS m FROM l),
      c AS (SELECT part,
                   CAST(SUM(CASE WHEN tu < (SELECT m FROM mid)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN tu >= (SELECT m FROM mid)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_b
            FROM l GROUP BY part),
      t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
                   CAST(SUM(n_b) AS BIGINT) AS tb FROM c)
      SELECT part, n_a, n_b,
             ROUND(CAST(n_a AS DOUBLE)/ta, 6) AS share_a,
             ROUND(CAST(n_b AS DOUBLE)/tb, 6) AS share_b,
             CAST(ROUND((CAST(n_b AS DOUBLE)/tb - CAST(n_a AS DOUBLE)/ta)
               * 1000000000.0) AS BIGINT) AS delta_nanos
      FROM c, t WHERE ta > 0 AND tb > 0
      ORDER BY ABS(CAST(ROUND((CAST(n_b AS DOUBLE)/tb - CAST(n_a AS DOUBLE)/ta)
               * 1000000000.0) AS BIGINT)) DESC, part LIMIT 20"""),
      (s, dir) => {
        val l = Tables.read(s, dir, "lineitem")
          .join(Tables.read(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey").as("part"),
            expr("unix_micros(cast(o_orderdate as timestamp))").as("tu"))
          .localCheckpoint() // the midpoint and the half counts read it
        val mid = l.agg(expr("(min(tu) + max(tu) + 1) div 2").as("m"))
        val c = l.crossJoin(broadcast(mid))
          .groupBy("part")
          .agg(sum(when(col("tu") < col("m"), 1L).otherwise(0L)).cast("long")
            .as("n_a"),
            sum(when(col("tu") >= col("m"), 1L).otherwise(0L)).cast("long")
              .as("n_b"))
          .localCheckpoint() // totals AND the per-part output read it
        val t = c.agg(sum("n_a").cast("long").as("ta"),
          sum("n_b").cast("long").as("tb"))
        val delta = round((col("n_b").cast("double") / col("tb")
          - col("n_a").cast("double") / col("ta")) * lit(1000000000.0))
          .cast("long")
        c.crossJoin(broadcast(t)).where(col("ta") > 0 && col("tb") > 0)
          .select(col("part"), col("n_a"), col("n_b"),
            round(col("n_a").cast("double") / col("ta"), 6).as("share_a"),
            round(col("n_b").cast("double") / col("tb"), 6).as("share_b"),
            delta.as("delta_nanos"))
          .orderBy(abs(col("delta_nanos")).desc, col("part")).limit(20)
      }),

    // ---- q262: t-closeness audit — the third rung of the privacy
    // ladder (k-anonymity q182 → l-diversity q242 → this): even a
    // diverse class leaks if its sensitive DISTRIBUTION sits far from
    // the table-wide one (Li, Li & Venkatasubramanian, ICDE'07). QI =
    // (nation, market segment) — what an adversary plausibly knows;
    // sensitive = the ORDERED $2000 account-balance band, so closeness
    // is the ordered-domain Earth Mover's Distance: EMD(P,Q) =
    // Σᵢ|cum(P−Q)ᵢ| / (m−1). Every cumulative term rides EXACT
    // integers — cross-multiplied c·N − g·n_cls in DECIMAL(38,0)
    // (HUGEINT oracle-side), so no per-class float division ever
    // enters the sum — and the t ≤ 0.2 gate is a PURE INTEGER
    // comparison 5·num ≤ n_cls·N·(m−1) (the structural-boundary
    // rounding discipline: a class sitting exactly at t cannot split
    // the engines). Scale shape: ONE corpus scan into the
    // (QI × band) counter table; the band domain and class list are
    // both value-bounded, so the grid, the per-class cumulative
    // window (PARTITIONed by class), and every join downstream are
    // counter-table-sized broadcasts.
    QueryDef("q262_t_closeness", Some("""
      WITH base AS (SELECT c_nationkey AS qi0, c_mktsegment AS qi1,
                      ((CAST(ROUND(c_acctbal*100) AS BIGINT)
                        - (((CAST(ROUND(c_acctbal*100) AS BIGINT) % 200000)
                            + 200000) % 200000)) // 200000) AS band
                    FROM customer
                    WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
                      AND c_acctbal IS NOT NULL),
      cb AS (SELECT qi0, qi1, band, CAST(COUNT(*) AS BIGINT) AS c
             FROM base GROUP BY 1, 2, 3),
      gb AS (SELECT band, CAST(SUM(c) AS BIGINT) AS g FROM cb GROUP BY band),
      cls AS (SELECT qi0, qi1, CAST(SUM(c) AS BIGINT) AS n_cls
              FROM cb GROUP BY 1, 2),
      tot AS (SELECT CAST(SUM(g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS m
              FROM gb),
      grid AS (SELECT cls.qi0, cls.qi1, cls.n_cls, gb.band, gb.g,
                      COALESCE(cb.c, 0) AS c
               FROM cls CROSS JOIN gb
               LEFT JOIN cb ON cb.qi0 = cls.qi0 AND cb.qi1 = cls.qi1
                           AND cb.band = gb.band),
      cum AS (SELECT qi0, qi1, n_cls,
                     SUM(CAST(c AS HUGEINT) * (SELECT n FROM tot)
                       - CAST(g AS HUGEINT) * n_cls)
                       OVER (PARTITION BY qi0, qi1 ORDER BY band) AS a
              FROM grid),
      em AS (SELECT qi0, qi1, n_cls, CAST(SUM(ABS(a)) AS HUGEINT) AS num
             FROM cum GROUP BY 1, 2, 3)
      SELECT qi0, qi1, n_cls,
             ROUND(CAST(num AS DOUBLE)
               / ((CAST(n_cls AS DOUBLE) * (SELECT n FROM tot))
                  * ((SELECT m FROM tot) - 1)), 6) AS emd,
             5 * num <= CAST(n_cls AS HUGEINT) * (SELECT n FROM tot)
                        * ((SELECT m FROM tot) - 1) AS t_ok
      FROM em ORDER BY qi0, qi1"""),
      (s, dir) => {
        val base = Tables.read(s, dir, "customer")
          .where(col("c_nationkey").isNotNull && col("c_mktsegment").isNotNull
            && col("c_acctbal").isNotNull)
          .select(col("c_nationkey").as("qi0"), col("c_mktsegment").as("qi1"),
            expr("(cast(round(c_acctbal*100) as bigint) - " +
              "pmod(cast(round(c_acctbal*100) as bigint), 200000)) div 200000")
              .as("band"))
        val cb = base.groupBy("qi0", "qi1", "band")
          .agg(count(lit(1)).cast("long").as("c"))
          .localCheckpoint() // band totals, class totals, and the grid read it
        val gb = cb.groupBy("band").agg(sum("c").cast("long").as("g"))
        val cls = cb.groupBy("qi0", "qi1").agg(sum("c").cast("long").as("n_cls"))
        val tot = gb.agg(sum("g").cast("long").as("n"),
          count(lit(1)).cast("long").as("m"))
        val grid = cls.crossJoin(broadcast(gb))
          .join(cb, Seq("qi0", "qi1", "band"), "left")
          .crossJoin(broadcast(tot))
          .select(col("qi0"), col("qi1"), col("n_cls"), col("band"),
            col("n"), col("m"),
            (coalesce(col("c"), lit(0L)).cast("decimal(38,0)") * col("n")
              - col("g").cast("decimal(38,0)") * col("n_cls")).as("diff"))
        val w = Window.partitionBy("qi0", "qi1").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val em = grid.withColumn("a", sum(col("diff")).over(w))
          .groupBy("qi0", "qi1", "n_cls", "n", "m")
          .agg(sum(abs(col("a"))).cast("decimal(38,0)").as("num"))
        em.select(col("qi0"), col("qi1"), col("n_cls"),
            round(col("num").cast("double")
              / ((col("n_cls").cast("double") * col("n")) * (col("m") - 1)), 6)
              .as("emd"),
            (lit(5).cast("decimal(38,0)") * col("num")
              <= (col("n_cls").cast("decimal(38,0)") * col("n")) * (col("m") - 1))
              .as("t_ok"))
          .orderBy("qi0", "qi1")
      })
  )
}
