package graft.queries

import graft.{QueryDef, ScratchDirs, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time coverage over the `events` table: tumbling-window
  * aggregation, JSON extraction, gap-based sessionization, and grouped
  * stats. Timestamps are compared in integer epoch space (Spark reads
  * the ns column as long, DuckDB truncates ns→µs identically), and the
  * 2-decimal `value` column is aggregated in scaled-integer space.
  *
  * The same tumbling/session shapes run under Structured Streaming
  * (see graft.streaming) — batch here, because the driver oracle is batch.
  */
object EventQueries {

  private val valCents = "CAST(ROUND(value*100) AS BIGINT)"

  /** q277's session dials: chain edges join consecutive same-user
    * events within 8 hours; the ingest delta is the Jan-25-onward
    * suffix (2024-01-25T00:00:00Z in epoch micros). Both literal in
    * the oracle SQL.
    */
  private val SessionGapUs = 28800000000L
  private val SessionCutUs = 1706140800000000L

  val defs: Seq[QueryDef] = Seq(

    // ---- q14: tumbling 1-hour window aggregation (batch analogue of a
    // streaming windowed count; window key = integer epoch hour).
    QueryDef("q14_hourly_window", Some(s"""
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
             event_type, COUNT(*) AS n,
             CAST(SUM($valCents) AS BIGINT) / 100.0 AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type"""),
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(expr("(ts_us div 3600000000) * 3600").as("hour_epoch"), col("event_type"))
          .agg(count(lit(1)).as("n"),
               (sum(QueryDef.cents(col("value"))) / 100.0).as("sum_value"))
          .orderBy("hour_epoch", "event_type")),

    // ---- q15: JSON field extraction + agg.
    QueryDef("q15_json_extract", Some(s"""
      SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k,
             COUNT(*) AS n,
             CAST(SUM($valCents) AS BIGINT) / 100.0 AS sum_value
      FROM events GROUP BY 1 ORDER BY k"""),
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k"))
          .agg(count(lit(1)).as("n"),
               (sum(QueryDef.cents(col("value"))) / 100.0).as("sum_value"))
          .orderBy("k")),

    // ---- q37: gap-based sessionization (30-min inactivity) via lag +
    // cumulative flag — integer µs arithmetic, exact on both engines.
    QueryDef("q37_sessions", Some("""
      WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
      f AS (SELECT user_id,
                   CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id)
                             > 1800000000 THEN 1 ELSE 0 END AS newf
            FROM x)
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(newf) + 1 AS BIGINT) AS n_sessions
      FROM f GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        Tables.events(s, dir)
          .withColumn("newf",
            when(col("ts_us") - lag("ts_us", 1).over(w) > 1800000000L, 1).otherwise(0))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), (sum("newf") + 1).as("n_sessions"))
          .orderBy("user_id")
      }),

    // ---- q59: as-of join — every 'error' event paired with the same
    // user's latest 'click' at-or-before it (graft.operators.AsOfJoin:
    // union + one keyed window pass, no range join). The oracle mirrors
    // the semantics with a ranked range join (fine at oracle scale).
    QueryDef("q59_asof", Some("""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
                 WHERE event_type = 'error'),
      c AS (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
            WHERE event_type = 'click'),
      ranked AS (SELECT e.event_id, c.event_id AS click_id, c.tu AS click_tu,
                        ROW_NUMBER() OVER (PARTITION BY e.event_id
                                           ORDER BY c.tu DESC, c.event_id DESC) AS rk
                 FROM e JOIN c ON c.user_id = e.user_id AND c.tu <= e.tu)
      SELECT e.event_id, e.user_id, e.tu,
             r.click_id AS asof_event_id, r.click_tu AS asof_ts_us
      FROM e LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) r USING (event_id)
      ORDER BY event_id"""),
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
        val errors = ev.where(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts_us").as("tu"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_us").as("tu"))
        graft.operators.AsOfJoin.asOf(errors, clicks,
            Seq("user_id"), "tu", "event_id", Seq("event_id", "tu"))
          .select(col("event_id"), col("user_id"), col("tu"),
            col("asof_event_id"), col("asof_tu").as("asof_ts_us"))
          .orderBy("event_id")
      }),

    // ---- q84: running-mean anomalies — the batch analogue of
    // streaming.EventStreams.valueAnomalies (its oracle-checked twin,
    // like q14/q37 for the windowed aggregations): events whose value
    // exceeds 3× the user's EXCLUSIVE running mean, first event never
    // anomalous. The comparison is cross-multiplied in scaled-integer
    // space (cents · n_prev > 3 · sum_prev_cents) — pure long
    // arithmetic, no division, bit-exact in any engine and any
    // partitioning.
    QueryDef("q84_value_anomalies", Some(s"""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tu, value,
                        $valCents AS cents FROM events),
      p AS (SELECT event_id, user_id, tu, value, cents,
              COUNT(*) OVER w AS n_prev,
              COALESCE(SUM(cents) OVER w, 0) AS sum_prev
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, tu, value FROM p
      WHERE n_prev > 0 AND cents * n_prev > 3 * sum_prev
      ORDER BY event_id"""),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("tu"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts_us").as("tu"),
            col("value"), graft.QueryDef.cents(col("value")).as("cents"))
          .withColumn("n_prev", count(lit(1)).over(w))
          .withColumn("sum_prev", coalesce(sum(col("cents")).over(w), lit(0L)))
          .where(col("n_prev") > 0 &&
            col("cents") * col("n_prev") > lit(3L) * col("sum_prev"))
          .select(col("event_id"), col("user_id"), col("tu"), col("value"))
          .orderBy("event_id")
      }),

    // ---- q83: as-of join with a staleness bound — same lookup as q59
    // but a click older than 10 minutes before the error no longer
    // counts as context (the pandas merge_asof tolerance / kdb window
    // knob). Costs one map-side comparison on the carried timestamp.
    QueryDef("q83_asof_tolerance", Some("""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
                 WHERE event_type = 'error'),
      c AS (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
            WHERE event_type = 'click'),
      ranked AS (SELECT e.event_id, c.event_id AS click_id, c.tu AS click_tu,
                        ROW_NUMBER() OVER (PARTITION BY e.event_id
                                           ORDER BY c.tu DESC, c.event_id DESC) AS rk
                 FROM e JOIN c ON c.user_id = e.user_id AND c.tu <= e.tu
                                  AND c.tu >= e.tu - 600000000)
      SELECT e.event_id, e.user_id, e.tu,
             r.click_id AS asof_event_id, r.click_tu AS asof_ts_us
      FROM e LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) r USING (event_id)
      ORDER BY event_id"""),
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
        val errors = ev.where(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts_us").as("tu"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_us").as("tu"))
        graft.operators.AsOfJoin.asOf(errors, clicks,
            Seq("user_id"), "tu", "event_id", Seq("event_id", "tu"),
            maxStaleness = Some(lit(600000000L)))
          .select(col("event_id"), col("user_id"), col("tu"),
            col("asof_event_id"), col("asof_tu").as("asof_ts_us"))
          .orderBy("event_id")
      }),

    // ---- q60: interval (range) join — for every error event, count and
    // value-sum of the same user's clicks in the trailing 10 minutes
    // (graft.operators.RangeJoin: bucketized equi-join, clone factor 2,
    // no O(n·m) range scan). Money summed in cents for exactness.
    QueryDef("q60_range_join", Some(s"""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
                 WHERE event_type = 'error'),
      c AS (SELECT user_id, epoch_us(ts) AS tu, $valCents AS vc FROM events
            WHERE event_type = 'click')
      SELECT e.event_id, e.user_id, e.tu,
             CAST(COUNT(c.tu) AS BIGINT) AS n_recent,
             CAST(SUM(c.vc) AS BIGINT) / 100.0 AS sum_recent_value
      FROM e LEFT JOIN c ON c.user_id = e.user_id
        AND c.tu > e.tu - 600000000 AND c.tu <= e.tu
      GROUP BY e.event_id, e.user_id, e.tu
      ORDER BY e.event_id"""),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errors = ev.where(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts_us").as("tu"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts_us").as("tu"),
            QueryDef.cents(col("value")).as("vc"))
        graft.operators.RangeJoin.countRecent(errors, clicks,
            Seq("user_id"), "event_id", "tu", "vc", lookback = 600000000L)
          .select(col("event_id"), col("user_id"), col("tu"), col("n_recent"),
            (col("sum_recent_value") / 100.0).as("sum_recent_value"))
          .orderBy("event_id")
      }),

    // ---- q39: grouped stats incl. exact avg via scaled ints.
    QueryDef("q39_event_stats", Some(s"""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM($valCents) AS BIGINT) / 100.0 AS sum_value,
             CAST(SUM($valCents) AS BIGINT) / COUNT(*) / 100.0 AS avg_value,
             MIN(value) AS min_value, MAX(value) AS max_value
      FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
               (sum(QueryDef.cents(col("value"))) / 100.0).as("sum_value"),
               (sum(QueryDef.cents(col("value"))) / count(lit(1)) / 100.0).as("avg_value"),
               min("value").as("min_value"), max("value").as("max_value"))
          .orderBy("event_type")),

    // ---- q99: funnel analysis — the classic ordered-stage conversion:
    // per user, the first 'view', then the earliest 'click' strictly
    // after it, then the earliest 'purchase' strictly after that click.
    // Stage counts plus exact total stage-transition dwell (µs sums —
    // BIGINT, no float). Each stage is one hash agg + one equi-join on
    // user; no window touches the event table, so the plan is three
    // shuffles on user_id at any scale.
    QueryDef("q99_funnel", Some("""
      WITH x AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
      v AS (SELECT user_id, MIN(tu) AS t_view FROM x
            WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT x.user_id, MIN(x.tu) AS t_click
            FROM x JOIN v ON x.user_id = v.user_id
            WHERE x.event_type = 'click' AND x.tu > v.t_view
            GROUP BY x.user_id),
      p AS (SELECT x.user_id, MIN(x.tu) AS t_purchase
            FROM x JOIN c ON x.user_id = c.user_id
            WHERE x.event_type = 'purchase' AND x.tu > c.t_click
            GROUP BY x.user_id)
      SELECT (SELECT COUNT(*) FROM v) AS n_view,
             (SELECT COUNT(*) FROM c) AS n_click,
             (SELECT COUNT(*) FROM p) AS n_purchase,
             (SELECT CAST(COALESCE(SUM(c.t_click - v.t_view), 0) AS BIGINT)
              FROM c JOIN v ON c.user_id = v.user_id) AS view_to_click_us,
             (SELECT CAST(COALESCE(SUM(p.t_purchase - c.t_click), 0) AS BIGINT)
              FROM p JOIN c ON p.user_id = c.user_id) AS click_to_purchase_us"""),
      (s, dir) => {
        val x = Tables.events(s, dir).select(col("user_id"), col("event_type"),
          col("ts_us").as("tu"))
        val v = x.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("tu").as("t_view"))
        val c = x.where(col("event_type") === "click").join(v, "user_id")
          .where(col("tu") > col("t_view"))
          .groupBy("user_id").agg(min("tu").as("t_click"))
        val p = x.where(col("event_type") === "purchase").join(c, "user_id")
          .where(col("tu") > col("t_click"))
          .groupBy("user_id").agg(min("tu").as("t_purchase"))
        val nv = v.agg(count(lit(1)).as("n_view"))
        val nc = c.agg(count(lit(1)).as("n_click"))
        val np = p.agg(count(lit(1)).as("n_purchase"))
        val dwellVC = c.join(v, "user_id")
          .agg(coalesce(sum(col("t_click") - col("t_view")), lit(0L))
            .as("view_to_click_us"))
        val dwellCP = p.join(c, "user_id")
          .agg(coalesce(sum(col("t_purchase") - col("t_click")), lit(0L))
            .as("click_to_purchase_us"))
        nv.crossJoin(nc).crossJoin(np).crossJoin(dwellVC).crossJoin(dwellCP)
      }),

    // ---- q100: cohort retention — users cohorted by their FIRST-seen
    // week (Monday-truncated, identical in both engines), then distinct
    // active users per (cohort, week offset). The canonical warehouse
    // retention matrix as two hash aggs + one equi-join on user; offsets
    // are exact integer day-diffs (both weeks are Monday 00:00, so the
    // difference is always a multiple of 7).
    QueryDef("q100_retention", Some("""
      WITH x AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      f AS (SELECT user_id, MIN(wk) AS cohort FROM x GROUP BY user_id)
      SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
             CAST(date_diff('day', f.cohort, x.wk) // 7 AS INTEGER) AS week_offset,
             COUNT(DISTINCT x.user_id) AS n_users
      FROM x JOIN f ON x.user_id = f.user_id
      GROUP BY 1, 2 ORDER BY cohort_week, week_offset"""),
      (s, dir) => {
        val x = Tables.events(s, dir)
          .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        val f = x.groupBy("user_id").agg(min("wk").as("cohort"))
        x.join(f, "user_id")
          .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
            expr("datediff(wk, cohort) div 7").cast("int").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      }),

    // ---- q110: exact grouped higher moments (mean / population
    // variance / skewness) — the distribution-drift monitor of a
    // feature pipeline, with the house cents trick extended to POWER
    // sums: Σcv, Σcv², Σcv³ accumulate as exact integers (Spark
    // decimal(38,0) partial aggs ↔ DuckDB HUGEINT — order-free), and
    // only then does each engine cast the identical exact integers to
    // double and run the IDENTICAL expression tree (sqrt(v)·v for
    // v^1.5 — no libm pow), so every emitted double matches bit-for-bit
    // with NO rounding. One map-side-partial hash agg; never a window.
    QueryDef("q110_grouped_moments", Some(s"""
      WITH c AS (SELECT event_type, $valCents AS cv FROM events),
      s AS (SELECT event_type, COUNT(*) AS n,
              CAST(SUM(cv) AS DOUBLE) AS s1,
              CAST(SUM(CAST(cv AS HUGEINT) * cv) AS DOUBLE) AS s2,
              CAST(SUM(CAST(cv AS HUGEINT) * cv * cv) AS DOUBLE) AS s3
            FROM c GROUP BY event_type)
      SELECT event_type, n,
             s1 / n / 100 AS mean_value,
             (s2 - s1 * s1 / n) / n / 10000 AS var_pop,
             CASE WHEN (s2 - s1 * s1 / n) / n = 0 THEN 0.0
                  ELSE (s3 / n - 3 * (s1 / n) * (s2 / n)
                        + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                       / (sqrt((s2 - s1 * s1 / n) / n)
                          * ((s2 - s1 * s1 / n) / n)) END AS skewness
      FROM s ORDER BY event_type"""),
      (s, dir) => {
        val cv = QueryDef.cents(col("value"))
        val cvw = col("cv").cast("decimal(12,0)")
        val st = Tables.events(s, dir)
          .select(col("event_type"), cv.as("cv"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("cv").cast("decimal(38,0)")).cast("double").as("s1"),
            // widen BEFORE multiplying (decimal(12)² → 25 digits, ³ → 38):
            // a 64-bit cv*cv*cv would overflow past |cents| ≈ 2.1M and
            // ANSI-abort instead of accumulating exactly
            sum(cvw * cvw).cast("double").as("s2"),
            sum(cvw * cvw * cvw).cast("double").as("s3"))
        val v = (col("s2") - col("s1") * col("s1") / col("n")) / col("n")
        st.select(col("event_type"), col("n"),
            (col("s1") / col("n") / 100).as("mean_value"),
            (v / 10000).as("var_pop"),
            when(v === 0, lit(0.0))
              .otherwise((col("s3") / col("n")
                  - lit(3) * (col("s1") / col("n")) * (col("s2") / col("n"))
                  + lit(2) * (col("s1") / col("n")) * (col("s1") / col("n"))
                      * (col("s1") / col("n")))
                / (sqrt(v) * v)).as("skewness"))
          .orderBy("event_type")
      }),

    // ---- q111: robust outlier detection (median / MAD) — the outlier
    // filter that survives the outliers it hunts (mean/stddev don't).
    // Two exact percentile passes over CENTS (integer data → the
    // interpolated median is exactly k.0 or k.5, and the absolute
    // deviations are exact halves too, so the second median is exact
    // quarters): both engines compute identical doubles, the 3·MAD
    // comparison has no float boundary, NO rounding anywhere. The two
    // 5-row median tables broadcast back; events shuffle only for the
    // two grouped percentiles. Exact percentile buffers per group — at
    // 100 TB swap in approx_percentile exactly as q86 licenses.
    QueryDef("q111_mad_outliers", Some(s"""
      WITH c AS (SELECT event_id, event_type, value, $valCents AS cv FROM events),
      med AS (SELECT event_type, quantile_cont(cv, 0.5) AS med FROM c GROUP BY event_type),
      dev AS (SELECT c.event_id, c.event_type, c.value, m.med,
                abs(c.cv - m.med) AS adev FROM c JOIN med m USING (event_type)),
      mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type)
      SELECT d.event_id, d.event_type, d.value,
             d.med / 100 AS median_value, m2.mad / 100 AS mad_value
      FROM dev d JOIN mad m2 USING (event_type)
      WHERE d.adev > 3 * m2.mad
      ORDER BY event_id"""),
      (s, dir) => {
        val c = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            QueryDef.cents(col("value")).as("cv"))
        val med = c.groupBy("event_type").agg(expr("percentile(cv, 0.5)").as("med"))
        val dev = c.join(broadcast(med), "event_type")
          .withColumn("adev", abs(col("cv") - col("med")))
        val mad = dev.groupBy("event_type").agg(expr("percentile(adev, 0.5)").as("mad"))
        dev.join(broadcast(mad), "event_type")
          .where(col("adev") > lit(3) * col("mad"))
          .select(col("event_id"), col("event_type"), col("value"),
            (col("med") / 100).as("median_value"), (col("mad") / 100).as("mad_value"))
          .orderBy("event_id")
      }),

    // ---- q113: per-user behavioral feature extraction — the feature-
    // engineering pass that turns an event log into an ML feature table
    // (counts by type, engagement value, activity span/density). ONE
    // hash aggregation keyed by user: conditional counts are
    // sum(CASE...) partials, value is exact cents, span/active days are
    // exact UTC date arithmetic. No window, no self-join — at 100 TB
    // this is a single shuffle on user_id.
    QueryDef("q113_user_features", Some(s"""
      WITH c AS (SELECT user_id, event_type, ts, $valCents AS cv FROM events)
      SELECT user_id,
             COUNT(*) AS n_events,
             COUNT(*) FILTER (event_type = 'view') AS n_view,
             COUNT(*) FILTER (event_type = 'click') AS n_click,
             COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
             COUNT(*) FILTER (event_type = 'error') AS n_error,
             COUNT(DISTINCT event_type) AS n_types,
             CAST(SUM(cv) AS BIGINT) / 100.0 AS total_value,
             CAST(date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
                  AS INTEGER) AS span_days,
             COUNT(DISTINCT CAST(ts AS DATE)) AS active_days
      FROM c GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => {
        def typed(t: String) =
          sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts").cast("date").as("d"),
            QueryDef.cents(col("value")).as("cv"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            typed("view"), typed("click"), typed("purchase"), typed("error"),
            countDistinct("event_type").as("n_types"),
            (sum("cv") / 100.0).as("total_value"),
            datediff(max("d"), min("d")).as("span_days"),
            countDistinct("d").as("active_days"))
          .orderBy("user_id")
      }),

    // ---- q118: event-rate spike detection — hourly counts per type
    // vs their trailing-24h mean (the volume-anomaly monitor of an
    // ingestion pipeline). The corpus-scale work is ONE hash agg to
    // hourly buckets; the trailing window runs over the AGGREGATE table
    // (rows = types × hours — bounded by the time horizon, not data
    // volume, so the per-type sort is trivial at any corpus size). The
    // spike predicate n > 2·mean is cross-multiplied to pure integers
    // (n·trail_n > 2·trail_sum) — no float boundary; a spike needs ≥6
    // trailing hours so series starts don't self-flag.
    QueryDef("q118_rate_spikes", Some("""
      WITH h AS (SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr,
                   COUNT(*) AS n
                 FROM events GROUP BY 1, 2),
      w AS (SELECT event_type, hr, n,
              CAST(SUM(n) OVER tw AS BIGINT) AS trail_sum,
              COUNT(*) OVER tw AS trail_n
            FROM h
            WINDOW tw AS (PARTITION BY event_type ORDER BY hr
                          ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      SELECT event_type, hr, n, trail_sum, trail_n
      FROM w
      WHERE trail_n >= 6 AND n * trail_n > 2 * trail_sum
      ORDER BY event_type, hr"""),
      (s, dir) => {
        val h = Tables.events(s, dir)
          .groupBy(col("event_type"),
            expr("(ts_us div 3600000000) * 3600").as("hr"))
          .agg(count(lit(1)).as("n"))
        val tw = Window.partitionBy("event_type").orderBy("hr")
          .rowsBetween(-24, -1)
        h.select(col("event_type"), col("hr"), col("n"),
            sum("n").over(tw).as("trail_sum"),
            count(lit(1)).over(tw).as("trail_n"))
          .where(col("trail_n") >= 6 &&
            col("n") * col("trail_n") > lit(2) * col("trail_sum"))
          .orderBy("event_type", "hr")
      }),

    // ---- q125: standard-scaler feature normalization — per-group
    // z-scores (the StandardScaler step of every feature pipeline),
    // with the q110 power-sum trick making it EXACT: mean and variance
    // come from integer Σcv/Σcv² (decimal ↔ HUGEINT), and the per-event
    // z = (cv − S1/n)/sqrt((S2 − S1²/n)/n) is the identical IEEE tree
    // in both engines — bit-equal with NO rounding. The 5-row stats
    // table broadcasts back; cents cancel in the ratio.
    QueryDef("q125_standard_scale", Some(s"""
      WITH c AS (SELECT event_id, event_type, value, $valCents AS cv FROM events),
      s AS (SELECT event_type, COUNT(*) AS n,
              CAST(SUM(cv) AS DOUBLE) AS s1,
              CAST(SUM(CAST(cv AS HUGEINT) * cv) AS DOUBLE) AS s2
            FROM c GROUP BY event_type)
      SELECT c.event_id, c.event_type, c.value,
             (c.cv - s.s1 / s.n) / sqrt((s.s2 - s.s1 * s.s1 / s.n) / s.n) AS z
      FROM c JOIN s USING (event_type)
      ORDER BY event_id"""),
      (s, dir) => {
        val c = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"),
            QueryDef.cents(col("value")).as("cv"))
        // widen BEFORE squaring (see q110) — 64-bit cv*cv overflows past
        // |cents| ≈ 3e9 and ANSI-aborts instead of accumulating exactly
        val cvw = col("cv").cast("decimal(12,0)")
        val st = c.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("cv").cast("decimal(38,0)")).cast("double").as("s1"),
            sum(cvw * cvw).cast("double").as("s2"))
        c.join(broadcast(st), "event_type")
          .select(col("event_id"), col("event_type"), col("value"),
            ((col("cv") - col("s1") / col("n"))
              / sqrt((col("s2") - col("s1") * col("s1") / col("n")) / col("n")))
              .as("z"))
          .orderBy("event_id")
      }),

    // ---- q144: Z-order clustered layout under the gate — write a copy
    // of events clustered on the Morton curve over (user_id, value)
    // (sources.ZOrder: quantize against broadcast bounds + bit-
    // interleave + repartitionByRange, no collect, no UDF), then answer
    // a TWO-dimension range filter FROM THE COPY. The oracle runs the
    // same predicate over the flat table: bit-identical rows is the
    // layout-invariance claim — clustering may only move rows between
    // files, never change them. Both literals reach the copy's parquet
    // scan as PushedFilters, and the row-group pruning the layout buys
    // on the NON-leading dimension is locked by metrics in
    // PlanQualitySpec (scan emits < half the copy's rows on a
    // value-only slice, vs ~all rows on a user_id-sorted layout).
    // The (user_id ≤ 7, value band) slice is ~350 rows at EVERY sf —
    // fixed-size eval slices don't degenerate as the corpus grows.
    QueryDef("q144_zorder_scan", Some("""
      SELECT event_id, user_id, value FROM events
      WHERE user_id <= 7 AND value BETWEEN 20.0 AND 260.0
      ORDER BY event_id"""),
      (s, dir) => {
        val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
        // keyed by the SANITIZED dir string + pid, not dir.hashCode: a
        // shared-hash path let two concurrent runs (Verify + Bench on
        // one SF) race overwrite-vs-read, and a 32-bit collision across
        // datasets would silently serve another dataset's copy. The
        // per-pid path is reclaimed at JVM exit — without that, every
        // bench/verify process would leak a full 16-file events copy
        // into tmpdir forever
        val zdir = s"${System.getProperty("java.io.tmpdir")}/graft_q144_z_" +
          dir.replaceAll("[^A-Za-z0-9._-]", "_") +
          "_p" + ProcessHandle.current.pid
        graft.sources.ZOrder.writeZOrdered(ev, zdir,
          Seq("user_id", "value"), nFiles = 16)
        ScratchDirs.cleanupOnExit(zdir)
        s.read.parquet(zdir)
          .where(col("user_id") <= 7 && col("value").between(20.0, 260.0))
          .select("event_id", "user_id", "value")
          .orderBy("event_id")
      }),

    // ---- q150: HLL set algebra — pairwise audience overlap by
    // inclusion–exclusion over the q148 sketch family. Per event type,
    // ONE register table sketches its distinct active (user, day)
    // pairs; per type pair, union cardinality comes from the
    // register-wise MAX and intersection = estA + estB − estU. This is
    // the "how much do segment X and segment Y co-occur" curation
    // question answered from s·m register rows instead of an s²-way
    // distinct shuffle of the full activity table — at 100 TB the
    // sketches are built once where the data lives (one hash agg,
    // O(partitions·m) shuffle rows) and every pairwise question
    // afterwards touches only sketch-sized tables. The exact side (for
    // the gate and the error columns) pays the real distinct —
    // affordable at test SFs, exactly what the sketch path avoids at
    // scale. Parity: registers and exact counts hash-match by
    // construction (q148's md5 chain; user@date strings render
    // identically in both engines); est is round(·,6); the derived
    // inter/jaccard/err columns are identical double trees over those
    // rounded values. union_err_ok is the 4σ bound at m=1024 (13%);
    // inter_err_ok scales with the union (3 estimates compound — 4σ ≈
    // 25% of the union). Both are informative in BOTH engines, so even
    // a flip at an untested SF cannot break parity. Overlap is real at
    // every SF (~⅓ of the union, measured 0.001/0.01/0.1) and the
    // estimator crosses regimes with SF — linear counting at sf0.001
    // (~160 distinct), raw HLL at sf0.01/0.1 (1.6k/16k).
    QueryDef("q150_hll_overlap", Some({
      import graft.functions.HyperLogLog.{hashCtesSql, estimateSql}
      val m = 1024
      s"""WITH d AS (
        SELECT event_type,
               CAST(user_id AS VARCHAR) || '@' ||
                 CAST(CAST(ts AS DATE) AS VARCHAR) AS item
        FROM events),
      ${hashCtesSql("item", "d", "event_type", m, "s").trim},
      regs AS (SELECT event_type, j, MAX(rho) AS mreg FROM sr GROUP BY 1, 2),
      srcs AS (SELECT DISTINCT event_type FROM regs),
      pairs AS (SELECT a.event_type AS sa, b.event_type AS sb
                FROM srcs a JOIN srcs b ON a.event_type < b.event_type),
      ur AS (SELECT sa, sb, j, MAX(mreg) AS mreg FROM (
               SELECT p.sa, p.sb, r.j, r.mreg
               FROM pairs p JOIN regs r ON r.event_type = p.sa
               UNION ALL
               SELECT p.sa, p.sb, r.j, r.mreg
               FROM pairs p JOIN regs r ON r.event_type = p.sb)
             GROUP BY 1, 2, 3),
      eu AS (SELECT sa, sb, est FROM (${estimateSql("SELECT * FROM ur", "sa, sb", m).trim})),
      es AS (SELECT event_type, est FROM (${estimateSql("SELECT * FROM regs", "event_type", m).trim})),
      dt AS (SELECT DISTINCT event_type, item FROM d),
      na AS (SELECT event_type, COUNT(*) AS n FROM dt GROUP BY 1),
      du AS (SELECT sa, sb, CAST(COUNT(DISTINCT item) AS BIGINT) AS nu FROM (
               SELECT p.sa, p.sb, t.item
               FROM pairs p JOIN dt t ON t.event_type = p.sa
               UNION ALL
               SELECT p.sa, p.sb, t.item
               FROM pairs p JOIN dt t ON t.event_type = p.sb)
             GROUP BY 1, 2),
      base AS (SELECT p.sa, p.sb,
                 ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
                 greatest(0.0, ea.est + eb.est - eu.est) AS est_inter,
                 xa.n AS exact_a, xb.n AS exact_b, du.nu AS exact_union,
                 xa.n + xb.n - du.nu AS exact_inter
               FROM pairs p
               JOIN es ea ON ea.event_type = p.sa
               JOIN es eb ON eb.event_type = p.sb
               JOIN eu ON eu.sa = p.sa AND eu.sb = p.sb
               JOIN na xa ON xa.event_type = p.sa
               JOIN na xb ON xb.event_type = p.sb
               JOIN du ON du.sa = p.sa AND du.sb = p.sb)
      SELECT sa, sb, est_a, est_b, est_union, est_inter,
             est_inter / est_union AS jaccard_est,
             exact_a, exact_b, exact_union, exact_inter,
             ABS(est_union - CAST(exact_union AS DOUBLE))
               <= CAST(exact_union AS DOUBLE) * 0.13 AS union_err_ok,
             ABS(est_inter - CAST(exact_inter AS DOUBLE))
               <= CAST(exact_union AS DOUBLE) * 0.25 AS inter_err_ok
      FROM base ORDER BY sa, sb"""
    }),
      (s, dir) => {
        import graft.functions.HyperLogLog
        val m = 1024
        // 2 consumers (sketch build, exact distinct): materialize the
        // projected activity table once
        val ev = Tables.events(s, dir)
          .select(col("event_type"),
            concat(col("user_id").cast("string"), lit("@"),
              col("ts").cast("date").cast("string")).as("item"))
          .localCheckpoint()
        // 3 consumers (per-type estimate, both pair-join sides) of the
        // s·m-row register table
        val regs = HyperLogLog.sketch(ev, col("item"), Seq("event_type"), m)
          .localCheckpoint()
        val srcs = regs.select("event_type").distinct()
        val pairs = srcs.toDF("sa")
          .crossJoin(srcs.toDF("sb")).where(col("sa") < col("sb"))
          .localCheckpoint() // joined against 4 derived tables
        val ur = pairs
          .join(regs, col("event_type") === col("sa")).drop("event_type")
          .unionByName(pairs
            .join(regs, col("event_type") === col("sb")).drop("event_type"))
          .groupBy("sa", "sb", "j").agg(max("mreg").as("mreg"))
        val eu = HyperLogLog.estimate(ur, Seq("sa", "sb"), m)
          .select("sa", "sb", "est")
        val es = HyperLogLog.estimate(regs, Seq("event_type"), m)
          .select("event_type", "est")
        val dt = ev.distinct().localCheckpoint() // 3 consumers below
        val na = dt.groupBy("event_type").agg(count(lit(1)).as("n"))
        val du = pairs
          .join(dt, col("event_type") === col("sa")).drop("event_type")
          .unionByName(pairs
            .join(dt, col("event_type") === col("sb")).drop("event_type"))
          .groupBy("sa", "sb")
          .agg(countDistinct("item").as("nu"))
        val base = pairs
          .join(broadcast(es.toDF("sa", "est_a")), "sa")
          .join(broadcast(es.toDF("sb", "est_b")), "sb")
          .join(broadcast(eu.withColumnRenamed("est", "est_union")),
            Seq("sa", "sb"))
          .join(broadcast(na.toDF("sa", "exact_a")), "sa")
          .join(broadcast(na.toDF("sb", "exact_b")), "sb")
          .join(broadcast(du.withColumnRenamed("nu", "exact_union")),
            Seq("sa", "sb"))
          .withColumn("est_inter",
            greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")))
          .withColumn("exact_inter",
            col("exact_a") + col("exact_b") - col("exact_union"))
        base.select(col("sa"), col("sb"), col("est_a"), col("est_b"),
            col("est_union"), col("est_inter"),
            (col("est_inter") / col("est_union")).as("jaccard_est"),
            col("exact_a"), col("exact_b"), col("exact_union"),
            col("exact_inter"),
            (abs(col("est_union") - col("exact_union").cast("double"))
              <= col("exact_union").cast("double") * 0.13).as("union_err_ok"),
            (abs(col("est_inter") - col("exact_inter").cast("double"))
              <= col("exact_union").cast("double") * 0.25).as("inter_err_ok"))
          .orderBy("sa", "sb")
      }),

    // ---- q169: ROLLING-WINDOW distinct users (3-day WAU shape) from
    // daily HLL sketches — sketch algebra in the TIME dimension: build
    // one register table per day (partial-aggregating, q148's shape),
    // then every anchor day's window [d−2, d] is a register-MAX merge
    // of 3 daily sketches. The clone factor (window length) applies to
    // SKETCH rows — days×m, not events — which is the entire point: a
    // 100 TB/deep-history rolling MAU never re-scans w days of raw
    // events per anchor, and day d's raw data is touched exactly once
    // ever (yesterday's sketches are immutable artifacts; idempotent
    // MAX merge survives re-delivered shards). The exact
    // per-window COUNT(DISTINCT) rides along as gate-only ground truth
    // with the q148 err bound (m=1024, bias-corrected); partial
    // leading windows (< 3 days of history) are standard rolling
    // semantics. Day = integer micros div — no calendar/timezone
    // surface anywhere.
    QueryDef("q169_rolling_distinct", Some(s"""
      WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day_n,
                         CAST(user_id AS VARCHAR) AS u
                  FROM events),
      ${graft.functions.HyperLogLog.hashCtesSql("u", "ev", "day_n", 1024, "rd")},
      d0 AS MATERIALIZED (SELECT day_n, j, MAX(rho) AS mreg FROM rdr GROUP BY day_n, j),
      mx AS (SELECT MAX(day_n) AS dmax FROM ev),
      win AS (SELECT day_n + off AS anchor, j, MAX(mreg) AS mreg
              FROM d0, (SELECT UNNEST([0, 1, 2]) AS off) o, mx
              WHERE day_n + off <= dmax
              GROUP BY day_n + off, j),
      ud AS (SELECT DISTINCT day_n, u FROM ev),
      ex AS (SELECT day_n + off AS anchor, u
             FROM ud, (SELECT UNNEST([0, 1, 2]) AS off) o, mx
             WHERE day_n + off <= dmax),
      exact AS (SELECT anchor, CAST(COUNT(DISTINCT u) AS BIGINT) AS exact_users
                FROM ex GROUP BY anchor)
      SELECT x.anchor AS anchor_day, e.v0, e.n_present, e.s_hi, e.s_lo, e.est,
             x.exact_users,
             ABS(e.est - CAST(x.exact_users AS DOUBLE))
               <= CAST(x.exact_users AS DOUBLE) * 0.13 AS err_ok
      FROM (${graft.functions.HyperLogLog.estimateSql(
        "SELECT anchor, j, mreg FROM win", "anchor", 1024)}) e
      JOIN exact x ON x.anchor = e.anchor
      ORDER BY anchor_day"""),
      (s, dir) => {
        import graft.functions.HyperLogLog
        val m = 1024
        val ev = Tables.events(s, dir)
          .select(expr("ts_us div 86400000000").as("day_n"),
            col("user_id").cast("string").as("u"))
          .localCheckpoint() // feeds sketch, exact side, and dmax
        val offs = array((0 to 2).map(lit): _*)
        val mx = ev.agg(max("day_n").as("dmax"))
        val d0 = HyperLogLog.sketch(ev, col("u"), Seq("day_n"), m)
        val win = d0
          .select(explode(offs).as("off"), col("day_n"), col("j"), col("mreg"))
          .select((col("day_n") + col("off")).as("anchor"), col("j"), col("mreg"))
          .crossJoin(broadcast(mx)).where(col("anchor") <= col("dmax"))
          .groupBy("anchor", "j").agg(max("mreg").as("mreg"))
        val est = HyperLogLog.estimate(win, Seq("anchor"), m)
        val exact = ev.distinct()
          .select(explode(offs).as("off"), col("day_n"), col("u"))
          .select((col("day_n") + col("off")).as("anchor"), col("u"))
          .crossJoin(broadcast(mx)).where(col("anchor") <= col("dmax"))
          .distinct()
          .groupBy("anchor").agg(count(lit(1)).cast("long").as("exact_users"))
        est.join(exact, "anchor")
          .select(col("anchor").as("anchor_day"), col("v0"), col("n_present"),
            col("s_hi"), col("s_lo"), col("est"), col("exact_users"),
            (abs(col("est") - col("exact_users").cast("double"))
              <= col("exact_users").cast("double") * 0.13).as("err_ok"))
          .orderBy("anchor_day")
      }),

    // ---- q171: ORDERED funnel (view → click → purchase) — the event-
    // analytics staple: how many users reach each step IN ORDER, with
    // per-step conversion. Strictly sequential semantics (a click only
    // counts after the user's FIRST view; a purchase only after that
    // first qualifying click), computed as a chain of keyed min-aggs —
    // step i is one equi-join on user against step i−1's arrival table
    // + one hash MIN, so depth-k funnels cost k joins over
    // user-keyed tables, never a per-user event sort or a window over
    // the firehose. Conversions are single exact long/long divisions;
    // denominator-zero guarded per the house ANSI rule.
    QueryDef("q171_funnel", Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
      n0 AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n0 FROM e),
      t1 AS (SELECT user_id, MIN(tu) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY user_id),
      t2 AS (SELECT e.user_id, MIN(tu) AS t2 FROM e JOIN t1 ON t1.user_id = e.user_id
             WHERE e.event_type = 'click' AND e.tu > t1.t1 GROUP BY e.user_id),
      t3 AS (SELECT e.user_id, MIN(tu) AS t3 FROM e JOIN t2 ON t2.user_id = e.user_id
             WHERE e.event_type = 'purchase' AND e.tu > t2.t2 GROUP BY e.user_id),
      c AS (SELECT (SELECT n0 FROM n0) AS n0,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n1,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n2,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n3)
      SELECT step, users, conv FROM (
        SELECT '1_view' AS step, n1 AS users,
               CASE WHEN n0 > 0 THEN n1 / n0 END AS conv FROM c
        UNION ALL SELECT '2_click', n2, CASE WHEN n1 > 0 THEN n2 / n1 END FROM c
        UNION ALL SELECT '3_purchase', n3, CASE WHEN n2 > 0 THEN n3 / n2 END FROM c)
      ORDER BY step"""),
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts_us"))
          .localCheckpoint() // base of all three step filters + user count
        val n0 = e.select("user_id").distinct()
          .agg(count(lit(1)).cast("long").as("n0"))
        val t1 = e.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_us").as("t1"))
        val t2 = e.where(col("event_type") === "click").join(t1, "user_id")
          .where(col("ts_us") > col("t1"))
          .groupBy("user_id").agg(min("ts_us").as("t2"))
        val t3 = e.where(col("event_type") === "purchase").join(t2, "user_id")
          .where(col("ts_us") > col("t2"))
          .groupBy("user_id").agg(min("ts_us").as("t3"))
        def n(df: org.apache.spark.sql.DataFrame, as: String) =
          broadcast(df.agg(count(lit(1)).cast("long").as(as)))
        val c = broadcast(n0).crossJoin(n(t1, "n1")).crossJoin(n(t2, "n2"))
          .crossJoin(n(t3, "n3"))
        c.select(explode(array(
            struct(lit("1_view").as("step"), col("n1").as("users"),
              when(col("n0") > 0, col("n1") / col("n0")).as("conv")),
            struct(lit("2_click").as("step"), col("n2").as("users"),
              when(col("n1") > 0, col("n2") / col("n1")).as("conv")),
            struct(lit("3_purchase").as("step"), col("n3").as("users"),
              when(col("n2") > 0, col("n3") / col("n2")).as("conv"))))
            .as("r"))
          .select(col("r.step"), col("r.users"), col("r.conv"))
          .orderBy("step")
      }),

    // ---- q172: event-type transition matrix — the first-order Markov
    // view of user behavior: P(next event type | current), from each
    // user's time-ordered event stream. The LEAD window partitions by
    // user (bounded by one user's history — the q17 sessionization
    // adjudication, never a global window), transition counts are one
    // hash agg onto the type×type grid, and row-normalization joins
    // the ≤ types² count table against its own row totals — post-
    // aggregation, everything is sketch-sized. Probabilities are
    // single exact long/long divisions → hash-exact.
    QueryDef("q172_event_transitions", Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu, event_id FROM events),
      p AS (SELECT user_id, event_type AS cur,
              LEAD(event_type) OVER (PARTITION BY user_id
                ORDER BY tu, event_id) AS nxt
            FROM e),
      t AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n FROM p
            WHERE nxt IS NOT NULL GROUP BY cur, nxt),
      tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS n_cur FROM t GROUP BY cur)
      SELECT t.cur, t.nxt, t.n, tot.n_cur, t.n / tot.n_cur AS p
      FROM t JOIN tot ON tot.cur = t.cur
      ORDER BY t.cur, t.nxt"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val t = Tables.events(s, dir)
          .select(col("user_id"), col("event_type").as("cur"),
            col("ts_us"), col("event_id"))
          .withColumn("nxt", lead("cur", 1).over(w))
          .where(col("nxt").isNotNull)
          .groupBy("cur", "nxt").agg(count(lit(1)).cast("long").as("n"))
          .localCheckpoint() // feeds counts AND its own row totals
        val tot = t.groupBy("cur").agg(sum("n").cast("long").as("n_cur"))
        t.join(tot, "cur")
          .select(col("cur"), col("nxt"), col("n"), col("n_cur"),
            (col("n") / col("n_cur")).as("p"))
          .orderBy("cur", "nxt")
      }),

    // ---- q177: exponentially time-decayed engagement score — the
    // recency-weighted feature a ranking/retention model actually uses
    // (an event 7 days ago counts half as much as one now, half-life
    // dial): per event, weight 2^(−age/hl) against the corpus max
    // timestamp, NANO-scaled to an integer immediately (round-to-
    // integer is the cross-engine-safe rounding), so the per-user
    // score is an EXACT integer sum — no order-dependent float
    // reduction — and one division converts back at the end. The
    // per-event weight is deterministic both engines (exact long
    // subtraction, one exact division, libm pow — the q149
    // adjudication). One hash agg per user; tmax rides a 1-row
    // broadcast. Overflow headroom: each weight is ≤ 10⁹ nanos, so a
    // user needs ~9·10⁹ max-recency events before the long sum wraps
    // — raise the half-life dial (weights shrink) or drop to micros
    // long before a real user history gets there.
    QueryDef("q177_decayed_engagement", Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
      mx AS (SELECT MAX(tu) AS tmax FROM e),
      w AS (SELECT user_id,
              CAST(ROUND(POWER(CAST(2 AS DOUBLE),
                -((tmax - tu) / 604800000000.0)) * 1000000000) AS BIGINT) AS w_nanos
            FROM e, mx),
      g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(w_nanos) AS BIGINT) AS score_nanos
            FROM w GROUP BY user_id)
      SELECT user_id, n_events, score_nanos,
             CAST(score_nanos AS DOUBLE) / 1000000000.0 AS score
      FROM g ORDER BY score_nanos DESC, user_id"""),
      (s, dir) => {
        val e = Tables.events(s, dir).select(col("user_id"), col("ts_us"))
          .localCheckpoint() // max AND the weighted pass read it
        val mx = broadcast(e.agg(max("ts_us").as("tmax")))
        e.crossJoin(mx)
          .select(col("user_id"),
            round(pow(lit(2.0), -((col("tmax") - col("ts_us"))
              / lit(604800000000.0))) * 1000000000).cast("long").as("w_nanos"))
          .groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_events"),
            sum("w_nanos").cast("long").as("score_nanos"))
          .select(col("user_id"), col("n_events"), col("score_nanos"),
            (col("score_nanos").cast("double") / lit(1000000000.0)).as("score"))
          .orderBy(col("score_nanos").desc, col("user_id"))
      }),

    // ---- q178: per-type value trend via closed-form OLS — "is
    // purchase volume rising?" answered as a grouped linear
    // regression of daily value cents on the integer day number,
    // BIT-EXACT with no rounding anywhere: every moment (n, Σx, Σy,
    // Σxy, Σx²) is an exact integer sum (cents trick × integer days),
    // and slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is one double division
    // of exact longs; intercept follows as a fixed expression tree.
    // Scale shape: one daily pre-aggregation (the corpus-sized pass),
    // then the regression runs over type×days rows — moments
    // partial-aggregate, nothing is collected, and a constant-x
    // degenerate group (single day) is guarded to NULL rather than
    // divide by zero. x is CENTERED at the corpus min day (slope is
    // shift-invariant; intercept reads "cents at day 0 = min day"):
    // with raw epoch days ~2·10⁴, Σxy at petabyte daily volumes walks
    // into long overflow — centered, x spans only the observed range
    // and the exact-integer moments stay exact at any scale.
    QueryDef("q178_value_trend", Some(s"""
      WITH d0 AS (SELECT event_type, epoch_us(ts) // 86400000000 AS xr,
                         CAST(SUM($valCents) AS BIGINT) AS y
                  FROM events GROUP BY 1, 2),
      d AS (SELECT event_type, xr - (SELECT MIN(xr) FROM d0) AS x, y FROM d0),
      m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM d GROUP BY event_type)
      SELECT event_type, n AS n_days,
             CASE WHEN n * sxx - sx * sx > 0
                  THEN CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_cents_per_day,
             CASE WHEN n * sxx - sx * sx > 0
                  THEN (CAST(sy AS DOUBLE)
                        - (CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE))
                          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) END AS intercept_cents
      FROM m ORDER BY event_type"""),
      (s, dir) => {
        val d0 = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("xr"))
          .agg(sum(expr(valCents)).cast("long").as("y"))
          .localCheckpoint() // feeds its own min AND the moments
        val x0 = broadcast(d0.agg(min("xr").as("x0")))
        val d = d0.crossJoin(x0)
          .select(col("event_type"), (col("xr") - col("x0")).as("x"), col("y"))
        val m = d.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
            sum(col("x") * col("y")).cast("long").as("sxy"),
            sum(col("x") * col("x")).cast("long").as("sxx"))
        val den = col("n") * col("sxx") - col("sx") * col("sx")
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          den.cast("double")
        m.select(col("event_type"), col("n").as("n_days"),
            when(den > 0, slope).as("slope_cents_per_day"),
            when(den > 0,
              (col("sy").cast("double") - slope * col("sx").cast("double"))
                / col("n").cast("double")).as("intercept_cents"))
          .orderBy("event_type")
      }),

    // ---- q188: CDC changelog compaction — the events feed read as a
    // keyed change stream (key = user_id, ordered by (ts, event_id),
    // 'error' = tombstone): one mergeable max-struct hash agg yields
    // each key's latest surviving state; keys whose last op is a
    // tombstone vanish. NEVER a row_number window (that would sort
    // every key's full history at 100 TB) and idempotent under
    // at-least-once replay — the total (ts, event_id) order makes
    // reruns bit-identical.
    QueryDef("q188_cdc_compaction", Some("""
      WITH x AS (SELECT user_id, event_id, event_type, value,
                        epoch_us(ts) AS ts_us FROM events),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY ts_us DESC, event_id DESC) AS rk FROM x)
      SELECT user_id, event_type, value, ts_us
      FROM r WHERE rk = 1 AND event_type <> 'error'
      ORDER BY user_id"""),
      (s, dir) =>
        graft.operators.Compaction.latest(
            Tables.events(s, dir),
            keyCols = Seq("user_id"), tsCol = "ts_us",
            tieCols = Seq("event_id"),
            payloadCols = Seq("event_type", "value"),
            deletePred = col("event_type") === "error")
          .select("user_id", "event_type", "value", "ts_us")
          .orderBy("user_id"))
,
    // ---- q190: frequent event-type trigrams — sequence mining one
    // order up from the q172 first-order transition matrix: contiguous
    // (e1, e2, e3) paths per user (total (ts µs, event_id) order),
    // with support = occurrences and n_users = distinct users showing
    // the path. The lead window partitions by user — bounded per-key
    // work, the one window shape that scales — and support counting is
    // a hash agg over a ≤|types|³ key space.
    QueryDef("q190_event_trigrams", Some("""
      WITH x AS (SELECT user_id, event_type,
                        lead(event_type, 1) OVER w AS e2,
                        lead(event_type, 2) OVER w AS e3
                 FROM (SELECT user_id, event_id, event_type, epoch_us(ts) AS tu
                       FROM events)
                 WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id))
      SELECT event_type AS e1, e2, e3, COUNT(*) AS n,
             COUNT(DISTINCT user_id) AS n_users
      FROM x WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
      ORDER BY e1, e2, e3"""),
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us", "event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            lead(col("event_type"), 1).over(w).as("e2"),
            lead(col("event_type"), 2).over(w).as("e3"))
          .where(col("e2").isNotNull && col("e3").isNotNull)
          .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"))
          .where(col("n") >= 2)
          .orderBy("e1", "e2", "e3")
      }),

    // ---- q192: per-user active-time coverage — every event opens a
    // 30-minute activity interval; the answer is the UNION length of
    // overlapping intervals (the q37 sessions' exact cousin: total
    // covered time, not session counts). Classic sweep — running max
    // end per user with an explicit ROWS frame (the default RANGE
    // frame would merge same-start ties wrongly), new span when a
    // start clears it, exact integer µs arithmetic throughout. All
    // windows partition by user: per-key bounded, scale-safe.
    QueryDef("q192_active_coverage", Some("""
      WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS st,
                         epoch_us(ts) + 1800000000 AS en FROM events),
      sw AS (SELECT user_id, event_id, st, en,
                    MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS prev_end
             FROM iv),
      g AS (SELECT user_id, st, en,
                   SUM(CASE WHEN prev_end IS NULL OR st > prev_end
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY st, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM sw),
      sp AS (SELECT user_id, grp, MIN(st) AS gs, MAX(en) AS ge
             FROM g GROUP BY user_id, grp)
      SELECT user_id, COUNT(*) AS n_spans,
             CAST(SUM(ge - gs) AS BIGINT) AS covered
      FROM sp GROUP BY user_id ORDER BY user_id"""),
      (s, dir) =>
        graft.operators.IntervalUnion.coverage(
            Tables.events(s, dir).select(col("user_id"), col("event_id"),
              col("ts_us").as("st"),
              (col("ts_us") + 1800000000L).as("en")),
            "user_id", "st", "en", "event_id")
          .orderBy("user_id"))
,
    // ---- q193: exact two-sample KS drift test — per event type, does
    // its value distribution match the rest of the feed? ECDFs are
    // compared by CROSS-MULTIPLIED integer counts (|cumA·nB − cumB·nA|
    // — pure long arithmetic, no float boundary in the argmax; one
    // division at the end). The sweep windows run over the DISTINCT
    // cents grid partitioned by type — bounded by the value domain,
    // not the corpus (the q141 AUC justification); unbounded domains
    // route through the q152 bucket-histogram sketch instead.
    QueryDef("q193_ks_drift", Some(s"""
      WITH vc AS (SELECT event_type AS g, $valCents AS v FROM events),
      bygv AS (SELECT g, v, COUNT(*) AS n_gv FROM vc GROUP BY g, v),
      byv AS (SELECT v, COUNT(*) AS n_v FROM vc GROUP BY v),
      tot AS (SELECT g, COUNT(*) AS n_a FROM vc GROUP BY g),
      nn AS (SELECT COUNT(*) AS n_all FROM vc),
      grid AS (SELECT t.g, byv.v, byv.n_v, COALESCE(b.n_gv, 0) AS n_gv
               FROM byv CROSS JOIN (SELECT g FROM tot) t
                        LEFT JOIN bygv b ON b.g = t.g AND b.v = byv.v),
      cum AS (SELECT g, v,
                     CAST(SUM(n_gv) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
                     CAST(SUM(n_v - n_gv) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
              FROM grid),
      dd AS (SELECT c.g, c.v, tot.n_a, nn.n_all - tot.n_a AS n_b,
                    CAST(abs(c.cum_a * (nn.n_all - tot.n_a) - c.cum_b * tot.n_a)
                         AS BIGINT) AS dnum
             FROM cum c JOIN tot ON tot.g = c.g CROSS JOIN nn),
      r AS (SELECT g, n_a, n_b, dnum, v,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY dnum DESC, v) AS rk
            FROM dd WHERE n_b > 0)
      SELECT g AS event_type, n_a, n_b, dnum AS d_num,
             CAST(dnum AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS ks_stat,
             v AS at_value
      FROM r WHERE rk = 1 ORDER BY event_type"""),
      (s, dir) =>
        graft.operators.KsTest.perGroupVsRest(
            Tables.events(s, dir)
              .select(col("event_type"), QueryDef.cents(col("value")).as("v")),
            "event_type", "v")
          .orderBy("event_type"))
,
    // ---- q196: Theil–Sen robust trend — the outlier-immune partner
    // of q178's OLS: per event type, the MEDIAN of all pairwise daily
    // slopes (a single wild day moves OLS arbitrarily, but not the
    // median of O(days²) slopes). Each slope is one exact double
    // division of exact integer (Δcents, Δdays); the pairwise
    // self-join runs per type over the DAILY table — bounded by the
    // time domain squared, never by event volume (the corpus collapses
    // to days×types rows first). median = percentile_cont(0.5): both
    // engines average the two middles with one identical IEEE op.
    QueryDef("q196_theil_sen", Some(s"""
      WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS x,
                            CAST(SUM($valCents) AS BIGINT) AS y
                     FROM events GROUP BY 1, 2),
      sl AS (SELECT a.event_type,
                    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
             FROM daily a JOIN daily b
               ON a.event_type = b.event_type AND a.x < b.x)
      SELECT event_type, COUNT(*) AS n_pairs,
             median(slope) AS slope_cents_per_day
      FROM sl GROUP BY event_type ORDER BY event_type"""),
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("x"))
          .agg(sum(QueryDef.cents(col("value"))).as("y"))
        daily.as("a").join(daily.as("b"),
            col("a.event_type") === col("b.event_type") &&
              col("a.x") < col("b.x"))
          .select(col("a.event_type").as("event_type"),
            ((col("b.y") - col("a.y")).cast("double") /
              (col("b.x") - col("a.x")).cast("double")).as("slope"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_pairs"),
            median(col("slope")).as("slope_cents_per_day"))
          .orderBy("event_type")
      }),

    // ---- q197: funnel time-to-convert — q171's ordered funnel tells
    // WHO converted; this reports HOW FAST: per user, first 'view' →
    // first subsequent 'purchase', then conversion rate and latency
    // percentiles across converted users. Per-user anchors are
    // mergeable MIN aggregations (never a window over the event
    // stream); the percentile runs over the converted-user latency
    // table — user-count bounded, not event bounded. Latencies are
    // exact integer µs; the two interpolated percentiles follow the
    // q57 round-6 convention, the rate is one exact division.
    QueryDef("q197_funnel_latency", Some("""
      WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS tv
                 FROM events WHERE event_type = 'view' GROUP BY user_id),
      p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS tp
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.tv
            GROUP BY e.user_id),
      lat AS (SELECT p.user_id, p.tp - v.tv AS lat_us
              FROM p JOIN v ON v.user_id = p.user_id)
      SELECT (SELECT COUNT(*) FROM v) AS n_viewers,
             COUNT(*) AS n_converted,
             COUNT(*) / (SELECT COUNT(*) FROM v) AS conversion_rate,
             ROUND(quantile_cont(lat_us, 0.5), 6) AS p50_latency_us,
             ROUND(quantile_cont(lat_us, 0.9), 6) AS p90_latency_us
      FROM lat"""),
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts_us"))
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts_us")).as("tv"))
        val p = ev.where(col("event_type") === "purchase").as("e")
          .join(v.as("v"), col("e.user_id") === col("v.user_id") &&
            col("e.ts_us") >= col("v.tv"))
          .groupBy(col("e.user_id").as("user_id"))
          .agg(min(col("e.ts_us")).as("tp"))
        val lat = p.join(v, "user_id")
          .select((col("tp") - col("tv")).as("lat_us"))
        val nv = v.agg(count(lit(1)).as("n_viewers"))
        lat.agg(count(lit(1)).as("n_converted"),
            round(expr("percentile(lat_us, 0.5)"), 6).as("p50_latency_us"),
            round(expr("percentile(lat_us, 0.9)"), 6).as("p90_latency_us"))
          .crossJoin(broadcast(nv))
          .select(col("n_viewers"), col("n_converted"),
            (col("n_converted") / col("n_viewers")).as("conversion_rate"),
            col("p50_latency_us"), col("p90_latency_us"))
      }),

    // ---- q198: bucketed KS drift — q193's scale dial for UNBOUNDED
    // value domains: the same cross-multiplied-integer ECDF compare,
    // but over $5 histogram buckets (the q152 sketch's floor-division
    // bucketing), so the sweep grid is (range ÷ width) rows no matter
    // what the values are. The statistic is exact FOR THE BUCKETED
    // distribution; granularity error vs q193's exact KS is bounded by
    // the mass of any single bucket — width is the dial.
    QueryDef("q198_ks_bucketed", Some(s"""
      WITH vc AS (SELECT event_type AS g,
                         (($valCents - ((($valCents % 500) + 500) % 500)) // 500) AS v
                  FROM events),
      bygv AS (SELECT g, v, COUNT(*) AS n_gv FROM vc GROUP BY g, v),
      byv AS (SELECT v, COUNT(*) AS n_v FROM vc GROUP BY v),
      tot AS (SELECT g, COUNT(*) AS n_a FROM vc GROUP BY g),
      nn AS (SELECT COUNT(*) AS n_all FROM vc),
      grid AS (SELECT t.g, byv.v, byv.n_v, COALESCE(b.n_gv, 0) AS n_gv
               FROM byv CROSS JOIN (SELECT g FROM tot) t
                        LEFT JOIN bygv b ON b.g = t.g AND b.v = byv.v),
      cum AS (SELECT g, v,
                     CAST(SUM(n_gv) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
                     CAST(SUM(n_v - n_gv) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
              FROM grid),
      dd AS (SELECT c.g, c.v, tot.n_a, nn.n_all - tot.n_a AS n_b,
                    CAST(abs(c.cum_a * (nn.n_all - tot.n_a) - c.cum_b * tot.n_a)
                         AS BIGINT) AS dnum
             FROM cum c JOIN tot ON tot.g = c.g CROSS JOIN nn),
      r AS (SELECT g, n_a, n_b, dnum, v,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY dnum DESC, v) AS rk
            FROM dd WHERE n_b > 0)
      SELECT g AS event_type, n_a, n_b, dnum AS d_num,
             CAST(dnum AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS ks_stat,
             v AS at_value
      FROM r WHERE rk = 1 ORDER BY event_type"""),
      (s, dir) =>
        graft.operators.KsTest.perGroupVsRest(
            Tables.events(s, dir)
              .select(col("event_type"),
                expr("(cast(round(value*100) as bigint) - " +
                  "pmod(cast(round(value*100) as bigint), 500)) div 500").as("v")),
            "event_type", "v")
          .orderBy("event_type")),

    // ---- q202: Hampel robust-outlier report (operators.RobustStats) —
    // median ± 3·1.4826·MAD fences per event type, the monitoring
    // primitive whose thresholds a few wild rows cannot drag (a
    // mean/stddev fence chases its own outliers; the median/MAD fence
    // has a 50% breakdown point). Exact rank statistics WITHOUT sorting
    // the corpus: one hash agg collapses events onto the value-domain-
    // bounded (type, cents, count) counter table, and both medians —
    // the value median and the median absolute deviation — come from
    // counter-row windows (per-type, domain-bounded — the q193/q141
    // justification; truly unbounded domains quantize first via the
    // q152/q198 bucket dial). Interpolation is percentile_cont(0.5)'s
    // lo + (hi−lo)·f over exact integer cents, so every med/mad is an
    // exact half-integer and the oracle hash-matches with no rounding.
    QueryDef("q202_mad_outliers", Some(s"""
      WITH ct AS (SELECT event_type, CAST($valCents AS DOUBLE) AS v,
                         CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM events GROUP BY 1, 2),
      mw AS (SELECT event_type, v, cnt,
                    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM ct),
      mg AS (SELECT event_type, n,
                    MIN(CASE WHEN cum >= (n - 1) // 2 + 1 THEN v END) AS lo,
                    MIN(CASE WHEN cum >= (n - 1) // 2 + 2 THEN v END) AS hi
             FROM mw GROUP BY event_type, n),
      med AS (SELECT event_type, n,
                     lo + (COALESCE(hi, lo) - lo) *
                       (CASE WHEN (n - 1) % 2 = 1 THEN 0.5 ELSE 0.0 END) AS med
              FROM mg),
      dct AS (SELECT c.event_type, abs(c.v - m.med) AS dv,
                     CAST(SUM(c.cnt) AS BIGINT) AS cnt
              FROM ct c JOIN med m USING (event_type) GROUP BY 1, 2),
      dw AS (SELECT event_type, dv, cnt,
                    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY dv
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM dct),
      dg AS (SELECT event_type, n,
                    MIN(CASE WHEN cum >= (n - 1) // 2 + 1 THEN dv END) AS lo,
                    MIN(CASE WHEN cum >= (n - 1) // 2 + 2 THEN dv END) AS hi
             FROM dw GROUP BY event_type, n),
      mad AS (SELECT event_type,
                     lo + (COALESCE(hi, lo) - lo) *
                       (CASE WHEN (n - 1) % 2 = 1 THEN 0.5 ELSE 0.0 END) AS mad
              FROM dg)
      SELECT c.event_type, m.n, m.med / 100.0 AS med_value,
             d.mad / 100.0 AS mad_value,
             CAST(SUM(CASE WHEN abs(c.v - m.med) > 4.4478 * d.mad
                           THEN c.cnt ELSE 0 END) AS BIGINT) AS n_out,
             CAST(SUM(CASE WHEN abs(c.v - m.med) > 4.4478 * d.mad
                           THEN c.cnt ELSE 0 END) AS BIGINT) / m.n AS out_frac
      FROM ct c JOIN med m USING (event_type) JOIN mad d USING (event_type)
      GROUP BY 1, 2, 3, 4 ORDER BY event_type"""),
      (s, dir) =>
        graft.operators.RobustStats.madOutliers(
            Tables.events(s, dir)
              .select(col("event_type"),
                QueryDef.cents(col("value")).cast("double").as("v"))
              .groupBy("event_type", "v").agg(count(lit(1)).as("cnt")),
            Seq("event_type"), "v", "cnt")
          .select(col("event_type"), col("n"),
            (col("med") / 100.0).as("med_value"),
            (col("mad") / 100.0).as("mad_value"),
            col("n_out"), col("out_frac"))
          .orderBy("event_type")),

    // ---- q203: lag-1 autocorrelation of the daily revenue series per
    // event type — the time-series diagnostic that tells a monitoring
    // pipeline whether today predicts tomorrow (persistence) or the
    // series is mean-reverting noise, i.e. whether a trend alarm (q178
    // OLS, q196 Theil–Sen) is even meaningful. Exactness discipline is
    // q178's: the corpus collapses to the day-domain-bounded daily
    // table (one hash agg of exact cents), values are CENTERED at the
    // per-type minimum daily total (Pearson r is translation-invariant,
    // and centering keeps every integer moment within long range at
    // petabyte daily volumes), consecutive-day pairs come from an
    // explicit d+1 equi-join (gap-safe, unlike LEAD which would pair
    // across holes), and all six moments are exact integer sums. Only
    // the final r assembles doubles — a fixed expression tree over
    // exact longs, bit-identical in both engines; zero-variance and
    // single-pair groups are guarded to NULL.
    QueryDef("q203_autocorr", Some(s"""
      WITH daily AS (SELECT event_type,
                            CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d,
                            CAST(SUM($valCents) AS BIGINT) AS y
                     FROM events GROUP BY 1, 2),
      c0 AS (SELECT event_type, MIN(y) AS c0 FROM daily GROUP BY 1),
      cd AS (SELECT daily.event_type, d, y - c0 AS x
             FROM daily JOIN c0 USING (event_type)),
      pr AS (SELECT a.event_type, a.x AS x, b.x AS y
             FROM cd a JOIN cd b ON b.event_type = a.event_type AND b.d = a.d + 1),
      m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM pr GROUP BY 1)
      SELECT event_type, n AS n_pairs,
             CASE WHEN n < 2 OR n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                  THEN NULL
                  ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
                       sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                            CAST(n * syy - sy * sy AS DOUBLE))
             END AS r1
      FROM m ORDER BY event_type"""),
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("d"))
          .agg(sum(QueryDef.cents(col("value"))).as("y"))
        val ref = daily.groupBy("event_type").agg(min("y").as("c0"))
        val cd = daily.join(broadcast(ref), "event_type")
          .select(col("event_type"), col("d"), (col("y") - col("c0")).as("x"))
        val pr = cd.as("a")
          .join(cd.as("b"),
            col("b.event_type") === col("a.event_type") &&
              col("b.d") === col("a.d") + 1)
          .select(col("a.event_type").as("event_type"),
            col("a.x").as("x"), col("b.x").as("y"))
        val m = pr.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        m.select(col("event_type"), col("n").as("n_pairs"),
            when(col("n") < 2 ||
                col("n") * col("sxx") - col("sx") * col("sx") === 0 ||
                col("n") * col("syy") - col("sy") * col("sy") === 0,
              lit(null).cast("double"))
              .otherwise(
                (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                  sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                    (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
              .as("r1"))
          .orderBy("event_type")
      }),

    // ---- q210: point-in-time-correct training-set assembly — the
    // feature-store join: every purchase (label event) dressed with
    // three features computed STRICTLY from the user's past (rolling
    // 7-day spend ending 1µs before the label, previous event type,
    // days since first activity) — the no-future-leakage contract that
    // makes a training set honest (the q97 split discipline applied
    // WITHIN the timeline). All three features ride ONE shuffle: every
    // window partitions by user_id (per-key bounded), the spend frame
    // is a value-RANGE over epoch micros (same-timestamp peers
    // excluded identically in both engines), and features for ALL
    // events are computed in the same pass before the label filter —
    // at 100 TB you pay one user-keyed exchange, not one per feature.
    // Cents sums exact; the two emitted /100.0 are single IEEE ops.
    QueryDef("q210_feature_assembly", Some(s"""
      WITH w AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tu,
                        $valCents AS cents FROM events),
      f AS (SELECT event_id, user_id, tu, event_type, cents,
                   COALESCE(CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY tu
                     RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS spend7,
                   LAG(event_type) OVER (PARTITION BY user_id
                     ORDER BY tu, event_id) AS prev_type,
                   MIN(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_tu
            FROM w)
      SELECT event_id, user_id, tu AS ts_us, cents / 100.0 AS label_value,
             spend7 / 100.0 AS spend_7d,
             COALESCE(prev_type, 'none') AS prev_type,
             CAST((tu - first_tu) // 86400000000 AS BIGINT) AS days_since_first
      FROM f WHERE event_type = 'purchase' ORDER BY event_id"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("ts_us"), QueryDef.cents(col("value")).as("cents"))
        val wSpend = Window.partitionBy("user_id").orderBy("ts_us")
          .rangeBetween(-604800000000L, -1L)
        val wOrd = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        val wMin = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("spend7", coalesce(sum("cents").over(wSpend), lit(0L)))
          .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
          .withColumn("first_tu", min("ts_us").over(wMin))
          .where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"),
            (col("cents") / 100.0).as("label_value"),
            (col("spend7") / 100.0).as("spend_7d"),
            coalesce(col("prev_type"), lit("none")).as("prev_type"),
            expr("(ts_us - first_tu) div 86400000000").as("days_since_first"))
          .orderBy("event_id")
      }),

    // ---- q213: population stability index — the industry-standard
    // "has the scored population shifted since the model was fit?"
    // drift number (conventional gates: < 0.1 stable, > 0.25 act),
    // here between the first and second half of the corpus's day range
    // over q198's $5 value buckets. Each bin's term
    // (p_i − q_i)·ln(p_i/q_i) is computed from exact integer counts
    // (the ln argument is the ratio of the two IEEE-exact proportions
    // — overflow-free at any count, unlike the cross-multiplied
    // integer form) and nano-scaled to a long immediately (the q166
    // discipline), so the total is an exact order-free sum; bins with
    // one-sided support contribute NULL terms but their MASS is
    // reported on every row — silent mass exclusion is how PSI lies.
    // One corpus scan onto the bucket counter; everything after is
    // bucket-table algebra.
    QueryDef("q213_psi", Some(s"""
      WITH w AS (SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS d,
                        (($valCents - ((($valCents % 500) + 500) % 500)) // 500) AS b
                 FROM events),
      sp AS (SELECT (MIN(d) + MAX(d)) // 2 AS mid FROM w),
      c AS (SELECT b,
                   CAST(SUM(CASE WHEN d < mid THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                   CAST(SUM(CASE WHEN d >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
            FROM w CROSS JOIN sp GROUP BY b),
      tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS nr,
                     CAST(SUM(n_cur) AS BIGINT) AS nc FROM c),
      t AS (SELECT c.b, c.n_ref, c.n_cur,
                   CASE WHEN c.n_ref > 0 AND c.n_cur > 0 THEN
                     CAST(round((CAST(c.n_ref AS DOUBLE) / t.nr
                                 - CAST(c.n_cur AS DOUBLE) / t.nc)
                          * ln((CAST(c.n_ref AS DOUBLE) / t.nr)
                               / (CAST(c.n_cur AS DOUBLE) / t.nc))
                          * 1000000000.0) AS BIGINT)
                   ELSE NULL END AS term_nanos
            FROM c CROSS JOIN tot t),
      ps AS (SELECT CAST(SUM(COALESCE(term_nanos, 0)) AS BIGINT) AS psi_nanos,
                    CAST(SUM(CASE WHEN term_nanos IS NULL
                             THEN n_ref + n_cur ELSE 0 END) AS BIGINT)
                      AS one_sided_mass
             FROM t)
      SELECT t.b AS bucket, t.n_ref, t.n_cur, t.term_nanos,
             CAST(ps.psi_nanos AS DOUBLE) / 1000000000.0 AS psi_total,
             ps.one_sided_mass
      FROM t CROSS JOIN ps ORDER BY bucket"""),
      (s, dir) => {
        val w = Tables.events(s, dir).select(
          expr("ts_us div 86400000000").as("d"),
          expr("(cast(round(value*100) as bigint) - " +
            "pmod(cast(round(value*100) as bigint), 500)) div 500").as("b"))
        val sp = w.agg(expr("(min(d) + max(d)) div 2").as("mid"))
        val c = w.crossJoin(broadcast(sp))
          .groupBy("b")
          .agg(sum(when(col("d") < col("mid"), 1L).otherwise(0L)).as("n_ref"),
            sum(when(col("d") >= col("mid"), 1L).otherwise(0L)).as("n_cur"))
        graft.operators.Psi.fromCounters(c, "b", "n_ref", "n_cur")
          .orderBy("bucket")
      }),

    // ---- q214: session quality metrics — the product-analytics
    // readout on top of q37's gap sessions: per depth bucket (events
    // per session, 10+ collapsed) the session count and share, how
    // many sessions converted, their revenue, and mean duration — the
    // table behind "bounce rate" (the depth-1 row's share) and "do
    // longer sessions convert more". Session ids are the cumulative
    // new-session flag over the SAME user-keyed window pass as q37
    // (one exchange), per-session rollup is one hash agg, and every
    // emitted number is exact integer arithmetic with two final
    // bigint divisions (mean duration, share).
    QueryDef("q214_session_metrics", Some(s"""
      WITH x AS (SELECT user_id, event_id, event_type, $valCents AS cents,
                        epoch_us(ts) AS tu FROM events),
      f AS (SELECT *, CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id
                             ORDER BY tu, event_id) > 1800000000
                           THEN 1 ELSE 0 END AS newf
            FROM x),
      g AS (SELECT *, CAST(SUM(newf) OVER (PARTITION BY user_id
                        ORDER BY tu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS sid
            FROM f),
      sess AS (SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS depth,
                      CAST(MAX(tu) - MIN(tu) AS BIGINT) AS dur_us,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_pur,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN cents ELSE 0 END) AS BIGINT) AS rev
               FROM g GROUP BY user_id, sid),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM sess)
      SELECT LEAST(s.depth, 10) AS depth_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_sessions,
             CAST(SUM(CASE WHEN s.n_pur > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchase_sessions,
             CAST(SUM(s.rev) AS BIGINT) / 100.0 AS revenue,
             CAST(SUM(s.dur_us) AS BIGINT) / CAST(COUNT(*) AS BIGINT)
               AS mean_duration_us,
             CAST(COUNT(*) AS BIGINT) / t.n_total AS session_share
      FROM sess s CROSS JOIN tot t GROUP BY 1, t.n_total
      ORDER BY depth_bucket"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val g = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            QueryDef.cents(col("value")).as("cents"), col("ts_us"))
          .withColumn("newf",
            when(col("ts_us") - lag("ts_us", 1).over(w) > 1800000000L, 1)
              .otherwise(0))
          .withColumn("sid",
            sum("newf").over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).cast("long"))
        val sess = g.groupBy("user_id", "sid")
          .agg(count(lit(1)).as("depth"),
            (max("ts_us") - min("ts_us")).as("dur_us"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_pur"),
            sum(when(col("event_type") === "purchase", col("cents"))
              .otherwise(0L)).as("rev"))
          .localCheckpoint() // the total AND the depth rollup read it
        val tot = sess.agg(count(lit(1)).as("n_total"))
        sess.crossJoin(broadcast(tot))
          .groupBy(least(col("depth"), lit(10L)).as("depth_bucket"),
            col("n_total"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_pur") > 0, 1L).otherwise(0L))
              .as("n_purchase_sessions"),
            (sum("rev") / 100.0).as("revenue"),
            sum("dur_us").as("sum_dur"))
          .select(col("depth_bucket"), col("n_sessions"),
            col("n_purchase_sessions"), col("revenue"),
            (col("sum_dur") / col("n_sessions")).as("mean_duration_us"),
            (col("n_sessions") / col("n_total")).as("session_share"))
          .orderBy("depth_bucket")
      }),

    // ---- q219: A/B experiment readout — the two-proportion z-test an
    // experimentation pipeline runs on every metric: users split into
    // arms by the portable md5 draw (q97 discipline — the SAME user
    // lands in the SAME arm in any engine, which is the property an
    // A/B bucketing hash must have), conversion = a high-value
    // purchase, pooled-variance z assembled by a fixed double tree
    // over exact integer counts, and the 1.96 gate applied to that
    // deterministic z. Degenerate designs (empty arm, zero or total
    // conversion — where the pooled variance is 0) are NULL, never a
    // division error. One user-keyed hash agg + a 1-row reduction;
    // at 100 TB the corpus is touched once.
    QueryDef("q219_ab_test", Some(s"""
      WITH u AS (SELECT user_id,
               CASE WHEN CAST('0x' || substr(md5('ab:' || user_id), 1, 1) AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150
                        THEN 1 ELSE 0 END) AS conv
             FROM events GROUP BY user_id),
      a AS (SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS c_a,
                   CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS c_b
            FROM u),
      zc AS (SELECT n_a, c_a, n_b, c_b,
                    CASE WHEN n_a = 0 OR n_b = 0 OR c_a + c_b = 0
                              OR c_a + c_b = n_a + n_b THEN NULL
                         ELSE (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                              / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                                     * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                                     * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
                    END AS z
             FROM a)
      SELECT n_a, c_a,
             CASE WHEN n_a = 0 THEN NULL ELSE CAST(c_a AS DOUBLE) / n_a END AS rate_a,
             n_b, c_b,
             CASE WHEN n_b = 0 THEN NULL ELSE CAST(c_b AS DOUBLE) / n_b END AS rate_b,
             z, CASE WHEN z IS NULL THEN NULL ELSE ABS(z) > 1.96 END AS significant
      FROM zc"""),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .groupBy(col("user_id"),
            when(expr("cast(conv(substring(md5(concat('ab:', user_id)), 1, 1), 16, 10) as bigint) % 2") === 0,
              "A").otherwise("B").as("arm"))
          .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1)
            .otherwise(0)).as("conv"))
        val a = u.agg(
          sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === "A", col("conv").cast("long")).otherwise(0L)).as("c_a"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === "B", col("conv").cast("long")).otherwise(0L)).as("c_b"))
        val pooled = (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))
        val z = when(col("n_a") === 0 || col("n_b") === 0 ||
            col("c_a") + col("c_b") === 0 ||
            col("c_a") + col("c_b") === col("n_a") + col("n_b"),
          lit(null).cast("double"))
          .otherwise(
            (col("c_a").cast("double") / col("n_a") - col("c_b").cast("double") / col("n_b"))
              / sqrt(pooled * (lit(1.0) - pooled)
                * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
        a.withColumn("z", z)
          .select(col("n_a"), col("c_a"),
            when(col("n_a") === 0, lit(null).cast("double"))
              .otherwise(col("c_a").cast("double") / col("n_a")).as("rate_a"),
            col("n_b"), col("c_b"),
            when(col("n_b") === 0, lit(null).cast("double"))
              .otherwise(col("c_b").cast("double") / col("n_b")).as("rate_b"),
            col("z"),
            when(col("z").isNull, lit(null).cast("boolean"))
              .otherwise(abs(col("z")) > 1.96).as("significant"))
      }),

    // ---- q220: Kaplan–Meier survival curve — time from first
    // activity to first HIGH-VALUE purchase, with users who never
    // convert RIGHT-CENSORED at their last observed day (the estimator
    // that makes "median time to convert" honest when many users
    // haven't converted yet — q197's naive latency only sees
    // converters and is biased optimistic). Relational KM: per-user
    // (t, death) from three keyed MIN/MAX aggs, the risk set n_t as a
    // suffix sum over the DAY-domain-bounded step table (one window),
    // each step's ln((n−d)/n) taken over an exact integer ratio and
    // nano-scaled immediately (the q166 discipline), the curve a
    // cumulative sum of exact longs — so cum_ln_nanos is gate-exact
    // and `survival` is one exp + round(6) off it. A step where the
    // whole risk set dies sends the curve exactly to 0 from there on
    // (no ln(0) anywhere — guarded branch, not an epsilon).
    QueryDef("q220_kaplan_meier", Some(s"""
      WITH d AS (SELECT user_id,
                        CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
                        CASE WHEN event_type = 'purchase' AND value > 150
                             THEN CAST(epoch_us(ts) AS BIGINT) // 86400000000
                             ELSE NULL END AS conv_day
                 FROM events),
      u AS (SELECT user_id, MIN(day) AS first_day, MAX(day) AS last_day,
                   MIN(conv_day) AS conv_day
            FROM d GROUP BY user_id),
      t AS (SELECT user_id,
                   COALESCE(conv_day - first_day, last_day - first_day) AS t_obs,
                   CASE WHEN conv_day IS NOT NULL THEN 1 ELSE 0 END AS death
            FROM u),
      byt AS (SELECT t_obs AS t_day, CAST(SUM(death) AS BIGINT) AS d,
                     CAST(SUM(1 - death) AS BIGINT) AS c,
                     CAST(COUNT(*) AS BIGINT) AS leaving
              FROM t GROUP BY t_obs),
      risk AS (SELECT t_day, d, c,
                      CAST(SUM(leaving) OVER (ORDER BY t_day DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS n_risk
               FROM byt),
      st AS (SELECT t_day, d, c, n_risk,
                    CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
                         WHEN d < n_risk THEN
                           CAST(round(ln(CAST(n_risk - d AS DOUBLE)
                                         / CAST(n_risk AS DOUBLE))
                                * 1000000000.0) AS BIGINT)
                         ELSE NULL END AS step_ln_nanos
             FROM risk),
      cm AS (SELECT t_day, d, c, n_risk, step_ln_nanos,
                    CAST(SUM(COALESCE(step_ln_nanos, 0)) OVER (ORDER BY t_day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_ln_nanos,
                    MAX(CASE WHEN step_ln_nanos IS NULL THEN 1 ELSE 0 END)
                      OVER (ORDER BY t_day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
             FROM st)
      SELECT t_day, n_risk, d, c, step_ln_nanos, cum_ln_nanos,
             CASE WHEN dead = 1 THEN 0.0
                  ELSE round(exp(CAST(cum_ln_nanos AS DOUBLE) / 1000000000.0), 6)
             END AS survival
      FROM cm ORDER BY t_day"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.events(s, dir).select(col("user_id"),
          expr("ts_us div 86400000000").as("day"),
          when(col("event_type") === "purchase" && col("value") > 150,
            expr("ts_us div 86400000000")).as("conv_day"))
        val t = d.groupBy("user_id")
          .agg(min("day").as("first_day"), max("day").as("last_day"),
            min("conv_day").as("conv_day"))
          .select(
            coalesce(col("conv_day") - col("first_day"),
              col("last_day") - col("first_day")).as("t_obs"),
            when(col("conv_day").isNotNull, 1L).otherwise(0L).as("death"))
        val byt = t.groupBy(col("t_obs").as("t_day"))
          .agg(sum("death").as("d"), sum(lit(1L) - col("death")).as("c"),
            count(lit(1)).as("leaving"))
        val suffix = Window.orderBy(col("t_day").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val risk = byt.withColumn("n_risk", sum("leaving").over(suffix))
        val st = risk.withColumn("step_ln_nanos",
          when(col("d") === 0, lit(0L))
            .when(col("d") < col("n_risk"),
              round(log((col("n_risk") - col("d")).cast("double")
                / col("n_risk").cast("double")) * lit(1000000000.0)).cast("long"))
            .otherwise(lit(null).cast("long")))
        val fwd = Window.orderBy("t_day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        st.withColumn("cum_ln_nanos",
            sum(coalesce(col("step_ln_nanos"), lit(0L))).over(fwd))
          .withColumn("dead",
            max(when(col("step_ln_nanos").isNull, 1).otherwise(0)).over(fwd))
          .select(col("t_day"), col("n_risk"), col("d"), col("c"),
            col("step_ln_nanos"), col("cum_ln_nanos"),
            when(col("dead") === 1, lit(0.0))
              .otherwise(round(exp(col("cum_ln_nanos").cast("double")
                / lit(1000000000.0)), 6)).as("survival"))
          .orderBy("t_day")
      }),

    // ---- q221: Benford's-law audit of transaction values — the
    // classic forensic screen (fabricated or systematically capped
    // numbers break the log-uniform leading-digit law that organic
    // multi-scale amounts follow). The leading digit comes from the
    // STRING of exact cents (no log10/pow floor — pure integer
    // arithmetic both engines share); expected Benford shares
    // ln(1+1/d)/ln(10) are NINE BAKED LITERALS (the q206 discipline —
    // no libm at query time); the per-digit chi-square terms
    // (O−E)²/E assemble by a fixed double tree from exact counts and
    // nano-scale to order-free longs for the total. Chi-square vs the
    // df=8 critical value 15.507 gates the `suspicious` flag. One
    // corpus scan onto a 9-row digit table.
    QueryDef("q221_benford", Some {
      val bp = (1 to 9).map(d => math.log(1.0 + 1.0 / d) / math.log(10.0))
      // e0 suffix: DuckDB parses a bare 18-digit literal as DECIMAL and
      // its DECIMAL→DOUBLE cast drops the last digit (1 ulp off the
      // Scala double); exponent form routes through strtod — exact
      val pSql = (1 to 9).map(d =>
        s"WHEN ${d} THEN ${bp(d - 1)}e0").mkString(" ")
      s"""
      WITH v AS (SELECT $valCents AS cents FROM events WHERE $valCents > 0),
      dg AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS d,
                    CAST(COUNT(*) AS BIGINT) AS o
             FROM v GROUP BY 1),
      al AS (SELECT CAST(r.range AS INTEGER) AS d FROM range(1, 10) r),
      n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM dg),
      t AS (SELECT al.d, COALESCE(dg.o, 0) AS o, n.n,
                   (CASE al.d $pSql ELSE CAST(0 AS DOUBLE) END) AS p_exp
            FROM al LEFT JOIN dg ON dg.d = al.d CROSS JOIN n),
      x AS (SELECT d, o, n, p_exp,
                   CAST(round((CAST(o AS DOUBLE) - p_exp * n)
                        * (CAST(o AS DOUBLE) - p_exp * n) / (p_exp * n)
                        * 1000000000.0) AS BIGINT) AS chi_nanos
            FROM t),
      s AS (SELECT CAST(SUM(chi_nanos) AS BIGINT) AS chi_total_nanos FROM x)
      SELECT x.d AS digit, x.o AS observed, x.p_exp AS benford_p,
             CAST(x.o AS DOUBLE) / x.n AS observed_p, x.chi_nanos,
             CAST(s.chi_total_nanos AS DOUBLE) / 1000000000.0 AS chi_square,
             CAST(s.chi_total_nanos AS DOUBLE) / 1000000000.0 > 15.507 AS suspicious
      FROM x CROSS JOIN s ORDER BY digit"""
    },
      (s, dir) => {
        val bp = (1 to 9).map(d => math.log(1.0 + 1.0 / d) / math.log(10.0))
        val pCol = (1 to 9).foldLeft(when(lit(false), lit(0.0))) {
          (acc, d) => acc.when(col("d") === d, lit(bp(d - 1)))
        }.otherwise(lit(0.0))
        val v = Tables.events(s, dir)
          .select(QueryDef.cents(col("value")).as("cents"))
          .where(col("cents") > 0)
        val dg = v.groupBy(expr("cast(substring(cast(cents as string), 1, 1) as int)").as("d"))
          .agg(count(lit(1)).as("o"))
        val al = s.range(1, 10).select(col("id").cast("int").as("d"))
        val n = dg.agg(sum("o").as("n"))
        val t = al.join(dg, Seq("d"), "left_outer")
          .select(col("d"), coalesce(col("o"), lit(0L)).as("o"))
          .crossJoin(broadcast(n))
          .withColumn("p_exp", pCol)
        val x = t.withColumn("chi_nanos",
            round((col("o").cast("double") - col("p_exp") * col("n"))
              * (col("o").cast("double") - col("p_exp") * col("n"))
              / (col("p_exp") * col("n")) * lit(1000000000.0)).cast("long"))
          .localCheckpoint() // the total AND the row output read it
        val st = x.agg(sum("chi_nanos").as("chi_total_nanos"))
        x.crossJoin(broadcast(st))
          .select(col("d").as("digit"), col("o").as("observed"),
            col("p_exp").as("benford_p"),
            (col("o").cast("double") / col("n")).as("observed_p"),
            col("chi_nanos"),
            (col("chi_total_nanos").cast("double") / lit(1000000000.0))
              .as("chi_square"),
            (col("chi_total_nanos").cast("double") / lit(1000000000.0) > 15.507)
              .as("suspicious"))
          .orderBy("digit")
      }),

    // ---- q223: funnel with Wilson 95% intervals — q171's step
    // conversions plus the uncertainty that says whether a drop-off is
    // real or small-sample noise (the Wilson score interval stays
    // honest near 0/1 and at small n where the normal interval lies).
    // Counts are q171's keyed-MIN chain; every interval assembles by a
    // FIXED double tree over the exact (converted, eligible) longs —
    // z enters as 1.96e0 · 1.96e0 in BOTH engines (the literal-form
    // discipline: a bare 1.96² would route through DuckDB's exact
    // DECIMAL and differ from the double product by 1 ulp); zero-
    // eligible steps are NULL, never a division error.
    QueryDef("q223_funnel_wilson", Some {
      def w(c: String, n: String, sign: String) = {
        val p = s"(CAST($c AS DOUBLE) / $n)"
        val nn = s"CAST($n AS DOUBLE)"
        val z2 = "1.96e0 * 1.96e0"
        s"(($p + $z2 / (2e0 * $nn) $sign 1.96e0 * sqrt($p * (1e0 - $p) / $nn" +
          s" + $z2 / (4e0 * $nn * $nn))) / (1e0 + $z2 / $nn))"
      }
      def step(name: String, c: String, n: String) =
        s"""SELECT '$name' AS step, $n AS n_eligible, $c AS n_conv,
               CASE WHEN $n > 0 THEN $c / $n END AS rate,
               CASE WHEN $n > 0 THEN ${w(c, n, "-")} END AS wilson_lo,
               CASE WHEN $n > 0 THEN ${w(c, n, "+")} END AS wilson_hi
            FROM c"""
      s"""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
      n0 AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n0 FROM e),
      t1 AS (SELECT user_id, MIN(tu) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY user_id),
      t2 AS (SELECT e.user_id, MIN(tu) AS t2 FROM e JOIN t1 ON t1.user_id = e.user_id
             WHERE e.event_type = 'click' AND e.tu > t1.t1 GROUP BY e.user_id),
      t3 AS (SELECT e.user_id, MIN(tu) AS t3 FROM e JOIN t2 ON t2.user_id = e.user_id
             WHERE e.event_type = 'purchase' AND e.tu > t2.t2 GROUP BY e.user_id),
      c AS (SELECT (SELECT n0 FROM n0) AS n0,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n1,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n2,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n3)
      SELECT * FROM (${step("1_view", "n1", "n0")}
      UNION ALL ${step("2_click", "n2", "n1")}
      UNION ALL ${step("3_purchase", "n3", "n2")}) ORDER BY step"""
    },
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("ts_us"))
          .localCheckpoint() // base of all three step filters + user count
        val n0 = e.select("user_id").distinct()
          .agg(count(lit(1)).cast("long").as("n0"))
        val t1 = e.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_us").as("t1"))
        val t2 = e.where(col("event_type") === "click").join(t1, "user_id")
          .where(col("ts_us") > col("t1"))
          .groupBy("user_id").agg(min("ts_us").as("t2"))
        val t3 = e.where(col("event_type") === "purchase").join(t2, "user_id")
          .where(col("ts_us") > col("t2"))
          .groupBy("user_id").agg(min("ts_us").as("t3"))
        def n(df: org.apache.spark.sql.DataFrame, as: String) =
          broadcast(df.agg(count(lit(1)).cast("long").as(as)))
        val c = broadcast(n0).crossJoin(n(t1, "n1")).crossJoin(n(t2, "n2"))
          .crossJoin(n(t3, "n3"))
        val z2 = lit(1.96) * lit(1.96)
        def wils(cc: org.apache.spark.sql.Column, nn0: org.apache.spark.sql.Column,
                 plus: Boolean) = {
          val p = cc.cast("double") / nn0
          val nn = nn0.cast("double")
          val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / nn
            + z2 / (lit(4.0) * nn * nn))
          val core = p + z2 / (lit(2.0) * nn)
          ((if (plus) core + half else core - half) / (lit(1.0) + z2 / nn))
        }
        def stepRow(name: String, cc: String, nn: String) =
          struct(lit(name).as("step"), col(nn).as("n_eligible"),
            col(cc).as("n_conv"),
            when(col(nn) > 0, col(cc) / col(nn)).as("rate"),
            when(col(nn) > 0, wils(col(cc), col(nn), plus = false)).as("wilson_lo"),
            when(col(nn) > 0, wils(col(cc), col(nn), plus = true)).as("wilson_hi"))
        c.select(explode(array(
            stepRow("1_view", "n1", "n0"),
            stepRow("2_click", "n2", "n1"),
            stepRow("3_purchase", "n3", "n2"))).as("r"))
          .select(col("r.step").as("step"), col("r.n_eligible"), col("r.n_conv"),
            col("r.rate"), col("r.wilson_lo"), col("r.wilson_hi"))
          .orderBy("step")
      }),

    // ---- q233: Poisson bootstrap CI for a per-user mean — THE
    // resampling method that survives 100 TB (Chamandy et al., "
    // Estimating Uncertainty for Massive Data Streams"): classical
    // bootstrap draws n-out-of-n WITH replacement, which needs global
    // coordination; the Poisson bootstrap instead gives every
    // (unit, replicate) an independent Poisson(1) weight — replicate
    // membership becomes a pure per-row function, so all B resamples
    // ride ONE scan with map-side partial aggregation (the shuffle
    // carries B rows per partition, never B× the data). Resampling is
    // clustered at the USER (the experimental unit — events within a
    // user are correlated; resampling raw events would understate
    // variance). Weights are deterministic: u = first 13 md5 hex
    // digits of "boot:user:rep" / 2^52 (exact in double), inverted
    // through the Poisson(1) CDF baked as 8 shared literal knots
    // (truncation at w=8 drops ~1e-6 of mass, identically in both
    // engines). Replicate estimates are exact-integer cents ratios;
    // only the cross-replicate moments and percentile CI are float
    // reductions (rounded 6).
    QueryDef("q233_poisson_bootstrap", Some(s"""
      WITH u AS (SELECT user_id, SUM($valCents) AS spend_c
                 FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   ROUND(CAST(SUM(spend_c) AS DOUBLE) / COUNT(*) / 100, 6)
                     AS point_est
            FROM u),
      rp AS (SELECT u.spend_c, t.range AS r,
               CAST('0x' || substr(md5('boot:' || u.user_id || ':' || t.range),
                                   1, 13) AS BIGINT)
                 / 4503599627370496e0 AS u01
             FROM u, range(0, 100) t),
      w AS (SELECT r, spend_c,
              CASE WHEN u01 >= 0.36787944117144233e0 THEN 1 ELSE 0 END
            + CASE WHEN u01 >= 0.7357588823428847e0 THEN 1 ELSE 0 END
            + CASE WHEN u01 >= 0.9196986029286058e0 THEN 1 ELSE 0 END
            + CASE WHEN u01 >= 0.9810118431238463e0 THEN 1 ELSE 0 END
            + CASE WHEN u01 >= 0.9963401531726563e0 THEN 1 ELSE 0 END
            + CASE WHEN u01 >= 0.9994058151824183e0 THEN 1 ELSE 0 END
            + CASE WHEN u01 >= 0.999916758850712e0 THEN 1 ELSE 0 END
            + CASE WHEN u01 >= 0.9999897508033253e0 THEN 1 ELSE 0 END AS w
            FROM rp),
      est AS (SELECT r, CAST(SUM(w * spend_c) AS DOUBLE) / SUM(w) / 100 AS est
              FROM w GROUP BY r HAVING SUM(w) > 0),
      ci AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
                    ROUND(AVG(est), 6) AS boot_mean,
                    ROUND(STDDEV_SAMP(est), 6) AS boot_se,
                    ROUND(quantile_cont(est, 0.025), 6) AS ci_lo,
                    ROUND(quantile_cont(est, 0.975), 6) AS ci_hi
             FROM est)
      SELECT n.n_users, n.point_est, ci.n_reps, ci.boot_mean, ci.boot_se,
             ci.ci_lo, ci.ci_hi,
             ci.ci_lo <= n.point_est AND n.point_est <= ci.ci_hi AS covers
      FROM n, ci"""),
      (s, dir) => {
        val reps = 100
        val knots = Seq(0.36787944117144233, 0.7357588823428847,
          0.9196986029286058, 0.9810118431238463, 0.9963401531726563,
          0.9994058151824183, 0.999916758850712, 0.9999897508033253)
        val u = Tables.events(s, dir)
          .where(col("event_type") === "purchase")
          .groupBy("user_id").agg(sum(expr(valCents)).as("spend_c"))
          .localCheckpoint() // 2 consumers: point estimate + replicate fan-out
        val n = u.agg(count(lit(1)).cast("long").as("n_users"),
          round(sum("spend_c").cast("double") / count(lit(1)) / lit(100), 6)
            .as("point_est"))
        val rp = u.select(col("user_id"), col("spend_c"),
            explode(sequence(lit(0), lit(reps - 1))).as("r"))
          .select(col("spend_c"), col("r"),
            (conv(substring(md5(concat(lit("boot:"), col("user_id"),
              lit(":"), col("r"))), 1, 13), 16, 10).cast("long")
              / lit(4503599627370496.0)).as("u01"))
        val w = knots.map(t => when(col("u01") >= t, 1).otherwise(0))
          .reduce(_ + _)
        val est = rp.select(col("r"), col("spend_c"), w.as("w"))
          .groupBy("r")
          .agg(sum(col("w") * col("spend_c")).as("num_c"),
            sum("w").cast("long").as("den"))
          .where(col("den") > 0)
          .select((col("num_c").cast("double") / col("den") / lit(100)).as("est"))
        val ci = est.agg(count(lit(1)).cast("long").as("n_reps"),
          round(avg("est"), 6).as("boot_mean"),
          round(stddev_samp(col("est")), 6).as("boot_se"),
          round(expr("percentile(est, 0.025)"), 6).as("ci_lo"),
          round(expr("percentile(est, 0.975)"), 6).as("ci_hi"))
        broadcast(n).crossJoin(broadcast(ci))
          .select(col("n_users"), col("point_est"), col("n_reps"),
            col("boot_mean"), col("boot_se"), col("ci_lo"), col("ci_hi"),
            (col("ci_lo") <= col("point_est") &&
              col("point_est") <= col("ci_hi")).as("covers"))
      }),

    // ---- q234: CUPED variance reduction (Deng et al. 2013) — adjust
    // the experiment metric by the PRE-period covariate:
    // y' = y − θ(x − x̄), θ = cov(x,y)/var(x), which strips the
    // between-user variance the pre-period already explains and
    // shrinks the A/B standard error at zero bias (θ is fit pooled
    // across arms, so E[y'_A − y'_B] = E[y_A − y_B]). Everything
    // reduces to per-arm moment sums (n, Σx, Σy, Σx², Σxy, Σy²) —
    // ONE grouped pass with map-side partials; the sums are
    // scaled-integer cents accumulated as DECIMAL(38,0) (exact at any
    // corpus size while per-user spend < ~$3·10^7; DuckDB's HUGEINT
    // sums are exact likewise) and every derived double is a fixed
    // formula over those exact sums — deterministic on both engines.
    // Variances of the ADJUSTED metric come from the same moments
    // (var y' = var y − 2θ·cov + θ²·var x), never from a second
    // per-user pass.
    QueryDef("q234_cuped", Some(s"""
      WITH p AS (SELECT user_id,
               SUM(CASE WHEN epoch_us(ts) < 1705363200000000
                        THEN $valCents ELSE 0 END) AS x,
               SUM(CASE WHEN epoch_us(ts) >= 1705363200000000
                        THEN $valCents ELSE 0 END) AS y
             FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      ar AS (SELECT x, y,
               CASE WHEN CAST('0x' || substr(md5('cuped:' || user_id), 1, 1)
                          AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm
             FROM p),
      m AS (SELECT
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
              CAST(SUM(x * x) AS DOUBLE) AS sxx,
              CAST(SUM(x * y) AS DOUBLE) AS sxy,
              CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
              CAST(SUM(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS DOUBLE) AS sxa,
              CAST(SUM(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS DOUBLE) AS sya,
              CAST(SUM(CASE WHEN arm = 'A' THEN x * x ELSE 0 END) AS DOUBLE) AS sxxa,
              CAST(SUM(CASE WHEN arm = 'A' THEN x * y ELSE 0 END) AS DOUBLE) AS sxya,
              CAST(SUM(CASE WHEN arm = 'A' THEN y * y ELSE 0 END) AS DOUBLE) AS syya,
              CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
              CAST(SUM(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS DOUBLE) AS sxb,
              CAST(SUM(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS DOUBLE) AS syb,
              CAST(SUM(CASE WHEN arm = 'B' THEN x * x ELSE 0 END) AS DOUBLE) AS sxxb,
              CAST(SUM(CASE WHEN arm = 'B' THEN x * y ELSE 0 END) AS DOUBLE) AS sxyb,
              CAST(SUM(CASE WHEN arm = 'B' THEN y * y ELSE 0 END) AS DOUBLE) AS syyb
            FROM ar),
      t1 AS (SELECT *,
               CASE WHEN n * sxx - sx * sx > 0e0
                    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                    ELSE 0e0 END AS theta,
               sx / n AS mx
             FROM m),
      t2 AS (SELECT *, sya / na AS mya, sxa / na AS mxa,
               syb / nb AS myb, sxb / nb AS mxb
             FROM t1),
      t3 AS (SELECT *,
               mya - theta * (mxa - mx) AS adja,
               myb - theta * (mxb - mx) AS adjb,
               syya / na - mya * mya AS vya,
               syyb / nb - myb * myb AS vyb,
               sxxa / na - mxa * mxa AS vxa,
               sxxb / nb - mxb * mxb AS vxb,
               sxya / na - mxa * mya AS cva,
               sxyb / nb - mxb * myb AS cvb
             FROM t2),
      t4 AS (SELECT *,
               vya - 2e0 * theta * cva + theta * theta * vxa AS vadja,
               vyb - 2e0 * theta * cvb + theta * theta * vxb AS vadjb
             FROM t3)
      SELECT na, nb, ROUND(theta, 6) AS theta,
             ROUND(mya / 100, 6) AS mean_a, ROUND(myb / 100, 6) AS mean_b,
             ROUND(adja / 100, 6) AS adj_mean_a,
             ROUND(adjb / 100, 6) AS adj_mean_b,
             CASE WHEN na > 0 AND nb > 0 AND vya / na + vyb / nb > 0e0
                  THEN ROUND((mya - myb) / sqrt(vya / na + vyb / nb), 6)
             END AS z_raw,
             CASE WHEN na > 0 AND nb > 0 AND vadja / na + vadjb / nb > 0e0
                  THEN ROUND((adja - adjb) / sqrt(vadja / na + vadjb / nb), 6)
             END AS z_cuped,
             CASE WHEN vya + vyb > 0e0
                  THEN ROUND(1e0 - (vadja + vadjb) / (vya + vyb), 6)
             END AS var_reduction
      FROM t4"""),
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val splitUs = 1705363200000000L // 2024-01-16 00:00:00 UTC
        val dec = DecimalType(38, 0)
        val p = Tables.events(s, dir)
          .where(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(sum(when(col("ts_us") < splitUs, expr(valCents)).otherwise(0L))
            .as("x"),
            sum(when(col("ts_us") >= splitUs, expr(valCents)).otherwise(0L))
              .as("y"))
        val ar = p.select(col("x"), col("y"),
          when(expr("cast(conv(substring(md5(concat('cuped:', user_id)), 1, 1), 16, 10) as bigint) % 2") === 0,
            "A").otherwise("B").as("arm"))
        def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(dec)).cast("double")
        val isA = col("arm") === "A"
        val isB = col("arm") === "B"
        val m = ar.agg(
          count(lit(1)).cast("long").as("n"),
          dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          dsum(col("x") * col("x")).as("sxx"),
          dsum(col("x") * col("y")).as("sxy"),
          sum(when(isA, 1L).otherwise(0L)).as("na"),
          dsum(when(isA, col("x")).otherwise(0L)).as("sxa"),
          dsum(when(isA, col("y")).otherwise(0L)).as("sya"),
          dsum(when(isA, col("x") * col("x")).otherwise(0L)).as("sxxa"),
          dsum(when(isA, col("x") * col("y")).otherwise(0L)).as("sxya"),
          dsum(when(isA, col("y") * col("y")).otherwise(0L)).as("syya"),
          sum(when(isB, 1L).otherwise(0L)).as("nb"),
          dsum(when(isB, col("x")).otherwise(0L)).as("sxb"),
          dsum(when(isB, col("y")).otherwise(0L)).as("syb"),
          dsum(when(isB, col("x") * col("x")).otherwise(0L)).as("sxxb"),
          dsum(when(isB, col("x") * col("y")).otherwise(0L)).as("sxyb"),
          dsum(when(isB, col("y") * col("y")).otherwise(0L)).as("syyb"))
        val t1 = m.withColumn("theta",
            when(col("n") * col("sxx") - col("sx") * col("sx") > 0.0,
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                (col("n") * col("sxx") - col("sx") * col("sx")))
              .otherwise(0.0))
          .withColumn("mx", col("sx") / col("n"))
        val t2 = t1.withColumn("mya", col("sya") / col("na"))
          .withColumn("mxa", col("sxa") / col("na"))
          .withColumn("myb", col("syb") / col("nb"))
          .withColumn("mxb", col("sxb") / col("nb"))
        val t3 = t2
          .withColumn("adja", col("mya") - col("theta") * (col("mxa") - col("mx")))
          .withColumn("adjb", col("myb") - col("theta") * (col("mxb") - col("mx")))
          .withColumn("vya", col("syya") / col("na") - col("mya") * col("mya"))
          .withColumn("vyb", col("syyb") / col("nb") - col("myb") * col("myb"))
          .withColumn("vxa", col("sxxa") / col("na") - col("mxa") * col("mxa"))
          .withColumn("vxb", col("sxxb") / col("nb") - col("mxb") * col("mxb"))
          .withColumn("cva", col("sxya") / col("na") - col("mxa") * col("mya"))
          .withColumn("cvb", col("sxyb") / col("nb") - col("mxb") * col("myb"))
        val t4 = t3
          .withColumn("vadja", col("vya") - lit(2.0) * col("theta") * col("cva")
            + col("theta") * col("theta") * col("vxa"))
          .withColumn("vadjb", col("vyb") - lit(2.0) * col("theta") * col("cvb")
            + col("theta") * col("theta") * col("vxb"))
        t4.select(col("na"), col("nb"), round(col("theta"), 6).as("theta"),
          round(col("mya") / 100, 6).as("mean_a"),
          round(col("myb") / 100, 6).as("mean_b"),
          round(col("adja") / 100, 6).as("adj_mean_a"),
          round(col("adjb") / 100, 6).as("adj_mean_b"),
          when(col("na") > 0 && col("nb") > 0 &&
              col("vya") / col("na") + col("vyb") / col("nb") > 0.0,
            round((col("mya") - col("myb")) /
              sqrt(col("vya") / col("na") + col("vyb") / col("nb")), 6))
            .as("z_raw"),
          when(col("na") > 0 && col("nb") > 0 &&
              col("vadja") / col("na") + col("vadjb") / col("nb") > 0.0,
            round((col("adja") - col("adjb")) /
              sqrt(col("vadja") / col("na") + col("vadjb") / col("nb")), 6))
            .as("z_cuped"),
          when(col("vya") + col("vyb") > 0.0,
            round(lit(1.0) - (col("vadja") + col("vadjb")) /
              (col("vya") + col("vyb")), 6))
            .as("var_reduction"))
      }),

    // ---- q235: Mann-Whitney U test — the rank-based A/B test for
    // heavy-tailed metrics (per-user revenue makes the t/z test's
    // normality assumption a lie; rank statistics don't care). The
    // SECOND consumer of operators.ExactRank (after q222's Gini):
    // exact global row numbers by (value, user) from the
    // range-partition + partition-offset discipline — never an
    // unpartitioned WindowExec. Tied values need MIDRANKS, and because
    // equal values occupy consecutive global row numbers, the midrank
    // is (min(rn)+max(rn))/2 per distinct value — one grouped pass;
    // the rank sum is assembled in HALF-INTEGER space
    // (2·R_A = Σ cntA·(min+max), an exact long) and the tie
    // correction Σ(t³−t) in long, so the only floats are the final
    // closed-form z — deterministic on both engines.
    QueryDef("q235_mann_whitney", Some(s"""
      WITH u AS (SELECT user_id, SUM($valCents) AS v
                 FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      ar AS (SELECT user_id, v,
               CASE WHEN CAST('0x' || substr(md5('mw:' || user_id), 1, 1)
                          AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm
             FROM u),
      rn AS (SELECT v, arm,
               ROW_NUMBER() OVER (ORDER BY v, user_id) AS rn
             FROM ar),
      g AS (SELECT v, MIN(rn) AS mn, MAX(rn) AS mx,
              SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS ca,
              SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS cb
            FROM rn GROUP BY v),
      t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
              CAST(SUM(cb) AS BIGINT) AS nb,
              CAST(SUM(ca * (mn + mx)) AS BIGINT) AS r2a,
              CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
                AS BIGINT) AS tie
            FROM g),
      f AS (SELECT na, nb, na + nb AS n,
              CAST(r2a AS DOUBLE) / 2 AS rank_sum_a,
              (CAST(r2a AS DOUBLE) - na * (na + 1e0)) / 2 AS u_a, tie
            FROM t),
      f2 AS (SELECT *,
               CASE WHEN na > 0 AND nb > 0 AND n > 1
                    THEN na * nb / 12e0 *
                         ((n + 1e0) - CAST(tie AS DOUBLE) / (n * (n - 1e0)))
               END AS sig2
             FROM f)
      SELECT na, nb, rank_sum_a, u_a,
             CASE WHEN sig2 > 0e0
                  THEN ROUND((u_a - na * (CAST(nb AS DOUBLE) / 2)) / sqrt(sig2), 6)
             END AS z,
             CASE WHEN sig2 > 0e0
                  THEN ABS((u_a - na * (CAST(nb AS DOUBLE) / 2)) / sqrt(sig2))
                       > 1.96e0
             END AS significant
      FROM f2"""),
      (s, dir) => {
        import graft.operators.ExactRank
        val u = Tables.events(s, dir)
          .where(col("event_type") === "purchase")
          .groupBy("user_id").agg(sum(expr(valCents)).as("v"))
        val ar = u.select(col("user_id"), col("v"),
          when(expr("cast(conv(substring(md5(concat('mw:', user_id)), 1, 1), 16, 10) as bigint) % 2") === 0,
            "A").otherwise("B").as("arm"))
        val (rn, _) = ExactRank.withRowNumber(ar,
          Seq(col("v"), col("user_id")), "rn")
        val g = rn.groupBy("v").agg(min("rn").as("mn"), max("rn").as("mx"),
          sum(when(col("arm") === "A", 1L).otherwise(0L)).as("ca"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("cb"))
        val t = g.agg(sum("ca").as("na"), sum("cb").as("nb"),
          sum(col("ca") * (col("mn") + col("mx"))).as("r2a"),
          sum((col("ca") + col("cb")) * (col("ca") + col("cb")) *
            (col("ca") + col("cb")) - (col("ca") + col("cb"))).as("tie"))
        val f = t.select(col("na"), col("nb"),
          (col("na") + col("nb")).as("n"),
          (col("r2a").cast("double") / lit(2)).as("rank_sum_a"),
          ((col("r2a").cast("double") - col("na") * (col("na") + lit(1.0)))
            / lit(2)).as("u_a"),
          col("tie"))
        val f2 = f.withColumn("sig2",
          when(col("na") > 0 && col("nb") > 0 && col("n") > 1,
            col("na") * col("nb") / lit(12.0) *
              ((col("n") + lit(1.0)) -
                col("tie").cast("double") / (col("n") * (col("n") - lit(1.0))))))
        val zExpr = (col("u_a") - col("na") * (col("nb").cast("double") / lit(2))) /
          sqrt(col("sig2"))
        f2.select(col("na"), col("nb"), col("rank_sum_a"), col("u_a"),
          when(col("sig2") > 0.0, round(zExpr, 6)).as("z"),
          when(col("sig2") > 0.0, abs(zExpr) > lit(1.96)).as("significant"))
      }),

    // ---- q236: sample-ratio mismatch (SRM) guardrail — the FIRST
    // check any experiment readout must pass: if the observed arm
    // sizes are incompatible with the intended allocation, every
    // downstream metric (q219/q234/q235) is untrustworthy regardless
    // of its p-value. Three arms at an intended 50/30/20 split,
    // assigned by hashing the USER (the unit of randomization) into
    // 1000 buckets — 13 md5 hex digits (52 bits) so the modulo bias
    // is ~2^-42, identical in both engines. The chi-square GOF stat
    // is a closed form over three exact longs; the alarm threshold is
    // the df=2 critical value at p=0.001 (13.816 — SRM convention is
    // a STRICT level because traffic is huge and tiny imbalances are
    // real bugs, not noise). One grouped pass + one 3-row fold; no
    // per-event state.
    QueryDef("q236_srm", Some("""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      b AS (SELECT CAST('0x' || substr(md5('srm:' || user_id), 1, 13)
                        AS BIGINT) % 1000 AS bkt
            FROM u),
      c AS (SELECT
              CAST(SUM(CASE WHEN bkt < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              CAST(SUM(CASE WHEN bkt >= 500 AND bkt < 800 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b,
              CAST(SUM(CASE WHEN bkt >= 800 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM b)
      SELECT n, n_a, n_b, n_c,
             CASE WHEN n > 0 THEN ROUND(
               (n_a - n * 0.5e0) * (n_a - n * 0.5e0) / (n * 0.5e0)
             + (n_b - n * 0.3e0) * (n_b - n * 0.3e0) / (n * 0.3e0)
             + (n_c - n * 0.2e0) * (n_c - n * 0.2e0) / (n * 0.2e0), 6)
             END AS chi2,
             CASE WHEN n > 0 THEN
               (n_a - n * 0.5e0) * (n_a - n * 0.5e0) / (n * 0.5e0)
             + (n_b - n * 0.3e0) * (n_b - n * 0.3e0) / (n * 0.3e0)
             + (n_c - n * 0.2e0) * (n_c - n * 0.2e0) / (n * 0.2e0) > 13.816e0
             END AS srm_alarm
      FROM c"""),
      (s, dir) => {
        val b = Tables.events(s, dir).select("user_id").distinct()
          .select((conv(substring(md5(concat(lit("srm:"), col("user_id"))),
            1, 13), 16, 10).cast("long") % 1000).as("bkt"))
        val c = b.agg(
          sum(when(col("bkt") < 500, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("bkt") >= 500 && col("bkt") < 800, 1L).otherwise(0L))
            .as("n_b"),
          sum(when(col("bkt") >= 800, 1L).otherwise(0L)).as("n_c"),
          count(lit(1)).cast("long").as("n"))
        def term(cnt: org.apache.spark.sql.Column, p: Double) =
          (cnt - col("n") * lit(p)) * (cnt - col("n") * lit(p)) /
            (col("n") * lit(p))
        val chi2 = term(col("n_a"), 0.5) + term(col("n_b"), 0.3) +
          term(col("n_c"), 0.2)
        c.select(col("n"), col("n_a"), col("n_b"), col("n_c"),
          when(col("n") > 0, round(chi2, 6)).as("chi2"),
          when(col("n") > 0, chi2 > lit(13.816)).as("srm_alarm"))
      }),

    // ---- q237: difference-in-differences — the quasi-experimental
    // estimator for a rollout WITHOUT randomization-era baselines:
    // effect = (post_B − pre_B) − (post_A − pre_A), which cancels both
    // the persistent between-arm gap and the common time shock. The
    // unit of inference is the USER (each contributes one d = post −
    // pre, so serial correlation within a user never understates the
    // SE — the Bertrand/Duflo/Mullainathan critique is structurally
    // avoided). d stays an exact long in cents; per-arm moments of d
    // accumulate as DECIMAL(38,0) (exact at any corpus size; DuckDB's
    // HUGEINT sums likewise); the only floats are the closed-form
    // means/SE/z. ONE grouped pass over purchases + one global fold.
    QueryDef("q237_diff_in_diff", Some(s"""
      WITH p AS (SELECT user_id,
               SUM(CASE WHEN epoch_us(ts) < 1705363200000000
                        THEN $valCents ELSE 0 END) AS x,
               SUM(CASE WHEN epoch_us(ts) >= 1705363200000000
                        THEN $valCents ELSE 0 END) AS y
             FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      ar AS (SELECT x, y, y - x AS d,
               CASE WHEN CAST('0x' || substr(md5('did:' || user_id), 1, 1)
                          AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm
             FROM p),
      m AS (SELECT
              CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
              CAST(SUM(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS DOUBLE) AS sxa,
              CAST(SUM(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS DOUBLE) AS sya,
              CAST(SUM(CASE WHEN arm = 'A' THEN d ELSE 0 END) AS DOUBLE) AS sda,
              CAST(SUM(CASE WHEN arm = 'A' THEN d * d ELSE 0 END) AS DOUBLE) AS sdda,
              CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
              CAST(SUM(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS DOUBLE) AS sxb,
              CAST(SUM(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS DOUBLE) AS syb,
              CAST(SUM(CASE WHEN arm = 'B' THEN d ELSE 0 END) AS DOUBLE) AS sdb,
              CAST(SUM(CASE WHEN arm = 'B' THEN d * d ELSE 0 END) AS DOUBLE) AS sddb
            FROM ar),
      t AS (SELECT *,
              CASE WHEN na > 0 THEN sdda / na - (sda / na) * (sda / na) END AS vda,
              CASE WHEN nb > 0 THEN sddb / nb - (sdb / nb) * (sdb / nb) END AS vdb
            FROM m),
      f AS (SELECT *,
              sdb / nb - sda / na AS did_c,
              CASE WHEN na > 1 AND nb > 1 AND vda / na + vdb / nb > 0e0
                   THEN sqrt(vda / na + vdb / nb) END AS se_c
            FROM t WHERE na > 0 AND nb > 0)
      SELECT na, nb,
             ROUND(sxa / na / 100, 6) AS pre_a, ROUND(sya / na / 100, 6) AS post_a,
             ROUND(sxb / nb / 100, 6) AS pre_b, ROUND(syb / nb / 100, 6) AS post_b,
             ROUND(did_c / 100, 6) AS did,
             ROUND(se_c / 100, 6) AS se,
             CASE WHEN se_c > 0e0 THEN ROUND(did_c / se_c, 6) END AS z,
             CASE WHEN se_c > 0e0 THEN ABS(did_c / se_c) > 1.96e0 END AS significant
      FROM f"""),
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val splitUs = 1705363200000000L // 2024-01-16 00:00:00 UTC
        val dec = DecimalType(38, 0)
        val p = Tables.events(s, dir)
          .where(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(sum(when(col("ts_us") < splitUs, expr(valCents)).otherwise(0L))
            .as("x"),
            sum(when(col("ts_us") >= splitUs, expr(valCents)).otherwise(0L))
              .as("y"))
        val ar = p.select(col("x"), col("y"), (col("y") - col("x")).as("d"),
          when(expr("cast(conv(substring(md5(concat('did:', user_id)), 1, 1), 16, 10) as bigint) % 2") === 0,
            "A").otherwise("B").as("arm"))
        def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(dec)).cast("double")
        val isA = col("arm") === "A"
        val isB = col("arm") === "B"
        val m = ar.agg(
          sum(when(isA, 1L).otherwise(0L)).as("na"),
          dsum(when(isA, col("x")).otherwise(0L)).as("sxa"),
          dsum(when(isA, col("y")).otherwise(0L)).as("sya"),
          dsum(when(isA, col("d")).otherwise(0L)).as("sda"),
          dsum(when(isA, col("d") * col("d")).otherwise(0L)).as("sdda"),
          sum(when(isB, 1L).otherwise(0L)).as("nb"),
          dsum(when(isB, col("x")).otherwise(0L)).as("sxb"),
          dsum(when(isB, col("y")).otherwise(0L)).as("syb"),
          dsum(when(isB, col("d")).otherwise(0L)).as("sdb"),
          dsum(when(isB, col("d") * col("d")).otherwise(0L)).as("sddb"))
        val t = m
          .withColumn("vda", when(col("na") > 0,
            col("sdda") / col("na") - (col("sda") / col("na")) * (col("sda") / col("na"))))
          .withColumn("vdb", when(col("nb") > 0,
            col("sddb") / col("nb") - (col("sdb") / col("nb")) * (col("sdb") / col("nb"))))
        val f = t.where(col("na") > 0 && col("nb") > 0)
          .withColumn("did_c", col("sdb") / col("nb") - col("sda") / col("na"))
          .withColumn("se_c",
            when(col("na") > 1 && col("nb") > 1 &&
              col("vda") / col("na") + col("vdb") / col("nb") > 0.0,
              sqrt(col("vda") / col("na") + col("vdb") / col("nb"))))
        f.select(col("na"), col("nb"),
          round(col("sxa") / col("na") / 100, 6).as("pre_a"),
          round(col("sya") / col("na") / 100, 6).as("post_a"),
          round(col("sxb") / col("nb") / 100, 6).as("pre_b"),
          round(col("syb") / col("nb") / 100, 6).as("post_b"),
          round(col("did_c") / 100, 6).as("did"),
          round(col("se_c") / 100, 6).as("se"),
          when(col("se_c") > 0.0, round(col("did_c") / col("se_c"), 6)).as("z"),
          when(col("se_c") > 0.0, abs(col("did_c") / col("se_c")) > lit(1.96))
            .as("significant"))
      }),

    // ---- q238: delta-method SE for a RATIO metric (revenue per
    // purchase event) — ratio metrics are the rule, not the exception
    // (CTR, revenue/session, tokens/doc), and the naive per-event SE
    // is WRONG for them twice over: the denominator is random, and
    // events within a user are correlated. The delta method
    // (Deng/Knoblich/Lu, KDD'18) linearizes R = Ȳ/X̄ at the USER
    // level: Var(R̂) ≈ (σ_y² − 2Rσ_xy + R²σ_x²)/(n x̄²), everything a
    // closed form over per-user moment sums accumulated as
    // DECIMAL(38,0) (exact; DuckDB HUGEINT likewise). The naive SE is
    // computed beside it from per-event moments so the inflation
    // factor — the number a metrics platform must surface — is one
    // column. ONE grouped pass + two global folds, no resampling.
    QueryDef("q238_delta_method", Some(s"""
      WITH ev AS (SELECT user_id, $valCents AS v FROM events
                  WHERE event_type = 'purchase'),
      e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ev,
                   CAST(SUM(v) AS DOUBLE) AS sv,
                   CAST(SUM(v * v) AS DOUBLE) AS svv
            FROM ev),
      u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x, SUM(v) AS y
            FROM ev GROUP BY user_id),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM u),
      t AS (SELECT n, sx / n AS mx, sy / n AS my,
                   sxx / n - (sx / n) * (sx / n) AS vx,
                   syy / n - (sy / n) * (sy / n) AS vy,
                   sxy / n - (sx / n) * (sy / n) AS cxy
            FROM m WHERE n > 0),
      r AS (SELECT n, my / mx AS ratio_c,
                   CASE WHEN n > 1 AND mx > 0e0 THEN
                     (vy - 2e0 * (my / mx) * cxy
                        + (my / mx) * (my / mx) * vx) / (n * mx * mx)
                   END AS var_delta
            FROM t WHERE mx > 0e0)
      SELECT r.n AS n_users, e.n_ev AS n_events,
             ROUND(r.ratio_c / 100, 6) AS ratio,
             CASE WHEN e.n_ev > 1 THEN
               ROUND(sqrt((e.svv / e.n_ev - (e.sv / e.n_ev) * (e.sv / e.n_ev))
                          / e.n_ev) / 100, 6) END AS se_naive,
             CASE WHEN r.var_delta > 0e0
                  THEN ROUND(sqrt(r.var_delta) / 100, 6) END AS se_delta,
             CASE WHEN r.var_delta > 0e0 AND e.n_ev > 1
                       AND e.svv / e.n_ev - (e.sv / e.n_ev) * (e.sv / e.n_ev) > 0e0
                  THEN ROUND(sqrt(r.var_delta)
                       / sqrt((e.svv / e.n_ev - (e.sv / e.n_ev) * (e.sv / e.n_ev))
                              / e.n_ev), 6) END AS se_inflation
      FROM r, e"""),
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val dec = DecimalType(38, 0)
        def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(dec)).cast("double")
        val ev = Tables.events(s, dir)
          .where(col("event_type") === "purchase")
          .select(col("user_id"), expr(valCents).as("v"))
          .localCheckpoint() // 2 consumers: per-event moments + per-user rollup
        val e = ev.agg(count(lit(1)).cast("long").as("n_ev"),
          dsum(col("v")).as("sv"), dsum(col("v") * col("v")).as("svv"))
        val u = ev.groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("x"), sum("v").as("y"))
        val m = u.agg(count(lit(1)).cast("long").as("n"),
          dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
          dsum(col("x") * col("x")).as("sxx"),
          dsum(col("x") * col("y")).as("sxy"),
          dsum(col("y") * col("y")).as("syy"))
        val t = m.where(col("n") > 0)
          .select(col("n"), (col("sx") / col("n")).as("mx"),
            (col("sy") / col("n")).as("my"),
            (col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))).as("vx"),
            (col("syy") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n"))).as("vy"),
            (col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n"))).as("cxy"))
        val ratio = col("my") / col("mx")
        val r = t.where(col("mx") > 0.0)
          .select(col("n"), ratio.as("ratio_c"),
            when(col("n") > 1 && col("mx") > 0.0,
              (col("vy") - lit(2.0) * ratio * col("cxy") + ratio * ratio * col("vx"))
                / (col("n") * col("mx") * col("mx"))).as("var_delta"))
        val vEv = col("svv") / col("n_ev") - (col("sv") / col("n_ev")) * (col("sv") / col("n_ev"))
        broadcast(r).crossJoin(broadcast(e))
          .select(col("n").as("n_users"), col("n_ev").as("n_events"),
            round(col("ratio_c") / 100, 6).as("ratio"),
            when(col("n_ev") > 1, round(sqrt(vEv / col("n_ev")) / 100, 6))
              .as("se_naive"),
            when(col("var_delta") > 0.0, round(sqrt(col("var_delta")) / 100, 6))
              .as("se_delta"),
            when(col("var_delta") > 0.0 && col("n_ev") > 1 && vEv > 0.0,
              round(sqrt(col("var_delta")) / sqrt(vEv / col("n_ev")), 6))
              .as("se_inflation"))
      }),

    // ---- q239: multi-touch revenue attribution — credit each
    // purchase to the touch (click/view) that preceded it, under BOTH
    // canonical models at once: last-touch (the most recent touch
    // strictly before the purchase) and first-touch (the user's
    // earliest touch before it). The touchpoint is carried to the
    // purchase row by IGNORE-NULLS window functions over the user's
    // own timeline — per-user partitions, so the sort is bounded by a
    // user's event count at any corpus size, and the frame is
    // STRICTLY preceding rows with a total (ts, event_id) order (no
    // range-frame peer ambiguity). Purchases with no prior touch
    // credit 'direct'. The two models then fold to one tiny
    // channel-domain relation via a full outer join — at most
    // |channels|+1 rows, broadcast-joinable by construction.
    QueryDef("q239_attribution", Some(s"""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
                   $valCents AS v,
                   CASE WHEN event_type IN ('click', 'view')
                        THEN event_type END AS touch
                 FROM events),
      c AS (SELECT *,
              LAST_VALUE(touch IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
              FIRST_VALUE(touch IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft
            FROM e),
      p AS (SELECT COALESCE(lt, 'direct') AS lt, COALESCE(ft, 'direct') AS ft, v
            FROM c WHERE event_type = 'purchase'),
      l AS (SELECT lt AS channel, CAST(COUNT(*) AS BIGINT) AS n_last,
                   CAST(SUM(v) AS BIGINT) / 100.0 AS rev_last
            FROM p GROUP BY lt),
      f AS (SELECT ft AS channel, CAST(COUNT(*) AS BIGINT) AS n_first,
                   CAST(SUM(v) AS BIGINT) / 100.0 AS rev_first
            FROM p GROUP BY ft)
      SELECT COALESCE(l.channel, f.channel) AS channel,
             COALESCE(n_last, 0) AS n_last, COALESCE(rev_last, 0.0) AS rev_last,
             COALESCE(n_first, 0) AS n_first, COALESCE(rev_first, 0.0) AS rev_first
      FROM l FULL OUTER JOIN f ON l.channel = f.channel
      ORDER BY channel"""),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            col("event_type"), expr(valCents).as("v"),
            when(col("event_type").isin("click", "view"), col("event_type"))
              .as("touch"))
        val p = e
          .withColumn("lt", last(col("touch"), ignoreNulls = true).over(w))
          .withColumn("ft", first(col("touch"), ignoreNulls = true).over(w))
          .where(col("event_type") === "purchase")
          .select(coalesce(col("lt"), lit("direct")).as("lt"),
            coalesce(col("ft"), lit("direct")).as("ft"), col("v"))
          .localCheckpoint() // 2 consumers: last-touch and first-touch rollups
        val l = p.groupBy(col("lt").as("channel"))
          .agg(count(lit(1)).cast("long").as("n_last"),
            (sum("v").cast("long") / 100.0).as("rev_last"))
        val f = p.groupBy(col("ft").as("channel"))
          .agg(count(lit(1)).cast("long").as("n_first"),
            (sum("v").cast("long") / 100.0).as("rev_first"))
        l.join(f, Seq("channel"), "full_outer")
          .select(col("channel"),
            coalesce(col("n_last"), lit(0L)).as("n_last"),
            coalesce(col("rev_last"), lit(0.0)).as("rev_last"),
            coalesce(col("n_first"), lit(0L)).as("n_first"),
            coalesce(col("rev_first"), lit(0.0)).as("rev_first"))
          .orderBy("channel")
      }),

    // ---- q240: SCD2 dimension build — turn the event stream's
    // per-user `props.k` attribute into a type-2 slowly-changing
    // dimension: a version row opens when the observed k DIFFERS from
    // the user's previous event's k (lag), closes at the next
    // version's open (lead), and the latest version per user stays
    // open (NULL valid_to). Both windows partition by USER — state is
    // bounded by one user's history, never the corpus. The profile
    // row audits the build: version counts, change counts, mean open
    // duration of CLOSED versions, and a structural tiling invariant
    // — closed-version durations must sum EXACTLY (integer micros) to
    // the span from each user's first to last version open, which any
    // lag/lead frame bug breaks loudly.
    QueryDef("q240_scd2_build", Some("""
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
                 FROM events),
      c AS (SELECT *,
              LAG(k) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS pk
            FROM e),
      v AS (SELECT user_id, k, ts_us AS vs FROM c
            WHERE pk IS NULL OR k <> pk),
      s AS (SELECT user_id, k, vs,
              LEAD(vs) OVER (PARTITION BY user_id ORDER BY vs) AS ve
            FROM v),
      pu AS (SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS nv,
               CAST(SUM(CASE WHEN ve IS NOT NULL THEN ve - vs ELSE 0 END)
                 AS BIGINT) AS closed_us,
               CAST(MAX(vs) - MIN(vs) AS BIGINT) AS span_us,
               CAST(SUM(CASE WHEN ve IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_closed
             FROM s GROUP BY user_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(nv) AS BIGINT) AS n_versions,
             CAST(SUM(nv) - COUNT(*) AS BIGINT) AS n_changes,
             ROUND(CAST(SUM(nv) AS DOUBLE) / COUNT(*), 6) AS avg_versions,
             CASE WHEN SUM(n_closed) > 0 THEN
               ROUND(CAST(SUM(closed_us) AS DOUBLE) / SUM(n_closed) / 3600e6, 6)
             END AS avg_closed_hours,
             SUM(closed_us) = SUM(span_us) AS tiling_ok
      FROM pu"""),
      (s, dir) => {
        val wl = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val wv = Window.partitionBy("user_id").orderBy("vs")
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))
        val c = e.withColumn("pk", lag("k", 1).over(wl))
        val v = c.where(col("pk").isNull || col("k") =!= col("pk"))
          .select(col("user_id"), col("k"), col("ts_us").as("vs"))
        val sv = v.withColumn("ve", lead("vs", 1).over(wv))
        val pu = sv.groupBy("user_id").agg(
          count(lit(1)).cast("long").as("nv"),
          sum(when(col("ve").isNotNull, col("ve") - col("vs")).otherwise(0L))
            .cast("long").as("closed_us"),
          (max("vs") - min("vs")).cast("long").as("span_us"),
          sum(when(col("ve").isNotNull, 1L).otherwise(0L)).cast("long")
            .as("n_closed"))
        pu.agg(count(lit(1)).cast("long").as("n_users"),
          sum("nv").cast("long").as("n_versions"),
          (sum("nv") - count(lit(1))).cast("long").as("n_changes"),
          round(sum("nv").cast("double") / count(lit(1)), 6).as("avg_versions"),
          when(sum("n_closed") > 0,
            round(sum("closed_us").cast("double") / sum("n_closed") / lit(3600e6), 6))
            .as("avg_closed_hours"),
          (sum("closed_us") === sum("span_us")).as("tiling_ok"))
      }),

    // ---- q244: two-sided CUSUM change detection on daily event rates
    // — the control chart that catches SMALL persistent level shifts
    // q118's spike rule (built for single outliers) integrates right
    // past. Page's recurrence S⁺_d = max(0, S⁺_{d−1} + z_d − k) is
    // rewritten to its closed prefix form S⁺_d = P_d − min_{0≤j≤d} P_j
    // (P = cumsum of z − k), so the chart is two windows over the
    // types×30-day aggregate table — and both run in EXACT MICRO-SCALED
    // INTEGER space: z comes bit-identical in each engine from the q125
    // integer power sums, is rounded once to micros, and every window
    // sum/min after that is order-free long arithmetic (a FLOAT window
    // sum would be at the mercy of DuckDB's segment-tree addition
    // order). Allowance k = 0.5σ, threshold h = 4σ, the textbook dials.
    // Zero-variance types (σ = 0) are excluded rather than divided by.
    // Scale shape: corpus work is ONE hash agg to daily counts; every
    // window is partitioned by event_type over the bounded day domain.
    QueryDef("q244_cusum", Some("""
      WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
                            CAST(COUNT(*) AS BIGINT) AS x
                     FROM events GROUP BY event_type, (epoch_us(ts) // 86400000000)),
      st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS DOUBLE) AS s1,
                    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS s2
             FROM daily GROUP BY event_type),
      z AS (SELECT daily.event_type, d, x,
                   CAST(ROUND((x - s1/n) / sqrt((s2 - s1*s1/n)/n) * 1000000.0)
                     AS BIGINT) AS zm
            FROM daily JOIN st ON st.event_type = daily.event_type
            WHERE sqrt((s2 - s1*s1/n)/n) > 0e0),
      c AS (SELECT event_type, d, x, zm,
                   CAST(SUM(zm - 500000) OVER w AS BIGINT) AS pp,
                   CAST(SUM(-zm - 500000) OVER w AS BIGINT) AS pn
            FROM z WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      m AS (SELECT event_type, d, x, zm, pp, pn,
                   CAST(LEAST(MIN(pp) OVER w2, 0) AS BIGINT) AS mp,
                   CAST(LEAST(MIN(pn) OVER w2, 0) AS BIGINT) AS mneg
            FROM c WINDOW w2 AS (PARTITION BY event_type ORDER BY d))
      SELECT event_type, d, x, zm,
             (pp - mp) / 1000000.0 AS s_pos,
             (pn - mneg) / 1000000.0 AS s_neg,
             (pp - mp) > 4000000 AS alarm_up,
             (pn - mneg) > 4000000 AS alarm_down
      FROM m ORDER BY event_type, d"""),
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("d"))
          .agg(count(lit(1)).as("x"))
        // widen BEFORE squaring (the q110/q125 discipline): exact
        // integer power sums make z the identical IEEE tree per engine
        val xw = col("x").cast("decimal(19,0)")
        val st = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast("decimal(38,0)")).cast("double").as("s1"),
            sum(xw * xw).cast("double").as("s2"))
        val sigma = sqrt((col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
        val z = daily.join(broadcast(st), "event_type")
          .where(sigma > 0.0)
          .select(col("event_type"), col("d"), col("x"),
            round((col("x") - col("s1") / col("n")) / sigma * lit(1000000.0))
              .cast("long").as("zm"))
        val w = Window.partitionBy("event_type").orderBy("d")
        val c = z.select(col("event_type"), col("d"), col("x"), col("zm"),
          sum(col("zm") - lit(500000L)).over(w).as("pp"),
          sum(-col("zm") - lit(500000L)).over(w).as("pn"))
        c.select(col("event_type"), col("d"), col("x"), col("zm"),
            col("pp"), col("pn"),
            least(min("pp").over(w), lit(0L)).as("mp"),
            least(min("pn").over(w), lit(0L)).as("mneg"))
          .select(col("event_type"), col("d"), col("x"), col("zm"),
            ((col("pp") - col("mp")) / lit(1000000.0)).as("s_pos"),
            ((col("pn") - col("mneg")) / lit(1000000.0)).as("s_neg"),
            (col("pp") - col("mp") > 4000000L).as("alarm_up"),
            (col("pn") - col("mneg") > 4000000L).as("alarm_down"))
          .orderBy("event_type", "d")
      }),

    // ---- q245: EWMA control chart on the same standardized daily
    // rates — the exponentially-weighted companion to q244 (CUSUM is
    // optimal for a known shift size, EWMA degrades gracefully across
    // unknown ones; a monitoring stack runs both). The recurrence
    // ewma_i = λz_i + (1−λ)ewma_{i−1} (λ = 0.2, ewma_0 = 0 on the
    // z scale) unrolls to λ·Σ_j (1−λ)^{i−j} z_j over the BOUNDED
    // types×30-day table: a day-domain self-join whose quadratic is
    // 30² per type at ANY corpus size, with pow on small integer
    // exponents only (never the exploding (1/(1−λ))^j rewrite). The
    // variance-exact control limit 3σ√(λ/(2−λ)·(1−(1−λ)^{2i}))
    // collapses to √(1−0.8^{2i}) at λ = 0.2 on the unit-σ z scale.
    // The weighted sum is a genuinely order-dependent float reduction
    // → rounded 6 (the repo's norm/cosine discipline); signal compares
    // the two ROUNDED emitted columns, so the gate is exactly
    // reproducible from the released row.
    QueryDef("q245_ewma", Some("""
      WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
                            CAST(COUNT(*) AS BIGINT) AS x
                     FROM events GROUP BY event_type, (epoch_us(ts) // 86400000000)),
      st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS DOUBLE) AS s1,
                    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS s2
             FROM daily GROUP BY event_type),
      z AS (SELECT daily.event_type, d, x,
                   (x - s1/n) / sqrt((s2 - s1*s1/n)/n) AS zv
            FROM daily JOIN st ON st.event_type = daily.event_type
            WHERE sqrt((s2 - s1*s1/n)/n) > 0e0),
      ix AS (SELECT event_type, d, x, zv,
                    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                      AS BIGINT) AS i
             FROM z),
      ew AS (SELECT a.event_type, a.d, a.i, a.x, a.zv,
                    2e-1 * SUM(POW(8e-1, a.i - b.i) * b.zv) AS ewma
             FROM ix a JOIN ix b ON b.event_type = a.event_type AND b.i <= a.i
             GROUP BY a.event_type, a.d, a.i, a.x, a.zv)
      SELECT event_type, d, i, x, ROUND(zv, 6) AS z, ROUND(ewma, 6) AS ewma,
             ROUND(SQRT(1e0 - POW(8e-1, 2*i)), 6) AS ucl,
             ROUND(ABS(ewma), 6) > ROUND(SQRT(1e0 - POW(8e-1, 2*i)), 6) AS signal
      FROM ew ORDER BY event_type, d"""),
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("d"))
          .agg(count(lit(1)).as("x"))
        val xw = col("x").cast("decimal(19,0)")
        val st = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast("decimal(38,0)")).cast("double").as("s1"),
            sum(xw * xw).cast("double").as("s2"))
        val sigma = sqrt((col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
        val z = daily.join(broadcast(st), "event_type")
          .where(sigma > 0.0)
          .select(col("event_type"), col("d"), col("x"),
            ((col("x") - col("s1") / col("n")) / sigma).as("zv"))
        val ix = z.withColumn("i", row_number()
          .over(Window.partitionBy("event_type").orderBy("d")).cast("long"))
        val b = ix.select(col("event_type").as("bt"), col("i").as("bi"),
          col("zv").as("bz"))
        val ucl = sqrt(lit(1.0) - pow(lit(0.8), lit(2) * col("i")))
        ix.join(b, col("event_type") === col("bt") && col("bi") <= col("i"))
          .groupBy("event_type", "d", "i", "x", "zv")
          .agg((lit(0.2) * sum(pow(lit(0.8), col("i") - col("bi")) * col("bz")))
            .as("ewma"))
          .select(col("event_type"), col("d"), col("i"), col("x"),
            round(col("zv"), 6).as("z"), round(col("ewma"), 6).as("ewma"),
            round(ucl, 6).as("ucl"),
            (round(abs(col("ewma")), 6) > round(ucl, 6)).as("signal"))
          .orderBy("event_type", "d")
      }),

    // ---- q252: weekly-seasonal decomposition of daily rates — the
    // detrending step q84/q118/q244 all skip: a Monday always reads
    // "anomalous" against a flat baseline if weekends differ, so the
    // baseline here is the per-(type, cycle-phase) mean (phase =
    // day % 7), the residual is scored against ITS OWN distribution,
    // and the |z| > 2 flag marks days genuinely off their weekly
    // pattern. Exactness: residuals round once to micros, so the
    // residual moments are exact order-free sums (squares widened to
    // HUGEINT/decimal first); baseline and z are fixed IEEE trees over
    // exact integers. Shape: ONE corpus hash agg to daily counts, then
    // joins over the bounded types×7 and types tables — no windows.
    QueryDef("q252_seasonal", Some("""
      WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
                            CAST(COUNT(*) AS BIGINT) AS x
                     FROM events GROUP BY event_type, (epoch_us(ts) // 86400000000)),
      ph AS (SELECT event_type, d, x, d % 7 AS phase FROM daily),
      bl AS (SELECT event_type, phase, CAST(COUNT(*) AS BIGINT) AS np,
                    CAST(SUM(x) AS BIGINT) AS sp
             FROM ph GROUP BY event_type, phase),
      r AS (SELECT ph.event_type, ph.d, ph.x, ph.phase,
                   CAST(sp AS DOUBLE)/np AS baseline,
                   CAST(ROUND((ph.x - CAST(sp AS DOUBLE)/np) * 1000000.0)
                     AS BIGINT) AS rm
            FROM ph JOIN bl ON bl.event_type = ph.event_type
                           AND bl.phase = ph.phase),
      st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(rm) AS DOUBLE) AS s1,
                    CAST(SUM(CAST(rm AS HUGEINT) * rm) AS DOUBLE) AS s2
             FROM r GROUP BY event_type)
      SELECT r.event_type, r.d, r.x, r.phase, ROUND(r.baseline, 6) AS baseline,
             rm / 1000000.0 AS residual,
             CASE WHEN sqrt((s2 - s1*s1/n)/n) > 0e0
                  THEN ROUND((rm - s1/n) / sqrt((s2 - s1*s1/n)/n), 6) END AS z,
             CASE WHEN sqrt((s2 - s1*s1/n)/n) > 0e0
                  THEN ABS(ROUND((rm - s1/n) / sqrt((s2 - s1*s1/n)/n), 6)) > 2e0
                  ELSE FALSE END AS anomaly
      FROM r JOIN st ON st.event_type = r.event_type
      ORDER BY r.event_type, r.d"""),
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("d"))
          .agg(count(lit(1)).as("x"))
        val ph = daily.withColumn("phase", col("d") % 7)
        val bl = ph.groupBy("event_type", "phase")
          .agg(count(lit(1)).as("np"), sum("x").cast("long").as("sp"))
        val r = ph.join(broadcast(bl), Seq("event_type", "phase"))
          .select(col("event_type"), col("d"), col("x"), col("phase"),
            (col("sp").cast("double") / col("np")).as("baseline"),
            round((col("x") - col("sp").cast("double") / col("np"))
              * lit(1000000.0)).cast("long").as("rm"))
        val rmw = col("rm").cast("decimal(19,0)")
        val st = r.groupBy(col("event_type").as("st_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("rm").cast("decimal(38,0)")).cast("double").as("s1"),
            sum(rmw * rmw).cast("double").as("s2"))
        val sigma = sqrt((col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
        val z = round((col("rm") - col("s1") / col("n")) / sigma, 6)
        r.join(broadcast(st), col("event_type") === col("st_type"))
          .select(col("event_type"), col("d"), col("x"), col("phase"),
            round(col("baseline"), 6).as("baseline"),
            (col("rm") / lit(1000000.0)).as("residual"),
            when(sigma > 0.0, z).as("z"),
            when(sigma > 0.0, abs(z) > 2.0).otherwise(lit(false)).as("anomaly"))
          .orderBy("event_type", "d")
      }),

    // ---- q254: storage-layout advisor — the q218/q226/q232 advisor
    // shape pointed at the WRITE side: for each candidate layout key
    // of the event stream (type, day, a 256-way user bucket, raw
    // user id), measured key count, hottest-key share, and an
    // integer-boundary verdict — 'partition' when the key is coarse
    // (2..1024 values) AND balanced (hottest·8 < rows: no partition
    // eats the table), 'bucket' when the key is too fine for
    // directories (> 1024 values — the small-files cliff), 'skip'
    // otherwise. All four candidates melt into ONE exploded relation
    // scanned once and aggregated by (candidate, key) with map-side
    // partials — the advisor costs one pass however many candidates.
    QueryDef("q254_layout_advisor", Some("""
      WITH base AS (SELECT event_type,
                           CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS day_k,
                           CAST(user_id % 256 AS VARCHAR) AS ub,
                           CAST(user_id AS VARCHAR) AS uid
                    FROM events),
      m AS (SELECT 'event_type' AS candidate, event_type AS k FROM base
            UNION ALL SELECT 'day', day_k FROM base
            UNION ALL SELECT 'user_bucket', ub FROM base
            UNION ALL SELECT 'user_id', uid FROM base),
      kc AS (SELECT candidate, k, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM m GROUP BY candidate, k),
      agg AS (SELECT candidate, CAST(COUNT(*) AS BIGINT) AS n_keys,
                     CAST(SUM(cnt) AS BIGINT) AS n_rows,
                     CAST(MAX(cnt) AS BIGINT) AS max_cnt
              FROM kc GROUP BY candidate)
      SELECT candidate, n_keys, n_rows, max_cnt,
             CAST(max_cnt AS DOUBLE)/n_rows AS max_share,
             CASE WHEN n_keys BETWEEN 2 AND 1024 AND max_cnt * 8 < n_rows
                    THEN 'partition'
                  WHEN n_keys > 1024 THEN 'bucket'
                  ELSE 'skip' END AS verdict
      FROM agg ORDER BY candidate"""),
      (s, dir) => {
        val m = Tables.events(s, dir)
          .select(explode(array(
            struct(lit("event_type").as("candidate"),
              col("event_type").as("k")),
            struct(lit("day").as("candidate"),
              expr("cast(ts_us div 86400000000 as string)").as("k")),
            struct(lit("user_bucket").as("candidate"),
              (col("user_id") % 256).cast("string").as("k")),
            struct(lit("user_id").as("candidate"),
              col("user_id").cast("string").as("k")))).as("c"))
          .select(col("c.candidate").as("candidate"), col("c.k").as("k"))
        val agg = m.groupBy("candidate", "k").agg(count(lit(1)).as("cnt"))
          .groupBy("candidate")
          .agg(count(lit(1)).as("n_keys"), sum("cnt").cast("long").as("n_rows"),
            max("cnt").as("max_cnt"))
        agg.select(col("candidate"), col("n_keys"), col("n_rows"), col("max_cnt"),
            (col("max_cnt").cast("double") / col("n_rows")).as("max_share"),
            when(col("n_keys").between(2, 1024)
                && col("max_cnt") * 8 < col("n_rows"), "partition")
              .when(col("n_keys") > 1024, "bucket")
              .otherwise("skip").as("verdict"))
          .orderBy("candidate")
      }),

    // ---- q255: quantile treatment effects — the experiment readout
    // mean-based tests (q219/q234) structurally can't give: did the
    // treatment move the p90 user or just the average? Per arm
    // (portable md5 user bucketing, the q219 discipline), the EXACT
    // deciles of per-user revenue via one ExactRank invocation per
    // arm (its 4th/5th consumers — per-arm global ranks are exactly
    // where a PARTITION BY arm window collapses the corpus into two
    // tasks), decile ranks as exact integers ⌈p·n/10⌉, QTE = the
    // per-decile cents difference. The oracle's partitioned
    // ROW_NUMBER is fine FOR THE ORACLE; the engine plan is locked
    // window-free.
    QueryDef("q255_qte", Some("""
      WITH u AS (SELECT user_id,
                        CAST('0x' || substr(md5('qte:' || user_id), 1, 1)
                          AS BIGINT) % 2 AS arm,
                        CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
                          AS rev
                 FROM events GROUP BY user_id),
      r AS (SELECT arm, rev, user_id,
                   ROW_NUMBER() OVER (PARTITION BY arm
                                      ORDER BY rev, user_id) AS rk,
                   CAST(COUNT(*) OVER (PARTITION BY arm) AS BIGINT) AS n
            FROM u),
      p AS (SELECT CAST(p.range AS INTEGER) AS p_num FROM range(1, 10) p),
      q AS (SELECT p.p_num, r.arm, r.n, r.rev
            FROM p JOIN r ON r.rk = (p.p_num * r.n + 9) // 10)
      SELECT a.p_num, 10 AS p_den, a.n AS n_a, b.n AS n_b,
             a.rev AS qa_cents, b.rev AS qb_cents,
             b.rev - a.rev AS qte_cents
      FROM q a JOIN q b ON b.p_num = a.p_num AND a.arm = 0 AND b.arm = 1
      ORDER BY a.p_num"""),
      (s, dir) => {
        import s.implicits._
        val u = Tables.events(s, dir)
          .groupBy("user_id")
          .agg(sum(QueryDef.cents(col("value"))).cast("long").as("rev"))
          .select(col("user_id"), col("rev"),
            (conv(substring(md5(concat(lit("qte:"), col("user_id"))), 1, 1),
              16, 10).cast("long") % 2).as("arm"))
          .localCheckpoint() // both per-arm rank passes read it
        def armDeciles(arm: Int, nCol: String, qCol: String) = {
          val (ranked, n) = graft.operators.ExactRank.withRowNumber(
            u.where(col("arm") === arm).select(col("rev"), col("user_id")),
            Seq(col("rev"), col("user_id")), "rk")
          val targets = (1 to 9).map(p => (p, (p.toLong * n + 9) / 10))
            .toDF("p_num", "qrank")
          ranked.join(broadcast(targets), col("rk") === col("qrank"))
            .select(col("p_num"), lit(n).as(nCol), col("rev").as(qCol))
        }
        val a = armDeciles(0, "n_a", "qa_cents")
        val b = armDeciles(1, "n_b", "qb_cents")
        a.join(b, "p_num")
          .select(col("p_num"), lit(10).as("p_den"), col("n_a"), col("n_b"),
            col("qa_cents"), col("qb_cents"),
            (col("qb_cents") - col("qa_cents")).as("qte_cents"))
          .orderBy("p_num")
      }),

    // ---- q257: always-valid inference (mSPRT — Johari/Koomen/
    // Pekelis/Walsh, "Peeking at A/B Tests", KDD'17) — the sequential
    // test that makes CONTINUOUS MONITORING honest: q219's fixed-
    // horizon z is only valid if you look exactly once, but every
    // dashboard peeks daily; the mixture likelihood ratio
    // Λ_n = √(V/(V+τ²))·exp(θ̂²τ²/(2V(V+τ²))) yields
    // p_n = min(1, min_j≤n 1/Λ_j), valid at EVERY peek. The UNIT OF
    // ANALYSIS is the USER, because randomization is per-user (the
    // md5 arm hash keys on user_id): treating every event as an
    // independent Bernoulli trial would ignore within-user correlation
    // and make V anti-conservative — q233 clusters its bootstrap at
    // the user for exactly this reason. The corpus collapses to ONE
    // row per user (enrollment day = first event, conversion day =
    // first purchase — both monotone, so the cumulative counts are
    // exactly "users enrolled ≤ d" / "users converted ≤ d": what the
    // dashboard knows at day-d's peek); per-arm day histograms of
    // those firsts zero-fill over the calendar grid and cumsum
    // (per-arm windows — exact integer sums). Pooled-variance V and
    // θ̂ are fixed double trees, τ² = 1e-2 a shared literal; the
    // p-sequence's running min is an order-free exact fold over
    // identical doubles. Days before both arms have enrollments are
    // dropped (n = 0 has no estimator); degenerate days (V = 0: no
    // conversions or all conversions) carry NULL Λ and p stays at the
    // running min (MIN ignores NULLs — p starts at 1). The running-min
    // window is global but rides the DAY-domain table
    // (calendar-bounded — allowlisted in the sweep).
    QueryDef("q257_msprt", Some("""
      WITH u AS (SELECT CAST('0x' || substr(md5('ms:' || user_id), 1, 1)
                          AS BIGINT) % 2 AS arm,
                        MIN(epoch_us(ts) // 86400000000) AS fe,
                        MIN(CASE WHEN event_type = 'purchase'
                              THEN epoch_us(ts) // 86400000000 END) AS fp
                 FROM events GROUP BY user_id),
      dom AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS d FROM events),
      arms AS (SELECT CAST(0 AS BIGINT) AS arm UNION ALL SELECT CAST(1 AS BIGINT)),
      en AS (SELECT arm, fe AS d, CAST(COUNT(*) AS BIGINT) AS ne
             FROM u GROUP BY arm, fe),
      cv AS (SELECT arm, fp AS d, CAST(COUNT(*) AS BIGINT) AS nc
             FROM u WHERE fp IS NOT NULL GROUP BY arm, fp),
      grid AS (SELECT arms.arm, dom.d,
                      COALESCE(en.ne, 0) AS ne, COALESCE(cv.nc, 0) AS nc
               FROM arms CROSS JOIN dom
               LEFT JOIN en ON en.arm = arms.arm AND en.d = dom.d
               LEFT JOIN cv ON cv.arm = arms.arm AND cv.d = dom.d),
      cu AS (SELECT arm, d,
                    CAST(SUM(ne) OVER w AS BIGINT) AS cn,
                    CAST(SUM(nc) OVER w AS BIGINT) AS cc
             FROM grid WINDOW w AS (PARTITION BY arm ORDER BY d)),
      j AS (SELECT a.d, a.cn AS n_a, a.cc AS c_a, b.cn AS n_b, b.cc AS c_b
            FROM cu a JOIN cu b ON b.d = a.d AND a.arm = 0 AND b.arm = 1
            WHERE a.cn > 0 AND b.cn > 0),
      s AS (SELECT d, n_a, c_a, n_b, c_b,
                   CAST(c_b AS DOUBLE)/n_b - CAST(c_a AS DOUBLE)/n_a AS theta,
                   (CAST(c_a + c_b AS DOUBLE)/(n_a + n_b))
                     * (1e0 - CAST(c_a + c_b AS DOUBLE)/(n_a + n_b))
                     * (1e0/n_a + 1e0/n_b) AS v
            FROM j),
      l AS (SELECT *, CASE WHEN v > 0e0 THEN
                   sqrt(v/(v + 1e-2))
                     * exp(theta*theta*1e-2/(2e0*v*(v + 1e-2)))
                 END AS lambda
            FROM s),
      p AS (SELECT *, LEAST(1e0, MIN(1e0/lambda)
                        OVER (ORDER BY d)) AS p_av
            FROM l)
      SELECT d, n_a, c_a, n_b, c_b, ROUND(theta, 6) AS theta,
             ROUND(lambda, 6) AS lambda,
             ROUND(COALESCE(p_av, 1e0), 6) AS p_always_valid,
             COALESCE(p_av, 1e0) < 5e-2 AS reject
      FROM p ORDER BY d"""),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // ONE row per user: the randomization unit (q233's discipline)
        val u = ev.groupBy("user_id")
          .agg(min(expr("ts_us div 86400000000")).as("fe"),
            min(when(col("event_type") === "purchase",
              expr("ts_us div 86400000000"))).as("fp"))
          .select((conv(substring(md5(concat(lit("ms:"), col("user_id"))),
              1, 1), 16, 10).cast("long") % 2).as("arm"),
            col("fe"), col("fp"))
          .localCheckpoint() // enrollment AND conversion histograms read it
        val dom = ev.select(expr("ts_us div 86400000000").as("d")).distinct()
        val arms = s.range(2).select(col("id").as("arm"))
        val en = u.groupBy(col("arm"), col("fe").as("d"))
          .agg(count(lit(1)).as("ne"))
        val cv = u.where(col("fp").isNotNull)
          .groupBy(col("arm"), col("fp").as("d"))
          .agg(count(lit(1)).as("nc"))
        val grid = broadcast(arms).crossJoin(dom)
          .join(en, Seq("arm", "d"), "left")
          .join(cv, Seq("arm", "d"), "left")
          .select(col("arm"), col("d"),
            coalesce(col("ne"), lit(0L)).as("ne"),
            coalesce(col("nc"), lit(0L)).as("nc"))
        val w = Window.partitionBy("arm").orderBy("d")
        val cu = grid.select(col("arm"), col("d"),
          sum("ne").over(w).as("cn"), sum("nc").over(w).as("cc"))
        val a = cu.where(col("arm") === 0)
          .select(col("d"), col("cn").as("n_a"), col("cc").as("c_a"))
        val b = cu.where(col("arm") === 1)
          .select(col("d").as("bd"), col("cn").as("n_b"), col("cc").as("c_b"))
        val j = a.join(b, col("d") === col("bd")).drop("bd")
          .where(col("n_a") > 0 && col("n_b") > 0)
        val pp = (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))
        val theta = col("c_b").cast("double") / col("n_b") -
          col("c_a").cast("double") / col("n_a")
        val v = pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
        val l = j.select(col("d"), col("n_a"), col("c_a"), col("n_b"), col("c_b"),
          theta.as("theta"), v.as("v"))
          .withColumn("lambda", when(col("v") > 0.0,
            sqrt(col("v") / (col("v") + lit(1e-2)))
              * exp(col("theta") * col("theta") * lit(1e-2)
                / (lit(2.0) * col("v") * (col("v") + lit(1e-2))))))
        l.withColumn("p_av",
            least(lit(1.0), min(lit(1.0) / col("lambda"))
              .over(Window.orderBy("d"))))
          .select(col("d"), col("n_a"), col("c_a"), col("n_b"), col("c_b"),
            round(col("theta"), 6).as("theta"),
            round(col("lambda"), 6).as("lambda"),
            round(coalesce(col("p_av"), lit(1.0)), 6).as("p_always_valid"),
            (coalesce(col("p_av"), lit(1.0)) < 0.05).as("reject"))
          .orderBy("d")
      }),

    // ---- q258: experiment power / MDE calculator — the DESIGN-side
    // companion to the analysis kit (q219/q234/q257): before an
    // experiment runs, what's the minimum detectable effect at the
    // current traffic, and how many users per arm would a 1pp (or
    // $1) MDE need? Classic two-sample formula at α = .05 two-sided,
    // 80% power: MDE = (z_{.975}+z_{.8})·√(2σ²/n_arm), n_arm =
    // (z sum)²·2σ²/MDE², with the z sum entering as ONE shared
    // literal 2.8016e0 (the q221/q223 baked-literal discipline) and
    // σ² from exact user-level integer moments for BOTH metric
    // shapes: binary conversion (p̂(1−p̂)) and continuous revenue.
    // Required-n ceilings are CEIL over identical doubles. ONE
    // user-level hash agg + one global fold; a single emitted row.
    QueryDef("q258_power_mde", Some("""
      WITH u AS (SELECT user_id,
                   CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     AS BIGINT) AS conv,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(ROUND(value*100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS rev
                 FROM events GROUP BY user_id),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS nc,
                   CAST(SUM(rev) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE) AS s2
            FROM u)
      SELECT n AS n_users, nc AS n_converters,
             CAST(nc AS DOUBLE)/n AS p_hat,
             ROUND(2.8016e0 * sqrt(2e0 * (CAST(nc AS DOUBLE)/n)
               * (1e0 - CAST(nc AS DOUBLE)/n) / (CAST(n AS DOUBLE)/2e0)), 6)
               AS mde_conv,
             CAST(CEIL(2.8016e0 * 2.8016e0 * 2e0 * (CAST(nc AS DOUBLE)/n)
               * (1e0 - CAST(nc AS DOUBLE)/n) / 1e-4) AS BIGINT)
               AS n_per_arm_conv_1pp,
             ROUND((s2 - s1*s1/n)/n, 6) AS var_rev_cents2,
             ROUND(2.8016e0 * sqrt(2e0 * ((s2 - s1*s1/n)/n)
               / (CAST(n AS DOUBLE)/2e0)), 6) AS mde_rev_cents,
             CAST(CEIL(2.8016e0 * 2.8016e0 * 2e0 * ((s2 - s1*s1/n)/n) / 1e4)
               AS BIGINT) AS n_per_arm_rev_1usd
      FROM m"""),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"),
            sum(when(col("event_type") === "purchase",
              QueryDef.cents(col("value"))).otherwise(0L)).cast("long")
              .as("rev"))
        val rw = col("rev").cast("decimal(19,0)")
        val m = u.agg(count(lit(1)).as("n"), sum("conv").cast("long").as("nc"),
          sum(col("rev").cast("decimal(38,0)")).cast("double").as("s1"),
          sum(rw * rw).cast("double").as("s2"))
        val p = col("nc").cast("double") / col("n")
        val varRev = (col("s2") - col("s1") * col("s1") / col("n")) / col("n")
        val z = lit(2.8016)
        m.select(col("n").as("n_users"), col("nc").as("n_converters"),
          p.as("p_hat"),
          round(z * sqrt(lit(2.0) * p * (lit(1.0) - p)
            / (col("n").cast("double") / lit(2.0))), 6).as("mde_conv"),
          ceil(z * z * lit(2.0) * p * (lit(1.0) - p) / lit(1e-4)).cast("long")
            .as("n_per_arm_conv_1pp"),
          round(varRev, 6).as("var_rev_cents2"),
          round(z * sqrt(lit(2.0) * varRev
            / (col("n").cast("double") / lit(2.0))), 6).as("mde_rev_cents"),
          ceil(z * z * lit(2.0) * varRev / lit(1e4)).cast("long")
            .as("n_per_arm_rev_1usd"))
      }),

    // ---- q259: winsorized A/B comparison — heavy-tailed revenue
    // makes the plain z-test (q219) hostage to whales: one outlier
    // user in one arm moves the mean more than the treatment does.
    // Industry practice winsorizes at a POOLED high quantile before
    // testing (pooled, so the cap itself cannot differ by arm and
    // smuggle in bias): cap = the exact p95 of per-user revenue via
    // ExactRank (the oracle may single-partition ROW_NUMBER; the
    // engine may not), winsorized values stay EXACT LONGS (min with
    // an integer cap), so per-arm moments are exact integer sums and
    // the Welch-style z is one fixed double tree at the end. Emits
    // the capped share per arm beside the test, and GATES the
    // interpretation rule itself: cap_dominates = clip rate >5% in
    // EITHER arm means the cap, not the treatment, is doing the work
    // — the z beside it should not be read. The gate compares in
    // exact integer space (n_clipped·20 > n), never a float share,
    // because a 5.000000% rate is reachable whenever n divides by 20.
    QueryDef("q259_winsorized_ab", Some("""
      WITH u AS (SELECT user_id,
                        CAST('0x' || substr(md5('qte:' || user_id), 1, 1)
                          AS BIGINT) % 2 AS arm,
                        CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
                          AS rev
                 FROM events GROUP BY user_id),
      n_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
      r AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, user_id) AS rk FROM u),
      cap AS (SELECT r.rev AS cap FROM r, n_
              WHERE r.rk = (95 * n_.n + 99) // 100),
      w AS (SELECT arm, LEAST(rev, (SELECT cap FROM cap)) AS wv,
                   CASE WHEN rev > (SELECT cap FROM cap) THEN 1 ELSE 0 END
                     AS clipped
            FROM u),
      m AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(clipped) AS BIGINT) AS n_clipped,
                   CAST(SUM(wv) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(wv AS HUGEINT) * wv) AS DOUBLE) AS s2
            FROM w GROUP BY arm)
      SELECT a.n AS n_a, b.n AS n_b,
             (SELECT cap FROM cap) AS cap_cents,
             ROUND(CAST(a.n_clipped AS DOUBLE)/a.n, 6) AS clip_rate_a,
             ROUND(CAST(b.n_clipped AS DOUBLE)/b.n, 6) AS clip_rate_b,
             ROUND(a.s1/a.n, 6) AS wmean_a, ROUND(b.s1/b.n, 6) AS wmean_b,
             ROUND((b.s1/b.n - a.s1/a.n)
               / sqrt(((a.s2 - a.s1*a.s1/a.n)/a.n)/a.n
                    + ((b.s2 - b.s1*b.s1/b.n)/b.n)/b.n), 6) AS z,
             a.n_clipped * 20 > a.n OR b.n_clipped * 20 > b.n AS cap_dominates
      FROM m a JOIN m b ON a.arm = 0 AND b.arm = 1"""),
      (s, dir) => {
        val u = Tables.events(s, dir)
          .groupBy("user_id")
          .agg(sum(QueryDef.cents(col("value"))).cast("long").as("rev"))
          .select(col("user_id"), col("rev"),
            (conv(substring(md5(concat(lit("qte:"), col("user_id"))), 1, 1),
              16, 10).cast("long") % 2).as("arm"))
          .localCheckpoint() // the rank pass AND the winsorize pass read it
        val (ranked, n) = graft.operators.ExactRank.withRowNumber(
          u.select(col("rev"), col("user_id")),
          Seq(col("rev"), col("user_id")), "rk")
        val capRank = (95L * n + 99) / 100
        val cap = ranked.where(col("rk") === capRank)
          .select(col("rev").as("cap"))
        val w = u.crossJoin(broadcast(cap))
          .select(col("arm"), least(col("rev"), col("cap")).as("wv"),
            when(col("rev") > col("cap"), 1L).otherwise(0L).as("clipped"),
            col("cap"))
        val wvw = col("wv").cast("decimal(19,0)")
        val m = w.groupBy("arm")
          .agg(count(lit(1)).as("n"), sum("clipped").cast("long").as("n_clipped"),
            sum(col("wv").cast("decimal(38,0)")).cast("double").as("s1"),
            sum(wvw * wvw).cast("double").as("s2"),
            first("cap").as("cap"))
        val a = m.where(col("arm") === 0).select(col("n").as("n_a"),
          col("n_clipped").as("ca"), col("s1").as("s1a"), col("s2").as("s2a"),
          col("cap"))
        val b = m.where(col("arm") === 1).select(col("n").as("n_b"),
          col("n_clipped").as("cb"), col("s1").as("s1b"), col("s2").as("s2b"))
        a.crossJoin(b)
          .select(col("n_a"), col("n_b"), col("cap").as("cap_cents"),
            round(col("ca").cast("double") / col("n_a"), 6).as("clip_rate_a"),
            round(col("cb").cast("double") / col("n_b"), 6).as("clip_rate_b"),
            round(col("s1a") / col("n_a"), 6).as("wmean_a"),
            round(col("s1b") / col("n_b"), 6).as("wmean_b"),
            round((col("s1b") / col("n_b") - col("s1a") / col("n_a"))
              / sqrt(((col("s2a") - col("s1a") * col("s1a") / col("n_a")) / col("n_a")) / col("n_a")
                   + ((col("s2b") - col("s1b") * col("s1b") / col("n_b")) / col("n_b")) / col("n_b")), 6)
              .as("z"),
            (col("ca") * 20 > col("n_a") || col("cb") * 20 > col("n_b"))
              .as("cap_dominates"))
      }),

    // ---- q263: forecast backtest — the capacity-planning companion
    // to the monitoring charts (q244/q245/q252 watch the past; this
    // scores what you'd have PREDICTED): hold out the last 7 days of
    // per-type daily counts, forecast each held-out day with the two
    // standard baselines any fancier model must beat — seasonal-naive
    // (same weekday last week, the right baseline for the q252 weekly
    // cycle) and last-value naive — and report per type MAE, WAPE
    // (Σ|err|/Σactual — the industry form that tolerates zero days),
    // and an exact-integer winner verdict (Σ|e_s| < Σ|e_n|, so a tie
    // cannot split the engines). Errors are exact longs end to end;
    // only the final ratios round. Scale shape: the corpus collapses
    // into the (type × day-domain) counter table in ONE scan; the
    // zero-fill grid, both forecast joins, and the verdict all ride
    // calendar-bounded relations.
    QueryDef("q263_forecast_backtest", Some("""
      WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
                            CAST(COUNT(*) AS BIGINT) AS x
                     FROM events
                     GROUP BY event_type, (epoch_us(ts) // 86400000000)),
      dom AS (SELECT DISTINCT d FROM daily),
      ty AS (SELECT DISTINCT event_type FROM daily),
      grid AS (SELECT ty.event_type, dom.d, COALESCE(daily.x, 0) AS x
               FROM ty CROSS JOIN dom
               LEFT JOIN daily ON daily.event_type = ty.event_type
                              AND daily.d = dom.d),
      bounds AS (SELECT MAX(d) AS maxd FROM dom),
      lastv AS (SELECT event_type, x AS nx FROM grid, bounds
                WHERE d = maxd - 7),
      j AS (SELECT t.event_type, t.d, t.x, h.x AS sx_f, lastv.nx
            FROM grid t
            JOIN grid h ON h.event_type = t.event_type AND h.d = t.d - 7
            JOIN lastv ON lastv.event_type = t.event_type, bounds
            WHERE t.d > maxd - 7),
      m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(ABS(x - sx_f)) AS BIGINT) AS ae_s,
                   CAST(SUM(ABS(x - nx)) AS BIGINT) AS ae_n,
                   CAST(SUM(x) AS BIGINT) AS sx
            FROM j GROUP BY event_type)
      SELECT event_type, n_test,
             ROUND(CAST(ae_s AS DOUBLE) / n_test, 6) AS mae_seasonal,
             ROUND(CAST(ae_n AS DOUBLE) / n_test, 6) AS mae_naive,
             CASE WHEN sx > 0 THEN ROUND(CAST(ae_s AS DOUBLE) / sx, 6) END
               AS wape_seasonal,
             CASE WHEN sx > 0 THEN ROUND(CAST(ae_n AS DOUBLE) / sx, 6) END
               AS wape_naive,
             ae_s < ae_n AS seasonal_wins
      FROM m ORDER BY event_type"""),
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), expr("ts_us div 86400000000").as("d"))
          .agg(count(lit(1)).cast("long").as("x"))
          .localCheckpoint() // grid, bounds, and both forecast joins read it
        val dom = daily.select("d").distinct()
        val grid = daily.select("event_type").distinct()
          .crossJoin(broadcast(dom))
          .join(daily, Seq("event_type", "d"), "left")
          .select(col("event_type"), col("d"),
            coalesce(col("x"), lit(0L)).as("x"))
          .localCheckpoint() // test slice, history side, and lastv read it
        val bounds = dom.agg(max("d").as("maxd"))
        val lastv = grid.crossJoin(broadcast(bounds))
          .where(col("d") === col("maxd") - 7)
          .select(col("event_type").as("et_n"), col("x").as("nx"))
        val hist = grid.select(col("event_type").as("et_h"),
          col("d").as("hd"), col("x").as("sx_f"))
        val j = grid.crossJoin(broadcast(bounds))
          .where(col("d") > col("maxd") - 7)
          .join(hist, col("et_h") === col("event_type")
            && col("hd") === col("d") - 7)
          .join(lastv, col("et_n") === col("event_type"))
        val m = j.groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n_test"),
            sum(abs(col("x") - col("sx_f"))).cast("long").as("ae_s"),
            sum(abs(col("x") - col("nx"))).cast("long").as("ae_n"),
            sum("x").cast("long").as("sx"))
        m.select(col("event_type"), col("n_test"),
            round(col("ae_s").cast("double") / col("n_test"), 6).as("mae_seasonal"),
            round(col("ae_n").cast("double") / col("n_test"), 6).as("mae_naive"),
            when(col("sx") > 0,
              round(col("ae_s").cast("double") / col("sx"), 6)).as("wape_seasonal"),
            when(col("sx") > 0,
              round(col("ae_n").cast("double") / col("sx"), 6)).as("wape_naive"),
            (col("ae_s") < col("ae_n")).as("seasonal_wins"))
          .orderBy("event_type")
      }),

    // ---- q269: Bradley-Terry preference ranking — the aggregation
    // step of every preference-data pipeline (RLHF reward modeling,
    // Chatbot-Arena-style leaderboards): pairwise "A beat B" judgments
    // become one global strength per item via the BT model
    // P(i beats j) = s_i/(s_i+s_j), fit by Hunter's MM iterations
    // (Hunter, Annals of Statistics 2004): s_i ← W_i / Σ_j n_ij/(s_i+s_j).
    // Here the judges are USERS and the items EVENT TYPES (type a
    // beats type b for a user when the user fired a more often — the
    // per-user collapse that keeps one vote per judge per pair, the
    // q233/q257 discipline); any (prompt, chosen, rejected) table
    // plugs into the same shape. Three MM rounds from s = 1, the
    // Σ_j fold in EXPLICIT j order (sorted-list aggregation — the
    // Pca.matvec discipline; a hash-agg SUM of doubles would be
    // engine-order-dependent), final strengths normalized to sum 1
    // (fold in item order), ranks from a bounded self-join — never a
    // global window. Scale shape: corpus → (user, type) counts in one
    // hash agg; the per-user pair fan-out is #types² per user
    // (bounded by the item vocabulary, not the corpus); everything
    // after the wins matrix is items²-row arithmetic.
    QueryDef("q269_bradley_terry", Some({
      def iterCte(t: Int, sin: String): String = s"""
      it$t AS (SELECT n.i, w.wi,
                 CASE WHEN w.wi > 0 AND
                   list_sum(list(CAST(n.nij AS DOUBLE) / (si.s + sj.s)
                     ORDER BY n.j)) > 0
                 THEN CAST(w.wi AS DOUBLE)
                   / list_sum(list(CAST(n.nij AS DOUBLE) / (si.s + sj.s)
                       ORDER BY n.j))
                 ELSE CAST(0 AS DOUBLE) END AS s
               FROM nm n JOIN $sin si ON si.i = n.i
                    JOIN $sin sj ON sj.i = n.j
                    JOIN wt w ON w.i = n.i
               GROUP BY n.i, w.wi)"""
      s"""
      WITH uc AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
                  FROM events GROUP BY 1, 2),
      pw AS (SELECT a.event_type AS i, b.event_type AS j,
                    CAST(SUM(CASE WHEN a.c > b.c THEN 1 ELSE 0 END)
                      AS BIGINT) AS wins
             FROM uc a JOIN uc b ON b.user_id = a.user_id
                  AND b.event_type <> a.event_type
             GROUP BY 1, 2),
      nm AS (SELECT p.i, p.j, p.wins, p.wins + q.wins AS nij
             FROM pw p JOIN pw q ON q.i = p.j AND q.j = p.i),
      wt AS (SELECT i, CAST(SUM(wins) AS BIGINT) AS wi FROM nm GROUP BY i),
      s0 AS (SELECT i, CAST(1 AS DOUBLE) AS s FROM wt),
      ${iterCte(1, "s0")},
      ${iterCte(2, "it1")},
      ${iterCte(3, "it2")},
      nrm AS (SELECT list_sum(list(s ORDER BY i)) AS z FROM it3),
      fin AS (SELECT it3.i, it3.wi,
                     CASE WHEN nrm.z > 0 THEN it3.s / nrm.z END AS strength
              FROM it3, nrm),
      nc AS (SELECT i, CAST(SUM(nij) AS BIGINT) AS ncmp FROM nm GROUP BY i),
      rk AS (SELECT f.i, CAST(1 + COUNT(y.i) AS BIGINT) AS bt_rank
             FROM fin f LEFT JOIN fin y ON y.strength > f.strength
                  OR (y.strength = f.strength AND y.i < f.i)
             GROUP BY f.i)
      SELECT f.i AS event_type, f.wi AS wins, nc.ncmp AS n_comparisons,
             ROUND(f.strength, 6) AS strength, rk.bt_rank
      FROM fin f JOIN nc ON nc.i = f.i JOIN rk ON rk.i = f.i
      ORDER BY rk.bt_rank, event_type"""
    }),
      (s, dir) => {
        val uc = Tables.events(s, dir)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // both sides of the per-user pair join
        val pw = uc.select(col("user_id"), col("event_type").as("i"), col("c").as("ca"))
          .join(uc.select(col("user_id"), col("event_type").as("j"), col("c").as("cb")),
            Seq("user_id"))
          .where(col("i") =!= col("j"))
          .groupBy("i", "j")
          .agg(sum(when(col("ca") > col("cb"), 1L).otherwise(0L)).as("wins"))
        val nm = pw.join(
            pw.select(col("i").as("qj"), col("j").as("qi"), col("wins").as("rw")),
            col("qi") === col("i") && col("qj") === col("j"))
          .select(col("i"), col("j"), col("wins"),
            (col("wins") + col("rw")).as("nij"))
          .localCheckpoint() // 3 MM rounds + the comparison totals read it
        val wt = nm.groupBy("i").agg(sum("wins").cast("long").as("wi"))
          .localCheckpoint()
        // Σ_j folds in EXPLICIT j order: hash-agg double sums are
        // engine-order-dependent; the sorted-list fold is not
        def denom = aggregate(
          transform(array_sort(collect_list(struct(col("j"), col("v")))),
            x => x.getField("v")),
          lit(0.0), (acc, x) => acc + x)
        def iterate(sTab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          nm.join(sTab.select(col("i").as("si_i"), col("s").as("si")),
              col("si_i") === col("i"))
            .join(sTab.select(col("i").as("sj_i"), col("s").as("sj")),
              col("sj_i") === col("j"))
            .select(col("i"), col("j"),
              (col("nij").cast("double") / (col("si") + col("sj"))).as("v"))
            .groupBy("i").agg(denom.as("den"))
            .join(wt, "i")
            .select(col("i"), col("wi"),
              when(col("wi") > 0 && col("den") > 0,
                col("wi").cast("double") / col("den"))
                .otherwise(lit(0.0)).as("s"))
        val s0 = wt.select(col("i"), lit(1.0).as("s"))
        val it3 = iterate(iterate(iterate(s0))).localCheckpoint()
        val z = it3.agg(aggregate(
            transform(array_sort(collect_list(struct(col("i"), col("s")))),
              x => x.getField("s")),
            lit(0.0), (acc, x) => acc + x).as("z"))
        val fin = it3.crossJoin(broadcast(z))
          .select(col("i"), col("wi"),
            when(col("z") > 0, col("s") / col("z")).as("strength"))
          .localCheckpoint() // the rank self-join reads both sides
        val rk = fin.select(col("i"), col("strength"))
          .join(broadcast(fin.select(col("i").as("yi"), col("strength").as("ys"))),
            col("ys") > col("strength")
              || (col("ys") === col("strength") && col("yi") < col("i")),
            "left")
          .groupBy("i").agg((lit(1L) + count(col("yi"))).as("bt_rank"))
        val nc = nm.groupBy("i").agg(sum("nij").cast("long").as("ncmp"))
        fin.join(nc, "i").join(rk, "i")
          .select(col("i").as("event_type"), col("wi").as("wins"),
            col("ncmp").as("n_comparisons"),
            round(col("strength"), 6).as("strength"), col("bt_rank"))
          .orderBy("bt_rank", "event_type")
      }),

    // ---- q273: always-valid inference for CONTINUOUS metrics —
    // q257's normal-likelihood sibling (Johari et al. KDD'17 give the
    // normal-mixture Λ for exactly this): revenue-shaped experiments
    // (q259's winsorized mean) monitored daily need the same anytime-
    // valid p-sequence the binary mSPRT gives conversion. The
    // observation unit is the (user, day) WINSORIZED spend increment
    // — winsorized at a PRE-REGISTERED cap ($100, an exact-integer
    // LEAST against 10000 cents), NOT q259's pooled p95: a data-
    // dependent cap computed over the full horizon peeks at the
    // future and voids the martingale property that makes the
    // p-sequence valid at every peek. Per (arm, day): exact integer
    // (n, Σx, Σx²) over the calendar grid (zero-filled), cumulated
    // per-arm (day-domain windows — exact longs); each day's θ̂ =
    // mean_b − mean_a, pooled population variance
    // ((Σx²_a − Σx_a²/n_a) + (Σx²_b − Σx_b²/n_b))/(n_a+n_b), and
    // V = s²_p·(1/n_a + 1/n_b) are fixed double trees on identical
    // exact longs; Λ's mixture uses τ² = 1e4 cents² (a shared
    // literal) and p_n = min(1, min_j ≤ n 1/Λ_j) is an order-free
    // exact fold. Days before both arms have observations are
    // dropped (no estimator); V = 0 days carry NULL Λ and p holds at
    // the running min. The running-min window is global but rides
    // the DAY-domain table (calendar-bounded — allowlisted).
    // EventStreams.msprtNormalMonitor maintains the identical
    // p-sequence live on 7 longs + 1 double per experiment;
    // StreamingSpec proves bit-equality.
    QueryDef("q273_msprt_normal", Some("""
      WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d,
                    LEAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(ROUND(value*100) AS BIGINT) END), 0),
                          10000) AS x
                  FROM events GROUP BY 1, 2),
      ua AS (SELECT CAST('0x' || substr(md5('msn:' || user_id), 1, 1)
                      AS BIGINT) % 2 AS arm, d, x
             FROM ud),
      dom AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS d FROM events),
      arms AS (SELECT CAST(0 AS BIGINT) AS arm UNION ALL SELECT CAST(1 AS BIGINT)),
      da AS (SELECT arm, d, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS BIGINT) AS s1,
                    CAST(SUM(x*x) AS BIGINT) AS s2
             FROM ua GROUP BY arm, d),
      grid AS (SELECT arms.arm, dom.d, COALESCE(da.n, 0) AS n,
                      COALESCE(da.s1, 0) AS s1, COALESCE(da.s2, 0) AS s2
               FROM arms CROSS JOIN dom
               LEFT JOIN da ON da.arm = arms.arm AND da.d = dom.d),
      cu AS (SELECT arm, d,
                    CAST(SUM(n) OVER w AS BIGINT) AS cn,
                    CAST(SUM(s1) OVER w AS BIGINT) AS cs1,
                    CAST(SUM(s2) OVER w AS BIGINT) AS cs2
             FROM grid WINDOW w AS (PARTITION BY arm ORDER BY d)),
      j AS (SELECT a.d, a.cn AS n_a, a.cs1 AS s1_a, a.cs2 AS s2_a,
                   b.cn AS n_b, b.cs1 AS s1_b, b.cs2 AS s2_b
            FROM cu a JOIN cu b ON b.d = a.d AND a.arm = 0 AND b.arm = 1
            WHERE a.cn > 0 AND b.cn > 0),
      s AS (SELECT d, n_a, s1_a, n_b, s1_b,
                   CAST(s1_b AS DOUBLE)/n_b - CAST(s1_a AS DOUBLE)/n_a AS theta,
                   ((CAST(s2_a AS DOUBLE)
                       - CAST(s1_a AS DOUBLE)*CAST(s1_a AS DOUBLE)/n_a)
                    + (CAST(s2_b AS DOUBLE)
                       - CAST(s1_b AS DOUBLE)*CAST(s1_b AS DOUBLE)/n_b))
                     / (n_a + n_b) * (1e0/n_a + 1e0/n_b) AS v
            FROM j),
      l AS (SELECT *, CASE WHEN v > 0e0 THEN
                   sqrt(v/(v + 1e4))
                     * exp(theta*theta*1e4/(2e0*v*(v + 1e4)))
                 END AS lambda
            FROM s),
      p AS (SELECT *, LEAST(1e0, MIN(1e0/lambda)
                        OVER (ORDER BY d)) AS p_av
            FROM l)
      SELECT d, n_a, s1_a, n_b, s1_b, ROUND(theta, 6) AS theta,
             ROUND(lambda, 6) AS lambda,
             ROUND(COALESCE(p_av, 1e0), 6) AS p_always_valid,
             COALESCE(p_av, 1e0) < 5e-2 AS reject
      FROM p ORDER BY d"""),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // (user, day) winsorized spend increments — exact longs
        val ud = ev.groupBy(col("user_id"), expr("ts_us div 86400000000").as("d"))
          .agg(least(coalesce(sum(when(col("event_type") === "purchase",
            QueryDef.cents(col("value")))).cast("long"), lit(0L)),
            lit(10000L)).as("x"))
        val ua = ud.select(
          (conv(substring(md5(concat(lit("msn:"), col("user_id"))), 1, 1),
            16, 10).cast("long") % 2).as("arm"),
          col("d"), col("x"))
        val dom = ev.select(expr("ts_us div 86400000000").as("d")).distinct()
        val arms = s.range(2).select(col("id").as("arm"))
        val da = ua.groupBy("arm", "d")
          .agg(count(lit(1)).as("n"), sum("x").cast("long").as("s1"),
            sum(col("x") * col("x")).cast("long").as("s2"))
        val grid = broadcast(arms).crossJoin(dom)
          .join(da, Seq("arm", "d"), "left")
          .select(col("arm"), col("d"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("s1"), lit(0L)).as("s1"),
            coalesce(col("s2"), lit(0L)).as("s2"))
        val w = Window.partitionBy("arm").orderBy("d")
        val cu = grid.select(col("arm"), col("d"),
          sum("n").over(w).as("cn"), sum("s1").over(w).as("cs1"),
          sum("s2").over(w).as("cs2"))
        val a = cu.where(col("arm") === 0).select(col("d"),
          col("cn").as("n_a"), col("cs1").as("s1_a"), col("cs2").as("s2_a"))
        val b = cu.where(col("arm") === 1).select(col("d").as("bd"),
          col("cn").as("n_b"), col("cs1").as("s1_b"), col("cs2").as("s2_b"))
        val j = a.join(b, col("d") === col("bd")).drop("bd")
          .where(col("n_a") > 0 && col("n_b") > 0)
        val theta = col("s1_b").cast("double") / col("n_b") -
          col("s1_a").cast("double") / col("n_a")
        val v = ((col("s2_a").cast("double")
            - col("s1_a").cast("double") * col("s1_a").cast("double") / col("n_a"))
          + (col("s2_b").cast("double")
            - col("s1_b").cast("double") * col("s1_b").cast("double") / col("n_b")))
          ./(col("n_a") + col("n_b")) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
        val l = j.select(col("d"), col("n_a"), col("s1_a"), col("n_b"), col("s1_b"),
          theta.as("theta"), v.as("v"))
          .withColumn("lambda", when(col("v") > 0.0,
            sqrt(col("v") / (col("v") + lit(1e4)))
              * exp(col("theta") * col("theta") * lit(1e4)
                / (lit(2.0) * col("v") * (col("v") + lit(1e4))))))
        l.withColumn("p_av",
            least(lit(1.0), min(lit(1.0) / col("lambda"))
              .over(Window.orderBy("d"))))
          .select(col("d"), col("n_a"), col("s1_a"), col("n_b"), col("s1_b"),
            round(col("theta"), 6).as("theta"),
            round(col("lambda"), 6).as("lambda"),
            round(coalesce(col("p_av"), lit(1.0)), 6).as("p_always_valid"),
            (coalesce(col("p_av"), lit(1.0)) < 0.05).as("reject"))
          .orderBy("d")
      }),

    // ---- q277: MAINTAINED SESSION LABELS UNDER DELETION — the
    // decremental half of the ClusterState lifecycle, on the graph
    // where bridge splits are GUARANTEED rather than incidental:
    // consecutive events of a user within an 8-hour gap are edges, so
    // every user's history is a CHAIN, and a right-to-be-forgotten
    // deletion of a mid-session event MUST split its session (the
    // update no label-only state can decide — ClusterState stores the
    // verified edge relation precisely to make this decidable).
    // Engine-side cycle: build session labels on history (ts before
    // Jan 25), refresh with the delta days' events + every chain edge
    // whose later endpoint is in the delta (delivered twice under one
    // delta id — the replay guard), then DELETE every event_id % 7 = 3
    // (also delivered twice), and read the maintained labels. The
    // oracle re-derives BOTH fixpoints in SQL — full CC over all
    // events (the pre-delete labels, re-gating the refresh) and CC
    // over the survivors with surviving stored edges — so the per-row
    // hash gates maintained ≡ from-scratch decremental connectivity,
    // splits included; n_splits (components gained inside affected
    // sessions) rides every row to make the split case load-bearing.
    // Scale shape: the chain edges come from ONE user-partitioned lag
    // window (never global); delete reads the label table twice and
    // the edge state once with all derived tables cluster-bounded
    // (ClusterStateSpec plan-asserts the delta-bounded refresh IO and
    // pins bridge-split/re-add/replay edges the oracle can't see).
    QueryDef("q277_session_delete_maintain", Some(s"""
      WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
      prs AS (SELECT user_id, LAG(event_id) OVER w AS id_a,
                     event_id AS id_b,
                     ts_us - LAG(ts_us) OVER w AS gap_us
              FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      edge0 AS (SELECT id_a, id_b FROM prs
                WHERE id_a IS NOT NULL AND gap_us <= ${SessionGapUs}),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM edge0
                UNION ALL SELECT id_b, id_a FROM edge0),
      l0 AS MATERIALIZED (SELECT event_id AS id, event_id AS label FROM ev),
      ${graft.QueryDef.ccFixpointCtes()},
      sedge0 AS (SELECT id_a, id_b FROM edge0
                 WHERE id_a % 7 <> 3 AND id_b % 7 <> 3),
      sedges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM sedge0
                UNION ALL SELECT id_b, id_a FROM sedge0),
      sl0 AS MATERIALIZED (SELECT event_id AS id, event_id AS label FROM ev
                WHERE event_id % 7 <> 3),
      ${graft.QueryDef.ccFixpointCtes(prefix = "s")},
      aff AS (SELECT DISTINCT label FROM ${graft.QueryDef.ccFinal()}
              WHERE id % 7 = 3),
      per AS (SELECT s.id AS event_id, s.label, f.label AS old_label
              FROM ${graft.QueryDef.ccFinal(prefix = "s")} s
              JOIN ${graft.QueryDef.ccFinal()} f ON f.id = s.id),
      spl AS (SELECT CAST(COALESCE(SUM(k - 1), 0) AS BIGINT) AS n_splits
              FROM (SELECT p.old_label, COUNT(DISTINCT p.label) AS k
                    FROM per p JOIN aff a ON a.label = p.old_label
                    GROUP BY p.old_label)),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_deleted FROM ev
             WHERE event_id % 7 = 3)
      SELECT p.event_id, e.user_id,
             p.label AS session_id, p.old_label AS old_session_id,
             p.label <> p.old_label AS relabeled,
             a.label IS NOT NULL AS affected,
             e.ts_us >= ${SessionCutUs} AS arrived_in_delta,
             s.n_splits, n.n_deleted
      FROM per p
      JOIN ev e ON e.event_id = p.event_id
      LEFT JOIN aff a ON a.label = p.old_label, spl s, nd n
      ORDER BY p.event_id"""),
      (s, dir) => {
        import graft.dedup.ClusterState
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts_us"))
          .localCheckpoint() // splits, edges, victims, output join read it
        val w = Window.partitionBy("user_id").orderBy("ts_us")
        val edges = ev.select(col("user_id"),
            lag("event_id", 1).over(w).as("id_a"),
            col("event_id").as("id_b"),
            (col("ts_us") - lag("ts_us", 1).over(w)).as("gap_us"),
            col("ts_us").as("ts_b"))
          .where(col("id_a").isNotNull && col("gap_us") <= SessionGapUs)
          .select(col("id_a"), col("id_b"), col("ts_b"))
          .localCheckpoint() // history and delta splits read it
        val stDir = ScratchDirs.fresh(dir, "q277").head
        // the delta is a TIME suffix, so an edge touches the batch iff
        // its LATER endpoint is in the delta
        ClusterState.build(
          ev.where(col("ts_us") < SessionCutUs).select("event_id"),
          "event_id",
          edges.where(col("ts_b") < SessionCutUs).select("id_a", "id_b"),
          stDir)
        val deltaIds = ev.where(col("ts_us") >= SessionCutUs)
          .select("event_id")
        val deltaPairs = edges.where(col("ts_b") >= SessionCutUs)
          .select("id_a", "id_b")
        ClusterState.refresh(deltaIds, "event_id", deltaPairs, stDir, "d1")
        // crash-replay of the ingest batch: must be a no-op
        ClusterState.refresh(deltaIds, "event_id", deltaPairs, stDir, "d1")
        // pre-delete labels (lazy; nothing GCs inside this query)
        val old = ClusterState.labels(s, stDir).get
          .select(col("id"), col("label").as("old_label"))
        val victims = ev.where(col("event_id") % 7 === 3).select("event_id")
        ClusterState.delete(victims, stDir, "x1")
        // crash-replay of the erasure request: must be a no-op
        ClusterState.delete(victims, stDir, "x1")
        val now = ClusterState.labels(s, stDir).get
        val aff = old.join(victims, col("id") === col("event_id"))
          .select(col("old_label").as("aff_label")).distinct()
          .localCheckpoint() // the flag join AND the split count read it
        val per = now.join(old, Seq("id"))
          .select(col("id").as("event_id"), col("label"), col("old_label"))
          .localCheckpoint() // the split count AND the output read it
        val spl = per.join(aff, col("old_label") === col("aff_label"))
          .groupBy("old_label")
          .agg(countDistinct("label").as("k"))
          .agg(coalesce(sum(col("k") - 1), lit(0L)).cast("long").as("n_splits"))
        val nd = victims.agg(count(lit(1)).as("n_deleted"))
        per
          .join(ev.select(col("event_id"), col("user_id"), col("ts_us")),
            Seq("event_id"))
          .join(broadcast(aff), col("old_label") === col("aff_label"), "left")
          .crossJoin(broadcast(spl))
          .crossJoin(broadcast(nd))
          .select(col("event_id"), col("user_id"),
            col("label").as("session_id"),
            col("old_label").as("old_session_id"),
            (col("label") =!= col("old_label")).as("relabeled"),
            col("aff_label").isNotNull.as("affected"),
            (col("ts_us") >= SessionCutUs).as("arrived_in_delta"),
            col("n_splits"), col("n_deleted"))
          .orderBy("event_id")
      })
  )
}
