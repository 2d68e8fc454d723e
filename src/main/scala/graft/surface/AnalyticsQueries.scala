package graft
package surface

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{Lakehouse, Tables}

import Common._

/** Analytics / SQL-transformation engine: each query's Spark build beside its DuckDB oracle. */
object AnalyticsQueries {

  private def decSumD(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  private val disc = "CAST(l_extendedprice AS DECIMAL(18,4)) * " +
    "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"

  /** The same 16-bit Morton interleave as Analytics.zorderLayout,
    * unrolled to bitwise SQL (32 OR terms), bucket = code >> 16.
    */
  private lazy val zorderOracleSql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((x >> $i) & 1) << ${2 * i})",
      s"(((y >> $i) & 1) << ${2 * i + 1})"))
    s"""
      WITH m AS (
        SELECT cust, day, ${terms.mkString(" | ")} AS z FROM (
          SELECT o_custkey AS x, o_custkey AS cust,
                 date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS y,
                 date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day
          FROM orders))
      SELECT z >> 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
             min(cust) AS min_cust, max(cust) AS max_cust,
             CAST(min(day) AS BIGINT) AS min_day, CAST(max(day) AS BIGINT) AS max_day
      FROM m GROUP BY bucket"""
  }

  val queries: Seq[(String, Query)] = Seq(
    "q1_agg" -> Query((s, dir) =>
      Analytics.q1PricingSummary(t(s, dir, "lineitem")),
      s"""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
             CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    "q3_join" -> Query((s, dir) =>
      Analytics.q3ShippingPriority(
        t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"), "BUILDING"),
      s"""
      SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority"""),
    "q5_multijoin" -> Query((s, dir) => Analytics.q5LocalSupplier(s, dir, "ASIA"),
      s"""
      SELECT n_name, CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name"""),
    "q10_returned" -> Query((s, dir) =>
      Analytics.q10ReturnedItems(
        t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"),
        t(s, dir, "nation"), topN = 20),
      s"""
      SELECT c_custkey, c_name, n_name,
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20"""),
    "q12_case_agg" -> Query((s, dir) =>
      Analytics.q12PriorityClasses(t(s, dir, "orders"), t(s, dir, "lineitem")),
      """
      SELECT l_linestatus,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_linestatus"""),
    "q6_scan_agg" -> Query((s, dir) =>
      Analytics.q6ForecastRevenue(t(s, dir, "lineitem")),
      """
      SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                           CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
             AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.02 AND l_discount <= 0.09 AND l_quantity < 24"""),
    "q4_exists_range" -> Query((s, dir) =>
      Analytics.q4OrderPriority(t(s, dir, "orders"), t(s, dir, "lineitem")),
      """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders o
      WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority"""),
    "q_corr_subquery" -> Query((s, dir) =>
      Analytics.ordersAboveCustomerAvg(t(s, dir, "orders")),
      """
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM orders o
      WHERE o_totalprice > 2 * (
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        FROM orders i WHERE i.o_custkey = o.o_custkey)"""),
    "q_window" -> Query((s, dir) => Analytics.runningSpend(t(s, dir, "orders")),
      """
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
      FROM orders"""),
    // Window-function breadth: lead/lag/ntile/first over one
    // entity-partitioned sort.
    "q_window_suite" -> Query((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"),
        col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        ntile(4).over(w).cast("long").as("quartile"),
        first(col("o_orderkey")).over(w).as("first_order"))
    }, """
      SELECT o_custkey, o_orderkey,
             lag(o_orderkey, 1) OVER w AS prev_order,
             lead(o_orderkey, 1) OVER w AS next_order,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             first_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order
      FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),
    "q_topk_per_group" -> Query((s, dir) => Analytics.topKPerGroup(t(s, dir, "orders"), 3),
      """
      SELECT o_custkey, o_orderkey, o_totalprice, price_rank FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
        FROM orders) WHERE price_rank <= 3"""),
    // Bucketed range join (no native Spark operator): count orders
    // falling inside sampled 3-day campaign windows — day-bucket
    // explode + equi-join + exact residual, never a nested-loop
    // theta join.
    "q_range_join" -> Query((s, dir) => {
      val orders = t(s, dir, "orders")
      val windows = orders
        .where(col("o_orderkey") % 991 === 0)
        .select(
          col("o_orderkey").as("window_id"),
          col("o_orderdate").cast("timestamp").as("w_start"),
          date_add(col("o_orderdate"), 3).cast("timestamp").as("w_end"))
      Analytics
        .pointInRangeJoin(
          orders.select(col("o_orderkey"), col("o_orderdate").cast("timestamp").as("p_ts")),
          "o_orderkey", "p_ts",
          windows, "window_id", "w_start", "w_end",
          bucketUs = 86400L * 1000000L)
        .groupBy(col("interval_id").as("window_id"))
        .agg(count(lit(1)).as("n_points"))
    }, """
      WITH w AS (
        SELECT o_orderkey AS window_id, o_orderdate AS d0,
               o_orderdate + INTERVAL 3 DAY AS d1
        FROM orders WHERE o_orderkey % 991 = 0)
      SELECT w.window_id, CAST(count(*) AS BIGINT) AS n_points
      FROM w JOIN orders p ON p.o_orderdate BETWEEN w.d0 AND w.d1
      GROUP BY w.window_id"""),
    // True RANGE frame: trailing-24h spend per user at every event —
    // equal-ts peers share the frame (ROWS frames cannot express this).
    "q_window_range" -> Query((s, dir) =>
      Analytics.trailingRangeSum(
        t(s, dir, "events"), "user_id", "ts", "event_id", "value",
        trailingUs = 24L * 3600L * 1000000L),
      """
      SELECT user_id AS entity, event_id, epoch_us(ts) AS ts_us,
             CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS trailing_sum
      FROM events"""),
    // Time-series densification: per-type daily counts with empty days
    // zero-filled across the corpus date span.
    "q_gapfill_daily" -> Query((s, dir) =>
      Analytics.gapfillDaily(t(s, dir, "events"), "event_type", "ts"),
      """
      WITH c AS (
        SELECT event_type AS grp,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               count(*) AS n
        FROM events GROUP BY 1, 2),
      span AS (
        SELECT min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d0,
               max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d1
        FROM events),
      frame AS (
        SELECT grp, unnest(range(d0, d1 + 1)) AS day
        FROM (SELECT DISTINCT event_type AS grp FROM events) CROSS JOIN span)
      SELECT grp, CAST(day AS BIGINT) AS day, CAST(coalesce(n, 0) AS BIGINT) AS n
      FROM frame LEFT JOIN c USING (grp, day)"""),
    // Flow analytics: consecutive event-type transition counts per
    // user stream (the Sankey/Markov matrix).
    "q_event_transitions" -> Query((s, dir) =>
      Analytics.eventTransitions(t(s, dir, "events"), "user_id", "event_type", "ts", "event_id"),
      """
      SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_type,
               event_type AS next_type
        FROM events)
      WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type"""),
    // Top 20 3-step user journeys (the Sankey/path-analysis view).
    "q_event_paths" -> Query((s, dir) =>
      Analytics.eventPaths(
        t(s, dir, "events"), "user_id", "event_type", "ts", "event_id",
        steps = 3, topN = 20),
      """
      WITH s AS (
        SELECT event_type AS t0,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT t0 || '>' || t1 || '>' || t2 AS path, count(*) AS n
      FROM s WHERE t1 IS NOT NULL AND t2 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 20"""),
    // Cohort retention matrix: distinct active users per
    // (first-active-week cohort, week offset) — product analytics'
    // canonical retention view.
    "q_retention_cohorts" -> Query((s, dir) =>
      Analytics.retentionCohorts(t(s, dir, "events"), "user_id", "ts"),
      """
      WITH w AS (
        SELECT DISTINCT user_id AS entity,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS week
        FROM events),
      c AS (SELECT entity, min(week) AS cohort_week FROM w GROUP BY entity)
      SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
             CAST(w.week - c.cohort_week AS BIGINT) AS week_offset,
             CAST(count(DISTINCT w.entity) AS BIGINT) AS n_users
      FROM w JOIN c ON w.entity = c.entity
      GROUP BY 1, 2"""),
    // SCD type-2 history build: validity intervals per (user, value)
    // observation, open-ended for the current row.
    "fs_scd2_intervals" -> Query((s, dir) =>
      Analytics.scd2Intervals(t(s, dir, "events"), "user_id", "value", "ts", "event_id"),
      """
      SELECT user_id AS entity, value, epoch_us(ts) AS valid_from_us,
             epoch_us(lead(ts, 1) OVER w) AS valid_to_us,
             lead(ts, 1) OVER w IS NULL AS is_current
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""),
    "q_sessionize" -> Query((s, dir) => Analytics.sessionize(t(s, dir, "events"), 30),
      """
      WITH f AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g AS (
        SELECT user_id, ts_us,
               CAST(sum(new_sess) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f)
      SELECT user_id, session_id, count(*) AS n_events,
             min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
      FROM g GROUP BY user_id, session_id"""),
    // Sweep-line peak concurrency: max simultaneous 30-min sessions
    // per UTC day; sessions split at midnight so the sweep partitions
    // by day (no global ordering).
    "q_concurrency_peak" -> Query((s, dir) =>
      Analytics.concurrencyPeak(t(s, dir, "events"), 30),
      // Sweep line: sessions split at UTC midnights, +1/-1 deltas, per-day
      // running sum with starts ordered before ends at a shared instant.
      """
      WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess0 AS (
        SELECT user_id, ts_us,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged),
      sess AS (
        SELECT user_id, session_id, min(ts_us) AS s, max(ts_us) AS e
        FROM sess0 GROUP BY user_id, session_id),
      split AS (
        SELECT d.day, greatest(s, d.day * 86400000000) AS s2,
               least(e, (d.day + 1) * 86400000000 - 1) AS e2
        FROM sess, LATERAL (
          SELECT unnest(generate_series(s // 86400000000, e // 86400000000)) AS day) d),
      deltas AS (
        SELECT day, s2 AS ts_us, 1 AS delta FROM split
        UNION ALL SELECT day, e2, -1 FROM split),
      run AS (
        SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY ts_us, delta DESC
          ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas)
      SELECT CAST(day * 86400000000 AS BIGINT) AS day_us, CAST(max(conc) AS BIGINT) AS peak
      FROM run GROUP BY day"""),
    // Trailing 8-event EWMA (α=1/2) of spend per user — exact integer
    // micro-units, power-of-two weights, one window.
    "q_ewma" -> Query((s, dir) =>
      Analytics.ewmaTrailing(
        t(s, dir, "events"), "user_id", "ts", "event_id", "value", nLags = 8),
      // Truncated EWMA: identical lag/weight unroll, one integer division.
      {
      val lagsN = (0 until 8).map { k =>
        val w = 1L << (7 - k)
        s"coalesce(lag(vm, $k) OVER w * $w, 0)"
      }.mkString(" + ")
      val lagsD = (0 until 8).map { k =>
        val w = 1L << (7 - k)
        s"CASE WHEN lag(vm, $k) OVER w IS NOT NULL THEN $w ELSE 0 END"
      }.mkString(" + ")
      s"""
      WITH base AS (
        SELECT user_id AS entity, event_id AS tiebreak, epoch_us(ts) AS ts_us,
               CAST(floor(value * 1000000.0) AS BIGINT) AS vm
        FROM events)
      SELECT entity, ts_us, tiebreak,
             CAST(($lagsN) // ($lagsD) AS BIGINT) AS ewma_micro
      FROM base
      WINDOW w AS (PARTITION BY entity ORDER BY ts_us, tiebreak)"""
    }),
    // Pareto / cumulative-share analysis: customers ranked by exact
    // revenue, running share from the distributed prefix-sum (never a
    // single-task window), top-80% flag crossing-inclusive.
    "q_pareto" -> Query((s, dir) => {
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("entity"))
        .agg(sum(floor(col("o_totalprice") * 1000000.0).cast("long"))
          .as("revenue_micro"))
        .withColumn("neg_rev", -col("revenue_micro"))
      val (run, _, total) = FeatureStore.globalRunningSumWithTotals(
        per, Seq("neg_rev", "entity"), "revenue_micro")
      // shares go through DECIMAL(38): cum * 1e6 overflows BIGINT at
      // large SFs (total revenue micro is already ~1e16)
      run.select(
        col("entity"), col("revenue_micro"),
        col("row_number").as("rank"),
        col("running_sum").as("cum_micro"),
        expr(s"CAST(CAST(running_sum AS DECIMAL(38,0)) * 1000000 div ${total}L AS BIGINT)")
          .as("cum_share_micro"),
        (expr(
          s"CAST(CAST(running_sum - revenue_micro AS DECIMAL(38,0)) * 1000000 div ${total}L AS BIGINT)")
          < 800000L).as("is_top80"))
    }, """
      WITH per AS (
        SELECT o_custkey AS entity,
               CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
                 AS revenue_micro
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(revenue_micro) AS BIGINT) AS t FROM per),
      r AS (
        SELECT entity, revenue_micro,
               row_number() OVER (ORDER BY revenue_micro DESC, entity) AS rank,
               sum(revenue_micro) OVER (ORDER BY revenue_micro DESC, entity
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM per)
      SELECT entity, revenue_micro, CAST(rank AS BIGINT) AS rank,
             CAST(cum AS BIGINT) AS cum_micro,
             CAST(CAST(cum AS HUGEINT) * 1000000 // t AS BIGINT) AS cum_share_micro,
             CAST(cum - revenue_micro AS HUGEINT) * 1000000 // t < 800000 AS is_top80
      FROM r CROSS JOIN tot"""),
    // Join-key skew diagnostic: top-20 heaviest lineitem part keys
    // with share + skew-vs-uniform factors in integer micro-units.
    "q_skew_profile" -> Query((s, dir) =>
      Skew.skewProfile(t(s, dir, "lineitem"), "l_partkey", topK = 20),
      """
      WITH c AS (
        SELECT CAST(l_partkey AS BIGINT) AS key, count(*) AS cnt
        FROM lineitem GROUP BY 1),
      t AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_keys FROM c)
      SELECT key, cnt,
             CAST(cnt * 1000000 // total AS BIGINT) AS share_micro,
             CAST(cnt * n_keys * 1000000 // total AS BIGINT) AS skew_micro
      FROM c CROSS JOIN t
      ORDER BY cnt DESC, key LIMIT 20"""),
    // COUNT(DISTINCT) OVER a trailing RANGE frame: distinct event
    // types per user in the last 24h at every event.
    "q_rolling_distinct" -> Query((s, dir) =>
      Analytics.rollingDistinct(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        trailingUs = 86400000000L),
      // list() over the RANGE frame + list_distinct mirrors Spark's
      // collect_list + array_distinct; counts are frame-content facts,
      // so collection order never shows in the output.
      """
      SELECT user_id AS entity, epoch_us(ts) AS ts_us, event_id AS tiebreak,
             CAST(len(list_distinct(list(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW))) AS BIGINT)
               AS n_distinct
      FROM events"""),
    "q_session_window" -> Query((s, dir) => Analytics.sessionWindows(t(s, dir, "events"), 30),
      """
      WITH f AS (
        SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
               -- strictly greater: SessionWindow merges at the exact
               -- boundary (next.start <= current.end, end inclusive)
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g AS (
        SELECT user_id, value, ts_us,
               CAST(sum(new_sess) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        FROM f)
      SELECT user_id, min(ts_us) AS session_start_us,
             max(ts_us) + 1800000000 AS session_end_us,
             count(*) AS n_events,
             CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM g GROUP BY user_id, sid"""),
    // Market-basket lift over order-blocked part pairs.
    // Segment-pair audience overlap from KMV sketches: union AND
    // intersection cardinalities without a count-distinct join.
    "q_audience_overlap" -> Query((s, dir) =>
      Cardinality.audienceOverlapKmv(
        t(s, dir, "events"), "event_type", "user_id", k = 128),
      """
      WITH h AS (
        SELECT DISTINCT event_type AS seg,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events),
      d AS (SELECT seg, count(*) AS exact_d FROM h GROUP BY seg),
      r AS (SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS rn FROM h),
      sk AS (SELECT seg, list(h ORDER BY h) AS sk FROM r WHERE rn <= 128 GROUP BY seg),
      s AS (SELECT sk.seg, sk.sk, d.exact_d FROM sk JOIN d USING (seg)),
      p AS (
        SELECT a.seg AS seg_a, b.seg AS seg_b, a.sk AS ska, b.sk AS skb,
               a.exact_d AS exact_a, b.exact_d AS exact_b
        FROM s a JOIN s b ON a.seg < b.seg),
      m AS (
        SELECT *, list_sort(list_distinct(list_concat(ska, skb)))[1:128] AS merged
        FROM p),
      e AS (
        SELECT *,
          CASE WHEN len(merged) < 128 THEN CAST(len(merged) AS DOUBLE)
               ELSE (CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
                    / CAST(merged[128] AS DOUBLE) END AS est_union_d,
          CAST(len(list_intersect(list_intersect(merged, ska), skb)) AS DOUBLE)
            / CAST(len(merged) AS DOUBLE) AS jacc
        FROM m)
      SELECT seg_a, seg_b, exact_a, exact_b,
        CAST(floor(CASE WHEN len(ska) < 128 THEN CAST(len(ska) AS DOUBLE)
             ELSE (CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
                  / CAST(ska[128] AS DOUBLE) END) AS BIGINT) AS est_a,
        CAST(floor(CASE WHEN len(skb) < 128 THEN CAST(len(skb) AS DOUBLE)
             ELSE (CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
                  / CAST(skb[128] AS DOUBLE) END) AS BIGINT) AS est_b,
        CAST(floor(est_union_d) AS BIGINT) AS est_union,
        CAST(floor(jacc * est_union_d) AS BIGINT) AS est_intersection
      FROM e"""),
    "q_copurchase_lift" -> Query((s, dir) =>
      Analytics.copurchaseLift(t(s, dir, "lineitem"), minCo = 2),
      """
      WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM b),
      supp AS (SELECT pk, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY pk),
      co AS (
        SELECT x.pk AS part_a, y.pk AS part_b, CAST(count(*) AS BIGINT) AS n_co
        FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT part_a, part_b, n_co, sa.s AS n_a, sb.s AS n_b,
             CAST(n_co AS DOUBLE) * n.n_orders / CAST(sa.s * sb.s AS DOUBLE) AS lift
      FROM co
      JOIN supp sa ON sa.pk = part_a
      JOIN supp sb ON sb.pk = part_b
      CROSS JOIN n"""),
    // Z-order layout: Morton-interleaved (custkey, day) codes cut into
    // buckets, with the per-bucket min/max envelopes a table format
    // would store per file for multi-dimensional pruning.
    "q_zorder_layout" -> Query((s, dir) =>
      Analytics.zorderLayout(t(s, dir, "orders"), bucketShift = 16), zorderOracleSql),
    // Space snapshot diff: added/removed/changed/same per key between
    // two frozen versions (label bump on every 10th key = 'changed').
    "emb_space_diff" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_spaces_diff"
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
      graft.sources.Spaces.delete(s, root, "vectors")
      val v1 = graft.sources.Spaces.freeze(emb.where(col("vec_id") < 300), root, "vectors")
      val v2 = graft.sources.Spaces.freeze(
        emb.where(col("vec_id") >= 100)
          .withColumn(
            "label",
            when(col("vec_id") % 10 === 0, col("label") + 1).otherwise(col("label"))),
        root, "vectors")
      graft.sources.Spaces.diff(
        graft.sources.Spaces.load(s, root, "vectors", Some(v1)),
        graft.sources.Spaces.load(s, root, "vectors", Some(v2)),
        "vec_id", Seq("label", "embedding"))
    }, """
      WITH v1 AS (SELECT vec_id, label FROM embeddings WHERE vec_id < 300),
      v2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 10 = 0 THEN label + 1 ELSE label END AS label
        FROM embeddings WHERE vec_id >= 100)
      SELECT coalesce(v1.vec_id, v2.vec_id) AS vec_id,
             CASE WHEN v1.vec_id IS NULL THEN 'added'
                  WHEN v2.vec_id IS NULL THEN 'removed'
                  WHEN v1.label = v2.label THEN 'same'
                  ELSE 'changed' END AS status
      FROM v1 FULL JOIN v2 ON v1.vec_id = v2.vec_id"""),
    "q_events_pivot" -> Query((s, dir) =>
      Analytics.eventPivot(
        t(s, dir, "events"), Seq("click", "view", "purchase", "signup", "error"))
        .withColumnRenamed("user_id", "entity"),
      """
      SELECT user_id AS entity,
             count(*) FILTER (WHERE event_type = 'click') AS click,
             count(*) FILTER (WHERE event_type = 'view') AS "view",
             count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS signup,
             count(*) FILTER (WHERE event_type = 'error') AS "error"
      FROM events GROUP BY user_id"""),
    "q_rollup" -> Query((s, dir) =>
      Analytics.rollupBalances(
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region")),
      """
      SELECT r_name, n_name, count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)"""),
    "q_cube" -> Query((s, dir) =>
      Analytics.cubeBalances(
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region")),
      """
      SELECT r_name, c_mktsegment,
             CAST(grouping_id(r_name, c_mktsegment) AS BIGINT) AS gid,
             count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY CUBE (r_name, c_mktsegment)"""),
    "q_grouping_sets" -> Query((s, dir) =>
      Analytics.groupingSetsBalances(
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region")),
      """
      SELECT r_name, c_mktsegment,
             CAST(grouping_id(r_name, c_mktsegment) AS BIGINT) AS gid,
             count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))"""),
    "q_unpivot" -> Query((s, dir) =>
      Analytics.unpivotEventCounts(
        t(s, dir, "events"), Seq("click", "view", "purchase", "signup", "error")),
      """
      WITH t(event_type) AS (
        VALUES ('click'), ('view'), ('purchase'), ('signup'), ('error')),
      u AS (SELECT DISTINCT user_id FROM events),
      c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2)
      SELECT u.user_id AS entity, t.event_type,
             CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
      FROM u CROSS JOIN t
      LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type"""),
    "q_percentiles" -> Query((s, dir) => Analytics.orderPercentiles(t(s, dir, "orders")),
      """
      SELECT o_orderpriority,
             round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
             round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
             count(*) AS n
      FROM orders GROUP BY o_orderpriority"""),
    // Histogram-sketch quantiles — the driver-verifiable approximate
    // percentile (power-of-two bin width => exact IEEE interpolation).
    "q_hist_quantiles" -> Query((s, dir) =>
      Analytics.histogramQuantiles(
        t(s, dir, "orders"), "o_orderpriority", "o_totalprice",
        lo = 0.0, width = 128.0, nBins = 8192, qs = Seq(0.25, 0.5, 0.75, 0.95)),
      """
      WITH hist AS (
        SELECT o_orderpriority,
               CAST(least(greatest(floor((CAST(o_totalprice AS DOUBLE) - 0.0::DOUBLE)
                      / 128.0::DOUBLE), 0.0::DOUBLE), 8191.0::DOUBLE) AS BIGINT) AS bin,
               count(*) AS cnt
        FROM orders GROUP BY 1, 2),
      cum AS (
        SELECT o_orderpriority, bin, cnt,
               sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) - cnt AS cum_before,
               sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
        FROM hist),
      qs AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE, 0.95::DOUBLE]) AS q)
      SELECT o_orderpriority, q, bin, cnt,
             CAST(cum_before AS BIGINT) AS cum_before, CAST(n AS BIGINT) AS n,
             0.0::DOUBLE + 128.0::DOUBLE * (CAST(bin AS DOUBLE) +
               (q * CAST(n AS DOUBLE) - CAST(cum_before AS DOUBLE)) / CAST(cnt AS DOUBLE))
               AS est_value
      FROM cum CROSS JOIN qs
      WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
        AND CAST(cum_before AS DOUBLE) < q * CAST(n AS DOUBLE)"""),
    "q_json_extract" -> Query((s, dir) => Analytics.jsonExtract(t(s, dir, "events")),
      """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type"""),
    "q7_volume_shipping" -> Query((s, dir) =>
      Analytics.q7VolumeShipping(s, dir, "NATION_3", "NATION_19"),
      s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_3', 'NATION_19')
        AND n2.n_name IN ('NATION_3', 'NATION_19')
        AND n1.n_name <> n2.n_name
      GROUP BY n1.n_name, n2.n_name, year(l_shipdate)"""),
    "q8_market_share" -> Query((s, dir) =>
      Analytics.q8MarketShare(s, dir, "ASIA", "ECONOMY", "NATION_3"),
      s"""
      SELECT year(o_orderdate) AS o_year,
             CAST(CAST(sum(CASE WHEN n2.n_name = 'NATION_3' THEN $disc
                                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE) /
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS mkt_share
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      GROUP BY year(o_orderdate)"""),
    "q9_product_profit" -> Query((s, dir) =>
      Analytics.q9ProductProfit(s, dir, "widget"),
      s"""
      SELECT n_name AS nation, year(l_shipdate) AS o_year,
             CAST(CAST(sum($disc - CAST(p_retailprice AS DECIMAL(18,4)) *
                                   CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
               AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
      GROUP BY n_name, year(l_shipdate)"""),
    "q13_order_distribution" -> Query((s, dir) =>
      Analytics.q13CustomerDistribution(t(s, dir, "customer"), t(s, dir, "orders")),
      """
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      GROUP BY c_count"""),
    "q14_promo_share" -> Query((s, dir) =>
      Analytics.q14PromoRevenue(t(s, dir, "lineitem"), t(s, dir, "part"), "1996-03-01"),
      s"""
      SELECT 100.0 *
             CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN $disc
                                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE) /
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS promo_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate < TIMESTAMP '1996-03-01' + INTERVAL 1 MONTH"""),
    "q15_top_supplier" -> Query((s, dir) =>
      Analytics.q15TopSupplier(t(s, dir, "lineitem"), t(s, dir, "supplier"), "1996-01-01"),
      s"""
      WITH rev AS (
        SELECT l_suppkey,
               CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01' + INTERVAL 3 MONTH
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"""),
    "q16_supplier_breadth" -> Query((s, dir) =>
      Analytics.q16SupplierPartCount(
        t(s, dir, "lineitem"), t(s, dir, "part"), "Brand#13", Seq(1, 5, 10, 15, 20, 25, 30, 35)),
      """
      SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#13' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      GROUP BY p_brand, p_type, p_size"""),
    "q17_small_qty_revenue" -> Query((s, dir) =>
      Analytics.q17SmallQuantityRevenue(t(s, dir, "lineitem"), t(s, dir, "part"), "Brand#13"),
      """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#13'
        AND l_quantity < (
          SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) * 0.5
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""),
    "q18_large_orders" -> Query((s, dir) =>
      Analytics.q18LargeOrders(
        t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"), minQty = 300),
      """
      SELECT c_name, c_custkey, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
             o_totalprice, sum_qty
      FROM (
        SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 300) big
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey"""),
    "q19_disjunctive" -> Query((s, dir) =>
      Analytics.q19DisjunctiveRevenue(t(s, dir, "lineitem"), t(s, dir, "part")),
      s"""
      SELECT CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
         OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)"""),
    "q20_promotion_suppliers" -> Query((s, dir) =>
      Analytics.q20PartPromotionSuppliers(s, dir, "blue", "1996-01-01", minQty = 30),
      """
      SELECT s_suppkey, s_name, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01' + INTERVAL 1 YEAR
        GROUP BY l_suppkey
        HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 30)"""),
    "q21_waiting_supplier" -> Query((s, dir) =>
      Analytics.q21WaitingSupplier(
        t(s, dir, "orders"), t(s, dir, "lineitem"), t(s, dir, "supplier")),
      """
      WITH sm AS (
        SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY l_orderkey, l_suppkey),
      om AS (
        SELECT l_orderkey, max(supp_last) AS order_last, count(*) AS n_supp
        FROM sm GROUP BY l_orderkey)
      SELECT s_name, count(*) AS numwait
      FROM sm
      JOIN om USING (l_orderkey)
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE n_supp >= 2 AND supp_last = order_last
      GROUP BY s_name"""),
    "q22_dormant_customers" -> Query((s, dir) =>
      Analytics.q22DormantCustomers(
        t(s, dir, "customer"), t(s, dir, "orders"), "1999-01-01"),
      """
      SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, count(*) AS numcust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
      FROM customer
      WHERE c_acctbal > (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
          FROM customer WHERE c_acctbal > 0)
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01')
      GROUP BY c_nationkey"""),
    "q2_min_cost_supplier" -> Query((s, dir) =>
      Analytics.q2MinCostSupplier(
        t(s, dir, "part"), t(s, dir, "supplier"), t(s, dir, "nation"),
        t(s, dir, "region"), t(s, dir, "lineitem"), maxSize = 3, regionName = "ASIA"),
      """
      WITH parts AS (
        SELECT p_partkey, p_name FROM part WHERE p_size <= 3),
      rs AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
      cost AS (
        SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
               min(l_extendedprice / l_quantity) AS supply_cost
        FROM lineitem
        JOIN parts ON l_partkey = p_partkey
        JOIN rs ON l_suppkey = s_suppkey
        GROUP BY 1, 2, 3, 4, 5, 6),
      mc AS (
        SELECT p_partkey AS mk, min(supply_cost) AS min_cost FROM cost GROUP BY 1)
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
      FROM cost JOIN mc ON p_partkey = mk AND supply_cost = min_cost"""),
    "q11_important_parts" -> Query((s, dir) =>
      Analytics.q11ImportantParts(
        t(s, dir, "supplier"), t(s, dir, "nation"), t(s, dir, "lineitem"),
        nationName = "NATION_12", fraction = 0.0002),
      """
      WITH supp AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_12'),
      pp AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) AS pv
        FROM lineitem JOIN supp ON l_suppkey = s_suppkey
        GROUP BY l_partkey)
      SELECT l_partkey, CAST(pv AS DOUBLE) AS part_value
      FROM pp
      WHERE CAST(pv AS DOUBLE) > (SELECT CAST(sum(pv) AS DOUBLE) FROM pp) * 0.0002"""),
    "q_anti_semi_join" -> Query((s, dir) =>
      Analytics.antiSemiCounts(t(s, dir, "customer"), t(s, dir, "orders")),
      """
      SELECT c_mktsegment,
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_no_orders,
             count(*) FILTER (WHERE EXISTS (
               SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders
      FROM customer GROUP BY c_mktsegment"""),
    // Ordered conversion funnel: users reaching each stage strictly
    // after their earliest previous-stage event.
    "q_funnel" -> Query((s, dir) =>
      Analytics.funnel(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")),
      """
      WITH s0 AS (
        SELECT user_id AS u, min(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      s1 AS (
        SELECT e.user_id AS u, min(e.ts) AS t
        FROM events e JOIN s0 ON e.user_id = s0.u
        WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY e.user_id),
      s2 AS (
        SELECT e.user_id AS u, min(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.u
        WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id)
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s0
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'click', count(*) FROM s1
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'purchase', count(*) FROM s2"""),
    // Set operations: nations having suppliers INTERSECT/EXCEPT nations
    // having customers (DataFrame intersect/except == SQL INTERSECT/EXCEPT).
    "q_set_ops" -> Query((s, dir) => {
      val suppNations = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val custNations = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val both = suppNations.intersect(custNations)
        .select(col("nationkey"), lit("both").as("which"))
      val custOnly = custNations.except(suppNations)
        .select(col("nationkey"), lit("cust_only").as("which"))
      both.unionByName(custOnly)
    }, """
      SELECT nationkey, 'both' AS which FROM (
        SELECT s_nationkey AS nationkey FROM supplier
        INTERSECT
        SELECT c_nationkey FROM customer)
      UNION ALL
      SELECT nationkey, 'cust_only' AS which FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier)"""),
    // Salted-join correctness at query level: result must equal the
    // plain equi-join (which IS the oracle).
    // RFM customer-value segmentation: exact quartile scores over
    // (metric, entity) total orders via the distributed prefix-sum
    // ranking — no single-task global window.
    "q_rfm_segments" -> Query((s, dir) =>
      Analytics.rfmSegments(
        t(s, dir, "events"), "user_id", "event_type", "ts", "value", "purchase"),
      {
      // shared ntile-by-formula: big-groups-first split on an exact
      // integer rank (mirrors Analytics.rfmSegments.ntileOf literally)
      def sc(dim: String) = s"""
        SELECT entity,
               CASE WHEN rn <= (n % 4) * (n // 4 + 1)
                    THEN (rn - 1) // (n // 4 + 1)
                    ELSE (n % 4) + (rn - (n % 4) * (n // 4 + 1) - 1) // (n // 4)
               END + 1 AS score
        FROM (SELECT entity, row_number() OVER (ORDER BY $dim, entity) AS rn FROM per)
        CROSS JOIN nn"""
      s"""
      WITH per AS (
        SELECT user_id AS entity, max(epoch_us(ts)) AS last_ts_us,
               count(*) AS frequency,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      nn AS (SELECT count(*) AS n FROM per),
      rs AS (${sc("last_ts_us")}),
      fs AS (${sc("frequency")}),
      ms AS (${sc("monetary")})
      SELECT per.entity, frequency, monetary,
             CAST(rs.score AS BIGINT) AS r_score,
             CAST(fs.score AS BIGINT) AS f_score,
             CAST(ms.score AS BIGINT) AS m_score
      FROM per
      JOIN rs ON rs.entity = per.entity
      JOIN fs ON fs.entity = per.entity
      JOIN ms ON ms.entity = per.entity"""
    }),
    // Pareto frontier over parts: cheapest price for each size tier —
    // skyline via distinct-x maxima + prefix-max, never the quadratic
    // join (which IS the oracle's semantic definition).
    "q_skyline" -> Query((s, dir) =>
      Analytics.skyline2d(
        t(s, dir, "part"), "p_partkey", "p_retailprice", "p_size"),
      """
      WITH t AS (
        SELECT p_partkey AS id, CAST(p_retailprice AS DOUBLE) AS x,
               CAST(p_size AS DOUBLE) AS y
        FROM part)
      SELECT id, x, y FROM t p
      WHERE NOT EXISTS (
        SELECT 1 FROM t q
        WHERE q.x <= p.x AND q.y >= p.y AND (q.x < p.x OR q.y > p.y))"""),
    // Week-over-week volume movers per event type: all-integer lag
    // deltas with a micro-unit pct change — the trend readout.
    "q_week_over_week" -> Query((s, dir) => {
      val weekly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("week", col("ts")).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      weekly
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .select(
          col("event_type"), unix_micros(col("week")).as("week_us"),
          col("n"), col("prev_n"),
          expr("((n - prev_n) * 1000000) div prev_n").as("delta_pct_micro"))
    }, """
      WITH weekly AS (
        SELECT event_type, epoch_us(date_trunc('week', ts)) AS week_us, count(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT event_type, week_us, n,
             lag(n, 1) OVER (PARTITION BY event_type ORDER BY week_us) AS prev_n,
             ((n - lag(n, 1) OVER (PARTITION BY event_type ORDER BY week_us)) * 1000000)
               // lag(n, 1) OVER (PARTITION BY event_type ORDER BY week_us)
               AS delta_pct_micro
      FROM weekly"""),
    // Time-bounded funnel (windowFunnel): click→view→purchase chains
    // completed within 1 day of the first click, earliest-greedy.
    "q_funnel_window" -> Query((s, dir) =>
      Analytics.windowFunnel(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("click", "view", "purchase"), windowUs = 86400000000L),
      """
      WITH base AS (
        SELECT user_id AS entity, event_type AS etype, epoch_us(ts) AS ts_us FROM events),
      s1 AS (SELECT entity, min(ts_us) AS t1 FROM base WHERE etype = 'click' GROUP BY entity),
      s2 AS (
        SELECT s1.entity, t1, min(CASE WHEN b.ts_us > t1 THEN b.ts_us END) AS t2
        FROM s1 LEFT JOIN base b ON b.entity = s1.entity AND b.etype = 'view'
        GROUP BY s1.entity, t1),
      s3 AS (
        SELECT s2.entity, t1, t2, min(CASE WHEN b.ts_us > t2 THEN b.ts_us END) AS t3
        FROM s2 LEFT JOIN base b ON b.entity = s2.entity AND b.etype = 'purchase'
        GROUP BY s2.entity, t1, t2),
      d AS (
        SELECT entity,
               CASE WHEN t3 IS NOT NULL AND t3 - t1 <= 86400000000 THEN 3
                    WHEN t2 IS NOT NULL AND t2 - t1 <= 86400000000 THEN 2
                    ELSE 1 END AS depth
        FROM s3)
      SELECT CAST(1 AS BIGINT) AS stage_idx, count(*) AS n_users FROM d WHERE depth >= 1
      UNION ALL
      SELECT CAST(2 AS BIGINT), count(*) FROM d WHERE depth >= 2
      UNION ALL
      SELECT CAST(3 AS BIGINT), count(*) FROM d WHERE depth >= 3"""),
    // Funnel stage-transition latency: exact integer min/mean/max of
    // t_n - t_{n-1} for in-window conversions, per adjacent stage.
    "q_funnel_latency" -> Query((s, dir) =>
      Analytics.funnelStageLatency(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("click", "view", "purchase"), windowUs = 86400000000L),
      """
      WITH base AS (
        SELECT user_id AS entity, event_type AS etype, epoch_us(ts) AS ts_us FROM events),
      s1 AS (SELECT entity, min(ts_us) AS t1 FROM base WHERE etype = 'click' GROUP BY entity),
      s2 AS (
        SELECT s1.entity, t1, min(CASE WHEN b.ts_us > t1 THEN b.ts_us END) AS t2
        FROM s1 LEFT JOIN base b ON b.entity = s1.entity AND b.etype = 'view'
        GROUP BY s1.entity, t1),
      s3 AS (
        SELECT s2.entity, t1, t2, min(CASE WHEN b.ts_us > t2 THEN b.ts_us END) AS t3
        FROM s2 LEFT JOIN base b ON b.entity = s2.entity AND b.etype = 'purchase'
        GROUP BY s2.entity, t1, t2)
      SELECT CAST(1 AS BIGINT) AS stage_from, CAST(2 AS BIGINT) AS stage_to,
             count(*) AS n,
             CAST(sum(t2 - t1) // count(*) AS BIGINT) AS mean_us,
             min(t2 - t1) AS min_us, max(t2 - t1) AS max_us
      FROM s3 WHERE t2 IS NOT NULL AND t2 - t1 <= 86400000000
      HAVING count(*) > 0
      UNION ALL
      SELECT 2, 3, count(*),
             CAST(sum(t3 - t2) // count(*) AS BIGINT),
             min(t3 - t2), max(t3 - t2)
      FROM s3 WHERE t3 IS NOT NULL AND t3 - t1 <= 86400000000
      HAVING count(*) > 0"""),
    // Experimentation readout: deterministic md5 A/B split of users,
    // two-proportion z on purchase conversion, micro-unit fixed point.
    "q_ab_test_zscore" -> Query((s, dir) =>
      Analytics.abTestZScore(
        t(s, dir, "events"), "user_id",
        col("event_type") === "purchase" && col("value") > 90, seed = 11L),
      """
      WITH conv AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END)
                 AS conv
        FROM events GROUP BY user_id),
      per AS (
        SELECT ('0x' || substr(md5('11:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
                 AS variant,
               conv
        FROM conv),
      agg AS (SELECT variant, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c
              FROM per GROUP BY variant),
      a AS (SELECT n AS n_a, c AS conv_a FROM agg WHERE variant = 0),
      b AS (SELECT n AS n_b, c AS conv_b FROM agg WHERE variant = 1)
      SELECT n_a, conv_a, n_b, conv_b,
        CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                       * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                       * (1.0 / n_a + 1.0 / n_b)) > 0 THEN
          CAST(floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
            / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 / n_a + 1.0 / n_b))
            * 1000000.0) AS BIGINT)
        END AS z_micro
      FROM a CROSS JOIN b"""),
    "q_skew_salted_join" -> Query((s, dir) =>
      Skew
        .saltedJoin(
          t(s, dir, "events").select(col("user_id").as("c_custkey"), col("value")),
          t(s, dir, "customer"), "c_custkey", salts = 8, saltBy = col("value"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value")),
      """
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment"""),
    // Bucketed-layout join: both sides hash-bucketed + sorted on the
    // join key at write time, so the recurring entity join runs with no
    // per-query exchange (shuffle-free plan spec-verified in
    // SourcesSpec); the oracle checks the result over the raw parquet.
    "source_bucketed_join" -> Query((s, dir) => {
      Tables.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        "orders_bkt", Seq("o_custkey"), 8)
      Tables.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "customer_bkt", Seq("c_custkey"), 8)
      val o = s.table("orders_bkt")
      val c = s.table("customer_bkt")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_spend"))
    }, """
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment"""),
    // Source round-trip: register a CSV copy of a table and query it —
    // the oracle reads the original parquet.
    "source_csv_roundtrip" -> Query((s, dir) => {
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_csv_nation"
      t(s, dir, "nation").write.mode("overwrite").option("header", "true").csv(tmp)
      Tables
        .registerPrimary(s, "nation_csv", tmp, "csv",
          expectedSchema = Some(t(s, dir, "nation").schema))
        .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_name"))
    }, """
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n_nations,
             min(n_name) AS first_name
      FROM nation GROUP BY n_regionkey"""),
    // JSON-lines source registration round-trip (the third leg of the
    // source matrix beside CSV and the ORC spec): explicit schema (no
    // inference pass over the corpus — the 100 TB requirement), same
    // region profile oracle as the CSV leg's nation profile.
    "source_jsonl_roundtrip" -> Query((s, dir) => {
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_jsonl_customer"
      val cust = t(s, dir, "customer")
      cust.write.mode("overwrite").json(tmp)
      Tables
        .registerPrimary(s, "customer_jsonl", tmp, "json",
          expectedSchema = Some(cust.schema))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("balance"))
    }, """
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      FROM customer GROUP BY c_mktsegment"""),
    // JDBC warehouse round-trip — the reference's primary deployment
    // substrate is SQL warehouses (provider/postgres.go:166,
    // snowflake.go, bigquery.go:444): export supplier to an embedded
    // Derby database over spark.write.jdbc, register it back as a
    // PARALLEL partitioned JDBC scan (4 range-predicated connections
    // on s_suppkey — the JDBC fact-table contract), and profile it.
    // The oracle reads the original parquet.
    "source_jdbc_roundtrip" -> Query((s, dir) => {
      val url =
        "jdbc:derby:" + System.getProperty("java.io.tmpdir") + "/graft_derby;create=true"
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      Tables.writeJdbc(sup, url, "supplier_wh")
      Tables
        .registerJdbc(
          s, "supplier_wh", url, "supplier_wh",
          partitionCol = Some("s_suppkey"),
          lowerBound = 0L, upperBound = 1000000L, numPartitions = 4)
        .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
        .agg(
          count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("balance"),
          min(col("s_name")).as("first_name"))
    }, """
      SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n_suppliers,
             CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance,
             min(s_name) AS first_name
      FROM supplier GROUP BY s_nationkey"""),
    // Hive-style partitioned layout round-trip: events written
    // partitionBy(event_date), read back with a single-day predicate.
    // The date filter resolves at PLANNING time against directory
    // names (PartitionFilters, spec-asserted) — the scan reads 1 of 30
    // day directories, the 100 TB first-line defense before zone maps
    // or bucketing. Day profile per event_type; decimal-exact spend.
    "source_partitioned_prune" -> Query((s, dir) => {
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_part_events"
      Tables.writePartitioned(
        t(s, dir, "events").withColumn("event_date", to_date(col("ts"))),
        tmp, Seq("event_date"))
      s.read.parquet(tmp)
        .where(col("event_date") === lit("2024-01-10").cast("date"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("spend"))
    }, """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS spend
      FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-10'
      GROUP BY event_type"""),
    // WebDataset tar-shard training export (operators.WdsShards): the
    // dataloader-facing last mile past the reference's parquet/CSV
    // materialization exports (provider/offline.go's materialization
    // iterators stop at tabular files). Division-packed 1 MiB shards
    // over doc_id order; every manifest stat is re-derived from the
    // PARSED artifact bytes (header checksums, member names/sizes,
    // payload CRCs vs the source strings), so the formula oracle and
    // the tar file meet only at the POSIX-ustar format — the
    // hnswlib-export gate discipline. 256 KiB target = multi-shard at
    // every driver SF (~2 KiB archived cost per sample); a production
    // export sets ~1 GiB.
    "sink_wds_shards" -> Query((s, dir) =>
      WdsShards.exportStats(t(s, dir, "documents"), "doc_id", "text", "lang",
        targetBytes = 256L * 1024),
      """
      WITH sized AS (
        SELECT doc_id, strlen(text) AS tb, strlen(lang) AS cb,
               1024 + ((strlen(text) + 511) // 512) * 512
                    + ((strlen(lang) + 511) // 512) * 512 AS tar_bytes
        FROM documents),
      cum AS (
        SELECT doc_id, tb, cb, tar_bytes,
               sum(tar_bytes) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
        FROM sized)
      SELECT CAST((rs - tar_bytes) // 262144 AS BIGINT) AS shard_id,
             count(*) AS n_samples,
             CAST(sum(tb + cb) AS BIGINT) AS payload_bytes,
             CAST(sum(tar_bytes) + 1024 AS BIGINT) AS file_bytes,
             CAST(min(doc_id) AS BIGINT) AS min_doc_id,
             CAST(max(doc_id) AS BIGINT) AS max_doc_id,
             CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids,
             TRUE AS payload_ok
      FROM cum GROUP BY 1"""),
    // Lakehouse round-trip (the reference Spark runner's Iceberg/Delta
    // registration path, offline_store_spark_runner.py:193/213,
    // re-expressed on graft's own JSON-commit-log format): commit
    // nation as v1, append a shifted slice as v2, then profile BOTH the
    // pinned v1 snapshot (time travel) and the latest through the log.
    // The oracle recomputes both snapshots from the raw parquet.
    "source_lakehouse_roundtrip" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake"
      val tablePath = new org.apache.hadoop.fs.Path(s"$root/nation_lake")
      val fsys = tablePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tablePath)) fsys.delete(tablePath, true) // fresh table per run
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      val v1 = Lakehouse.commit(nation, root, "nation_lake", "overwrite")
      Lakehouse.commit(
        nation.where(col("n_regionkey") === 0)
          .select((col("n_nationkey") + 100L).as("n_nationkey"), col("n_regionkey")),
        root, "nation_lake", "append")
      def profile(tag: String, df: DataFrame): DataFrame =
        df.groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("sum_key"))
          .withColumn("snap", lit(tag))
      profile("v1", Lakehouse.read(s, root, "nation_lake", Some(v1)))
        .unionByName(profile("latest", Lakehouse.read(s, root, "nation_lake")))
    }, """
      WITH latest AS (
        SELECT n_nationkey, n_regionkey FROM nation
        UNION ALL
        SELECT n_nationkey + 100, n_regionkey FROM nation WHERE n_regionkey = 0)
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
             CAST(sum(n_nationkey) AS BIGINT) AS sum_key, 'v1' AS snap
      FROM nation GROUP BY n_regionkey
      UNION ALL
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
             CAST(sum(n_nationkey) AS BIGINT) AS sum_key, 'latest' AS snap
      FROM latest GROUP BY n_regionkey"""),
    // Write-Audit-Publish: a clean batch passes the contract and
    // publishes zero-copy; a corrupted batch (negated region keys)
    // fails the audit and must leave the main table UNTOUCHED — the
    // profile equals the clean batch, proving the gate held.
    "lake_write_audit_publish" -> Query((s, dir) => {
      import graft.operators.FeatureStore.ContractCheck
      val root = System.getProperty("java.io.tmpdir") + "/graft_wap"
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fsys = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(rootPath)) fsys.delete(rootPath, true) // fresh per run
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      val checks = Seq(
        ContractCheck.NotNull("n_nationkey"),
        ContractCheck.InRange("n_regionkey", 0, 4),
        ContractCheck.Unique("n_nationkey"))
      val (v1, _) = Lakehouse.writeAuditPublish(
        nation, root, "nation_wap", "overwrite", checks)
      require(v1.nonEmpty, "clean batch must publish")
      val bad = nation.withColumn("n_regionkey", -col("n_regionkey") - 1L)
      val (v2, _) = Lakehouse.writeAuditPublish(
        bad, root, "nation_wap", "overwrite", checks)
      require(v2.isEmpty, "corrupted batch must NOT publish")
      Lakehouse.read(s, root, "nation_wap")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("sum_key"))
    }, """
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
             CAST(sum(n_nationkey) AS BIGINT) AS sum_key
      FROM nation GROUP BY n_regionkey"""),
    // MERGE INTO on the lakehouse format (Delta/Iceberg upsert
    // statement; the reference registers feature tables into exactly
    // these formats — offline_store_spark_runner.py:193/213): orders
    // range-clustered by key, then ONE merge carrying updates
    // (k%100==0, price doubled), inserts (k%100==2, key shifted +1e9)
    // and deletes (k%100==1). Zone-map pruning rewrites only files the
    // delta touches; profiled per status class so updated / inserted /
    // surviving rows all land in the hash.
    "lake_merge_into" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_merge"
      val tp = new org.apache.hadoop.fs.Path(s"$root/orders_lake")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val base = t(s, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      Lakehouse.commitClustered(base, root, "orders_lake", "overwrite", "k", 8)
      val upd = base.where(col("k") % 100 === 0)
        .select(col("k"), (col("price") * 2).as("price"), lit("U").as("status"))
      val ins = base.where(col("k") % 100 === 2)
        .select((col("k") + 1000000000L).as("k"), col("price"), lit("N").as("status"))
      val del = base.where(col("k") % 100 === 1)
        .select(col("k"), col("price"), lit("D").as("status"))
      Lakehouse.merge(
        s, root, "orders_lake", upd.unionByName(ins).unionByName(del),
        "k", deleteWhen = Some(col("status") === "D"))
      Lakehouse.read(s, root, "orders_lake")
        .groupBy(col("status"))
        .agg(
          count(lit(1)).as("n"),
          decSumD(col("price")).as("total"),
          sum(col("k")).as("sum_keys"))
    }, """
      WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
        FROM orders),
      merged AS (
        SELECT k, price, status FROM base WHERE k % 100 NOT IN (0, 1)
        UNION ALL
        SELECT k, price * 2 AS price, 'U' AS status FROM base WHERE k % 100 = 0
        UNION ALL
        SELECT k + 1000000000 AS k, price, 'N' AS status FROM base WHERE k % 100 = 2)
      SELECT status, count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total,
             CAST(sum(k) AS BIGINT) AS sum_keys
      FROM merged GROUP BY status"""),
    // Reproducible training — the "what did we know then" guarantee:
    // materialize features from the PINNED v1 snapshot (unchanged
    // after late events land in v2) vs from the latest snapshot, and
    // count the entities whose feature value the late data moved.
    // Pinning the table version IS the training-set reproducibility
    // mechanism (no copy of the data needed).
    "lake_reproducible_training" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_repro"
      val tp = new org.apache.hadoop.fs.Path(s"$root/ev")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val ev = t(s, dir, "events").select(
        col("user_id").as("entity"), col("value"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val v1 = Lakehouse.commit(
        ev.where(col("event_id") % 4 =!= 3), root, "ev", "overwrite")
      Lakehouse.commit(ev.where(col("event_id") % 4 === 3), root, "ev", "append")
      def mat(df: DataFrame): DataFrame =
        df.groupBy(col("entity"))
          .agg(max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("value"))
      val pinned = mat(Lakehouse.read(s, root, "ev", Some(v1)))
      val latest = mat(Lakehouse.read(s, root, "ev"))
      def profile(tag: String, df: DataFrame): DataFrame =
        df.agg(
          count(lit(1)).as("n"),
          decSum6D(col("value")).as("total"))
          .withColumn("snap", lit(tag))
      val changed = pinned.as("p")
        .join(latest.as("l"), Seq("entity"))
        .where(col("p.value") =!= col("l.value"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", lit(null).cast("double"))
        .withColumn("snap", lit("changed"))
      profile("v1", pinned).unionByName(profile("latest", latest)).unionByName(changed)
    }, """
      WITH base AS (
        SELECT user_id AS entity, value, epoch_us(ts) AS ts_us, event_id FROM events),
      pinned AS (
        SELECT entity, value FROM (
          SELECT entity, value, row_number() OVER (
            PARTITION BY entity ORDER BY ts_us DESC, event_id DESC) AS rn
          FROM base WHERE event_id % 4 <> 3) WHERE rn = 1),
      latest AS (
        SELECT entity, value FROM (
          SELECT entity, value, row_number() OVER (
            PARTITION BY entity ORDER BY ts_us DESC, event_id DESC) AS rn
          FROM base) WHERE rn = 1)
      SELECT count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
             'v1' AS snap FROM pinned
      UNION ALL
      SELECT count(*), CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 'latest'
      FROM latest
      UNION ALL
      SELECT count(*), CAST(NULL AS DOUBLE), 'changed'
      FROM pinned p JOIN latest l USING (entity) WHERE p.value <> l.value"""),
    // DELETE WHERE on the lakehouse (GDPR erasure path): clustered by
    // key, predicate bounded to keys <= 30000 with a matching prune
    // hint — files above the range are re-referenced untouched.
    "lake_delete_where" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_del"
      val tp = new org.apache.hadoop.fs.Path(s"$root/orders_lake")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val base = t(s, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      Lakehouse.commitClustered(base, root, "orders_lake", "overwrite", "k", 8)
      Lakehouse.deleteWhere(
        s, root, "orders_lake",
        col("k") % 10 === 3 && col("k") <= 30000,
        prune = Some(("k", 0.0, 30000.0)))
      Lakehouse.read(s, root, "orders_lake")
        .groupBy(col("status"))
        .agg(
          count(lit(1)).as("n"),
          decSumD(col("price")).as("total"),
          sum(col("k")).as("sum_keys"))
    }, """
      WITH kept AS (
        SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
        FROM orders
        WHERE NOT (o_orderkey % 10 = 3 AND o_orderkey <= 30000))
      SELECT status, count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total,
             CAST(sum(k) AS BIGINT) AS sum_keys
      FROM kept GROUP BY status"""),
    // Change data feed (Delta table_changes parity): appends resolve
    // from their own commit dirs (no diff computation); the delete
    // rewrite falls back to the snapshot exceptAll diff.
    "lake_table_changes" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_cdf"
      val tp = new org.apache.hadoop.fs.Path(s"$root/nation_cdf")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val base = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("k"), col("n_regionkey").cast("long").as("r"))
      val v1 = Lakehouse.commit(base, root, "nation_cdf", "overwrite")
      val v2 = Lakehouse.commit(
        base.where(col("r") === 0).select((col("k") + 100L).as("k"), col("r")),
        root, "nation_cdf", "append")
      val v3 = Lakehouse.deleteWhere(s, root, "nation_cdf", col("r") === 1).version
      Lakehouse.tableChanges(s, root, "nation_cdf", v1, v2)
        .withColumn("phase", lit("append"))
        .unionByName(
          Lakehouse.tableChanges(s, root, "nation_cdf", v2, v3)
            .withColumn("phase", lit("delete")))
    }, """
      SELECT CAST(n_nationkey + 100 AS BIGINT) AS k, CAST(n_regionkey AS BIGINT) AS r,
             'insert' AS change_type, 'append' AS phase
      FROM nation WHERE n_regionkey = 0
      UNION ALL
      SELECT CAST(n_nationkey AS BIGINT) AS k, CAST(n_regionkey AS BIGINT) AS r,
             'delete' AS change_type, 'delete' AS phase
      FROM nation WHERE n_regionkey = 1"""),
    // Additive schema evolution: v1 without the comment column, an
    // evolved append WITH it; the merged snapshot nulls the old files'
    // missing column while the pre-evolution snapshot keeps v1's shape.
    "lake_schema_evolution" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_evo"
      val tp = new org.apache.hadoop.fs.Path(s"$root/supplier_lake")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val base = t(s, dir, "supplier").select(
        col("s_suppkey").cast("long").as("k"), col("s_nationkey").cast("long").as("nation"))
      val v1 = Lakehouse.commit(base, root, "supplier_lake", "overwrite")
      Lakehouse.commit(
        t(s, dir, "supplier").select(
          (col("s_suppkey").cast("long") + 100000L).as("k"),
          col("s_nationkey").cast("long").as("nation"),
          col("s_acctbal").cast("double").as("balance")),
        root, "supplier_lake", "append", evolveSchema = true)
      val latest = Lakehouse.read(s, root, "supplier_lake")
        .groupBy(col("nation"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          count(col("balance")).as("n_balance"),
          decSumD(col("balance")).as("sum_balance"))
        .withColumn("snap", lit("evolved"))
      Lakehouse.read(s, root, "supplier_lake", Some(v1))
        .groupBy(col("nation"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          count(lit(null)).as("n_balance"),
          lit(null).cast("double").as("sum_balance"))
        .withColumn("snap", lit("v1"))
        .unionByName(latest)
    }, """
      WITH evolved AS (
        SELECT s_suppkey AS k, s_nationkey AS nation, CAST(NULL AS DOUBLE) AS balance
        FROM supplier
        UNION ALL
        SELECT s_suppkey + 100000, s_nationkey, CAST(s_acctbal AS DOUBLE) FROM supplier)
      SELECT CAST(s_nationkey AS BIGINT) AS nation, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS sum_k,
             CAST(0 AS BIGINT) AS n_balance, CAST(NULL AS DOUBLE) AS sum_balance,
             'v1' AS snap
      FROM supplier GROUP BY s_nationkey
      UNION ALL
      SELECT CAST(nation AS BIGINT) AS nation, count(*) AS n,
             CAST(sum(k) AS BIGINT) AS sum_k,
             count(balance) AS n_balance,
             CAST(sum(CAST(balance AS DECIMAL(18,4))) AS DOUBLE) AS sum_balance,
             'evolved' AS snap
      FROM evolved GROUP BY nation"""),
    // Partition-spec evolution (Iceberg's flagship): early commits
    // clustered on custkey, later commits on totalprice — a pruned
    // multi-predicate read applies each commit's OWN zone maps and
    // stays exactly equal to the plain filtered read.
    "lake_partition_evolution" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_pevo"
      val tp = new org.apache.hadoop.fs.Path(root)
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("c"),
        col("o_totalprice").cast("double").as("p"))
      Lakehouse.commitClustered(
        o.where(col("k") % 2 === 0), root, "orders_pevo", "overwrite", "c", 4)
      Lakehouse.commitClustered(
        o.where(col("k") % 2 === 1), root, "orders_pevo", "append", "p", 4)
      Lakehouse
        .readPrunedMulti(
          s, root, "orders_pevo",
          Seq(("c", 100.0, 500.0), ("p", 0.0, 150000.0)))
        .groupBy((col("c") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
    }, """
      SELECT CAST(o_custkey % 10 AS BIGINT) AS bucket, count(*) AS n,
             CAST(sum(o_orderkey) AS BIGINT) AS sum_k
      FROM orders
      WHERE o_custkey BETWEEN 100 AND 500
        AND o_totalprice BETWEEN 0 AND 150000
      GROUP BY 1"""),
    // Zero-copy shallow clone: the clone commit references the source
    // snapshot's files byte-for-byte, then diverges independently (an
    // append lands only in the clone). Output: both sides tagged.
    "lake_clone" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_clone"
      val tp = new org.apache.hadoop.fs.Path(root)
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh tables per run
      val base = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("k"),
        col("n_name").as("name"),
        col("n_regionkey").cast("long").as("region"))
      Lakehouse.commit(base, root, "nation_lake", "overwrite")
      Lakehouse.shallowClone(s, root, "nation_lake", "nation_dev")
      Lakehouse.commit(
        base.select((col("k") + 100L).as("k"), col("name"), col("region")),
        root, "nation_dev", "append")
      Lakehouse.read(s, root, "nation_lake")
        .withColumn("side", lit("src"))
        .unionByName(Lakehouse.read(s, root, "nation_dev")
          .withColumn("side", lit("clone")))
    }, """
      SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
             CAST(n_regionkey AS BIGINT) AS region, 'src' AS side
      FROM nation
      UNION ALL
      SELECT CAST(n_nationkey AS BIGINT), n_name, CAST(n_regionkey AS BIGINT), 'clone'
      FROM nation
      UNION ALL
      SELECT CAST(n_nationkey AS BIGINT) + 100, n_name, CAST(n_regionkey AS BIGINT), 'clone'
      FROM nation""")
  )
}
