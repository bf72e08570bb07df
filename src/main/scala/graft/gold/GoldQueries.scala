package graft.gold

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.core.Tables
import graft.oracle.OracleSql

/** Gated queries over the gold marts and their TPC-H-shaped companions
  * (`graft.gold`), each with its DuckDB mirror. */
object GoldQueries {
  // ---- gold: LTV / CLV (A1, W1, W2, P8, A8) ----
  val ltvDaily: Gated = Gated("q02_ltv_daily", (s, dir) =>
    Ltv.daily(Conformed.orderRevenueCached(s, dir))
      .orderBy(col("user_id"), col("creation_date")),
    OracleSql.withBase(
      """SELECT user_id, creation_date, daily_revenue, cumulative_ltv
         FROM ltv_cum ORDER BY user_id, creation_date"""))

  // ---- gold: RFM (A2, A3, A4, J3, F2, P9) ----
  val rfm: Gated = Gated("q05_rfm", (s, dir) =>
    Rfm(Conformed.orderRevenueCached(s, dir))
      .orderBy(col("user_id")),
    OracleSql.withBase(
      """rfm AS (
           SELECT user_id,
                  count(DISTINCT order_id) AS frequency,
                  sum(round(total_revenue * 10000)) / 10000.0 AS monetary,
                  max(creation_date) AS last_purchase_date
           FROM order_revenue GROUP BY 1),
         rfm2 AS (
           SELECT user_id, frequency, monetary, last_purchase_date,
                  date_diff('day', last_purchase_date, (SELECT today FROM anchor)) AS recency
           FROM rfm)""",
      """SELECT user_id, frequency, monetary, last_purchase_date, recency,
                CASE WHEN recency <= 15 AND frequency >= 5 AND monetary >= 100 THEN 'VIP'
                     WHEN frequency <= 1 AND recency <= 15 THEN 'New'
                     WHEN recency > 45 AND frequency <= 2 THEN 'Churn Risk'
                     ELSE 'Standard' END AS segment
         FROM rfm2 ORDER BY user_id"""))

  // ---- gold: churn profile (A2, A5, A6, W3, J4, J5, P11, F6, P9) ----
  val churn: Gated = Gated("q06_churn", (s, dir) =>
    Churn(Conformed.orderRevenueCached(s, dir))
      .orderBy(col("user_id")),
    OracleSql.withBase(
      """churn_base AS (
           SELECT user_id, creation_date,
                  round(total_revenue * 10000) AS cents,
                  date_diff('day',
                    lag(creation_date) OVER (PARTITION BY user_id ORDER BY creation_date),
                    creation_date) AS order_gap,
                  (SELECT today FROM anchor) AS today
           FROM order_revenue),
         churn AS (
           SELECT user_id,
                  max(creation_date) AS last_order_date,
                  date_diff('day', max(creation_date), max(today)) AS days_since_last_order,
                  CAST(sum(order_gap) AS DOUBLE) / count(order_gap) AS avg_order_gap_days,
                  COALESCE(sum(CASE WHEN creation_date > today - 30 THEN cents END), 0) / 10000.0
                    AS spend_last_30,
                  COALESCE(sum(CASE WHEN creation_date > today - 60
                                     AND creation_date <= today - 30 THEN cents END), 0) / 10000.0
                    AS spend_prev_30
           FROM churn_base GROUP BY 1)""",
      """SELECT user_id, last_order_date, days_since_last_order, avg_order_gap_days,
                spend_last_30, spend_prev_30,
                CASE WHEN spend_prev_30 = 0 THEN NULL
                     ELSE (spend_last_30 - spend_prev_30) / spend_prev_30 * 100
                END AS pct_spend_change,
                CASE WHEN days_since_last_order > 45 THEN 'At Risk'
                     WHEN days_since_last_order > 30 THEN 'Monitor'
                     ELSE 'Active' END AS churn_risk_tag
         FROM churn ORDER BY user_id"""))

  // ---- gold: sales trends (J6, F1, F4, F5, A9) ----
  val trendsDaily: Gated = Gated("q07_trends_daily", (s, dir) =>
    SalesTrends.daily(Conformed.orderRevenueCached(s, dir))
      .orderBy(col("creation_date"), col("restaurant_id"), col("item_category")),
    OracleSql.withBase(
      """SELECT creation_date, restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS daily_revenue
         FROM order_revenue GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  val all: Seq[Gated] = Seq(
    // ---- silver conform (J2, P10, P4, P12, P15, F6) ----
    // (order_id, lineitem_id) alone is not a total order — the testdata
    // plants duplicate keys with differing payloads (q15 detects them) —
    // so payload tie-breakers make the ordering contract actually hold.
    Gated("q01_order_revenue", (s, dir) =>
      Conformed.orderRevenueCached(s, dir)
        .orderBy(col("order_id"), col("lineitem_id"), col("item_category"),
          col("item_price"), col("restaurant_id")),
      OracleSql.withBase(
        """SELECT * FROM order_revenue
         ORDER BY order_id, lineitem_id, item_category, item_price, restaurant_id""")),
    ltvDaily,
    Gated("q03_ltv_latest", (s, dir) =>
      Ltv.latest(Ltv.daily(Conformed.orderRevenueCached(s, dir)))
        .orderBy(col("user_id")),
      OracleSql.withBase(
        """SELECT user_id, last_date, lifetime_value
         FROM ltv_latest ORDER BY user_id""")),
    Gated("q04_clv_segments", (s, dir) =>
      Ltv.segments(Ltv.latest(Ltv.daily(Conformed.orderRevenueCached(s, dir))))
        .orderBy(col("user_id")),
      OracleSql.withBase(
        """SELECT user_id, lifetime_value,
                CASE WHEN lifetime_value <=
                       (SELECT quantile_cont(lifetime_value, 0.2) FROM ltv_latest) THEN 'Low'
                     WHEN lifetime_value <=
                       (SELECT quantile_cont(lifetime_value, 0.8) FROM ltv_latest) THEN 'Medium'
                     ELSE 'High' END AS clv_segment
         FROM ltv_latest ORDER BY user_id""")),
    rfm,
    churn,
    trendsDaily,
    Gated("q08_trends_weekly", (s, dir) =>
      SalesTrends.weekly(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("year_week"), col("restaurant_id"), col("item_category")),
      OracleSql.withBase(
        """SELECT concat_ws('-', year(creation_date), weekofyear(creation_date)) AS year_week,
                restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS weekly_revenue
         FROM order_revenue GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),
    Gated("q09_trends_monthly", (s, dir) =>
      SalesTrends.monthly(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("year_month"), col("restaurant_id"), col("item_category")),
      OracleSql.withBase(
        """SELECT concat_ws('-', year(creation_date), month(creation_date)) AS year_month,
                restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS monthly_revenue
         FROM order_revenue GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),
    Gated("q10_trends_hourly", (s, dir) =>
      SalesTrends.hourly(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("hour_of_day"), col("restaurant_id"), col("item_category")),
      OracleSql.withBase(
        """SELECT hour(creation_ts) AS hour_of_day, restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS hourly_revenue
         FROM order_revenue GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ---- gold: loyalty impact (J7, J8, A10, P9) ----
    Gated("q11_loyalty", (s, dir) =>
      Loyalty(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("is_loyalty")),
      OracleSql.withBase(
        """loy_flags AS (
           SELECT DISTINCT order_id, user_id, is_loyalty FROM items),
         loy_ltv AS (
           SELECT f.user_id, f.is_loyalty,
                  sum(round(r.total_revenue * 10000)) AS ltv_cents
           FROM (SELECT order_id, total_revenue FROM order_revenue) r
           LEFT JOIN loy_flags f USING (order_id)
           GROUP BY 1, 2),
         loy_orders AS (
           SELECT user_id, is_loyalty,
                  count(DISTINCT order_id) AS num_orders,
                  CASE WHEN count(DISTINCT order_id) > 1 THEN 1 ELSE 0 END AS is_repeat
           FROM items GROUP BY 1, 2),
         loy AS (
           SELECT l.is_loyalty,
                  count(DISTINCT l.user_id) AS num_customers,
                  sum(l.ltv_cents) / 10000.0 AS spend_dollars,
                  CAST(sum(o.is_repeat) AS BIGINT) AS num_repeat_customers
           FROM loy_ltv l JOIN loy_orders o USING (user_id, is_loyalty)
           GROUP BY 1)""",
        """SELECT is_loyalty, num_customers,
                spend_dollars / num_customers AS avg_spend_per_customer,
                num_repeat_customers,
                CAST(num_repeat_customers AS DOUBLE) / num_customers AS repeat_order_rate
         FROM loy ORDER BY is_loyalty""")),

    // ---- gold: location performance (J9, A13, W4) ----
    Gated("q12_location", (s, dir) =>
      Location(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """loc_joined AS (
           SELECT i.restaurant_id, i.order_id,
                  CAST(i.creation_ts AS DATE) AS order_date,
                  weekofyear(CAST(i.creation_ts AS DATE)) AS week,
                  round(r.total_revenue * 10000) AS cents
           FROM items i
           JOIN (SELECT order_id, total_revenue FROM order_revenue) r USING (order_id)),
         loc AS (
           SELECT restaurant_id,
                  sum(cents) / 10000.0 AS total_revenue,
                  count(DISTINCT order_id) AS num_orders,
                  count(DISTINCT order_date) AS active_days,
                  count(DISTINCT week) AS active_weeks
           FROM loc_joined GROUP BY 1)""",
        """SELECT restaurant_id, total_revenue, num_orders, active_days, active_weeks,
                total_revenue / num_orders AS avg_order_value,
                CAST(num_orders AS DOUBLE) / active_days AS orders_per_day,
                CAST(num_orders AS DOUBLE) / active_weeks AS orders_per_week,
                dense_rank() OVER (ORDER BY total_revenue DESC) AS revenue_rank
         FROM loc ORDER BY restaurant_id""")),

    // ---- gold: discount effectiveness (J10, A11, A12, P9) ----
    Gated("q13_discount", (s, dir) =>
      Discount(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("is_discounted_order")),
      OracleSql.withBase(
        """disc_lines AS (
           SELECT i.order_id,
                  CASE WHEN t.option_price < 0 THEN 1 ELSE 0 END AS is_discounted,
                  round(r.total_revenue * 10000) AS cents
           FROM (SELECT order_id, lineitem_id, user_id FROM items) i
           LEFT JOIN (SELECT order_id, lineitem_id, option_price FROM opts) t
             USING (order_id, lineitem_id)
           LEFT JOIN (SELECT order_id, total_revenue FROM order_revenue) r
             USING (order_id)),
         disc_orders AS (
           SELECT order_id,
                  sum(is_discounted) AS discounted_lines,
                  sum(cents) AS order_cents,
                  CASE WHEN sum(is_discounted) > 0 THEN 'Yes' ELSE 'No' END
                    AS is_discounted_order
           FROM disc_lines GROUP BY 1),
         disc AS (
           SELECT is_discounted_order,
                  count(DISTINCT order_id) AS num_orders,
                  sum(order_cents) / 10000.0 AS total_revenue
           FROM disc_orders GROUP BY 1)""",
        """SELECT is_discounted_order, num_orders, total_revenue,
                total_revenue / num_orders AS avg_order_value
         FROM disc ORDER BY is_discounted_order""")),

    // ---- gold: all calendar grains in one pass, rolled up from daily
    // partials (A9; Expand-free — GROUPING SETS variant spec-pinned equal) ----
    Gated("q31_trends_multigrain", (s, dir) =>
      SalesTrends.multiGrainFromDaily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("grain"), col("creation_date"), col("year_week"),
          col("year_month"), col("restaurant_id"), col("item_category")),
      OracleSql.withBase(
        """mg_base AS (
           SELECT creation_date, restaurant_id, item_category, total_revenue,
                  concat_ws('-', year(creation_date), weekofyear(creation_date))
                    AS year_week,
                  concat_ws('-', year(creation_date), month(creation_date))
                    AS year_month
           FROM order_revenue)""",
        """SELECT creation_date, year_week, year_month, restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS revenue,
                CASE WHEN GROUPING(creation_date) = 0 THEN 'daily'
                     WHEN GROUPING(year_week) = 0 THEN 'weekly'
                     ELSE 'monthly' END AS grain
         FROM mg_base
         GROUP BY GROUPING SETS (
           (creation_date, restaurant_id, item_category),
           (year_week, restaurant_id, item_category),
           (year_month, restaurant_id, item_category))
         ORDER BY grain, creation_date, year_week, year_month,
                  restaurant_id, item_category""")),

    // ---- gold: PIVOT, exact median, RANGE frame, NTILE ----
    Gated("q39_monthly_pivot", (s, dir) =>
      SalesTrends.monthlyPivot(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        "SELECT restaurant_id, " +
          (1 to 12).map(m =>
            s"sum(CASE WHEN month(creation_date) = $m " +
              s"THEN round(total_revenue * 10000) END) / 10000.0 AS m$m")
            .mkString(", ") +
          " FROM order_revenue GROUP BY 1 ORDER BY restaurant_id")),
    Gated("q40_median_line_revenue", (s, dir) =>
      graft.gold.Percentiles.medianLineRevenue(
          Conformed.orderRevenueCached(s, dir), "restaurant_id")
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """SELECT restaurant_id, count(*) AS n_lines,
                median(round(total_revenue * 10000)) / 10000.0
                  AS median_line_revenue
         FROM order_revenue GROUP BY 1 ORDER BY restaurant_id""")),
    Gated("q41_trailing_revenue", (s, dir) =>
      Ltv.trailingRevenue(Conformed.orderRevenueCached(s, dir), days = 7)
        .orderBy(col("user_id"), col("creation_date")),
      OracleSql.withBase(
        """SELECT user_id, creation_date, cents / 10000.0 AS daily_revenue,
                sum(cents) OVER (PARTITION BY user_id
                  ORDER BY date_diff('day', DATE '1970-01-01', creation_date)
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) / 10000.0
                  AS trailing_revenue
         FROM ltv_daily ORDER BY user_id, creation_date""")),
    Gated("q42_ltv_deciles", (s, dir) =>
      Ltv.deciles(Ltv.latest(Ltv.daily(Conformed.orderRevenueCached(s, dir))))
        .orderBy(col("user_id")),
      OracleSql.withBase(
        """SELECT user_id, lifetime_value,
                ntile(10) OVER (ORDER BY lifetime_value, user_id) AS decile
         FROM ltv_latest ORDER BY user_id""")),

    // ---- gold: incremental maintenance replay (SURVEY §4 delta path;
    // reference contract: gold equals a full rebuild from silver,
    // cdc_metrics_job_silver.py:53-75 + cdc_metrics_job_gold.py) — a
    // mid-range day is withheld from the prior mart and re-applied as
    // the CDC delta; the oracle is the plain full recompute ----
    Gated("q79_incremental_ltv", (s, dir) =>
      graft.gold.IncrementalReplay.ltvDaily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id"), col("creation_date")),
      // The incremental-maintenance replays (q79-q82) must reproduce the
      // full recompute EXACTLY, so their oracles ARE the corresponding
      // full-mart oracles, shared by reference — the gate then proves
      // delta maintenance == full rebuild, the reference's gold contract.
      ltvDaily.oracleSql),
    Gated("q80_incremental_rfm", (s, dir) =>
      graft.gold.IncrementalReplay.rfm(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id")),
      rfm.oracleSql),
    Gated("q81_incremental_churn", (s, dir) =>
      graft.gold.IncrementalReplay.churn(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id")),
      churn.oracleSql),
    Gated("q82_incremental_trends", (s, dir) =>
      graft.gold.IncrementalReplay.trendsDaily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("creation_date"), col("restaurant_id"), col("item_category")),
      trendsDaily.oracleSql),

    // ---- gold: UNPIVOT — melt the pivot report back to long; the
    // oracle recomputes the direct monthly aggregate, so the gate pins
    // pivot∘unpivot == groupBy(month), both operators' semantics ----
    Gated("q92_unpivot_months", (s, dir) =>
      SalesTrends.unpivotMonths(
          SalesTrends.monthlyPivot(Conformed.orderRevenueCached(s, dir)))
        .orderBy(col("restaurant_id"), col("month")),
      // the oracle recomputes the DIRECT monthly aggregate — the gate
      // proves pivot∘unpivot equals it
      OracleSql.withBase(
        """SELECT restaurant_id, month(creation_date) AS month,
                sum(round(total_revenue * 10000)) / 10000.0 AS revenue
         FROM order_revenue GROUP BY 1, 2 ORDER BY restaurant_id, month""")),

    // ---- gold: the analytic-ranking family in one window pass ----
    Gated("q101_rank_suite", (s, dir) =>
      graft.gold.Percentiles.rankReport(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """rr AS (
           SELECT restaurant_id,
                  sum(round(total_revenue * 10000)) / 10000.0 AS total_revenue
           FROM order_revenue GROUP BY 1)""",
        """SELECT restaurant_id, total_revenue,
                rank() OVER wt AS rnk, dense_rank() OVER wt AS drnk,
                round(percent_rank() OVER wt, 6) AS pct_rank,
                round(cume_dist() OVER wt, 6) AS cume,
                ntile(4) OVER wo AS quartile
         FROM rr WINDOW wt AS (ORDER BY total_revenue DESC),
                  wo AS (ORDER BY total_revenue DESC, restaurant_id)
         ORDER BY restaurant_id""")),

    // ---- gold: running DISTINCT users per restaurant (first-seen
    // reduction + cumsum — exact, no per-frame distinct sets) ----
    Gated("q108_running_distinct", (s, dir) =>
      graft.gold.Location.runningDistinctUsers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBase(
        """rdfs AS (
           SELECT restaurant_id, user_id, min(creation_date) AS creation_date
           FROM order_revenue GROUP BY 1, 2),
         rdpd AS (
           SELECT restaurant_id, creation_date, count(*) AS new_users
           FROM rdfs GROUP BY 1, 2)""",
        """SELECT restaurant_id, creation_date, new_users,
                CAST(sum(new_users) OVER (PARTITION BY restaurant_id
                  ORDER BY creation_date
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS distinct_users_to_date
         FROM rdpd ORDER BY restaurant_id, creation_date""")),

    // ---- gold: month-over-month growth (period-over-period KPI) ----
    Gated("q113_mom_growth", (s, dir) =>
      SalesTrends.monthlyGrowth(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("y"), col("m")),
      OracleSql.withBase(
        """momg AS (
           SELECT restaurant_id, year(creation_date) AS y,
                  month(creation_date) AS m,
                  sum(round(total_revenue * 10000)) / 10000.0 AS revenue
           FROM order_revenue GROUP BY 1, 2, 3)""",
        """SELECT restaurant_id, y, m, revenue,
                lag(revenue) OVER w AS prev_revenue,
                CASE WHEN lag(revenue) OVER w = 0 THEN NULL
                     ELSE round((revenue - lag(revenue) OVER w)
                                / lag(revenue) OVER w * 100, 6)
                END AS mom_pct
         FROM momg WINDOW w AS (PARTITION BY restaurant_id ORDER BY y, m)
         ORDER BY restaurant_id, y, m""")),

    // ---- gold: rolling 7-day distinct users (explode-to-window-ends,
    // never a range join) ----
    Gated("q114_sliding_distinct", (s, dir) =>
      graft.gold.Location.slidingDistinctUsers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("window_end")),
      OracleSql.withBase(
        """sdt AS (SELECT DISTINCT restaurant_id, user_id, creation_date AS d
                 FROM order_revenue),
         sdd AS (SELECT DISTINCT restaurant_id, d FROM sdt),
         sdw AS (SELECT t.restaurant_id, t.user_id,
                        t.d + CAST(r.i AS INT) AS window_end
                 FROM sdt t, range(7) r(i)),
         sdx AS (SELECT w.restaurant_id, w.user_id, w.window_end
                 FROM sdw w JOIN sdd ON sdd.restaurant_id = w.restaurant_id
                                    AND sdd.d = w.window_end)""",
        """SELECT restaurant_id, window_end,
                count(DISTINCT user_id) AS active_users
         FROM sdx GROUP BY 1, 2 ORDER BY restaurant_id, window_end""")),

    // ---- 100 TB approx tier, bound-check-gated: exact values the SQL
    // oracle recomputes + booleans asserting each sketch landed within
    // its error bound (the oracle pins them TRUE) ----
    Gated("q51_location_hll", (s, dir) =>
      graft.gold.Location.hllGated(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      // Approx-sketch tier, bound-check gated: the oracle recomputes the
      // exact values and pins the within-tolerance booleans to TRUE — a
      // Spark-side sketch outside its error bound hash-mismatches.
      OracleSql.withBase(
        """loc_joined AS (
           SELECT i.restaurant_id, i.order_id,
                  CAST(i.creation_ts AS DATE) AS order_date,
                  weekofyear(CAST(i.creation_ts AS DATE)) AS week
           FROM items i
           JOIN (SELECT order_id FROM order_revenue) r USING (order_id)),
         loc AS (
           SELECT restaurant_id,
                  count(DISTINCT order_id) AS num_orders,
                  count(DISTINCT order_date) AS active_days,
                  count(DISTINCT week) AS active_weeks
           FROM loc_joined GROUP BY 1)""",
        """SELECT restaurant_id, num_orders, active_days, active_weeks,
                TRUE AS hll_orders_ok, TRUE AS hll_days_ok, TRUE AS hll_weeks_ok
         FROM loc ORDER BY restaurant_id""")),
    Gated("q52_segments_approx", (s, dir) =>
      Ltv.segmentsGated(Ltv.latest(Ltv.daily(Conformed.orderRevenueCached(s, dir))))
        .orderBy(col("user_id")),
      OracleSql.withBase(
        """SELECT user_id, lifetime_value,
                CASE WHEN lifetime_value <=
                       (SELECT quantile_cont(lifetime_value, 0.2) FROM ltv_latest) THEN 'Low'
                     WHEN lifetime_value <=
                       (SELECT quantile_cont(lifetime_value, 0.8) FROM ltv_latest) THEN 'Medium'
                     ELSE 'High' END AS clv_segment,
                TRUE AS approx_segment_ok
         FROM ltv_latest ORDER BY user_id""")),

    // ---- gold: RFM segment migration matrix (segment 90 days ago vs
    // today; anchored rebuild over the date-pruned fact) ----
    Gated("q197_rfm_migration", (s, dir) =>
      graft.gold.Rfm.migrationMatrix(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("segment_from"), col("segment_to")),
      OracleSql.withBase(
        """mgp AS (
             SELECT user_id,
                    max(creation_date) AS last_purchase_date,
                    count(DISTINCT order_id) AS frequency,
                    sum(round(total_revenue * 10000)) / 10000.0 AS monetary
             FROM order_revenue
             WHERE creation_date <= (SELECT today - 90 FROM anchor)
             GROUP BY 1),
           mgps AS (
             SELECT user_id,
                    CASE WHEN date_diff('day', last_purchase_date,
                                (SELECT today - 90 FROM anchor)) <= 15
                              AND frequency >= 5 AND monetary >= 100
                         THEN 'VIP'
                         WHEN frequency <= 1
                              AND date_diff('day', last_purchase_date,
                                (SELECT today - 90 FROM anchor)) <= 15
                         THEN 'New'
                         WHEN date_diff('day', last_purchase_date,
                                (SELECT today - 90 FROM anchor)) > 45
                              AND frequency <= 2
                         THEN 'Churn Risk'
                         ELSE 'Standard' END AS segment_from
             FROM mgp),
           mgn AS (
             SELECT user_id,
                    max(creation_date) AS last_purchase_date,
                    count(DISTINCT order_id) AS frequency,
                    sum(round(total_revenue * 10000)) / 10000.0 AS monetary
             FROM order_revenue GROUP BY 1),
           mgns AS (
             SELECT user_id,
                    CASE WHEN date_diff('day', last_purchase_date,
                                (SELECT today FROM anchor)) <= 15
                              AND frequency >= 5 AND monetary >= 100
                         THEN 'VIP'
                         WHEN frequency <= 1
                              AND date_diff('day', last_purchase_date,
                                (SELECT today FROM anchor)) <= 15
                         THEN 'New'
                         WHEN date_diff('day', last_purchase_date,
                                (SELECT today FROM anchor)) > 45
                              AND frequency <= 2
                         THEN 'Churn Risk'
                         ELSE 'Standard' END AS segment_to
             FROM mgn),
           mgm AS (
             SELECT COALESCE(p.segment_from, 'None') AS segment_from,
                    n.segment_to, count(*) AS n_users
             FROM mgns n LEFT JOIN mgps p USING (user_id)
             GROUP BY 1, 2)""",
        """SELECT segment_from, segment_to, n_users,
                  round(CAST(n_users AS DOUBLE)
                        / sum(n_users) OVER (PARTITION BY segment_from), 6)
                    AS row_share
           FROM mgm ORDER BY segment_from, segment_to""",
      )),

    // ---- gold: regional league table over the supplier→nation→region
    // dim chain (within-region rank + share) ----
    Gated("q202_regional_league", (s, dir) =>
      graft.gold.Geography.regionalLeague(
          Conformed.orderRevenueCached(s, dir), Tables.supplier(s, dir),
          Tables.nation(s, dir), Tables.region(s, dir))
        .orderBy(col("region"), col("rank_in_region")),
      OracleSql.withBase(
        """rgd AS (
             SELECT s.s_suppkey AS restaurant_id, n.n_name AS nation,
                    r.r_name AS region
             FROM supplier s
             JOIN nation n ON s.s_nationkey = n.n_nationkey
             JOIN region r ON n.n_regionkey = r.r_regionkey),
           rga AS (
             SELECT d.region, d.nation,
                    CAST(sum(round(o.total_revenue * 10000)) AS BIGINT)
                      AS cents,
                    count(DISTINCT o.order_id) AS n_orders
             FROM order_revenue o JOIN rgd d USING (restaurant_id)
             GROUP BY 1, 2),
           rgr AS (
             SELECT region, nation, n_orders, cents,
                    row_number() OVER (PARTITION BY region
                      ORDER BY cents DESC, nation) AS rank_in_region,
                    CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT)
                      AS region_cents
             FROM rga)""",
        """SELECT region, rank_in_region, nation, n_orders,
                  cents / 10000.0 AS revenue,
                  round(CAST(cents AS DOUBLE) / region_cents, 6)
                    AS region_share
           FROM rgr ORDER BY region, rank_in_region""",
      )),

    // ---- gold: bilateral trade matrix (TPC-H Q7 shape) ----
    Gated("q241_trade_matrix", (s, dir) =>
      graft.gold.Geography.tradeMatrixOnSpine(
          graft.bindings.Conformed.tradeSpineCached(s, dir))
        .orderBy(col("cust_nation"), col("supp_nation"), col("yr")),
      """WITH tj AS (
           SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
                  year(o.o_orderdate) AS yr,
                  CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS net_cents
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation cn ON c.c_nationkey = cn.n_nationkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation sn ON s.s_nationkey = sn.n_nationkey)
         SELECT cust_nation, supp_nation, yr, count(*) AS n_lines,
                round(CAST(sum(net_cents) AS BIGINT) / 100.0, 6) AS revenue
         FROM tj GROUP BY 1, 2, 3
         ORDER BY cust_nation, supp_nation, yr"""),

    // ---- gold: supplier-nation market share per customer region ×
    // year (TPC-H Q8 shape) — shares q241's persisted trade spine ----
    Gated("q242_market_share", (s, dir) =>
      graft.gold.Geography.supplierMarketShareOnSpine(
          graft.bindings.Conformed.tradeSpineCached(s, dir),
          Tables.region(s, dir), targetNation = "NATION_0")
        .orderBy(col("cust_region"), col("yr")),
      """WITH mm AS (
           SELECT r.r_name AS cust_region, year(o.o_orderdate) AS yr,
                  sn.n_name AS supp_nation,
                  CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS net_cents
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation cn ON c.c_nationkey = cn.n_nationkey
           JOIN region r ON cn.n_regionkey = r.r_regionkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation sn ON s.s_nationkey = sn.n_nationkey)
         SELECT cust_region, yr,
                round(CAST(sum(net_cents) AS BIGINT) / 100.0, 6)
                  AS total_revenue,
                round(CAST(sum(CASE WHEN supp_nation = 'NATION_0'
                      THEN net_cents ELSE 0 END) AS BIGINT) / 100.0, 6)
                  AS target_revenue,
                round(CAST(sum(CASE WHEN supp_nation = 'NATION_0'
                      THEN net_cents ELSE 0 END) AS DOUBLE)
                  / CAST(sum(net_cents) AS BIGINT), 6) AS market_share
         FROM mm GROUP BY 1, 2 HAVING sum(net_cents) > 0
         ORDER BY cust_region, yr"""),

    // ---- gold: revealed comparative advantage per nation×category ----
    Gated("q256_rca_index", (s, dir) =>
      graft.gold.Geography.rcaIndex(Conformed.orderRevenueCached(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir))
        .orderBy(col("nation"), col("item_category")),
      OracleSql.withBase(
        """rcd AS (SELECT s.s_suppkey AS restaurant_id, n.n_name AS nation
                FROM supplier s
                JOIN nation n ON s.s_nationkey = n.n_nationkey),
         rcc AS (SELECT d.nation, o.item_category,
                        CAST(sum(round(o.total_revenue * 10000)) AS BIGINT)
                          AS a
                 FROM order_revenue o JOIN rcd d USING (restaurant_id)
                 GROUP BY 1, 2),
         rcw AS (SELECT *,
                        CAST(sum(a) OVER (PARTITION BY nation) AS BIGINT)
                          AS b,
                        CAST(sum(a) OVER (PARTITION BY item_category)
                          AS BIGINT) AS c,
                        CAST(sum(a) OVER () AS BIGINT) AS d
                 FROM rcc),
         rcr AS (SELECT nation, item_category, a,
                        round((CAST(a AS DOUBLE) / b)
                          / (CAST(c AS DOUBLE) / d), 6) AS rca
                 FROM rcw WHERE a > 0 AND b > 0 AND c > 0)""",
        """SELECT nation, item_category, round(a / 10000.0, 6) AS revenue,
                rca, rca >= 1.25 AS specialized
         FROM rcr ORDER BY nation, item_category""")),

    // ---- gold: single-pass share-of-parent hierarchy tree ----
    Gated("q257_share_of_parent", (s, dir) =>
      graft.gold.Geography.shareOfParent(Conformed.orderRevenueCached(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir))
        .orderBy(col("region"), col("nation"), col("restaurant_id")),
      OracleSql.withBase(
        """spd AS (SELECT s.s_suppkey AS restaurant_id, n.n_name AS nation,
                        r.r_name AS region
                 FROM supplier s
                 JOIN nation n ON s.s_nationkey = n.n_nationkey
                 JOIN region r ON n.n_regionkey = r.r_regionkey),
         spl AS (SELECT d.region, d.nation, o.restaurant_id,
                        CAST(sum(round(o.total_revenue * 10000)) AS BIGINT)
                          AS cents
                 FROM order_revenue o JOIN spd d USING (restaurant_id)
                 GROUP BY 1, 2, 3),
         spw AS (SELECT *,
                        CAST(sum(cents) OVER (PARTITION BY region, nation)
                          AS BIGINT) AS nat_cents,
                        CAST(sum(cents) OVER (PARTITION BY region)
                          AS BIGINT) AS reg_cents,
                        CAST(sum(cents) OVER () AS BIGINT) AS all_cents
                 FROM spl)""",
        """SELECT region, nation, restaurant_id,
                round(cents / 10000.0, 6) AS revenue,
                round(CAST(cents AS DOUBLE) / nat_cents, 6)
                  AS share_of_nation,
                round(CAST(nat_cents AS DOUBLE) / reg_cents, 6)
                  AS nation_share_of_region,
                round(CAST(reg_cents AS DOUBLE) / all_cents, 6)
                  AS region_share_of_market
         FROM spw WHERE cents > 0
         ORDER BY region, nation, restaurant_id""")),

    // ---- gold: shipping backlog top-10 (TPC-H Q3 shape; distributed
    // partial top-k, segment semi-join before the fact join) ----
    Gated("q270_shipping_backlog", (s, dir) =>
      graft.gold.Fulfillment.shippingBacklog(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir),
        segment = "BUILDING", asOf = "1998-06-01"),
      """WITH bc AS (SELECT c_custkey FROM customer
                     WHERE c_mktsegment = 'BUILDING'),
         bo AS (SELECT o_orderkey, o_orderdate, o_orderpriority
                FROM orders JOIN bc ON o_custkey = c_custkey
                WHERE o_orderdate < '1998-06-01'),
         bl AS (SELECT l_orderkey,
                       CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT) AS cents
                FROM lineitem WHERE l_shipdate > '1998-06-01')
         SELECT o_orderkey, CAST(sum(cents) AS BIGINT) / 100.0 AS revenue,
                o_orderdate, o_orderpriority
         FROM bl JOIN bo ON l_orderkey = o_orderkey
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY CAST(sum(cents) AS BIGINT) DESC, o_orderkey
         LIMIT 10"""),

    // ---- gold: domestic-commerce volume per nation (TPC-H Q5 shape;
    // customer nation == supplier nation) ----
    Gated("q271_local_supplier_volume", (s, dir) =>
      graft.gold.Fulfillment.localSupplierVolume(Tables.lineitem(s, dir),
          Tables.orders(s, dir), Tables.customer(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir),
          Tables.region(s, dir), regionName = "ASIA", orderYear = 1997)
        .orderBy(col("nation")),
      """WITH lnat AS (
             SELECT n_nationkey, n_name FROM nation
             JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'ASIA')
         SELECT n_name AS nation, count(*) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) / 100.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN lnat ON c_nationkey = n_nationkey
         WHERE c_nationkey = s_nationkey
           AND s_nationkey IN (SELECT n_nationkey FROM lnat)
           AND year(o_orderdate) = 1997
         GROUP BY 1 ORDER BY nation"""),

    // ---- gold: discount-elimination what-if (TPC-H Q6 shape; all
    // predicates scan-tight, one-row aggregate) ----
    Gated("q272_repricing_whatif", (s, dir) =>
      graft.gold.Fulfillment.repricingWhatIf(Tables.lineitem(s, dir),
        yearStart = "1997-01-01", discLo = 0.05, discHi = 0.07,
        maxQty = 24),
      """SELECT count(*) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
                  / 10000.0 AS forgone_revenue
         FROM lineitem
         WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),

    // ---- gold: catalog margin by supplier nation × year (TPC-H Q9
    // shape, retail-price cost basis) ----
    Gated("q273_catalog_margin", (s, dir) =>
      graft.gold.Fulfillment.catalogMarginByNation(Tables.lineitem(s, dir),
          Tables.orders(s, dir), Tables.part(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir),
          partType = "PROMO")
        .orderBy(col("nation"), col("yr")),
      """SELECT n_name AS nation, year(o_orderdate) AS yr,
                count(*) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)
                    - CAST(round(p_retailprice * 100) AS BIGINT)
                      * CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                  / 100.0 AS catalog_margin
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1, 2 ORDER BY nation, yr"""),

    // ---- gold: returned-revenue customer triage (TPC-H Q10 shape) ----
    Gated("q274_returns_triage", (s, dir) =>
      graft.gold.Fulfillment.returnsTriage(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir), quarterStart = "1997-10-01"),
      """WITH ro AS (SELECT o_orderkey, o_custkey FROM orders
                     WHERE o_orderdate >= '1997-10-01'
                       AND o_orderdate < '1998-01-01'),
         rl AS (SELECT l_orderkey,
                       CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT) AS cents
                FROM lineitem WHERE l_returnflag = 'R'),
         rc AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS cents
                FROM rl JOIN ro ON l_orderkey = o_orderkey GROUP BY 1)
         SELECT c_custkey, c_name, cents / 100.0 AS returned_revenue,
                c_acctbal, n_name AS nation
         FROM rc
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         ORDER BY cents DESC, c_custkey LIMIT 20"""),

    // ---- gold: customer order-count distribution including the
    // zero-order tail (TPC-H Q13 shape) ----
    Gated("q275_order_count_histogram", (s, dir) =>
      graft.gold.Fulfillment.orderCountHistogram(Tables.orders(s, dir),
        Tables.customer(s, dir), excludePriority = "1-URGENT"),
      """WITH pc AS (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer
             LEFT JOIN orders ON c_custkey = o_custkey
               AND o_orderpriority <> '1-URGENT'
             GROUP BY 1)
         SELECT c_count, count(*) AS custdist
         FROM pc GROUP BY 1
         ORDER BY custdist DESC, c_count DESC"""),

    // ---- gold: top quarterly supplier with ties kept (TPC-H Q15
    // shape; scalar-broadcast max, no unpartitioned window) ----
    Gated("q276_top_quarter_supplier", (s, dir) =>
      graft.gold.Fulfillment.topQuarterSupplier(Tables.lineitem(s, dir),
        Tables.supplier(s, dir), quarterStart = "1997-01-01"),
      """WITH sr AS (
             SELECT l_suppkey,
                    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                      * 100) AS BIGINT)) AS BIGINT) AS cents
             FROM lineitem
             WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
             GROUP BY 1)
         SELECT s_suppkey, s_name, cents / 100.0 AS total_revenue
         FROM sr JOIN supplier ON l_suppkey = s_suppkey
         WHERE cents = (SELECT max(cents) FROM sr)
         ORDER BY s_suppkey"""),

    // ---- gold: distinct-supplier assortment breadth per brand/type/
    // size band (TPC-H Q16 shape; dedup-then-count, no expand) ----
    Gated("q277_supplier_variety", (s, dir) =>
      graft.gold.Fulfillment.supplierVariety(Tables.lineitem(s, dir),
        Tables.part(s, dir), excludeBrand = "Brand#13"),
      """WITH sv AS (
             SELECT DISTINCT p_brand, p_type,
                    CAST(FLOOR(p_size / 10.0) * 10 AS INT) AS size_band,
                    l_suppkey
             FROM lineitem JOIN part ON l_partkey = p_partkey
             WHERE p_brand <> 'Brand#13')
         SELECT p_brand, p_type, size_band, count(*) AS supplier_cnt
         FROM sv GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, size_band"""),

    // ---- gold: oversized-order review queue (TPC-H Q18 shape;
    // HAVING on the grouped fact before any dim join) ----
    Gated("q278_bulk_orders", (s, dir) =>
      graft.gold.Fulfillment.bulkOrders(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir), minQty = 200),
      """WITH bq AS (
             SELECT l_orderkey,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS sum_qty
             FROM lineitem GROUP BY 1
             HAVING sum(round(l_quantity)) > 200)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                sum_qty
         FROM bq
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey"""),

    // ---- gold: disjunctive promo pricing (TPC-H Q19 shape; OR-of-
    // conjunctions with part-side arms tagged on the broadcast dim) ----
    Gated("q279_disjunctive_pricing", (s, dir) =>
      graft.gold.Fulfillment.disjunctivePricing(Tables.lineitem(s, dir),
        Tables.part(s, dir), Seq(
          graft.gold.Fulfillment.PricingArm("Brand#3", 1, 11, 1, 15),
          graft.gold.Fulfillment.PricingArm("Brand#14", 10, 20, 1, 25),
          graft.gold.Fulfillment.PricingArm("Brand#25", 20, 30, 5, 50))),
      """SELECT count(*) AS n_lines,
                COALESCE(CAST(sum(CAST(round(l_extendedprice
                    * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                  / 100.0, 0.0) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                AND l_quantity >= 1 AND l_quantity <= 11)
            OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25
                AND l_quantity >= 10 AND l_quantity <= 20)
            OR (p_brand = 'Brand#25' AND p_size BETWEEN 5 AND 50
                AND l_quantity >= 20 AND l_quantity <= 30)"""),

    // ---- gold: service-level matrix per delay band (TPC-H Q12 shape;
    // delay band substitutes the absent l_shipmode) ----
    Gated("q280_service_level", (s, dir) =>
      graft.gold.Logistics.serviceLevelMatrix(Tables.lineitem(s, dir),
        Tables.orders(s, dir), shipYear = 1997),
      """WITH sl AS (
             SELECT CASE
                      WHEN datediff('day', o_orderdate, l_shipdate) < 0
                        THEN 'pre-order'
                      WHEN datediff('day', o_orderdate, l_shipdate) <= 30
                        THEN '00-30d'
                      WHEN datediff('day', o_orderdate, l_shipdate) <= 60
                        THEN '31-60d'
                      WHEN datediff('day', o_orderdate, l_shipdate) <= 90
                        THEN '61-90d'
                      ELSE '90d+' END AS delay_band,
                    o_orderpriority
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE year(l_shipdate) = 1997)
         SELECT delay_band,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS routine_lines
         FROM sl GROUP BY 1 ORDER BY delay_band"""),

    // ---- gold: majority-share suppliers per part (TPC-H Q20 shape;
    // shipped qty substitutes the absent partsupp availability) ----
    Gated("q281_dominant_suppliers", (s, dir) =>
      graft.gold.Logistics.dominantSuppliers(Tables.lineitem(s, dir),
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
        partType = "PROMO", shipYear = 1997),
      """WITH dg AS (
             SELECT l_partkey, l_suppkey,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS qty
             FROM lineitem
             JOIN part ON l_partkey = p_partkey
             WHERE p_type = 'PROMO' AND year(l_shipdate) = 1997
             GROUP BY 1, 2),
         dw AS (
             SELECT *,
                    CAST(sum(qty) OVER (PARTITION BY l_partkey) AS BIGINT)
                      AS tot
             FROM dg),
         ds AS (
             SELECT l_suppkey, count(*) AS n_parts_dominated,
                    CAST(sum(qty) AS BIGINT) AS dominated_qty
             FROM dw WHERE qty * 2 > tot * 1 GROUP BY 1)
         SELECT s_suppkey, s_name, n_name AS nation, n_parts_dominated,
                dominated_qty
         FROM ds
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         ORDER BY n_parts_dominated DESC, s_suppkey"""),

    // ---- gold: sole-blame late suppliers (TPC-H Q21 shape; the
    // EXISTS/NOT EXISTS pair as counts over one grouped pass) ----
    Gated("q282_sole_blame_late", (s, dir) =>
      graft.gold.Logistics.soleBlameLateSuppliers(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.supplier(s, dir)),
      """WITH bg AS (
             SELECT l_orderkey, l_suppkey,
                    max(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                               > 60 THEN 1 ELSE 0 END) AS late
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             GROUP BY 1, 2),
         bw AS (
             SELECT *,
                    count(*) OVER (PARTITION BY l_orderkey) AS n_suppliers,
                    sum(late) OVER (PARTITION BY l_orderkey) AS n_late
             FROM bg),
         bb AS (
             SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
             FROM bw
             WHERE late = 1 AND n_suppliers >= 2 AND n_late = 1
             GROUP BY 1)
         SELECT s_suppkey, s_name, numwait
         FROM bb JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY numwait DESC, s_suppkey LIMIT 20"""),

    // ---- gold: dormant high-balance customers per nation (TPC-H Q22
    // shape; recency window keeps the anti-join non-vacuous) ----
    Gated("q283_idle_customers", (s, dir) =>
      graft.gold.Logistics.idleHighValueCustomers(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.nation(s, dir),
        sinceDate = "1999-01-01"),
      """WITH ct AS (
             SELECT c_custkey, c_nationkey,
                    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
             FROM customer),
         th AS (
             SELECT CAST(sum(bal_cents) AS BIGINT) AS pos_cents,
                    CAST(count(*) AS BIGINT) AS n_pos
             FROM ct WHERE bal_cents > 0),
         dm AS (
             SELECT c.c_nationkey, c.bal_cents
             FROM ct c, th
             WHERE c.bal_cents * th.n_pos > th.pos_cents
               AND NOT EXISTS (
                 SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderdate >= DATE '1999-01-01'))
         SELECT n_name AS nation, count(*) AS numcust,
                CAST(sum(bal_cents) AS BIGINT) / 100.0 AS total_acctbal
         FROM dm JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY nation"""),

    // ---- gold: pricing summary report (TPC-H Q1 — the canonical
    // scan-aggregate; completes the 22/22 TPC-H shape map) ----
    Gated("q294_pricing_summary", (s, dir) =>
      graft.gold.Fulfillment.pricingSummary(Tables.lineitem(s, dir),
        cutoff = "1998-09-02"),
      """WITH ps AS (
             SELECT l_returnflag, l_linestatus,
                    CAST(round(l_quantity) AS BIGINT) AS qty,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS base,
                    CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) AS disc,
                    CAST(round(l_extendedprice * (1 - l_discount)
                      * (1 + l_tax) * 10000) AS BIGINT) AS charge,
                    CAST(round(l_discount * 100) AS BIGINT) AS dpts
             FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
         pa AS (
             SELECT l_returnflag, l_linestatus,
                    CAST(count(*) AS BIGINT) AS count_order,
                    CAST(sum(qty) AS HUGEINT) AS sum_qty_d,
                    CAST(sum(base) AS HUGEINT) AS sb,
                    CAST(sum(disc) AS HUGEINT) AS sd,
                    CAST(sum(charge) AS HUGEINT) AS sc,
                    CAST(sum(dpts) AS HUGEINT) AS sp
             FROM ps GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus,
                CAST(sum_qty_d AS BIGINT) AS sum_qty,
                CAST(sb AS DOUBLE) / 100.0 AS sum_base_price,
                CAST(sd AS DOUBLE) / 100.0 AS sum_disc_price,
                CAST(sc AS DOUBLE) / 10000.0 AS sum_charge,
                (((sum_qty_d * 1000000 * 2) + count_order)
                  // (count_order * 2)) / 1000000.0 AS avg_qty,
                (((sb * 10000 * 2) + count_order) // (count_order * 2))
                  / 1000000.0 AS avg_price,
                (((sp * 10000 * 2) + count_order) // (count_order * 2))
                  / 1000000.0 AS avg_disc,
                count_order
         FROM pa ORDER BY l_returnflag, l_linestatus"""),

    // ---- gold: per-restaurant median with a distribution-free 95%
    // CI from binomial order-statistic ranks ----
    Gated("q300_median_ci", (s, dir) =>
      graft.gold.Percentiles.medianWithCI(
        Conformed.orderRevenueCached(s, dir), "restaurant_id"),
      OracleSql.withBase(
        s"""mh AS (
             SELECT restaurant_id AS g,
                    CAST(round(total_revenue * 10000) AS BIGINT) AS u,
                    CAST(count(*) AS BIGINT) AS c
             FROM order_revenue GROUP BY 1, 2),
         mt AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM mh GROUP BY 1),
         mr AS (SELECT g, n, (n + 1) // 2 AS r_med,
                       GREATEST(CAST(floor((CAST(n AS DOUBLE)
                           - sqrt(CAST(n AS DOUBLE))
                             * ${graft.gold.Percentiles.MedianCiZ}) / 2)
                         AS BIGINT), 1) AS r_lo,
                       LEAST(CAST(ceil(1.0 + (CAST(n AS DOUBLE)
                           + sqrt(CAST(n AS DOUBLE))
                             * ${graft.gold.Percentiles.MedianCiZ}) / 2)
                         AS BIGINT), n) AS r_hi
                FROM mt),
         mc AS (SELECT g, u,
                       CAST(sum(c) OVER (PARTITION BY g ORDER BY u
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cum
                FROM mh)""",
        s"""SELECT mc.g AS restaurant_id, mr.n AS n_lines,
                min(CASE WHEN mc.cum >= mr.r_med THEN mc.u END) / 10000.0
                  AS median_revenue,
                min(CASE WHEN mc.cum >= mr.r_lo THEN mc.u END) / 10000.0
                  AS ci_lo,
                min(CASE WHEN mc.cum >= mr.r_hi THEN mc.u END) / 10000.0
                  AS ci_hi
         FROM mc JOIN mr ON mc.g = mr.g
         GROUP BY 1, 2 ORDER BY restaurant_id""")),
  )
}
