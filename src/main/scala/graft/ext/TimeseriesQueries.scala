package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.core.Tables
import graft.oracle.OracleSql

object TimeseriesQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: time-series gap fill over per-key calendar spines ----
    Gated("q100_gap_fill", (s, dir) =>
      graft.ext.Timeseries.gapFillDaily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBase(
        """gfd AS (
           SELECT restaurant_id, creation_date,
                  sum(round(total_revenue * 10000)) AS cents
           FROM order_revenue GROUP BY 1, 2),
         gfspan AS (
           SELECT restaurant_id, min(creation_date) AS d0,
                  max(creation_date) AS d1
           FROM gfd GROUP BY 1),
         gfspine AS (
           SELECT restaurant_id,
                  CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                    AS creation_date
           FROM gfspan)""",
        """SELECT s.restaurant_id, s.creation_date,
                coalesce(d.cents, 0) / 10000.0 AS revenue,
                CASE WHEN d.cents IS NULL THEN 1 ELSE 0 END AS is_gap
         FROM gfspine s LEFT JOIN gfd d
           ON s.restaurant_id = d.restaurant_id
          AND s.creation_date = d.creation_date
         ORDER BY s.restaurant_id, s.creation_date""")),

    // ---- ext: seasonally-adjusted anomaly flags (weekday baseline
    // removed before the z-score — q135's effect made operational) ----
    Gated("q151_seasonal_outliers", (s, dir) =>
      graft.ext.Timeseries.seasonalResidualOutliers(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBase(
        """sod AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           sow AS (
             SELECT restaurant_id, isodow(creation_date) - 1 AS weekday,
                    count(*) AS n_days, CAST(sum(cents) AS BIGINT) AS sw
             FROM sod GROUP BY 1, 2),
           sor AS (
             SELECT d.restaurant_id, d.creation_date,
                    CAST(round((CAST(d.cents AS DOUBLE)
                                - CAST(w.sw AS DOUBLE) / w.n_days) / 100.0)
                         AS BIGINT) AS runits
             FROM sod d JOIN sow w
               ON d.restaurant_id = w.restaurant_id
              AND isodow(d.creation_date) - 1 = w.weekday),
           som AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(runits) AS BIGINT) AS sr,
                    CAST(sum(runits * runits) AS BIGINT) AS srr
             FROM sor GROUP BY 1),
           soz AS (
             SELECT r.restaurant_id, r.creation_date, r.runits,
                    CASE WHEN CAST(m.srr AS DOUBLE) / CAST(m.n AS DOUBLE)
                              - (CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE))
                                * (CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE))
                              <= 0 THEN 0
                         ELSE (CAST(r.runits AS DOUBLE)
                               - CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE))
                              / sqrt(CAST(m.srr AS DOUBLE) / CAST(m.n AS DOUBLE)
                                     - (CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE))
                                       * (CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE)))
                    END AS z
             FROM sor r JOIN som m USING (restaurant_id))""",
        """SELECT restaurant_id, creation_date,
                  CAST(runits AS DOUBLE) / 100.0 AS residual, z,
                  abs(z) >= 3.0 AS is_outlier
           FROM soz ORDER BY restaurant_id, creation_date""")),

    // ---- ext: per-restaurant OLS revenue trend (slope + R² from five
    // moment sums — 100 TB of facts reduce to five longs per key) ----
    Gated("q154_trend_fit", (s, dir) =>
      graft.ext.Timeseries.revenueTrendFit(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """trd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           trx AS (
             SELECT restaurant_id,
                    CAST(datediff('day', DATE '1992-01-01', creation_date)
                         AS BIGINT) AS x,
                    CAST(round(CAST(cents AS DOUBLE) / 100.0) AS BIGINT) AS y
             FROM trd),
           trm AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * y) AS BIGINT) AS sxy,
                    CAST(sum(x * x) AS BIGINT) AS sxx,
                    CAST(sum(y * y) AS BIGINT) AS syy
             FROM trx GROUP BY 1),
           trq AS (
             SELECT restaurant_id, n,
                    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
                    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
             FROM trm)""",
        """SELECT restaurant_id, n AS n_days,
                  CASE WHEN denx = 0 THEN NULL
                       ELSE (num / denx) / 100.0 END AS slope_per_day,
                  CASE WHEN denx = 0 OR deny = 0 THEN NULL
                       ELSE (num * num) / (denx * deny) END AS r2
           FROM trq ORDER BY restaurant_id""")),

    // ---- ext: EWMA level + one-step forecast (the q124 sequential-
    // recurrence pattern: mapPartitions per-key state, recursive-CTE
    // oracle; one fixed IEEE chain, emitted unrounded) ----
    Gated("q155_ewma_forecast", (s, dir) =>
      graft.ext.Timeseries.ewmaForecast(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBaseRecursive(
        """ewd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           ews AS (
             SELECT restaurant_id, creation_date, cents,
                    row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY creation_date) AS rn
             FROM ewd),
           ewr AS (
             SELECT restaurant_id, rn, CAST(cents AS DOUBLE) AS ew,
                    CAST(NULL AS DOUBLE) AS prev
             FROM ews WHERE rn = 1
             UNION ALL
             SELECT d.restaurant_id, d.rn,
                    r.ew + 0.125 * (CAST(d.cents AS DOUBLE) - r.ew), r.ew
             FROM ewr r JOIN ews d
               ON d.restaurant_id = r.restaurant_id AND d.rn = r.rn + 1)""",
        """SELECT d.restaurant_id, d.creation_date,
                  d.cents / 10000.0 AS daily_revenue,
                  r.ew / 10000.0 AS smoothed_revenue,
                  r.prev / 10000.0 AS forecast_revenue
           FROM ewr r JOIN ews d USING (restaurant_id, rn)
           ORDER BY d.restaurant_id, d.creation_date""")),

    // ---- ext: weekday seasonal profile (additive seasonality tier) ----
    Gated("q135_weekday_seasonality", (s, dir) =>
      graft.ext.Timeseries.weekdaySeasonality(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("weekday")),
      OracleSql.withBase(
        """wsd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           wsw AS (
             SELECT restaurant_id, isodow(creation_date) - 1 AS weekday,
                    count(*) AS n_days, CAST(sum(cents) AS BIGINT) AS sw
             FROM wsd GROUP BY 1, 2),
           wsa AS (
             SELECT restaurant_id, count(*) AS na,
                    CAST(sum(cents) AS BIGINT) AS sa
             FROM wsd GROUP BY 1)""",
        """SELECT w.restaurant_id, w.weekday, w.n_days,
                  CAST(w.sw AS DOUBLE) / w.n_days / 10000.0
                    AS weekday_avg,
                  (CAST(w.sw AS DOUBLE) / w.n_days
                   - CAST(a.sa AS DOUBLE) / a.na) / 10000.0
                    AS seasonal_effect
           FROM wsw w JOIN wsa a USING (restaurant_id)
           ORDER BY w.restaurant_id, w.weekday""")),

    // ---- ext: last-observation-carried-forward over the daily spine
    // (the imputation sibling of q100's zero-fill) ----
    Gated("q166_locf", (s, dir) =>
      graft.ext.Timeseries.gapFillLocf(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBase(
        """lcd AS (SELECT restaurant_id, creation_date,
                         CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                           AS cents
                  FROM order_revenue GROUP BY 1, 2),
           lcs AS (SELECT restaurant_id, min(creation_date) AS d0,
                         max(creation_date) AS d1
                  FROM lcd GROUP BY 1),
           lcn AS (SELECT restaurant_id,
                         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                           AS DATE) AS creation_date
                  FROM lcs),
           lcj AS (SELECT n.restaurant_id, n.creation_date, d.cents
                   FROM lcn n LEFT JOIN lcd d
                     ON n.restaurant_id = d.restaurant_id
                    AND n.creation_date = d.creation_date)""",
        """SELECT restaurant_id, creation_date,
                  last_value(cents IGNORE NULLS) OVER wl / 10000.0
                    AS revenue_locf,
                  CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS is_imputed,
                  datediff('day',
                    max(CASE WHEN cents IS NOT NULL THEN creation_date END)
                      OVER wl,
                    creation_date) AS staleness_days
           FROM lcj WINDOW wl AS (PARTITION BY restaurant_id
             ORDER BY creation_date ROWS UNBOUNDED PRECEDING)
           ORDER BY restaurant_id, creation_date""")),

    // ---- ext: rolling 28-day Pearson correlation of each restaurant's
    // revenue vs the market total (zero-filled spine; exact long frame
    // sums; full windows only) ----
    Gated("q169_rolling_corr", (s, dir) =>
      graft.ext.Timeseries.rollingMarketCorr(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBase(
        """rcd AS (SELECT restaurant_id, creation_date,
                         CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                           AS cents
                  FROM order_revenue GROUP BY 1, 2),
           rcm AS (SELECT creation_date,
                         CAST(sum(cents) AS BIGINT) AS mcents
                  FROM rcd GROUP BY 1),
           rcs AS (SELECT restaurant_id, min(creation_date) AS d0,
                         max(creation_date) AS d1
                  FROM rcd GROUP BY 1),
           rcn AS (SELECT restaurant_id,
                         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                           AS DATE) AS creation_date
                  FROM rcs),
           rcg AS (SELECT n.restaurant_id, n.creation_date,
                          coalesce(d.cents, 0) // 10000 AS x,
                          coalesce(m.mcents, 0) // 10000 AS y
                   FROM rcn n
                   LEFT JOIN rcd d ON n.restaurant_id = d.restaurant_id
                                  AND n.creation_date = d.creation_date
                   LEFT JOIN rcm m ON n.creation_date = m.creation_date),
           rcw AS (SELECT restaurant_id, creation_date,
                          CAST(sum(x) OVER wf AS DOUBLE) AS sx,
                          CAST(sum(y) OVER wf AS DOUBLE) AS sy,
                          CAST(sum(x * y) OVER wf AS DOUBLE) AS sxy,
                          CAST(sum(x * x) OVER wf AS DOUBLE) AS sxx,
                          CAST(sum(y * y) OVER wf AS DOUBLE) AS syy,
                          row_number() OVER wo AS rn
                   FROM rcg WINDOW
                     wf AS (PARTITION BY restaurant_id ORDER BY creation_date
                            ROWS BETWEEN 27 PRECEDING AND CURRENT ROW),
                     wo AS (PARTITION BY restaurant_id ORDER BY creation_date)),
           rcc AS (SELECT restaurant_id, creation_date,
                          28.0 * sxy - sx * sy AS num,
                          28.0 * sxx - sx * sx AS varx,
                          28.0 * syy - sy * sy AS vary
                   FROM rcw WHERE rn >= 28)""",
        """SELECT restaurant_id, creation_date,
                  CASE WHEN varx > 0 AND vary > 0
                       THEN round(num / sqrt(varx * vary), 6)
                       ELSE NULL END AS market_corr
           FROM rcc ORDER BY restaurant_id, creation_date""")),

    // ---- ext: daily-revenue autocorrelation at lags 1..7 (the
    // periodicity screen; all lags ride one window sort) ----
    Gated("q173_acf", (s, dir) =>
      graft.ext.Timeseries.revenueAcf(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("lag")),
      OracleSql.withBase(
        """acd AS (SELECT restaurant_id, creation_date,
                         CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                           AS cents
                  FROM order_revenue GROUP BY 1, 2),
           acs AS (SELECT restaurant_id, min(creation_date) AS d0,
                         max(creation_date) AS d1
                  FROM acd GROUP BY 1),
           acn AS (SELECT restaurant_id,
                         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                           AS DATE) AS creation_date
                  FROM acs),
           acg AS (SELECT n.restaurant_id, n.creation_date,
                          coalesce(d.cents, 0) // 10000 AS x
                   FROM acn n LEFT JOIN acd d
                     ON n.restaurant_id = d.restaurant_id
                    AND n.creation_date = d.creation_date),
           acl AS (SELECT g.restaurant_id, l.lag, g.x,
                          lag(g.x, l.lag) OVER (
                            PARTITION BY g.restaurant_id, l.lag
                            ORDER BY g.creation_date) AS xl
                   FROM acg g CROSS JOIN
                     (SELECT unnest(range(1, 8)) AS lag) l),
           aca AS (SELECT restaurant_id, lag,
                          CAST(count(*) AS DOUBLE) AS n,
                          CAST(sum(x) AS DOUBLE) AS sx,
                          CAST(sum(xl) AS DOUBLE) AS sy,
                          CAST(sum(x * xl) AS DOUBLE) AS sxy,
                          CAST(sum(x * x) AS DOUBLE) AS sxx,
                          CAST(sum(xl * xl) AS DOUBLE) AS syy
                   FROM acl WHERE xl IS NOT NULL GROUP BY 1, 2),
           acc AS (SELECT restaurant_id, lag, CAST(n AS BIGINT) AS n_pairs,
                          n * sxy - sx * sy AS num,
                          n * sxx - sx * sx AS varx,
                          n * syy - sy * sy AS vary
                   FROM aca)""",
        """SELECT restaurant_id, lag, n_pairs,
                  CASE WHEN varx > 0 AND vary > 0
                       THEN round(num / sqrt(varx * vary), 6)
                       ELSE NULL END AS acf
           FROM acc ORDER BY restaurant_id, lag""")),

    // ---- ext: cohort LTV curves — (first-purchase-month × age) revenue
    // triangle with per-original-member cumulative LTV and retention ----
    Gated("q179_cohort_ltv", (s, dir) =>
      graft.ext.Timeseries.cohortLtvCurve(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("cohort_month"), col("age_months")),
      OracleSql.withBase(
        """chm AS (SELECT user_id,
                          CAST(date_trunc('month', creation_date) AS DATE)
                            AS om,
                          CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                            AS cents
                   FROM order_revenue GROUP BY 1, 2),
           chu AS (SELECT user_id, min(om) AS cohort_month
                   FROM chm GROUP BY 1),
           chs AS (SELECT cohort_month, count(*) AS cohort_size
                   FROM chu GROUP BY 1),
           cha AS (SELECT c.cohort_month,
                          (year(m.om) * 12 + month(m.om))
                            - (year(c.cohort_month) * 12
                               + month(c.cohort_month)) AS age_months,
                          count(DISTINCT m.user_id) AS active_users,
                          CAST(sum(m.cents) AS BIGINT) AS cents
                   FROM chm m JOIN chu c USING (user_id)
                   GROUP BY 1, 2),
           chc AS (SELECT *,
                          CAST(sum(cents) OVER (PARTITION BY cohort_month
                            ORDER BY age_months
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS cum_cents
                   FROM cha)""",
        """SELECT c.cohort_month, c.age_months, s.cohort_size,
                  c.active_users,
                  round(c.cents / 10000.0, 6) AS revenue,
                  round(c.cum_cents / 10000.0 / s.cohort_size, 6)
                    AS ltv_per_user,
                  round(CAST(c.active_users AS DOUBLE) / s.cohort_size, 6)
                    AS retention
           FROM chc c JOIN chs s USING (cohort_month)
           ORDER BY cohort_month, age_months""",
      )),

    // ---- ext: seasonal-naive forecast backtest — holdout MAE scaled by
    // training MAE (MASE), exact integer-cent error sums ----
    Gated("q183_mase_backtest", (s, dir) =>
      graft.ext.Timeseries.seasonalNaiveBacktest(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """snd AS (SELECT restaurant_id, creation_date,
                          CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                            AS cents
                   FROM order_revenue GROUP BY 1, 2),
           snb AS (SELECT restaurant_id, min(creation_date) AS d0,
                          max(creation_date) AS d1
                   FROM snd GROUP BY 1),
           snsp AS (SELECT restaurant_id, d1,
                           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                             AS DATE) AS creation_date
                    FROM snb),
           snl AS (SELECT s.restaurant_id, s.creation_date, s.d1,
                          COALESCE(d.cents, 0) AS y,
                          lag(COALESCE(d.cents, 0), 7) OVER (
                            PARTITION BY s.restaurant_id
                            ORDER BY s.creation_date) AS yhat
                   FROM snsp s LEFT JOIN snd d
                     USING (restaurant_id, creation_date)),
           sna AS (SELECT restaurant_id,
                          datediff('day', creation_date, d1) < 28 AS is_test,
                          abs(y - yhat) AS ae
                   FROM snl WHERE yhat IS NOT NULL),
           sng AS (SELECT restaurant_id,
                          CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_test,
                          CAST(sum(CASE WHEN is_test THEN ae ELSE 0 END)
                            AS BIGINT) AS sae_test,
                          CAST(sum(CASE WHEN is_test THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_train,
                          CAST(sum(CASE WHEN is_test THEN 0 ELSE ae END)
                            AS BIGINT) AS sae_train
                   FROM sna GROUP BY 1)""",
        """SELECT restaurant_id, n_test, n_train,
                  round(sae_test / 10000.0 / n_test, 6) AS mae_test,
                  round(sae_train / 10000.0 / n_train, 6) AS mae_train,
                  CASE WHEN sae_train > 0 THEN
                    round((CAST(sae_test AS DOUBLE) / n_test)
                          / (CAST(sae_train AS DOUBLE) / n_train), 6)
                  END AS mase
           FROM sng WHERE n_test > 0 AND n_train > 0
           ORDER BY restaurant_id""",
      )),

    // ---- ext: log-log price elasticity of demand per category (OLS on
    // 1e-6-unit quantized logs; q154's moment machinery) ----
    Gated("q190_price_elasticity", (s, dir) =>
      graft.ext.Timeseries.priceElasticity(
          Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("item_category")),
      """WITH pel AS (
             SELECT p.p_type AS item_category,
                    CAST(round(ln(CAST(l.l_extendedprice AS DOUBLE)
                                  / CAST(l.l_quantity AS DOUBLE)) * 1e6)
                      AS BIGINT) AS x,
                    CAST(round(ln(CAST(l.l_quantity AS DOUBLE)) * 1e6)
                      AS BIGINT) AS y
             FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             WHERE l.l_quantity > 0 AND l.l_extendedprice > 0),
           pem AS (
             SELECT item_category, count(*) AS n,
                    CAST(sum(x) AS BIGINT) AS sx,
                    CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * y) AS BIGINT) AS sxy,
                    CAST(sum(x * x) AS BIGINT) AS sxx,
                    CAST(sum(y * y) AS BIGINT) AS syy
             FROM pel GROUP BY 1),
           pex AS (
             SELECT item_category, n,
                    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
                    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
             FROM pem)
           SELECT item_category, n AS n_lines,
                  CASE WHEN denx = 0 THEN NULL
                       ELSE num / denx END AS elasticity,
                  CASE WHEN denx = 0 OR deny = 0 THEN NULL
                       ELSE (num * num) / (denx * deny) END AS r2
           FROM pex ORDER BY item_category"""),

    // ---- ext: Holt's linear trend — level+trend double exponential
    // smoothing, one-step forecast (q155's recurrence with slope) ----
    Gated("q193_holt_forecast", (s, dir) =>
      graft.ext.Timeseries.holtForecast(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBaseRecursive(
        """hld AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           hls AS (
             SELECT restaurant_id, creation_date, cents,
                    row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY creation_date) AS rn
             FROM hld),
           hlr AS (
             SELECT restaurant_id, rn, CAST(cents AS DOUBLE) AS l,
                    CAST(0 AS DOUBLE) AS b, CAST(NULL AS DOUBLE) AS f
             FROM hls WHERE rn = 1
             UNION ALL
             SELECT d.restaurant_id, d.rn,
                    0.25 * CAST(d.cents AS DOUBLE) + 0.75 * (r.l + r.b),
                    0.125 * ((0.25 * CAST(d.cents AS DOUBLE)
                              + 0.75 * (r.l + r.b)) - r.l)
                      + 0.875 * r.b,
                    r.l + r.b
             FROM hlr r JOIN hls d
               ON d.restaurant_id = r.restaurant_id AND d.rn = r.rn + 1)""",
        """SELECT d.restaurant_id, d.creation_date,
                  d.cents / 10000.0 AS daily_revenue,
                  r.l / 10000.0 AS level,
                  r.b / 10000.0 AS trend,
                  r.f / 10000.0 AS forecast_revenue
           FROM hlr r JOIN hls d USING (restaurant_id, rn)
           ORDER BY d.restaurant_id, d.creation_date""")),

    // ---- ext: daily new-vs-returning customer decomposition ----
    Gated("q201_new_returning", (s, dir) =>
      graft.ext.Timeseries.newVsReturning(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("creation_date")),
      OracleSql.withBase(
        """nru AS (SELECT DISTINCT user_id, creation_date FROM order_revenue),
           nrf AS (SELECT user_id, min(creation_date) AS first_date
                   FROM nru GROUP BY 1),
           nrd AS (
             SELECT u.creation_date,
                    count(*) AS active_users,
                    CAST(sum(CASE WHEN u.creation_date = f.first_date
                                  THEN 1 ELSE 0 END) AS BIGINT) AS new_users
             FROM nru u JOIN nrf f USING (user_id)
             GROUP BY 1)""",
        """SELECT creation_date, active_users, new_users,
                  active_users - new_users AS returning_users,
                  round(CAST(new_users AS DOUBLE) / active_users, 6)
                    AS new_share
           FROM nrd ORDER BY creation_date""",
      )),

    // ---- ext: per-restaurant lifecycle profile (span, active-day
    // density, revenue per active day) ----
    Gated("q205_lifecycle", (s, dir) =>
      graft.ext.Timeseries.lifecycleProfile(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """lcd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           lca AS (
             SELECT restaurant_id,
                    min(creation_date) AS first_day,
                    max(creation_date) AS last_day,
                    count(*) AS active_days,
                    CAST(sum(cents) AS BIGINT) AS cents
             FROM lcd GROUP BY 1)""",
        """SELECT restaurant_id, first_day, last_day,
                  CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT)
                    AS span_days,
                  active_days,
                  round(CAST(active_days AS DOUBLE)
                        / (date_diff('day', first_day, last_day) + 1), 6)
                    AS activity_density,
                  round(cents / 10000.0 / active_days, 6)
                    AS revenue_per_active_day
           FROM lca ORDER BY restaurant_id""",
      )),

    // ---- ext: Theil–Sen robust market trend (median of pairwise
    // day-slopes; outlier-immune sibling of q154's OLS fit) ----
    Gated("q230_theil_sen", (s, dir) =>
      graft.ext.Timeseries.theilSen(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("n_days")),
      OracleSql.withBase(
        """tsd AS (SELECT creation_date,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
                FROM order_revenue GROUP BY 1),
         tss AS (SELECT min(creation_date) AS d0, max(creation_date) AS d1
                 FROM tsd),
         tsn AS (SELECT d0,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM tss),
         tsg AS (SELECT datediff('day', n.d0, n.creation_date) AS d,
                        coalesce(t.cents, 0) AS x
                 FROM tsn n LEFT JOIN tsd t USING (creation_date)),
         tsp AS (SELECT CAST(round(CAST(b.x - a.x AS DOUBLE) / (b.d - a.d)
                          * 1000000) AS BIGINT) AS sq
                 FROM tsg a JOIN tsg b ON b.d > a.d),
         tsm AS (SELECT median(sq) AS m, count(*) AS n_pairs FROM tsp),
         tsr AS (SELECT m, n_pairs,
                        CAST(round((CAST(g.x AS DOUBLE) - m / 1000000.0 * g.d)
                          * 100) AS BIGINT) AS rq
                 FROM tsg g CROSS JOIN tsm),
         tsf AS (SELECT m, n_pairs, median(rq) AS ic, count(*) AS n_days
                 FROM tsr GROUP BY 1, 2)""",
        """SELECT n_days, n_pairs,
                round(m / 10000000000.0, 6) AS slope_per_day,
                round(ic / 1000000.0, 6) AS intercept
         FROM tsf ORDER BY n_days""")),

    // ---- ext: Hampel filter — ±3-day rolling-median/MAD revenue
    // outliers per restaurant (median sibling of q132's rolling-z) ----
    Gated("q233_hampel", (s, dir) =>
      graft.ext.Timeseries.hampelOutliers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBase(
        """hpd AS (SELECT restaurant_id, creation_date,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS x
                FROM order_revenue GROUP BY 1, 2),
         hpg AS (SELECT restaurant_id, creation_date, x,
                        row_number() OVER (PARTITION BY restaurant_id
                          ORDER BY creation_date) AS d
                 FROM hpd),
         hpm AS (SELECT a.restaurant_id, a.d, median(b.x) AS med
                 FROM hpg a JOIN hpg b
                   ON a.restaurant_id = b.restaurant_id
                  AND b.d BETWEEN a.d - 3 AND a.d + 3
                 GROUP BY 1, 2),
         hpq AS (SELECT g.restaurant_id, g.creation_date, g.d, g.x, m.med
                 FROM hpg g JOIN hpm m
                   ON g.restaurant_id = m.restaurant_id AND g.d = m.d),
         hpa AS (SELECT a.restaurant_id, a.d, median(abs(b.x - a.med)) AS mad
                 FROM hpq a JOIN hpg b
                   ON a.restaurant_id = b.restaurant_id
                  AND b.d BETWEEN a.d - 3 AND a.d + 3
                 GROUP BY 1, 2)""",
        """SELECT q.restaurant_id, q.creation_date,
                q.x / 10000.0 AS revenue,
                q.med / 10000.0 AS rolling_median,
                a.mad / 10000.0 AS rolling_mad,
                CASE WHEN a.mad > 0
                     THEN round(abs(q.x - q.med) / (4.4478 * a.mad), 6)
                     END AS severity
         FROM hpq q JOIN hpa a
           ON q.restaurant_id = a.restaurant_id AND q.d = a.d
         WHERE (a.mad > 0 AND abs(q.x - q.med) > 4.4478 * a.mad)
            OR (a.mad = 0 AND abs(q.x - q.med) > 0)
         ORDER BY q.restaurant_id, q.creation_date""")),

    // ---- ext: seasonal-naive forecast with empirical p10/p90 bands
    // over the last week (coverage-flagged holdout) ----
    Gated("q246_forecast_bands", (s, dir) =>
      graft.ext.Timeseries.seasonalNaiveBands(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBase(
        """fbd AS (SELECT restaurant_id, creation_date,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                         AS cents
                FROM order_revenue GROUP BY 1, 2),
         fbs AS (SELECT restaurant_id, min(creation_date) AS d0,
                        max(creation_date) AS d1
                 FROM fbd GROUP BY 1),
         fbn AS (SELECT restaurant_id, d1,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM fbs),
         fbg AS (SELECT n.restaurant_id, n.creation_date, n.d1,
                        coalesce(t.cents, 0) AS x
                 FROM fbn n LEFT JOIN fbd t
                   ON n.restaurant_id = t.restaurant_id
                  AND n.creation_date = t.creation_date),
         fbl AS (SELECT *, lag(x, 7) OVER (PARTITION BY restaurant_id
                   ORDER BY creation_date) AS f
                 FROM fbg),
         fbr AS (SELECT restaurant_id, creation_date, d1, x, f, x - f AS r
                 FROM fbl WHERE f IS NOT NULL),
         fbb AS (SELECT restaurant_id, count(*) AS n_train,
                        quantile_cont(r, 0.1) AS p10,
                        quantile_cont(r, 0.9) AS p90
                 FROM fbr
                 WHERE NOT (creation_date > d1 - INTERVAL 7 DAY)
                 GROUP BY 1)""",
        """SELECT h.restaurant_id, h.creation_date, b.n_train,
                h.x / 10000.0 AS actual, h.f / 10000.0 AS forecast,
                (h.f + b.p10) / 10000.0 AS lo,
                (h.f + b.p90) / 10000.0 AS hi,
                (CAST(h.x AS DOUBLE) >= h.f + b.p10
                 AND CAST(h.x AS DOUBLE) <= h.f + b.p90) AS within_band
         FROM fbr h JOIN fbb b ON h.restaurant_id = b.restaurant_id
         WHERE h.creation_date > h.d1 - INTERVAL 7 DAY
         ORDER BY h.restaurant_id, h.creation_date""")),

    // ---- ext: weekday seasonal strength η² per restaurant ----
    Gated("q247_seasonal_strength", (s, dir) =>
      graft.ext.Timeseries.seasonalStrength(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """ssd AS (SELECT restaurant_id, creation_date,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                         // 10000 AS d
                FROM order_revenue GROUP BY 1, 2),
         ssw AS (SELECT restaurant_id, isodow(creation_date) - 1 AS wd,
                        count(*) AS ng, CAST(sum(d) AS BIGINT) AS sg,
                        CAST(sum(d * d) AS BIGINT) AS sgg
                 FROM ssd GROUP BY 1, 2),
         sstt AS (SELECT *, CAST(floor(CAST(sg AS DOUBLE) * sg / ng * 1000
                    + 0.5) AS BIGINT) AS tg
                  FROM ssw),
         ssa AS (SELECT restaurant_id, CAST(sum(ng) AS BIGINT) AS n,
                        CAST(sum(sg) AS BIGINT) AS s,
                        CAST(sum(sgg) AS BIGINT) AS sxx,
                        CAST(sum(tg) AS BIGINT) AS tb,
                        count(*) AS n_weekdays
                 FROM sstt GROUP BY 1),
         ssf AS (SELECT restaurant_id, n AS n_days, n_weekdays, tb,
                        CAST(s AS DOUBLE) * s / n AS cf,
                        CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * s / n
                          AS sstv
                 FROM ssa)""",
        """SELECT restaurant_id, n_days, n_weekdays,
                floor(((tb / 1000.0 - cf) / sstv) * 1000000.0 + 0.5)
                  / 1000000.0 AS seasonal_strength
         FROM ssf WHERE sstv > 0 ORDER BY restaurant_id""")),

    // ---- ext: Holt-Winters additive weekly-seasonal forecast (the
    // seasonal completion of the EWMA -> Holt smoother ladder) ----
    Gated("q301_holt_winters", (s, dir) =>
      graft.ext.Timeseries.holtWintersForecast(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBaseRecursive(
        """hwd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents,
                    CAST(CAST(creation_date - DATE '1970-01-01' AS BIGINT)
                      % 7 AS INT) AS k
             FROM order_revenue GROUP BY 1, 2),
         hws AS (
             SELECT *, row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY creation_date) AS rn
             FROM hwd),
         hwr AS (
             SELECT restaurant_id, rn, CAST(cents AS DOUBLE) AS l,
                    CAST(0 AS DOUBLE) AS b,
                    [CAST(0 AS DOUBLE), 0, 0, 0, 0, 0, 0] AS s,
                    CAST(NULL AS DOUBLE) AS f
             FROM hws WHERE rn = 1
             UNION ALL
             SELECT d.restaurant_id, d.rn,
                    0.25 * (CAST(d.cents AS DOUBLE) - r.s[d.k + 1])
                      + 0.75 * (r.l + r.b),
                    0.125 * ((0.25 * (CAST(d.cents AS DOUBLE)
                        - r.s[d.k + 1]) + 0.75 * (r.l + r.b)) - r.l)
                      + 0.875 * r.b,
                    [CASE WHEN j = d.k + 1
                       THEN 0.25 * (CAST(d.cents AS DOUBLE)
                         - (0.25 * (CAST(d.cents AS DOUBLE)
                             - r.s[d.k + 1]) + 0.75 * (r.l + r.b)))
                         + 0.75 * r.s[j]
                       ELSE r.s[j] END FOR j IN [1, 2, 3, 4, 5, 6, 7]],
                    r.l + r.b + r.s[d.k + 1]
             FROM hwr r JOIN hws d
               ON d.restaurant_id = r.restaurant_id AND d.rn = r.rn + 1)""",
        """SELECT d.restaurant_id, d.creation_date,
                d.cents / 10000.0 AS daily_revenue,
                r.l / 10000.0 AS level,
                r.b / 10000.0 AS trend,
                r.s[d.k + 1] / 10000.0 AS seasonal,
                r.f / 10000.0 AS forecast_revenue
         FROM hwr r JOIN hws d USING (restaurant_id, rn)
         ORDER BY d.restaurant_id, d.creation_date""")),

    // ---- ext: single-changepoint location by binary segmentation
    // (WHERE the level shifted; q124's CUSUM alarms THAT it did) ----
    Gated("q302_changepoint", (s, dir) =>
      graft.ext.Timeseries.changepoint(
        Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """cpd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents
             FROM order_revenue GROUP BY 1, 2),
         cpt AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(cents) AS HUGEINT) AS st,
                    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
                      AS qt
             FROM cpd GROUP BY 1),
         cpp AS (
             SELECT restaurant_id, creation_date,
                    CAST(count(*) OVER w AS BIGINT) AS t,
                    CAST(sum(CAST(cents AS HUGEINT)) OVER w AS HUGEINT)
                      AS sl
             FROM cpd
             WINDOW w AS (PARTITION BY restaurant_id
               ORDER BY creation_date ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)),
         cps AS (
             SELECT p.*, t2.n, t2.st, t2.qt,
                    CAST(p.sl AS DOUBLE) * CAST(p.sl AS DOUBLE)
                      / CAST(p.t AS DOUBLE)
                    + CAST(t2.st - p.sl AS DOUBLE)
                      * CAST(t2.st - p.sl AS DOUBLE)
                      / CAST(t2.n - p.t AS DOUBLE) AS score
             FROM cpp p JOIN cpt t2 USING (restaurant_id)
             WHERE p.t < t2.n),
         cpr AS (
             SELECT *, row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY score DESC, creation_date) AS rn
             FROM cps)""",
        """SELECT restaurant_id, creation_date AS change_date,
                t AS n_before, n - t AS n_after,
                (((sl * 100 * 2) + t) // (t * 2)) / 1000000.0
                  AS mean_before,
                ((((st - sl) * 100 * 2) + (n - t)) // ((n - t) * 2))
                  / 1000000.0 AS mean_after,
                CASE WHEN CAST(qt AS DOUBLE) - CAST(st AS DOUBLE)
                       * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) > 0
                  THEN round((CAST(qt AS DOUBLE) - score)
                    / (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE)
                       * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                END AS sse_share_remaining
         FROM cpr WHERE rn = 1 ORDER BY restaurant_id""")),

    // ---- ext: Mann-Kendall monotone-trend test per restaurant (the
    // distribution-free significance companion to q230 Theil-Sen) ----
    Gated("q321_mann_kendall", (s, dir) =>
      graft.ext.Timeseries.mannKendall(Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """mkm AS (
             SELECT restaurant_id, date_trunc('month', creation_date) AS m,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS c
             FROM order_revenue GROUP BY 1, 2),
         mks AS (SELECT a.restaurant_id,
                        CAST(sum(CASE WHEN b.c > a.c THEN 1
                                      WHEN b.c < a.c THEN -1
                                      ELSE 0 END) AS BIGINT) AS s
                 FROM mkm a JOIN mkm b
                   ON a.restaurant_id = b.restaurant_id AND b.m > a.m
                 GROUP BY 1),
         mkt AS (SELECT restaurant_id, c, CAST(count(*) AS BIGINT) AS t
                 FROM mkm GROUP BY 1, 2),
         mkn AS (SELECT restaurant_id, CAST(sum(t) AS BIGINT) AS n,
                        CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                          AS tie_sum
                 FROM mkt GROUP BY 1),
         mkv AS (SELECT n.restaurant_id, n.n, coalesce(s.s, 0) AS s,
                        n.n * (n.n - 1) * (2 * n.n + 5) - n.tie_sum AS vn
                 FROM mkn n LEFT JOIN mks s USING (restaurant_id)),
         mkz AS (SELECT *,
                        CAST(round(CASE
                          WHEN s > 0 THEN (s - 1) / sqrt(vn / 18.0)
                          WHEN s < 0 THEN (s + 1) / sqrt(vn / 18.0)
                          ELSE 0.0 END * 1e6) AS BIGINT) AS zq
                 FROM mkv),
         mkx AS (SELECT *, abs(zq) / 1e6 / sqrt(2.0) AS x FROM mkz),
         mkw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM mkx),
         mkp AS (SELECT restaurant_id, n, s, zq,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(x * x)) * 1e9)
                          AS BIGINT) AS pu
                 FROM mkw)""",
        """SELECT restaurant_id, n AS n_months, s AS s_stat, zq / 1e6 AS z,
                pu / 1e9 AS p_value,
                CASE WHEN s > 0 THEN 'up' WHEN s < 0 THEN 'down'
                     ELSE 'flat' END AS trend
         FROM mkp ORDER BY restaurant_id""")),

    // ---- ext: Poisson overdispersion test of daily demand (the
    // model-choice gate before count forecasting: D ~ 1 Poisson-like,
    // D >> 1 clumped; Wilson-Hilferty upper-tail p) ----
    Gated("q324_overdispersion", (s, dir) =>
      graft.ext.Timeseries.overdispersion(
        Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """odd AS (
             SELECT restaurant_id, creation_date,
                    CAST(count(*) AS BIGINT) AS x
             FROM order_revenue GROUP BY 1, 2),
         ods AS (SELECT restaurant_id, min(creation_date) AS d0,
                        max(creation_date) AS d1
                 FROM odd GROUP BY 1),
         odn AS (SELECT restaurant_id,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM ods),
         odg AS (SELECT n.restaurant_id, coalesce(d.x, 0) AS x
                 FROM odn n LEFT JOIN odd d
                   USING (restaurant_id, creation_date)),
         oda AS (SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(x) AS BIGINT) AS sx,
                        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
                 FROM odg GROUP BY 1
                 HAVING count(*) > 1 AND sum(x) > 0),
         odq AS (SELECT *,
                        CAST(n AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * sx AS num
                 FROM oda),
         odc AS (SELECT *,
                        CAST(round(CAST(num AS DOUBLE) / sx * 1e6) AS BIGINT)
                          AS chi2q,
                        CAST(n - 1 AS DOUBLE) AS nu
                 FROM odq),
         odz AS (SELECT *,
                        CAST(round((cbrt(chi2q / 1e6 / nu)
                            - (1.0 - 2.0 / (9.0 * nu)))
                          * sqrt(9.0 * nu / 2.0) * 1e6) AS BIGINT) AS zq
                 FROM odc),
         odx AS (SELECT *, abs(zq) / 1e6 / sqrt(2.0) AS ax FROM odz),
         odw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ax) AS tt FROM odx),
         ode AS (SELECT *,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(ax * ax)) * 1e9)
                          AS BIGINT) AS eu
                 FROM odw),
         odp AS (SELECT *, CASE WHEN zq >= 0 THEN (eu + 1) // 2
                           ELSE 1000000000 - eu // 2 END AS pu
                 FROM ode)""",
        """SELECT restaurant_id, n AS n_days,
                ((sx * 1000000 * 2 + n) // (n * 2)) / 1000000.0
                  AS mean_lines,
                CAST((CAST(num AS HUGEINT) * 1000000 * 2
                      + CAST(n - 1 AS HUGEINT) * sx)
                     // (CAST(n - 1 AS HUGEINT) * sx * 2) AS DOUBLE) / 1e6
                  AS dispersion,
                chi2q / 1e6 AS chi2, zq / 1e6 AS z, pu / 1e9 AS p_over
         FROM odp ORDER BY restaurant_id""")),

    // ---- ext: Ljung-Box portmanteau white-noise test (the one-number
    // verdict over q173's ACF diagram; chi2_h via Wilson-Hilferty) ----
    Gated("q325_ljung_box", (s, dir) =>
      graft.ext.Timeseries.ljungBox(Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """lbd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents
             FROM order_revenue GROUP BY 1, 2),
         lbs AS (SELECT restaurant_id, min(creation_date) AS d0,
                        max(creation_date) AS d1
                 FROM lbd GROUP BY 1),
         lbn AS (SELECT restaurant_id,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM lbs),
         lbg AS (SELECT n.restaurant_id, n.creation_date,
                        coalesce(d.cents, 0) // 10000 AS x
                 FROM lbn n LEFT JOIN lbd d
                   ON n.restaurant_id = d.restaurant_id
                  AND n.creation_date = d.creation_date),
         lbt AS (SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(x) AS BIGINT) AS sx,
                        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
                 FROM lbg GROUP BY 1 HAVING count(*) > 8),
         lbl AS (SELECT g.restaurant_id, l.lag, g.x,
                        lag(g.x, l.lag) OVER (
                          PARTITION BY g.restaurant_id, l.lag
                          ORDER BY g.creation_date) AS xl
                 FROM lbg g CROSS JOIN
                   (SELECT unnest(range(1, 8)) AS lag) l),
         lba AS (SELECT restaurant_id, lag, CAST(count(*) AS BIGINT) AS nk,
                        CAST(sum(CAST(x AS HUGEINT) * xl) AS HUGEINT)
                          AS spk,
                        CAST(sum(x) AS BIGINT) AS s1k,
                        CAST(sum(xl) AS BIGINT) AS s2k
                 FROM lbl WHERE xl IS NOT NULL GROUP BY 1, 2),
         lbr AS (SELECT a.restaurant_id, a.nk, t.n,
                        CAST(t.sx AS DOUBLE) / t.n AS sxd,
                        CAST(a.spk AS DOUBLE)
                          - (CAST(t.sx AS DOUBLE) / t.n)
                            * (CAST(a.s1k AS DOUBLE)
                               + CAST(a.s2k AS DOUBLE))
                          + a.nk * (CAST(t.sx AS DOUBLE) / t.n)
                            * (CAST(t.sx AS DOUBLE) / t.n) AS rnum,
                        CAST(t.sxx AS DOUBLE)
                          - t.sx * (CAST(t.sx AS DOUBLE) / t.n) AS rden
                 FROM lba a JOIN lbt t USING (restaurant_id)),
         lbu AS (SELECT restaurant_id, nk, n,
                        CAST(round(rnum / rden * 1e9) AS BIGINT) AS ru
                 FROM lbr WHERE rden > 0),
         lbq AS (SELECT restaurant_id, n,
                        CAST(sum(CAST(round((ru / 1e9) * (ru / 1e9) / nk
                          * 1e12) AS BIGINT)) AS BIGINT) AS stq,
                        CAST(count(*) AS BIGINT) AS h
                 FROM lbu GROUP BY 1, 2),
         lbq6 AS (SELECT *,
                        CAST(round(CAST(n AS DOUBLE) * (n + 2)
                          * (stq / 1e12) * 1e6) AS BIGINT) AS q6,
                        CAST(h AS DOUBLE) AS nu
                  FROM lbq),
         lbz AS (SELECT *,
                        CAST(round((cbrt(q6 / 1e6 / nu)
                            - (1.0 - 2.0 / (9.0 * nu)))
                          * sqrt(9.0 * nu / 2.0) * 1e6) AS BIGINT) AS zq
                 FROM lbq6),
         lbx AS (SELECT *, abs(zq) / 1e6 / sqrt(2.0) AS ax FROM lbz),
         lbw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ax) AS tt FROM lbx),
         lbe AS (SELECT *,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(ax * ax)) * 1e9)
                          AS BIGINT) AS eu
                 FROM lbw),
         lbp AS (SELECT *, CASE WHEN zq >= 0 THEN (eu + 1) // 2
                           ELSE 1000000000 - eu // 2 END AS pu
                 FROM lbe)""",
        """SELECT restaurant_id, n AS n_days, h AS h_lags,
                q6 / 1e6 AS q_stat, pu / 1e9 AS p_value
         FROM lbp ORDER BY restaurant_id""")),

    // ---- ext: Wald-Wolfowitz runs test on above/below-mean day signs
    // (the nonparametric randomness check next to q325) ----
    Gated("q328_runs_test", (s, dir) =>
      graft.ext.Timeseries.runsTest(Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """rtd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents
             FROM order_revenue GROUP BY 1, 2),
         rts AS (SELECT restaurant_id, min(creation_date) AS d0,
                        max(creation_date) AS d1
                 FROM rtd GROUP BY 1),
         rtn AS (SELECT restaurant_id,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM rts),
         rtg AS (SELECT n.restaurant_id, n.creation_date,
                        coalesce(d.cents, 0) AS x
                 FROM rtn n LEFT JOIN rtd d
                   ON n.restaurant_id = d.restaurant_id
                  AND n.creation_date = d.creation_date),
         rtt AS (SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(x) AS BIGINT) AS sx
                 FROM rtg GROUP BY 1),
         rtsg AS (SELECT g.restaurant_id, g.creation_date, t.n,
                         CASE WHEN CAST(g.x AS HUGEINT) * t.n
                                   > CAST(t.sx AS HUGEINT)
                              THEN 1 ELSE 0 END AS s
                  FROM rtg g JOIN rtt t USING (restaurant_id)),
         rtc AS (SELECT *,
                        CASE WHEN lag(s) OVER (PARTITION BY restaurant_id
                               ORDER BY creation_date) IS NULL THEN 0
                             WHEN s <> lag(s) OVER (PARTITION BY
                               restaurant_id ORDER BY creation_date)
                               THEN 1 ELSE 0 END AS chg
                 FROM rtsg),
         rta AS (SELECT restaurant_id, n,
                        CAST(sum(s) AS BIGINT) AS n1,
                        1 + CAST(sum(chg) AS BIGINT) AS r
                 FROM rtc GROUP BY 1, 2),
         rtb AS (SELECT *, n - n1 AS n2 FROM rta
                 WHERE n1 > 0 AND n - n1 > 0),
         rte AS (SELECT *,
                        2.0 * n1 * n2 / n + 1.0 AS e,
                        2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                          / (CAST(n AS DOUBLE) * n * (n - 1)) AS v
                 FROM rtb),
         rtz AS (SELECT *,
                        CAST(round((r - e) / sqrt(v) * 1e6) AS BIGINT) AS zq
                 FROM rte WHERE v > 0),
         rtx AS (SELECT *, abs(zq) / 1e6 / sqrt(2.0) AS ax FROM rtz),
         rtw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ax) AS tt FROM rtx),
         rtp AS (SELECT *,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(ax * ax)) * 1e9)
                          AS BIGINT) AS pu
                 FROM rtw)""",
        """SELECT restaurant_id, n AS n_days, n1 AS n_above, r AS n_runs,
                zq / 1e6 AS z, pu / 1e9 AS p_value
         FROM rtp ORDER BY restaurant_id""")),
  )
}
