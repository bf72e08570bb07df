package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.oracle.OracleSql

object SurvivalQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: Kaplan-Meier customer-lifetime survival per restaurant
    // (censoring-aware churn; product recurrence via mapPartitions) ----
    Gated("q158_kaplan_meier", (s, dir) =>
      graft.ext.Survival.kaplanMeier(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("duration_days")),
      OracleSql.withBaseRecursive(
        """kmu AS (
             SELECT restaurant_id, user_id,
                    min(creation_date) AS first_date,
                    max(creation_date) AS last_date
             FROM order_revenue GROUP BY 1, 2),
           kma AS (SELECT max(creation_date) AS anchor FROM order_revenue),
           kmh AS (
             SELECT restaurant_id,
                    CAST(datediff('day', first_date, last_date) AS BIGINT)
                      AS dur,
                    CAST(sum(CASE WHEN datediff('day', last_date, anchor) >= 30
                                  THEN 1 ELSE 0 END) AS BIGINT) AS d,
                    CAST(count(*) AS BIGINT) AS m
             FROM kmu CROSS JOIN kma GROUP BY 1, 2),
           kmr AS (
             SELECT restaurant_id, dur, d,
                    CAST(sum(m) OVER (PARTITION BY restaurant_id
                      ORDER BY dur DESC) AS BIGINT) AS n
             FROM kmh),
           kme AS (
             SELECT restaurant_id, dur, d, n,
                    row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY dur) AS rn
             FROM kmr WHERE d > 0),
           kms AS (
             SELECT restaurant_id, rn, dur, d, n,
                    CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE) AS s
             FROM kme WHERE rn = 1
             UNION ALL
             SELECT e.restaurant_id, e.rn, e.dur, e.d, e.n,
                    r.s * (CAST(e.n - e.d AS DOUBLE) / CAST(e.n AS DOUBLE))
             FROM kms r JOIN kme e
               ON e.restaurant_id = r.restaurant_id AND e.rn = r.rn + 1)""",
        """SELECT restaurant_id, dur AS duration_days, n AS n_risk,
                  d AS n_events, s AS survival
           FROM kms ORDER BY restaurant_id, duration_days""")),

    // ---- ext: log-rank test between loyalty/non-loyalty survival
    // curves (the censoring-aware companion to q158's Kaplan-Meier) ----
    Gated("q306_log_rank", (s, dir) =>
      graft.ext.Survival.logRankTest(Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """lru AS (
             SELECT user_id, min(creation_date) AS first_date,
                    max(creation_date) AS last_date,
                    max(CASE WHEN is_loyalty THEN 1 ELSE 0 END) AS g
             FROM order_revenue GROUP BY 1),
         lra AS (SELECT max(creation_date) AS anchor FROM order_revenue),
         lrh AS (
             SELECT CAST(datediff('day', first_date, last_date) AS BIGINT)
                      AS dur,
                    CAST(sum(CASE WHEN datediff('day', last_date, anchor)
                         >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d,
                    CAST(count(*) AS BIGINT) AS m,
                    CAST(sum(CASE WHEN datediff('day', last_date, anchor)
                         >= 30 THEN g ELSE 0 END) AS BIGINT) AS d1,
                    CAST(sum(g) AS BIGINT) AS m1
             FROM lru CROSS JOIN lra GROUP BY 1),
         lrc AS (
             SELECT *,
                    CAST(sum(m) OVER (ORDER BY dur DESC ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
                    CAST(sum(m1) OVER (ORDER BY dur DESC ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1
             FROM lrh),
         lrt AS (
             SELECT d, d1,
                    CAST(round(CAST(d AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9)
                      AS BIGINT) AS e1u,
                    CASE WHEN n > 1 THEN
                      CAST(round(CAST(d AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                        * 1e9) AS BIGINT)
                    ELSE 0 END AS vu
             FROM lrc WHERE d > 0),
         lrs AS (
             SELECT CAST(sum(d1) AS BIGINT) AS o1,
                    CAST(sum(d - d1) AS BIGINT) AS o0,
                    CAST(sum(e1u) AS BIGINT) AS se1,
                    CAST(sum(vu) AS BIGINT) AS sv
             FROM lrt),
         lrn AS (
             SELECT CAST(sum(g) AS BIGINT) AS n_treat,
                    CAST(sum(1 - g) AS BIGINT) AS n_ctrl
             FROM lru)""",
        """SELECT n_treat, n_ctrl, o1 AS events_treat, o0 AS events_ctrl,
                round(se1 / 1e9, 6) AS expected_treat,
                CASE WHEN sv > 0
                  THEN round((CAST(o1 AS DOUBLE) - se1 / 1e9)
                    * (CAST(o1 AS DOUBLE) - se1 / 1e9) / (sv / 1e9), 6)
                END AS chi2
         FROM lrs CROSS JOIN lrn""")),

    // ---- ext: Nelson-Aalen cumulative hazard per loyalty arm (the
    // hazard-scale member of the survival family: q158 KM S(t),
    // q306 log-rank comparison, this reads WHERE hazard accumulates) --
    Gated("q309_nelson_aalen", (s, dir) =>
      graft.ext.Survival.nelsonAalen(Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """nau AS (
             SELECT user_id, min(creation_date) AS first_date,
                    max(creation_date) AS last_date,
                    max(CASE WHEN is_loyalty THEN 1 ELSE 0 END) AS g
             FROM order_revenue GROUP BY 1),
         naa AS (SELECT max(creation_date) AS anchor FROM order_revenue),
         nah AS (
             SELECT g,
                    CAST(datediff('day', first_date, last_date) AS BIGINT)
                      AS dur,
                    CAST(sum(CASE WHEN datediff('day', last_date, anchor)
                         >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d,
                    CAST(count(*) AS BIGINT) AS m
             FROM nau CROSS JOIN naa GROUP BY 1, 2),
         nac AS (
             SELECT *,
                    CAST(sum(m) OVER (PARTITION BY g ORDER BY dur DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS n
             FROM nah),
         nat AS (
             SELECT g, dur, n, d,
                    CAST(round(CAST(d AS DOUBLE) / CAST(n AS DOUBLE) * 1e9)
                      AS BIGINT) AS hu,
                    CAST(round(CAST(d AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1e9)
                      AS BIGINT) AS vu
             FROM nac WHERE d > 0)""",
        """SELECT CAST(g AS BIGINT) AS arm, dur AS duration_days,
                n AS n_risk, d AS n_events,
                round(CAST(sum(hu) OVER w AS BIGINT) / 1e9, 6)
                  AS cum_hazard,
                round(CAST(sum(vu) OVER w AS BIGINT) / 1e9, 6)
                  AS cum_hazard_var
         FROM nat
         WINDOW w AS (PARTITION BY g ORDER BY dur
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY arm, duration_days""")),
  )
}
