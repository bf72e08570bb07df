package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.oracle.{ExtOracleSql, OracleSql}

object AnomalyQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: robust median/MAD outliers (heavy-tail-safe anomaly tier) ----
    Gated("q115_mad_outliers", (s, dir) =>
      graft.ext.Anomaly.madOutliers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBase(
        """madd AS (
           SELECT restaurant_id, creation_date,
                  CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
           FROM order_revenue GROUP BY 1, 2),
         madm AS (
           SELECT restaurant_id, count(*) AS n_days, median(cents) AS med
           FROM madd GROUP BY 1 HAVING count(*) >= 5),
         madv AS (
           SELECT d.restaurant_id, d.creation_date, d.cents, m.med,
                  abs(d.cents - m.med) AS abs_dev
           FROM madd d JOIN madm m ON d.restaurant_id = m.restaurant_id),
         mada AS (
           SELECT restaurant_id, median(abs_dev) AS mad
           FROM madv GROUP BY 1)""",
        """SELECT v.restaurant_id, v.creation_date,
                v.cents / 10000.0 AS daily_revenue,
                v.med / 10000.0 AS median_revenue,
                a.mad / 10000.0 AS mad_revenue
         FROM madv v JOIN mada a ON v.restaurant_id = a.restaurant_id
         WHERE v.abs_dev * 10000 > a.mad * 44478
         ORDER BY v.restaurant_id, v.creation_date""")),

    // ---- ext: anomaly detection (z-score outliers over a metric mart) ----
    Gated("q56_revenue_outliers", (s, dir) =>
      graft.ext.Anomaly.revenueOutliers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      ExtOracleSql.revenueOutliers(minZ = 2.0, minDays = 5)),

    // ---- ext: CUSUM level-shift change points (sustained-shift tier
    // of the anomaly suite; robust median/MAD target) ----
    Gated("q124_cusum_shift", (s, dir) =>
      graft.ext.Anomaly.cusumShift(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBaseRecursive(
        """cud AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           cum AS (
             SELECT restaurant_id, count(*) AS n_days, median(cents) AS med
             FROM cud GROUP BY 1 HAVING count(*) >= 5),
           cua AS (
             SELECT d.restaurant_id, median(abs(d.cents - m.med)) AS mad
             FROM cud d JOIN cum m USING (restaurant_id) GROUP BY 1),
           cds AS (
             SELECT d.restaurant_id, d.creation_date, d.cents,
                    CAST(2 * m.med AS BIGINT) AS m2,
                    CAST(2 * a.mad AS BIGINT) AS mad2,
                    row_number() OVER (PARTITION BY d.restaurant_id
                      ORDER BY d.creation_date) AS rn
             FROM cud d
             JOIN cum m USING (restaurant_id)
             JOIN cua a USING (restaurant_id)),
           cr AS (
             SELECT restaurant_id, rn,
                    greatest(0, (2 * cents - m2) - mad2 // 2) AS sp,
                    greatest(0, (m2 - 2 * cents) - mad2 // 2) AS sn
             FROM cds WHERE rn = 1
             UNION ALL
             SELECT d.restaurant_id, d.rn,
                    greatest(0, r.sp + (2 * d.cents - d.m2) - d.mad2 // 2),
                    greatest(0, r.sn + (d.m2 - 2 * d.cents) - d.mad2 // 2)
             FROM cr r JOIN cds d
               ON d.restaurant_id = r.restaurant_id AND d.rn = r.rn + 1)""",
        """SELECT d.restaurant_id, d.creation_date,
                  d.cents / 10000.0 AS daily_revenue,
                  r.sp / 20000.0 AS cusum_pos, r.sn / 20000.0 AS cusum_neg,
                  (r.sp > 5 * d.mad2 OR r.sn > 5 * d.mad2) AS alarm
           FROM cr r JOIN cds d USING (restaurant_id, rn)
           ORDER BY d.restaurant_id, d.creation_date""")),

    // ---- ext: online rolling-baseline z-score (self-excluding
    // calendar-RANGE frame — what a live monitor would have known) ----
    Gated("q132_rolling_z", (s, dir) =>
      graft.ext.Anomaly.rollingZ(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date")),
      OracleSql.withBase(
        """rzd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents,
                    CAST(round(sum(round(total_revenue * 10000)) / 10000.0)
                         AS BIGINT) AS dd,
                    datediff('day', DATE '1970-01-01', creation_date) AS dnum
             FROM order_revenue GROUP BY 1, 2),
           rzw AS (
             SELECT restaurant_id, creation_date, cents, dd,
                    count(*) OVER w AS n,
                    sum(dd) OVER w AS sx,
                    sum(dd * dd) OVER w AS sxx
             FROM rzd
             WINDOW w AS (PARTITION BY restaurant_id ORDER BY dnum
                          RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING))""",
        """SELECT restaurant_id, creation_date,
                  cents / 10000.0 AS daily_revenue,
                  COALESCE(n, 0) AS baseline_n,
                  CASE WHEN n >= 5
                        AND (CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * sx / n) / n > 0
                       THEN round((dd - CAST(sx AS DOUBLE) / n)
                                  / sqrt((CAST(sxx AS DOUBLE)
                                          - CAST(sx AS DOUBLE) * sx / n) / n), 6)
                  END AS rolling_z
           FROM rzw ORDER BY restaurant_id, creation_date""")),
  )
}
