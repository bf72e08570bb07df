package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables
import graft.oracle.ExtOracleSql

object DriftQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: distribution drift (PSI) between time-sliced versions ----
    Gated("q71_psi_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.psi(
          ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
          ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
          "value", bins = 10)
        .orderBy(col("bucket"))
    },
      """WITH b AS (
           SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
         cur AS (
           SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
         st AS (SELECT min(v) AS mn, max(v) AS mx FROM b),
         bb AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(9, greatest(0, CAST(floor(
                         (v - mn) * 10 / (mx - mn)) AS BIGINT))) END AS bucket
           FROM b, st),
         cb AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(9, greatest(0, CAST(floor(
                         (v - mn) * 10 / (mx - mn)) AS BIGINT))) END AS bucket
           FROM cur, st),
         spine AS (SELECT unnest(range(0, 10)) AS bucket),
         nb AS (SELECT bucket, count(*) AS n FROM bb GROUP BY 1),
         nc AS (SELECT bucket, count(*) AS n FROM cb GROUP BY 1),
         j AS (
           SELECT s.bucket, COALESCE(nb.n, 0) AS n_base, COALESCE(nc.n, 0) AS n_cur
           FROM spine s LEFT JOIN nb USING (bucket) LEFT JOIN nc USING (bucket)),
         t AS (
           SELECT bucket, n_base, n_cur,
                  CAST(round(
                    ((CAST(n_base + 1 AS DOUBLE) / (sum(n_base) OVER () + 10))
                     - (CAST(n_cur + 1 AS DOUBLE) / (sum(n_cur) OVER () + 10)))
                    * ln((CAST(n_base + 1 AS DOUBLE) / (sum(n_base) OVER () + 10))
                       / (CAST(n_cur + 1 AS DOUBLE) / (sum(n_cur) OVER () + 10)))
                    * 1e9) AS BIGINT) AS nanos
           FROM j)
         SELECT bucket, n_base, n_cur,
                round(nanos / 1e9, 6) AS psi_term,
                round(CAST(sum(nanos) OVER () AS DOUBLE) / 1e9, 6) AS psi_total
         FROM t ORDER BY bucket"""),

    // ---- ext: binned KS statistic (nonparametric drift companion) ----
    Gated("q72_ks_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.ksBinned(
          ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
          ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
          "value", bins = 10)
        .orderBy(col("bucket"))
    },
      """WITH b AS (
           SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
         cur AS (
           SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
         st AS (SELECT min(v) AS mn, max(v) AS mx FROM b),
         bb AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(9, greatest(0, CAST(floor(
                         (v - mn) * 10 / (mx - mn)) AS BIGINT))) END AS bucket
           FROM b, st),
         cb AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(9, greatest(0, CAST(floor(
                         (v - mn) * 10 / (mx - mn)) AS BIGINT))) END AS bucket
           FROM cur, st),
         spine AS (SELECT unnest(range(0, 10)) AS bucket),
         nb AS (SELECT bucket, count(*) AS n FROM bb GROUP BY 1),
         nc AS (SELECT bucket, count(*) AS n FROM cb GROUP BY 1),
         j AS (
           SELECT s.bucket, COALESCE(nb.n, 0) AS n_base, COALESCE(nc.n, 0) AS n_cur
           FROM spine s LEFT JOIN nb USING (bucket) LEFT JOIN nc USING (bucket)),
         cdf AS (
           SELECT bucket, n_base, n_cur,
                  round(CAST(sum(n_base) OVER (ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                    / sum(n_base) OVER (), 6) AS cdf_base,
                  round(CAST(sum(n_cur) OVER (ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                    / sum(n_cur) OVER (), 6) AS cdf_cur
           FROM j)
         SELECT bucket, n_base, n_cur, cdf_base, cdf_cur,
                round(max(abs(cdf_base - cdf_cur)) OVER (), 6) AS ks_d
         FROM cdf ORDER BY bucket"""),

    // ---- ext: chi-square drift for CATEGORICAL columns ----
    Gated("q73_chi2_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.chiSquare(
          ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
          ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
          "event_type")
        .orderBy(col("category"))
    },
      """WITH nb AS (
           SELECT event_type AS category, count(*) AS n FROM events
           WHERE ts < TIMESTAMP '2024-01-16' AND event_type IS NOT NULL
           GROUP BY 1),
         nc AS (
           SELECT event_type AS category, count(*) AS n FROM events
           WHERE ts >= TIMESTAMP '2024-01-16' AND event_type IS NOT NULL
           GROUP BY 1),
         j AS (
           SELECT COALESCE(nb.category, nc.category) AS category,
                  COALESCE(nb.n, 0) AS n_base, COALESCE(nc.n, 0) AS n_cur
           FROM nb FULL OUTER JOIN nc ON nb.category = nc.category),
         e AS (
           SELECT category, n_base, n_cur,
                  CAST(sum(n_base) OVER () AS DOUBLE)
                    * CAST(n_base + n_cur AS DOUBLE)
                    / CAST(sum(n_base + n_cur) OVER () AS DOUBLE) AS eb,
                  CAST(sum(n_cur) OVER () AS DOUBLE)
                    * CAST(n_base + n_cur AS DOUBLE)
                    / CAST(sum(n_base + n_cur) OVER () AS DOUBLE) AS ec
           FROM j),
         t AS (
           SELECT category, n_base, n_cur,
                  CAST(round((
                      (CAST(n_base AS DOUBLE) - eb)
                        * (CAST(n_base AS DOUBLE) - eb) / eb
                    + (CAST(n_cur AS DOUBLE) - ec)
                        * (CAST(n_cur AS DOUBLE) - ec) / ec
                  ) * 1e9) AS BIGINT) AS nanos
           FROM e)
         SELECT category, n_base, n_cur,
                round(CAST(nanos AS DOUBLE) / 1e9, 6) AS chi2_term,
                round(CAST(sum(nanos) OVER () AS DOUBLE) / 1e9, 6) AS chi2_total,
                CAST(count(*) OVER () - 1 AS BIGINT) AS dof
         FROM t ORDER BY category"""),

    // ---- ext: per-source Jensen-Shannon divergence vs the pooled
    // token mix — vocabulary drift for training-mix audits ----
    Gated("q143_jsd_sources", (s, dir) =>
      graft.ext.Drift.jsdPerGroup(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source")),
      ExtOracleSql.jsdPerGroup()),
  )
}
