package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.core.Tables
import graft.oracle.{ExtOracleSql, OracleSql}

object ExperimentQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: CUPED variance-reduced A/B readout over the event
    // stream (hash-assigned variants, pre/post split mid-month) ----
    Gated("q147_cuped", (s, dir) =>
      graft.ext.Experiment.cupedReadout(
          Tables.events(s, dir), "user_id", "ts", "value",
          splitTs = "2024-01-16")
        .orderBy(col("variant")),
      ExtOracleSql.cupedReadout(
        splitTs = "2024-01-16", salt = "cuped")),

    // ---- ext: stratified loyalty-uplift readout (per-category + pooled
    // ALL row from one ROLLUP pass) ----
    Gated("q199_uplift_strata", (s, dir) =>
      graft.ext.Experiment.loyaltyUpliftStrata(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("stratum")),
      OracleSql.withBase(
        """upl AS (
             SELECT item_category,
                    CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_treat,
                    CAST(sum(CASE WHEN is_loyalty THEN 0 ELSE 1 END)
                      AS BIGINT) AS n_ctrl,
                    CAST(sum(CASE WHEN is_loyalty
                             THEN CAST(round(total_revenue * 10000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS s_treat,
                    CAST(sum(CASE WHEN is_loyalty THEN 0
                             ELSE CAST(round(total_revenue * 10000) AS BIGINT)
                             END) AS BIGINT) AS s_ctrl
             FROM order_revenue GROUP BY ROLLUP (item_category))""",
        """SELECT COALESCE(item_category, 'ALL') AS stratum,
                  n_treat, n_ctrl,
                  round(s_treat / 10000.0 / n_treat, 6) AS mean_treat,
                  round(s_ctrl / 10000.0 / n_ctrl, 6) AS mean_ctrl,
                  round(s_treat / 10000.0 / n_treat
                        - s_ctrl / 10000.0 / n_ctrl, 6) AS uplift
           FROM upl WHERE n_treat > 0 AND n_ctrl > 0
           ORDER BY stratum""",
      )),

    // ---- ext: cumulative gain chart — decile capture/lift of loyalty
    // users under the frequency ranking (targeting-model readout) ----
    Gated("q203_gain_chart", (s, dir) =>
      graft.ext.Experiment.gainChart(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("decile")),
      OracleSql.withBase(
        """gnu AS (
             SELECT user_id, count(DISTINCT order_id) AS freq,
                    max(CASE WHEN is_loyalty THEN 1 ELSE 0 END) AS pos
             FROM order_revenue GROUP BY 1),
           gnd AS (
             SELECT ntile(10) OVER (ORDER BY freq DESC, user_id) AS decile,
                    pos
             FROM gnu),
           gng AS (
             SELECT decile, count(*) AS n_users,
                    CAST(sum(pos) AS BIGINT) AS n_pos
             FROM gnd GROUP BY 1),
           gnc AS (
             SELECT decile, n_users, n_pos,
                    CAST(sum(n_users) OVER (ORDER BY decile
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
                    CAST(sum(n_pos) OVER (ORDER BY decile
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
             FROM gng),
           gnt AS (SELECT CAST(sum(n_users) AS BIGINT) AS tot_users,
                          CAST(sum(n_pos) AS BIGINT) AS tot_pos
                   FROM gng)""",
        """SELECT decile, n_users, n_pos,
                  round(CAST(n_pos AS DOUBLE) / n_users, 6) AS response_rate,
                  round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS cum_gain,
                  round((CAST(cum_pos AS DOUBLE) / tot_pos)
                        / (CAST(cum_users AS DOUBLE) / tot_users), 6)
                    AS cum_lift
           FROM gnc CROSS JOIN gnt ORDER BY decile""",
      )),

    // ---- ext: Mann–Whitney U loyalty-vs-rest revenue distribution
    // test per category (tie-corrected rank statistics) ----
    Gated("q232_mann_whitney", (s, dir) =>
      graft.ext.Experiment.loyaltyMannWhitney(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("item_category")),
      OracleSql.withBase(
        """mwv AS (SELECT item_category, is_loyalty,
                       CAST(round(total_revenue * 10000) AS BIGINT) AS c
                FROM order_revenue),
         mwr AS (SELECT item_category, is_loyalty,
                        CAST(rank() OVER (PARTITION BY item_category
                          ORDER BY c) AS BIGINT) * 2
                        + count(*) OVER (PARTITION BY item_category, c) - 1
                          AS r2
                 FROM mwv),
         mwa AS (SELECT item_category,
                        CAST(sum(CASE WHEN is_loyalty THEN r2 ELSE 0 END)
                          AS BIGINT) AS s2,
                        CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                          AS BIGINT) AS n1,
                        CAST(sum(CASE WHEN NOT is_loyalty THEN 1 ELSE 0 END)
                          AS BIGINT) AS n2
                 FROM mwr GROUP BY 1),
         mwt AS (SELECT item_category, CAST(sum(t * t * t - t) AS BIGINT) AS tt
                 FROM (SELECT item_category, c, count(*) AS t
                       FROM mwv GROUP BY 1, 2) q
                 GROUP BY 1)""",
        """SELECT a.item_category, a.n1 AS n_loyal, a.n2 AS n_other,
                (a.s2 - a.n1 * (a.n1 + 1)) / 2.0 AS u_stat,
                CASE WHEN a.n1 * a.n2 / 12.0 * ((a.n1 + a.n2 + 1)
                       - t.tt / ((a.n1 + a.n2) * (a.n1 + a.n2 - 1.0))) > 0
                     THEN round(((a.s2 - a.n1 * (a.n1 + 1)) / 2.0
                                 - a.n1 * a.n2 / 2.0)
                          / sqrt(a.n1 * a.n2 / 12.0 * ((a.n1 + a.n2 + 1)
                                 - t.tt / ((a.n1 + a.n2)
                                           * (a.n1 + a.n2 - 1.0)))), 6)
                     ELSE NULL END AS z
         FROM mwa a JOIN mwt t USING (item_category)
         WHERE a.n1 > 0 AND a.n2 > 0
         ORDER BY a.item_category""")),

    // ---- ext: Kruskal–Wallis H — revenue distribution across item
    // categories (K-sample sibling of q232's Mann–Whitney) ----
    Gated("q264_kruskal_wallis", (s, dir) =>
      graft.ext.Experiment.kruskalWallis(
          Conformed.orderRevenueCached(s, dir), "item_category",
          round(col("total_revenue") * 10000).cast("long")),
      OracleSql.withBase(
        """kwv AS (SELECT item_category AS g,
                       CAST(round(total_revenue * 10000) AS BIGINT) AS c
                FROM order_revenue),
         kwh AS (SELECT c, count(*) AS t FROM kwv GROUP BY 1),
         kwr AS (SELECT c,
                        2 * COALESCE(sum(t) OVER (ORDER BY c
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) + t + 1 AS r2
                 FROM kwh),
         kwg AS (SELECT g, count(*) AS n_i, sum(CAST(r2 AS HUGEINT)) AS s2
                 FROM kwv JOIN kwr USING (c) GROUP BY 1),
         kwu AS (SELECT n_i,
                        CAST(round(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                          / (4.0 * CAST(n_i AS DOUBLE)) * 1000000.0)
                          AS HUGEINT) AS term_units
                 FROM kwg),
         kwties AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tt
                    FROM kwh),
         kwtot AS (SELECT count(*) AS n_groups,
                          CAST(sum(n_i) AS BIGINT) AS n_total,
                          sum(term_units) AS hu
                   FROM kwu)""",
        """SELECT CAST(n_groups AS BIGINT) AS n_groups, n_total,
                round(12.0 / (CAST(n_total AS DOUBLE)
                        * (CAST(n_total AS DOUBLE) + 1.0))
                      * (CAST(hu AS DOUBLE) / 1000000.0)
                      - 3.0 * (CAST(n_total AS DOUBLE) + 1.0), 6) AS h,
                CASE WHEN 1.0 - CAST(tt AS DOUBLE)
                        / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                           * CAST(n_total AS DOUBLE)
                           - CAST(n_total AS DOUBLE)) > 0
                     THEN round((12.0 / (CAST(n_total AS DOUBLE)
                              * (CAST(n_total AS DOUBLE) + 1.0))
                            * (CAST(hu AS DOUBLE) / 1000000.0)
                            - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
                          / (1.0 - CAST(tt AS DOUBLE)
                             / (CAST(n_total AS DOUBLE)
                                * CAST(n_total AS DOUBLE)
                                * CAST(n_total AS DOUBLE)
                                - CAST(n_total AS DOUBLE))), 6)
                     END AS h_tie_adj
         FROM kwtot CROSS JOIN kwties""")),

    // ---- ext: loyalty difference-in-differences (2×2 cell means,
    // calendar-midpoint period split) ----
    Gated("q265_diff_in_diff", (s, dir) =>
      graft.ext.Experiment.loyaltyDiffInDiff(
        Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """ddb AS (SELECT min(creation_date) AS d0, max(creation_date) AS d1
                 FROM order_revenue),
         dds AS (SELECT d0 + CAST((d1 - d0) // 2 AS INTEGER) AS split
                 FROM ddb),
         ddv AS (SELECT r.is_loyalty AS t, r.creation_date > s.split AS p,
                        CAST(round(r.total_revenue * 10000) AS BIGINT) AS c,
                        s.split
                 FROM order_revenue r CROSS JOIN dds s),
         dda AS (SELECT max(split) AS split_date,
                        CAST(sum(CASE WHEN t AND NOT p THEN c ELSE 0 END)
                          AS BIGINT) AS cents_tp,
                        CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_tp,
                        CAST(sum(CASE WHEN t AND p THEN c ELSE 0 END)
                          AS BIGINT) AS cents_tq,
                        CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_tq,
                        CAST(sum(CASE WHEN NOT t AND NOT p THEN c ELSE 0 END)
                          AS BIGINT) AS cents_cp,
                        CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_cp,
                        CAST(sum(CASE WHEN NOT t AND p THEN c ELSE 0 END)
                          AS BIGINT) AS cents_cq,
                        CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_cq
                 FROM ddv)""",
        """SELECT split_date,
                n_tp AS n_treat_pre, n_tq AS n_treat_post,
                n_cp AS n_ctrl_pre, n_cq AS n_ctrl_post,
                CASE WHEN n_tp > 0 THEN round(CAST(cents_tp AS DOUBLE)
                  / (10000.0 * n_tp), 6) END AS mean_treat_pre,
                CASE WHEN n_tq > 0 THEN round(CAST(cents_tq AS DOUBLE)
                  / (10000.0 * n_tq), 6) END AS mean_treat_post,
                CASE WHEN n_cp > 0 THEN round(CAST(cents_cp AS DOUBLE)
                  / (10000.0 * n_cp), 6) END AS mean_ctrl_pre,
                CASE WHEN n_cq > 0 THEN round(CAST(cents_cq AS DOUBLE)
                  / (10000.0 * n_cq), 6) END AS mean_ctrl_post,
                CASE WHEN n_tp > 0 AND n_tq > 0 AND n_cp > 0 AND n_cq > 0
                  THEN round((CAST(cents_tq AS DOUBLE) / (10000.0 * n_tq)
                       - CAST(cents_tp AS DOUBLE) / (10000.0 * n_tp))
                      - (CAST(cents_cq AS DOUBLE) / (10000.0 * n_cq)
                         - CAST(cents_cp AS DOUBLE) / (10000.0 * n_cp)), 6)
                  END AS did_estimate
         FROM dda""")),

    // ---- ext: delete-a-group jackknife SE + 95% CI for the mean
    // order value (deterministic folds — no RNG bootstrap) ----
    Gated("q290_jackknife_ci", (s, dir) =>
      graft.ext.Experiment.jackknifeMeanCI(Tables.orders(s, dir),
        col("o_orderkey"), col("o_totalprice")),
      s"""WITH jf AS (
             SELECT ${graft.ext.Sampling.hashBucketSql(
               "o_orderkey", "jk", 20)} AS fold,
                    CAST(round(o_totalprice * 10000) AS BIGINT) AS u
             FROM orders),
         pf AS (SELECT fold, CAST(count(*) AS BIGINT) AS n_i,
                       CAST(sum(u) AS HUGEINT) AS s_i
                FROM jf GROUP BY 1),
         jt AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
                       CAST(sum(s_i) AS HUGEINT) AS s
                FROM pf),
         th AS (SELECT jt.n, jt.s,
                       CAST(((jt.s - pf.s_i) * 100 * 2 + (jt.n - pf.n_i))
                         // ((jt.n - pf.n_i) * 2) AS BIGINT) AS tq
                FROM pf CROSS JOIN jt WHERE jt.n > pf.n_i),
         ja AS (SELECT n, s, CAST(count(*) AS BIGINT) AS k_used,
                       CAST(sum(CAST(tq AS HUGEINT)) AS HUGEINT) AS t,
                       CAST(sum(CAST(tq AS HUGEINT) * tq) AS HUGEINT) AS ssq
                FROM th GROUP BY 1, 2),
         js AS (SELECT n, k_used,
                       ((s * 100 * 2 + n) // (n * 2)) / 1000000.0 AS mean,
                       CASE WHEN k_used > 1
                         THEN sqrt(CAST(k_used - 1 AS DOUBLE)
                           * CAST(k_used * ssq - t * t AS DOUBLE))
                           / CAST(k_used AS DOUBLE) / 1e6
                       END AS se
                FROM ja)
         SELECT n, k_used AS folds_used, mean,
                round(se, 6) AS jk_se,
                round(mean - 1.96 * se, 6) AS ci_lo,
                round(mean + 1.96 * se, 6) AS ci_hi
         FROM js"""),

    // ---- ext: minimum detectable effect of the loyalty experiment
    // (alpha=.05 two-sided, 80% power; z literals shared with SQL) ----
    Gated("q293_mde", (s, dir) =>
      graft.ext.Experiment.mdeReadout(Conformed.orderRevenueCached(s, dir),
        col("is_loyalty"), col("total_revenue")),
      OracleSql.withBase(
        s"""mb AS (SELECT CASE WHEN is_loyalty THEN 1 ELSE 0 END AS t,
                       CAST(round(total_revenue * 10000) AS BIGINT) AS u
                FROM order_revenue),
         ma AS (SELECT CAST(sum(t) AS BIGINT) AS n_t,
                       CAST(sum(1 - t) AS BIGINT) AS n_c,
                       CAST(sum(CASE WHEN t = 1 THEN u ELSE 0 END)
                         AS HUGEINT) AS s_t,
                       CAST(sum(CASE WHEN t = 0 THEN u ELSE 0 END)
                         AS HUGEINT) AS s_c,
                       CAST(sum(CASE WHEN t = 1
                            THEN CAST(u AS HUGEINT) * u ELSE 0 END)
                         AS HUGEINT) AS ss_t,
                       CAST(sum(CASE WHEN t = 0
                            THEN CAST(u AS HUGEINT) * u ELSE 0 END)
                         AS HUGEINT) AS ss_c
                FROM mb),
         ms AS (SELECT *,
                       CAST(n_t * ss_t - s_t * s_t AS DOUBLE)
                         / CAST(n_t AS DOUBLE) AS ssd_t,
                       CAST(n_c * ss_c - s_c * s_c AS DOUBLE)
                         / CAST(n_c AS DOUBLE) AS ssd_c
                FROM ma),
         mv AS (SELECT *,
                       (ssd_t + ssd_c) / CAST(n_t + n_c - 2 AS DOUBLE) AS s2,
                       (((s_c * 100 * 2) + n_c) // (n_c * 2)) / 1000000.0
                         AS mean_c
                FROM ms)""",
        s"""SELECT n_t AS n_treat, n_c AS n_ctrl,
                (((s_t * 100 * 2) + n_t) // (n_t * 2)) / 1000000.0
                  AS mean_treat,
                mean_c AS mean_ctrl,
                CASE WHEN n_t > 1 AND n_c > 1
                  THEN round(sqrt(s2) / 1e4, 6) END AS pooled_sd,
                CASE WHEN n_t > 1 AND n_c > 1
                  THEN round(${graft.ext.Experiment.MdeZ}
                    * sqrt(s2 * (1.0 / n_t + 1.0 / n_c)) / 1e4, 6)
                END AS mde_abs,
                CASE WHEN n_t > 1 AND n_c > 1 AND mean_c > 0
                  THEN round(${graft.ext.Experiment.MdeZ}
                    * sqrt(s2 * (1.0 / n_t + 1.0 / n_c)) / 1e4 / mean_c, 6)
                END AS mde_rel
         FROM mv""")),

    // ---- ext: Poisson-bootstrap CI for mean user spend per loyalty
    // arm (hash-derived Poisson(1) resample weights — the streaming
    // bootstrap; nearest-rank 5th/95th over 100 replicate means) ----
    Gated("q313_bootstrap_ci", (s, dir) =>
      graft.ext.Experiment.poissonBootstrapCI(
        Conformed.orderRevenueCached(s, dir)),
      {
        val wSql = graft.ext.Experiment.PoissonThresholds
          .map(t => s"(CASE WHEN h >= $t THEN 1 ELSE 0 END)").mkString(" + ")
        val hSql = graft.functions.Portable.h60Sql(
          "'boot' || '#' || CAST(b AS VARCHAR) || '#' || CAST(user_id AS VARCHAR)")
        OracleSql.withBase(
          s"""bu AS (
               SELECT user_id,
                      CAST(max(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                        AS BIGINT) AS arm,
                      CAST(sum(CAST(round(total_revenue * 10000) AS BIGINT))
                        AS BIGINT) AS x
               FROM order_revenue GROUP BY 1),
           bp AS (
               SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                      sum(CAST(x AS HUGEINT)) AS sx
               FROM bu GROUP BY 1),
           br AS (
               SELECT u.arm, u.user_id, u.x, g.b, $hSql AS h
               FROM bu u CROSS JOIN
                 (SELECT unnest(generate_series(0, 99)) AS b) g),
           bw AS (SELECT arm, b, x, $wSql AS w FROM br),
           bm AS (
               SELECT arm, b, CAST(sum(w) AS BIGINT) AS sw,
                      sum(CAST(w AS HUGEINT) * x) AS swx
               FROM bw GROUP BY 1, 2
               HAVING CAST(sum(w) AS BIGINT) > 0),
           bq AS (
               SELECT arm, b,
                      CAST(((swx * 100 * 2) + sw) // (sw * 2) AS BIGINT)
                        AS mu
               FROM bm),
           bc AS (
               SELECT arm, b, mu,
                      row_number() OVER (PARTITION BY arm ORDER BY mu, b)
                        AS rn
               FROM bq),
           bi AS (
               SELECT arm, CAST(count(*) AS BIGINT) AS n_reps,
                      min(CASE WHEN rn = 5 THEN mu END) AS lo_u,
                      min(CASE WHEN rn = 95 THEN mu END) AS hi_u
               FROM bc GROUP BY 1)""",
          """SELECT p.arm, p.n_users,
                  CAST(((p.sx * 100 * 2) + p.n_users) // (p.n_users * 2)
                    AS BIGINT) / 1e6 AS mean_spend,
                  i.lo_u / 1e6 AS ci_lo, i.hi_u / 1e6 AS ci_hi, i.n_reps
           FROM bp p JOIN bi i USING (arm) ORDER BY arm""")
      }),

    // ---- ext: empirical-Bayes beta-binomial shrinkage of the
    // per-restaurant loyalty share (method-of-moments prior; the
    // small-sample league-table fix next to q229's Wilson bound) ----
    Gated("q316_eb_shrinkage", (s, dir) =>
      graft.ext.Experiment.ebShrunkLoyaltyShare(
        Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """ebp AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                      AS BIGINT) AS x,
                    ((CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                        AS BIGINT) * 1000000 * 2) + count(*))
                      // (count(*) * 2) AS pu
             FROM order_revenue GROUP BY 1),
         ebm AS (
             SELECT CAST(count(*) AS BIGINT) AS m_rest,
                    CAST(sum(pu) AS BIGINT) AS sp,
                    CAST(sum(pu * pu) AS BIGINT) AS spp
             FROM ebp),
         ebk AS (
             SELECT m_rest, sp, spp,
                    CAST(sp AS DOUBLE) / CAST(m_rest AS DOUBLE) / 1e6 AS m,
                    CAST(spp AS DOUBLE) / CAST(m_rest AS DOUBLE) / 1e12
                      - (CAST(sp AS DOUBLE) / CAST(m_rest AS DOUBLE) / 1e6)
                        * (CAST(sp AS DOUBLE) / CAST(m_rest AS DOUBLE) / 1e6)
                      AS v
             FROM ebm),
         ebg AS (
             SELECT m, v, m * (1.0 - m) / v - 1.0 AS k FROM ebk)""",
        """SELECT p.restaurant_id, p.n AS n_lines, p.pu / 1e6 AS raw_share,
                round(CASE WHEN g.v > 0.0 AND g.k > 0.0
                      THEN (CAST(p.x AS DOUBLE) + g.m * g.k)
                           / (CAST(p.n AS DOUBLE) + g.k)
                      ELSE p.pu / 1e6 END, 6) AS shrunk_share
         FROM ebp p CROSS JOIN ebg g ORDER BY p.restaurant_id""")),

    // ---- ext: Benjamini-Hochberg FDR over the per-restaurant
    // loyalty-lift chi-square family (the multiplicity control the
    // single-test tier leaves open) ----
    Gated("q318_bh_fdr", (s, dir) =>
      graft.ext.Experiment.bhFdrLoyaltyLift(
        Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """bhp AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                      AS BIGINT) AS x
             FROM order_revenue GROUP BY 1),
         bht AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                        CAST(sum(x) AS BIGINT) AS xx FROM bhp),
         bhc AS (SELECT p.restaurant_id, p.n, p.x,
                        CAST(p.x AS HUGEINT)
                            * CAST((t.nn - p.n) - (t.xx - p.x) AS HUGEINT)
                          - CAST(p.n - p.x AS HUGEINT)
                            * CAST(t.xx - p.x AS HUGEINT) AS diff,
                        CAST(p.n AS DOUBLE) * CAST(t.nn - p.n AS DOUBLE)
                          * CAST(t.xx AS DOUBLE)
                          * CAST(t.nn - t.xx AS DOUBLE) AS den,
                        t.nn
                 FROM bhp p CROSS JOIN bht t),
         bhq AS (SELECT restaurant_id, n, x,
                        CAST(round(CAST(nn AS DOUBLE) * CAST(diff AS DOUBLE)
                          * CAST(diff AS DOUBLE) / den * 1e6) AS BIGINT)
                          AS chi2q
                 FROM bhc WHERE den > 0),
         bhz AS (SELECT *, sqrt(chi2q / 2e6) AS z FROM bhq),
         bhw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * z) AS tt FROM bhz),
         bhpv AS (SELECT restaurant_id, n, x, chi2q,
                         CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                           + 1.421413741) * tt - 0.284496736) * tt
                           + 0.254829592) * tt * exp(-(z * z)) * 1e9)
                           AS BIGINT) AS pu
                  FROM bhw),
         bhr AS (SELECT *, row_number()
                        OVER (ORDER BY pu, restaurant_id) AS p_rank
                 FROM bhpv),
         bhm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM bhr),
         bhf AS (SELECT r.*, m.m,
                        CASE WHEN CAST(r.pu AS HUGEINT) * m.m * 1000
                             <= CAST(r.p_rank AS HUGEINT) * 50 * 1000000000
                             THEN r.p_rank ELSE 0 END AS fr
                 FROM bhr r CROSS JOIN bhm m),
         bhx AS (SELECT max(fr) AS cutoff FROM bhf)""",
        """SELECT f.restaurant_id, f.n AS n_lines, f.x AS n_loyal,
                f.chi2q / 1e6 AS chi2, f.pu / 1e9 AS p_value,
                f.p_rank, f.m AS m_tests, f.p_rank <= x.cutoff AS rejected
         FROM bhf f CROSS JOIN bhx x ORDER BY f.p_rank""")),

    // ---- ext: Cochran-Mantel-Haenszel pooled loyalty->option-attach
    // odds ratio across restaurant strata (Simpson-proof; the crude
    // OR rides alongside to show the confounding gap) ----
    Gated("q322_cmh", (s, dir) =>
      graft.ext.Experiment.cmhLoyaltyOption(
        Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """cmc AS (
             SELECT restaurant_id,
                    CAST(sum(CASE WHEN is_loyalty AND option_price > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS a,
                    CAST(sum(CASE WHEN is_loyalty AND NOT option_price > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS b,
                    CAST(sum(CASE WHEN NOT is_loyalty AND option_price > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS c,
                    CAST(sum(CASE WHEN NOT is_loyalty
                          AND NOT option_price > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS d
             FROM order_revenue GROUP BY 1),
         cmn AS (SELECT *, a + b + c + d AS n FROM cmc),
         cmq AS (SELECT *,
                   CAST(round(CAST(a AS DOUBLE) * d / n * 1e9) AS BIGINT)
                     AS rq,
                   CAST(round(CAST(b AS DOUBLE) * c / n * 1e9) AS BIGINT)
                     AS sq,
                   CAST(round((CAST(a AS DOUBLE)
                     - CAST((a + b) * (a + c) AS DOUBLE) / n) * 1e9)
                     AS BIGINT) AS eq,
                   CASE WHEN n > 1 THEN
                     CAST(round(CAST((a + b) * (c + d) AS DOUBLE)
                       * CAST((a + c) * (b + d) AS DOUBLE)
                       / (CAST(n AS DOUBLE) * n * (n - 1)) * 1e9) AS BIGINT)
                   ELSE 0 END AS vq
                 FROM cmn),
         cmr AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
                        CAST(sum(a) AS BIGINT) AS ta,
                        CAST(sum(b) AS BIGINT) AS tb,
                        CAST(sum(c) AS BIGINT) AS tc,
                        CAST(sum(d) AS BIGINT) AS td,
                        CAST(sum(CAST(rq AS HUGEINT)) AS HUGEINT) AS sr,
                        CAST(sum(CAST(sq AS HUGEINT)) AS HUGEINT) AS ss,
                        CAST(sum(CAST(eq AS HUGEINT)) AS HUGEINT) AS se,
                        CAST(sum(CAST(vq AS HUGEINT)) AS HUGEINT) AS sv
                 FROM cmq),
         cmz AS (SELECT *, CAST(se AS DOUBLE) / 1e9 AS sed,
                        CAST(sv AS DOUBLE) / 1e9 AS svd FROM cmr),
         cmk AS (SELECT *, CASE WHEN svd > 0 AND abs(sed) > 0.5
                   THEN CAST(round((abs(sed) - 0.5) * (abs(sed) - 0.5) / svd
                     * 1e6) AS BIGINT)
                   ELSE 0 END AS chi2q FROM cmz),
         cmx AS (SELECT *, sqrt(chi2q / 2e6) AS x FROM cmk),
         cmw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM cmx),
         cmp AS (SELECT *,
                   CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                     + 1.421413741) * tt - 0.284496736) * tt
                     + 0.254829592) * tt * exp(-(x * x)) * 1e9) AS BIGINT)
                     AS pu
                 FROM cmw)""",
        """SELECT n_strata,
                CASE WHEN ss > 0 THEN
                  CAST((sr * 1000000 * 2 + ss) // (ss * 2) AS DOUBLE) / 1e6
                END AS or_cmh,
                CASE WHEN CAST(tb AS HUGEINT) * tc > 0 THEN
                  CAST((CAST(ta AS HUGEINT) * td * 1000000 * 2
                        + CAST(tb AS HUGEINT) * tc)
                       // (CAST(tb AS HUGEINT) * tc * 2) AS DOUBLE) / 1e6
                END AS or_crude,
                chi2q / 1e6 AS chi2_cmh, pu / 1e9 AS p_value
         FROM cmp""")),

    // ---- ext: McNemar paired activity-shift test across timeline
    // halves (each user their own control; discordant cells only) ----
    Gated("q332_mcnemar", (s, dir) =>
      graft.ext.Experiment.mcnemarActivityShift(
        Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """mns AS (
             SELECT min(creation_date) AS d0, max(creation_date) AS d1
             FROM order_revenue),
         mnm AS (SELECT d0 + CAST(datediff('day', d0, d1) // 2 AS INTEGER)
                        AS mid
                 FROM mns),
         mnu AS (SELECT o.user_id,
                        CAST(max(CASE WHEN o.creation_date <= m.mid
                            THEN 1 ELSE 0 END) AS BIGINT) AS h1,
                        CAST(max(CASE WHEN o.creation_date > m.mid
                            THEN 1 ELSE 0 END) AS BIGINT) AS h2
                 FROM order_revenue o CROSS JOIN mnm m
                 GROUP BY 1),
         mnc AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                        CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1
                            ELSE 0 END) AS BIGINT) AS n_both,
                        CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1
                            ELSE 0 END) AS BIGINT) AS b,
                        CAST(sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1
                            ELSE 0 END) AS BIGINT) AS c
                 FROM mnu),
         mnq AS (SELECT *,
                        CASE WHEN b + c > 0 AND abs(b - c) > 1 THEN
                          CAST(round(CAST(abs(b - c) - 1 AS DOUBLE)
                            * (abs(b - c) - 1) / (b + c) * 1e6) AS BIGINT)
                        ELSE 0 END AS chi2q
                 FROM mnc),
         mnx AS (SELECT *, sqrt(chi2q / 2e6) AS x FROM mnq),
         mnw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM mnx),
         mnp AS (SELECT *,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(x * x)) * 1e9)
                          AS BIGINT) AS pu
                 FROM mnw)""",
        """SELECT n_users, n_both, b AS early_only, c AS late_only,
                chi2q / 1e6 AS chi2, pu / 1e9 AS p_value
         FROM mnp""")),

    // ---- ext: exact two-sample KS test of user spend (loyal-leaning
    // vs other) with the asymptotic Kolmogorov p ----
    Gated("q336_ks_two_sample", (s, dir) =>
      graft.ext.Experiment.ksLoyaltySpend(
        Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        """ksu AS (
             SELECT user_id,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents,
                    CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                      AS BIGINT) AS nl,
                    CAST(count(*) AS BIGINT) AS nn
             FROM order_revenue GROUP BY 1),
         ksl AS (SELECT cents, nl * 2 > nn AS loyal FROM ksu),
         ksv AS (SELECT cents,
                        CAST(sum(CASE WHEN loyal THEN 1 ELSE 0 END)
                          AS BIGINT) AS c1,
                        CAST(sum(CASE WHEN NOT loyal THEN 1 ELSE 0 END)
                          AS BIGINT) AS c2
                 FROM ksl GROUP BY 1),
         kst AS (SELECT CAST(sum(c1) AS BIGINT) AS m,
                        CAST(sum(c2) AS BIGINT) AS n FROM ksv),
         ksc AS (SELECT CAST(sum(c1) OVER (ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k1,
                        CAST(sum(c2) OVER (ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k2
                 FROM ksv),
         ksd AS (SELECT t.m, t.n,
                        max(abs(CAST(c.k1 AS HUGEINT) * t.n
                          - CAST(c.k2 AS HUGEINT) * t.m)) AS maxd
                 FROM ksc c CROSS JOIN kst t GROUP BY 1, 2),
         ksq AS (SELECT *,
                        ((maxd * 1000000 * 2) + CAST(m AS HUGEINT) * n)
                          // (CAST(m AS HUGEINT) * n * 2) AS dq,
                        CAST(m AS DOUBLE) * n / (m + n) AS ne
                 FROM ksd),
         ksm AS (SELECT *,
                        CAST(round((sqrt(ne) + 0.12 + 0.11 / sqrt(ne))
                          * (dq / 1e6) * 1e6) AS BIGINT) AS lam
                 FROM ksq),
         ksl2 AS (SELECT *, (lam / 1e6) * (lam / 1e6) AS l2 FROM ksm),
         ksp AS (SELECT *,
                        CAST(round(greatest(least(2.0
                          * (exp(-2.0 * l2) - exp(-8.0 * l2)
                            + exp(-18.0 * l2) - exp(-32.0 * l2)
                            + exp(-50.0 * l2)), 1.0), 0.0) * 1e9)
                          AS BIGINT) AS pu
                 FROM ksl2)""",
        """SELECT m AS n_loyal_users, n AS n_other_users, dq / 1e6 AS ks_d,
                lam / 1e6 AS lambda, pu / 1e9 AS p_value
         FROM ksp""")),
  )
}
