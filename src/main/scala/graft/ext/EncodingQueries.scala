package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables

object EncodingQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: WoE + information value of brand vs returns (the
    // credit-scoring feature screen; ln only via quantized counts) ----
    Gated("q295_woe_iv", (s, dir) =>
      graft.ext.Encoding.woeInformationValue(
        Tables.lineitem(s, dir).join(
          Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey")),
        col("p_brand"), col("l_returnflag") === "R"),
      """WITH wl AS (
             SELECT p_brand AS lvl,
                    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
             FROM lineitem JOIN part ON l_partkey = p_partkey),
         wv AS (SELECT lvl, CAST(sum(y) AS BIGINT) AS p,
                       CAST(sum(1 - y) AS BIGINT) AS ng
                FROM wl GROUP BY 1),
         wt AS (SELECT CAST(sum(p) AS BIGINT) AS pt,
                       CAST(sum(ng) AS BIGINT) AS nt
                FROM wv),
         ws AS (SELECT lvl, p, ng,
                       CASE WHEN p > 0 AND ng > 0 THEN
                         (CAST(round(ln(p) * 1e9) AS BIGINT)
                          - CAST(round(ln(pt) * 1e9) AS BIGINT))
                         - (CAST(round(ln(ng) * 1e9) AS BIGINT)
                            - CAST(round(ln(nt) * 1e9) AS BIGINT))
                       END AS woe_u,
                       ((p * 1000000 * 2) + pt) // (pt * 2) AS psh,
                       ((ng * 1000000 * 2) + nt) // (nt * 2) AS nsh
                FROM wv CROSS JOIN wt),
         wu AS (SELECT lvl, p, ng, woe_u,
                       CASE WHEN woe_u IS NOT NULL
                         THEN (psh - nsh) * woe_u ELSE 0 END AS iv_u
                FROM ws),
         wx AS (SELECT CAST(sum(iv_u) AS BIGINT) AS iv_tot_u FROM wu)
         SELECT lvl, p AS n_pos, ng AS n_neg,
                round(woe_u / 1e9, 6) AS woe,
                round(iv_u / 1e15, 6) AS iv_term,
                round(iv_tot_u / 1e15, 6) AS iv_total
         FROM wu CROSS JOIN wx ORDER BY lvl"""),

    // ---- ext: exact Gini decision stump on quantity vs returns
    // (depth-1 tree at histogram grain — no ML library) ----
    Gated("q296_gini_stump", (s, dir) =>
      graft.ext.Encoding.giniStump(Tables.lineitem(s, dir),
        round(col("l_quantity")).cast("long"),
        col("l_returnflag") === "R"),
      """WITH gh AS (
             SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                    CAST(count(*) AS BIGINT) AS c,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS BIGINT) AS p
             FROM lineitem GROUP BY 1),
         gt AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                       CAST(sum(p) AS BIGINT) AS ptot
                FROM gh),
         gc AS (SELECT x,
                       CAST(sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS BIGINT) AS cl,
                       CAST(sum(p) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS BIGINT) AS pl
                FROM gh),
         gs AS (SELECT x, cl, pl, n - cl AS cr, ptot - pl AS pr, n, ptot,
                       CAST(CAST(pl AS HUGEINT) * (cl - pl) AS DOUBLE)
                         / CAST(cl AS DOUBLE)
                       + CAST(CAST(ptot - pl AS HUGEINT)
                           * ((n - cl) - (ptot - pl)) AS DOUBLE)
                         / CAST(n - cl AS DOUBLE) AS score
                FROM gc CROSS JOIN gt WHERE cl < n),
         gr AS (SELECT *, row_number() OVER (ORDER BY score ASC, x ASC)
                       AS rn
                FROM gs)
         SELECT x AS threshold, cl AS n_left, cr AS n_right,
                pl AS pos_left, pr AS pos_right,
                round((CAST(CAST(ptot AS HUGEINT) * (n - ptot) AS DOUBLE)
                  / CAST(n AS DOUBLE) - score) * 2.0 / n, 6) AS gini_gain
         FROM gr WHERE rn = 1"""),
  )
}
