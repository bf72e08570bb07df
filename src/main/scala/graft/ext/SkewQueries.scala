package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables

object SkewQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: salted skew join gated against the plain join — the
    // join sibling of q61's salted agg (equivalence is the contract) ----
    Gated("q91_salted_join", (s, dir) => {
      val brands = Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.ext.Skew.saltedJoin(Tables.lineitem(s, dir), brands,
          Seq("l_partkey"), numSalts = 8, saltSource = col("l_orderkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(round(col("l_extendedprice") * 10000)) / 10000.0)
            .as("gross_revenue"))
        .orderBy(col("p_brand"))
    },
      // the oracle runs the PLAIN join — the gate proves salted == plain
      """SELECT p_brand, count(*) AS n_lines,
                sum(round(l_extendedprice * 10000)) / 10000.0 AS gross_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY p_brand"""),

    // ---- ext: skew tooling proven equivalent to the plain aggregate ----
    Gated("q61_salted_agg", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        graft.gold.Money.cents(col("l_extendedprice")).cast("long").as("cents"))
      graft.ext.Skew.saltedSum(li, Seq("l_returnflag", "l_linestatus"), "cents",
          numSalts = 16, saltSource = col("l_orderkey"))
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("sum_cents") / 10000.0).as("sum_extendedprice"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      // the salted two-phase aggregate must equal the plain GROUP BY
      """SELECT l_returnflag, l_linestatus,
                sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0
                  AS sum_extendedprice
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ---- ext: join-key skew profile — the measurement that decides
    // between the plain plan, salting (q61/q91), and a broadcast ----
    Gated("q142_skew_profile", (s, dir) =>
      graft.ext.Skew.skewProfile(
          Tables.lineitem(s, dir), col("l_partkey"), topK = 50)
        .orderBy(col("rank")),
      """WITH k AS (
             SELECT l_partkey AS key, count(*) AS n_rows
             FROM lineitem GROUP BY 1),
           t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total,
                        count(*) AS n_keys FROM k),
           r AS (SELECT key, n_rows,
                        row_number() OVER (ORDER BY n_rows DESC, key) AS rank
                 FROM k)
           SELECT r.key, r.n_rows, r.rank,
                  CAST(r.n_rows AS DOUBLE) / t.n_total AS share,
                  (CAST(r.n_rows AS DOUBLE) * t.n_keys) / t.n_total AS skew
           FROM r CROSS JOIN t WHERE rank <= 50 ORDER BY rank"""),

    // ---- ext: count-min-sketch heavy hitters audited vs exact counts
    // (constant-memory frequency summary; identical sketch in SQL) ----
    Gated("q160_cms_heavy_hitters", (s, dir) =>
      graft.ext.Skew.cmsHeavyHitters(
          Tables.lineitem(s, dir), col("l_partkey"))
        .orderBy(col("key")),
      {
        val h = graft.functions.Portable.h60Sql(
          "'cms' || CAST(i.i AS VARCHAR) || ':' || CAST(c.key AS VARCHAR)")
        val hTop = graft.functions.Portable.h60Sql(
          "'cms' || CAST(i.i AS VARCHAR) || ':' || CAST(t.key AS VARCHAR)")
        s"""WITH c AS (
             SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n_exact
             FROM lineitem GROUP BY 1),
           i AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(i)),
           ctr AS (
             SELECT i.i, $h % 1024 AS bucket,
                    CAST(sum(c.n_exact) AS BIGINT) AS cnt
             FROM c CROSS JOIN i GROUP BY 1, 2),
           tot AS (SELECT CAST(sum(n_exact) AS BIGINT) AS n_total FROM c),
           top AS (SELECT key, n_exact FROM c
                   ORDER BY n_exact DESC, key LIMIT 20),
           est AS (
             SELECT t.key, t.n_exact, min(ctr.cnt) AS n_est
             FROM top t CROSS JOIN i
             JOIN ctr ON ctr.i = i.i AND ctr.bucket = $hTop % 1024
             GROUP BY 1, 2)
           SELECT e.key, e.n_exact, e.n_est,
                  e.n_est - e.n_exact AS overcount,
                  e.n_est <= e.n_exact + (2 * t.n_total + 1023) // 1024
                    AS within_eps
           FROM est e CROSS JOIN tot t
           ORDER BY key"""
      }),
  )
}
