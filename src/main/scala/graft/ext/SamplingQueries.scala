package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.core.Tables
import graft.oracle.{ExtOracleSql, OracleSql}

object SamplingQueries {
  /** Mixture-sampling rates for q65 — ONE map drives both the Spark
    * filter and its SQL mirror so they cannot drift. */
  private val MixRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)

  val all: Seq[Gated] = Seq(
    // ---- ext: deterministic weighted sampling (repeated hashing —
    // exact integer competition, no cross-engine float pow) ----
    Gated("q96_weighted_sample", (s, dir) =>
      graft.ext.Sampling.weightedSample(
          Tables.documents(s, dir), "doc_id",
          lit(1L) + pmod(col("doc_id"), lit(3L)), k = 50)
        .orderBy(col("sample_rank")),
      {
        val draw = graft.functions.Portable.h60Sql(
          "'wsample' || '#' || CAST(doc_id AS VARCHAR) || '#' || CAST(cpy AS VARCHAR)")
        s"""WITH w AS (SELECT doc_id, 1 + doc_id % 3 AS weight FROM documents),
          c AS (SELECT doc_id, weight,
                       unnest(generate_series(1, weight)) AS cpy FROM w),
          d AS (SELECT doc_id, weight, min($draw) AS draw
                FROM c GROUP BY 1, 2)
          SELECT doc_id, weight, draw,
                 row_number() OVER (ORDER BY draw, doc_id) AS sample_rank
          FROM d ORDER BY draw, doc_id LIMIT 50"""
      }),

    // ---- ext: deterministic splitting / sampling ----
    Gated("q46_hash_split", (s, dir) =>
      graft.ext.Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("lang"), col("bucket"), col("split"))
        .orderBy(col("doc_id")),
      ExtOracleSql.hashSplit(trainPct = 80, valPct = 10, salt = "split")),
    Gated("q47_stratified_sample", (s, dir) =>
      graft.ext.Sampling.stratifiedSample(
          Tables.documents(s, dir), "source", "doc_id", k = 5)
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy(col("source"), col("doc_id")),
      ExtOracleSql.stratifiedSample(k = 5, salt = "sample")),

    // ---- ext: deterministic source-mixture sampling ----
    Gated("q65_mixture_sample", (s, dir) =>
      graft.ext.Sampling.mixtureSample(Tables.documents(s, dir), "source", "doc_id",
          MixRates, defaultRate = 0.1)
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id")),
      s"""SELECT doc_id, source, lang FROM documents
          WHERE ${graft.ext.Sampling.mixtureSampleSql(
              "source", "doc_id", MixRates, defaultRate = 0.1)}
          ORDER BY doc_id"""),

    // ---- ext: cross-split near-dup contamination (LSH pairs that
    // straddle the train/val/test boundary — eval-inflating leakage) ----
    Gated("q153_split_contamination", (s, dir) =>
      graft.ext.Sampling.splitContamination(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("split_lo"), col("split_hi")),
      ExtOracleSql.splitContamination(
        trainPct = 80, valPct = 10, salt = "split", minEst = 0.5)),

    // ---- ext: temporal-split entity-leakage audit (eval hygiene) ----
    Gated("q134_leakage_audit", (s, dir) =>
      graft.ext.Sampling.temporalLeakage(
          Conformed.orderRevenueCached(s, dir), "user_id", "creation_date",
          cutoff = "1998-01-01")
        .orderBy(col("user_id")),
      // Oracle is the NAIVE purchase-by-touch BETWEEN join — independent
      // mechanism from the Spark side's single range-frame window.
      OracleSql.withBase(
        """lk AS (
             SELECT user_id,
                    CAST(sum(CASE WHEN creation_date < DATE '1998-01-01'
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
                    CAST(sum(CASE WHEN creation_date >= DATE '1998-01-01'
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
                    CAST(min(creation_date) AS DATE) AS first_date,
                    CAST(max(creation_date) AS DATE) AS last_date
             FROM order_revenue GROUP BY 1)""",
        """SELECT user_id, n_before, n_after, first_date, last_date,
                  CASE WHEN n_before > 0 AND n_after > 0 THEN 'both'
                       WHEN n_before > 0 THEN 'train_only'
                       WHEN n_after > 0 THEN 'test_only'
                       ELSE 'no_dates' END AS leak_class
           FROM lk ORDER BY user_id""")),

    // ---- ext: Neyman-optimal labeling-budget allocation across
    // corpus sources (variance-weighted, integer-exact shares) ----
    Gated("q238_neyman_allocation", (s, dir) =>
      graft.ext.Sampling.neymanAllocation(
          Tables.documents(s, dir), "source", "n_chars", budget = 1000)
        .orderBy(col("stratum")),
      """WITH nm AS (
           SELECT source AS stratum, count(*) AS n_h,
                  CAST(sum(n_chars) AS BIGINT) AS sy,
                  CAST(sum(n_chars * n_chars) AS BIGINT) AS syy
           FROM documents GROUP BY 1 HAVING count(*) > 1),
         ns AS (
           SELECT stratum, n_h,
                  sqrt((CAST(n_h AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                       / (CAST(n_h AS DOUBLE) * (n_h - 1.0))) AS s_h
           FROM nm),
         nw AS (SELECT *, CAST(round(CAST(n_h AS DOUBLE) * s_h * 1000)
                  AS BIGINT) AS w FROM ns),
         nt AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM nw)
         SELECT stratum, n_h, round(s_h, 6) AS stddev,
                round(CAST(w AS DOUBLE) / tw, 6) AS neyman_share,
                (1000 * w) // tw AS allocated
         FROM nw CROSS JOIN nt WHERE tw > 0 ORDER BY stratum"""),

    // ---- ext: α=½ temperature mixture weights per source (the
    // multilingual resampling rule; √ is exactly rounded IEEE) ----
    Gated("q287_temperature_mix", (s, dir) =>
      graft.ext.Sampling.temperatureWeights(Tables.documents(s, dir),
        col("source")),
      """WITH tg AS (
             SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(round(sqrt(count(*)) * 1e6) AS BIGINT) AS w
             FROM documents GROUP BY 1),
         tt AS (
             SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
                    CAST(sum(w) AS BIGINT) AS wt
             FROM tg)
         SELECT grp, n_docs,
                ((n_docs * 1000000 * 2 + nt) // (nt * 2)) / 1000000.0
                  AS doc_share,
                ((w * 1000000 * 2 + wt) // (wt * 2)) / 1000000.0
                  AS temp_share,
                CASE WHEN (n_docs * 1000000 * 2 + nt) // (nt * 2) > 0
                  THEN round(
                    (((w * 1000000 * 2 + wt) // (wt * 2)) / 1000000.0)
                    / (((n_docs * 1000000 * 2 + nt) // (nt * 2))
                       / 1000000.0), 6)
                END AS boost
         FROM tg CROSS JOIN tt ORDER BY grp"""),
  )
}
