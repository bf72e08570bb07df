package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.core.Tables
import graft.oracle.{ExtOracleSql, OracleSql}

object ProfilingQueries {
  private val covarianceSql =
    """WITH cq AS (
             SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                      x -> CAST(round(x * 1000) AS BIGINT)) AS qv
             FROM embeddings),
           cd AS (SELECT range AS i FROM range(64)),
           cp AS (
             SELECT di.i, dj.i AS j,
                    CAST(sum(qv[di.i + 1] * qv[dj.i + 1]) AS BIGINT) AS spp
             FROM cq, cd di, cd dj WHERE dj.i >= di.i GROUP BY 1, 2),
           cs AS (
             SELECT cd.i, CAST(sum(qv[cd.i + 1]) AS BIGINT) AS sd
             FROM cq, cd GROUP BY 1),
           cn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM cq)
           SELECT CAST(cp.i AS BIGINT) AS i, CAST(cp.j AS BIGINT) AS j,
                  cn.n_rows,
                  (CAST(cp.spp AS DOUBLE) / CAST(cn.n_rows AS DOUBLE)
                   - (CAST(si.sd AS DOUBLE) / CAST(cn.n_rows AS DOUBLE))
                     * (CAST(sj.sd AS DOUBLE) / CAST(cn.n_rows AS DOUBLE)))
                  / 1000000.0 AS cov
           FROM cp JOIN cs si ON si.i = cp.i JOIN cs sj ON sj.i = cp.j
           CROSS JOIN cn
           ORDER BY i, j"""

  /** Profiled lineitem columns (name, kind) — one list drives BOTH the
    * Spark profile and its SQL mirror so they cannot drift. */
  private val ProfileCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "num", "l_linenumber" -> "num", "l_quantity" -> "num",
    "l_extendedprice" -> "num", "l_discount" -> "num",
    "l_returnflag" -> "str", "l_linestatus" -> "str")

  val all: Seq[Gated] = Seq(
    // ---- ext: per-source length distribution (exact discrete quantiles) ----
    Gated("q87_length_quantiles", (s, dir) =>
      graft.ext.Profiling.groupQuantilesDisc(
          Tables.documents(s, dir), "source", "n_chars")
        .orderBy(col("source")),
      ExtOracleSql.lengthQuantiles(Seq(0.5, 0.9, 0.99))),

    // ---- ext: winsorize to per-group exact discrete quantiles ----
    Gated("q110_winsorize", (s, dir) =>
      graft.ext.Profiling.winsorize(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            col("n_chars")),
          "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"), col("clipped"))
        .orderBy(col("doc_id")),
      // same discrete-position formulation as q87's quantiles
      """WITH wr AS (
           SELECT source, n_chars,
                  row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
                  count(*) OVER (PARTITION BY source) AS cnt
           FROM documents),
         wq AS (
           SELECT source,
                  max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * cnt) AS BIGINT))
                           THEN n_chars END) AS lo,
                  max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * cnt) AS BIGINT))
                           THEN n_chars END) AS hi
           FROM wr GROUP BY 1)
         SELECT d.doc_id, d.source, d.n_chars,
                least(greatest(d.n_chars, q.lo), q.hi) AS clipped
         FROM documents d JOIN wq q USING (source)
         ORDER BY d.doc_id"""),

    // ---- ext: exact-moment Pearson correlation (quantity vs price) ----
    Gated("q116_group_corr", (s, dir) =>
      graft.ext.Profiling.groupCorr(
          Tables.lineitem(s, dir), Seq("l_returnflag", "l_linestatus"),
          round(col("l_quantity")), round(col("l_extendedprice") * 10000))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      """WITH gm AS (
           SELECT l_returnflag, l_linestatus, count(*) AS n,
                  sum(CAST(round(l_quantity) AS HUGEINT)) AS sx,
                  sum(CAST(round(l_extendedprice * 10000) AS HUGEINT)) AS sy,
                  sum(CAST(round(l_quantity) AS HUGEINT)
                      * CAST(round(l_extendedprice * 10000) AS HUGEINT)) AS sxy,
                  sum(CAST(round(l_quantity) AS HUGEINT)
                      * CAST(round(l_quantity) AS HUGEINT)) AS sxx,
                  sum(CAST(round(l_extendedprice * 10000) AS HUGEINT)
                      * CAST(round(l_extendedprice * 10000) AS HUGEINT)) AS syy
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, n,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                     THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                                / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                                   * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                END AS corr
         FROM gm ORDER BY l_returnflag, l_linestatus"""),

    // ---- ext: dataset profiling (ANALYZE-style per-column stats) ----
    Gated("q54_profile", (s, dir) =>
      graft.ext.Profiling.summarize(Tables.lineitem(s, dir), ProfileCols.map(_._1))
        .orderBy(col("column_name")),
      ExtOracleSql.profileLineitem(ProfileCols)),

    // ---- ext: equi-width histogram (profiling companion) ----
    Gated("q67_histogram", (s, dir) =>
      graft.ext.Profiling.histogram(Tables.lineitem(s, dir), "l_extendedprice", bins = 20)
        .orderBy(col("bucket")),
      """WITH st AS (
           SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
                  max(CAST(l_extendedprice AS DOUBLE)) AS mx
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         b AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(19, CAST(floor(
                         (CAST(l_extendedprice AS DOUBLE) - mn) * 20 / (mx - mn))
                         AS BIGINT)) END AS bucket,
                  mn, mx
           FROM lineitem, st WHERE l_extendedprice IS NOT NULL)
         SELECT bucket,
                mn + bucket * ((mx - mn) / 20) AS lo,
                mn + (bucket + 1) * ((mx - mn) / 20) AS hi,
                count(*) AS n
         FROM b GROUP BY bucket, mn, mx ORDER BY bucket"""),

    // ---- ext: k-anonymity / l-diversity governance audit ----
    Gated("q126_anonymity_audit", (s, dir) =>
      graft.ext.Profiling.anonymityReport(
          Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
          when(col("c_acctbal") < 0, "debt").otherwise("credit"),
          k = 15, l = 2)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      """WITH s AS (
             SELECT c_nationkey, c_mktsegment,
                    CASE WHEN c_acctbal < 0 THEN 'debt' ELSE 'credit' END AS sv
             FROM customer)
           SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
                  count(DISTINCT sv) AS n_sensitive,
                  count(*) < 15 AS k_violation,
                  count(DISTINCT sv) < 2 AS l_violation
           FROM s GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment"""),

    // ---- ext: per-dimension feature moments (normalization stats) ----
    Gated("q127_feature_moments", (s, dir) =>
      graft.ext.Profiling.featureMoments(Tables.embeddings(s, dir), "embedding")
        .orderBy(col("pos")),
      // HUGEINT sums stay internal: mean/std divide down to DOUBLE
      // before the output schema (the q54/q116 invariant).
      """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             e AS (SELECT unnest(generate_series(1, len(emb))) - 1 AS pos,
                          unnest(emb) AS x
                   FROM v),
             u AS (SELECT pos, CAST(round(x * 1000000) AS BIGINT) AS u FROM e)
           SELECT pos, count(*) AS n,
                  round(CAST(sum(u) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean,
                  round(sqrt(greatest(0.0,
                          (CAST(sum(u * u) AS DOUBLE)
                           - CAST(sum(u) AS DOUBLE) * sum(u) / count(*))
                          / count(*)))
                        / 1000000.0, 6) AS std
           FROM u GROUP BY 1 ORDER BY pos"""),

    // ---- ext: mutual information between source and language —
    // information-theoretic dependence for feature/redundancy audits ----
    Gated("q140_mutual_information", (s, dir) =>
      graft.ext.Profiling.mutualInformation(
        Tables.documents(s, dir), col("source"), col("lang")),
      ExtOracleSql.mutualInformation()),

    // ---- ext: Benford first-digit audit of revenue amounts (shared
    // 17-digit literals on both engines — no engine log10 in the gate) ----
    Gated("q159_benford", (s, dir) =>
      graft.ext.Profiling.benfordAudit(
          Conformed.orderRevenueCached(s, dir), "total_revenue")
        .orderBy(col("leading_digit")),
      OracleSql.withBase(
        s"""bfd AS (
             SELECT CAST(substr(CAST(CAST(round(total_revenue * 10000)
                      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
                      AS leading_digit
             FROM order_revenue
             WHERE CAST(round(total_revenue * 10000) AS BIGINT) > 0),
           bfc AS (
             SELECT leading_digit, CAST(count(*) AS BIGINT) AS n_obs
             FROM bfd GROUP BY 1),
           bft AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM bfc),
           bfp AS (SELECT * FROM (VALUES
             ${graft.ext.Profiling.benfordPSqlValues}) t(leading_digit, benford_p))""",
        """SELECT CAST(p.leading_digit AS BIGINT) AS leading_digit,
                  COALESCE(c.n_obs, 0) AS n_obs,
                  CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
                    / CAST(t.n_total AS DOUBLE) AS share,
                  p.benford_p,
                  CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
                    / CAST(t.n_total AS DOUBLE) - p.benford_p AS excess
           FROM bfp p LEFT JOIN bfc c ON c.leading_digit = p.leading_digit
           CROSS JOIN bft t
           ORDER BY leading_digit""")),

    // ---- ext: upper-triangle embedding covariance (whitening/PCA
    // sufficient stats; integer-quantized pair sums) ----
    Gated("q161_covariance", (s, dir) =>
      graft.ext.Profiling.covariancePairs(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("i"), col("j")),
      covarianceSql),

    // ---- ext: best decision-stump split per category (Gini gain over
    // a dollar-grain threshold sweep — the tree-learner primitive) ----
    Gated("q162_stump_split", (s, dir) =>
      graft.ext.Profiling.bestStumpSplit(
          Conformed.orderRevenueCached(s, dir), "item_category",
          graft.gold.Money.cents(col("total_revenue")), col("is_loyalty"))
        .orderBy(col("item_category")),
      OracleSql.withBase(
        """sth AS (
             SELECT item_category AS grp,
                    CAST(round(total_revenue * 10000) AS BIGINT) // 10000 AS t,
                    CASE WHEN is_loyalty THEN 1 ELSE 0 END AS pos
             FROM order_revenue),
           stg AS (
             SELECT grp, t, CAST(count(*) AS BIGINT) AS m,
                    CAST(sum(pos) AS BIGINT) AS mp
             FROM sth GROUP BY 1, 2),
           stc AS (
             SELECT grp, t,
                    CAST(sum(m) OVER w AS BIGINT) AS nl,
                    CAST(sum(mp) OVER w AS BIGINT) AS pl
             FROM stg WINDOW w AS (PARTITION BY grp ORDER BY t)),
           stt AS (
             SELECT grp, CAST(sum(m) AS BIGINT) AS n,
                    CAST(sum(mp) AS BIGINT) AS p
             FROM stg GROUP BY 1),
           sts AS (
             SELECT c.grp, c.t, c.nl, c.pl, t.n, t.p,
                    t.n - c.nl AS nr, t.p - c.pl AS pr
             FROM stc c JOIN stt t USING (grp) WHERE c.nl < t.n),
           stx AS (
             SELECT grp, t, n, p, nl, pl, nr, pr,
                    (1.0 - (CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
                         - (CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE)))
                    - ((CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1.0 - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                                * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                              - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE))
                                * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)))
                       + (CAST(nr AS DOUBLE) / CAST(n AS DOUBLE))
                         * (1.0 - (CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))
                                  * (CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))
                                - (CAST(nr - pr AS DOUBLE) / CAST(nr AS DOUBLE))
                                  * (CAST(nr - pr AS DOUBLE) / CAST(nr AS DOUBLE))))
                      AS gain
             FROM sts),
           str AS (
             SELECT *, row_number() OVER (PARTITION BY grp
                      ORDER BY gain DESC, t) AS rnk
             FROM stx)""",
        """SELECT grp AS item_category, t AS threshold_units, gain, n,
                  p AS n_pos, nl AS n_left, pl AS pos_left,
                  nr AS n_right, pr AS pos_right
           FROM str WHERE rnk = 1 ORDER BY item_category""")),

    // ---- ext: quantile normalization across sources (pooled-rank
    // value remap — identical post-map distributions per source) ----
    Gated("q133_quantile_normalize", (s, dir) =>
      graft.ext.Profiling.quantileNormalize(
          Tables.documents(s, dir), "source", "n_chars", "doc_id")
        .select(col("id").as("doc_id"), col("g").as("source"),
          col("v").as("n_chars"), col("norm_v").as("norm_chars"))
        .orderBy(col("doc_id")),
      """WITH qv AS (SELECT doc_id AS id, source AS g, n_chars AS val
                       FROM documents),
             qr AS (SELECT *,
                           row_number() OVER (PARTITION BY g
                             ORDER BY val, id) AS rn,
                           count(*) OVER (PARTITION BY g) AS cnt
                    FROM qv),
             qn AS (SELECT count(*) AS n_total FROM qv),
             qd AS (SELECT val, count(*) AS c FROM qv GROUP BY 1),
             qc AS (SELECT val,
                           sum(c) OVER (ORDER BY val) AS cum_hi,
                           sum(c) OVER (ORDER BY val) - c + 1 AS cum_lo
                    FROM qd),
             qt AS (SELECT qr.*, (rn * n_total + cnt - 1) // cnt AS tgt
                    FROM qr CROSS JOIN qn)
           SELECT qt.id AS doc_id, qt.g AS source, qt.val AS n_chars,
                  qc.val AS norm_chars
           FROM qt JOIN qc ON qt.tgt BETWEEN qc.cum_lo AND qc.cum_hi
           ORDER BY doc_id"""),

    // ---- ext: PCA top component — power iteration over the q161
    // covariance (quantized order-free matvec; model readout) ----
    Gated("q188_pca_loadings", (s, dir) =>
      graft.ext.Profiling.pcaLoadings(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("dim_idx")),
      ExtOracleSql.pcaLoadings(dim = 64, iterations = 12)),

    // ---- ext: per-vector PC1 projection — the distributed half of the
    // PCA pass (component broadcast as a literal into the scan) ----
    Gated("q189_pca_projection", (s, dir) =>
      graft.ext.Profiling.pcaProjection(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id")),
      ExtOracleSql.pcaProjection(dim = 64, iterations = 12)),

    // ---- ext: incremental covariance maintenance — merged partial
    // stats == full rebuild (q79's contract for the embedding tier) ----
    Gated("q198_incremental_cov", (s, dir) =>
      graft.ext.Profiling.covariancePairsIncremental(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          isDelta = col("vec_id") % 10 === 0)
        .orderBy(col("i"), col("j")),
      // q198 (incremental maintenance) must reproduce q161's full
      // recompute EXACTLY — shared oracle, the q79 contract for the
      // embedding stats tier
      covarianceSql),

    // ---- ext: exact weighted discrete quantiles — what does the median
    // SOLD UNIT cost (unit price weighted by quantity) ----
    Gated("q200_weighted_quantiles", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select(
          col("p_partkey"), col("p_type").as("item_category"))),
          col("l_partkey") === col("p_partkey"))
      graft.ext.Profiling.weightedQuantilesDisc(
          li, "item_category",
          round((col("l_extendedprice").cast("double")
            / col("l_quantity").cast("double")) * 10000).cast("long"),
          col("l_quantity").cast("long"))
        .orderBy(col("item_category"))
    },
      """WITH wqh AS (
             SELECT p.p_type AS item_category,
                    CAST(round((CAST(l.l_extendedprice AS DOUBLE)
                                / CAST(l.l_quantity AS DOUBLE)) * 10000)
                      AS BIGINT) AS v,
                    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS w
             FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             GROUP BY 1, 2),
           wqc AS (
             SELECT item_category, v, w,
                    CAST(sum(w) OVER (PARTITION BY item_category ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cumw
             FROM wqh),
           wqt AS (
             SELECT item_category, CAST(sum(w) AS BIGINT) AS tw
             FROM wqh GROUP BY 1)
           SELECT c.item_category,
                  min(CASE WHEN c.cumw >= (50 * t.tw + 99) // 100
                           THEN c.v END) AS wp50,
                  min(CASE WHEN c.cumw >= (90 * t.tw + 99) // 100
                           THEN c.v END) AS wp90,
                  max(t.tw) AS total_weight
           FROM wqc c JOIN wqt t USING (item_category)
           GROUP BY 1 ORDER BY item_category"""),

    // ---- ext: RFM-segment × market-segment contingency with per-cell
    // chi² contributions over the FULL grid ----
    Gated("q212_segment_crosstab", (s, dir) => {
      val seg = graft.gold.Rfm(Conformed.orderRevenueCached(s, dir))
        .select(col("user_id"), col("segment"))
      val mkt = Tables.customer(s, dir).select(
        col("c_custkey").as("user_id"), col("c_mktsegment").as("mktsegment"))
      graft.ext.Profiling.contingencyChi2(
          seg.join(mkt, Seq("user_id")), "segment", "mktsegment")
        .orderBy(col("segment"), col("mktsegment"))
    },
      OracleSql.withBase(
        """xrf AS (
             SELECT user_id,
                    count(DISTINCT order_id) AS frequency,
                    sum(round(total_revenue * 10000)) / 10000.0 AS monetary,
                    max(creation_date) AS last_purchase_date
             FROM order_revenue GROUP BY 1),
           xsg AS (
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
                         ELSE 'Standard' END AS segment
             FROM xrf),
           xjn AS (
             SELECT s.segment AS r, c.c_mktsegment AS c
             FROM xsg s JOIN customer c ON s.user_id = c.c_custkey),
           xcl AS (SELECT r, c, count(*) AS n FROM xjn GROUP BY 1, 2),
           xrt AS (SELECT r, CAST(sum(n) AS BIGINT) AS rt FROM xcl GROUP BY 1),
           xct AS (SELECT c, CAST(sum(n) AS BIGINT) AS ct FROM xcl GROUP BY 1),
           xtt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM xcl),
           xgr AS (
             SELECT xrt.r, xct.c, xrt.rt, xct.ct,
                    COALESCE(xcl.n, 0) AS n
             FROM xrt CROSS JOIN xct
             LEFT JOIN xcl ON xcl.r = xrt.r AND xcl.c = xct.c),
           xex AS (
             SELECT r, c, n,
                    CAST(rt AS DOUBLE) * ct / xtt.tot AS e
             FROM xgr CROSS JOIN xtt)""",
        """SELECT r AS segment, c AS mktsegment, n,
                  round(e, 6) AS expected,
                  round((n - e) * (n - e) / e, 6) AS chi2_cell
           FROM xex ORDER BY segment, mktsegment""",
      )),

    // ---- ext: Fisher per-dimension label separability (LDA screen) ----
    Gated("q213_fisher_ratio", (s, dir) =>
      graft.ext.Profiling.fisherSeparability(
          Tables.embeddings(s, dir), "embedding", "label")
        .orderBy(col("dim_idx")),
      """WITH fsq AS (
             SELECT label,
                    list_transform(CAST(embedding AS DOUBLE[]),
                      x -> CAST(round(x * 1000) AS BIGINT)) AS qv
             FROM embeddings),
           fse AS (
             SELECT label,
                    unnest(generate_series(1, len(qv))) - 1 AS pos,
                    unnest(qv) AS x
             FROM fsq),
           fsl AS (
             SELECT label, pos, count(*) AS n,
                    CAST(sum(x) AS BIGINT) AS s,
                    CAST(sum(x * x) AS BIGINT) AS q2
             FROM fse GROUP BY 1, 2),
           fsm AS (
             SELECT pos, CAST(sum(n) AS BIGINT) AS nn,
                    CAST(sum(s) AS BIGINT) AS ss
             FROM fsl GROUP BY 1),
           fst AS (
             SELECT l.pos,
                    CAST(round(l.n * ((CAST(l.s AS DOUBLE) / l.n
                                       - CAST(m.ss AS DOUBLE) / m.nn)
                                      * (CAST(l.s AS DOUBLE) / l.n
                                         - CAST(m.ss AS DOUBLE) / m.nn))
                               * 1000.0) AS BIGINT) AS bt,
                    CAST(round((l.q2 - CAST(l.s AS DOUBLE) * l.s / l.n)
                               * 1000.0) AS BIGINT) AS wt
             FROM fsl l JOIN fsm m USING (pos)),
           fsa AS (
             SELECT pos, count(*) AS n_classes,
                    CAST(sum(bt) AS BIGINT) AS bu,
                    CAST(sum(wt) AS BIGINT) AS wu
             FROM fst GROUP BY 1)
           SELECT CAST(pos AS BIGINT) AS dim_idx, n_classes,
                  CASE WHEN wu > 0
                       THEN round(CAST(bu AS DOUBLE) / wu, 6) END
                    AS fisher_ratio
           FROM fsa ORDER BY dim_idx"""),

    // ---- ext: closed-form two-feature OLS per brand (normal
    // equations from integer moment sums; no iterative fit) ----
    Gated("q237_ols_price_model", (s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val d = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          round(col("l_extendedprice")).cast("long").as("y"),
          col("l_quantity").cast("long").as("x1"),
          round(col("l_discount") * 100).cast("long").as("x2"))
        // pinned brand repartition (r15): the ten decimal(38,0) moment
        // partials otherwise build inside the one-row-group scan task
        // (cpu_share 1.2); olsNormalEq's groupBy reuses the distribution
        .repartition(s.sparkContext.defaultParallelism, col("p_brand"))
      graft.ext.Profiling.olsNormalEq(d, col("p_brand"),
          col("y"), col("x1"), col("x2"))
        .withColumnRenamed("grp", "p_brand")
        .orderBy(col("p_brand"))
    },
      """WITH ov AS (
           SELECT p.p_brand,
                  CAST(round(l.l_extendedprice) AS BIGINT) AS y,
                  CAST(l.l_quantity AS BIGINT) AS x1,
                  CAST(round(l.l_discount * 100) AS BIGINT) AS x2
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         oa AS (
           SELECT p_brand, count(*) AS n,
                  CAST(sum(x1) AS BIGINT) AS sx1,
                  CAST(sum(x2) AS BIGINT) AS sx2,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x1 * x1) AS BIGINT) AS sx11,
                  CAST(sum(x2 * x2) AS BIGINT) AS sx22,
                  CAST(sum(x1 * x2) AS BIGINT) AS sx12,
                  CAST(sum(x1 * y) AS BIGINT) AS sx1y,
                  CAST(sum(x2 * y) AS BIGINT) AS sx2y,
                  CAST(sum(y * y) AS BIGINT) AS syy
           FROM ov GROUP BY 1),
         oc AS (
           SELECT p_brand, n, sx1, sx2, sy,
                  CAST(n AS DOUBLE) * sx11 - CAST(sx1 AS DOUBLE) * sx1 AS s11,
                  CAST(n AS DOUBLE) * sx22 - CAST(sx2 AS DOUBLE) * sx2 AS s22,
                  CAST(n AS DOUBLE) * sx12 - CAST(sx1 AS DOUBLE) * sx2 AS s12,
                  CAST(n AS DOUBLE) * sx1y - CAST(sx1 AS DOUBLE) * sy AS sy1,
                  CAST(n AS DOUBLE) * sx2y - CAST(sx2 AS DOUBLE) * sy AS sy2,
                  CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS syc
           FROM oa),
         od AS (SELECT *, s11 * s22 - s12 * s12 AS det FROM oc),
         ob AS (SELECT *,
                       (sy1 * s22 - sy2 * s12) / det AS b1,
                       (sy2 * s11 - sy1 * s12) / det AS b2
                FROM od WHERE det > 0 AND syc > 0)
         SELECT p_brand, n,
                round((CAST(sy AS DOUBLE) - b1 * sx1 - b2 * sx2) / n, 6) AS b0,
                round(b1, 6) AS b1, round(b2, 6) AS b2,
                round((b1 * sy1 + b2 * sy2) / syc, 6) AS r2
         FROM ob ORDER BY p_brand"""),

    // ---- ext: t-closeness privacy audit (nation QI × mktsegment) ----
    Gated("q261_t_closeness", (s, dir) =>
      graft.ext.Profiling.tCloseness(Tables.customer(s, dir),
          col("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("qi")),
      """WITH tcb AS (SELECT c_nationkey AS qi, c_mktsegment AS sv
                      FROM customer),
         tcc AS (SELECT qi, sv, count(*) AS c FROM tcb GROUP BY 1, 2),
         tcn AS (SELECT qi, CAST(sum(c) AS BIGINT) AS n FROM tcc GROUP BY 1),
         tcg AS (SELECT sv, count(*) AS g FROM tcb GROUP BY 1),
         tct AS (SELECT CAST(sum(g) AS BIGINT) AS ng FROM tcg),
         tcx AS (SELECT nn.qi, nn.n, t.ng, gg.sv, gg.g, cc.c
                 FROM tcn nn CROSS JOIN tcg gg CROSS JOIN tct t
                 LEFT JOIN tcc cc ON cc.qi = nn.qi AND cc.sv = gg.sv),
         tca AS (SELECT qi, n, ng,
                        CAST(sum(abs(coalesce(c, 0) * ng - g * n)) AS BIGINT)
                          AS num
                 FROM tcx GROUP BY 1, 2, 3)
         SELECT qi, n AS class_size,
                ((num * 1000000 * 2 + (n * ng * 2)) // (n * ng * 2 * 2))
                  / 1000000.0 AS t_closeness
         FROM tca ORDER BY qi"""),

    // ---- ext: Spearman rank correlation quantity↔net price per
    // brand (monotone association, robust to the money tail) ----
    Gated("q263_spearman", (s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val d = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          round(col("l_quantity")).cast("long").as("x"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("y"))
      graft.ext.Profiling.spearmanByGroup(d, "p_brand", col("x"), col("y"))
        .orderBy(col("p_brand"))
    },
      """WITH spv AS (
             SELECT p_brand,
                    CAST(round(l_quantity) AS BIGINT) AS x,
                    CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) AS y
             FROM lineitem JOIN part ON l_partkey = p_partkey),
         spr AS (
             SELECT p_brand,
                    CAST(rank() OVER (PARTITION BY p_brand ORDER BY x)
                      AS BIGINT) * 2
                      + count(*) OVER (PARTITION BY p_brand, x) - 1 AS rx2,
                    CAST(rank() OVER (PARTITION BY p_brand ORDER BY y)
                      AS BIGINT) * 2
                      + count(*) OVER (PARTITION BY p_brand, y) - 1 AS ry2
             FROM spv),
         spm AS (
             SELECT p_brand, count(*) AS n,
                    sum(CAST(rx2 AS HUGEINT)) AS sx,
                    sum(CAST(ry2 AS HUGEINT)) AS sy,
                    sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
                    sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
                    sum(CAST(ry2 AS HUGEINT) * ry2) AS syy
             FROM spr GROUP BY 1)
         SELECT p_brand, CAST(n AS BIGINT) AS n,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                     THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                             * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                     END AS rho
         FROM spm ORDER BY p_brand"""),

    // ---- ext: source↔language mutual information (does source
    // determine language — the stratification dependence audit) ----
    Gated("q285_source_lang_mi", (s, dir) =>
      graft.ext.Profiling.categoricalMutualInfo(Tables.documents(s, dir),
        col("source"), col("lang")),
      """WITH mj AS (
             SELECT source AS a, lang AS b, count(*) AS c
             FROM documents GROUP BY 1, 2),
         mt AS (
             SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS n_cells,
                    CAST(sum(CAST(round(c * ln(c) * 1e9) AS BIGINT))
                      AS BIGINT) AS s_ab
             FROM mj),
         ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM mj GROUP BY 1),
         maa AS (
             SELECT count(*) AS n_a,
                    CAST(sum(CAST(round(ca * ln(ca) * 1e9) AS BIGINT))
                      AS BIGINT) AS s_a
             FROM ma),
         mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM mj GROUP BY 1),
         mbb AS (
             SELECT count(*) AS n_b,
                    CAST(sum(CAST(round(cb * ln(cb) * 1e9) AS BIGINT))
                      AS BIGINT) AS s_b
             FROM mb)
         SELECT n, n_a, n_b, n_cells,
                round(ln(n) - (s_a / 1e9) / n, 6) AS h_a,
                round(ln(n) - (s_b / 1e9) / n, 6) AS h_b,
                round(ln(n) + ((s_ab - s_a - s_b) / 1e9) / n, 6) AS mi_nats,
                CASE WHEN round(ln(n) - (s_a / 1e9) / n, 6) > 0
                      AND round(ln(n) - (s_b / 1e9) / n, 6) > 0
                  THEN round((ln(n) + ((s_ab - s_a - s_b) / 1e9) / n)
                    / sqrt((ln(n) - (s_a / 1e9) / n)
                           * (ln(n) - (s_b / 1e9) / n)), 6)
                END AS nmi
         FROM mt CROSS JOIN maa CROSS JOIN mbb"""),

    // ---- ext: histogram-grain Kendall τ-b per brand (quantity vs
    // discount percent — bounded 50×11 grid per group) ----
    Gated("q288_kendall_tau", (s, dir) =>
      graft.ext.Profiling.kendallTauBinned(
        Tables.lineitem(s, dir).join(
          Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey")),
        "p_brand",
        round(col("l_quantity")).cast("long"),
        round(col("l_discount") * 100).cast("long")),
      """WITH kj AS (
             SELECT p_brand AS g, CAST(round(l_quantity) AS BIGINT) AS x,
                    CAST(round(l_discount * 100) AS BIGINT) AS y
             FROM lineitem JOIN part ON l_partkey = p_partkey),
         kc AS (SELECT g, x, y, CAST(count(*) AS BIGINT) AS c
                FROM kj GROUP BY 1, 2, 3),
         cd AS (
             SELECT a.g,
                    CAST(sum(CASE WHEN b.y > a.y
                         THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
                      AS HUGEINT) AS conc,
                    CAST(sum(CASE WHEN b.y < a.y
                         THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
                      AS HUGEINT) AS disc
             FROM kc a JOIN kc b ON a.g = b.g AND b.x > a.x
             GROUP BY 1),
         kx AS (SELECT g, CAST(sum(CAST(r AS HUGEINT) * (r - 1))
                       AS HUGEINT) AS tx2
                FROM (SELECT g, x, CAST(sum(c) AS BIGINT) AS r
                      FROM kc GROUP BY 1, 2) GROUP BY 1),
         ky AS (SELECT g, CAST(sum(CAST(r AS HUGEINT) * (r - 1))
                       AS HUGEINT) AS ty2
                FROM (SELECT g, y, CAST(sum(c) AS BIGINT) AS r
                      FROM kc GROUP BY 1, 2) GROUP BY 1),
         kn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM kc GROUP BY 1)
         SELECT kn.g AS p_brand, kn.n,
                CASE WHEN CAST(kn.n AS HUGEINT) * (kn.n - 1) - kx.tx2 > 0
                      AND CAST(kn.n AS HUGEINT) * (kn.n - 1) - ky.ty2 > 0
                  THEN round(2.0 * CAST(COALESCE(cd.conc, 0)
                        - COALESCE(cd.disc, 0) AS DOUBLE)
                    / (sqrt(CAST(CAST(kn.n AS HUGEINT) * (kn.n - 1)
                            - kx.tx2 AS DOUBLE))
                       * sqrt(CAST(CAST(kn.n AS HUGEINT) * (kn.n - 1)
                              - ky.ty2 AS DOUBLE))), 6)
                END AS tau_b
         FROM kn
         LEFT JOIN cd ON kn.g = cd.g
         JOIN kx ON kn.g = kx.g
         JOIN ky ON kn.g = ky.g
         ORDER BY p_brand"""),

    // ---- ext: Cramér's V priority × status (the effect-size
    // companion to q285's MI) ----
    Gated("q289_cramers_v", (s, dir) =>
      graft.ext.Profiling.cramersV(Tables.orders(s, dir),
        col("o_orderpriority"), col("o_orderstatus")),
      """WITH vj AS (
             SELECT o_orderpriority AS a, o_orderstatus AS b,
                    CAST(count(*) AS BIGINT) AS c
             FROM orders GROUP BY 1, 2),
         vr AS (SELECT a, CAST(sum(c) AS BIGINT) AS r FROM vj GROUP BY 1),
         vk AS (SELECT b, CAST(sum(c) AS BIGINT) AS k FROM vj GROUP BY 1),
         vt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vj),
         vg AS (
             SELECT vt.n, vr.r, vk.k,
                    CAST(vt.n AS HUGEINT) * COALESCE(vj.c, 0)
                      - CAST(vr.r AS HUGEINT) * vk.k AS d
             FROM vr CROSS JOIN vk CROSS JOIN vt
             LEFT JOIN vj ON vj.a = vr.a AND vj.b = vk.b),
         vm AS (
             SELECT n, CAST(sum(CAST(round(
                      CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE)
                         * CAST(k AS DOUBLE)) * 1e9) AS HUGEINT))
                    AS HUGEINT) AS su
             FROM vg GROUP BY 1),
         vl AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM vr) AS n_a,
                       (SELECT CAST(count(*) AS BIGINT) FROM vk) AS n_b)
         SELECT n, n_a, n_b,
                round(CAST(su AS DOUBLE) / 1e9, 6) AS chi2,
                CASE WHEN LEAST(n_a, n_b) > 1
                  THEN round(sqrt(CAST(su AS DOUBLE) / 1e9
                    / (CAST(n AS DOUBLE) * (LEAST(n_a, n_b) - 1))), 6)
                END AS cramers_v
         FROM vm CROSS JOIN vl"""),
  )
}
