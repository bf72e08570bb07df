package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables
import graft.oracle.ExtOracleSql

object TextAnalysisQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: text analysis ----
    Gated("q22_langid", (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.langId),
    Gated("q23_quality", (s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.qualityScore),
    Gated("q24_token_counts", (s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.tokenCounts),
    Gated("q25_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.fingerprint),

    // ---- ext: corpus term statistics (df/tf vocabulary) ----
    Gated("q37_term_stats", (s, dir) =>
      TextAnalysis.termStats(Tables.documents(s, dir), "doc_id", "text", topK = 100)
        .orderBy(col("df").desc, col("term")),
      s"""WITH tok AS (
            SELECT doc_id, unnest(${graft.functions.Portable.tokensSql("text")}) AS term
            FROM documents)
          SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
          FROM tok GROUP BY term
          ORDER BY df DESC, term LIMIT 100"""),

    // ---- ext: corpus-frequency boilerplate signal (frequent n-gram
    // share per doc — the frequent-line filter analogue) ----
    Gated("q84_boilerplate_share", (s, dir) =>
      TextAnalysis.boilerplateShare(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.boilerplateShare(n = 3, minDf = 10)),

    // ---- ext: BPE-style merge-candidate (bigram) statistics ----
    Gated("q86_bigram_merges", (s, dir) =>
      TextAnalysis.bigramMergeStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("merge_rank")),
      ExtOracleSql.bigramMergeStats(topK = 50)),

    // ---- ext: inverted-index postings with bounded-heap samples ----
    Gated("q89_postings", (s, dir) =>
      TextAnalysis.postings(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("term")),
      ExtOracleSql.postings(maxPostings = 20)),

    // ---- ext: TF-IDF relevance + PII scrub ----
    Gated("q49_tfidf", (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"), col("term_rank")),
      ExtOracleSql.tfidfTopTerms(topPerDoc = 3)),
    Gated("q50_pii_scrub", (s, dir) =>
      TextAnalysis.piiScrub(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.piiScrub),

    // ---- ext: RAG/pretraining chunking + repetition quality signals ----
    Gated("q60_chunking", (s, dir) =>
      TextAnalysis.chunk(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"), col("chunk_id")),
      ExtOracleSql.chunk(chunkSize = 64, overlap = 16)),
    Gated("q62_repetition", (s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.repetitionSignals),
    Gated("q63_pack_sequences", (s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.packSequences(budget = 2048, shards = 8)),

    // ---- ext: token-distribution entropy (repetition complement) ----
    Gated("q66_token_entropy", (s, dir) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.tokenEntropy),

    // ---- ext: unigram-LM quality scoring (CCNet-style filter) ----
    Gated("q76_lm_score", (s, dir) =>
      TextAnalysis.lmScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.lmScore),

    // ---- ext: materialized training sequences (pack text concat) ----
    Gated("q70_packed_text", (s, dir) =>
      TextAnalysis.packedText(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("shard"), col("pack_id")),
      ExtOracleSql.packedText(
        budget = 2048, shards = 8, sep = " <|doc|> ")),

    // ---- ext: Cohen's kappa — chance-corrected agreement between the
    // upstream lang tag and the n-gram language detector ----
    Gated("q125_kappa_agreement", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val detected = graft.ext.TextAnalysis.langId(docs, "doc_id", "text")
        .select(col("doc_id"), col("detected_lang"))
      graft.ext.Profiling.cohenKappa(
        docs.select(col("doc_id"), col("lang")).join(detected, Seq("doc_id")),
        col("lang"), col("detected_lang"))
    },
      ExtOracleSql.kappaLangAgreement),

    // ---- ext: per-source LM-quality pruning audit — rank-based keep
    // fraction (integer predicate, no float threshold) over q76's
    // unigram-LM scores ----
    Gated("q146_lm_prune", (s, dir) =>
      graft.ext.TextAnalysis.lmPruneBySource(
          Tables.documents(s, dir), "doc_id", "text", "source",
          keepNum = 4, keepDen = 5)
        .orderBy(col("source")),
      ExtOracleSql.lmPruneBySource(keepNum = 4, keepDen = 5)),

    // ---- ext: score-calibration bins over the unigram-LM score
    // (reliability diagram: mean score vs positive rate per decile) ----
    Gated("q150_calibration", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.ext.TextAnalysis.lmScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source"), col("lang")), Seq("doc_id"))
      graft.ext.Profiling.calibrationBins(
          scored, "source", "doc_id", "avg_logprob",
          positive = col("lang") === "en", bins = 10)
        .orderBy(col("source"), col("bin"))
    },
      ExtOracleSql.lmCalibrationBins(bins = 10)),

    // ---- ext: per-source rank AUC (Mann-Whitney with tie-averaged
    // ranks) of the quality score predicting lang='en' ----
    Gated("q163_rank_auc", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val qs = graft.ext.TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      graft.ext.Profiling.rankAuc(
          docs.select(col("doc_id"), col("source"), col("lang"))
            .join(qs, Seq("doc_id")),
          "source", col("quality_score"), col("lang") === "en")
        .orderBy(col("source"))
    },
      ExtOracleSql.rankAucQualityBySource),

    // ---- ext: per-source vocabulary profile (Heaps'-law vitals:
    // tokens, types, hapax, TTR) ----
    Gated("q167_vocab_growth", (s, dir) =>
      graft.ext.TextAnalysis.vocabGrowth(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source")),
      s"""WITH vgt AS (
              SELECT source, unnest(${graft.functions.Portable.tokensSql("text")})
                       AS term
              FROM documents),
            vgf AS (SELECT source, term, count(*) AS tf
                    FROM vgt GROUP BY 1, 2)
           SELECT source,
                  CAST(sum(tf) AS BIGINT) AS n_tokens,
                  count(*) AS n_types,
                  CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_hapax,
                  round(CAST(count(*) AS DOUBLE) / sum(tf), 6) AS ttr,
                  round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                        / count(*), 6) AS hapax_ratio
           FROM vgf GROUP BY 1 ORDER BY source"""),

    // ---- ext: in-engine multinomial naive Bayes (add-one smoothing,
    // quantized log units) scored back as a lang confusion matrix ----
    Gated("q174_nb_confusion", (s, dir) =>
      graft.ext.TextAnalysis.naiveBayesConfusion(
          Tables.documents(s, dir), "doc_id", "text", "lang")
        .orderBy(col("true_label"), col("predicted")),
      s"""WITH nbt AS (
              SELECT doc_id, lang AS label,
                     unnest(${graft.functions.Portable.tokensSql("text")}) AS w
              FROM documents),
            nbtf AS (SELECT doc_id, w, count(*) AS tf FROM nbt GROUP BY 1, 2),
            nbcw AS (SELECT label, w, count(*) AS cwc FROM nbt GROUP BY 1, 2),
            nbct AS (SELECT label, count(*) AS ctok FROM nbt GROUP BY 1),
            nbv AS (SELECT DISTINCT w FROM nbt),
            nbvs AS (SELECT count(*) AS v FROM nbv),
            nbn AS (SELECT count(*) AS ndocs FROM documents),
            nbpr AS (
              SELECT lang AS label,
                     CAST(round(ln(CAST(count(*) AS DOUBLE) / nbn.ndocs)
                       * 1e9) AS BIGINT) AS prior_units
              FROM documents CROSS JOIN nbn GROUP BY lang, nbn.ndocs),
            nbm AS (
              SELECT nbv.w, ct.label,
                     CAST(round(ln(
                       CAST(coalesce(cw.cwc, 0) + 1 AS DOUBLE)
                         / (ct.ctok + vs.v)) * 1e9) AS BIGINT) AS ll_units
              FROM nbv CROSS JOIN nbct ct CROSS JOIN nbvs vs
              LEFT JOIN nbcw cw ON cw.label = ct.label AND cw.w = nbv.w),
            nbsc AS (
              SELECT tf.doc_id, m.label,
                     CAST(sum(tf.tf * m.ll_units) AS BIGINT) AS tu
              FROM nbtf tf JOIN nbm m ON tf.w = m.w
              GROUP BY 1, 2),
            nbp AS (
              SELECT doc_id, label AS predicted FROM (
                SELECT s.doc_id, s.label,
                       row_number() OVER (PARTITION BY s.doc_id
                         ORDER BY CAST(s.tu + p.prior_units AS DOUBLE) DESC,
                                  s.label) AS rn
                FROM nbsc s JOIN nbpr p USING (label))
              WHERE rn = 1)
           SELECT d.lang AS true_label, p.predicted, count(*) AS n_docs
           FROM documents d JOIN nbp p USING (doc_id)
           GROUP BY 1, 2 ORDER BY true_label, predicted"""),

    // ---- ext: chi-square token keyness per language — top-k distinctive
    // tokens with exact-integer enrichment direction ----
    Gated("q182_keyness", (s, dir) =>
      graft.ext.TextAnalysis.tokenKeyness(
          Tables.documents(s, dir), "text", "lang", k = 10)
        .orderBy(col("label"), col("rank")),
      s"""WITH kyt AS (
              SELECT lang AS label,
                     unnest(${graft.functions.Portable.tokensSql("text")}) AS w
              FROM documents),
            kylw AS (SELECT label, w, count(*) AS a FROM kyt GROUP BY 1, 2),
            kyw AS (SELECT w, count(*) AS n_w FROM kyt GROUP BY 1),
            kyl AS (SELECT label, count(*) AS n_l FROM kyt GROUP BY 1),
            kyn AS (SELECT count(*) AS n FROM kyt),
            kyj AS (
              SELECT lw.label, lw.w, lw.a,
                     ww.n_w, ll.n_l, kyn.n,
                     ww.n_w - lw.a AS b,
                     ll.n_l - lw.a AS c,
                     kyn.n - ll.n_l - (ww.n_w - lw.a) AS d
              FROM kylw lw
              JOIN kyw ww USING (w)
              JOIN kyl ll USING (label)
              CROSS JOIN kyn),
            kyx AS (
              SELECT label, w, a, n_w, n_l, n, b, c, d,
                     CAST(a * d - b * c AS DOUBLE) AS det
              FROM kyj),
            kyc AS (
              SELECT label, w, a, n_w, n_l,
                     CAST(n AS DOUBLE) * det * det
                       / (CAST(n_w AS DOUBLE) * (c + d) * n_l * (b + d))
                       AS chi2_raw,
                     a * n > n_w * n_l AS enriched
              FROM kyx),
            kyr AS (
              SELECT *, row_number() OVER (PARTITION BY label
                ORDER BY chi2_raw DESC, w) AS rank
              FROM kyc)
            SELECT label, rank, w AS token, a AS n_token_label, n_w, n_l,
                   round(chi2_raw, 6) AS chi2, enriched
            FROM kyr WHERE rank <= 10 ORDER BY label, rank"""),

    // ---- ext: bigram-LM document scoring — q76's unigram model with
    // one token of context (word-salad vs fluent separation) ----
    Gated("q186_bigram_lm", (s, dir) =>
      graft.ext.TextAnalysis.bigramLmScore(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.bigramLmScore),

    // ---- ext: Zipf's-law fit per source (ln freq vs ln rank OLS over
    // top terms; boilerplate/repetition screen) ----
    Gated("q194_zipf_fit", (s, dir) =>
      graft.ext.TextAnalysis.zipfFit(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source")),
      s"""WITH zft AS (
              SELECT source,
                     unnest(${graft.functions.Portable.tokensSql("text")}) AS w
              FROM documents),
            zff AS (SELECT source, w, count(*) AS freq FROM zft GROUP BY 1, 2),
            zfr AS (
              SELECT source,
                     CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                     CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS y
              FROM (SELECT source, freq,
                           row_number() OVER (PARTITION BY source
                             ORDER BY freq DESC, w) AS rank
                    FROM zff)
              WHERE rank <= 200),
            zfm AS (
              SELECT source, count(*) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM zfr GROUP BY 1),
            zfx AS (
              SELECT source, n,
                     CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                     CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
                     CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
              FROM zfm)
            SELECT source, n AS n_terms,
                   CASE WHEN denx = 0 THEN NULL
                        ELSE num / denx END AS zipf_slope,
                   CASE WHEN denx = 0 OR deny = 0 THEN NULL
                        ELSE (num * num) / (denx * deny) END AS r2
            FROM zfx ORDER BY source"""),

    // ---- ext: PMI collocations (top-k adjacent pairs by pointwise
    // mutual information, minCount-pruned) ----
    Gated("q216_collocations", (s, dir) =>
      graft.ext.TextAnalysis.collocations(
          Tables.documents(s, dir), "doc_id", "text", topK = 50, minCount = 5)
        .orderBy(col("rank")),
      s"""WITH clt AS (
              SELECT doc_id, ${graft.functions.Portable.tokensSql("text")} AS t
              FROM documents),
            clb AS (
              SELECT t[i] AS w1, t[i + 1] AS w2
              FROM (SELECT t, unnest(range(1, len(t))) AS i FROM clt)),
            clm AS (SELECT w1, w2, count(*) AS c12 FROM clb GROUP BY 1, 2),
            clbt AS (SELECT CAST(sum(c12) AS BIGINT) AS b FROM clm),
            clug AS (
              SELECT w, count(*) AS c
              FROM (SELECT unnest(t) AS w FROM clt) GROUP BY 1),
            clnt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM clug),
            clp AS (
              SELECT m.w1, m.w2, m.c12,
                     ln(CAST(m.c12 AS DOUBLE) / clbt.b)
                       - ln(CAST(u1.c AS DOUBLE) / clnt.n)
                       - ln(CAST(u2.c AS DOUBLE) / clnt.n) AS pmi_raw
              FROM clm m
              JOIN clug u1 ON m.w1 = u1.w
              JOIN clug u2 ON m.w2 = u2.w
              CROSS JOIN clbt CROSS JOIN clnt
              WHERE m.c12 >= 5),
            clr AS (
              SELECT *, row_number() OVER (ORDER BY pmi_raw DESC, w1, w2)
                AS rank
              FROM clp)
            SELECT rank, w1, w2, c12, round(pmi_raw, 6) AS pmi
            FROM clr WHERE rank <= 50 ORDER BY rank"""),

    // ---- ext: language mix + entropy per source ----
    Gated("q251_source_lang_mix", (s, dir) =>
      TextAnalysis.sourceLangMix(Tables.documents(s, dir), "source", "lang")
        .orderBy(col("source")),
      """WITH slc AS (
           SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
         sla AS (
           SELECT source, count(*) AS n_langs,
                  CAST(sum(c) AS BIGINT) AS n_docs, max(c) AS top_c,
                  CAST(sum(CAST(round(c * ln(c) * 1e9) AS BIGINT)) AS BIGINT)
                    AS sn
           FROM slc GROUP BY 1)
         SELECT source, n_docs, n_langs,
                ((top_c * 1000000 * 2 + n_docs) // (n_docs * 2)) / 1000000.0
                  AS top_lang_share,
                round(ln(n_docs) - (sn / 1e9) / n_docs, 6) AS lang_entropy
         FROM sla ORDER BY source"""),

    // ---- ext: LM-scorer length-bias audit (log2 token buckets) ----
    Gated("q254_lm_length_bias", (s, dir) =>
      TextAnalysis.lmLengthBias(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("bucket")),
      ExtOracleSql.lmLengthBias),

    // ---- ext: corpus n-gram novelty saturation curve ----
    Gated("q255_ngram_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
          bucketSize = 50)
        .orderBy(col("bucket")),
      ExtOracleSql.ngramNovelty(bucketSize = 50)),

    // ---- ext: precision-recall operating points (quality → lang=en) ----
    Gated("q260_pr_curve", (s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir),
          "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      graft.ext.Profiling.prCurve(q.join(d, Seq("doc_id")),
          col("quality_score"), col("lang") === "en")
        .orderBy(col("threshold"))
    },
      ExtOracleSql.prCurveQualityEn),

    // ---- ext: calibration / reliability bins of the quality scorer
    // against lang=en (the ECE view q260's PR points can't see) ----
    Gated("q284_calibration_bins", (s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir),
          "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      graft.ext.Profiling.calibrationBins(q.join(d, Seq("doc_id")),
        col("quality_score"), col("lang") === "en")
    },
      ExtOracleSql.calibrationBinsQualityEn),

    // ---- ext: OOV rate of the test split vs the train split's
    // top-1000 vocabulary, per language ----
    Gated("q292_oov_rate", (s, dir) =>
      TextAnalysis.oovRate(Tables.documents(s, dir),
        "doc_id", "text", "lang"),
      s"""WITH ot AS (
             SELECT ${graft.ext.Sampling.hashBucketSql(
               "d.doc_id", "split")} AS bucket, d.lang,
                    unnest(${graft.functions.Portable.tokensSql("d.text")})
                      AS w
             FROM documents d),
         vv AS (SELECT w FROM (
                  SELECT w, count(*) AS c FROM ot
                  WHERE bucket < 80 GROUP BY 1)
                ORDER BY c DESC, w LIMIT 1000),
         oc AS (SELECT ot.lang, CAST(count(*) AS BIGINT) AS n_tokens,
                       CAST(sum(CASE WHEN vv.w IS NULL THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_oov
                FROM ot LEFT JOIN vv ON ot.w = vv.w
                WHERE ot.bucket >= 90 GROUP BY 1)
         SELECT lang, n_tokens, n_oov,
                (((n_oov * 1000000 * 2) + n_tokens) // (n_tokens * 2))
                  / 1000000.0 AS oov_share
         FROM oc ORDER BY lang"""),

    // ---- ext: Coleman-Liau readability per source (the syllable-free
    // grade-level formula — three exact counts per doc) ----
    Gated("q298_readability", (s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir),
        "text", "source"),
      s"""WITH rb AS (
             SELECT source,
                    CAST(round((0.0588 * (100.0 * length(regexp_replace(
                        text, '[ \\t\\n\\x0B\\f\\r]', '', 'g'))
                      / len(${graft.functions.Portable.tokensSql("text")}))
                      - 0.296 * (100.0 * len(regexp_extract_all(
                          text, '[.!?]+'))
                        / len(${graft.functions.Portable.tokensSql("text")}))
                      - 15.8) * 1e6) AS BIGINT) AS cq
             FROM documents
             WHERE len(${graft.functions.Portable.tokensSql("text")}) > 0),
         ra AS (
             SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(cq) AS BIGINT) AS scq,
                    CAST(sum(CASE WHEN cq >= 12000000 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_college
             FROM rb GROUP BY 1)
         SELECT source, n_docs,
                (CASE WHEN scq >= 0
                      THEN ((scq * 2) + n_docs) // (n_docs * 2)
                      ELSE -((((-scq) * 2) + n_docs) // (n_docs * 2))
                 END) / 1000000.0 AS mean_cli,
                (((n_college * 1000000 * 2) + n_docs) // (n_docs * 2))
                  / 1000000.0 AS college_share
         FROM ra ORDER BY source"""),

    // ---- ext: Murphy decomposition of the Brier score (the number
    // behind q284's reliability diagram: REL - RES + UNC) ----
    Gated("q307_brier", (s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir),
          "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      graft.ext.Profiling.brierDecomposition(q.join(d, Seq("doc_id")),
        col("quality_score"), col("lang") === "en")
    },
      ExtOracleSql.brierQualityEn),

    // ---- ext: isotonic (PAV) calibration of the quality score vs
    // lang=en — the monotone re-fit next to q150's diagnostic bins
    // and q307's Brier summary, via the exact minimax identity ----
    Gated("q317_isotonic", (s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir),
          "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      graft.ext.Profiling.isotonicCalibration(q.join(d, Seq("doc_id")),
        col("quality_score"), col("lang") === "en")
    },
      ExtOracleSql.isotonicQualityEn),

    // ---- ext: Good-Turing frequency smoothing at count-of-counts
    // grain (the estimator behind held-out LM probabilities; unseen
    // mass = N1/N) ----
    Gated("q319_good_turing", (s, dir) =>
      TextAnalysis.goodTuring(Tables.documents(s, dir), "text"),
      s"""WITH gtt AS (
             SELECT unnest(${graft.functions.Portable.tokensSql("text")})
               AS term FROM documents),
           gtc AS (SELECT term, CAST(count(*) AS BIGINT) AS c
                   FROM gtt GROUP BY 1),
           gtn AS (SELECT c, CAST(count(*) AS BIGINT) AS n_types
                   FROM gtc GROUP BY 1),
           gts AS (SELECT CAST(sum(CAST(c AS HUGEINT) * n_types) AS HUGEINT)
                       AS n_tok,
                     CAST(sum(CASE WHEN c = 1 THEN n_types ELSE 0 END)
                       AS BIGINT) AS n1
                   FROM gtn)
         SELECT a.c AS r, a.n_types,
                CASE WHEN b.n_types IS NOT NULL THEN
                  CAST(((CAST(a.c + 1 AS HUGEINT) * b.n_types * 1000000 * 2
                         + a.n_types) // (a.n_types * 2)) AS DOUBLE) / 1e6
                END AS r_star,
                CAST(((CAST(t.n1 AS HUGEINT) * 1000000 * 2 + t.n_tok)
                      // (t.n_tok * 2)) AS DOUBLE) / 1e6 AS p_unseen
         FROM gtn a LEFT JOIN gtn b ON b.c = a.c + 1 CROSS JOIN gts t
         ORDER BY r"""),

    // ---- ext: per-source lexical-richness vitals (TTR, hapax share,
    // Yule's K, Simpson's D, Herdan's C — the boilerplate screen) ----
    Gated("q326_lexical_richness", (s, dir) =>
      TextAnalysis.lexicalRichness(Tables.documents(s, dir),
        "source", "text"),
      s"""WITH lrt AS (
             SELECT source, unnest(${graft.functions.Portable.tokensSql("text")})
               AS term FROM documents),
           lrc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                   FROM lrt GROUP BY 1, 2),
           lra AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                          CAST(count(*) AS BIGINT) AS n_types,
                          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_hapax,
                          CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT)
                            AS scc
                   FROM lrc GROUP BY 1)
         SELECT source, n_tokens, n_types,
                ((n_types * 1000000 * 2 + n_tokens) // (n_tokens * 2))
                  / 1000000.0 AS ttr,
                ((n_hapax * 1000000 * 2 + n_types) // (n_types * 2))
                  / 1000000.0 AS hapax_share,
                CAST(((scc - n_tokens) * 10000 * 1000000 * 2
                      + CAST(n_tokens AS HUGEINT) * n_tokens)
                     // (CAST(n_tokens AS HUGEINT) * n_tokens * 2)
                  AS DOUBLE) / 1e6 AS yule_k,
                CASE WHEN n_tokens > 1 THEN
                  CAST(((scc - n_tokens) * 1000000000 * 2
                        + CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
                       // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1) * 2)
                    AS DOUBLE) / 1e9 END AS simpson_d,
                CAST(round(ln(CAST(n_types AS DOUBLE))
                  / ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
                  AS herdan_c
         FROM lra ORDER BY source"""),

    // ---- ext: Church-Gale term burstiness for the top-df vocabulary
    // (VMR of per-doc counts: glue ~1, topical >> 1) ----
    Gated("q333_burstiness", (s, dir) =>
      TextAnalysis.termBurstiness(Tables.documents(s, dir),
        "doc_id", "text"),
      s"""WITH tbn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                       FROM documents),
           tbt AS (SELECT doc_id,
                          unnest(${graft.functions.Portable.tokensSql("text")})
                            AS term
                   FROM documents),
           tbc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
                   FROM tbt GROUP BY 1, 2),
           tba AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                          CAST(sum(c) AS BIGINT) AS tf,
                          CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
                   FROM tbc GROUP BY 1)
         SELECT term, df, tf,
                CAST(((tf * 1000000 * 2) + df) // (df * 2) AS DOUBLE) / 1e6
                  AS burst,
                CAST((((CAST(n.n_docs AS HUGEINT) * s2
                        - CAST(tf AS HUGEINT) * tf) * 1000000 * 2)
                      + (CAST(n.n_docs AS HUGEINT) * tf))
                     // (CAST(n.n_docs AS HUGEINT) * tf * 2) AS DOUBLE)
                  / 1e6 AS vmr
         FROM tba CROSS JOIN tbn n
         ORDER BY df DESC, term LIMIT 30"""),
  )
}
