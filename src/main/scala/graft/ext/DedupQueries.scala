package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables
import graft.oracle.ExtOracleSql

object DedupQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: deduplication ----
    Gated("q15_dedup_exact", (s, dir) =>
      Dedup.keyedDupGroups(Tables.lineitem(s, dir), Seq("l_orderkey", "l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      ExtOracleSql.exactRowDups),
    Gated("q16_minhash_neardups", (s, dir) =>
      Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text", minEst = 0.5)
        .orderBy(col("id_a"), col("id_b")),
      ExtOracleSql.minhashNearDups(minEst = 0.5)),
    Gated("q17_simhash", (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.simhash),
    Gated("q18_jaccard_verify", (s, dir) =>
      Dedup.lshVerifiedPairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")),
      ExtOracleSql.jaccardVerify),
    Gated("q19_embedding_neardups", (s, dir) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label", threshold = 0.35)
        .orderBy(col("id_a"), col("id_b")),
      ExtOracleSql.embeddingNearDups(threshold = 0.35)),

    // ---- ext: character n-gram Jaccard near-dups ----
    Gated("q33_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")),
      ExtOracleSql.ngramJaccard(n = 5)),

    // ---- ext: doc-inside-doc containment over LSH candidates ----
    Gated("q85_containment_pairs", (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")),
      ExtOracleSql.containmentVerify),

    // ---- ext: cross-source rare-n-gram contamination matrix ----
    Gated("q90_source_overlap", (s, dir) =>
      Dedup.sourceOverlapMatrix(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source_a"), col("source_b")),
      ExtOracleSql.sourceOverlap(n = 3, maxDf = 5)),

    // ---- ext: typo-tolerant entity matching (blocked levenshtein) ----
    Gated("q97_fuzzy_match", (s, dir) =>
      Dedup.fuzzyNamePairs(Tables.part(s, dir), "p_partkey", "p_name",
          "p_brand", maxDist = 2)
        .orderBy(col("id_a"), col("id_b")),
      """WITH p AS (SELECT p_brand, p_partkey, p_name FROM part)
         SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
                a.p_name AS name_a, b.p_name AS name_b,
                levenshtein(a.p_name, b.p_name) AS edit_dist
         FROM p a JOIN p b ON a.p_brand = b.p_brand
                          AND a.p_partkey < b.p_partkey
         WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
           AND levenshtein(a.p_name, b.p_name) <= 2
         ORDER BY id_a, id_b"""),

    // ---- ext: benchmark decontamination (n-gram overlap scrub) ----
    Gated("q58_decontaminate", (s, dir) =>
      graft.ext.Dedup.decontaminate(Tables.documents(s, dir), "doc_id", "text",
          col("doc_id") % 20 === 0)
        .orderBy(col("doc_id")),
      ExtOracleSql.decontaminate(n = 5, modEvery = 20)),

    // ---- ext: incremental ingestion dedup (batch probes the corpus
    // band index — never re-dedups history) ----
    Gated("q129_dedup_against", (s, dir) =>
      graft.ext.Dedup.dedupAgainst(
          Tables.documents(s, dir), "doc_id", "text",
          isBatch = pmod(col("doc_id"), lit(10L)) === 0, minJaccard = 0.5)
        .orderBy(col("batch_id")),
      ExtOracleSql.dedupAgainst(modEvery = 10, minJaccard = 0.5)),

    // ---- ext: per-doc duplicated-n-gram share — the span-level dedup
    // signal document-level dedup misses (templated/stitched content) ----
    Gated("q148_dup_ngram_share", (s, dir) =>
      graft.ext.Dedup.dupNgramShare(
          Tables.documents(s, dir), "doc_id", "text", n = 5)
        .orderBy(col("doc_id")),
      ExtOracleSql.dupNgramShare(n = 5)),

    // ---- ext: blocked Jaro-Winkler entity pairs via the native
    // codegen expression (bit-identical to the oracle's rapidfuzz
    // convention, verified over every within-block pair) ----
    Gated("q168_jw_pairs", (s, dir) =>
      graft.ext.Dedup.jaroWinklerPairs(Tables.part(s, dir), "p_partkey",
          "p_name", "p_brand", minSim = 0.9)
        .orderBy(col("id_a"), col("id_b")),
      """WITH jwp AS (SELECT p_brand, p_partkey, p_name FROM part)
           SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
                  a.p_name AS name_a, b.p_name AS name_b,
                  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
           FROM jwp a JOIN jwp b ON a.p_brand = b.p_brand
                              AND a.p_partkey < b.p_partkey
           WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.9
           ORDER BY id_a, id_b"""),

    // ---- ext: per-source near-dup rate + cross-source duplication
    // (the source-weighting input; rolls q18's pairs to decision grain) ----
    Gated("q195_dup_rate", (s, dir) =>
      graft.ext.Dedup.dupRateBySource(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source")),
      ExtOracleSql.dupRateBySource(minJaccard = 0.7)),

    // ---- ext: exact-dedup yield manifest per source (bytes saved) ----
    Gated("q252_dedup_yield", (s, dir) =>
      graft.ext.Dedup.dedupYield(Tables.documents(s, dir),
          "doc_id", "text", "source", "n_chars")
        .orderBy(col("source")),
      """WITH dd AS (
           SELECT doc_id, source, n_chars AS nb, md5(text) AS h
           FROM documents),
         dk AS (SELECT h, min(doc_id) AS keep_id FROM dd GROUP BY 1),
         da AS (
           SELECT d.source, count(*) AS n_docs,
                  CAST(sum(CASE WHEN d.doc_id != k.keep_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed,
                  CAST(sum(CASE WHEN d.doc_id != k.keep_id THEN d.nb
                           ELSE 0 END) AS BIGINT) AS bytes_removed,
                  CAST(sum(d.nb) AS BIGINT) AS bytes_total
           FROM dd d JOIN dk k USING (h) GROUP BY 1)
         SELECT source, n_docs, n_removed,
                ((n_removed * 1000000 * 2 + n_docs) // (n_docs * 2))
                  / 1000000.0 AS removal_share,
                bytes_removed, bytes_total
         FROM da ORDER BY source"""),

    // ---- ext: quality-decile × dup-rate cross-signal audit ----
    Gated("q253_quality_dup", (s, dir) =>
      graft.ext.Dedup.qualityDupDeciles(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy(col("decile")),
      ExtOracleSql.qualityDupDeciles),

    // ---- ext: quality-aware canonical selection vs keep-min-id (the
    // dedup keep-policy audit: what the smarter canonical buys) ----
    Gated("q304_canonical_policy", (s, dir) =>
      graft.ext.Dedup.canonicalPolicyAudit(Tables.documents(s, dir),
        "doc_id", "text"),
      ExtOracleSql.canonicalPolicyAudit),

    // ---- ext: exact-substring span dedup (Lee et al. ACL'22 shape
    // at shingle grain — the span REMOVAL companion to q148's
    // duplicated-span measurement) ----
    Gated("q308_exact_substring_dedup", (s, dir) =>
      graft.ext.Dedup.exactSubstringDedup(
        Tables.documents(s, dir), "doc_id", "text"),
      ExtOracleSql.exactSubstringDedup(8)),

    // ---- ext: LSH S-curve calibration (empirical candidate-detection
    // rate per exact-Jaccard bucket vs the analytic 1-(1-s^r)^b curve
    // — the (numPerms, bands) design readout before a 100 TB run) ----
    Gated("q310_lsh_calibration", (s, dir) =>
      graft.ext.Dedup.lshCalibrationCurve(
        Tables.documents(s, dir), "doc_id", "text"),
      ExtOracleSql.lshCalibrationCurve(10, 1000)),

    // ---- ext: EXACT Jaccard-threshold join via prefix filtering
    // (AllPairs/PPJoin family — the exact-recall sibling of q16's
    // LSH; the oracle is brute-force all-pairs, proving completeness)
    Gated("q320_prefix_jaccard", (s, dir) =>
      graft.ext.Dedup.prefixJaccardJoin(
        Tables.documents(s, dir), "doc_id", "text"),
      ExtOracleSql.prefixJaccardJoin(3, 5, 1200)),

    // ---- ext: Fellegi-Sunter record-linkage weight table over the
    // blocked part pairs (the log-likelihood decision layer above
    // q97/q168's raw similarities) ----
    Gated("q323_fellegi_sunter", (s, dir) =>
      graft.ext.Dedup.fellegiSunter(Tables.part(s, dir), "p_partkey",
        "p_brand", "p_name", Seq("p_type", "p_size")),
      ExtOracleSql.fellegiSunterParts(0.9, 0.02, 0.9)),

    // ---- ext: capture-recapture (Chapman) estimate of the near-dup
    // pair population from the LSH and SimHash detectors — the
    // coverage audit for the dedup tier itself ----
    Gated("q327_capture_recapture", (s, dir) =>
      graft.ext.Dedup.dedupCaptureRecapture(
        Tables.documents(s, dir), "doc_id", "text"),
      ExtOracleSql.dedupCaptureRecapture(0.7)),
  )
}
