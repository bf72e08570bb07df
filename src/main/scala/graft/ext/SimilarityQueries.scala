package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Corpus
import graft.core.Tables
import graft.oracle.ExtOracleSql

object SimilarityQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: similarity search ----
    Gated("q20_topk_cosine", (s, dir) =>
      Similarity.topKNeighbors(Tables.embeddings(s, dir), "vec_id", "embedding", k = 5)
        .orderBy(col("vec_id"), col("rank")),
      ExtOracleSql.topKNeighbors(k = 5)),
    Gated("q21_ivf_topk", (s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 5, centroidEvery = 100)
        .orderBy(col("vec_id"), col("rank")),
      ExtOracleSql.ivfTopK(k = 5, centroidEvery = 100)),

    // ---- ext: SRP-LSH-bucketed approximate top-k ----
    Gated("q35_srp_topk", (s, dir) =>
      Similarity.srpTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, nBits = 6, dim = 64)
        .orderBy(col("vec_id"), col("rank")),
      ExtOracleSql.srpTopK(k = 5, nBits = 6, dim = 64)),

    // ---- ext: exact per-label embedding centroids ----
    Gated("q38_label_centroids", (s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir), "label", "embedding")
        .orderBy(col("label"), col("pos")),
      """WITH v AS (
           SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         e AS (
           SELECT label,
                  unnest(generate_series(1, len(emb))) - 1 AS pos,
                  unnest(emb) AS x
           FROM v)
         SELECT label, pos,
                (sum(round(x * 1000000)) / count(*)) / 1000000.0
                  AS centroid_component
         FROM e GROUP BY 1, 2 ORDER BY label, pos"""),

    // ---- ext: L2 normalization via higher-order array functions ----
    Gated("q103_l2_normalize", (s, dir) =>
      Similarity.l2NormalizeReport(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id")),
      // list_reduce mirrors Spark's strict left fold (0.0 seed + x ==
      // first-element seed for non-negative squares), so the float sums
      // are bit-identical; 6-decimal rounds are the shared rendering
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
         n AS (SELECT vec_id, emb,
                      sqrt(list_reduce(list_transform(emb, x -> x * x),
                                       (a, b) -> a + b)) AS nrm
               FROM v),
         u AS (SELECT vec_id, nrm, list_transform(emb, x -> x / nrm) AS unit
               FROM n)
         SELECT vec_id, round(nrm, 6) AS norm_l2,
                round(unit[1], 6) AS u1, round(unit[2], 6) AS u2,
                round(list_reduce(list_transform(unit, x -> x * x),
                                  (a, b) -> a + b), 6) AS unit_dot
         FROM u ORDER BY vec_id"""),

    // ---- ext: embedding int8 quantization report ----
    Gated("q48_quantize_int8", (s, dir) =>
      Similarity.quantizeInt8Report(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id")),
      ExtOracleSql.quantizeInt8),

    // ---- ext: corpus clustering (Lloyd k-means, exact cross-engine) ----
    Gated("q57_kmeans", (s, dir) =>
      graft.ext.Similarity.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id")),
      ExtOracleSql.kmeans(iters = 2, seedEvery = 100)),

    // ---- ext: SemDeDup semantic deduplication (paraphrase-level dups
    // that share no n-grams — kmeans cells bound the quadratic) ----
    Gated("q121_semantic_dedup", (s, dir) =>
      graft.ext.Similarity.semanticDedup(
          Tables.embeddings(s, dir), "vec_id", "embedding", tau = 0.35)
        .orderBy(col("vec_id")),
      ExtOracleSql.semanticDedup(tau = 0.35, iters = 2, seedEvery = 100)),

    // ---- ext: contrastive hard-negative mining (top-k most-similar
    // DIFFERENT-label vectors per anchor) ----
    Gated("q122_hard_negatives", (s, dir) =>
      graft.ext.Similarity.hardNegatives(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", k = 5)
        .orderBy(col("vec_id"), col("rank")),
      ExtOracleSql.hardNegatives(k = 5)),

    // ---- ext: cell-blocked hard negatives — the 100 TB composition
    // (kmeans cells bound the different-label scorer; exact within
    // cells, q122's exhaustive form is its spec) ----
    Gated("q137_hard_negatives_cells", (s, dir) =>
      graft.ext.Similarity.hardNegativesInCells(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", k = 5)
        .orderBy(col("vec_id"), col("rank")),
      ExtOracleSql.hardNegativesInCells(k = 5, iters = 2, seedEvery = 100)),

    // ---- ext: ANN index-quality audit — per-probe recall@k of the IVF
    // index (q21) against the exact scorer (q20); singleton-cell probes
    // surface as recall 0, never as missing rows ----
    Gated("q144_ann_recall", (s, dir) =>
      graft.ext.Similarity.annRecall(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, centroidEvery = 100)
        .orderBy(col("vec_id")),
      ExtOracleSql.annRecall(k = 5, centroidEvery = 100)),

    // ---- ext: label-noise audit via k-NN disagreement (the deep-kNN /
    // confident-learning shortlist a relabeling pass reviews) ----
    Gated("q145_label_noise", (s, dir) =>
      graft.ext.Similarity.labelNoise(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", k = 5)
        .orderBy(col("vec_id")),
      ExtOracleSql.labelNoise(k = 5)),

    // ---- ext: the SAME IVF probe over the cell-BUCKETED DISK index
    // (Similarity.writeIvfIndex) — the dense tier's 100 TB index shape
    // (q345's sibling): cells bound who you score AT DISK, gated:
    // probe-over-disk must hash-match the q21 oracle, and the bucketed
    // scan feeds the intra-cell self-join + per-(vec, cell) top-k with
    // zero exchanges (IvfDiskIndexSpec asserts the plan) ----
    Gated("q346_ivf_disk_index", (s, dir) =>
      Similarity.ivfTopKFromAssigned(Corpus.ivfIndexCached(s, dir), k = 5)
        .orderBy(col("vec_id"), col("rank")),
      // same oracle as q21 BY DESIGN: the dense disk-index probe must
      // be indistinguishable from the in-memory IVF chain
      ExtOracleSql.ivfTopK(
        k = 5, centroidEvery = 100)),

    // ---- ext: the SAME IVF-PQ probe over the stored three-table disk
    // index (codes cell-bucketed; book/cents model-sized) — q192's
    // production serve path: raw queries encoded online against the
    // stored model frames, database side touches only stored codes,
    // gated against the q192 oracle ----
    Gated("q347_ivfpq_disk_index", (s, dir) => {
      val (codes, book, cents) = Corpus.ivfPqIndexCached(s, dir)
      Similarity.ivfPqTopKFromIndex(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          codes, book, cents, queryModEvery = 50, k = 5,
          blocks = 4, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      // same oracle as q192 BY DESIGN: serve-path probe over the
      // stored IVF-PQ index == the fused in-memory chain
      ExtOracleSql.ivfPqTopK(queryModEvery = 50, k = 5, blocks = 4,
        seedEvery = 100, centroidEvery = 100, nProbe = 2)),

    // ---- ext: multi-probe IVF — the recall lever q144 measures the
    // need for (queries probe 2 cells, index unchanged) ----
    Gated("q149_ivf_multiprobe", (s, dir) =>
      Similarity.ivfTopKMultiProbe(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, centroidEvery = 100, nProbe = 2)
        .orderBy(col("vec_id"), col("rank")),
      ExtOracleSql.ivfTopKMultiProbe(
        k = 5, centroidEvery = 100, nProbe = 2)),

    // ---- ext: per-label embedding-centroid drift vs the pooled
    // centroid — the training-mix audit in embedding space ----
    Gated("q152_centroid_drift", (s, dir) =>
      Similarity.centroidDrift(Tables.embeddings(s, dir), "label", "embedding")
        .orderBy(col("label")),
      ExtOracleSql.centroidDrift),

    // ---- ext: product quantization (per-subspace Lloyd codebooks —
    // the ANN compression tier; deterministic seeds, L2 assignment) ----
    Gated("q170_pq_encode", (s, dir) =>
      Similarity.pqEncode(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id"), col("blk")),
      // PQ mirrors the q57 Lloyd-CTE discipline per subspace: L2
      // assignment on round(list_distance, 6) with code-asc tie-break,
      // integer-quantized centroid means between iterations.
      ExtOracleSql.pqEncode(blocks = 4, seedEvery = 100)),

    // ---- ext: ADC top-k over the PQ codes — codes-only database side,
    // broadcast per-query distance tables (the IVF-PQ query path) ----
    Gated("q171_pq_adc_topk", (s, dir) =>
      Similarity.pqAdcTopK(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("query_id"), col("rank")),
      // ADC extends the same chain: per-(query, block, codeword) squared
      // distances quantize to 1e-9-unit longs BEFORE the per-pair sum
      // (order-free), ranking on (sn asc, vec asc).
      ExtOracleSql.pqAdcTopK(queryModEvery = 50, k = 5, blocks = 4, seedEvery = 100)),

    // ---- ext: recall@k of the ADC code search vs exact Euclidean
    // top-k (the PQ acceptance gate; q144's pattern for the ADC tier) ----
    Gated("q175_pq_recall", (s, dir) =>
      Similarity.pqAdcRecall(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("query_id")),
      ExtOracleSql.pqAdcRecall(queryModEvery = 50, k = 5, blocks = 4, seedEvery = 100)),

    // ---- ext: IVF-PQ top-k — cells bound WHO you score, codes bound
    // WHAT scoring touches (the FAISS IVFx,PQy layout) ----
    Gated("q192_ivfpq_topk", (s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("query_id"), col("rank")),
      ExtOracleSql.ivfPqTopK(queryModEvery = 50, k = 5, blocks = 4,
        seedEvery = 100, centroidEvery = 100, nProbe = 2)),

    // ---- ext: PQ-code blocking dedup — the codebook IS the hash;
    // collision pairs verified with the exact distance ----
    Gated("q215_pq_code_dedup", (s, dir) =>
      Similarity.pqCodeDedupPairs(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("id_a"), col("id_b")),
      ExtOracleSql.pqCodeDedup(maxDist = 2.0, blocks = 4, seedEvery = 100)),

    // ---- ext: per-source semantic diversity (within-source covariance
    // trace over doc embeddings) ----
    Gated("q217_source_dispersion", (s, dir) => {
      val src = Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("source"))
      Similarity.sourceDispersion(
          Tables.embeddings(s, dir).join(src, Seq("vec_id")),
          "embedding", col("source"))
        .orderBy(col("source"))
    },
      """WITH sdq AS (
             SELECT d.source,
                    list_transform(CAST(e.embedding AS DOUBLE[]),
                      x -> CAST(round(x * 1000) AS BIGINT)) AS qv
             FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
           sde AS (
             SELECT source,
                    unnest(generate_series(1, len(qv))) - 1 AS pos,
                    unnest(qv) AS x
             FROM sdq),
           sdm AS (
             SELECT source, pos, count(*) AS n,
                    CAST(sum(x) AS BIGINT) AS s,
                    CAST(sum(x * x) AS BIGINT) AS q2
             FROM sde GROUP BY 1, 2),
           sdv AS (
             SELECT source, n,
                    CAST(round((CAST(q2 AS DOUBLE) / n
                                - (CAST(s AS DOUBLE) / n)
                                  * (CAST(s AS DOUBLE) / n)) * 1000.0)
                      AS BIGINT) AS vu
             FROM sdm),
           sda AS (
             SELECT source, max(n) AS n_vecs, CAST(sum(vu) AS BIGINT) AS vu
             FROM sdv GROUP BY 1)
           SELECT source, n_vecs,
                  round(vu / 1000.0 / 1000000.0, 6) AS dispersion,
                  round(vu / 1000.0 / 1000000.0 * 2.0, 6) AS mean_pairwise_sq
           FROM sda ORDER BY source"""),

    // ---- ext: PQ quantization-error fairness by label (compression
    // bias audit next to q175's recall gate) ----
    Gated("q222_pq_error_by_label", (s, dir) =>
      Similarity.pqErrorByLabel(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label")
        .orderBy(col("label")),
      s"""WITH ${graft.oracle.ExtOracleSql.pqChainCtes(blocks = 4, seedEvery = 100)},
            pel AS (
              SELECT e.label, a.vec_id, a.dist
              FROM pqa2 a JOIN embeddings e USING (vec_id)),
            pea AS (
              SELECT label, count(DISTINCT vec_id) AS n_vecs,
                     count(*) AS n_assignments,
                     CAST(sum(CAST(round(dist * 1e6) AS BIGINT)) AS BIGINT)
                       AS su
              FROM pel GROUP BY 1)
            SELECT label, n_vecs,
                   round(su / 1e6 / n_assignments, 6) AS mean_block_dist
            FROM pea ORDER BY label"""),

    // ---- ext: Matryoshka truncation recall — 8-dim prefix top-k
    // audited against full-dim exact top-k (q144's pattern for
    // dimension-truncated storage tiers) ----
    Gated("q234_matryoshka_recall", (s, dir) =>
      Similarity.matryoshkaRecall(Tables.embeddings(s, dir),
          "vec_id", "embedding", dims = 8, k = 5)
        .orderBy(col("vec_id")),
      ExtOracleSql.matryoshkaRecall(k = 5, dims = 8)),

    // ---- ext: label centroid confusability matrix (pairwise L2 over
    // exact integer-unit centroids) ----
    Gated("q244_centroid_confusion", (s, dir) =>
      Similarity.centroidConfusion(Tables.embeddings(s, dir),
          "label", "embedding")
        .orderBy(col("label_a"), col("label_b")),
      """WITH v AS (
           SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         e AS (
           SELECT label,
                  unnest(generate_series(1, len(emb))) - 1 AS pos,
                  unnest(emb) AS x
           FROM v),
         c AS (
           SELECT label, pos,
                  (sum(round(x * 1000000)) / count(*)) / 1000000.0 AS cc
           FROM e GROUP BY 1, 2)
         SELECT a.label AS label_a, b.label AS label_b,
                round(sqrt(CAST(sum(CAST(round((a.cc - b.cc) * (a.cc - b.cc)
                      * 1000000000000.0) AS BIGINT)) AS BIGINT)
                  / 1000000000000.0), 6) AS l2_dist
         FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
         GROUP BY 1, 2 ORDER BY label_a, label_b"""),

    // ---- ext: embedding-norm distribution audit per label ----
    Gated("q258_norm_audit", (s, dir) =>
      Similarity.embeddingNormAudit(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label")
        .orderBy(col("label")),
      ExtOracleSql.embeddingNormAudit),

    // ---- ext: PQ codebook balance audit per block ----
    Gated("q259_pq_code_balance", (s, dir) =>
      Similarity.pqCodeBalance(Tables.embeddings(s, dir),
          "vec_id", "embedding")
        .orderBy(col("blk")),
      ExtOracleSql.pqCodeBalance(blocks = 4, seedEvery = 100)),

    // ---- ext: ranked-retrieval quality of the IVF index beyond q144's
    // set recall — NDCG@k + MRR per probe, graded by the exact ranking ----
    Gated("q269_retrieval_ndcg", (s, dir) =>
      graft.ext.Similarity.rankedRetrievalEval(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, centroidEvery = 100)
        .orderBy(col("vec_id")),
      ExtOracleSql.rankedRetrievalEval(k = 5, centroidEvery = 100)),

    // ---- ext: IVF cell × label purity audit (do unsupervised cells
    // recover the label structure) ----
    Gated("q286_cell_purity", (s, dir) =>
      graft.ext.Similarity.cellLabelPurity(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label"),
      ExtOracleSql.cellLabelPurity(centroidEvery = 100)),

    // ---- ext: IVF probe-sweep (mean recall@k at nProbe in {1,2,4}
    // against ONE shared exact side — the ANN-tier design readout,
    // q310's sibling for the similarity index) ----
    Gated("q312_ivf_probe_sweep", (s, dir) =>
      Similarity.ivfProbeSweep(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 5, centroidEvery = 100, probesList = Seq(1, 2, 4)),
      ExtOracleSql.ivfProbeSweep(5, 100, Seq(1, 2, 4))),

    // ---- ext: simplified (centroid-based) silhouette per kmeans
    // cell — the geometry-quality readout next to q222 purity and
    // q204 sizes; linear in points, never all-pairs ----
    Gated("q315_silhouette", (s, dir) =>
      Similarity.simplifiedSilhouette(
        Tables.embeddings(s, dir), "vec_id", "embedding"),
      ExtOracleSql.simplifiedSilhouette(2, 100)),

    // ---- ext: hubness audit of the embedding space (k-occurrence
    // skewness — the ANN pathology screen next to the recall gates) ----
    Gated("q330_hubness", (s, dir) =>
      Similarity.hubnessAudit(Tables.embeddings(s, dir),
        "vec_id", "embedding"),
      ExtOracleSql.hubnessAudit(10)),
  )
}
