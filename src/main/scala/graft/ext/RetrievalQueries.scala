package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Corpus
import graft.oracle.ExtOracleSql

object RetrievalQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: BM25 sparse retrieval (inverted-index probe, the
    // lexical complement of the dense similarity tier). All three
    // lexical queries (q128/q136/q141) probe ONE session-cached scored
    // index (bindings.Corpus) — the materialized-index shape ----
    Gated("q128_bm25_search", (s, dir) =>
      Corpus.uncappedBm25Cached(s, dir)
        .orderBy(col("query_id"), col("rank")),
      ExtOracleSql.bm25Search(queryModEvery = 50, k = 10, maxDfFraction = 1.0)),

    // ---- ext: BM25 with the document-frequency cap ACTIVE — the
    // Zipfian-corpus branch (0.78 splits the synthetic vocabulary:
    // the rare df-share-0.05 term survives, the stopword band drops) ----
    Gated("q136_bm25_capped", (s, dir) =>
      graft.ext.Retrieval.bm25FromPostings(
          Corpus.scoredPostingsCached(s, dir),
          queryModEvery = 50, k = 10, maxDfFraction = 0.78)
        .orderBy(col("query_id"), col("rank")),
      ExtOracleSql.bm25Search(queryModEvery = 50, k = 10, maxDfFraction = 0.78)),

    // ---- ext: reciprocal-rank fusion of the lexical (BM25) and dense
    // (cosine top-k) rankers — hybrid retrieval without score
    // calibration (ranks only) ----
    Gated("q141_rrf_fusion", (s, dir) => {
      // both ranker outputs ride SESSION-SCOPED spines
      // (bindings/Corpus): each is materialized eagerly inside its
      // cached builder, so the two arms never compute concurrently in
      // one job — memory peak max(sides), not sum (the r11 OOM fix) —
      // and the same tiny (queries·k rows) block set is reused across
      // q128/q141/q341/q342 and bench reps instead of accumulating one
      // persist per invocation (the r11 storage-pool leak). The dense
      // side scores ONLY the mod-50 query anchors against the full
      // corpus — q·n·d, identical scores to an all-probes run.
      val lex = Corpus.uncappedBm25Cached(s, dir)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val den = Corpus.denseTopKCached(s, dir)
      graft.ext.Retrieval.rrfFuse(Seq(lex, den), c = 60, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      ExtOracleSql.rrfFusion(
        queryModEvery = 50, kLex = 10, kDen = 10, c = 60, k = 10)),

    // ---- ext: impact-truncated BM25 probe (Anh & Moffat pruning) —
    // the scale-safe sibling of the uncapped q128 spec: per term keep
    // the top-M postings by impact, so candidate volume is bounded by
    // M per (query, term) regardless of df (39x cut at 10x) ----
    Gated("q341_bm25_truncated", (s, dir) =>
      Corpus.truncatedBm25Cached(s, dir)
        .orderBy(col("query_id"), col("rank")),
      ExtOracleSql.bm25Truncated(
        queryModEvery = 50, k = 10, maxPostingsPerTerm = 1000)),

    // ---- ext: hybrid RRF over the TRUNCATED lexical side + the same
    // dense side — the scale-safe sibling of the q141 spec hybrid ----
    Gated("q342_rrf_fusion_truncated", (s, dir) => {
      // the q141 spine discipline over the TRUNCATED lexical arm
      val lex = Corpus.truncatedBm25Cached(s, dir)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val den = Corpus.denseTopKCached(s, dir)
      graft.ext.Retrieval.rrfFuse(Seq(lex, den), c = 60, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      ExtOracleSql.rrfFusion(
        queryModEvery = 50, kLex = 10, kDen = 10, c = 60, k = 10,
        maxPostingsPerTerm = 1000)),

    // ---- ext: the SAME truncated probe over the term-BUCKETED DISK
    // index (Retrieval.writeBucketedIndex) — the 100 TB index shape the
    // in-memory spine rehearses, gated: probe-over-disk must hash-match
    // the q341 oracle, and the bucketed scan feeds the truncation
    // windows without a term exchange (DiskIndexSpec asserts the plan) ----
    Gated("q345_bm25_disk_index", (s, dir) =>
      graft.ext.Retrieval.bm25TruncatedFromPostings(
          Corpus.diskIndexCached(s, dir),
          queryModEvery = 50, k = 10, maxPostingsPerTerm = 1000)
        .orderBy(col("query_id"), col("rank")),
      // same oracle as q341 BY DESIGN: the disk-index probe must be
      // indistinguishable from the in-memory-spine probe
      ExtOracleSql.bm25Truncated(
        queryModEvery = 50, k = 10, maxPostingsPerTerm = 1000)),

    // ---- ext: binding-M acceptance audit of the truncated lexical
    // tier (the q312/q175/q234 discipline): candidate recall@k of the
    // q341 two-stage probe vs the exact q128 probe at M in
    // {10, 100, 1000} — the M-vs-quality curve an index design reads
    // before committing a corpus to a truncation depth ----
    Gated("q343_bm25_truncation_recall", (s, dir) =>
      graft.ext.Retrieval.truncationRecallSweep(
        Corpus.scoredPostingsCached(s, dir),
        queryModEvery = 50, k = 10, mList = Seq(10, 100, 1000)),
      ExtOracleSql.bm25TruncationSweep(
        queryModEvery = 50, k = 10, mList = Seq(10, 100, 1000))),
  )
}
