package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.functions.TopKAggregate.top_k

/** Sparse lexical retrieval — BM25 (Robertson/Spärck Jones) top-k
  * search of a document corpus for a set of query documents. The
  * term-overlap complement of the dense tier ([[Similarity]]): curation
  * pipelines run both to mine retrieval training pairs, pick few-shot
  * exemplars, and audit near-duplicate leakage that embeddings smooth
  * over.
  *
  *   score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
  *   idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)      (the Lucene form)
  *
  * Shape — an inverted-index probe, never a doc×doc join: postings are
  * (term, doc, tf) rows; the query-term list (queries · unique terms —
  * tiny) broadcasts onto them, so only documents SHARING a term with a
  * query are ever scored, and the per-(query, doc) accumulation is one
  * hash aggregate. `maxDfFraction` prunes terms above a document-
  * frequency share from the probe on BOTH engines (the
  * [[TextAnalysis]] postings discipline): a ubiquitous term's postings
  * row count is the corpus itself while its idf is ~0.5/N — all the
  * join fan-out of a stopword for none of the signal. The cap is part
  * of the scoring spec (the oracle mirrors it exactly), not an
  * approximation knob. Two gated queries cover both branches: the
  * uncapped spec (1.0 — the synthetic ~31-term vocabulary is nearly
  * all ubiquitous, so the Zipfian-default 0.5 would empty it) and the
  * capped path at 0.78, which genuinely splits that vocabulary (one
  * rare term at df-share 0.05 plus a 0.746–0.83 stopword band) — the
  * branch a real corpus runs is oracle-evidenced, not parameter-tested.
  *
  * Cross-engine exactness: the per-term score is one fixed double
  * formula (identical literal parenthesization in the DuckDB mirror),
  * quantized to integral 1e-9 units BEFORE the per-pair sum (float
  * addition order differs between engines; long addition is
  * order-free), ranked on the rounded total with doc-id tie-break.
  * The emitted score rounds to 6dp IN THE INTEGER DOMAIN —
  * (sn + 500) div 1000 half-up on the 1e-9-unit long, then one double
  * division — never `round(double, 6)`: a double `round` re-derives the
  * decimal expansion, and Spark/DuckDB disagree on half-1e-6 ties
  * (scores are ≥ 0, so truncating div and floor div agree too). */
object Retrieval {

  /** The scored inverted index: one row per (doc, term) posting carrying
    * the quantized per-term BM25 contribution `tn` (integral 1e-9 units)
    * plus `df`/`n_docs` so a document-frequency cap can prune AFTER the
    * index is built. This is the subtree every lexical query shares —
    * the materialized-index shape a real retrieval system persists once
    * and probes many times. The df-cap filter commutes with `tn` (it
    * only drops rows), so one index serves every `maxDfFraction`.
    * Callers running several probes over the same corpus should
    * `persist` the result (see [[graft.bindings.Corpus]]). */
  def scoredPostings(
      docs: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tok = docs.select(
      col(idCol).as("doc_id"), explode(Portable.tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val dfv = tok.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    // corpus scalars ride in as a broadcast row, never driver constants
    val scal = dl.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
    val idf = log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val norm = col("tf") + lit(k1) *
      (lit(1.0 - b) + lit(b) *
        ((col("len").cast("double") * col("n_docs")) / col("sum_len")))
    tf
      .join(dfv, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(scal))
      .withColumn("tn",
        round(idf * ((col("tf") * lit(k1 + 1)) / norm) * lit(1e9)).cast("long"))
  }

  /** Probe a [[scoredPostings]] index: broadcast the query-term list onto
    * the (optionally df-capped) postings, accumulate per (query, doc),
    * bounded top-k per query.
    *
    * EXECUTABLE SPEC at uncapped `maxDfFraction`: candidate volume is
    * Σ_term qdf(term)·df(term) — quadratic in a term's document
    * frequency, so a corpus-scale probe floods ~df²∕queryModEvery
    * pairs through the per-(query, doc) aggregate (the 10× soak
    * measured ~9·10⁸ candidates, 7 GB shuffle, 80 GB spill, ~200 s).
    * At scale run [[bm25TruncatedFromPostings]] (q341) — see
    * [[graft.ScaleRouting]]. */
  def bm25FromPostings(
      scored: DataFrame, queryModEvery: Int, k: Int,
      maxDfFraction: Double = 0.5): DataFrame = {
    // the df-capped branch is routed too: on a stopword-dense corpus
    // the cap barely prunes (q136 measured 157 s / 125 GB spill at the
    // 10x soak — the same flood class as the uncapped form)
    if (maxDfFraction >= 1.0)
      graft.ScaleRouting.advise(
        "q128_bm25_search", "q341_bm25_truncated")
    else
      graft.ScaleRouting.advise(
        "q136_bm25_capped", "q341_bm25_truncated")
    probe(
      scored.filter(col("df") <= col("n_docs") * lit(maxDfFraction)),
      queryTerms(scored, queryModEvery), k)
  }

  /** The query side of a probe: every `queryModEvery`-th document's
    * term list, drawn from the FULL index (truncation/df caps apply to
    * the database side only — a query keeps all its own terms). */
  private def queryTerms(scored: DataFrame, queryModEvery: Int): DataFrame =
    scored.filter(pmod(col("doc_id"), lit(queryModEvery.toLong)) === 0)
      .select(col("doc_id").as("query_id"), col("term"))

  /** The shared scoring tail: order-free integer accumulation per
    * (query, doc) on rows of (query_id, doc_id, tn), the 6dp
    * integer-domain round, bounded top-k heap per query. Both the
    * exact and the pruned probes end here — the scoring semantics
    * cannot drift between them. */
  private def scoreAndTopK(pairs: DataFrame, k: Int): DataFrame = {
    val hits = pairs
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tn")).as("sn"))
      .select(col("query_id"), col("doc_id"),
        (expr("(sn + 500) div 1000").cast("double") / lit(1e6)).as("bm25"))
    hits.groupBy(col("query_id"))
      .agg(top_k(col("bm25"), col("doc_id"), k).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("t"))
      .select(col("query_id"), col("t.id").as("doc_id"),
        col("t.score").as("bm25"), col("t.rank").as("rank"))
  }

  private def probe(index: DataFrame, qt: DataFrame, k: Int): DataFrame =
    scoreAndTopK(
      index.join(broadcast(qt), Seq("term"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"), col("tn")), k)

  /** Impact-ordered index pruning (Anh & Moffat): keep each term's
    * `maxPostingsPerTerm` HIGHEST-impact postings (by the quantized
    * per-term contribution `tn`, ties doc_id asc — total order, so the
    * truncated index is deterministic).
    *
    * Two-stage salted selection, NOT one bare per-term window: a
    * stopword-dense term's df is corpus-scale on exactly the corpora
    * this targets, and a single `partitionBy(term)` window would funnel
    * that term's ENTIRE posting list through one partition's sort — the
    * hot-key shape everything else in this engine avoids. Stage 1 takes
    * each (term, doc_id mod `salts`) slice's top-M (slices are disjoint
    * by construction, per-partition volume ≤ df∕salts on average);
    * stage 2 re-ranks the ≤ salts·M survivors per term. Identical
    * result to the direct top-M: selection is under a TOTAL order, and
    * any global top-M posting ranks ≤ M inside its own salt slice (a
    * subset can only lower its rank), so stage 1 never drops a
    * survivor. Stage 2's per-key volume is bounded by salts·M
    * regardless of df. At 100 TB this runs once at index-build time and
    * persists as the bucketed-by-term index. */
  def impactTruncate(
      scored: DataFrame, maxPostingsPerTerm: Int, salts: Int = 16): DataFrame =
    impactTruncateRanked(scored, maxPostingsPerTerm, salts).drop("graft_pr")

  /** [[impactTruncate]] keeping the per-term impact rank (`graft_pr`).
    * For any posting with global per-term rank r ≤ M, stage 2's rank
    * over the stage-1 survivors EQUALS r (everything globally above it
    * also survives stage 1), so `filter(graft_pr <= m)` for any m ≤ M
    * reproduces `impactTruncate(_, m)` exactly — the property the
    * recall sweep exploits to truncate once at max(M) instead of once
    * per arm (law-tested). */
  private[ext] def impactTruncateRanked(
      scored: DataFrame, maxPostingsPerTerm: Int, salts: Int = 16): DataFrame = {
    require(salts >= 1, "salts must be positive")
    val wSalt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"), pmod(col("doc_id"), lit(salts.toLong)))
      .orderBy(col("tn").desc, col("doc_id").asc)
    val wTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
      .orderBy(col("tn").desc, col("doc_id").asc)
    scored.withColumn("graft_sr", row_number().over(wSalt))
      .filter(col("graft_sr") <= maxPostingsPerTerm)
      .drop("graft_sr")
      .withColumn("graft_pr", row_number().over(wTerm))
      .filter(col("graft_pr") <= maxPostingsPerTerm)
  }

  /** Two-stage pruned BM25 probe — the scale-safe sibling of the
    * uncapped [[bm25FromPostings]] (q341 vs the q128 spec;
    * [[graft.ScaleRouting]] routes it):
    *
    *  1. CANDIDATES from the [[impactTruncate]]d index: a (query, doc)
    *     pair is considered iff the doc sits in the top-M postings of
    *     at least one query term — candidate volume is bounded by
    *     Σ_term qdf·min(df, M) instead of Σ qdf·df (39× at M=1000 on
    *     the 10× soak corpus, where the uncapped flood was ~9·10⁸).
    *  2. EXACT rescoring of the candidates against the FULL index —
    *     retrieved scores are bit-identical to [[bm25FromPostings]]'s
    *     for every candidate, so ranking quality degrades only through
    *     MISSED candidates (docs outside every query term's top-M):
    *     measured candidate recall of the exact top-10 at sf0.1 is
    *     0.999 at M=1000. (Score-only truncation — summing the
    *     truncated lists — was measured at 0.026 recall on this
    *     stopword-dense corpus and rejected; rescoring is the classic
    *     two-stage design.)
    *
    * Query term lists come from the FULL index; only candidate
    * generation prunes. */
  def bm25TruncatedFromPostings(
      scored: DataFrame, queryModEvery: Int, k: Int,
      maxPostingsPerTerm: Int): DataFrame = {
    val qt = queryTerms(scored, queryModEvery)
    rescoreCandidates(
      scored, qt, impactTruncate(scored, maxPostingsPerTerm), k)
  }

  /** The shared truncated-probe tail: candidate generation from a
    * pruned index slice, then EXACT rescoring against the full index —
    * both the production probe and the recall sweep's arms end here, so
    * candidate/rescore semantics cannot drift between them. */
  private def rescoreCandidates(
      scored: DataFrame, qt: DataFrame, prunedIndex: DataFrame,
      k: Int): DataFrame = {
    val cand = prunedIndex
      .join(broadcast(qt), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id")).distinct()
    // exact rescore: candidates pick up the doc's full posting rows,
    // keep the terms the query contains, accumulate exactly
    val pairs = cand
      .join(scored.select(col("doc_id"), col("term"), col("tn")),
        Seq("doc_id"))
      .join(broadcast(qt), Seq("query_id", "term"))
      .select(col("query_id"), col("doc_id"), col("tn"))
    scoreAndTopK(pairs, k)
  }

  /** Binding-M acceptance audit of [[bm25TruncatedFromPostings]] — the
    * q312/q175/q234 discipline applied to the lexical tier: candidate
    * recall@k of the two-stage pruned probe against the EXACT uncapped
    * probe, at each truncation depth in `mList`. Because stage 2
    * rescores candidates exactly, every retrieved pair's score is
    * bit-identical to the exact probe's — recall here measures ONLY the
    * candidates the truncated index misses (docs outside every query
    * term's top-M), which is precisely the M-vs-quality trade an index
    * design reads before committing a 100 TB corpus to a truncation
    * depth.
    *
    * Exactness: hits and totals are exact longs (both sides share the
    * 6dp integer-domain score and doc-id tie-break, so the top-k sets
    * are engine-stable); recall is the half-up micro ratio
    * hits∕n_exact, with n_exact the exact probe's actual row count
    * (not n_queries·k — a query matching fewer than k docs must not
    * deflate the ratio).
    *
    * Scale shape: the exact side computes ONCE and persists
    * (queries·k rows), and the index truncates ONCE at max(mList) with
    * the per-term impact rank retained ([[impactTruncateRanked]]):
    * because stage-2 rank equals global per-term rank for every kept
    * posting, each arm is a rank filter over the shared pass —
    * identical candidates to a per-arm truncation (law-tested) at one
    * index-truncation cost instead of |mList|. Every arm then reuses
    * the production rescore tail. At 100 TB the sweep runs on a
    * hash-sampled query set — probe side sampled, corpus side complete
    * (the annRecall sampling rule). That sampling rule is OPERATIONAL
    * via `spark.graft.audit.queryStride` (default 1 = every mod-anchor
    * query, the gated form): stride s keeps every s-th anchor —
    * effective queryModEvery·s — shrinking the exact arm's flood
    * (which IS the q128 spec flood by construction) proportionally.
    * The 10× soak sets it for spec-audit rows: the r13 full sweep
    * measured the unsampled exact arm OOM-killing the 8 GiB JVM at
    * planted skew (r12 survived the same arm at 138 GB spill — a coin
    * flip, not a margin), and an audit at corpus scale is a sampled
    * readout BY SPEC, never a per-query artifact. */
  def truncationRecallSweep(
      scored: DataFrame, queryModEvery: Int, k: Int,
      mList: Seq[Int]): DataFrame = {
    require(mList.nonEmpty, "mList must be non-empty")
    val stride = scored.sparkSession.conf
      .get("spark.graft.audit.queryStride", "1").toInt
    require(stride >= 1, "spark.graft.audit.queryStride must be >= 1")
    val qt = queryTerms(scored, queryModEvery * stride)
    val exact = probe(scored, qt, k)
      .select(col("query_id"), col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = impactTruncateRanked(scored, mList.max)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val arms = mList.map { m =>
      val approx = rescoreCandidates(
          scored, qt, ranked.filter(col("graft_pr") <= m), k)
        .select(col("query_id"), col("doc_id"))
      exact.join(approx, Seq("query_id", "doc_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(m.toLong).as("max_postings"), col("hits"))
    }
    val tot = exact.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_exact"))
    val sweep = arms.reduce(_ unionByName _)
      .crossJoin(broadcast(tot))
      .select(col("max_postings"), col("n_queries"), col("n_exact"),
        col("hits"),
        (expr("((hits * 1000000 * 2) + n_exact) div (n_exact * 2)") / 1e6)
          .as("recall"))
      .orderBy(col("max_postings"))
      // the q141 discipline: the sweep is |mList| rows — materialize it
      // and release the side caches so long multi-query sessions
      // (Verify dumps the full surface in one JVM) don't accumulate them
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sweep.count()
    exact.unpersist()
    ranked.unpersist()
    sweep
  }

  /** Persist a [[scoredPostings]] index as a parquet table BUCKETED BY
    * TERM — the disk shape of the 100 TB claim the in-memory spine
    * rehearses ([[graft.bindings.Corpus]] scaladoc): term is the probe
    * key, so a term-bucketed scan reports `hashpartitioning(term)` and
    * every term-clustered stage downstream — both [[impactTruncate]]
    * windows (their keys are (term, salt) and (term), supersets of the
    * bucket key) and any per-term df aggregation — runs WITHOUT an
    * exchange: at corpus scale the index shuffle happens once at
    * build/write time, never per probe. `sortBy(term)` additionally
    * orders each bucket file for run-length term locality. Written as
    * an EXTERNAL table (explicit path): the catalog entry is
    * session-scoped metadata, the files are the durable artifact. */
  def writeBucketedIndex(
      scored: DataFrame, table: String, path: String,
      buckets: Int = 32): Unit =
    scored.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, "term")
      .sortBy("term")
      .option("path", path)
      .saveAsTable(table)

  def bm25Search(
      docs: DataFrame, idCol: String, textCol: String,
      queryModEvery: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Double = 0.5): DataFrame =
    bm25FromPostings(
      scoredPostings(docs, idCol, textCol, k1, b), queryModEvery, k, maxDfFraction)

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of retrieval
    * rank lists: score(q, d) = Σ_lists 1/(c + rank_list(q, d)), summed
    * over the lists where (q, d) appears — the standard way to merge a
    * lexical ([[bm25Search]]) and a dense
    * ([[graft.ext.Similarity.topKNeighbors]]) ranking without score
    * calibration, since only RANKS enter the formula. Hybrid retrieval
    * is the default for training-pair mining: BM25 finds term-overlap
    * pairs embeddings smooth over, dense finds paraphrases sharing no
    * terms; fusion keeps both.
    *
    * Input contract: each frame carries (query_id, doc_id, rank). A
    * document missing from a list simply contributes no term (the RRF
    * convention) — the doc universes need not coincide.
    *
    * Shape: union of the (already top-k-bounded, so queries·k-sized)
    * rank lists, one hash aggregate per (query, doc), bounded top-k
    * heap per query — nothing here scales with the corpus, only with
    * the fused lists. Exactness: 1/(c+rank) quantizes to integral 1e-9
    * units per term (a pure function of the integer rank — identical on
    * both engines), sums as order-free longs, and the emitted score is
    * a single division of identical longs. Ties break on doc_id. */
  def rrfFuse(rankings: Seq[DataFrame], c: Int = 60, k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(c >= 0, "c must be nonnegative")
    val u = rankings
      .map(_.select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank")))
      .reduce(_ unionByName _)
    val fused = u
      .withColumn("u",
        round(lit(1e9) / (lit(c.toLong) + col("rank"))).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("u")).as("su"))
      .select(col("query_id"), col("doc_id"),
        (col("su").cast("double") / lit(1e9)).as("rrf"))
    fused.groupBy(col("query_id"))
      .agg(top_k(col("rrf"), col("doc_id"), k).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("t"))
      .select(col("query_id"), col("t.id").as("doc_id"),
        col("t.score").as("rrf"), col("t.rank").as("rank"))
  }
}
