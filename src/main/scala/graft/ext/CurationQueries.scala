package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables
import graft.oracle.ExtOracleSql

object CurationQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: the composed curation pipeline (quality gate → language
    // gate → near-dup removal → deterministic split), end-to-end gated ----
    Gated("q53_curated_corpus", (s, dir) =>
      graft.ext.Curation.curate(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      ExtOracleSql.curatedCorpus(
        minQuality = 0.3, lang = "en", minJaccard = 0.5)),

    // ---- flagship composition #2: curate -> chunk -> pack ----
    Gated("q64_packed_corpus", (s, dir) =>
      graft.ext.Curation.packCorpus(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"), col("chunk_id")),
      ExtOracleSql.packCorpus(
        minQuality = 0.3, lang = "en", minJaccard = 0.5,
        chunkSize = 64, overlap = 16, budget = 2048, shards = 4)),

    // ---- ext: training-mix token plan (largest-remainder integer
    // apportionment of a token budget across sources) ----
    Gated("q157_token_plan", (s, dir) =>
      graft.ext.Curation.tokenBudgetPlan(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source")),
      s"""WITH tk AS (
             SELECT source,
                    CAST(sum(len(${graft.functions.Portable.tokensSql("text")}))
                         AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1),
           tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS w_total FROM tk),
           sh AS (
             SELECT source, n_tokens,
                    (1000000 * n_tokens) // w_total AS share,
                    (1000000 * n_tokens) % w_total AS rem
             FROM tk CROSS JOIN tt),
           rk AS (
             SELECT source, n_tokens, CAST(share AS BIGINT) AS share,
                    1000000 - CAST(sum(share) OVER () AS BIGINT) AS r_extra,
                    row_number() OVER (ORDER BY rem DESC, source) AS rnk
             FROM sh)
           SELECT source, n_tokens,
                  CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                       AS BIGINT) AS alloc_tokens,
                  CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                       AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs
           FROM rk ORDER BY source"""),

    // ---- ext: temperature-flattened training mix (T=2 via integer
    // sqrt weights; same Hamilton apportionment as q157) ----
    Gated("q172_temperature_mix", (s, dir) =>
      graft.ext.Curation.temperatureMixPlan(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source")),
      s"""WITH tmk AS (
             SELECT source,
                    CAST(sum(len(${graft.functions.Portable.tokensSql("text")}))
                         AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1),
           tmw AS (SELECT source, n_tokens,
                          CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                            AS w
                   FROM tmk),
           tmt AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM tmw),
           tms AS (
             SELECT source, n_tokens, w,
                    (1000000 * w) // w_total AS share,
                    (1000000 * w) % w_total AS rem
             FROM tmw CROSS JOIN tmt),
           tmr AS (
             SELECT source, n_tokens, w, CAST(share AS BIGINT) AS share,
                    1000000 - CAST(sum(share) OVER () AS BIGINT) AS r_extra,
                    row_number() OVER (ORDER BY rem DESC, source) AS rnk
             FROM tms)
           SELECT source, n_tokens, w AS weight,
                  CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                       AS BIGINT) AS alloc_tokens,
                  CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                       AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs
           FROM tmr ORDER BY source"""),

    // ---- ext: curation drop-reason manifest — first-failing-rule
    // accounting per source; Σ reconciles to source size ----
    Gated("q220_drop_reasons", (s, dir) =>
      graft.ext.Curation.dropReasonManifest(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source"), col("disposition")),
      ExtOracleSql.dropReasonManifest(
        minQuality = 0.3, lang = "en", minJaccard = 0.5)),

    // ---- ext: budget realization — q157's plan turned into a greedy
    // selection with utilization accounting ----
    Gated("q221_budget_realization", (s, dir) =>
      graft.ext.Curation.budgetRealization(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source")),
      s"""WITH brtk AS (
              SELECT doc_id, source,
                     CAST(len(${graft.functions.Portable.tokensSql("text")})
                       AS BIGINT) AS tk
              FROM documents),
            brs AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens
                    FROM brtk GROUP BY 1),
            brt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS w_total FROM brs),
            brsh AS (
              SELECT source, n_tokens,
                     (1000000 * n_tokens) // w_total AS share,
                     (1000000 * n_tokens) % w_total AS rem
              FROM brs CROSS JOIN brt),
            brrk AS (
              SELECT source, CAST(share AS BIGINT) AS share,
                     1000000 - CAST(sum(share) OVER () AS BIGINT) AS r_extra,
                     row_number() OVER (ORDER BY rem DESC, source) AS rnk
              FROM brsh),
            brpl AS (
              SELECT source,
                     CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                          AS BIGINT) AS alloc_tokens
              FROM brrk),
            brcum AS (
              SELECT doc_id, source, tk,
                     CAST(sum(tk) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM brtk),
            brsel AS (
              SELECT c.source, count(*) AS n_docs_selected,
                     CAST(max(c.cum) AS BIGINT) AS tokens_used
              FROM brcum c JOIN brpl p USING (source)
              WHERE c.cum <= p.alloc_tokens GROUP BY 1)
            SELECT p.source, p.alloc_tokens,
                   COALESCE(s.n_docs_selected, 0) AS n_docs_selected,
                   COALESCE(s.tokens_used, 0) AS tokens_used,
                   round(CAST(COALESCE(s.tokens_used, 0) AS DOUBLE)
                         / p.alloc_tokens, 6) AS utilization
            FROM brpl p LEFT JOIN brsel s USING (source)
            ORDER BY source"""),

    // ---- ext: source-ablation ledger (leave-one-source-out corpus
    // health deltas — the data-valuation readout) ----
    Gated("q291_source_ablation", (s, dir) =>
      graft.ext.Curation.sourceAblation(Tables.documents(s, dir),
        "doc_id", "text", "source", "lang"),
      ExtOracleSql.sourceAblation),

    // ---- ext: ingest-side per-entity event-rate cap — the data
    // contract both 10x-soak findings prescribe (tame a 20%-hot key
    // BEFORE it reaches the q305/q98-class joins); q220 manifest
    // discipline, decimal id-sum pins the exact kept membership ----
    Gated("q340_event_rate_cap", (s, dir) =>
      graft.ext.Curation.eventRateCapManifest(Tables.events(s, dir),
        "user_id", "event_id", "ts", "event_type", maxPerDay = 3),
      // ingest-side rate cap: newest 3 per (user, day), rank (ts DESC,
      // id ASC); per (event_type, disposition) accounting with an exact
      // HUGEINT id-sum — any membership flip changes the hash
      """WITH rk AS (
             SELECT event_type AS class, user_id AS ent, event_id AS id,
                    row_number() OVER (
                      PARTITION BY user_id, epoch_us(ts) // 86400000000
                      ORDER BY ts DESC, event_id ASC) AS rn
             FROM events),
         tagged AS (
             SELECT class, ent, id,
                    CASE WHEN rn <= 3 THEN 'kept'
                         ELSE 'rate_capped' END AS disposition
             FROM rk)
         SELECT class, disposition,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT ent) AS BIGINT) AS n_entities,
                CAST(sum(CAST(id AS HUGEINT)) AS VARCHAR) AS sum_ids,
                round(CAST(count(*) AS DOUBLE)
                  / sum(count(*)) OVER (PARTITION BY class), 6) AS share
         FROM tagged GROUP BY 1, 2 ORDER BY class, disposition"""),
  )
}
