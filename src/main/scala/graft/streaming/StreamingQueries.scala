package graft.streaming

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables
import graft.gold.GoldQueries

/** Gated queries over the streaming operators, each replayed over a
  * file stream and gated against its batch result, each with its DuckDB
  * mirror. */
object StreamingQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: event windows (streaming-capable transforms, batch-run) ----
    Gated("q26_event_windows", (s, dir) =>
      graft.streaming.EventMetrics.tumbling(Tables.events(s, dir))
        .orderBy(col("window_start"), col("event_type")),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    Gated("q27_sessions", (s, dir) =>
      graft.streaming.EventMetrics.sessions(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_start")),
      """WITH m AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""),
    Gated("q36_sliding_windows", (s, dir) =>
      graft.streaming.EventMetrics.sliding(Tables.events(s, dir))
        .orderBy(col("window_start"), col("event_type")),
      """WITH s AS (
           SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 900000000
                    - j * 900000000) AS window_start,
                  event_type, value
           FROM events, range(4) t(j))
         SELECT window_start,
                window_start + INTERVAL 1 HOUR AS window_end,
                event_type, count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM s GROUP BY 1, 2, 3 ORDER BY window_start, event_type"""),

    // ---- streaming: exact dedup proven by file-stream replay — keys
    // recurring across micro-batches must be suppressed by state ----
    Gated("q88_stream_dedup", (s, dir) =>
      graft.streaming.StreamingDedup.distinctKeysViaStream(s, dir)
        .orderBy(col("user_id"), col("event_type")),
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type"""),

    // ---- streaming: watermarked stream-stream inner join replayed
    // from a sliced file stream == the batch range join ----
    Gated("q98_stream_stream_join", (s, dir) =>
      graft.streaming.StreamJoin.purchaseViewJoinViaStream(s, dir)
        .orderBy(col("purchase_id"), col("view_id")),
      // the oracle is the BATCH range join — the gate proves the
      // watermarked streaming join loses/duplicates nothing across batches
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
                    FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, purchase_id, purchase_ts, view_id, view_ts
         FROM p JOIN v ON p.user_id = v.user_id
          AND v.view_ts >= p.purchase_ts - INTERVAL 3600 SECONDS
          AND v.view_ts <= p.purchase_ts
         ORDER BY purchase_id, view_id"""),

    // ---- streaming: GroupState sessionizer proven by file-stream
    // replay against the SAME SQL oracle as the batch q27 ----
    Gated("q59_sessions_stream_replay", (s, dir) =>
      graft.streaming.SessionReplay.sessionsViaStream(s, dir)
        .orderBy(col("user_id"), col("session_start")),
      // the streaming replay must reproduce the BATCH sessions exactly —
      // same oracle SQL as q27
      """WITH m AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""),

    // ---- streaming: the withheld CDC day arrives as a file stream;
    // foreachBatch lands each micro-batch (silver append + key-scoped
    // mart maintenance) — the final mart must equal the full recompute ----
    Gated("q131_stream_incremental_ltv", (s, dir) =>
      graft.streaming.IncrementalGoldStream.ltvViaStream(s, dir)
        .orderBy(col("user_id"), col("creation_date")),
      // Streamed maintenance must ALSO reproduce the full recompute —
      // one gate per maintenance algebra (key-scoped / anchored /
      // additive) through the streaming engine's batch boundaries.
      GoldQueries.ltvDaily.oracleSql),

    // ---- streaming: the ANCHORED maintainer through the same replay —
    // the RFM guard re-evaluates per micro-batch against the evolving
    // mart; final mart must equal the full recompute (q05's oracle) ----
    Gated("q138_stream_incremental_rfm", (s, dir) =>
      graft.streaming.IncrementalGoldStream.rfmViaStream(s, dir)
        .orderBy(col("user_id")),
      GoldQueries.rfm.oracleSql),

    // ---- streaming: daily trends through the same replay — each
    // micro-batch rebuilds the replayed day from the silver landed so
    // far (key-scoped on creation_date; q07's oracle) ----
    Gated("q139_stream_incremental_trends", (s, dir) =>
      graft.streaming.IncrementalGoldStream.trendsViaStream(s, dir)
        .orderBy(col("creation_date"), col("restaurant_id"), col("item_category")),
      GoldQueries.trendsDaily.oracleSql),

    // ---- streaming: hot-key-safe bucketed stream-stream join — the
    // shipped mitigation for the 10x-soak finding (q98's per-user
    // symmetric join enumerates a hot user's whole retained state per
    // probe): (user, time-bucket) keys with a lossless two-bucket
    // purchase explode; SAME batch range-join oracle as q98 ----
    Gated("q339_stream_join_bucketed", (s, dir) =>
      graft.streaming.StreamJoin.purchaseViewJoinBucketedViaStream(s, dir)
        .orderBy(col("purchase_id"), col("view_id")),
      // bucketed stream-stream join: result-identical to q98 by
      // construction (the two-bucket explode is a lossless cover), so the
      // oracle IS the same batch range join
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
                    FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, purchase_id, purchase_ts, view_id, view_ts
         FROM p JOIN v ON p.user_id = v.user_id
          AND v.view_ts >= p.purchase_ts - INTERVAL 3600 SECONDS
          AND v.view_ts <= p.purchase_ts
         ORDER BY purchase_id, view_id"""),

    // ---- streaming: the q340 ingest rate cap enforced on a LIVE
    // stream — flatMapGroupsWithState on the (entity, UTC day) grain,
    // state bounded by the cap itself (maxPerDay rows per open
    // entity-day), kept set emitted at watermark day-close; must equal
    // the batch eventRateCap (its row_number SQL is the oracle) ----
    Gated("q344_stream_rate_cap", (s, dir) =>
      graft.streaming.StreamingRateCap.cappedViaStream(s, dir, maxPerDay = 3)
        .orderBy(col("user_id"), col("event_id")),
      // streaming rate cap == the batch cap: newest 3 per (user, day),
      // rank (ts DESC, id ASC); value/type pass through untouched
      """WITH rk AS (
             SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu,
                    value,
                    row_number() OVER (
                      PARTITION BY user_id, epoch_us(ts) // 86400000000
                      ORDER BY ts DESC, event_id ASC) AS rn
             FROM events)
         SELECT user_id, event_id, event_type, tsu, value FROM rk
         WHERE rn <= 3 ORDER BY user_id, event_id"""),
  )
}
