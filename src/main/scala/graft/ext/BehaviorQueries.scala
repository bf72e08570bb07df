package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables
import graft.oracle.ExtOracleSql

object BehaviorQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: event-time debounce (sequential recurrence via
    // secondary-sort mapPartitions; oracle is a recursive CTE) ----
    Gated("q99_debounce", (s, dir) =>
      graft.ext.Behavior.debounce(Tables.events(s, dir), deltaSeconds = 86400)
        .orderBy(col("user_id"), col("event_type"), col("ts"), col("event_id")),
      // the sequential keep/suppress recurrence as a recursive CTE: each
      // step jumps from a kept event to the earliest event >= Δ later
      """WITH RECURSIVE ord AS (
           SELECT user_id, event_type, ts, event_id,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS rn
           FROM events),
         keep AS (
           SELECT user_id, event_type, ts, event_id FROM ord WHERE rn = 1
           UNION ALL
           SELECT n.user_id, n.event_type, n.ts, n.event_id
           FROM keep k JOIN LATERAL (
             SELECT o.user_id, o.event_type, o.ts, o.event_id FROM ord o
             WHERE o.user_id = k.user_id AND o.event_type = k.event_type
               AND o.ts >= k.ts + INTERVAL 86400 SECONDS
             ORDER BY o.ts, o.event_id LIMIT 1) n ON true)
         SELECT user_id, event_type, ts, event_id FROM keep
         ORDER BY user_id, event_type, ts, event_id"""),

    // ---- ext: ordered session paths (deterministic sequence feature) ----
    Gated("q111_session_paths", (s, dir) =>
      graft.ext.Behavior.sessionPaths(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_start")),
      """WITH sm AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         ss AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM sm)
         SELECT user_id, min(ts) AS session_start,
                array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>')
                  AS path,
                count(*) AS n_events
         FROM ss GROUP BY user_id, sid ORDER BY user_id, session_start"""),

    // ---- ext: behavioral analytics over the event log ----
    Gated("q44_retention", (s, dir) =>
      graft.ext.Behavior.retentionWeekly(Tables.events(s, dir))
        .orderBy(col("cohort_week"), col("week_offset")),
      ExtOracleSql.retentionWeekly),
    Gated("q45_funnel", (s, dir) =>
      graft.ext.Behavior.funnel(Tables.events(s, dir))
        .orderBy(col("user_id")),
      ExtOracleSql.funnel),

    // ---- ext: event-sequence mining (first-order transition matrix) ----
    Gated("q55_transitions", (s, dir) =>
      graft.ext.Behavior.transitions(Tables.events(s, dir))
        .orderBy(col("from_type"), col("to_type")),
      ExtOracleSql.transitions),

    // ---- ext: first/last-touch attribution (windowed credit
    // assignment — one shuffle, no purchase-by-touch range join) ----
    Gated("q130_attribution", (s, dir) =>
      graft.ext.Behavior.attribution(Tables.events(s, dir), lookbackDays = 7)
        .orderBy(col("purchase_id")),
      s"""WITH base AS (
              SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS tsu
              FROM events),
            p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                         tsu FROM base WHERE event_type = 'purchase'),
            t AS (SELECT user_id, event_id, event_type, tsu FROM base
                  WHERE event_type <> 'purchase'),
            j AS (
              SELECT p.user_id, p.purchase_id, p.purchase_ts,
                     t.event_id AS tid, t.event_type AS tty, t.tsu AS ttsu
              FROM p LEFT JOIN t
                ON p.user_id = t.user_id
               AND t.tsu >= p.tsu - ${7 * 86400L * 1000000L}
               AND t.tsu < p.tsu),
            rk AS (
              SELECT *,
                     row_number() OVER (PARTITION BY purchase_id
                       ORDER BY ttsu ASC NULLS LAST, tid ASC) AS rf,
                     row_number() OVER (PARTITION BY purchase_id
                       ORDER BY ttsu DESC NULLS LAST, tid DESC) AS rl
              FROM j),
            f AS (SELECT purchase_id, tid AS first_touch_id,
                         tty AS first_touch_type FROM rk WHERE rf = 1),
            l AS (SELECT purchase_id, tid AS last_touch_id,
                         tty AS last_touch_type FROM rk WHERE rl = 1)
          SELECT DISTINCT p.user_id, p.purchase_id, p.purchase_ts,
                 f.first_touch_id, f.first_touch_type,
                 l.last_touch_id, l.last_touch_type
          FROM p JOIN f USING (purchase_id) JOIN l USING (purchase_id)
          ORDER BY purchase_id"""),

    // ---- ext: funnel time-to-convert quantiles (exact nearest-rank
    // over a (transition, second) histogram — no user-grain window) ----
    Gated("q156_funnel_latency", (s, dir) =>
      graft.ext.Behavior.funnelLatencyQuantiles(Tables.events(s, dir))
        .orderBy(col("transition"), col("quantile")),
      """WITH s1 AS (
             SELECT user_id, min(ts) AS t1 FROM events
             WHERE event_type = 'signup' GROUP BY 1),
           s2 AS (
             SELECT e.user_id, min(e.ts) AS t2
             FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'view' AND e.ts > t1 GROUP BY 1),
           s3 AS (
             SELECT e.user_id, min(e.ts) AS t3
             FROM events e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > t2 GROUP BY 1),
           lat AS (
             SELECT 'signup>view' AS transition,
                    CAST(date_diff('second', t1, t2) AS BIGINT) AS sec
             FROM s1 JOIN s2 USING (user_id)
             UNION ALL
             SELECT 'view>purchase',
                    CAST(date_diff('second', t2, t3) AS BIGINT)
             FROM s2 JOIN s3 USING (user_id)),
           hist AS (SELECT transition, sec, count(*) AS c
                    FROM lat GROUP BY 1, 2),
           cum AS (
             SELECT transition, sec,
                    CAST(sum(c) OVER (PARTITION BY transition ORDER BY sec)
                         AS BIGINT) AS cum
             FROM hist),
           tot AS (SELECT transition, CAST(count(*) AS BIGINT) AS n_pairs
                   FROM lat GROUP BY 1),
           qs AS (SELECT * FROM (VALUES (25), (50), (75), (90)) t(q)),
           tgt AS (SELECT transition, CAST(q AS BIGINT) AS quantile, n_pairs,
                          (q * n_pairs + 99) // 100 AS tgt
                   FROM tot CROSS JOIN qs)
           SELECT t.transition, t.quantile, t.n_pairs,
                  CAST(min(c.sec) AS BIGINT) AS latency_sec
           FROM tgt t JOIN cum c
             ON c.transition = t.transition AND c.cum >= t.tgt
           GROUP BY 1, 2, 3 ORDER BY 1, 2"""),

    // ---- ext: inter-arrival burstiness per user — cv + Goh-Barabási B
    // over integer-second gaps (bot/regularity screen) ----
    Gated("q181_burstiness", (s, dir) =>
      graft.ext.Behavior.interArrivalStats(Tables.events(s, dir))
        .orderBy(col("user_id")),
      """WITH bge AS (
             SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec
             FROM events),
           bga AS (
             SELECT user_id,
                    sec - lag(sec) OVER (PARTITION BY user_id
                      ORDER BY sec, event_id) AS g
             FROM bge),
           bgg AS (
             SELECT user_id, count(*) AS n_gaps,
                    CAST(sum(g) AS BIGINT) AS sg,
                    CAST(sum(g * g) AS BIGINT) AS sg2
             FROM bga WHERE g IS NOT NULL GROUP BY 1
             HAVING count(*) >= 2 AND sum(g) > 0),
           bgc AS (
             SELECT user_id, n_gaps, sg,
                    sqrt(greatest(n_gaps * CAST(sg2 AS DOUBLE)
                           - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE),
                         0.0)) / sg AS cv
             FROM bgg)
           SELECT user_id, n_gaps,
                  round(CAST(sg AS DOUBLE) / n_gaps, 6) AS mean_gap_sec,
                  round(cv, 6) AS cv,
                  round((cv - 1.0) / (cv + 1.0), 6) AS burstiness
           FROM bgc ORDER BY user_id"""),

    // ---- ext: linear multi-touch attribution — equal credit across
    // in-window touches per purchase, integer 1e-7-dollar units ----
    Gated("q184_linear_attribution", (s, dir) =>
      graft.ext.Behavior.linearAttribution(
          Tables.events(s, dir), Seq("click", "signup", "view"))
        .orderBy(col("touch_type")),
      """WITH lae AS (
             SELECT user_id, event_type, value, epoch_us(ts) AS tsu
             FROM events),
           lac AS (
             SELECT user_id, event_type, value, tsu,
                    CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                      OVER w, 0) AS BIGINT) AS k_0,
                    CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                      OVER w, 0) AS BIGINT) AS k_1,
                    CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                      OVER w, 0) AS BIGINT) AS k_2
             FROM lae
             WINDOW w AS (PARTITION BY user_id ORDER BY tsu
               RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)),
           lap AS (
             SELECT CAST(round(value * 10000) AS BIGINT) AS cents,
                    k_0, k_1, k_2, k_0 + k_1 + k_2 AS n
             FROM lac WHERE event_type = 'purchase'),
           laa AS (
             SELECT 'click' AS touch_type, cents, k_0 AS k, n
             FROM lap WHERE k_0 > 0
             UNION ALL
             SELECT 'signup', cents, k_1, n FROM lap WHERE k_1 > 0
             UNION ALL
             SELECT 'view', cents, k_2, n FROM lap WHERE k_2 > 0
             UNION ALL
             SELECT 'direct', cents, 1, 1 FROM lap WHERE n = 0),
           lau AS (
             SELECT touch_type,
                    (CAST(cents AS HUGEINT) * 1000 * k) // n AS units
             FROM laa)
           SELECT touch_type, count(*) AS n_purchases,
                  round(sum(CAST(units AS HUGEINT)) / 1e7, 6)
                    AS attributed_revenue
           FROM lau GROUP BY 1 ORDER BY touch_type"""),

    // ---- ext: Markov next-event predictor — majority transition model
    // trained on a deterministic user split, held-out accuracy ----
    Gated("q185_markov_accuracy", (s, dir) =>
      graft.ext.Behavior.markovPredictorAccuracy(Tables.events(s, dir))
        .orderBy(col("prev_type")),
      s"""WITH mks AS (
              SELECT user_id, event_type,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS next
              FROM events),
            mkt AS (
              SELECT event_type, next,
                     ${graft.ext.Sampling.hashBucketSql("user_id", "split")}
                       < 80 AS is_train
              FROM mks WHERE next IS NOT NULL),
            mkc AS (
              SELECT event_type, next, count(*) AS c
              FROM mkt WHERE is_train GROUP BY 1, 2),
            mkp AS (
              SELECT event_type, next AS predicted FROM (
                SELECT event_type, next,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY c DESC, next) AS rn
                FROM mkc)
              WHERE rn = 1)
            SELECT t.event_type AS prev_type, p.predicted,
                   count(*) AS n_test,
                   CAST(sum(CASE WHEN t.next = p.predicted THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_correct,
                   round(CAST(sum(CASE WHEN t.next = p.predicted
                                  THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS accuracy
            FROM mkt t JOIN mkp p USING (event_type)
            WHERE NOT t.is_train
            GROUP BY 1, 2 ORDER BY prev_type"""),

    // ---- ext: session-depth engagement histogram (gap sessionization →
    // per-depth session count / share / mean duration) ----
    Gated("q191_session_stats", (s, dir) =>
      graft.ext.Behavior.sessionStats(Tables.events(s, dir))
        .orderBy(col("depth")),
      """WITH sse AS (
             SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
           ssl AS (
             SELECT user_id, event_id, tsu,
                    CASE WHEN lag(tsu) OVER w IS NULL
                           OR tsu - lag(tsu) OVER w >= 1800000000
                         THEN 1 ELSE 0 END AS is_new
             FROM sse
             WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
           ssi AS (
             SELECT user_id, tsu,
                    CAST(sum(is_new) OVER (PARTITION BY user_id
                      ORDER BY tsu, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS sid
             FROM ssl),
           ssg AS (
             SELECT user_id, sid, count(*) AS n_events,
                    CAST(max(tsu) - min(tsu) AS BIGINT) AS dur_us
             FROM ssi GROUP BY 1, 2),
           sst AS (SELECT count(*) AS n_total FROM ssg),
           ssd AS (
             SELECT least(n_events, 10) AS depth, count(*) AS n_sessions,
                    CAST(sum(dur_us) AS BIGINT) AS sdur
             FROM ssg GROUP BY 1)
           SELECT depth, n_sessions,
                  round(CAST(n_sessions AS DOUBLE) / sst.n_total, 6) AS share,
                  round(sdur / 1e6 / n_sessions, 6) AS mean_duration_sec
           FROM ssd CROSS JOIN sst ORDER BY depth"""),

    // ---- ext: sequential-pattern support per ordered type pair
    // ("a ever followed by b"; PrefixSpan length-2 seeds) ----
    Gated("q196_seq_support", (s, dir) =>
      graft.ext.Behavior.sequenceSupport(Tables.events(s, dir))
        .orderBy(col("type_a"), col("type_b")),
      """WITH squ AS (
             SELECT user_id, event_type,
                    CAST(min(epoch_us(ts)) AS BIGINT) AS first_ts,
                    CAST(max(epoch_us(ts)) AS BIGINT) AS last_ts
             FROM events GROUP BY 1, 2),
           sqn AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
           sqp AS (
             SELECT a.event_type AS type_a, b.event_type AS type_b,
                    count(*) AS n_users_both,
                    CAST(sum(CASE WHEN a.first_ts < b.last_ts
                                  THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_users_seq
             FROM squ a JOIN squ b
               ON a.user_id = b.user_id AND a.event_type <> b.event_type
             GROUP BY 1, 2)
           SELECT type_a, type_b, n_users_both, n_users_seq,
                  round(CAST(n_users_seq AS DOUBLE) / n_users_both, 6)
                    AS seq_given_both,
                  round(CAST(n_users_seq AS DOUBLE) / sqn.n_users, 6)
                    AS support
           FROM sqp CROSS JOIN sqn
           ORDER BY type_a, type_b"""),

    // ---- ext: session conversion by depth (purchase share per
    // engagement depth; shares q191's session frame) ----
    Gated("q206_session_conversion", (s, dir) =>
      graft.ext.Behavior.sessionConversion(Tables.events(s, dir))
        .orderBy(col("depth")),
      """WITH sce AS (
             SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
             FROM events),
           scl AS (
             SELECT user_id, event_id, event_type, tsu,
                    CASE WHEN lag(tsu) OVER w IS NULL
                           OR tsu - lag(tsu) OVER w >= 1800000000
                         THEN 1 ELSE 0 END AS is_new
             FROM sce
             WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
           sci AS (
             SELECT user_id, event_type,
                    CAST(sum(is_new) OVER (PARTITION BY user_id
                      ORDER BY tsu, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS sid
             FROM scl),
           scg AS (
             SELECT user_id, sid, count(*) AS n_events,
                    CAST(sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_purch
             FROM sci GROUP BY 1, 2),
           scd AS (
             SELECT least(n_events, 10) AS depth, count(*) AS n_sessions,
                    CAST(sum(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_converting
             FROM scg GROUP BY 1)
           SELECT depth, n_sessions, n_converting,
                  round(CAST(n_converting AS DOUBLE) / n_sessions, 6)
                    AS conversion_rate
           FROM scd ORDER BY depth"""),

    // ---- ext: hourly view→purchase lead–lag cross-correlation ----
    Gated("q231_event_xcorr", (s, dir) =>
      graft.ext.Behavior.eventXcorr(Tables.events(s, dir),
          leadType = "view", lagType = "purchase", maxLag = 6)
        .orderBy(col("lag")),
      """WITH xh AS (
           SELECT date_trunc('hour', ts) AS h,
                  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS xc,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS yc
           FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
         xs AS (SELECT date_trunc('hour', min(ts)) AS h0,
                       date_trunc('hour', max(ts)) AS h1 FROM events),
         xn AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                FROM xs),
         xg AS (SELECT n.h, coalesce(x.xc, 0) AS x, coalesce(x.yc, 0) AS y
                FROM xn n LEFT JOIN xh x USING (h)),
         xl AS (SELECT l.lag, g.y,
                       lag(g.x, l.lag) OVER (PARTITION BY l.lag ORDER BY g.h)
                         AS xl
                FROM xg g CROSS JOIN (SELECT unnest(range(0, 7)) AS lag) l),
         xa AS (SELECT lag, CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(xl) AS DOUBLE) AS sx,
                       CAST(sum(y) AS DOUBLE) AS sy,
                       CAST(sum(xl * y) AS DOUBLE) AS sxy,
                       CAST(sum(xl * xl) AS DOUBLE) AS sxx,
                       CAST(sum(y * y) AS DOUBLE) AS syy
                FROM xl WHERE xl IS NOT NULL GROUP BY 1)
         SELECT lag, CAST(n AS BIGINT) AS n_pairs,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                     THEN round((n * sxy - sx * sy)
                          / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                     ELSE NULL END AS xcorr
         FROM xa ORDER BY lag"""),

    // ---- ext: time-decay attribution (2^-age_days dyadic weights as
    // exact integers — the third standard model after first/last and
    // linear) ----
    Gated("q303_time_decay_attribution", (s, dir) =>
      graft.ext.Behavior.timeDecayAttribution(Tables.events(s, dir),
        Seq("view", "click", "signup")),
      """WITH ap AS (
             SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS tp,
                    CAST(round(value * 10000) AS BIGINT) AS cents
             FROM events WHERE event_type = 'purchase'),
         at2 AS (
             SELECT user_id, event_type AS ty, epoch_us(ts) AS tt
             FROM events
             WHERE event_type IN ('view', 'click', 'signup')),
         apr AS (
             SELECT p.purchase_id, p.cents, t.ty,
                    (1::BIGINT << CAST(7 - LEAST(GREATEST(
                       tp // 86400000000 - tt // 86400000000, 0), 7)
                     AS INT)) AS w
             FROM ap p JOIN at2 t USING (user_id)
             WHERE t.tt < p.tp AND p.tp - t.tt <= 604800000000),
         apc AS (SELECT purchase_id, cents, ty,
                        CAST(sum(w) AS BIGINT) AS wt
                 FROM apr GROUP BY 1, 2, 3),
         app AS (SELECT purchase_id, CAST(sum(wt) AS BIGINT) AS wsum
                 FROM apc GROUP BY 1),
         acr AS (
             SELECT c.ty, c.purchase_id,
                    ((c.wt * 1000000 * 2) + p.wsum) // (p.wsum * 2)
                      AS share_u,
                    (CAST(c.cents AS HUGEINT) * 1000 * c.wt) // p.wsum
                      AS rev_mu
             FROM apc c JOIN app p USING (purchase_id)
             UNION ALL
             SELECT 'direct' AS ty, a.purchase_id,
                    1000000 AS share_u, a.cents * 1000 AS rev_mu
             FROM ap a LEFT JOIN app p USING (purchase_id)
             WHERE p.purchase_id IS NULL)
         SELECT ty AS touch_type,
                CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
                round(sum(CAST(share_u AS HUGEINT)) / 1e6, 6)
                  AS total_credit,
                round(sum(CAST(rev_mu AS HUGEINT)) / 1e7, 6)
                  AS attributed_revenue
         FROM acr GROUP BY 1 ORDER BY touch_type"""),

    // ---- ext: U-shaped 40/20/40 position attribution (completing
    // the four standard models; exact integer micro credit) ----
    Gated("q305_position_attribution", (s, dir) =>
      graft.ext.Behavior.positionAttribution(Tables.events(s, dir),
        Seq("view", "click", "signup")),
      """WITH pp AS (
             SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS tp,
                    CAST(round(value * 10000) AS BIGINT) AS cents
             FROM events WHERE event_type = 'purchase'),
         pt AS (
             SELECT user_id, event_type AS ty, event_id AS tid,
                    epoch_us(ts) AS tt
             FROM events
             WHERE event_type IN ('view', 'click', 'signup')),
         ppr AS (
             SELECT p.purchase_id, p.cents, t.ty, t.tid, t.tt
             FROM pp p JOIN pt t USING (user_id)
             WHERE t.tt < p.tp AND p.tp - t.tt <= 604800000000),
         pper AS (SELECT purchase_id, cents,
                         CAST(count(*) AS BIGINT) AS n
                  FROM ppr GROUP BY 1, 2),
         prk AS (SELECT *,
                        row_number() OVER (PARTITION BY purchase_id
                          ORDER BY tt, tid) AS rf,
                        row_number() OVER (PARTITION BY purchase_id
                          ORDER BY tt DESC, tid DESC) AS rl
                 FROM ppr),
         pf AS (SELECT purchase_id, ty AS fty FROM prk WHERE rf = 1),
         pl AS (SELECT purchase_id, ty AS lty FROM prk WHERE rl = 1),
         pc AS (SELECT purchase_id, ty, CAST(count(*) AS BIGINT) AS k
                FROM ppr GROUP BY 1, 2),
         pci AS (SELECT c.purchase_id, c.ty, c.k, e.n, e.cents,
                        CASE WHEN f.fty = c.ty THEN 1 ELSE 0 END AS indf,
                        CASE WHEN l.lty = c.ty THEN 1 ELSE 0 END AS indl
                 FROM pc c
                 JOIN pper e USING (purchase_id)
                 JOIN pf f USING (purchase_id)
                 JOIN pl l USING (purchase_id)),
         pcr AS (SELECT ty, purchase_id, cents,
                        CASE WHEN n = 1 THEN indf * 1000000
                             WHEN n = 2 THEN (indf + indl) * 500000
                             ELSE (indf + indl) * 400000
                               + (k - indf - indl)
                                 * (((200000 * 2) + (n - 2))
                                    // ((n - 2) * 2))
                        END AS share_u
                 FROM pci),
         pcf AS (SELECT ty, purchase_id, share_u,
                        (CAST(cents AS HUGEINT) * 1000 * share_u) // 1000000
                          AS rev_mu
                 FROM pcr WHERE share_u > 0
                 UNION ALL
                 SELECT 'direct' AS ty, a.purchase_id,
                        1000000 AS share_u, a.cents * 1000 AS rev_mu
                 FROM pp a LEFT JOIN pper e USING (purchase_id)
                 WHERE e.purchase_id IS NULL)
         SELECT ty AS touch_type,
                CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
                round(sum(CAST(share_u AS HUGEINT)) / 1e6, 6)
                  AS total_credit,
                round(sum(CAST(rev_mu AS HUGEINT)) / 1e7, 6)
                  AS attributed_revenue
         FROM pcf GROUP BY 1 ORDER BY touch_type"""),

    // ---- ext: Shapley-value attribution over the channel powerset
    // (the game-theoretic model closing the family: first/last q130,
    // linear q184, time-decay q303, U-shaped q305; exact integer
    // n!-scaled weights, conservation by Shapley efficiency) ----
    Gated("q314_shapley_attribution", (s, dir) =>
      graft.ext.Behavior.shapleyAttribution(Tables.events(s, dir),
        Seq("view", "click", "signup")),
      {
        val types = Seq("view", "click", "signup")
        val nCh = types.size
        val nFact = (1 to nCh).foldLeft(1L)(_ * _)
        val kCols = types.zipWithIndex.map { case (t, i) =>
          // coalesce: the strict 1-PRECEDING frame is EMPTY for a
          // purchase with no prior events and sum-over-empty is NULL
          s"""CAST(coalesce(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)
                  OVER w, 0) AS BIGINT) AS k_$i"""
        }.mkString(",\n                    ")
        val maskExpr = types.indices
          .map(i => s"(CASE WHEN k_$i > 0 THEN ${1L << i} ELSE 0 END)")
          .mkString(" + ")
        val spineVals = (for {
          i <- types.indices
          s <- 0 until (1 << nCh) if (s & (1 << i)) == 0
        } yield s"('${types(i)}', $s, ${s | (1 << i)}, " +
            s"${graft.ext.Behavior.shapleyCoef(Integer.bitCount(s), nCh)})")
          .mkString(", ")
        val bitVals = types.zipWithIndex
          .map { case (t, i) => s"('$t', ${1L << i})" }.mkString(", ")
        s"""WITH she AS (
             SELECT user_id, event_type, value, epoch_us(ts) AS tsu
             FROM events),
           shc AS (
             SELECT user_id, event_type, value, tsu,
                    $kCols
             FROM she
             WINDOW w AS (PARTITION BY user_id ORDER BY tsu
               RANGE BETWEEN ${7 * 86400L * 1000000L} PRECEDING
                 AND 1 PRECEDING)),
           shp AS (
             SELECT CAST(round(value * 10000) AS BIGINT) AS cents,
                    $maskExpr AS mask
             FROM shc WHERE event_type = 'purchase'),
           shm AS (
             SELECT g.mask, CAST(coalesce(p.np, 0) AS BIGINT) AS np,
                    CAST(coalesce(p.rev, 0) AS HUGEINT) AS rev
             FROM (SELECT unnest(generate_series(0, ${(1 << nCh) - 1}))
                     AS mask) g
             LEFT JOIN (SELECT mask, count(*) AS np,
                               sum(CAST(cents AS HUGEINT)) AS rev
                        FROM shp GROUP BY 1) p USING (mask)),
           shv AS (
             SELECT s.mask AS s_mask, sum(t.rev) AS v
             FROM shm s JOIN shm t ON (t.mask & s.mask) = t.mask
             GROUP BY 1),
           shs AS (
             SELECT * FROM (VALUES $spineVals)
               AS sp(touch_type, s_mask, sc_mask, coef)),
           shf AS (
             SELECT sp.touch_type,
                    sum(CAST(sp.coef AS HUGEINT) * (va.v - vb.v)) AS su
             FROM shs sp
             JOIN shv va ON va.s_mask = sp.sc_mask
             JOIN shv vb ON vb.s_mask = sp.s_mask
             GROUP BY 1),
           shn AS (
             SELECT c.touch_type, CAST(sum(m.np) AS BIGINT) AS n_purchases
             FROM (VALUES $bitVals) AS c(touch_type, bit)
             JOIN shm m ON (m.mask & c.bit) = c.bit
             GROUP BY 1)
         SELECT f.touch_type, n.n_purchases,
                CAST(((f.su * 100 * 2) + $nFact) // ${2L * nFact}
                  AS BIGINT) / 1e6 AS attributed_revenue
         FROM shf f JOIN shn n USING (touch_type)
         UNION ALL
         SELECT 'direct', np,
                CAST(((rev * 100 * 2) + 1) // 2 AS BIGINT) / 1e6
         FROM shm WHERE mask = 0
         ORDER BY touch_type"""
      }),

    // ---- ext: entropy rate of the event-type Markov chain (the
    // predictability ceiling over q55's matrix; gap = mutual info) ----
    Gated("q335_entropy_rate", (s, dir) =>
      graft.ext.Behavior.markovEntropyRate(Tables.events(s, dir)),
      """WITH mes AS (
             SELECT user_id, event_type,
                    lead(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS next_type
             FROM events),
           mec AS (SELECT event_type AS f, next_type AS t,
                          CAST(count(*) AS BIGINT) AS nij
                   FROM mes WHERE next_type IS NOT NULL GROUP BY 1, 2),
           mer AS (SELECT f, CAST(sum(nij) AS BIGINT) AS ni
                   FROM mec GROUP BY 1),
           met AS (SELECT CAST(sum(ni) AS BIGINT) AS nn,
                          CAST(count(*) AS BIGINT) AS n_states
                   FROM mer),
           mhc AS (SELECT CAST(sum(CAST(c.nij AS HUGEINT)
                     * CAST(round(ln(CAST(c.nij AS DOUBLE) / r.ni) * 1e9)
                       AS BIGINT)) AS HUGEINT) AS sc
                   FROM mec c JOIN mer r USING (f)),
           mel AS (SELECT t, CAST(sum(nij) AS BIGINT) AS nj
                   FROM mec GROUP BY 1),
           mhu AS (SELECT CAST(sum(CAST(l.nj AS HUGEINT)
                     * CAST(round(ln(CAST(l.nj AS DOUBLE) / t.nn) * 1e9)
                       AS BIGINT)) AS HUGEINT) AS su
                   FROM mel l CROSS JOIN met t),
           meh AS (SELECT t.nn, t.n_states,
                          (((-u.su) * 1000000 * 2)
                           + CAST(t.nn AS HUGEINT) * 1000000000)
                            // (CAST(t.nn AS HUGEINT) * 1000000000 * 2)
                            AS hu,
                          (((-c.sc) * 1000000 * 2)
                           + CAST(t.nn AS HUGEINT) * 1000000000)
                            // (CAST(t.nn AS HUGEINT) * 1000000000 * 2)
                            AS hc
                   FROM met t CROSS JOIN mhc c CROSS JOIN mhu u)
         SELECT nn AS n_transitions, n_states, hu / 1e6 AS h_unigram,
                hc / 1e6 AS h_rate, (hu - hc) / 1e6 AS info_gain
         FROM meh"""),

    // ---- ext: hot-key-safe capped attribution — the shipped
    // mitigation for the 10x-soak finding (q305's per-user pairing is
    // semantically unbounded under key concentration): day-bucketed
    // lossless pair join + per-purchase most-recent-N cap ----
    Gated("q338_attribution_capped", (s, dir) =>
      graft.ext.Behavior.positionAttributionCapped(Tables.events(s, dir),
        Seq("view", "click", "signup"), lookbackDays = 7, maxTouches = 10),
      // capped attribution: the q305 credit model over each purchase's 10
      // most-recent lookback touches; day-bucket explode mirrored
      """WITH pp AS (
             SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS tp,
                    CAST(round(value * 10000) AS BIGINT) AS cents,
                    epoch_us(ts) // 86400000000 AS pd
             FROM events WHERE event_type = 'purchase'),
         pt AS (
             SELECT user_id, event_type AS ty, event_id AS tid,
                    epoch_us(ts) AS tt
             FROM events
             WHERE event_type IN ('view', 'click', 'signup')),
         ptx AS (
             SELECT user_id, ty, tid, tt,
                    unnest(generate_series(tt // 86400000000,
                                           tt // 86400000000 + 7)) AS sd
             FROM pt),
         ppr0 AS (
             SELECT p.purchase_id, p.cents, t.ty, t.tid, t.tt
             FROM pp p JOIN ptx t
               ON p.user_id = t.user_id AND p.pd = t.sd
             WHERE t.tt < p.tp AND p.tp - t.tt <= 604800000000),
         pprk AS (SELECT *,
                         row_number() OVER (PARTITION BY purchase_id
                           ORDER BY tt DESC, tid ASC) AS rr
                  FROM ppr0),
         ppr AS (SELECT purchase_id, cents, ty, tid, tt
                 FROM pprk WHERE rr <= 10),
         pper AS (SELECT purchase_id, cents,
                         CAST(count(*) AS BIGINT) AS n
                  FROM ppr GROUP BY 1, 2),
         prk AS (SELECT *,
                        row_number() OVER (PARTITION BY purchase_id
                          ORDER BY tt, tid) AS rf,
                        row_number() OVER (PARTITION BY purchase_id
                          ORDER BY tt DESC, tid DESC) AS rl
                 FROM ppr),
         pf AS (SELECT purchase_id, ty AS fty FROM prk WHERE rf = 1),
         pl AS (SELECT purchase_id, ty AS lty FROM prk WHERE rl = 1),
         pc AS (SELECT purchase_id, ty, CAST(count(*) AS BIGINT) AS k
                FROM ppr GROUP BY 1, 2),
         pci AS (SELECT c.purchase_id, c.ty, c.k, e.n, e.cents,
                        CASE WHEN f.fty = c.ty THEN 1 ELSE 0 END AS indf,
                        CASE WHEN l.lty = c.ty THEN 1 ELSE 0 END AS indl
                 FROM pc c
                 JOIN pper e USING (purchase_id)
                 JOIN pf f USING (purchase_id)
                 JOIN pl l USING (purchase_id)),
         pcr AS (SELECT ty, purchase_id, cents,
                        CASE WHEN n = 1 THEN indf * 1000000
                             WHEN n = 2 THEN (indf + indl) * 500000
                             ELSE (indf + indl) * 400000
                               + (k - indf - indl)
                                 * (((200000 * 2) + (n - 2))
                                    // ((n - 2) * 2))
                        END AS share_u
                 FROM pci),
         pcf AS (SELECT ty, purchase_id, share_u,
                        (CAST(cents AS HUGEINT) * 1000 * share_u) // 1000000
                          AS rev_mu
                 FROM pcr WHERE share_u > 0
                 UNION ALL
                 SELECT 'direct' AS ty, a.purchase_id,
                        1000000 AS share_u, a.cents * 1000 AS rev_mu
                 FROM pp a LEFT JOIN pper e USING (purchase_id)
                 WHERE e.purchase_id IS NULL)
         SELECT ty AS touch_type,
                CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
                round(sum(CAST(share_u AS HUGEINT)) / 1e6, 6)
                  AS total_credit,
                round(sum(CAST(rev_mu AS HUGEINT)) / 1e7, 6)
                  AS attributed_revenue
         FROM pcf GROUP BY 1 ORDER BY touch_type"""),
  )
}
