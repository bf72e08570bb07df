package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables

object TemporalQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: as-of join (purchase -> latest prior view per user) ----
    Gated("q32_asof_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      Temporal.asofJoin(purchases, views, Seq("user_id"), "ts", "ts",
          rightPayload = Seq("event_id", "ts"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("asof_event_id").as("view_event_id"),
          col("asof_ts").as("view_ts"),
          (unix_micros(col("ts")) - unix_micros(col("asof_ts")))
            .as("micros_since_view"))
        .orderBy(col("event_id"))
    },
      """WITH u AS (
           SELECT user_id, ts AS t, 0 AS side, event_id AS r_event_id, ts AS r_ts,
                  CAST(NULL AS BIGINT) AS l_event_id, CAST(NULL AS DOUBLE) AS l_value
           FROM events WHERE event_type = 'view'
           UNION ALL
           SELECT user_id, ts, 1, NULL, NULL, event_id, value
           FROM events WHERE event_type = 'purchase'),
         w AS (
           SELECT user_id, t, side, l_event_id, l_value,
                  last_value(r_event_id IGNORE NULLS) OVER win AS view_event_id,
                  last_value(r_ts IGNORE NULLS) OVER win AS view_ts
           FROM u
           WINDOW win AS (PARTITION BY user_id ORDER BY t, side
                          ROWS UNBOUNDED PRECEDING))
         SELECT l_event_id AS event_id, user_id, t AS ts, l_value AS value,
                view_event_id, view_ts,
                epoch_us(t) - epoch_us(view_ts) AS micros_since_view
         FROM w WHERE side = 1 ORDER BY event_id"""),

    // ---- ext: range (interval) join via day-bucket equi-join ----
    Gated("q34_range_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("event_date"), col("value"))
      val windows = s.range(10).select(
          col("id").as("window_id"),
          date_add(lit("2024-01-01").cast("date"),
            (col("id") * 3).cast("int")).as("window_start"))
        .withColumn("window_end",
          date_add(col("window_start"),
            ((col("window_id") % 4) * 3 + 2).cast("int")))
      Temporal.rangeJoinDates(ev, windows,
          "event_date", "window_start", "window_end", bucketDays = 7)
        .groupBy(col("window_id"), col("window_start"), col("window_end"))
        .agg(count(lit(1)).as("n_events"),
          graft.gold.Money.sumMoney(col("value")).as("value_sum"))
        .orderBy(col("window_id"))
    },
      """WITH win AS (
           SELECT i AS window_id,
                  DATE '2024-01-01' + CAST(i * 3 AS INT) AS window_start,
                  DATE '2024-01-01' + CAST(i * 3 + (i % 4) * 3 + 2 AS INT)
                    AS window_end
           FROM range(10) t(i)),
         ev AS (SELECT CAST(ts AS DATE) AS event_date, value FROM events)
         SELECT window_id, window_start, window_end, count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM win JOIN ev ON ev.event_date BETWEEN win.window_start
                                               AND win.window_end
         GROUP BY 1, 2, 3 ORDER BY window_id"""),
  )
}
