package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables

object EventPropsQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: semi-structured props (from_json) + calendar dim ----
    Gated("q29_event_props", (s, dir) =>
      graft.ext.EventProps.propRollup(Tables.events(s, dir))
        .orderBy(col("event_type")),
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INT))
                  AS BIGINT) AS k_sum,
                max(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INT)) AS k_max
         FROM events GROUP BY 1 ORDER BY 1"""),
    Gated("q30_date_dim", (s, dir) =>
      graft.ext.DateDim.generate(s, "1995-01-01", "2001-12-31")
        .orderBy(col("date_key")),
      """SELECT CAST(d AS DATE) AS date_key,
                isodow(d) IN (6, 7) AS is_weekend,
                (month(d) = 1 AND day(d) = 1 OR month(d) = 12 AND day(d) = 25)
                  AS is_holiday,
                year(d) AS year, month(d) AS month, weekofyear(d) AS week
         FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31',
                 INTERVAL 1 DAY)) AS d)
         ORDER BY date_key"""),
  )
}
