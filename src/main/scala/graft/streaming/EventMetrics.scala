package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-stream metrics — the Structured Streaming extension
  * (SURVEY §2.9: the reference is batch-incremental; this is the additive
  * streaming path over the `events` table).
  *
  * Every transform here is defined once and runs under BOTH batch and
  * streaming plans — that is the Spark-native design: the same
  * `groupBy(window(...))` logical plan is executed incrementally with
  * state when the source is a stream. [[withStreamingWatermark]] bounds
  * that state for the streaming case.
  *
  * Exactness: event values are arbitrary doubles, so sums quantize to
  * 1e-4 units first (same formula in the DuckDB oracle).
  */
object EventMetrics {

  /** Tumbling-window counts/sums per event type. Window starts align to
    * the epoch, so `date_trunc('hour', ts)` mirrors them in SQL. */
  def tumbling(events: DataFrame, windowLength: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(round(col("value") * 10000)) / 10000.0).as("value_sum"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("value_sum"))

  /** Session windows per user (gap-based). Spark semantics: a session
    * ends gap after its last event; an event at exactly start+gap opens a
    * new session. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(round(col("value") * 10000)) / 10000.0).as("value_sum"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_sum"))

  /** Sliding (hopping) windows: rolling metrics over overlapping
    * `length` windows advancing every `slide`. Each event lands in
    * length/slide windows — Spark expands it to those window rows before
    * the agg, so the shuffle carries the expansion factor; keep
    * length/slide small at scale (4 here). Window starts are
    * epoch-aligned multiples of `slide`, mirrored exactly in the oracle
    * via epoch-microsecond arithmetic. */
  def sliding(
      events: DataFrame, length: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), length, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(round(col("value") * 10000)) / 10000.0).as("value_sum"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("value_sum"))

  /** Bound streaming state: drop events later than `delay` behind the
    * max seen ts. Apply before [[tumbling]]/[[sessions]] on a stream. */
  def withStreamingWatermark(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", delay)
}
