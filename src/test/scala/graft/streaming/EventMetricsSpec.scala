package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class EventMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDf = Seq(
    ("2024-01-01 00:05:00", 1L, "click", 1.5),
    ("2024-01-01 00:45:00", 1L, "click", 2.5),   // same hour, >30min gap → new session
    ("2024-01-01 01:10:00", 2L, "view", 3.0),
    ("2024-01-01 01:20:00", 2L, "view", 4.0),    // same session as previous
  ).toDF("ts", "user_id", "event_type", "value")
    .withColumn("ts", to_timestamp($"ts"))

  test("tumbling windows: epoch-aligned hourly buckets") {
    val got = EventMetrics.tumbling(eventsDf)
      .select($"window_start".cast("string"), $"event_type", $"n_events", $"value_sum")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("2024-01-01 00:00:00", "click", 2L, 4.0),
      ("2024-01-01 01:00:00", "view", 2L, 7.0)))
  }

  test("session windows: gap splits sessions, end = last event + gap") {
    val got = EventMetrics.sessions(eventsDf, "30 minutes")
      .select($"user_id", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "2024-01-01 00:05:00", "2024-01-01 00:35:00", 1L),
      (1L, "2024-01-01 00:45:00", "2024-01-01 01:15:00", 1L),
      (2L, "2024-01-01 01:10:00", "2024-01-01 01:50:00", 2L)))
  }

  test("sliding windows: each event lands in length/slide overlapping windows") {
    val one = Seq(("2024-01-01 00:50:00", 1L, "click", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp($"ts"))
    val got = EventMetrics.sliding(one, "1 hour", "15 minutes")
      .select($"window_start".cast("string"), $"window_end".cast("string"),
        $"n_events")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01 00:00:00", "2024-01-01 01:00:00", 1L),
      ("2024-01-01 00:15:00", "2024-01-01 01:15:00", 1L),
      ("2024-01-01 00:30:00", "2024-01-01 01:30:00", 1L),
      ("2024-01-01 00:45:00", "2024-01-01 01:45:00", 1L)))
  }

  test("the same transform runs as a structured stream and matches the batch result") {
    val dir = graft.core.Scratch.dir("graft-stream-in").toString
    eventsDf.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(eventsDf.schema).parquet(dir)
    val q = EventMetrics.tumbling(EventMetrics.withStreamingWatermark(stream, "2 hours"))
      .writeStream.format("memory").queryName("stream_tumbling")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("stream_tumbling")
      .select($"window_start".cast("string"), $"event_type", $"n_events", $"value_sum")
      .as[(String, String, Long, Double)].collect().toSet
    val batch = EventMetrics.tumbling(eventsDf)
      .select($"window_start".cast("string"), $"event_type", $"n_events", $"value_sum")
      .as[(String, String, Long, Double)].collect().toSet
    assert(streamed == batch)
  }
}
