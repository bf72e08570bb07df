package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StatefulSessionizerSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    StatefulSessionizer.Event(1L, ts("2024-01-01 00:05:00"), 1.0),
    StatefulSessionizer.Event(1L, ts("2024-01-01 00:45:00"), 2.0),
    StatefulSessionizer.Event(2L, ts("2024-01-01 01:10:00"), 3.0),
    StatefulSessionizer.Event(2L, ts("2024-01-01 01:20:00"), 4.0))

  test("batch sessions match declarative session_window sessions") {
    val custom = StatefulSessionizer
      .sessions(events.toDS(), gapMs = 30 * 60 * 1000)
      .select($"user_id", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events")
      .as[(Long, String, String, Long)].collect().toSet
    val declarative = EventMetrics
      .sessions(events.toDF(), "30 minutes")
      .select($"user_id", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events")
      .as[(Long, String, String, Long)].collect().toSet
    assert(custom == declarative)
  }

  test("streaming sessions stitch across micro-batch boundaries via GroupState") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30 * 60 * 1000L
    val input = MemoryStream[StatefulSessionizer.Event]
    val sessions = StatefulSessionizer.sessionsStreaming(
      input.toDS().withWatermark("ts", "0 seconds")
        .as[StatefulSessionizer.Event],
      gapMs)
    val q = sessions.writeStream.format("memory")
      .queryName("stitched_sessions").outputMode("append").start()
    try {
      // batch 1: two events of what must become ONE session
      input.addData(
        StatefulSessionizer.Event(1L, ts("2024-01-01 00:05:00"), 1.0),
        StatefulSessionizer.Event(1L, ts("2024-01-01 00:10:00"), 2.0))
      q.processAllAvailable()
      // batch 2: continuation of the same session after the trigger
      // boundary (10:00 < 10:00 + 30m gap) — the buggy variant would
      // already have emitted a fragment for batch 1
      input.addData(
        StatefulSessionizer.Event(1L, ts("2024-01-01 00:20:00"), 4.0))
      q.processAllAvailable()
      assert(spark.table("stitched_sessions").count() == 0,
        "open session must not be emitted before the watermark closes it")
      // batch 3: watermark pusher far past 00:20 + 30m → timeout fires
      input.addData(
        StatefulSessionizer.Event(2L, ts("2024-01-01 03:00:00"), 9.0))
      q.processAllAvailable()
      input.addData(
        StatefulSessionizer.Event(2L, ts("2024-01-01 05:00:00"), 1.0))
      q.processAllAvailable()
      val got = spark.table("stitched_sessions")
        .select($"user_id", $"session_start".cast("string"),
          $"session_end".cast("string"), $"n_events", $"value_sum")
        .as[(Long, String, String, Long, Double)].collect().toSet
      assert(got.contains(
        (1L, "2024-01-01 00:05:00", "2024-01-01 00:50:00", 3L, 7.0)),
        s"expected one stitched 3-event session, got $got")
      assert(!got.exists { case (u, _, _, n, _) => u == 1L && n < 3L },
        s"session fragmented across micro-batches: $got")
    } finally q.stop()
  }

  test("an admitted out-of-order event merges by min/max, never moving the session end backwards") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val gapMs = 30 * 60 * 1000L
    val input = MemoryStream[StatefulSessionizer.Event]
    // 10-minute watermark delay: an event earlier than the open
    // session's last event can be ADMITTED in a later micro-batch; the
    // old fold set last = us unconditionally, so the open session's end
    // moved backwards (and could emit end < start)
    val sessions = StatefulSessionizer.sessionsStreaming(
      input.toDS().withWatermark("ts", "10 minutes")
        .as[StatefulSessionizer.Event],
      gapMs)
    val q = sessions.writeStream.format("memory")
      .queryName("ooo_sessions").outputMode("append").start()
    try {
      input.addData(StatefulSessionizer.Event(1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // in-watermark (wm = 11:50) but BEFORE the open session's events
      input.addData(StatefulSessionizer.Event(1L, ts("2024-01-01 11:55:00"), 2.0))
      q.processAllAvailable()
      // two far-future pushers close the session via event-time timeout
      input.addData(StatefulSessionizer.Event(2L, ts("2024-01-01 15:00:00"), 0.0))
      q.processAllAvailable()
      input.addData(StatefulSessionizer.Event(2L, ts("2024-01-01 18:00:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("ooo_sessions")
        .filter($"user_id" === 1L)
        .select($"session_start".cast("string"),
          $"session_end".cast("string"), $"n_events", $"value_sum")
        .as[(String, String, Long, Double)].collect().toSeq
      assert(got == Seq(
        ("2024-01-01 11:55:00", "2024-01-01 12:30:00", 2L, 3.0)),
        s"out-of-order event must extend start and keep the true end: $got")
    } finally q.stop()
  }

  test("file-stream replay equals batch sessionization on the sf0.001 events table") {
    val dir = "/root/testdata/sf0.001"
    assume(Files.isDirectory(java.nio.file.Paths.get(dir)))
    val gapMs = 30L * 60 * 1000
    // state must stay O(open sessions): one OpenSession row per key at
    // most, never the event buffer
    val maxStateRows = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach { so =>
          maxStateRows.getAndUpdate(m => math.max(m, so.numRowsTotal))
        }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val streamed =
      try SessionReplay.sessionsViaStream(spark, dir, gapMs, slices = 3)
        .select($"user_id", $"session_start".cast("string"),
          $"session_end".cast("string"), $"n_events", $"value_sum")
        .as[(Long, String, String, Long, Double)].collect().toSet
      finally spark.streams.removeListener(listener)
    val nUsers = graft.core.Tables.events(spark, dir)
      .select($"user_id").distinct().count()
    assert(maxStateRows.get() > 0 && maxStateRows.get() <= nUsers + 2,
      s"state rows ${maxStateRows.get()} exceed the open-session bound ($nUsers users + 2 sentinels)")
    val batch = StatefulSessionizer.sessions(
        graft.core.Tables.events(spark, dir)
          .select($"user_id".cast("long").as("user_id"),
            $"ts".cast("timestamp").as("ts"), $"value".cast("double").as("value"))
          .as[StatefulSessionizer.Event],
        gapMs)
      .select($"user_id", $"session_start".cast("string"),
        $"session_end".cast("string"), $"n_events", $"value_sum")
      .as[(Long, String, String, Long, Double)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"replay/batch divergence: ${streamed.diff(batch).take(3)} vs ${batch.diff(streamed).take(3)}")
  }
}

class StreamingCdcIngestSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingest lands micro-batches in the cdc zone layout") {
    val src = graft.core.Scratch.dir("graft-stream-src").toString
    val root = graft.core.Scratch.dir("graft-stream-lake").toString
    val ckpt = graft.core.Scratch.dir("graft-stream-ckpt").toString
    val data = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload")
    data.write.mode("overwrite").parquet(src)

    val lake = graft.io.Lakehouse(s"file://$root")
    val stream = spark.readStream.schema(data.schema).parquet(src)
    val q = StreamingCdcIngest.start(
      stream, lake, "events", "2024-06-01",
      lit("2024-06-01 00:00:00").cast("timestamp"), ckpt)
    q.awaitTermination(60000)

    val landed = spark.read.parquet(lake.cdcStream("events", "2024-06-01"))
    assert(landed.count() == 3)
    assert(landed.select($"cdc_action").distinct().as[String].collect().toSeq == Seq("insert"))
    // the streaming root is disjoint from the batch cdc zone (depth-
    // conflict guard): nothing landed under the flat batch layout
    val batchRoot = new org.apache.hadoop.fs.Path(lake.cdc("events", "2024-06-01"))
    val fs = batchRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(batchRoot), "streaming ingest leaked into the batch cdc root")
    // and batch_id rides as a partition column for provenance
    assert(landed.columns.contains("batch_id"))
  }

  test("rate-source soak: continuous input flows, sessions emit, state stays bounded") {
    // ~6 s against the built-in rate source: 500 rows/s over 5000 sparse
    // users (per-user inter-arrival ≈ 10 s >> the 1 s gap, so sessions
    // close and must be emitted while the stream is still running) —
    // the backpressure/liveness proof the file-replay gates don't give.
    import org.apache.spark.sql.streaming.Trigger
    val nUsers = 5000L
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .select((col("value") % nUsers).as("user_id"),
        col("timestamp").as("ts"), lit(1.0).as("value"))
      .withWatermark("ts", "0 seconds")
      .as[StatefulSessionizer.Event]
    val out = StatefulSessionizer.sessionsStreaming(stream, gapMs = 1000L)
    val qn = "graft_rate_soak_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      // wait until sessions actually emit (usually ~3-6 s), hard cap 30 s
      while (spark.table(qn).isEmpty && System.currentTimeMillis() < deadline &&
          q.exception.isEmpty) {
        Thread.sleep(500)
      }
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
      assert(!spark.table(qn).isEmpty, "no sessions emitted within the soak window")
      val p = q.lastProgress
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= nUsers,
        s"state rows $stateRows exceed the open-session bound ($nUsers users)")
    } finally q.stop()
  }
}
