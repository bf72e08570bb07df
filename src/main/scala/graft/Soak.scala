package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress soak: the executed evidence behind the "would survive
  * 100 TB" design arguments the per-round bench (sf0.1) cannot test.
  *
  * [[SoakGen]] synthesizes a ~10× dataset from sf0.1 by unioning
  * key-remapped copies with PLANTED pathologies a production corpus
  * would have and uniform synthetic data never does:
  *   - one hot user (~20% of orders AND ~20% of events on a single
  *     user_id) — stresses user-grain aggregates, sessionization state,
  *     and the salted-agg/join machinery;
  *   - one hot restaurant (~20% of lineitem rows on one l_suppkey) —
  *     stresses restaurant-grain marts and AQE skew handling;
  *   - one document source whose texts are 10× longer — stresses the
  *     shingle/dedup tiers with a length tail (and the repeated text
  *     multiplies duplicate-gram skew).
  * Copies are key-remapped with referential integrity (lineitem follows
  * orders' key stride), fully deterministic (no rand()).
  *
  * [[SoakBench]] runs the heaviest gated queries against the soak dir
  * (one rep — the soak measures survival and scaling shape, not
  * best-of-3 latency), records per-query wall + shuffle/spill totals
  * via a task-metrics listener, and separately PROVES the AQE
  * skew-join split fires on the planted hot key (thresholds lowered
  * size-relatively — the machinery, not the 256 MB default, is what a
  * 1000-executor cluster relies on).
  */
object SoakGen {
  /** Key stride between copies: above any sf0.1 key, far below
    * Long overflow at 10 copies. */
  private val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/soak10x"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session("graft-soak-gen")

    def copyIdx = explode(array((0 until copies).map(i => lit(i.toLong)): _*))

    // dims stay 1x: facts grow against a fixed dimension universe (the
    // realistic 100 TB shape — more orders per customer, not more
    // customers per order)
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    val hotUser = 7L       // exists at every SF (custkeys start low)
    val hotRestaurant = 7L

    // orders: remapped PK; copies 1-2 reassign the customer -> ~20% of
    // order rows land on ONE user_id
    spark.read.parquet(s"$srcDir/orders.parquet")
      .withColumn("c", copyIdx)
      .withColumn("o_orderkey", col("o_orderkey") + col("c") * Stride)
      .withColumn("o_custkey",
        when(col("c").isin(1L, 2L), lit(hotUser)).otherwise(col("o_custkey")))
      .drop("c")
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    // lineitem: FK follows orders' stride; copies 3-4 plant the hot
    // restaurant (~20% of line rows on one l_suppkey)
    spark.read.parquet(s"$srcDir/lineitem.parquet")
      .withColumn("c", copyIdx)
      .withColumn("l_orderkey", col("l_orderkey") + col("c") * Stride)
      .withColumn("l_suppkey",
        when(col("c").isin(3L, 4L), lit(hotRestaurant)).otherwise(col("l_suppkey")))
      .drop("c")
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // events: normalized-ts read (Tables.events), copies shifted by c
    // seconds so the hot user's stream interleaves instead of stacking
    // identical instants; copies 1-2 land on the hot user
    graft.core.Tables.events(spark, srcDir)
      .withColumn("c", copyIdx)
      .withColumn("event_id", col("event_id") + col("c") * Stride)
      .withColumn("ts", timestamp_micros(
        unix_micros(col("ts")) + col("c") * 1000000L))
      .withColumn("user_id",
        when(col("c").isin(1L, 2L), lit(hotUser)).otherwise(col("user_id")))
      .drop("c")
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // documents: copy 1 becomes the 10x-length tail source (repeated
    // text also multiplies duplicate-gram skew in the shingle tiers)
    spark.read.parquet(s"$srcDir/documents.parquet")
      .withColumn("c", copyIdx)
      .withColumn("doc_id", col("doc_id") + col("c") * Stride)
      .withColumn("text",
        when(col("c") === 1L, repeat(col("text"), 10)).otherwise(col("text")))
      .withColumn("n_chars",
        when(col("c") === 1L, col("n_chars") * 10L).otherwise(col("n_chars")))
      .withColumn("source",
        when(col("c") === 1L, lit("tail_source")).otherwise(col("source")))
      .drop("c")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    spark.read.parquet(s"$srcDir/embeddings.parquet")
      .withColumn("c", copyIdx)
      .withColumn("vec_id", col("vec_id") + col("c") * Stride)
      .drop("c")
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val counts = Seq("orders", "lineitem", "events", "documents", "embeddings")
      .map(t => s"$t=${spark.read.parquet(s"$outDir/$t.parquet").count()}")
    println(s"[soakgen] wrote $outDir (${copies}x): ${counts.mkString(", ")}")
    spark.stop()
  }
}

object SoakBench {
  /** The heaviest fact-grain gated queries (bench_full.json top list,
    * minus the part-block pairwise tiers whose input deliberately stays
    * 1x) plus the skew machinery and one representative per stressed
    * table. */
  val SoakQueries: Seq[String] = Seq(
    // streaming replay over 10x events with the hot-user state pile-up
    "q59_sessions_stream_replay", "q98_stream_stream_join", "q88_stream_dedup",
    // documents 10x with the length-tail source
    "q105_csv_roundtrip", "q64_packed_corpus", "q53_curated_corpus",
    "q15_dedup_exact", "q16_minhash_neardups", "q308_exact_substring_dedup",
    "q24_token_counts",
    // embeddings 10x (brute-force cosine grows quadratically: 100x)
    "q20_topk_cosine", "q121_semantic_dedup", "q122_hard_negatives",
    "q161_covariance", "q198_incremental_cov",
    // order/lineitem facts 10x, user/restaurant grain with planted skew
    "q01_order_revenue", "q05_rfm", "q183_mase_backtest",
    "q249_price_ladder", "q331_price_index", "q233_hampel",
    "q187_assoc_rules", "q169_rolling_corr", "q250_lorenz_curve",
    "q336_ks_two_sample",
    // the hot-key mitigations shipped FROM the round-10 soak findings
    // (q305's uncapped pairing was aborted >15 min on this data —
    // ~1.0e9 credited pairs on the hot user, the documented spec form;
    // q98 above stays in the list as its own 313 s finding)
    "q338_attribution_capped", "q339_stream_join_bucketed",
    // round-11: the ingest rate cap (q340) and the lexical-tier
    // mitigations shipped FROM the round-11 full-sweep finding (the
    // uncapped BM25 flood: q128 198 s / 7 GB shuffle, hybrid q141
    // OOM'd an 8 GiB heap at 10x)
    "q340_event_rate_cap", "q341_bm25_truncated",
    "q342_rrf_fusion_truncated",
    // round-12: the rate cap enforced ON the stream — state per open
    // (entity, day) is the cap itself, so the 20%-hot user's replay
    // must hold state bounded (the q98-class hazard, closed at ingest)
    "q344_stream_rate_cap",
    // the skew-mitigation machinery on the planted hot keys
    "q61_salted_agg", "q91_salted_join")

  private class MetricsListener extends org.apache.spark.scheduler.SparkListener {
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val peakTaskShuffleWrite = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val w = m.shuffleWriteMetrics.bytesWritten
        shuffleWrite.addAndGet(w)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peakTaskShuffleWrite.accumulateAndGet(w, Math.max(_, _))
      }
    }
    def snapshotAndReset(): (Long, Long, Long, Long, Long) = {
      val s = (shuffleWrite.get, shuffleRead.get, memSpill.get, diskSpill.get,
        peakTaskShuffleWrite.get)
      shuffleWrite.set(0); shuffleRead.set(0); memSpill.set(0); diskSpill.set(0)
      peakTaskShuffleWrite.set(0)
      s
    }
  }

  def main(args: Array[String]): Unit = {
    val dataDir = if (args.length > 0) args(0) else "/tmp/soak10x"
    val spark = Harness.session("graft-soak")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    // SPARK_GRAFT_SOAK_ALL=1 sweeps the FULL gated surface (not just
    // the heaviest tier) under the per-query wall timeout of
    // Harness.timed, so the three documented spec forms
    // (graft.ScaleRouting) cannot hang the run: on timeout the query's
    // job group is cancelled and the row is recorded timed_out —
    // expected ONLY for those spec forms.
    val sweepAll = sys.env.get("SPARK_GRAFT_SOAK_ALL").contains("1")
    val pool = SoakQueries ++ (
      if (sweepAll) SparkEntry.queries.keys.toSeq.sorted
        .filterNot(SoakQueries.contains)
      else Nil)
    val selected = pool.filter(Harness.selected)
    val unknown = selected.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown soak queries: ${unknown.mkString(",")}")
    // every sweep row and capped-leg row runs through Harness.timed,
    // which returns only once a timed-out query has stopped unwinding:
    // the next row starts on a quiet session, and its listener snapshot
    // never holds the dying job's metrics
    def timedQuery(name: String, dir: String): Harness.Timed = {
      val fn = SparkEntry.queries(name)
      val r = Harness.timed(spark, name)(fn(spark, dir))
      if (r.timedOut)
        Console.err.println(s"[soak] $name TIMED OUT after ${Harness.timeoutSec}s")
      r.error.foreach(e => Console.err.println(s"[soak] $name FAILED: ${e.getMessage}"))
      r
    }
    // Storage-pool telemetry + debris hygiene (r14, the q141 in-sweep
    // stall diagnosis): the spec-form floods completed ISOLATED at 10×
    // (q141: 333.6 s / 139 GB spill) but timed out IN-SWEEP at 900 s
    // with 27 MB shuffle and ZERO spill — stalled, not grinding. After
    // ~340 queries in one JVM, blocks that only the GC-driven
    // ContextCleaner releases (every query's broadcast relations, the
    // replay queries' localCheckpoint blocks — clearCache() touches
    // neither) accumulate in the unified pool's PROTECTED storage half;
    // the flood's sorter then asks for a contiguous multi-GB grow that
    // the shrunken execution pool can never grant, and
    // TaskMemoryManager's allocation-retry loop pins one straggler task
    // past the wall (the r13 log's 1.4 GiB page-allocation retries).
    // Two measures: (a) storage_used_start_mb rides in every row so the
    // debris is visible as DATA; (b) an explicit System.gc() drives the
    // ContextCleaner before each spec-form flood and every 25th row —
    // the single-JVM-harness hygiene a real cluster gets for free from
    // per-job executor churn.
    def storageUsedMb(): Long =
      spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, remaining) => max - remaining }.sum / 1048576
    val results = selected.zipWithIndex.map { case (name, idx) =>
      if (idx % 25 == 0 || ScaleRouting.siblings.contains(name) ||
          ScaleRouting.specAudits.contains(name)) {
        System.gc()
        Thread.sleep(200) // let the cleaner's async block removals land
      }
      val storageStartMb = storageUsedMb()
      listener.snapshotAndReset()
      // spec-audit rows run SAMPLED at 10× (stride 8 ≈ 1/8 of the query
      // anchors): their exact arm is the q128 flood by construction,
      // and the unsampled arm OOM-killed the 8 GiB sweep JVM in the
      // r13 full run (r12 survived the same arm at 138 GB spill — a
      // coin flip, not a margin). Sampling IS the operator's own
      // documented corpus-scale rule; the gated sf0.01 form stays
      // unsampled (stride defaults to 1 outside this branch).
      // try/finally: Harness.timed catches Throwable today, but a stride
      // leaked past an escaping exception would silently sample every
      // later truncationRecallSweep — scope it structurally
      val isAudit = ScaleRouting.specAudits.contains(name)
      if (isAudit) spark.conf.set("spark.graft.audit.queryStride", "8")
      val run =
        try timedQuery(name, dataDir)
        finally {
          if (isAudit) spark.conf.unset("spark.graft.audit.queryStride")
        }
      // per-query cache isolation: 340+ queries in one JVM accumulate
      // persisted frames (session binding caches, per-query persists)
      // into the unified pool's protected storage half, starving the
      // heavy aggregates' execution memory — the first full sweep saw
      // q128/q141 die with UNABLE_TO_ACQUIRE_MEMORY at the 8 GiB heap
      // while the SAME queries complete in isolation. Each row is now
      // measured from a clean cache (bindings re-persist on demand).
      spark.catalog.clearCache()
      // listener bus is async; a short settle keeps per-query metric
      // attribution honest (private API waitUntilEmpty is inaccessible)
      Thread.sleep(300)
      val (sw, sr, ms, ds, pw) = listener.snapshotAndReset()
      println(f"""[soak] {"q":"$name","sec":${run.sec}%.2f,"rows":${run.rows},"ok":${run.ok},"timed_out":${run.timedOut},"shuffle_write_mb":${sw / 1048576},"shuffle_read_mb":${sr / 1048576},"mem_spill_mb":${ms / 1048576},"disk_spill_mb":${ds / 1048576},"peak_task_shuffle_write_mb":${pw / 1048576},"storage_used_start_mb":$storageStartMb}""")
      (name, run.sec, run.ok, run.timedOut)
    }

    // Harness legs — the AQE skew probe, the ingest rate-cap contract,
    // the hot-key guard, and the capped re-runs — assert properties of
    // the PLANTED soak corpus. They run only on a full invocation:
    // under SPARK_GRAFT_ONLY the caller is iterating on an operator
    // subset, and failing the run because that corpus lacks the planted
    // hot key (guard "missed" on raw) would gate local iteration on an
    // assertion it never asked for.
    val (guardFailed, cappedFailed, streamCapFailed) =
      if (Harness.only.nonEmpty)
        (Seq.empty[String], Seq.empty[String], Seq.empty[String])
      else {
    // ---- AQE skew-split proof on the planted hot restaurant ----
    // The restaurant-grain rollup joins lineitem (hot l_suppkey) to
    // orders; thresholds lowered size-relatively so the 10x-local soak
    // exercises the same OptimizeSkewedJoin a cluster run would. The
    // settings hold for the probe only: each key gets its previous
    // value back, so the later legs run on the session's own settings.
    val probeConfs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val prevConfs = probeConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val (probeRows, plan) = try {
    probeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    val li = graft.core.Tables.lineitem(spark, dataDir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_partkey"),
        col("l_extendedprice"), col("l_discount"))
    val o = graft.core.Tables.orders(spark, dataDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // join keyed on the SKEWED column so one exchange partition carries
    // ~20% of the fact. Three shape requirements, each learned from a
    // probe variant that did NOT split:
    //  - the final aggregate is GLOBAL (keyless): a groupBy on the join
    //    key would pin the join's output partitioning and legitimately
    //    block the split;
    //  - the right side is a RAW scan (supplier dim): any aggregate
    //    between its shuffle and the join means OptimizeSkewedJoin
    //    cannot co-split the sides (only plain ENSURE_REQUIREMENTS
    //    shuffle stages are splittable);
    //  - the aggregate consumes every carried fact column: pruned to
    //    the 8-byte key alone, the hot partition COMPRESSES below any
    //    realistic skew threshold — real fact rows are wide, so the
    //    probe's must be too.
    val sup = graft.core.Tables.supplier(spark, dataDir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val skewJoin = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice")), sum(col("l_discount")),
        max(col("l_partkey")), sum(col("o_totalprice")),
        max(col("o_custkey")), max(col("s_nationkey")))
    // collect() executes THIS dataset's queryExecution — count() would
    // build a separate one and leave this plan unexecuted (isFinalPlan
    // false, no AQE decisions to observe)
    (skewJoin.collect().head.getLong(0),
      skewJoin.queryExecution.executedPlan.toString)
    } finally prevConfs.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    val skewObserved = plan.contains("skew=true")
    println(s"""[soak] {"q":"skew_probe_rows","rows":$probeRows}""")
    println(s"""[soak] {"q":"skew_probe","skew_split_observed":$skewObserved}""")
    if (!skewObserved)
      Console.err.println("[soak] WARNING: no skew=true in the adaptive plan:\n" +
        plan.linesIterator.take(40).mkString("\n"))

    // ---- ingest-side rate cap taming the q98-class input (q340) ----
    // The round-10 finding: the symmetric stream join ground 398 s
    // because ONE user holds 20% of the events (~7k/day at 10x). The
    // shipped data contract caps each entity at its newest N per day
    // AT INGEST ([[graft.ext.Curation.eventRateCap]], gated as q340).
    // 200/day keeps every normal user intact (normal p99.9 = 72/day on
    // this corpus; only the planted bot is cut ~35x), then the SPEC
    // form q98 itself — not the bucketed sibling — runs on the
    // contract-clean input: the grind is gone at the source.
    val capDir = s"$dataDir-ratecap"
    val tCap = System.nanoTime()
    val rawEvents = graft.core.Tables.events(spark, dataDir)
    graft.ext.Curation.eventRateCap(
        rawEvents, "user_id", "event_id", "ts", maxPerDay = 200)
      .write.mode("overwrite").parquet(s"$capDir/events.parquet")
    val capSec = (System.nanoTime() - tCap) / 1e9
    val nRaw = rawEvents.count()
    val nKept = spark.read.parquet(s"$capDir/events.parquet").count()
    println(f"""[soak] {"q":"rate_cap_ingest","sec":$capSec%.2f,"rows_in":$nRaw,"rows_kept":$nKept,"max_per_day":200}""")

    // ---- the STREAMING cap on the same raw corpus and coefficients:
    // per-batch state observability (max state rows, watermark drops)
    // so a cap/state regression surfaces as DATA, not just wall time.
    // Two contracts checked: (1) stream-kept rows == batch-kept rows
    // (the q344 equivalence, here at the soak's 200/day), (2) max state
    // rows ever held <= distinct open (entity, day) x cap — the bound
    // that makes the operator admission control rather than a buffer.
    val tSc = System.nanoTime()
    val (scDf, scM) = graft.streaming.StreamingRateCap
      .cappedViaStreamWithMetrics(spark, dataDir, maxPerDay = 200, slices = 4)
    val scKept = scDf.count()
    // the FALSIFIABLE state bound: max concurrent OPEN (entity, day)
    // keys under the replay's own slice/watermark schedule — state rows
    // are one per open key regardless of cap, so the former
    // entityDays×cap bound could never fail (advisor r13). Broken key
    // eviction accumulates every seen key and crosses this by ~slices/3×.
    val scStateBound = graft.streaming.StreamingRateCap.openEntityDayBound(
      graft.core.Tables.events(spark, dataDir), "user_id", "ts", slices = 4)
    val scOk = scKept == nKept && scM.maxStateRows <= scStateBound
    val scSec = (System.nanoTime() - tSc) / 1e9
    spark.catalog.clearCache()
    println(f"""[soak] {"q":"stream_rate_cap_state","sec":$scSec%.2f,"rows_kept":$scKept,"batch_rows_kept":$nKept,"max_state_rows":${scM.maxStateRows},"state_bound":$scStateBound,"max_state_bytes":${scM.maxStateBytes},"dropped_by_watermark":${scM.rowsDroppedByWatermark},"batches":${scM.batches},"ok":$scOk}""")
    val streamCapFailed =
      if (scOk) Nil
      else Seq(if (scKept != nKept) "stream_rate_cap_kept_mismatch"
               else "stream_rate_cap_state_unbounded")

    // ---- the sampled hot-key guard, observed on BOTH sides of the
    // contract: in fail mode it must throw on the raw 20%-hot corpus
    // BEFORE the quadratic window executes (construction alone proves
    // it — the frame is never counted), and pass silently on the
    // rate-capped corpus. Either miss is a run failure: the guard is
    // the contract's enforcement, not advice. ----
    val tG = System.nanoTime()
    def guardThrows(dir: String): Boolean =
      try {
        spark.conf.set(ScaleRouting.guardConfKey, "fail")
        graft.ext.Behavior.linearAttribution(
          graft.core.Tables.events(spark, dir),
          Seq("view", "click", "signup"))
        false
      } catch { case _: IllegalStateException => true }
      finally spark.conf.unset(ScaleRouting.guardConfKey)
    val firedOnRaw = guardThrows(dataDir)
    val passedOnCapped = !guardThrows(capDir)
    val guardSec = (System.nanoTime() - tG) / 1e9
    println(f"""[soak] {"q":"hotkey_guard","sec":$guardSec%.2f,"fired_on_raw":$firedOnRaw,"passed_on_capped":$passedOnCapped}""")
    val guardFailed =
      (if (firedOnRaw) Nil else Seq("hotkey_guard_missed_raw")) ++
      (if (passedOnCapped) Nil else Seq("hotkey_guard_false_positive_capped"))
    // the per-entity-history tier the contract tames: the symmetric
    // stream join AND the window-form attribution family, whose
    // user-partitioned range frames scan rows×frame-size per entity —
    // semantically quadratic under key concentration even with zero
    // spill and no pair materialization (leg-1 full sweep on the raw
    // 20%-hot corpus: q184 415 s, q303 375 s, q314 478 s)
    // derived, not hand-maintained: every ingest-contract family member
    // runs its rate-capped path here (a new member — q130 in r13 —
    // must not silently skip the leg), plus the q98 spec form whose
    // contract-clean input is the leg's founding finding
    val onCapped =
      (ScaleRouting.ingestContract + "q98_stream_stream_join").toSeq.sorted
    val cappedFailed = onCapped.flatMap { name =>
      // through timedQuery: the capped leg inherits the per-query wall
      // timeout + job-group cancellation — if the cap ever fails to tame
      // the input (schema drift, cap regression) the run records a
      // timeout row instead of hanging indefinitely. A timeout here IS a
      // failure: the whole point of the leg is that capped input is fast.
      val j = timedQuery(name, capDir)
      println(f"""[soak] {"q":"${name}_on_rate_capped_ingest","sec":${j.sec}%.2f,"rows":${j.rows},"ok":${j.ok},"timed_out":${j.timedOut}}""")
      spark.catalog.clearCache()
      if (!j.ok) Seq(s"${name}_on_rate_capped_ingest") else Nil
    }
    (guardFailed, cappedFailed, streamCapFailed)
    }

    // a documented spec form (ScaleRouting) hitting the wall timeout is
    // the EXPECTED outcome of sweeping it at 10x skew — recorded in its
    // row, reported separately, and not a run failure. The exemption is
    // scoped to the SWEEP-ALL path only: q98/q122 sit in the standard
    // SoakQueries list precisely because they must COMPLETE there
    // (388/393 s measured, near the 600 s default) — an exemption in
    // that mode would silently convert a modest regression into an
    // "expected" timeout. Anything else not-ok (exception, or a timeout
    // on a non-spec query) fails the run.
    val exemptTimeout = (r: (String, Double, Boolean, Boolean)) =>
      r._4 && sweepAll && (ScaleRouting.siblings.contains(r._1) ||
        ScaleRouting.specAudits.contains(r._1))
    val expectedTimeouts = results.filter(exemptTimeout).map(_._1)
    val failed = results
      .filterNot(_._3)
      .filterNot(exemptTimeout)
      .map(_._1) ++ cappedFailed ++ guardFailed ++ streamCapFailed
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val specToJson = expectedTimeouts.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(f"""[soak] {"q":"TOTAL","sec":$total%.2f,"n":${results.size},"failed":$failedJson,"spec_form_timeouts":$specToJson}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
