package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over the event stream: cohort retention and
  * ordered-step funnels. Extends the reference's user-grain marts (RFM
  * `scripts/cdc_metrics_job_gold.py:108-126`, churn `:147-183`) with the
  * two standard event-sequence marts they stop short of.
  *
  * Scale shape: both operators reduce the event log to per-user
  * aggregates first (map-side-combinable hash aggregates keyed on
  * user_id), then join user-grain frames — never event×event. The
  * retention matrix is (cohorts × offsets), mart-sized; the funnel is one
  * row per entered user.
  */
object Behavior {

  /** Weekly cohort retention: users bucketed by first-activity week
    * (Monday-start), counted once per (cohort, week-offset) they were
    * active in.
    *
    * Two shuffles at event grain ((user, week) distinct + cohort min —
    * AQE-coalesced), then user-grain join and mart-grain count. */
  def retentionWeekly(events: DataFrame): DataFrame = {
    val weeks = events
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val cohorts = weeks.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    weeks.join(cohorts, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Ordered three-step funnel (strictly increasing timestamps):
    * first `step1` → first `step2` after it → first `step3` after that.
    * One row per user who entered the funnel, with per-stage timestamps
    * (NULL once the user drops out) and the stage count reached.
    *
    * Each stage is filter → per-user min-timestamp hash aggregate →
    * user-grain left join: linear scans, no window sorts, no
    * event-grain joins. */
  def funnel(
      events: DataFrame,
      step1: String = "signup", step2: String = "view", step3: String = "purchase")
      : DataFrame = {
    val s1 = events.filter(col("event_type") === step1)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = events.filter(col("event_type") === step2)
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = events.filter(col("event_type") === step3)
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"),
        col("t1").as(s"${step1}_ts"),
        col("t2").as(s"${step2}_ts"),
        col("t3").as(s"${step3}_ts"),
        when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2)
          .otherwise(1).as("stage_reached"))
  }

  /** Entropy rate of the event-type Markov chain — the ONE-NUMBER
    * predictability readout over [[transitions]]' matrix and the
    * honest ceiling for [[markovPredictorAccuracy]]: conditional
    * entropy H(next|current) = −Σᵢⱼ nᵢⱼ·ln(nᵢⱼ∕nᵢ)∕N in nats, next to
    * the first-order baseline H(next) = −Σⱼ nⱼ·ln(nⱼ∕N)∕N over the
    * NEXT-event marginal (column sums nⱼ — the from-state row sums
    * would make the gap H(current)−H(next|current), which is not an MI
    * and can go negative); their gap (the information gain of
    * conditioning) is exactly the mutual information I(current; next)
    * — ≈ 0 says the next event type is unpredictable from the current
    * one and no sequence model will beat the marginal.
    *
    * Exactness: transition counts exact; each ln ratio quantizes 1e-9
    * and multiplies the exact count in decimal(38,0) (order-free
    * integer sums — the entropy-tier idiom); H's are half-up micro
    * ratios; the gain subtracts the two already-quantized values.
    *
    * Scale shape: the [[transitions]] contract (ONE user-partitioned
    * lead window), then state-grain aggregates and scalar broadcasts —
    * the cell table is #types² rows regardless of volume. */
  def markovEntropyRate(events: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cells = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("f"), col("next_type").as("t"))
      .agg(count(lit(1)).as("nij"))
      // the row-sum aggregate and the conditional-term join both read it
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = cells.groupBy(col("f")).agg(sum(col("nij")).as("ni"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(cells, rows)
    val tot = rows.agg(sum(col("ni")).as("nn"),
      count(lit(1)).as("n_states"))
    val hCond = cells.join(broadcast(rows), Seq("f"))
      .select((col("nij").cast(dec)
        * round(log(col("nij").cast("double") / col("ni")) * 1e9)
          .cast("long")).as("term"))
      .agg(sum(col("term")).as("sc"))
    // the baseline marginal is over the NEXT event (column sums) — the
    // H(next) that makes hu - hc the mutual information
    val cols = cells.groupBy(col("t")).agg(sum(col("nij")).as("nj"))
    val hUni = cols.crossJoin(broadcast(tot))
      .select((col("nj").cast(dec)
        * round(log(col("nj").cast("double") / col("nn")) * 1e9)
          .cast("long")).as("term"))
      .agg(sum(col("term")).as("su"))
    tot.crossJoin(broadcast(hCond)).crossJoin(broadcast(hUni))
      .withColumn("hu", expr(s"""(((-su) * 1000000 * 2)
          + cast(nn as $dec) * 1000000000)
        div (cast(nn as $dec) * 1000000000 * 2)""").cast("long"))
      .withColumn("hc", expr(s"""(((-sc) * 1000000 * 2)
          + cast(nn as $dec) * 1000000000)
        div (cast(nn as $dec) * 1000000000 * 2)""").cast("long"))
      .select(col("nn").as("n_transitions"), col("n_states"),
        (col("hu") / 1e6).as("h_unigram"), (col("hc") / 1e6).as("h_rate"),
        ((col("hu") - col("hc")) / 1e6).as("info_gain"))
  }

  /** First-order event-type transition matrix: per (from, to) pair of
    * consecutive events of one user, the transition count and its
    * probability among all transitions leaving `from` — sequence mining
    * over the event log (the Markov layer under next-event prediction
    * and funnel discovery). Consecutive = by (ts, event_id) — the id
    * tie-break makes simultaneous events a total order, so the chain is
    * deterministic.
    *
    * One window sort per user (the unavoidable sequence shuffle), then
    * mart-sized aggregates; probability = count over a window sum, no
    * second pass. */
  def transitions(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val counts = steps.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val wFrom = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
    counts.withColumn("p_transition",
      round(col("n_transitions") / sum(col("n_transitions")).over(wFrom), 6))
  }

  /** Ordered event-type path per session (the first `k` steps, joined
    * with '>') — the sequence feature a funnel/intent model consumes.
    * Ordering inside `collect_list` is partition-dependent, so the
    * aggregate collects (ts, event_id, type) STRUCTS and sorts them
    * after the fact — `sort_array` on structs orders by field position,
    * and (ts, event_id) is a total order, making the path deterministic
    * on any layout.
    *
    * One `session_window` aggregate (same shuffle as sessionization);
    * per-group state is the session's events — bounded by the session
    * gap, the same envelope any session aggregate carries. */
  def sessionPaths(
      events: DataFrame, gapMinutes: Int = 30, k: Int = 5): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("event_type")))).as("__evs"))
      .select(
        col("user_id"),
        col("sw.start").as("session_start"),
        concat_ws(">",
          transform(slice(col("__evs"), 1, k), e => e.getField("event_type")))
          .as("path"),
        col("n_events"))

  /** First/last-touch attribution: for every purchase, the earliest and
    * latest NON-purchase event of the same user inside a trailing
    * lookback window — the credit-assignment mart of campaign analytics
    * (first touch = acquisition channel, last touch = conversion
    * trigger).
    *
    * Shape: one window over the unioned event stream, NOT a
    * purchase×touch range join — the range frame (in epoch micros)
    * slides over each user's timeline once, so cost is one shuffle on
    * user_id regardless of touch density; the oracle cross-checks with
    * the naive BETWEEN join. Determinism: candidate touches reduce via
    * min/max over a (ts, event_id, type) struct — total order, no
    * first()/last() physical-row dependence; a purchase with no touch
    * in window keeps NULL attribution (it is still a conversion).
    *
    * Hot-key contract ([[graft.ScaleRouting.ingestContract]]): the
    * same user-partitioned range frame as its three guarded siblings
    * (linear/timeDecay/shapley) — rows×frame-size per entity, so a
    * 20%-hot user grinds identically; rate-cap at ingest
    * ([[graft.ext.Curation.eventRateCap]], q340). */
  def attribution(events: DataFrame, lookbackDays: Int = 7): DataFrame = {
    graft.ScaleRouting.adviseIngestContract("q130_attribution")
    graft.ScaleRouting.guardHotKeys(events, "user_id", "q130_attribution")
    val lookbackMicros = lookbackDays * 86400L * 1000000L
    val base = events.select(
      col("user_id"), col("event_id"), col("event_type"), col("ts"),
      unix_micros(col("ts")).as("tsu"))
    val tagged = base.withColumn("touch",
      when(col("event_type") =!= "purchase",
        struct(col("tsu").as("t"), col("event_id").as("id"),
          col("event_type").as("ty"))))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      // upper bound -1, not 0: a touch at the purchase's exact
      // microsecond cannot causally precede it — STRICT tt < tp, the
      // same boundary as the join-form siblings (timeDecay/position/
      // capped), so the attribution family reconciles cross-model
      .rangeBetween(-lookbackMicros, -1)
    tagged
      .withColumn("first_touch", min(col("touch")).over(w))
      .withColumn("last_touch", max(col("touch")).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"),
        col("first_touch.id").as("first_touch_id"),
        col("first_touch.ty").as("first_touch_type"),
        col("last_touch.id").as("last_touch_id"),
        col("last_touch.ty").as("last_touch_type"))
  }

  /** Per-user sequence log-likelihood under the corpus's own
    * first-order Markov model ([[transitions]]) — users whose event
    * order is improbable under the global transition matrix surface
    * with a high average negative log-likelihood: the behavioral-
    * anomaly / bot-detection score a sequence model starts from.
    *
    * Exactness: transition probabilities are ratios of exact counts;
    * each DISTINCT transition's log gets quantized ONCE to integer
    * 1e-9 units (ln of identical doubles agrees across engines — the
    * q76 LM-score precedent), so per-user totals are order-free
    * integer sums; the final average is one fixed IEEE chain.
    *
    * Shape: one window sort per user (the unavoidable sequence
    * shuffle, shared with [[transitions]]), a mart-sized (|types|²)
    * broadcast of the log-prob matrix, and a per-user hash aggregate.
    * The step frame is persisted: it feeds both the matrix and the
    * per-user join, and Catalyst does not share subplans. */
  def sequenceLikelihood(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("user_id"), col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(steps)
    val m = steps.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_ft"))
    val tot = m.groupBy(col("from_type")).agg(sum(col("n_ft")).as("n_f"))
    val lp = m.join(broadcast(tot), Seq("from_type"))
      .withColumn("lp_units",
        round(log(col("n_ft").cast("double") / col("n_f").cast("double"))
          * 1e9).cast("long"))
      .select(col("from_type"), col("to_type"), col("lp_units"))
    steps.join(broadcast(lp), Seq("from_type", "to_type"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("lp_units")).as("loglik_units"))
      .select(
        col("user_id"), col("n_transitions"), col("loglik_units"),
        ((col("loglik_units").cast("double") / lit(-1.0e9))
          / col("n_transitions").cast("double")).as("avg_nll"))
  }

  /** Time-to-convert quantiles per funnel transition: the exact
    * nearest-rank p25/p50/p75/p90 (plus pair count) of the latency, in
    * whole seconds, between consecutive completed [[funnel]] stages —
    * the "how long does conversion take" readout next to the funnel's
    * "how many convert".
    *
    * Exact discrete spec, no interpolation: quantile q is the value at
    * position ⌈q·n/100⌉ = (q·n + 99) div 100 of the sorted latencies —
    * pure integer arithmetic, so both engines pick the identical
    * element (ties in the latency value cannot diverge: the value at a
    * position is tie-order-independent).
    *
    * Scale shape: latencies reduce to a (transition, second) histogram
    * FIRST (hash aggregate, map-side combine); the cumulative count is
    * a window over DISTINCT seconds partitioned by transition — its
    * grain is bounded by the clock span of the funnel in seconds, not
    * by row count, so it does not grow with data volume; the
    * position→value probe joins the mart-sized quantile targets
    * against the histogram. No user-grain window anywhere. */
  def funnelLatencyQuantiles(
      events: DataFrame,
      step1: String = "signup", step2: String = "view", step3: String = "purchase",
      quantiles: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val f = funnel(events, step1, step2, step3)
    val lat = f.filter(col(s"${step2}_ts").isNotNull)
      .select(lit(s"$step1>$step2").as("transition"),
        (unix_timestamp(col(s"${step2}_ts"))
          - unix_timestamp(col(s"${step1}_ts"))).as("sec"))
      .unionByName(f.filter(col(s"${step3}_ts").isNotNull)
        .select(lit(s"$step2>$step3").as("transition"),
          (unix_timestamp(col(s"${step3}_ts"))
            - unix_timestamp(col(s"${step2}_ts"))).as("sec")))
    val hist = lat.groupBy(col("transition"), col("sec"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum", sum(col("c")).over(
      Window.partitionBy(col("transition")).orderBy(col("sec"))))
    val targets = hist.groupBy(col("transition"))
      .agg(sum(col("c")).as("n_pairs"))
      .crossJoin(quantiles.toDF("quantile"))
      .withColumn("tgt", expr("(quantile * n_pairs + 99) div 100"))
    cum.join(broadcast(targets), Seq("transition"))
      .filter(col("cum") >= col("tgt"))
      .groupBy(col("transition"), col("quantile").cast("long").as("quantile"),
        col("n_pairs"))
      .agg(min(col("sec")).as("latency_sec"))
      .select(col("transition"), col("quantile"), col("n_pairs"),
        col("latency_sec"))
  }

  /** Event-time debounce (rolling throttle): per (user, event_type),
    * keep the first event, then suppress every event closer than
    * `deltaSeconds` to the LAST KEPT one — the retry/burst collapse an
    * ingest pipeline applies before counting. Unlike a tumbling bucket
    * (floor(ts/Δ)), the window restarts at each kept event, so the
    * contract is inherently sequential: whether an event survives
    * depends on which earlier events survived.
    *
    * That sequential dependency is exactly what windows/aggregates
    * cannot express, so this is the secondary-sort pattern done the
    * scale-right way: hash-repartition on the key, sort WITHIN each
    * partition by (key, ts, id) — a partition-local spillable sort, no
    * global exchange — then one streaming `mapPartitions` pass that
    * never materializes a group. State is two longs per open key; ties
    * break on event_id so the kept set is deterministic. The DuckDB
    * oracle recomputes the same recurrence as a recursive CTE. */
  def debounce(events: DataFrame, deltaSeconds: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val deltaMicros = deltaSeconds * 1000000L
    val sorted = events
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type").cast("string").as("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("tsu"),
        col("event_id").cast("long").as("event_id"))
      .repartition(col("user_id"), col("event_type"))
      .sortWithinPartitions(col("user_id"), col("event_type"),
        col("tsu"), col("event_id"))
      .as[(Long, String, Long, Long)]
    sorted.mapPartitions { it =>
      var curUser = Long.MinValue
      var curType: String = null
      var lastKept = Long.MinValue
      it.flatMap { case row @ (u, t, tsu, _) =>
        val newKey = u != curUser || t != curType
        if (newKey || tsu >= lastKept + deltaMicros) {
          curUser = u; curType = t; lastKept = tsu
          Some(row)
        } else None
      }
    }.toDF("user_id", "event_type", "tsu", "event_id")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("tsu")).as("ts"), col("event_id"))
  }

  /** Sequential-pattern support at the type-pair grain: for every
    * ordered pair (a, b) of event types, how many users did a THEN
    * later b — first-occurrence-of-a before last-occurrence-of-b, the
    * "ever followed by" reading — with the conditional share among
    * users who did both, and overall support. [[transitions]] counts
    * ADJACENT steps; this is the unordered-distance sibling a
    * journey-mining pass starts from (PrefixSpan's length-2 seed
    * patterns).
    *
    * Exactness: pure integer min/max-of-micros comparisons and counts;
    * the two shares are single divisions.
    *
    * Shape: the event log reduces to (user, type) first/last rows
    * FIRST (hash aggregate), then a user-grain self-join fans out by
    * |types|² — a small constant per user, never events². The user
    * total rides in as a broadcast scalar. */
  def sequenceSupport(events: DataFrame): DataFrame = {
    val ut = events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("tsu")).as("first_ts"), max(col("tsu")).as("last_ts"))
    val totals = events.agg(countDistinct(col("user_id")).as("n_users"))
    ut.select(col("user_id"), col("event_type").as("type_a"), col("first_ts"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b"),
        col("last_ts")), Seq("user_id"))
      .filter(col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        count(lit(1)).as("n_users_both"),
        sum(when(col("first_ts") < col("last_ts"), 1L).otherwise(0L))
          .as("n_users_seq"))
      .crossJoin(broadcast(totals))
      .select(
        col("type_a"), col("type_b"), col("n_users_both"),
        col("n_users_seq"),
        round(col("n_users_seq").cast("double") / col("n_users_both"), 6)
          .as("seq_given_both"),
        round(col("n_users_seq").cast("double") / col("n_users"), 6)
          .as("support"))
  }

  /** Session-depth engagement histogram: gap-based sessionization
    * (a session breaks after `gapMinutes` of silence — the
    * [[graft.streaming.StatefulSessionizer]] batch rule), rolled up by
    * session DEPTH (events per session, capped at `depthCap`): session
    * count, share, and mean duration per depth. Depth 1 is the bounce
    * row — the engagement readout product analytics starts from.
    *
    * Exactness: session boundaries are integer micros comparisons;
    * durations are exact `max−min` micro longs summed order-free; share
    * and mean duration are single IEEE division chains, 6dp.
    *
    * Shape: ONE user-partitioned window sort (lag + running
    * boundary-count on the same sort — the unavoidable sessionization
    * shuffle), then hash aggregates at session and depth grain; the
    * grand total rides back as a broadcast scalar. */
  /** Shared gap-sessionized frame: one row per (user, session) with
    * event count, duration, and purchase count — the single window sort
    * both session marts ([[sessionStats]], [[sessionConversion]]) read. */
  private def sessionFrame(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val run = byTs.rowsBetween(Window.unboundedPreceding, 0)
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("prev", lag(col("tsu"), 1).over(byTs))
      // gap >= breaks the session — the SAME boundary rule as the
      // streaming StatefulSessionizer (us - last >= gapUs) and Spark's
      // half-open session_window [start, last+gap), so the batch marts
      // and sessionPaths agree at exact-gap instants
      .withColumn("is_new",
        when(col("prev").isNull || col("tsu") - col("prev") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("is_new")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("tsu")) - min(col("tsu"))).as("dur_us"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
  }

  def sessionStats(
      events: DataFrame, gapMinutes: Int = 30,
      depthCap: Int = 10): DataFrame = {
    val sessions = sessionFrame(events, gapMinutes)
    val total = sessions.agg(count(lit(1)).as("n_total"))
    sessions
      .withColumn("depth", least(col("n_events"), lit(depthCap.toLong)))
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("dur_us")).as("sdur"))
      .crossJoin(broadcast(total))
      .select(
        col("depth"), col("n_sessions"),
        round(col("n_sessions").cast("double") / col("n_total"), 6)
          .as("share"),
        round(col("sdur") / 1e6 / col("n_sessions"), 6)
          .as("mean_duration_sec"))
  }

  /** Session conversion by depth: the share of sessions at each
    * engagement depth that contain a purchase — the funnel-economics
    * companion to [[sessionStats]] (does conversion actually rise with
    * depth, and where does it saturate). Same shared session frame, a
    * different depth-grain rollup; exact counts, one division. */
  def sessionConversion(
      events: DataFrame, gapMinutes: Int = 30,
      depthCap: Int = 10): DataFrame =
    sessionFrame(events, gapMinutes)
      .withColumn("depth", least(col("n_events"), lit(depthCap.toLong)))
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_purchases") > 0, 1L).otherwise(0L))
          .as("n_converting"))
      .select(col("depth"), col("n_sessions"), col("n_converting"),
        round(col("n_converting").cast("double") / col("n_sessions"), 6)
          .as("conversion_rate"))

  /** First-order Markov next-event predictor with a held-out accuracy
    * readout: train the transition matrix on a deterministic 80% user
    * split ([[Sampling.hashBucket]] — reproducible on any engine and
    * layout), predict each test transition as the train-majority next
    * type, and report per-(prev, predicted) test counts and accuracy —
    * the honest baseline a sequence model must beat, evaluated without
    * leakage (split is by USER, so no test user's own history trains
    * the model).
    *
    * Determinism: the argmax is an order-free `min` over
    * (−count, next_type) structs — count DESC with type-ASC tie-break,
    * no window, no physical-row dependence (the q174 naive-Bayes
    * pattern). Accuracy is one division of exact longs.
    *
    * Shape: ONE user-partitioned window sort produces the step frame
    * (persisted — it feeds both the model and the scoring pass, and
    * Catalyst does not share subplans); the model is |types|² — always
    * broadcast; scoring is a hash aggregate at (prev, predicted) grain.
    * Test transitions whose prev type never occurs in training drop out
    * (inner join) — with a bounded type vocabulary that set is empty. */
  def markovPredictorAccuracy(
      events: DataFrame, trainPct: Int = 80,
      salt: String = "split"): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next", lead(col("event_type"), 1).over(w))
      .filter(col("next").isNotNull)
      .withColumn("is_train",
        Sampling.hashBucket(col("user_id"), salt) < trainPct)
      .select(col("event_type"), col("next"), col("is_train"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(steps)
    val model = steps.filter(col("is_train"))
      .groupBy(col("event_type"), col("next"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(min(struct((-col("c")).as("nc"), col("next")))
        .getField("next").as("predicted"))
    steps.filter(!col("is_train"))
      .join(broadcast(model), Seq("event_type"))
      .groupBy(col("event_type"), col("predicted"))
      .agg(
        count(lit(1)).as("n_test"),
        sum(when(col("next") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("event_type").as("prev_type"), col("predicted"),
        col("n_test"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_test"), 6)
          .as("accuracy"))
  }

  /** Linear (equal-credit) multi-touch attribution: each purchase's
    * value splits evenly across the user's touch events inside the
    * trailing lookback window, aggregated per touch TYPE — the model
    * between [[attribution]]'s first/last-touch extremes. Purchases
    * with no in-window touch credit a synthetic `direct` channel, so
    * total credited revenue reconciles against total purchase value.
    *
    * Exactness: the per-(purchase, type) credit is pure integer
    * arithmetic — `(cents·1000·k) div n` in 1e-7-dollar units (floor
    * division; purchase values are non-negative) — so the per-type sums
    * are order-free longs on both engines; each purchase's sub-unit
    * floor remainder (< n·0.1 milli-cents) is deliberately dropped, not
    * redistributed. Window-frame counting, not a purchase×touch range
    * join: ONE user-partitioned range frame (epoch micros) carries a
    * conditional count per touch type — all types ride the same sort,
    * cost is one shuffle on user_id regardless of touch density
    * (the [[attribution]] scale argument, extended to counts).
    *
    * Hot-key contract ([[graft.ScaleRouting.ingestContract]]): a range
    * frame still SCANS rows×frame-size per entity, so a 20%-hot user
    * is semantically quadratic with zero spill (414 s at the 10× soak;
    * 2.1 s on the same corpus rate-capped at ingest by
    * [[graft.ext.Curation.eventRateCap]] — q340). */
  def linearAttribution(
      events: DataFrame, touchTypes: Seq[String],
      lookbackDays: Int = 7): DataFrame = {
    graft.ScaleRouting.adviseIngestContract("q184_linear_attribution")
    graft.ScaleRouting.guardHotKeys(events, "user_id",
      "q184_linear_attribution")
    val lookbackMicros = lookbackDays * 86400L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      // upper bound -1, not 0: a touch at the purchase's exact
      // microsecond cannot causally precede it — STRICT tt < tp, the
      // same boundary as the join-form siblings (timeDecay/position/
      // capped), so the attribution family reconciles cross-model
      .rangeBetween(-lookbackMicros, -1)
    val base = events.select(
      col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("tsu"))
    // all per-type counts in ONE select → a single Window node (chained
    // withColumn stacks one Window operator per type over the same sort)
    val counted = base.select(
      base.columns.map(col) ++ touchTypes.zipWithIndex.map { case (t, i) =>
        // coalesce: with the strict [-lookback, -1) frame a purchase
        // with no prior events has an EMPTY frame, and sum over an
        // empty frame is NULL, not 0 — uncoalesced, such purchases
        // would silently vanish from the direct arm
        coalesce(
          sum(when(col("event_type") === t, 1L).otherwise(0L)).over(w),
          lit(0L)).as(s"k_$i")
      }: _*)
    val purchases = counted
      .filter(col("event_type") === "purchase")
      .withColumn("cents", round(col("value") * 10000).cast("long"))
      .withColumn("n", touchTypes.indices.map(i => col(s"k_$i"))
        .reduce((a, b) => a + b))
    // one explode over per-arm structs, NOT a union of filtered copies —
    // a union would duplicate the windowed subtree once per touch type
    val armStructs = touchTypes.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("ty"), col(s"k_$i").as("k"), col("n").as("nn"))
    } :+ struct(lit("direct").as("ty"), lit(1L).as("k"), lit(1L).as("nn"))
    purchases
      .select(col("cents"), col("n"), explode(array(armStructs: _*)).as("a"))
      .filter(when(col("a.ty") === "direct", col("n") === 0)
        .otherwise(col("a.k") > 0))
      // decimal(38,0) envelope: cents·1000·k overflows int64 for a
      // single purchase ≥ ~$922k — same treatment as pricingSummary
      .withColumn("units",
        expr("(CAST(cents AS DECIMAL(38,0)) * 1000 * a.k) div a.nn"))
      .groupBy(col("a.ty"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(col("units").cast("decimal(38,0)")).as("su"))
      .select(col("ty").as("touch_type"), col("n_purchases"),
        round(col("su") / 1e7, 6).as("attributed_revenue"))
  }

  /** Inter-arrival burstiness per user (Goh & Barabási, EPL '08): the
    * coefficient of variation of the gaps between a user's consecutive
    * events, and B = (cv−1)/(cv+1) ∈ (−1, 1) — B ≈ −1 is a metronome
    * (bot-like regularity), B = 0 is Poisson, B → 1 is heavy-tailed
    * bursts. The behavioral-integrity screen next to
    * [[sequenceLikelihood]]: fake traffic is usually too REGULAR.
    *
    * Exactness: gaps are integer SECONDS (`unix_micros div 1e6` — both
    * engines floor the positive epoch), Σg and Σg² are order-free long
    * sums; mean/cv/B are one shared IEEE chain over the double-cast
    * sums (long→double is correctly rounded, identical both sides),
    * with the variance clamped at 0 so equal-gap users pin cv = 0, not
    * NaN. Users need ≥ 2 gaps and a positive gap sum (all-simultaneous
    * events have no rate to normalize by).
    *
    * Shape: one user-partitioned lag window at event grain (the
    * event-log sort a sessionizer already pays), then a user-grain
    * moment aggregate; seconds grain keeps Σg² inside int64 for
    * multi-year spans. */
  def interArrivalStats(events: DataFrame): DataFrame = {
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 1000000").as("sec"))
      .withColumn("g", col("sec") - lag(col("sec"), 1).over(byTs))
      .filter(col("g").isNotNull)
    gaps
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sg2"))
      .filter(col("n_gaps") >= 2 && col("sg") > 0)
      .withColumn("cv",
        sqrt(greatest(
          col("n_gaps") * col("sg2").cast("double")
            - col("sg").cast("double") * col("sg").cast("double"),
          lit(0.0))) / col("sg"))
      .select(
        col("user_id"), col("n_gaps"),
        round(col("sg").cast("double") / col("n_gaps"), 6).as("mean_gap_sec"),
        round(col("cv"), 6).as("cv"),
        round((col("cv") - lit(1.0)) / (col("cv") + lit(1.0)), 6)
          .as("burstiness"))
  }

  /** Lead–lag cross-correlation between two event types on an hourly
    * grid: corr(count(`leadType`) at hour t−lag, count(`lagType`) at
    * hour t) for lag 0..`maxLag` — "do views at hour t predict
    * purchases at t+lag". The demand-sensing readout next to
    * [[graft.ext.Timeseries.revenueAcf]]'s autocorrelation.
    *
    * Scale shape: events collapse to ONE market-level hourly pair
    * series first (hash aggregate with map-side combine), the spine
    * explode + lag windows run at time-axis grain (hours, not events).
    * Exactness: counts are exact longs; the correlation is assembled
    * from integer co-moment sums (n·Σxy − Σx·Σy form), one fixed
    * double formula at the end. */
  def eventXcorr(
      events: DataFrame, leadType: String, lagType: String,
      maxLag: Int = 6): DataFrame = {
    val hourly = events
      .filter(col("event_type").isin(leadType, lagType))
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(
        sum((col("event_type") === leadType).cast("long")).as("xc"),
        sum((col("event_type") === lagType).cast("long")).as("yc"))
    val span = events.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = span
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("h"))
      .join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("xc"), lit(0L)).as("x"),
        coalesce(col("yc"), lit(0L)).as("y"))
    // the lagged pairing is a time-shifted equi-join on the complete
    // spine (x at t meets y at t+lag), NOT an unpartitioned window —
    // same pair set (the spine has every hour), no single-partition sort
    val shifted = grid.select(
      explode(sequence(lit(0), lit(maxLag))).as("lag"),
      col("h"), col("x"))
      .select(col("lag"),
        expr("timestampadd(HOUR, CAST(lag AS INT), h)").as("h"), col("x").as("xl"))
    val stacked = grid.select(col("h"), col("y")).join(shifted, Seq("h"))
    stacked
      .groupBy(col("lag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("xl")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("xl") * col("y")).cast("double").as("sxy"),
        sum(col("xl") * col("xl")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("varx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vary", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("lag"),
        col("n").cast("long").as("n_pairs"),
        when(col("varx") > 0 && col("vary") > 0,
          round(col("num") / sqrt(col("varx") * col("vary")), 6))
          .as("xcorr"))
  }

  /** Time-decay attribution — the third standard model next to
    * [[attribution]]'s first/last touch and [[linearAttribution]]'s
    * equal split: each touch inside the lookback earns weight
    * 2^(−age_days), so yesterday's ad counts double tomorrow's. The
    * one-day half-life at integer DAY grain makes every weight the
    * exact INTEGER 2^(lookback − age) (a left shift — no pow, no
    * doubles anywhere in the credit math): per-purchase channel
    * credit is a half-up micro ratio of integer weight sums, exact
    * revenue credit an integer product, and the channel rollup an
    * order-free integer sum.
    *
    * Shape: purchases join their own user's prior touches inside the
    * lookback (fan-out bounded by touches-per-user-per-week — the
    * q233 band-join envelope), then two hash aggregates (purchase
    * grain → channel grain). Purchases with no touch credit the
    * `direct` channel in full; touched purchases split by the
    * truncating integer ratio (total credit ≤ 1 per purchase by at
    * most a few micro-units — the price of exact order-free sums).
    *
    * Hot-key contract ([[graft.ScaleRouting.ingestContract]]): the
    * touches-per-user-per-week envelope is exactly what a 20%-hot key
    * breaks (375 s at the 10× soak). The production path is q340
    * ingest rate-capping ([[graft.ext.Curation.eventRateCap]]), or the
    * q338-style per-purchase recency cap where every event must be
    * kept. */
  def timeDecayAttribution(
      events: DataFrame, touchTypes: Seq[String],
      lookbackDays: Int = 7): DataFrame = {
    graft.ScaleRouting.adviseIngestContract("q303_time_decay_attribution")
    graft.ScaleRouting.guardHotKeys(events, "user_id",
      "q303_time_decay_attribution")
    val lookbackMicros = lookbackDays * 86400L * 1000000L
    val dayMicros = 86400L * 1000000L
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("tp"),
        round(col("value") * 10000).cast("long").as("cents"))
    val t = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_type").as("ty"),
        unix_micros(col("ts")).as("tt"))
    val pairs = p.join(t, Seq("user_id"))
      .filter(col("tt") < col("tp") &&
        col("tp") - col("tt") <= lookbackMicros)
      .withColumn("age",
        expr(s"tp div $dayMicros - tt div $dayMicros"))
      // calendar-day age can reach lookbackDays when the micro window
      // straddles midnight; clamp so the shift stays non-negative
      .withColumn("w",
        expr(s"shiftleft(1L, $lookbackDays - " +
          s"least(greatest(age, 0L), ${lookbackDays}L))"))
    val perChan = pairs.groupBy(col("purchase_id"), col("cents"), col("ty"))
      .agg(sum(col("w")).as("wt"))
    val perPurchase = perChan.groupBy(col("purchase_id"))
      .agg(sum(col("wt")).as("wsum"))
    val credited = perChan.join(perPurchase, Seq("purchase_id"))
      .select(col("ty"), col("purchase_id"),
        expr("((wt * 1000000 * 2) + wsum) div (wsum * 2)").as("share_u"),
        // decimal(38,0) envelope: cents·1000·wt overflows int64 for a
        // single purchase ≥ ~$922k — same treatment as pricingSummary
        expr("(CAST(cents AS DECIMAL(38,0)) * 1000 * wt) div wsum")
          .as("rev_mu"))
    val direct = p.join(perPurchase, Seq("purchase_id"), "left_anti")
      .select(lit("direct").as("ty"), col("purchase_id"),
        lit(1000000L).as("share_u"),
        (col("cents") * 1000L).as("rev_mu"))
    credited.unionByName(direct)
      .groupBy(col("ty"))
      .agg(countDistinct(col("purchase_id")).as("n_purchases"),
        // channel rollups in decimal(38,0): int64 sums of micro-unit
        // credit overflow at the 100 TB envelope (HUGEINT in the mirror)
        sum(col("share_u").cast("decimal(38,0)")).as("su"),
        sum(col("rev_mu").cast("decimal(38,0)")).as("sr"))
      .select(col("ty").as("touch_type"), col("n_purchases"),
        round(col("su") / 1e6, 6).as("total_credit"),
        round(col("sr") / 1e7, 6).as("attributed_revenue"))
      .orderBy(col("touch_type"))
  }

  /** Position-based (U-shaped 40/20/40) attribution — completing the
    * four standard models ([[attribution]] first/last,
    * [[linearAttribution]], [[timeDecayAttribution]]): the first and
    * last touch each earn 40%, the middles split the remaining 20%
    * equally; two-touch paths split 50/50, single-touch paths take
    * 100%. All credit is exact integer micro-units (the 40/20/40
    * percents are integer micro constants; the middle split is the
    * half-up idiom), so channel rollups sum order-free.
    *
    * Shape: the [[timeDecayAttribution]] pair join (bounded by
    * touches-per-user-per-lookback), one purchase-grain aggregate
    * carrying n plus the first/last (tsu, id, ty) structs (min/max on
    * the struct — (tsu, id) is unique, so the order is total), one
    * (purchase, channel) aggregate, then the channel rollup.
    *
    * EXECUTABLE SPEC — at scale run [[positionAttributionCapped]]
    * (q338): the per-user pairing here is semantically unbounded under
    * key concentration (the 10× soak's 20%-hot user ground this form
    * for 15+ min where the capped sibling finished in 38 s; see
    * [[graft.ScaleRouting]]). This form stays as the exact
    * specification the sibling's oracle gate ranks against. */
  def positionAttribution(
      events: DataFrame, touchTypes: Seq[String],
      lookbackDays: Int = 7): DataFrame = {
    graft.ScaleRouting.advise(
      "q305_position_attribution", "q338_attribution_capped")
    val lookbackMicros = lookbackDays * 86400L * 1000000L
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("tp"),
        round(col("value") * 10000).cast("long").as("cents"))
    val t = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_type").as("ty"),
        col("event_id").as("tid"), unix_micros(col("ts")).as("tt"))
    val pairs = p.join(t, Seq("user_id"))
      .filter(col("tt") < col("tp") &&
        col("tp") - col("tt") <= lookbackMicros)
    positionCreditRollup(pairs, p)
  }

  /** The shared U-shape credit + channel rollup tail of the position
    * family — `pairs` carries one row per credited (purchase, touch)
    * with (purchase_id, cents, tid, ty, tt); `purchases` supplies the
    * direct arm. ONE body for [[positionAttribution]] and the capped
    * sibling, so the 40/20/40 formula (and its n==2 and rounding
    * subtleties) cannot silently drift between the spec form and the
    * scale form the law test compares. */
  private def positionCreditRollup(
      pairs: DataFrame, purchases: DataFrame): DataFrame = {
    val perP = pairs.groupBy(col("purchase_id"), col("cents"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("tt"), col("tid"), col("ty"))).as("ft"),
        max(struct(col("tt"), col("tid"), col("ty"))).as("lt"))
    val perChan = pairs.groupBy(col("purchase_id"), col("ty"))
      .agg(count(lit(1)).as("k"))
    val indF = (col("ft.ty") === col("ty")).cast("long")
    val indL = (col("lt.ty") === col("ty")).cast("long")
    val credited = perChan.join(perP, Seq("purchase_id"))
      .withColumn("share_u",
        when(col("n") === 1, indF * 1000000L)
          .when(col("n") === 2, (indF + indL) * 500000L)
          .otherwise(
            (indF + indL) * 400000L +
            (col("k") - indF - indL) *
              expr("((200000 * 2) + (n - 2)) div ((n - 2) * 2)")))
      .filter(col("share_u") > 0)
      .select(col("ty"), col("purchase_id"), col("share_u"),
        // decimal(38,0) envelope (see timeDecayAttribution's rev_mu)
        expr("(CAST(cents AS DECIMAL(38,0)) * 1000 * share_u) div 1000000")
          .as("rev_mu"))
    val direct = purchases.join(perP.select(col("purchase_id")),
        Seq("purchase_id"), "left_anti")
      .select(lit("direct").as("ty"), col("purchase_id"),
        lit(1000000L).as("share_u"),
        (col("cents") * 1000L).as("rev_mu"))
    credited.unionByName(direct)
      .groupBy(col("ty"))
      .agg(countDistinct(col("purchase_id")).as("n_purchases"),
        // channel rollups in decimal(38,0): int64 sums of micro-unit
        // credit overflow at the 100 TB envelope (HUGEINT in the mirror)
        sum(col("share_u").cast("decimal(38,0)")).as("su"),
        sum(col("rev_mu").cast("decimal(38,0)")).as("sr"))
      .select(col("ty").as("touch_type"), col("n_purchases"),
        round(col("su") / 1e6, 6).as("total_credit"),
        round(col("sr") / 1e7, 6).as("attributed_revenue"))
      .orderBy(col("touch_type"))
  }

  /** Hot-key-safe position attribution — the scale contract the 10×
    * soak made explicit: [[positionAttribution]]'s per-user pairing is
    * SEMANTICALLY unbounded under key concentration (a 20%-hot user
    * yields ~10⁹ credited pairs through one join partition). This
    * sibling bounds both the volume and the parallelism grain:
    *
    *  - the pair join is keyed on (user, purchase-DAY) with each touch
    *    exploded to the `lookbackDays`+1 day buckets it can serve — a
    *    LOSSLESS cover of `tt < tp ∧ tp − tt ≤ lookback` (day(tp) −
    *    day(tt) ∈ [0, lookbackDays] whenever the filter holds), so a
    *    hot entity's history splits across its active days instead of
    *    funneling one hash key;
    *  - each purchase credits only its `maxTouches` MOST-RECENT
    *    touches in the lookback (rank by tt desc, id asc — total
    *    order), the per-purchase cap every production attribution
    *    system runs with; the U-shape then applies within the kept
    *    window (its "first touch" is the oldest KEPT touch —
    *    documented semantics of capped attribution).
    *
    * With `maxTouches` ≥ every purchase's touch count this equals
    * [[positionAttribution]] exactly (law-tested): the bucket cover is
    * lossless and the kept set is the full set. The cap itself runs as
    * the bounded-heap [[graft.functions.TopKAggregate]] (score = event
    * time, id = touch id with the channel index ENCODED in, so no
    * rejoin) — map-side partial top-k collapses a hot entity's pair
    * flood to ≤ `maxTouches` rows per purchase BEFORE the exchange; a
    * row_number window would instead shuffle and sort every pre-cap
    * pair (measured: the soak's hot user alone emits ~10⁸ pre-cap
    * pairs; the heap form finished where the window form ground). */
  def positionAttributionCapped(
      events: DataFrame, touchTypes: Seq[String],
      lookbackDays: Int = 7, maxTouches: Int = 25): DataFrame =
    positionAttributionCappedImpl(
      events, touchTypes, lookbackDays, maxTouches, preCap = true)

  /** Internal: `preCap = false` disables the earlier-day pre-cap so
    * every pair reaches the TopKAggregate heap — the ground truth the
    * pre-cap's lossless-cover law is tested against (with duplicate
    * timestamps and a binding `maxTouches`, where a tie-break mismatch
    * between the day-rank order and the cap's total order would show). */
  private[graft] def positionAttributionCappedImpl(
      events: DataFrame, touchTypes: Seq[String],
      lookbackDays: Int, maxTouches: Int, preCap: Boolean): DataFrame = {
    val lookbackMicros = lookbackDays * 86400L * 1000000L
    val dayMicros = 86400L * 1000000L
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("tp"),
        round(col("value") * 10000).cast("long").as("cents"))
      .withColumn("pd", expr(s"tp div $dayMicros"))
    // LOSSLESS earlier-day pre-cap: a purchase's `maxTouches`
    // most-recent touches from a day STRICTLY BEFORE its own are
    // necessarily among that day's latest `maxTouches` (every touch of
    // an earlier day precedes the purchase, so anything displaced by N
    // same-day-later touches is displaced in the purchase's ranking
    // too). Same-day touches cannot be pre-capped — a mid-day purchase
    // may need touches the day's own tail displaces — so the day
    // bucket a touch LIVES in keeps all rows and only the
    // forward-serving buckets take the capped set. Cuts the pre-cap
    // pair volume ~6× on the soak corpus; the DuckDB oracle ranks over
    // ALL pairs, so the gate hash itself proves the cover lossless.
    // The day-rank order MUST be the restriction of the cap's global
    // total order (tt desc, tid ASC — TopKAggregate breaks score ties
    // by id asc): the subset argument above compares ranks under the
    // same order, so a different tie-break (tid desc) would let a
    // later purchase's top-N include a tie the pre-cap displaced.
    val wDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), expr(s"tt div $dayMicros"))
      .orderBy(col("tt").desc, col("tid").asc)
    val t0 = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_type").as("ty"),
        col("event_id").as("tid"), unix_micros(col("ts")).as("tt"))
    val allBuckets = sequence(expr(s"tt div $dayMicros"),
      expr(s"tt div $dayMicros") + lookbackDays)
    val t =
      if (preCap) t0
        .withColumn("dayRank", row_number().over(wDay))
        .withColumn("sd", explode(
          when(col("dayRank") <= maxTouches, allBuckets)
            .otherwise(array(expr(s"tt div $dayMicros")))))
        .drop("dayRank")
      else t0.withColumn("sd", explode(allBuckets))
    // channel index encoded into the heap id: tid is unique, so
    // (tt desc, encoded asc) == (tt desc, tid asc) — the cap's total
    // order — and the channel decodes back without a fact-scale rejoin
    val m = touchTypes.length
    val encIdx = touchTypes.zipWithIndex.tail.foldLeft(
      when(col("ty") === touchTypes.head, lit(0L))) {
      case (acc, (ty, i)) => acc.when(col("ty") === ty, lit(i.toLong))
    }
    val pairsAll = p.join(t,
        p("user_id") === t("user_id") && col("pd") === col("sd"))
      .filter(col("tt") < col("tp") &&
        col("tp") - col("tt") <= lookbackMicros)
      .select(col("purchase_id"), col("cents"),
        (col("tid") * m + encIdx).as("eid"), col("tt"))
    val pairs = pairsAll
      .groupBy(col("purchase_id"), col("cents"))
      .agg(graft.functions.TopKAggregate.top_k(
        col("tt").cast("double"), col("eid"), maxTouches).as("topk"))
      .select(col("purchase_id"), col("cents"),
        explode(col("topk")).as("kept"))
      .select(col("purchase_id"), col("cents"),
        expr(s"kept.id div $m").as("tid"),
        touchTypes.zipWithIndex.tail.foldLeft(
          when(expr(s"kept.id % $m") === 0L, lit(touchTypes.head))) {
          case (acc, (ty, i)) => acc.when(expr(s"kept.id % $m") === i.toLong, lit(ty))
        }.as("ty"),
        col("kept.score").cast("long").as("tt"))
    positionCreditRollup(pairs, p)
  }

  /** Exact-factorial Shapley coefficient s!·(n−1−s)! — the numerator of
    * the Shapley weight with n! factored out, so the whole credit
    * computation stays in integers until one final division. */
  private[graft] def shapleyCoef(s: Int, n: Int): Long = {
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    fact(s) * fact(n - 1 - s)
  }

  /** Shapley-value attribution — the game-theoretic member closing the
    * attribution family (first/last q130, linear q184, time-decay
    * q303, U-shaped q305): each channel's credit is its average
    * marginal revenue contribution over every ordering of the channel
    * coalition (Shapley '53; the "data-driven attribution" model).
    * Characteristic function: v(T) = revenue of purchases whose
    * in-window touch set is exactly T, and the coalition value
    * V(S) = Σ_{T ⊆ S} v(T) — the revenue reachable using only
    * channels in S. φ_c = Σ_{S ⊆ N∖{c}} |S|!(n−1−|S|)!∕n! ·
    * (V(S∪{c}) − V(S)). Purchases with no in-window touch are the
    * v(∅) baseline, reported as the `direct` row at full value, so
    * Σ channel credit + direct = total purchase revenue EXACTLY (the
    * family's conservation law, here by Shapley efficiency).
    *
    * Exactness: cents are integral 1e-4 units; V sums in
    * decimal(38,0) (the 100 TB envelope); Shapley weights ride as the
    * integer pair (s!·(n−1−s)!, n!) so credit is one half-up micro
    * ratio at the very end — no float until render.
    *
    * Scale shape: the ONE data-sized cost is the same single
    * user-partitioned range window the whole family pays, followed by
    * a ≤ 2ⁿ-row mask aggregate; the subset lattice (2ⁿ×2ⁿ cross join)
    * and the n·2ⁿ⁻¹ Shapley spine are driver-literal-sized (n ≤ 4 by
    * contract), so everything above the purchase aggregate is
    * constant.
    *
    * Hot-key contract ([[graft.ScaleRouting.ingestContract]]): the
    * shared range window scans rows×frame-size per entity — 478 s on
    * the 10× soak's 20%-hot user, tamed at ingest by the q340 rate cap
    * ([[graft.ext.Curation.eventRateCap]]). */
  def shapleyAttribution(
      events: DataFrame, touchTypes: Seq[String],
      lookbackDays: Int = 7): DataFrame = {
    graft.ScaleRouting.adviseIngestContract("q314_shapley_attribution")
    graft.ScaleRouting.guardHotKeys(events, "user_id",
      "q314_shapley_attribution")
    val n = touchTypes.size
    require(n >= 1 && n <= 4, "Shapley lattice is exact only for <= 4 channels")
    val nFact = (1 to n).foldLeft(1L)(_ * _)
    val lookbackMicros = lookbackDays * 86400L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      // upper bound -1, not 0: a touch at the purchase's exact
      // microsecond cannot causally precede it — STRICT tt < tp, the
      // same boundary as the join-form siblings (timeDecay/position/
      // capped), so the attribution family reconciles cross-model
      .rangeBetween(-lookbackMicros, -1)
    val base = events.select(
      col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("tsu"))
    // all per-type counts in ONE select → a single Window node (the
    // linearAttribution device)
    val counted = base.select(
      base.columns.map(col) ++ touchTypes.zipWithIndex.map { case (t, i) =>
        // coalesce: with the strict [-lookback, -1) frame a purchase
        // with no prior events has an EMPTY frame, and sum over an
        // empty frame is NULL, not 0 — uncoalesced, such purchases
        // would silently vanish from the direct arm
        coalesce(
          sum(when(col("event_type") === t, 1L).otherwise(0L)).over(w),
          lit(0L)).as(s"k_$i")
      }: _*)
    val dec = "decimal(38,0)"
    val perMask = counted
      .filter(col("event_type") === "purchase")
      .withColumn("cents", round(col("value") * 10000).cast("long"))
      .withColumn("mask", touchTypes.indices
        .map(i => when(col(s"k_$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _))
      .groupBy(col("mask"))
      .agg(count(lit(1)).as("np"), sum(col("cents").cast(dec)).as("rev"))
      // ≤ 2^n rows, but its input is the data-sized window pass — the
      // lattice, channel-count, and direct branches all reread it
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(perMask)
    val ss = events.sparkSession
    val masks = ss.range(1L << n).toDF("mask")
      .join(perMask, Seq("mask"), "left")
      .select(col("mask"), coalesce(col("np"), lit(0L)).as("np"),
        coalesce(col("rev"), lit(0L).cast(dec)).as("rev"))
    // V(S) = Σ_{T ⊆ S} v(T): 2^n × 2^n lattice, constant-sized
    val vtab = masks.select(col("mask").as("s_mask"))
      .crossJoin(masks.select(col("mask").as("t_mask"), col("rev")))
      .filter(col("t_mask").bitwiseAND(col("s_mask")) === col("t_mask"))
      .groupBy(col("s_mask"))
      .agg(sum(col("rev")).as("v"))
    import ss.implicits._
    val spine = (for {
      i <- touchTypes.indices
      s <- 0 until (1 << n) if (s & (1 << i)) == 0
    } yield (touchTypes(i), s.toLong, (s | (1 << i)).toLong,
        shapleyCoef(Integer.bitCount(s), n)))
      .toDF("touch_type", "s_mask", "sc_mask", "coef")
    val phi = spine
      .join(vtab.select(col("s_mask").as("sc_mask"), col("v").as("v_with")),
        Seq("sc_mask"))
      .join(vtab.select(col("s_mask"), col("v").as("v_without")),
        Seq("s_mask"))
      .groupBy(col("touch_type"))
      .agg(sum(col("coef") * (col("v_with") - col("v_without"))).as("su"))
    val chCounts = touchTypes.zipWithIndex
      .map { case (t, i) => (t, 1L << i) }
      .toDF("touch_type", "bit")
      .join(masks, col("mask").bitwiseAND(col("bit")) === col("bit"))
      .groupBy(col("touch_type")).agg(sum(col("np")).as("n_purchases"))
    val channels = phi.join(chCounts, Seq("touch_type"))
      .select(col("touch_type"), col("n_purchases"),
        (expr(s"((su * 100 * 2) + $nFact) div (${2L * nFact})")
          .cast("long") / 1e6).as("attributed_revenue"))
    val direct = masks.filter(col("mask") === 0L)
      .select(lit("direct").as("touch_type"), col("np").as("n_purchases"),
        (expr("((rev * 100 * 2) + 1) div 2").cast("long") / 1e6)
          .as("attributed_revenue"))
    channels.unionByName(direct).orderBy(col("touch_type"))
  }
}
