package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** Dataset profiling: one row of statistics per column — the
  * ANALYZE/data-quality layer a lakehouse runs after every load (the
  * reference eyeballs `print` checkpoints instead,
  * `scripts/cdc_metrics_job_silver.py:62,75,119`).
  *
  * One pass over the data: all per-column aggregates evaluate in a
  * single hash-aggregate projection (no per-column jobs, no driver
  * loop); the row→column pivot happens on the 1-row result. Exact
  * distincts expand the plan per column — at 100 TB flip `approxDistinct`
  * and the same shape sends fixed-size HLL buffers instead.
  *
  * Numeric min/max/sum are computed on integral 1e-4 units (exact,
  * order-independent — the cross-engine money rule); string min/max are
  * lexicographic.
  */
object Profiling {

  def summarize(
      df: DataFrame, cols: Seq[String], approxDistinct: Boolean = false): DataFrame = {
    val total = count(lit(1))
    def distinctOf(c: Column) =
      if (approxDistinct) approx_count_distinct(c) else countDistinct(c)
    val aggs = cols.flatMap { name =>
      val c = col(name)
      val isNum = df.schema(name).dataType.isInstanceOf[NumericType]
      val isStr = df.schema(name).dataType.isInstanceOf[StringType]
      Seq(
        count(c).as(s"${name}__nonnull"),
        distinctOf(c).as(s"${name}__distinct"),
        (if (isNum) min(graft.gold.Money.cents(c.cast("double"))) / 10000.0
         else lit(null).cast("double")).as(s"${name}__min_num"),
        (if (isNum) max(graft.gold.Money.cents(c.cast("double"))) / 10000.0
         else lit(null).cast("double")).as(s"${name}__max_num"),
        // sum as DECIMAL(38,0) 1e-4 units: double summation goes inexact
        // (order-dependent) past 2^53 and a LONG accumulator overflows
        // past 2^63 — id-scale columns at SF>=10 reach ~1e20 total units,
        // so only a decimal accumulator survives the 100 TB tier (the
        // DuckDB mirror sums into HUGEINT, exact the same way)
        (if (isNum)
           (sum(graft.gold.Money.cents(c.cast("double")).cast("decimal(38,0)"))
             / 10000.0).cast("double")
         else lit(null).cast("double")).as(s"${name}__sum_num"),
        (if (isStr) min(c) else lit(null).cast("string")).as(s"${name}__min_str"),
        (if (isStr) max(c) else lit(null).cast("string")).as(s"${name}__max_str"))
    } :+ total.as("__total")
    val one = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single stats row to one output row per column
    val perCol = cols.map { name =>
      struct(
        lit(name).as("column_name"),
        col("__total").as("n_rows"),
        (col("__total") - col(s"${name}__nonnull")).as("n_nulls"),
        col(s"${name}__distinct").as("n_distinct"),
        col(s"${name}__min_num").as("min_num"),
        col(s"${name}__max_num").as("max_num"),
        col(s"${name}__sum_num").as("sum_num"),
        col(s"${name}__min_str").as("min_str"),
        col(s"${name}__max_str").as("max_str"))
    }
    one.select(explode(array(perCol: _*)).as("s")).select(col("s.*"))
  }

  /** Equi-width histogram of a numeric column: `bins` buckets over the
    * observed [min, max], exact counts — the distribution-shape
    * companion to [[summarize]] (ANALYZE-style statistics for the query
    * planner and data-quality drift checks).
    *
    * Shape: one scalar min/max aggregate broadcast back (the anchor
    * pattern), then one hash aggregate on the bucket id — two scans, no
    * window. Bucket ids and edges use one fixed float formula evaluated
    * identically by the SQL oracle, so the result hash-gates despite
    * being pure double arithmetic. */
  def histogram(df: DataFrame, colName: String, bins: Int = 20): DataFrame = {
    require(bins >= 1, "bins must be positive")
    val c = col(colName).cast("double")
    val st = df.filter(c.isNotNull).agg(min(c).as("mn"), max(c).as("mx"))
    val bucket = when(col("mx") === col("mn"), lit(0L))
      .otherwise(least(lit(bins - 1L),
        floor((c - col("mn")) * bins / (col("mx") - col("mn"))).cast("long")))
    df.filter(c.isNotNull)
      .crossJoin(broadcast(st))
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("bucket"),
        (col("mn") + col("bucket") * ((col("mx") - col("mn")) / bins)).as("lo"),
        (col("mn") + (col("bucket") + 1) * ((col("mx") - col("mn")) / bins)).as("hi"),
        col("n"))
  }

  /** Exact per-group discrete quantiles: for each probability p, the
    * value at 1-indexed position max(1, ceil(p·n)) of the group's
    * ascending sort — percentile_disc semantics. Discrete quantiles
    * never interpolate, so there is no float formula for two engines
    * to disagree on, and value ties collapse to the same answer
    * whatever the sort's tie order. The length-distribution report a
    * corpus pipeline keeps per source/language.
    *
    * One shuffle on the group key + a per-group window sort; with
    * mart-sized groups that is the standard window envelope. For
    * millions of tiny groups the same positions could come from a
    * groupBy count + sort-merge re-join — identical result, no window
    * — if the sort ever dominates. */
  def groupQuantilesDisc(
      df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1), "ps must be in (0, 1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol).asc)
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val ranked = df.select(col(groupCol), col(valueCol))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(cw))
    val aggs = ps.map { p =>
      // EXACT decimal position arithmetic (the oracle's form): a double
      // multiply puts ceil on a float boundary — 0.07*100 is
      // 7.000000000000001 in IEEE, so ceil picks position 8 where
      // percentile_disc(0.07) is position 7
      val pos = greatest(lit(1L),
        ceil(lit(BigDecimal(p).underlying) * col("cnt")).cast("long"))
      max(when(col("rn") === pos, col(valueCol))).as(quantileLabel(p))
    } :+ max(col("cnt")).as("n_rows")
    ranked.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact WEIGHTED discrete quantiles per group — nearest-rank over
    * cumulative WEIGHT instead of row count ([[groupQuantilesDisc]]'s
    * weighted sibling): the quantile of unit price weighted by units
    * sold answers "what does the median SOLD ITEM cost", which the
    * row-grain quantile gets wrong whenever cheap items sell in bulk.
    *
    * Exactness: values and weights are integers; the cutoff is the q156
    * integer ceiling `(p·W + 99) div 100` and the answer is the minimum
    * value whose cumulative weight reaches it — no interpolation, no
    * float boundary.
    *
    * Shape: the fact reduces to a (group, value) weight histogram FIRST
    * (hash aggregate — distinct-value-sized downstream), one
    * group-partitioned cumsum window over the histogram, group totals
    * joined back at mart grain, conditional-min aggregates per
    * quantile. */
  def weightedQuantilesDisc(
      df: DataFrame, groupCol: String, valueUnits: Column, weight: Column,
      ps: Seq[Int] = Seq(50, 90)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 100),
      "ps must be integer percents in (0, 100]")
    val hist = df.groupBy(col(groupCol).as("grp"), valueUnits.as("v"))
      .agg(sum(weight).as("w"))
    // NO pinned repartition before the cumsum window, deliberately
    // (r16, guide §1): A/B'd and measured SLOWER (1.25 -> 1.94 s
    // paired, quiet box) — the rollingMarketCorr negative-result
    // rationale (cumsum per row is cheap; the pin's exchange is not)
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = hist.groupBy(col("grp")).agg(sum(col("w")).as("tw"))
    val c = hist
      .withColumn("cumw", sum(col("w")).over(cum))
      .join(tot, Seq("grp"))
    val aggs = ps.map { p =>
      min(when(col("cumw") >= expr(s"($p * tw + 99) div 100"), col("v")))
        .as(s"wp$p")
    } :+ max(col("tw")).as("total_weight")
    c.groupBy(col("grp").as(groupCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** "p50" / "p99" / "p99_9" — the SQL mirror uses the same labels. */
  def quantileLabel(p: Double): String =
    "p" + BigDecimal(p * 100).underlying.stripTrailingZeros.toPlainString
      .replace('.', '_')

  /** Exact-moment Pearson correlation per group. Spark's `corr` and
    * DuckDB's use different incremental update formulas, so their last
    * float bits disagree; here the five moments (Σx, Σy, Σxy, Σx², Σy²)
    * accumulate as EXACT integers (DECIMAL(38,0) — callers pass
    * integer-unit columns), the combined terms n·Σxy − ΣxΣy stay exact,
    * and only the final ratio runs in doubles — one fixed IEEE formula
    * from identical integers on both engines, 6-decimal-rounded. One
    * hash aggregate; moments combine map-side. */
  def groupCorr(
      df: DataFrame, groupCols: Seq[String],
      xCol: Column, yCol: Column): DataFrame = {
    val x = xCol.cast("decimal(38,0)")
    val y = yCol.cast("decimal(38,0)")
    val m = df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    m.select(groupCols.map(col) ++ Seq(
      col("n"),
      when(varX > 0 && varY > 0,
        round(num / (sqrt(varX) * sqrt(varY)), 6)).as("corr")): _*)
  }

  /** Spearman rank correlation per group: [[groupCorr]] on the tied
    * average ranks of the two variables — the monotone-association
    * reading that is robust to the heavy-tailed money/quantity
    * distributions Pearson over-weights.
    *
    * Exactness: a tied value at minimum rank r with tie-group size c
    * has average rank r + (c−1)/2; doubling keeps it integer
    * (2r + c − 1, the [[rankAuc]] device), a global factor that
    * cancels in the correlation, so the whole statistic reduces to
    * [[groupCorr]]'s exact-integer moment formula on the doubled
    * ranks. Envelope: doubled ranks ≤ 2n ride the DECIMAL(38,0)
    * moments, safe far past any per-group cardinality parquet holds.
    *
    * Shape: two rank windows + two tie-count windows partitioned by
    * group (the unavoidable per-group sorts of exact ranking), then
    * one hash aggregate. Callers pass integer-unit columns, per the
    * [[groupCorr]] contract. */
  def spearmanByGroup(
      df: DataFrame, groupCol: String, xCol: Column, yCol: Column)
      : DataFrame = {
    val base = df.select(col(groupCol), xCol.as("__x"), yCol.as("__y"))
    val wg = Window.partitionBy(col(groupCol))
    val ranked = base
      .withColumn("__rx2",
        rank().over(wg.orderBy(col("__x"))).cast("long") * 2
          + count(lit(1)).over(
            Window.partitionBy(col(groupCol), col("__x"))) - 1)
      .withColumn("__ry2",
        rank().over(wg.orderBy(col("__y"))).cast("long") * 2
          + count(lit(1)).over(
            Window.partitionBy(col(groupCol), col("__y"))) - 1)
    groupCorr(ranked, Seq(groupCol), col("__rx2"), col("__ry2"))
      .withColumnRenamed("corr", "rho")
  }

  /** Quantile normalization of a numeric column ACROSS groups: each
    * value is replaced by the pooled distribution's value at the same
    * within-group rank fraction — after which every group has an
    * identical value distribution. The cross-source alignment step of
    * feature preprocessing (microarray-style normalization): length/
    * score features from different crawls become comparable without a
    * parametric model.
    *
    * Exact discrete spec, no interpolation: within-group rank rn of cnt
    * maps to pooled position ⌈rn·N/cnt⌉ (integer arithmetic; rn·N stays
    * in int64 to ~10⁹ rows), and the pooled position resolves through
    * the VALUE-GRAIN cumulative histogram (value, cum_lo, cum_hi).
    *
    * Distributed-prefix-sum formulation — NO unpartitioned window and NO
    * value-grain broadcast anywhere in the plan (for money-like long
    * domains distinct-value cardinality approaches row cardinality, so
    * both would funnel the whole domain through one task / one driver):
    *   1. the cumulative histogram is a range-bucketed prefix sum: a
    *      monotone integer bucket id from a broadcast min/max anchor,
    *      per-bucket counts (≤ `buckets` rows), cumulative bucket
    *      OFFSETS from a constant-size broadcast self-join (the
    *      [[Skew]] offsets pattern), and a within-bucket running sum
    *      whose window is PARTITIONED by bucket;
    *   2. the position→value probe is a bucketed MERGE, not a broadcast
    *      range join: pooled positions [1..N] split into uniform
    *      position-buckets, each value's [cum_lo, cum_hi] interval is
    *      replicated into the position-buckets it overlaps (≤
    *      |values| + `buckets` rows total), and one window PARTITIONED
    *      by position-bucket carries the covering value forward onto
    *      the probe rows (boundaries sort before probes at equal
    *      position).
    * Row-grain work: the per-group rank windows plus ONE shuffle of
    * rows + distinct values on the position-bucket; probe rows are
    * uniform across position-buckets by construction (positions are
    * ranks). Every window in the plan is partitioned — ProfilingSpec
    * asserts it on the physical plan. Envelope: mx − mn and rn·N must
    * fit in int64 (length/score/money domains to ~10⁹ rows do); size
    * `buckets` ≈ desired parallelism. */
  def quantileNormalize(
      df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, buckets: Int = 256): DataFrame = {
    require(buckets >= 1, "buckets must be positive")
    val v = df.select(col(idCol).as("id"), col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    val ranked = v
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v"), col("id"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("g"))))
    // value-grain histogram, range-bucketed on a broadcast min/max anchor
    // (integer div keeps the bucket id exact and monotone in v)
    val dist = v.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val anchor = dist.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val bdist = dist.crossJoin(broadcast(anchor))
      .withColumn("b",
        expr(s"(v - mn) div greatest(1L, (mx - mn) div $buckets + 1)"))
    // per-bucket totals → cumulative offsets: ≤ `buckets` rows, so the
    // prefix sum is a constant-size broadcast self-join, never a window
    val btot = bdist.groupBy(col("b")).agg(sum(col("c")).as("bc"))
    val off = btot
      .join(broadcast(btot.select(col("b").as("pb"), col("bc").as("pbc"))),
        col("pb") < col("b"), "left")
      .groupBy(col("b"))
      .agg(coalesce(sum(col("pbc")), lit(0L)).as("off"))
    // within-bucket running sum (PARTITIONED window) + broadcast offset
    val cum = bdist
      .join(broadcast(off), Seq("b"))
      .withColumn("cum_hi", col("off") + sum(col("c")).over(
        Window.partitionBy(col("b")).orderBy(col("v"))))
      .withColumn("cum_lo", col("cum_hi") - col("c") + 1)
    // bucketed merge probe over uniform position-buckets of width pw
    val total = v.agg(count(lit(1)).as("n_total"))
      .select(col("n_total"),
        expr(s"greatest(1L, (n_total + $buckets - 1) div $buckets)").as("pw"))
    val idT = v.schema("id").dataType
    val gT = v.schema("g").dataType
    val bounds = cum.crossJoin(broadcast(total))
      .select(
        explode(sequence(
          expr("(cum_lo - 1) div pw"), expr("(cum_hi - 1) div pw"))).as("pbk"),
        col("cum_lo").as("pos"), lit(1).as("isb"),
        lit(null).cast(idT).as("id"), lit(null).cast(gT).as("g"),
        lit(null).cast("long").as("v"), col("v").as("norm_v"))
    val probes = ranked.crossJoin(broadcast(total))
      .withColumn("tgt", expr("(rn * n_total + cnt - 1) div cnt"))
      .select(expr("(tgt - 1) div pw").as("pbk"), col("tgt").as("pos"),
        lit(0).as("isb"), col("id"), col("g"), col("v"),
        lit(null).cast("long").as("norm_v"))
    val wm = Window.partitionBy(col("pbk"))
      .orderBy(col("pos").asc, col("isb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probes.unionByName(bounds)
      .withColumn("norm_v", last(col("norm_v"), ignoreNulls = true).over(wm))
      .filter(col("isb") === 0)
      .select(col("id"), col("g"), col("v"), col("norm_v"))
  }

  /** k-anonymity / l-diversity audit — the governance gate a training
    * corpus passes before release: every equivalence class of the
    * quasi-identifier columns must hold ≥ k records (k-anonymity: no
    * individual hides in a crowd smaller than k) and ≥ l distinct
    * sensitive values (l-diversity: a crowd that all shares the
    * sensitive value still leaks it).
    *
    * One hash aggregate to the quasi-identifier grain (count +
    * count-distinct), map-side combined; the report is class-sized, not
    * corpus-sized. Suppression/generalization decisions consume this
    * table — the audit itself never touches row payloads. */
  def anonymityReport(
      df: DataFrame, quasiCols: Seq[String], sensitive: Column,
      k: Int, l: Int): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(
        count(lit(1)).as("group_size"),
        countDistinct(sensitive).as("n_sensitive"))
      .select(quasiCols.map(col) ++ Seq(
        col("group_size"), col("n_sensitive"),
        (col("group_size") < k).as("k_violation"),
        (col("n_sensitive") < l).as("l_violation")): _*)

  /** Per-dimension moments (mean/std) of an embedding column — the
    * feature-scaling statistics a normalization layer or whitening
    * transform consumes. [[graft.ext.Similarity.labelCentroids]]'s
    * exactness discipline applied to second moments: each float32
    * component quantizes to integral 1e-6 units, Σx and Σx² accumulate
    * as order-independent longs (components are in [−1, 1]-ish embedding
    * range, so Σx² ≲ n·10¹² — exact to n ≈ 10⁶ rows per dimension;
    * beyond that, cast the squares to DECIMAL), and mean/std derive with
    * one fixed double formula rounded to 6dp.
    *
    * Shape: posexplode to (pos, x) grain + one hash aggregate —
    * dim·rows intermediate, partial-agg'd map-side, dim-sized output. */
  def featureMoments(vecs: DataFrame, vecCol: String): DataFrame =
    vecs
      .select(posexplode(col(vecCol).cast("array<double>")))
      .toDF("pos", "x")
      .withColumn("u", round(col("x") * 1000000).cast("long"))
      .groupBy(col("pos"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("u")).as("su"),
        sum(col("u") * col("u")).as("suu"))
      .select(
        col("pos"), col("n"),
        round(col("su").cast("double") / col("n") / 1000000.0, 6).as("mean"),
        round(
          sqrt(greatest(lit(0.0),
            (col("suu").cast("double")
              - col("su").cast("double") * col("su") / col("n")) / col("n")))
            / 1000000.0, 6).as("std"))

  /** Cohen's kappa between two categorical raters (columns) — the
    * chance-corrected agreement metric of labeling-pipeline QA: how
    * much does a model tagger agree with the upstream tag beyond what
    * their marginal label distributions force anyway? (Raw accuracy is
    * inflated whenever one class dominates; kappa subtracts that.)
    *
    *   kappa = (po − pe) / (1 − pe)
    *         = (n·n_agree − Σ_c rowsum_c·colsum_c) / (n² − Σ_c …)
    *
    * computed entirely from the confusion-matrix COUNTS: one hash
    * aggregate over the data to the (a, b) confusion grain
    * (categories², map-side combined), then all marginals and the
    * kappa formula derive from that tiny frame — integer-exact until
    * one final double division (beyond ~10⁹ rows move the n² products
    * to DECIMAL; the gated output is only the double). */
  def cohenKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val conf = df
      .select(aCol.cast("string").as("a"), bCol.cast("string").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(conf)
    val tot = conf.agg(
      sum(col("c")).as("n"),
      sum(when(col("a") === col("b"), col("c")).otherwise(0L)).as("n_agree"))
    val pe = conf.groupBy(col("a")).agg(sum(col("c")).as("ca"))
      .join(conf.groupBy(col("b")).agg(sum(col("c")).as("cb")),
        col("a") === col("b"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("pe_num"))
    tot.crossJoin(broadcast(pe))
      .select(
        col("n"), col("n_agree"),
        when(col("n") * col("n") - col("pe_num") > 0,
          round((col("n") * col("n_agree") - col("pe_num")).cast("double")
            / (col("n") * col("n") - col("pe_num")), 6)).as("kappa"))
  }

  /** Mutual information I(A;B) plus marginal entropies H(A), H(B)
    * between two categorical columns (natural log) — the information-
    * theoretic dependence measure of feature selection and redundancy
    * audits: how many nats does knowing the source tell you about the
    * language? Unlike [[cohenKappa]] (agreement between two raters over
    * the SAME label space) this needs no shared categories.
    *
    * Everything derives from the joint-count table: one hash aggregate
    * to (a, b) grain (categories², map-side combined), marginals and
    * the total reduce from it, and every term —
    *   I += (n_ab/n)·ln(n·n_ab / (n_a·n_b)),  H −= (n_a/n)·ln(n_a/n)
    * — is one fixed IEEE formula from exact longs, quantized to
    * integral 1e-9 nats per term and summed as order-free longs.
    * Pointwise MI terms can be NEGATIVE, so the emitted doubles are
    * single divisions of identical longs (no half-tie rounding surface
    * at all — the integer-div half-up trick is for nonnegative sums).
    * The n·n_ab and n_a·n_b products run in doubles INSIDE the log
    * (their ratio is what matters; long multiplication would overflow
    * past ~10⁹ rows). */
  def mutualInformation(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val joint = df.select(aCol.cast("string").as("a"), bCol.cast("string").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(joint)
    val ma = joint.groupBy(col("a")).agg(sum(col("nab")).as("na"))
    val mb = joint.groupBy(col("b")).agg(sum(col("nab")).as("nb"))
    val tot = joint.agg(sum(col("nab")).as("n"))
    val miU = joint
      .join(broadcast(ma), Seq("a")).join(broadcast(mb), Seq("b"))
      .crossJoin(broadcast(tot))
      .agg(sum(
        round((col("nab").cast("double") / col("n"))
          * log((col("n").cast("double") * col("nab"))
            / (col("na").cast("double") * col("nb"))) * lit(1e9))
          .cast("long")).as("mi_u"))
    def entropyU(m: DataFrame, cnt: String) = m.crossJoin(broadcast(tot))
      .agg(sum(
        round(-(col(cnt).cast("double") / col("n"))
          * log(col(cnt).cast("double") / col("n")) * lit(1e9))
          .cast("long")).as(s"${cnt}_u"))
    tot.crossJoin(broadcast(miU))
      .crossJoin(broadcast(entropyU(ma, "na")))
      .crossJoin(broadcast(entropyU(mb, "nb")))
      .select(col("n"),
        (col("mi_u").cast("double") / lit(1e9)).as("mi_nats"),
        (col("na_u").cast("double") / lit(1e9)).as("h_a"),
        (col("nb_u").cast("double") / lit(1e9)).as("h_b"))
  }

  /** Classifier/score calibration bins, per group: rank each group's
    * rows by score into `bins` equal-population bins and report each
    * bin's mean score next to its positive rate — the reliability-
    * diagram table that decides whether a quality/LM score can be
    * thresholded as a probability or needs recalibration first. Per-
    * group (not pooled) binning matches how thresholds get deployed
    * and keeps the ranking window PARTITIONED — no global sort.
    *
    * Exactness: bin assignment is pure integer arithmetic over a
    * deterministic rank (score ASC, id tie-break): `(rank−1)·bins div
    * n`. Mean scores accumulate as integral 1e-6 units of the (already
    * 6dp) score; rates are one double division each.
    *
    * Shape: one group-partitioned ranking window + one hash aggregate
    * at (group, bin) grain. The window is group-grain — the same
    * envelope as every per-source ranking here; at 100 TB with a
    * single giant group, swap the rank for approx-quantile bin edges
    * (the q52 tier) and keep the aggregate. */
  def calibrationBins(
      scored: DataFrame, groupCol: String, idCol: String, scoreCol: String,
      positive: Column, bins: Int): DataFrame = {
    require(bins > 0, "bins must be positive")
    val byScore = Window.partitionBy(col("grp"))
      .orderBy(col("score"), col("id"))
    scored.select(col(groupCol).as("grp"), col(idCol).as("id"),
        col(scoreCol).as("score"), positive.as("pos"))
      .withColumn("rnk", row_number().over(byScore))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
      .withColumn("bin", expr(s"((CAST(rnk AS BIGINT) - 1) * $bins) div n"))
      .groupBy(col("grp"), col("bin"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(round(col("score") * 1000000).cast("long")).as("su"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
      .select(
        col("grp").as(groupCol), col("bin"), col("n_rows"),
        ((col("su").cast("double") / 1000000.0)
          / col("n_rows").cast("double")).as("mean_score"),
        (col("np").cast("double") / col("n_rows").cast("double")).as("pos_rate"))
  }

  /** Upper-triangle covariance of an embedding column — the d·(d+1)/2
    * sufficient statistics of whitening / PCA preprocessing: 100 TB of
    * vectors reduce to one pair-sum per (i ≤ j) plus per-dimension
    * sums, all exact integers.
    *
    * Exactness: components quantize to integer `unitsPerValue` units
    * (declared fidelity — the covariance OF THE QUANTIZED values is
    * exact, the quantization error is the caller's stated tolerance);
    * pair products and their sums are int64, and the final covariance
    * is one fixed IEEE chain over exact longs, emitted UNROUNDED.
    * Envelope: n · (max|q|)² must fit in int64 — at the default 1e3
    * units and unit-norm-ish vectors that is ~9e12 rows; divide units
    * down for more rows.
    *
    * Shape: one nested-transform explode to (i, j, product) grain
    * (d(d+1)/2 terms per row, map-side combined to 2080 partials per
    * task at d = 64), one dim-grain aggregate for the means, and
    * mart-grain joins. No shuffle exceeds pair-grain cardinality. */
  def covariancePairs(
      df: DataFrame, idCol: String, embCol: String,
      dim: Int = 64, unitsPerValue: Int = 1000): DataFrame = {
    require(dim >= 1 && unitsPerValue >= 1, "bad covariance parameters")
    // spread: the dim²/2 pair explosion runs in the SCAN stage (before
    // the (i,j) shuffle's map-side partials), i.e. on the one-row-group
    // input's single task without it (cpu_share 1.3 measured)
    val q = graft.core.Scans.spread(df).select(col(idCol),
      transform(col(embCol), x =>
        round(x.cast("double") * unitsPerValue).cast("long")).as("qv"))
    val pairs = q.select(explode(flatten(
      transform(sequence(lit(0), lit(dim - 1)), i =>
        transform(sequence(i, lit(dim - 1)), j =>
          struct(i.as("i"), j.as("j"),
            (element_at(col("qv"), i + 1) * element_at(col("qv"), j + 1))
              .as("p")))))).as("u"))
      .select(col("u.i").cast("long").as("i"), col("u.j").cast("long").as("j"),
        col("u.p").as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).as("spp"))
    val dimSums = q.select(posexplode(col("qv")).as(Seq("pos", "qd")))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(sum(col("qd")).as("sd"))
    val n = q.agg(count(lit(1)).as("n_rows"))
    val u2 = unitsPerValue.toDouble * unitsPerValue.toDouble
    pairs
      .join(broadcast(dimSums.select(col("pos").as("i"), col("sd").as("si"))),
        Seq("i"))
      .join(broadcast(dimSums.select(col("pos").as("j"), col("sd").as("sj"))),
        Seq("j"))
      .crossJoin(broadcast(n))
      .select(
        col("i"), col("j"), col("n_rows"),
        ((col("spp").cast("double") / col("n_rows").cast("double")
          - (col("si").cast("double") / col("n_rows").cast("double"))
            * (col("sj").cast("double") / col("n_rows").cast("double")))
          / lit(u2)).as("cov"))
  }

  /** Best decision-stump split per group: over a label-vs-threshold
    * sweep of the (group, value) histogram, the threshold with the
    * highest Gini gain for predicting a boolean label — the
    * feature-evaluation primitive under tree learners and feature
    * ranking, at "which price point separates loyalty orders" shape.
    *
    * Thresholds are the distinct COARSENED integer values
    * (`value div grain` — the knob that bounds the candidate set: at
    * dollar grain a money domain has ~price-range candidates
    * regardless of row count). Counts are exact integers; each Gini
    * term is the same fixed IEEE chain on both engines, and the argmax
    * compares those identical doubles (ties → smaller threshold).
    * Splits are `value ≤ t` vs `> t`; the largest value's degenerate
    * all-left split is excluded.
    *
    * Shape: fact → (group, bucket) histogram (hash aggregate), one
    * cumulative window over distinct buckets partitioned by group,
    * mart-grain totals broadcast back, rank-1 filter per group. */
  def bestStumpSplit(
      df: DataFrame, groupCol: String, valueUnits: Column, label: Column,
      grain: Long = 10000L): DataFrame = {
    require(grain >= 1, "grain must be positive")
    val hist = df
      .select(col(groupCol).as("grp"), valueUnits.cast("long").as("__v"),
        when(label, 1L).otherwise(0L).as("pos"))
      .select(col("grp"), expr(s"__v div ${grain}L").as("t"), col("pos"))
      .groupBy(col("grp"), col("t"))
      .agg(count(lit(1)).as("m"), sum(col("pos")).as("mp"))
    val wc = Window.partitionBy(col("grp")).orderBy(col("t"))
    val cum = hist
      .withColumn("nl", sum(col("m")).over(wc))
      .withColumn("pl", sum(col("mp")).over(wc))
    val tot = hist.groupBy(col("grp"))
      .agg(sum(col("m")).as("n"), sum(col("mp")).as("p"))
    def gini(pp: Column, nn: Column): Column = {
      val fp = pp.cast("double") / nn.cast("double")
      val fn = (nn - pp).cast("double") / nn.cast("double")
      lit(1.0) - fp * fp - fn * fn
    }
    val scored = cum.join(broadcast(tot), Seq("grp"))
      .filter(col("nl") < col("n")) // drop the degenerate all-left split
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("pr", col("p") - col("pl"))
      .withColumn("gain",
        gini(col("p"), col("n"))
          - ((col("nl").cast("double") / col("n").cast("double"))
              * gini(col("pl"), col("nl"))
            + (col("nr").cast("double") / col("n").cast("double"))
              * gini(col("pr"), col("nr"))))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("gain").desc, col("t"))))
      .filter(col("rnk") === 1)
      .select(
        col("grp").as(groupCol), col("t").as("threshold_units"),
        col("gain"), col("n"), col("p").as("n_pos"),
        col("nl").as("n_left"), col("pl").as("pos_left"),
        col("nr").as("n_right"), col("pr").as("pos_right"))
  }

  /** Rank-based AUC (Mann–Whitney with average-rank tie handling) of a
    * score against a boolean label, per group — THE threshold-free
    * eval metric of a classifier/quality score, next to
    * [[calibrationBins]]'s reliability view.
    *
    * Exactness: with minimum tie-rank r and tie-group size c, a
    * positive contributes average rank r + (c−1)/2; doubling keeps
    * everything integer: Σ(2r + c − 1) over positives, so
    * AUC = (S₂ − P(P+1)) / (2·P·N_neg) is ONE division of exact
    * int64s (S₂ ≤ 2·n² per group — fine to ~2e9 rows per group).
    * Groups with no positives or no negatives emit NULL.
    *
    * Shape: one rank window + one tie-count window partitioned by
    * group (row grain — the unavoidable sort of exact ranking), then a
    * mart-grain aggregate. At 100 TB pre-aggregate equal scores per
    * group first if the score domain is discrete. */
  def rankAuc(
      df: DataFrame, groupCol: String, scoreCol: Column, label: Column)
      : DataFrame = {
    val base = df.select(col(groupCol).as("grp"), scoreCol.as("score"),
      when(label, 1L).otherwise(0L).as("pos"))
    val wg = Window.partitionBy(col("grp"))
    val ranked = base
      .withColumn("rmin", rank().over(wg.orderBy(col("score"))))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(col("grp"), col("score"))))
    ranked.groupBy(col("grp").as(groupCol))
      .agg(
        sum(col("pos")).as("n_pos"),
        (count(lit(1)) - sum(col("pos"))).as("n_neg"),
        sum(when(col("pos") === 1L,
          lit(2L) * col("rmin") + col("cnt") - 1L).otherwise(0L)).as("s2"))
      .select(
        col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("double"))
          .otherwise(
            (col("s2") - col("n_pos") * (col("n_pos") + 1L)).cast("double")
              / (lit(2.0) * col("n_pos").cast("double")
                * col("n_neg").cast("double"))).as("auc"))
  }

  /** Benford first-significant-digit audit of a money column: observed
    * share of each leading digit (of the exact integer cent value)
    * against Benford's law p(d) = log10(1 + 1/d) — the classic
    * fabricated-/truncated-data screen for financial facts (organic
    * multiplicative amounts follow Benford; capped, minimum-fee, or
    * synthetic amounts visibly do not).
    *
    * Exactness: digit extraction is string-of-integer on both engines
    * (no float log in the hot path); the Benford targets are the SAME
    * 17-significant-digit literals on both sides (decimal→double parse
    * is correctly rounded in both engines, whereas each engine's own
    * log10 need not be), and share/excess are single IEEE ops emitted
    * UNROUNDED. One hash aggregate to digit grain (9 rows). */
  val benfordP: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  /** SQL VALUES list mirroring [[benfordP]] — generated from the same
    * literals so the two engines cannot drift. */
  def benfordPSqlValues: String =
    benfordP.map { case (d, p) => s"($d, $p)" }.mkString(", ")

  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = round(col(valueCol) * 10000).cast("long")
    val digits = df.select(cents.as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("leading_digit"))
      .groupBy(col("leading_digit"))
      .agg(count(lit(1)).as("n_obs"))
    val total = digits.agg(sum(col("n_obs")).as("n_total"))
    // all nine digits always present in the report: a digit with ZERO
    // observations is itself a red flag the audit must show
    benfordP.toDF("leading_digit", "benford_p")
      .select(col("leading_digit").cast("long").as("leading_digit"),
        col("benford_p"))
      .join(digits, Seq("leading_digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(total))
      .select(
        col("leading_digit"), col("n_obs"),
        (col("n_obs").cast("double") / col("n_total").cast("double"))
          .as("share"),
        col("benford_p"),
        ((col("n_obs").cast("double") / col("n_total").cast("double"))
          - col("benford_p")).as("excess"))
  }

  /** Winsorize (clip) a numeric column to its per-group discrete
    * [pLo, pHi] quantiles — the outlier-capping step before scaling /
    * feature extraction. Discrete quantiles keep everything exact
    * (values from the data, no interpolation), so the clip bounds are
    * cross-engine stable in a way interpolated percentiles are not.
    *
    * The per-group bound table is mart-sized (one row per group) and
    * broadcast back onto the fact — the fact is scanned twice (once
    * ranked, once clipped); at 100 TB swap stage one for the
    * approx-percentile sketch and keep the same broadcast-clip shape. */
  def winsorize(
      df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo > 0 && pHi <= 1 && pLo < pHi, "need 0 < pLo < pHi <= 1")
    val bounds = groupQuantilesDisc(df, groupCol, valueCol, Seq(pLo, pHi))
      .select(col(groupCol),
        col(quantileLabel(pLo)).as("__lo"), col(quantileLabel(pHi)).as("__hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("clipped",
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Contingency crosstab with per-cell chi-square contributions:
    * behavioral segment (rows) × an exogenous dimension (columns),
    * over the FULL grid (zero cells included — the test statistic is
    * wrong without them). Reads as "is my RFM segmentation independent
    * of market segment, and WHICH cells drive the dependence"
    * ([[mutualInformation]]'s test-statistic sibling).
    *
    * Exactness: counts exact; expected = row·col/N and the cell term
    * (n−e)²/e are one shared IEEE chain each, 6dp. Shape: one hash
    * aggregate at cell grain, the full grid via a mart-sized cross join
    * of the two margins, margin totals joined back at grid grain —
    * everything past the first aggregate is |rows|·|cols| rows. */
  def contingencyChi2(
      df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.groupBy(col(rowCol).as("r"), col(colCol).as("c"))
      .agg(count(lit(1)).as("n"))
    val rows = cells.groupBy(col("r")).agg(sum(col("n")).as("rt"))
    val cols = cells.groupBy(col("c")).agg(sum(col("n")).as("ct"))
    val tot = cells.agg(sum(col("n")).as("tot"))
    // the margin grid is segment-cardinality on BOTH sides — broadcast
    // the column margins so the grid plans as a BNLJ over a bounded
    // build, never a CartesianProduct (PlanAuditSpec's universal ban:
    // a cartesian pairs two at-scale partitions; a bounded side must
    // say so in the plan)
    rows.crossJoin(broadcast(cols))
      .join(cells, Seq("r", "c"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e",
        col("rt").cast("double") * col("ct") / col("tot"))
      .select(
        col("r").as(rowCol), col("c").as(colCol), col("n"),
        round(col("e"), 6).as("expected"),
        round((col("n") - col("e")) * (col("n") - col("e")) / col("e"), 6)
          .as("chi2_cell"))
  }

  /** Fisher separability per embedding dimension: the between-class /
    * within-class scatter ratio of each coordinate under the stored
    * labels — the LDA-style screen for which dimensions actually carry
    * label signal (a dimension at ratio ≈ 0 is noise for this task;
    * [[covariancePairs]] feeds whitening, this feeds selection).
    *
    * Exactness: per-(label, dim) moments are exact longs over
    * 1e-3-quantized values; the per-label between/within TERMS quantize
    * to integer units before the cross-label sums (float order across
    * labels would differ between engines), and the final ratio is one
    * division of those order-free sums — the unit scale cancels.
    *
    * Shape: one posexplode into a (label, dim)-keyed aggregate
    * (labels·dim past the exchange, corpus-independent), a dim-grain
    * margin, and a labels·dim-sized join — nothing downstream grows
    * with the corpus. */
  def fisherSeparability(
      df: DataFrame, embCol: String, labelCol: String,
      unitsPerValue: Int = 1000): DataFrame = {
    val q = df.select(col(labelCol).as("label"),
      transform(col(embCol), x =>
        round(x.cast("double") * unitsPerValue).cast("long")).as("qv"))
    val lp = q.select(col("label"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q2"))
    val margins = lp.groupBy(col("pos"))
      .agg(sum(col("n")).as("nn"), sum(col("s")).as("ss"))
    lp.join(margins, Seq("pos"))
      .withColumn("mu_c", col("s").cast("double") / col("n"))
      .withColumn("mu", col("ss").cast("double") / col("nn"))
      .withColumn("bt",
        round(col("n") * ((col("mu_c") - col("mu"))
          * (col("mu_c") - col("mu"))) * lit(1e3)).cast("long"))
      .withColumn("wt",
        round((col("q2") - col("s").cast("double") * col("s") / col("n"))
          * lit(1e3)).cast("long"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("bt")).as("bu"), sum(col("wt")).as("wu"))
      .select(col("pos").cast("long").as("dim_idx"), col("n_classes"),
        when(col("wu") > 0,
          round(col("bu").cast("double") / col("wu"), 6))
          .as("fisher_ratio"))
  }

  /** Incremental covariance maintenance: [[covariancePairs]] rebuilt by
    * MERGING two independently-computed partial-state frames (the
    * standing corpus vs a newly-landed delta) instead of rescanning
    * everything — the embedding-side sibling of the q79–q82 gold
    * maintainers. The sufficient statistics (Σxᵢxⱼ, Σxᵢ, n) are
    * integer-exact and ADDITIVE, so partial merge is plain long
    * addition and the gate can prove delta-maintenance == full rebuild
    * by hash equality with [[covariancePairs]]'s own oracle.
    *
    * Shape: each side runs the same map-side-combinable partial
    * aggregates over ITS rows only (at 100 TB the corpus side is a
    * materialized stats table that never rescans; only the delta
    * computes fresh), then a (i, j)-keyed merge at d² grain — the merge
    * cost is model-sized, independent of either side's row count. */
  def covariancePairsIncremental(
      df: DataFrame, idCol: String, embCol: String, isDelta: Column,
      dim: Int = 64, unitsPerValue: Int = 1000): DataFrame = {
    def partials(part: DataFrame) = {
      // same spread rationale as [[covariancePairs]] (each arm is a
      // filtered one-row-group scan — pair explosion would serialize)
      val q = graft.core.Scans.spread(part).select(
        transform(col(embCol), x =>
          round(x.cast("double") * unitsPerValue).cast("long")).as("qv"))
      val pairs = q.select(explode(flatten(
        transform(sequence(lit(0), lit(dim - 1)), i =>
          transform(sequence(i, lit(dim - 1)), j =>
            struct(i.as("i"), j.as("j"),
              (element_at(col("qv"), i + 1) * element_at(col("qv"), j + 1))
                .as("p")))))).as("u"))
        .select(col("u.i").cast("long").as("i"),
          col("u.j").cast("long").as("j"), col("u.p").as("p"))
        .groupBy(col("i"), col("j"))
        .agg(sum(col("p")).as("spp"))
      val dims = q.select(posexplode(col("qv")).as(Seq("pos", "qd")))
        .groupBy(col("pos").cast("long").as("pos"))
        .agg(sum(col("qd")).as("sd"))
      val n = q.agg(count(lit(1)).as("n_rows"))
      (pairs, dims, n)
    }
    val (pa, da, na) = partials(df.filter(!isDelta))
    val (pb, db, nb) = partials(df.filter(isDelta))
    // partial-state MERGE: plain integer addition at (i, j) / pos grain
    val pairs = pa.unionByName(pb).groupBy(col("i"), col("j"))
      .agg(sum(col("spp")).as("spp"))
    val dims = da.unionByName(db).groupBy(col("pos"))
      .agg(sum(col("sd")).as("sd"))
    val n = na.unionByName(nb).agg(sum(col("n_rows")).as("n_rows"))
    val u2 = unitsPerValue.toDouble * unitsPerValue.toDouble
    pairs
      .join(broadcast(dims.select(col("pos").as("i"), col("sd").as("si"))),
        Seq("i"))
      .join(broadcast(dims.select(col("pos").as("j"), col("sd").as("sj"))),
        Seq("j"))
      .crossJoin(broadcast(n))
      .select(
        col("i"), col("j"), col("n_rows"),
        ((col("spp").cast("double") / col("n_rows").cast("double")
          - (col("si").cast("double") / col("n_rows").cast("double"))
            * (col("sj").cast("double") / col("n_rows").cast("double")))
          / lit(u2)).as("cov"))
  }

  /** Rounds a double to the nearest integer, ties away from zero —
    * Spark `round()` / DuckDB `round()` semantics, for driver-side
    * mirrors of plan-side quantization (the [[graft.ext.Similarity]]
    * HALF_UP precedent). */
  private def roundHalfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** [[powerIterate]] results keyed by (session, input plan, params):
    * the loadings and projection queries share one covariance job
    * instead of re-running the O(n·d²) pass per consumer. The model is
    * d doubles + two longs — cache residency is trivial. */
  private val pcaCache = new graft.bindings.SessionCache[
    (Int, String, String, Int, Int, Int), (Array[Double], Long, Long)]

  private def powerIterateCached(
      df: DataFrame, idCol: String, embCol: String,
      dim: Int, unitsPerValue: Int,
      iterations: Int): (Array[Double], Long, Long) =
    pcaCache.getOrElseUpdate(df.sparkSession,
      (df.queryExecution.analyzed.semanticHash(),
        idCol, embCol, dim, unitsPerValue, iterations))(
      powerIterate(df, idCol, embCol, dim, unitsPerValue, iterations))

  /** Power iteration for the top principal component over the
    * [[covariancePairs]] matrix. Fixed `iterations` steps from the
    * deterministic uniform start v₀ = 1/√d — NOT run to a convergence
    * test, so both engines execute the identical arithmetic whether or
    * not the eigengap has converged it.
    *
    * Cross-engine exactness through an ITERATIVE float computation (the
    * q77 PageRank discipline, lifted to doubles): every sum that could
    * be order-dependent is quantized first — matvec terms to integer
    * 1e-6 units (order-free long sums), the norm from exact Σwu² longs,
    * Rayleigh λ and the trace from rounded term units — and every
    * remaining double op is a fixed two-operand chain (one divide per
    * component, one sqrt per iteration) that IEEE 754 rounds
    * identically everywhere.
    *
    * Scale shape: the distributed work is [[covariancePairs]] (O(n·d²)
    * map-side-combinable partial sums — the only pass over the data);
    * the d×d iteration is model-sized driver math (the kmeans-centroid
    * precedent), and [[pcaProjection]] is a scan with the component as
    * a broadcast literal. Returns (component, λ units at 1e-6, trace
    * units at 1e-9). */
  private def powerIterate(
      df: DataFrame, idCol: String, embCol: String,
      dim: Int, unitsPerValue: Int,
      iterations: Int): (Array[Double], Long, Long) = {
    val m = Array.ofDim[Double](dim, dim)
    covariancePairs(df, idCol, embCol, dim, unitsPerValue)
      .select(col("i"), col("j"), col("cov")).collect().foreach { r =>
        val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
        val c = r.getDouble(2)
        m(i)(j) = c; m(j)(i) = c
      }
    def matvecUnits(v: Array[Double]): Array[Long] =
      Array.tabulate(dim) { i =>
        var s = 0L; var j = 0
        while (j < dim) { s += roundHalfUp(m(i)(j) * v(j) * 1000000.0); j += 1 }
        s
      }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iterations) {
      val wu = matvecUnits(v)
      var n2 = 0L; var i = 0
      while (i < dim) { n2 += wu(i) * wu(i); i += 1 }
      val nrm = math.sqrt(n2.toDouble)
      // degenerate covariance (constant corpus, or everything quantizes
      // to zero): Mv = 0 has no principal direction — keep the current
      // unit vector instead of dividing by zero (0/0 = NaN would crash
      // the next roundHalfUp); lambda then reads 0, the honest answer
      if (nrm > 0.0) v = wu.map(u => u / nrm)
    }
    val wf = matvecUnits(v)
    var lambdaUnits = 0L
    var traceUnits = 0L
    var i = 0
    while (i < dim) {
      lambdaUnits += roundHalfUp(v(i) * wf(i))
      traceUnits += roundHalfUp(m(i)(i) * 1e9)
      i += 1
    }
    (v, lambdaUnits, traceUnits)
  }

  /** Top-PC loadings + eigenvalue + explained-variance share — the PCA
    * model readout (whitening/compression planning over the embedding
    * corpus; [[covariancePairs]] is its sufficient-stats input). One
    * row per dimension; the two scalars repeat per row (the gate
    * output is a single mart-sized frame). */
  def pcaLoadings(
      df: DataFrame, idCol: String, embCol: String,
      dim: Int = 64, unitsPerValue: Int = 1000,
      iterations: Int = 12): DataFrame = {
    val spark = df.sparkSession
    val (v, lu, tu) =
      powerIterateCached(df, idCol, embCol, dim, unitsPerValue, iterations)
    import spark.implicits._
    v.zipWithIndex.toSeq
      .map { case (x, i) => (i.toLong, x, lu, tu) }
      .toDF("dim_idx", "loading_raw", "lu", "tu")
      .select(
        col("dim_idx"),
        round(col("loading_raw"), 6).as("loading"),
        round(col("lu") / 1e6, 6).as("eigenvalue"),
        round((col("lu") / 1e6) / (col("tu") / 1e9), 6).as("explained_share"))
  }

  /** Every vector's projection onto the top principal component — the
    * distributed half of the PCA pass (dimensionality-reduction /
    * outlier-scoring feature). The component rides into the scan as a
    * broadcast literal array; per-vector scores are order-free sums of
    * integer-rounded per-dimension terms, so the scan never leaves
    * whole-stage codegen and engines agree bit-for-bit. */
  def pcaProjection(
      df: DataFrame, idCol: String, embCol: String,
      dim: Int = 64, unitsPerValue: Int = 1000,
      iterations: Int = 12): DataFrame = {
    val (v, _, _) =
      powerIterateCached(df, idCol, embCol, dim, unitsPerValue, iterations)
    val vArr = array(v.map(lit(_)): _*)
    df.select(
      col(idCol),
      aggregate(
        zip_with(
          transform(col(embCol), x =>
            round(x.cast("double") * unitsPerValue).cast("long")),
          vArr,
          (q, vl) => round(q * vl).cast("long")),
        lit(0L), (acc, t) => acc + t).as("units"))
      .select(col(idCol),
        round(col("units") / lit(unitsPerValue.toDouble), 6).as("pc1"))
  }

  /** Closed-form two-feature OLS per group via the normal equations —
    * an in-engine multivariate regression with NO iterative fitting:
    * one hash aggregate collects the integer moment sums (n, Σx, Σxx,
    * Σxy, …), then β = (XᵀX)⁻¹Xᵀy is one fixed 2×2-Cramer double
    * formula per group row. Inputs must already be integer-valued
    * columns (quantize money/percent first) so every sum is an exact
    * long and the doubles appear only in the final determinant
    * arithmetic — bit-reproducible across engines and partitionings.
    *
    * Output per group: n, intercept b0, slopes b1/b2, and R² from the
    * centered co-moments. Groups with a singular design (det ≤ 0) or
    * zero response variance are dropped. */
  def olsNormalEq(
      df: DataFrame, group: Column,
      y: Column, x1: Column, x2: Column): DataFrame = {
    // moment sums in decimal(38,0) (the groupCorr envelope): native-type
    // products overflow silently — an int32 input wraps in x*x itself,
    // and sum(y·y) at cents scale crosses int64 within a hot group long
    // before the 100 TB tier this module documents
    val dec = "decimal(38,0)"
    def d(c: Column) = c.cast(dec)
    val a = df.groupBy(group.as("grp")).agg(
      count(lit(1)).as("n"),
      sum(d(x1)).as("sx1"), sum(d(x2)).as("sx2"), sum(d(y)).as("sy"),
      sum(d(x1) * d(x1)).as("sx11"), sum(d(x2) * d(x2)).as("sx22"),
      sum(d(x1) * d(x2)).as("sx12"),
      sum(d(x1) * d(y)).as("sx1y"), sum(d(x2) * d(y)).as("sx2y"),
      sum(d(y) * d(y)).as("syy"))
    // n-scaled centered moments, cast to double BEFORE the products so
    // the (potentially > int64) cross terms never overflow — the same
    // cast shape is mirrored in the SQL oracle
    val nd = col("n").cast("double")
    val s11 = nd * col("sx11") - col("sx1").cast("double") * col("sx1")
    val s22 = nd * col("sx22") - col("sx2").cast("double") * col("sx2")
    val s12 = nd * col("sx12") - col("sx1").cast("double") * col("sx2")
    val sy1 = nd * col("sx1y") - col("sx1").cast("double") * col("sy")
    val sy2 = nd * col("sx2y") - col("sx2").cast("double") * col("sy")
    val syc = nd * col("syy") - col("sy").cast("double") * col("sy")
    a.withColumn("s11", s11).withColumn("s22", s22).withColumn("s12", s12)
      .withColumn("sy1", sy1).withColumn("sy2", sy2).withColumn("syc", syc)
      .withColumn("det", col("s11") * col("s22") - col("s12") * col("s12"))
      .filter(col("det") > 0 && col("syc") > 0)
      .withColumn("b1",
        (col("sy1") * col("s22") - col("sy2") * col("s12")) / col("det"))
      .withColumn("b2",
        (col("sy2") * col("s11") - col("sy1") * col("s12")) / col("det"))
      .select(col("grp"), col("n"),
        round((col("sy").cast("double") - col("b1") * col("sx1")
          - col("b2") * col("sx2")) / col("n"), 6).as("b0"),
        round(col("b1"), 6).as("b1"),
        round(col("b2"), 6).as("b2"),
        round((col("b1") * col("sy1") + col("b2") * col("sy2")) / col("syc"), 6)
          .as("r2"))
  }

  /** Precision–recall curve at fixed micro-unit thresholds: for each
    * threshold t ∈ {0.1 … 0.9}, precision and recall of `score ≥ t`
    * predicting `label` — the operating-point table behind
    * [[rankAuc]]'s single number (a deployment picks a threshold; AUC
    * can't). Scores quantize to exact micro-units, every count is a
    * long, ratios are integer half-up micro formulas. One pass over
    * (score, label) rows × 9 exploded thresholds. */
  def prCurve(
      df: DataFrame, scoreCol: Column, label: Column): DataFrame = {
    val base = df.select(
      round(scoreCol * 1e6).cast("long").as("sq"),
      when(label, 1L).otherwise(0L).as("pos"))
    val tot = base.agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    base
      .select(col("sq"), col("pos"),
        explode(sequence(lit(1), lit(9))).as("tq"))
      .groupBy(col("tq"))
      .agg(
        sum((col("sq") >= col("tq") * 100000L).cast("long")).as("n_pred"),
        sum(when(col("sq") >= col("tq") * 100000L, col("pos")).otherwise(0L))
          .as("tp"))
      .crossJoin(broadcast(tot))
      .filter(col("n_pred") > 0 && col("n_pos") > 0)
      .select(
        (col("tq").cast("double") / 10).as("threshold"),
        col("n_pred"), col("tp"),
        expr("((tp * 1000000 * 2 + n_pred) div (n_pred * 2)) " +
          "/ cast(1000000 as double)").as("precision"),
        expr("((tp * 1000000 * 2 + n_pos) div (n_pos * 2)) " +
          "/ cast(1000000 as double)").as("recall"))
  }

  /** t-closeness privacy audit: per quasi-identifier class, the
    * variational distance between the class's sensitive-attribute
    * distribution and the global one (½·Σ|p_class − p_global|) plus
    * the class size — the disclosure-risk step beyond
    * [[anonymityReport]]'s k/l counts (a class can be k-anonymous and
    * l-diverse yet skewed enough to leak). The distance is exact
    * integer cross-multiplication Σ|c·N − g·n| / (2·n·N). */
  def tCloseness(
      df: DataFrame, qiCol: Column, sensitiveCol: Column): DataFrame = {
    val base = df.select(qiCol.as("qi"), sensitiveCol.as("sv"))
    val cls = base.groupBy(col("qi"), col("sv")).agg(count(lit(1)).as("c"))
    val clsN = cls.groupBy(col("qi")).agg(sum(col("c")).as("n"))
    val glob = base.groupBy(col("sv")).agg(count(lit(1)).as("g"))
    val globN = glob.agg(sum(col("g")).as("ng"))
    // the |c·N − g·n| terms need the FULL sensitive-value grid per
    // class (a value absent from the class still contributes g·n)
    clsN.crossJoin(broadcast(glob)).crossJoin(broadcast(globN))
      .join(cls, Seq("qi", "sv"), "left_outer")
      .select(col("qi"), col("n"), col("ng"),
        abs(coalesce(col("c"), lit(0L)) * col("ng") - col("g") * col("n"))
          .as("term"))
      .groupBy(col("qi"), col("n"), col("ng"))
      .agg(sum(col("term")).as("num"))
      .select(col("qi"), col("n").as("class_size"),
        expr("""((num * 1000000 * 2 + (n * ng * 2)) div (n * ng * 2 * 2))
                / cast(1000000 as double)""").as("t_closeness"))
  }

  /** Calibration (reliability) bins for a [0,1] score predicting a
    * boolean label: the score bins into `nBins` fixed-width buckets and
    * each bucket reports its mean predicted score against the observed
    * positive rate — the per-bin gap IS the reliability diagram, and
    * its n-weighted sum is the expected calibration error the
    * [[prCurve]] operating points can't see (a scorer can rank
    * perfectly yet be wildly miscalibrated).
    *
    * Exactness: scores quantize to micro-units BEFORE binning (the bin
    * edge is an integer compare, not a float floor); per-bin sums are
    * exact longs; both ratios are integer half-up micro divisions; the
    * gap subtracts the two already-quantized doubles (deterministic —
    * same 6dp operands on both engines). ONE hash aggregate over
    * nBins groups. */
  def calibrationBins(
      df: DataFrame, scoreCol: Column, label: Column,
      nBins: Int = 10): DataFrame = {
    val base = df.select(
      round(scoreCol * 1e6).cast("long").as("sq"),
      when(label, 1L).otherwise(0L).as("pos"))
    base
      .select(
        // clamp BOTH ends: the wired scores are in [0,1], but a caller
        // passing a score < 0 must land in bin 0, not a negative bin
        greatest(least(expr(s"sq * $nBins div 1000000"), lit(nBins - 1L)),
            lit(0L))
          .cast("long").as("bin"),
        col("sq"), col("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("sq")).as("ssq"),
        sum(col("pos")).as("n_pos"))
      .select(col("bin"),
        round(col("bin").cast("double") / nBins, 6).as("bin_lo"),
        col("n"), col("n_pos"),
        expr("((ssq * 2 + n) div (n * 2)) / cast(1000000 as double)")
          .as("mean_score"),
        expr("((n_pos * 1000000 * 2 + n) div (n * 2)) " +
          "/ cast(1000000 as double)").as("pos_rate"))
      .withColumn("gap", round(abs(col("mean_score") - col("pos_rate")), 6))
      .orderBy(col("bin"))
  }

  /** Isotonic (PAV) calibration of a [0,1] score against a boolean
    * label, at bin grain — the monotone RE-FIT next to
    * [[calibrationBins]]' diagnostic diagram: where the reliability
    * diagram only SHOWS a non-monotone positive rate, this returns the
    * least-squares monotone rate per bin (Barlow et al.'s
    * pool-adjacent-violators fit) a caller would map scores through.
    * Computed via the exact minimax identity
    * ŷ_i = max_{j≤i} min_{k≥i} mean(pos_j..pos_k) — equal to PAV's
    * output, but expressible as bounded joins instead of a sequential
    * pooling loop, so BOTH engines evaluate the same closed form.
    *
    * Exactness: per-bin n/n_pos are exact longs; interval means are
    * half-up micro ratios of prefix-sum differences (exact integers),
    * so min/max compare exact integers; ∕1e6 only at render.
    *
    * Scale shape: ONE data-sized hash aggregate to ≤ nBins rows;
    * everything after (prefix window, interval self-join, the
    * j≤i≤k triple) runs on the bin mart — ≤ B³ rows for B = nBins,
    * constant-bounded regardless of input row count. The
    * unpartitioned prefix window consumes the post-aggregate mart
    * (HashAggregate below it), per the boundedness audit. */
  def isotonicCalibration(
      df: DataFrame, scoreCol: Column, label: Column,
      nBins: Int = 10): DataFrame = {
    val base = df.select(
      round(scoreCol * 1e6).cast("long").as("sq"),
      when(label, 1L).otherwise(0L).as("pos"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = base
      .select(
        greatest(least(expr(s"sq * $nBins div 1000000"), lit(nBins - 1L)),
            lit(0L))
          .cast("long").as("bin"), col("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        sum(col("n")).over(w).as("cn"), sum(col("n_pos")).over(w).as("cs"))
      // the bin mart feeds four readers (j, k, i, and the output join)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(pre)
    val jSide = pre.select(col("bin").as("jb"),
      (col("cn") - col("n")).as("cnm1"), (col("cs") - col("n_pos")).as("csm1"))
    val kSide = pre.select(col("bin").as("kb"),
      col("cn").as("cnk"), col("cs").as("csk"))
    // the bin mart is <= nBins rows: broadcast the non-equi sides so
    // the interval lattice plans as BroadcastNestedLoop, never a
    // shuffle cartesian (plan-asserted)
    val iv = jSide.join(broadcast(kSide), col("jb") <= col("kb"))
      .select(col("jb"), col("kb"),
        expr("""(((csk - csm1) * 1000000 * 2) + (cnk - cnm1))
                div ((cnk - cnm1) * 2)""").as("avg_u"))
    val fitted = iv
      .join(broadcast(pre.select(col("bin").as("ib"))),
        col("jb") <= col("ib") && col("ib") <= col("kb"))
      .groupBy(col("ib"), col("jb")).agg(min(col("avg_u")).as("mn"))
      .groupBy(col("ib")).agg(max(col("mn")).as("iso_u"))
    pre.join(fitted, col("bin") === col("ib"))
      .select(col("bin"),
        round(col("bin").cast("double") / nBins, 6).as("bin_lo"),
        col("n"), col("n_pos"),
        expr("((n_pos * 1000000 * 2 + n) div (n * 2)) " +
          "/ cast(1000000 as double)").as("raw_rate"),
        (col("iso_u") / 1e6).as("iso_rate"))
      .orderBy(col("bin"))
  }

  /** Murphy decomposition of the Brier score — the single-number
    * summary BEHIND [[calibrationBins]]' per-bin diagram:
    * BS = REL − RES + UNC, where reliability Σn_k(p̄_k−ō_k)²∕N is what
    * calibration fixes, resolution Σn_k(ō_k−ō)²∕N is what sharpness
    * earns, and uncertainty ō(1−ō) is the floor no scorer beats. The
    * RAW Brier Σ(p_i−o_i)²∕N rides alongside (the decomposition
    * identity holds only for the bin-quantized score — the gap
    * between raw and decomposed IS the within-bin variance, reported
    * as `within_bin`).
    *
    * Exactness: raw-Brier moments (Σp², Σp·o, Σo) accumulate as exact
    * decimal(38,0) of micro-unit scores; per-bin REL/RES terms are
    * fixed double chains over exact bin sums quantized to 1e-9 units
    * before the order-free bin rollup. One doc pass + one bin pass. */
  def brierDecomposition(
      df: DataFrame, scoreCol: Column, label: Column,
      nBins: Int = 10): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(
      round(scoreCol * 1e6).cast("long").as("sq"),
      when(label, 1L).otherwise(0L).as("o"))
    val bins = base
      .select(greatest(least(expr(s"sq * $nBins div 1000000"),
          lit(nBins - 1L)), lit(0L))
        .as("bin"), col("sq"), col("o"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("nk"), sum(col("sq").cast(dec)).as("spk"),
        sum(col("o")).as("ok"))
    val tot = base.agg(count(lit(1)).as("n"),
      sum(col("sq").cast(dec)).as("sp"),
      sum(col("sq").cast(dec) * col("sq")).as("spp"),
      sum(when(col("o") === 1L, col("sq")).otherwise(0L).cast(dec))
        .as("spo"),
      sum(col("o")).as("so"))
    // per-bin mean-pred and obs-rate as doubles over exact sums; terms
    // quantized at 1e-9 before the bin rollup
    val pbar = col("spk").cast("double") / col("nk") / 1e6
    val obar = col("ok").cast("double") / col("nk")
    val obAll = col("so").cast("double") / col("n")
    val binTerms = bins.crossJoin(broadcast(tot))
      .select(
        round(col("nk") * (pbar - obar) * (pbar - obar) * 1e9)
          .cast("long").as("rel_u"),
        round(col("nk") * (obar - obAll) * (obar - obAll) * 1e9)
          .cast("long").as("res_u"))
      .agg(sum(col("rel_u")).as("srel"), sum(col("res_u")).as("sres"))
    val raw = (col("spp").cast("double")
      - lit(2e6) * col("spo").cast("double")
      + lit(1e12) * col("so").cast("double")) / 1e12 /
      col("n").cast("double")
    tot.crossJoin(broadcast(binTerms))
      .select(col("n"),
        round(raw, 6).as("brier"),
        round(col("srel") / 1e9 / col("n"), 6).as("reliability"),
        round(col("sres") / 1e9 / col("n"), 6).as("resolution"),
        round(obAll * (lit(1.0) - obAll), 6).as("uncertainty"),
        round(raw - (col("srel") / 1e9 / col("n")
          - col("sres") / 1e9 / col("n")
          + obAll * (lit(1.0) - obAll)), 6).as("within_bin"))
  }

  /** Mutual information between two categorical columns — the
    * dependence audit behind stratification decisions ("does source
    * determine language?"), reported with both marginal entropies and
    * the normalized MI so 0.82 means something without the marginals
    * in hand. All in nats from exact counts:
    * H(A) = ln N − Σc_a·ln c_a / N and MI = ln N + (S_ab − S_a − S_b)/N,
    * each Σc·ln c term quantized to integer 1e-9 units before its
    * order-free sum (the [[TextAnalysis.sourceLangMix]] discipline).
    *
    * Shape: one (a,b) hash aggregate; marginals re-aggregate from the
    * joint (|A|·|B| rows, not data rows); three one-row aggregates
    * broadcast-joined. Nothing scales with data volume past the first
    * aggregate. */
  def categoricalMutualInfo(
      df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    def slnS(c: Column) = sum(round(c * log(c) * 1e9).cast("long"))
    val joint = df.groupBy(aCol.as("a"), bCol.as("b"))
      .agg(count(lit(1)).as("c"))
    val sAb = joint.agg(sum(col("c")).as("n"), count(lit(1)).as("n_cells"),
      slnS(col("c")).as("s_ab"))
    val sA = joint.groupBy(col("a")).agg(sum(col("c")).as("ca"))
      .agg(count(lit(1)).as("n_a"), slnS(col("ca")).as("s_a"))
    val sB = joint.groupBy(col("b")).agg(sum(col("c")).as("cb"))
      .agg(count(lit(1)).as("n_b"), slnS(col("cb")).as("s_b"))
    val nd = col("n").cast("double")
    val hA = log(nd) - (col("s_a") / 1e9) / nd
    val hB = log(nd) - (col("s_b") / 1e9) / nd
    val mi = log(nd) + ((col("s_ab") - col("s_a") - col("s_b")) / 1e9) / nd
    // the NULL guard tests the ROUNDED entropies: a single-valued
    // column's raw H carries ~1e-10 of ln-quantization residue, so a
    // raw > 0 test would "normalize" by noise instead of going NULL
    sAb.crossJoin(broadcast(sA)).crossJoin(broadcast(sB))
      .select(col("n"), col("n_a"), col("n_b"), col("n_cells"),
        round(hA, 6).as("h_a"), round(hB, 6).as("h_b"),
        round(mi, 6).as("mi_nats"),
        when(round(hA, 6) > 0 && round(hB, 6) > 0,
          round(mi / sqrt(hA * hB), 6)).as("nmi"))
  }

  /** Kendall τ-b per group at HISTOGRAM grain: concordant/discordant
    * pair counts derive from the joint (x,y) value histogram, never
    * from row pairs — pair work is cells² per group (bounded by the
    * value domains: quantity×discount is ~550 cells regardless of row
    * count), which is what makes Kendall feasible at all at 100 TB
    * (the textbook O(n²) sweep is 10³⁵ pairs; even the O(n·log n)
    * merge-count needs a total sort per group). The rank-free
    * complement of [[spearmanByGroup]]: τ counts pair inversions, so
    * it is insensitive to the rank-gap magnitudes ρ squares.
    *
    * Exactness: C, D, and the tie terms are exact integer pair counts
    * accumulated as decimal(38,0) (C ≤ n²∕2 overflows int64 past ~4e9
    * rows/group; HUGEINT mirror), and
    * τ-b = (C−D)∕(√(n₀−t_x)·√(n₀−t_y)) — the two square roots pulled
    * apart BEFORE multiplying so the product (n₀−t_x)(n₀−t_y) ~ n⁴
    * never materializes in any width. Double only at the √ edge, 6dp.
    *
    * Requires x and y to be low-cardinality (binned upstream if
    * continuous — the [[Drift.binnedCounts]] device). */
  def kendallTauBinned(
      df: DataFrame, groupCol: String, xCol: Column, yCol: Column)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.groupBy(col(groupCol).as("g"), xCol.as("x"), yCol.as("y"))
      .agg(count(lit(1)).as("c"))
    val a = cells.select(col("g"), col("x").as("xa"), col("y").as("ya"),
      col("c").as("ca"))
    val b = cells.select(col("g"), col("x").as("xb"), col("y").as("yb"),
      col("c").as("cb"))
    // each unordered cell pair once: strict order on x
    val pairs = a.join(b, Seq("g")).filter(col("xb") > col("xa"))
      .select(col("g"),
        (col("ca").cast(dec) * col("cb")).as("cc"),
        col("ya"), col("yb"))
    val cd = pairs.groupBy(col("g")).agg(
      sum(when(col("yb") > col("ya"), col("cc"))
        .otherwise(lit(0).cast(dec))).as("conc"),
      sum(when(col("yb") < col("ya"), col("cc"))
        .otherwise(lit(0).cast(dec))).as("disc"))
    // DOUBLED pair counts throughout (Σr(r−1), never /2) — a
    // decimal(38,0)/2 would re-scale the type; the ×2 cancels in
    // τ = 2(C−D)/(√A·√B) with A = n(n−1)−Σr_x(r_x−1), B likewise
    def tiePairs2(vc: Column) =
      sum(vc.cast(dec) * (vc - 1)).cast(dec)
    val tx = cells.groupBy(col("g"), col("x"))
      .agg(sum(col("c")).as("r"))
      .groupBy(col("g")).agg(tiePairs2(col("r")).as("tx2"))
    val ty = cells.groupBy(col("g"), col("y"))
      .agg(sum(col("c")).as("r"))
      .groupBy(col("g")).agg(tiePairs2(col("r")).as("ty2"))
    val nTot = cells.groupBy(col("g")).agg(sum(col("c")).as("n"))
      .withColumn("n02", col("n").cast(dec) * (col("n") - 1))
    val aT = col("n02") - col("tx2")
    val bT = col("n02") - col("ty2")
    nTot.join(cd, Seq("g"), "left").join(tx, Seq("g")).join(ty, Seq("g"))
      .select(col("g").as(groupCol), col("n"),
        when(aT > 0 && bT > 0,
          round(
            lit(2.0) * (coalesce(col("conc"), lit(0).cast(dec))
              - coalesce(col("disc"), lit(0).cast(dec))).cast("double")
              / (sqrt(aT.cast("double")) * sqrt(bT.cast("double"))), 6))
          .as("tau_b"))
      .orderBy(col(groupCol))
  }

  /** Cramér's V between two categorical columns: the χ²-based
    * association strength on a bounded contingency grid — the
    * effect-size companion to [[categoricalMutualInfo]] (MI is in
    * nats and unbounded; V lands in [0,1] with the familiar
    * small/medium/large conventions). The grid is completed with the
    * ABSENT cells (the [[tCloseness]] device — a zero cell still
    * contributes its expected count to χ²).
    *
    * Exactness: the per-cell deviation d = N·c − r·k is an exact
    * decimal(38,0) cross-multiply; each cell's χ² term d²∕(N·r·k)
    * evaluates in double and quantizes to integer 1e-9 units before
    * the order-free decimal sum (doubles summed across a grid would
    * be accumulation-order-dependent). */
  def cramersV(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(aCol.as("a"), bCol.as("b"))
    val joint = base.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    val ra = joint.groupBy(col("a")).agg(sum(col("c")).as("r"))
    val kb = joint.groupBy(col("b")).agg(sum(col("c")).as("k"))
    val tot = joint.agg(sum(col("c")).as("n"))
    val grid = ra.crossJoin(broadcast(kb)).crossJoin(broadcast(tot))
      .join(joint, Seq("a", "b"), "left_outer")
      .withColumn("d",
        col("n").cast(dec) * coalesce(col("c"), lit(0L))
          - col("r").cast(dec) * col("k"))
      .withColumn("term_units",
        round(col("d").cast("double") * col("d").cast("double")
          / (col("n").cast("double") * col("r").cast("double")
             * col("k").cast("double")) * 1e9).cast(dec))
    val lv = ra.agg(count(lit(1)).as("n_a"))
      .crossJoin(kb.agg(count(lit(1)).as("n_b")))
    grid.groupBy(col("n")).agg(sum(col("term_units")).as("su"))
      .crossJoin(broadcast(lv))
      .select(col("n"), col("n_a"), col("n_b"),
        round(col("su").cast("double") / 1e9, 6).as("chi2"),
        when(least(col("n_a"), col("n_b")) > 1,
          round(sqrt(col("su").cast("double") / 1e9
            / (col("n").cast("double")
               * (least(col("n_a"), col("n_b")) - 1))), 6))
          .as("cramers_v"))
  }
}
