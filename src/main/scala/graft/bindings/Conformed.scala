package graft.bindings

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.silver.{CleanConform, RevenueConform}

/** Binds the driver's TPC-H-ish testdata onto the engine's conformed
  * business schema (the reference's order_items / order_item_options /
  * order_revenue model — `scripts/cdc_metrics_job_silver.py:101-117`):
  *
  *  - lineitem → order line grain: `order_id`=l_orderkey, `lineitem_id`=l_linenumber
  *  - orders   → order header:     `user_id`=o_custkey, `creation_date`=date(o_orderdate)
  *  - part     → item dimension:   `item_category`=p_type (broadcast join)
  *  - l_suppkey → location:        `restaurant_id`
  *  - o_orderpriority ∈ {1-URGENT, 2-HIGH} → `is_loyalty`
  *  - `creation_ts` — order date plus a deterministic synthetic hour
  *    (the source dates are midnight-only; the hourly sales mart needs a
  *    time-of-day axis, reference `cdc_metrics_job_gold.py:219,234`).
  *  - "options" analog (PK (order, line, option_name), reference
  *    `cdc_metrics_job_bronze.py:44`): lines with l_tax > 0.04 carry a
  *    positive `surcharge` row; lines with l_discount >= 0.08 carry a
  *    negative `discount` row (negative option = discount, reference
  *    `cdc_metrics_job_gold.py:364`). Lines can carry both, so the
  *    silver keyed-dedup (`cdc_metrics_job_silver.py:90`) is load-bearing.
  *
  * Scale notes (100 TB): lineitem⨝orders is the one unavoidable fact-fact
  * shuffle (both sides hashed on the order key; bucketing both by order key
  * makes it shuffle-free). The part join is `broadcast()` — the part dim is
  * orders-of-magnitude smaller than the fact. All money arithmetic is
  * per-row and deterministic (bit-exact across engines); rounding happens
  * only at aggregate outputs.
  */
object Conformed {

  /** Line-grain items enriched with order header + item dim. */
  def items(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_custkey").as("user_id"),
      col("o_orderdate"),
      to_date(col("o_orderdate")).as("creation_date"),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("is_loyalty"))
    val p = Tables.part(spark, dir).select(
      col("p_partkey"), col("p_type").as("item_category"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("lineitem_id"),
        col("user_id"),
        col("l_suppkey").as("restaurant_id"),
        col("item_category"),
        col("is_loyalty"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("item_price"),
        col("creation_date"),
        expr("timestampadd(HOUR, CAST((l_orderkey * 7 + l_linenumber * 3) % 24 AS INT), o_orderdate)")
          .as("creation_ts"))
  }

  /** Option-grain rows (PK order/line/option_name); deliberately sparse,
    * with genuinely missing lines so the left-join null-fill path runs. */
  def optionsRaw(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val surcharge = li.filter(col("l_tax") > 0.04)
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("lineitem_id"),
        lit("surcharge").as("option_name"),
        (col("l_tax") * col("l_extendedprice")).as("option_price"))
    val discount = li.filter(col("l_discount") >= 0.08)
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("lineitem_id"),
        lit("discount").as("option_name"),
        (-(col("l_discount") * col("l_extendedprice"))).as("option_price"))
    surcharge.union(discount)
  }

  /** Silver-conformed options: the reference's keyed dedup drops the
    * option_name PK granularity (`cdc_metrics_job_silver.py:90`, SURVEY
    * §7.4(b)) — we pin keep-first by (option_name, option_price), a TOTAL
    * order: the testdata has duplicate (order, line) keys by design, so
    * ordering by option_name alone would tie between two discount rows
    * and each engine could keep a different one. */
  def options(spark: SparkSession, dir: String): DataFrame =
    CleanConform(
      optionsRaw(spark, dir),
      casts = Map.empty,
      dedupKeys = Seq("order_id", "lineitem_id"),
      orderCols = Seq(col("option_name"), col("option_price")))

  /** The conformed silver fact most gold marts consume. */
  def orderRevenue(spark: SparkSession, dir: String): DataFrame =
    RevenueConform(
      items(spark, dir),
      options(spark, dir),
      Seq("order_id", "lineitem_id"))

  // lifecycle-bounded (r14): evicts on session stop — see [[SessionCache]]
  private val revCache = new SessionCache[String, DataFrame]

  /** [[orderRevenue]], materialized once per (session, dir) — the shape
    * the reference actually runs: gold reads silver as a MATERIALIZED
    * parquet table (`cdc_metrics_job_gold.py:42,99,…`), it never re-runs
    * the conform join per mart. Queries deriving lineage from raw files
    * would otherwise rebuild the fact-fact join once per mart (and the
    * fused single-input marts would rebuild it per SIDE). The cache is
    * tiny relative to the corpus (one conformed fact) and lives for the
    * session; `spark.catalog.clearCache()` drops it. */
  def orderRevenueCached(spark: SparkSession, dir: String): DataFrame = {
    // a user-level spark.catalog.clearCache() unpersists the frame while
    // this map still hands it out — getOrRebuild REBUILDS on recovery
    // (the SessionCache clearCache rule, r14): a re-persisted object's
    // memoized plan still scans the cleared old relation, never filling
    // the new entry
    revCache.getOrRebuild(spark, dir)(
      // persistSpread: the materialized conform join coalesces to ~3
      // partitions at the gate SF (AQE sizes by bytes), and the cache
      // layout IS the first-stage task count of every mart reading it
      // — spread once to the session's parallelism, keyed on the PK
      // grain (high-cardinality, deterministic, no round-robin sort)
      SessionCache.persistSpread(
        orderRevenue(spark, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        col("order_id"), col("lineitem_id")))
  }

  private val tradeCache = new SessionCache[String, DataFrame]

  /** [[graft.gold.Geography.tradeSpine]] over the bound tables,
    * materialized once per (session, dir) — q241 and q242 aggregate the
    * SAME lineitem⨝orders⨝dims subtree; without this each rebuilt the
    * fact-fact shuffle (the [[orderRevenueCached]] rationale). The
    * spine is 5 narrow columns at line grain — smaller than the
    * conformed fact this cache already holds. */
  def tradeSpineCached(spark: SparkSession, dir: String): DataFrame =
    tradeCache.getOrRebuild(spark, dir)(
      // same persistSpread rationale as [[orderRevenueCached]]; keyed on
      // the spine's full dimensional grain (thousands of distinct
      // combinations — spreads over any core count) instead of the r15
      // round-robin, which paid a deterministic-placement local sort
      SessionCache.persistSpread(
        graft.gold.Geography.tradeSpine(
          Tables.lineitem(spark, dir), Tables.orders(spark, dir),
          Tables.customer(spark, dir), Tables.supplier(spark, dir),
          Tables.nation(spark, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        col("cust_nation"), col("supp_nation"), col("yr"),
        col("cust_regionkey")))
}
