package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{AppendOnlyCdc, ControlStore, SnapshotDiff, WatermarkIncrementalLoad}
import graft.core.Concurrent
import graft.gold._
import graft.io.{Lakehouse, ParquetSink, ParquetSource}
import graft.silver.{CleanConform, RevenueConform}

/** End-to-end bronze → silver → gold pipeline runner — the reference's
  * three Glue jobs (`scripts/cdc_metrics_job_bronze.py` /
  * `_silver.py` / `_gold.py`) as one configurable, testable unit over
  * the operator library.
  *
  * Differences from the reference, all deliberate and test-pinned:
  *  - the clock is injected (`runDate` + `cdcTs`), never `datetime.now()`;
  *  - watermarked + diff-based CDC both come from the cdc module
  *    ([[AppendOnlyCdc]], [[SnapshotDiff]]);
  *  - multi-action frames are persisted before double writes (the
  *    reference recomputes the whole DAG at
  *    `cdc_metrics_job_bronze.py:111-112`);
  *  - the gold CLV segmentation is distributed (no pandas round-trip).
  *
  * Independent writes of a stage overlap ([[graft.core.Concurrent]]):
  * the nightly cycle is bound by job latency, not compute. The raw
  * fact landing runs alongside the fact's cdc append, and the four gold
  * marts refresh at the same time, each settling, maintaining and
  * swapping its own path. Three orderings stay serial:
  *  - the snapshot landing runs before the diff, so the diff is always
  *    planned over the landing's materialized cache;
  *  - the snapshot swap runs after the diff's cdc write, because the
  *    diff reads the old snapshot lazily;
  *  - the fact watermark advances after both landings, so a run that
  *    dies in either one re-extracts on rerun (re-appending to the cdc
  *    zone: the append is not idempotent yet, ROADMAP direction 1).
  */
final class CdcPipeline(
    spark: SparkSession, lake: Lakehouse, defaultWatermark: String = "1900-01-01") {

  val store = new ControlStore(spark.sparkContext.hadoopConfiguration, lake.control)

  /** Bronze ingest of the watermarked fact table (reference
    * `cdc_metrics_job_bronze.py:57-90`): incremental extract, dedup, tag
    * metadata, land bronze + append-only cdc, advance the watermark.
    *
    * The watermark advances to `now` (the injected run clock, mirroring
    * the reference's `datetime.now()` at `:90`) — NOT to max(processed).
    * The `>=` filter re-reads the boundary instant, so advancing only to
    * the max data timestamp would re-ingest (and re-append!) the
    * boundary rows on every subsequent run; advancing to the run clock
    * pairs correctly with the inclusive filter.
    *
    * @return the new watermark (always Some(now); None only if nothing
    *         was extracted AND nothing had ever been) */
  def bronzeFact(
      source: DataFrame, table: String, watermarkCol: String,
      runDate: String, cdcTs: Column, now: String): Option[String] = {
    val lastRun = store.get(s"cdc/$table/last_run.txt", defaultWatermark)
    val fresh = WatermarkIncrementalLoad.sinceInclusive(source, watermarkCol, lastRun)
      .dropDuplicates()
      .withColumn("ingestion_timestamp", cdcTs)
    val tagged = AppendOnlyCdc(fresh, cdcTs).persist()
    try {
      Concurrent.all(
        () => ParquetSink.flat(tagged, lake.bronze(table, runDate)),
        () => ParquetSink.partitioned(
          tagged, lake.cdc(table, runDate), Seq("cdc_action"), SaveMode.Append))
      store.put(s"cdc/$table/last_run.txt", now)
      Some(now)
    } finally { tagged.unpersist() }
  }

  /** Bronze ingest of a snapshot-diffed table (reference
    * `cdc_metrics_job_bronze.py:91-112`): full extract vs previous
    * snapshot → insert/update/delete change log + new snapshot. */
  def bronzeSnapshot(
      source: DataFrame, table: String, pk: Seq[String],
      runDate: String, cdcTs: Column): Unit = {
    // metadata tagged before the raw landing, like the reference
    // (`cdc_metrics_job_bronze.py:78-81`). The diff below compares these
    // constant columns too — with an injected fixed clock they are equal
    // across runs; the reference's wall clock made every row differ every
    // run (SURVEY §2.4 note), which callers can reproduce by passing
    // current_timestamp().
    val current = source.dropDuplicates()
      .withColumn("ingestion_timestamp", cdcTs)
      .withColumn("cdc_action", lit("insert"))
      .withColumn("cdc_timestamp", cdcTs)
      .persist()
    try {
      // the landing runs alone, before the diff: it fills `current`'s
      // cache, so the diff is planned over the materialized cache. Run
      // beside the diff, it raced it for that cache and the diff's job
      // ran 38 or 50 tasks from run to run, for no gain in wall time.
      ParquetSink.flat(current, lake.bronze(table, runDate))
      settleSwap(lake.snapshot(table))
      val previous = ParquetSource.readOrEmpty(spark, lake.snapshot(table), current)
      val changes = SnapshotDiff(current, previous, pk, cdcTs)
      ParquetSink.partitioned(changes, lake.cdc(table, runDate), Seq("cdc_action"))
      // swap, never overwrite in place: an in-place Overwrite that dies
      // midway leaves a READABLE partial part-file set with no marker,
      // and the next run would diff against it as if it were the full
      // previous snapshot — emitting every missing row as a spurious
      // insert (readOrEmpty can only guard genuine absence). The swap
      // keeps the old snapshot intact until the new one is complete.
      swapWrite(current, lake.snapshot(table), Nil)
    } finally { current.unpersist() }
  }

  /** Silver incremental conform (reference `cdc_metrics_job_silver.py:
    * 53-99`): since-watermark filter on the derived date, cast + keyed
    * dedup, append date-partitioned, advance watermark to max processed. */
  def silverConform(
      table: String, bronzePath: String, dateSourceCol: String,
      casts: Map[String, String], dedupKeys: Seq[String],
      orderCols: Seq[Column]): Option[String] = {
    val key = s"silver_${table}_last_run.txt"
    val raw = spark.read.parquet(bronzePath)
      .withColumn("creation_date", to_date(col(dateSourceCol)))
    WatermarkIncrementalLoad.run(store, key, raw, "creation_date", defaultWatermark) { fresh =>
      CleanConform(fresh, casts, dedupKeys, orderCols)
    } { cleaned =>
      ParquetSink.partitioned(
        cleaned, lake.silver(table), Seq("creation_date"), SaveMode.Append)
    }
  }

  /** Silver revenue build (reference `cdc_metrics_job_silver.py:101-117`). */
  def silverRevenue(): Unit = {
    val items = spark.read.parquet(lake.silver("order_items"))
    val options = spark.read.parquet(lake.silver("order_item_options"))
      .drop("creation_date", "cdc_action", "cdc_timestamp", "ingestion_timestamp")
    val revenue = RevenueConform(items, options, Seq("order_id", "lineitem_id"))
    ParquetSink.partitioned(revenue, lake.silver("order_revenue"), Seq("creation_date"))
  }

  /** Swap-rewrite a path whose next version derives FROM its current
    * one: write to a temp dir, delete, rename — overwriting a path still
    * being lazily read would race the delete (at 100 TB, swap per
    * affected partition instead of the whole mart). A crash between the
    * delete and the rename is finished by [[settleSwap]]. */
  private def swapWrite(
      df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__tmp")
    write(df, tmp.toString, partitionCols)
    fs.delete(p, true)
    require(fs.rename(tmp, p), s"swap of $path failed")
  }

  private def write(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    if (partitionCols.nonEmpty) ParquetSink.partitioned(df, path, partitionCols)
    else ParquetSink.flat(df, path)

  /** Finishes a [[swapWrite]] that died between its delete and its
    * rename: a live copy that is absent next to a complete (`_SUCCESS`)
    * `__tmp` copy means the temp copy is the new version, so it is
    * renamed into place. Called before a swapped path is read or
    * written. @return whether the live copy exists */
  private def settleSwap(path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__tmp")
    if (!fs.exists(p) && fs.exists(new Path(tmp, "_SUCCESS")))
      require(fs.rename(tmp, p), s"recovery of $path failed")
    fs.exists(p)
  }

  /** One incremental gold refresh from the run's cdc change log — each
    * mart of [[GoldMarts]] maintained by its algebra (the reference
    * recomputes every mart from full silver every run):
    *
    *  - `fact_ltv_daily` — key-scoped on `user_id` ([[IncrementalLtv]]);
    *  - `mart_customer_rfm` / `mart_customer_churn_profile` — anchored
    *    ([[IncrementalRfm]]/[[IncrementalChurn]]): key-scoped on
    *    `user_id`, full rebuild iff the delta moves the recency anchor;
    *  - `mart_sales_trends/daily` — key-scoped on `creation_date`
    *    ([[IncrementalTrends]]).
    *
    * Every maintainer recomputes the touched keys from silver, so the
    * refresh is idempotent for any change action and a rerun of the
    * same run date is the recovery from a crash at any point; it keeps
    * no state of its own. The change log must carry `user_id` and
    * `creation_date`; a mart with no live copy is built full. Each mart
    * is rewritten via [[swapWrite]] because its next version is derived
    * FROM the current one. The marts refresh concurrently and
    * independently: one mart's failure leaves the others refreshed and
    * is rethrown once all have finished. */
  def refreshGold(runDate: String): Unit = {
    val revenue = spark.read.parquet(lake.silver("order_revenue")).persist()
    try {
      val changes = spark.read.parquet(lake.cdc("order_items", runDate))
      Concurrent.all(GoldMarts.all.map { m => () =>
        val path = lake.gold(m.name)
        val partitionCols =
          if (m == GoldMarts.ltvDaily) Seq("creation_date") else Nil
        if (!settleSwap(path)) write(m.build(revenue), path, partitionCols)
        else swapWrite(
          m.maintain(spark.read.parquet(path), revenue, changes), path, partitionCols)
      }: _*)
    } finally { revenue.unpersist() }
  }

  /** Gold mart fan-out (reference `cdc_metrics_job_gold.py`, all 8
    * marts). Reads silver once, persists the conformed fact, writes
    * every mart. */
  def runGold(): Unit = {
    val revenue = spark.read.parquet(lake.silver("order_revenue")).persist()
    val items = spark.read.parquet(lake.silver("order_items"))
    try {
      val daily = Ltv.daily(revenue)
      ParquetSink.partitioned(daily, lake.gold("fact_ltv_daily"), Seq("creation_date"))
      val latest = Ltv.latest(spark.read.parquet(lake.gold("fact_ltv_daily")))
      ParquetSink.flat(latest, lake.gold("mart_customer_ltv_snapshot"))
      ParquetSink.flat(Ltv.segments(latest), lake.gold("mart_customer_clv_segment"))
      ParquetSink.flat(Rfm(revenue), lake.gold("mart_customer_rfm"))
      ParquetSink.flat(Churn(revenue), lake.gold("mart_customer_churn_profile"))
      ParquetSink.flat(SalesTrends.daily(revenue), lake.gold("mart_sales_trends/daily"))
      ParquetSink.flat(SalesTrends.weekly(revenue), lake.gold("mart_sales_trends/weekly"))
      ParquetSink.flat(SalesTrends.monthly(revenue), lake.gold("mart_sales_trends/monthly"))
      ParquetSink.flat(SalesTrends.hourly(revenue), lake.gold("mart_sales_trends/hourly"))
      ParquetSink.flat(Loyalty(items, revenue), lake.gold("mart_loyalty_program_impact"))
      ParquetSink.flat(Location(items, revenue), lake.gold("mart_location_performance"))
      ParquetSink.flat(
        Discount(items, spark.read.parquet(lake.silver("order_item_options")), revenue),
        lake.gold("mart_discount_effectiveness"))
    } finally { revenue.unpersist() }
  }
}
