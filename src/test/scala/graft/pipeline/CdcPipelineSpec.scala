package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.bindings.Conformed
import graft.io.Lakehouse

class CdcPipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val ts = lit("2024-06-01 00:00:00").cast("timestamp")

  /** SnapshotDiff requires PK-unique input (the testdata plants dup
    * keys); keep-first conform is the pipeline's contract for that. */
  private def optionsSource = graft.silver.CleanConform(
    graft.bindings.Conformed.optionsRaw(spark, sf),
    casts = Map.empty,
    dedupKeys = Seq("order_id", "lineitem_id", "option_name"),
    orderCols = Seq(col("option_price")))

  test("bronze -> silver -> gold end-to-end on sf0.001, incremental no-op on rerun") {
    val root = Files.createTempDirectory("graft-lake").toString
    val lake = Lakehouse(s"file://$root")
    val pipe = new CdcPipeline(spark, lake)

    // bronze: watermarked fact + snapshot-diffed options
    val wm = pipe.bronzeFact(
      Conformed.items(spark, sf), "order_items", "creation_ts", "2024-06-01", ts,
      now = "2024-06-01 00:00:00")
    assert(wm.contains("2024-06-01 00:00:00"))
    assert(pipe.store.get("cdc/order_items/last_run.txt", "unset") == wm.get)
    // rerun against the advanced watermark: nothing re-ingested (the
    // inclusive >= filter pairs with advancing to the run clock, so
    // boundary rows do NOT accumulate run over run)
    pipe.bronzeFact(
      Conformed.items(spark, sf), "order_items", "creation_ts", "2024-06-02", ts,
      now = "2024-06-02 00:00:00")
    val rerunCdc = new java.io.File(s"$root/cdc/order_items/date=2024-06-02")
    assert(!rerunCdc.exists() ||
      !rerunCdc.listFiles().exists(_.getName.startsWith("cdc_action=")))
    pipe.bronzeSnapshot(
      optionsSource, "order_item_options",
      Seq("order_id", "lineitem_id", "option_name"), "2024-06-01", ts)

    // first snapshot-diff run: everything is an insert
    val cdcActions = spark.read
      .parquet(lake.cdc("order_item_options", "2024-06-01"))
      .select("cdc_action").distinct().collect().map(_.getString(0)).toSet
    assert(cdcActions == Set("insert"))

    // silver: conform both tables incrementally, then the revenue join
    val wmItems = pipe.silverConform(
      "order_items", lake.bronze("order_items", "2024-06-01"), "creation_ts",
      Map("item_price" -> "double"), Seq("order_id", "lineitem_id"),
      Seq(col("item_price")))
    assert(wmItems.nonEmpty)
    val wmOpts = pipe.silverConform(
      "order_item_options", lake.bronze("order_item_options", "2024-06-01"),
      "cdc_timestamp", Map("option_price" -> "double"),
      Seq("order_id", "lineitem_id"), Seq(col("option_name"), col("option_price")))
    assert(wmOpts.contains("2024-06-01"))
    // date_dim: the reference maintains it bronze->silver like any dim
    pipe.bronzeSnapshot(
      graft.ext.DateDim.generate(spark, "1995-01-01", "1995-03-31"),
      "date_dim", Seq("date_key"), "2024-06-01", ts)
    val wmDim = pipe.silverConform(
      "date_dim", lake.bronze("date_dim", "2024-06-01"), "date_key",
      Map.empty, Seq("date_key"), Seq(col("date_key")))
    assert(wmDim.nonEmpty)
    assert(spark.read.parquet(lake.silver("date_dim")).count() == 90)
    pipe.silverRevenue()

    val revenue = spark.read.parquet(lake.silver("order_revenue"))
    assert(revenue.count() > 0)
    assert(revenue.columns.contains("total_revenue"))

    // silver is date-partitioned on disk (partition pruning surface)
    assert(new java.io.File(s"$root/silver/order_revenue")
      .listFiles().exists(_.getName.startsWith("creation_date=")))
    // ...and a watermark-style filter actually prunes at the dir level
    val pruned = revenue.filter(col("creation_date") > lit("1998-01-01"))
    val planTxt = pruned.asInstanceOf[org.apache.spark.sql.classic.Dataset[
      org.apache.spark.sql.Row]].queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(planTxt.contains("PartitionFilters") &&
      planTxt.contains("creation_date"), s"no partition pruning in:\n$planTxt")

    // gold: all marts written and non-empty
    pipe.runGold()
    val marts = Seq(
      "fact_ltv_daily", "mart_customer_ltv_snapshot", "mart_customer_clv_segment",
      "mart_customer_rfm", "mart_customer_churn_profile",
      "mart_sales_trends/daily", "mart_sales_trends/weekly",
      "mart_sales_trends/monthly", "mart_sales_trends/hourly",
      "mart_loyalty_program_impact", "mart_location_performance",
      "mart_discount_effectiveness")
    marts.foreach { m =>
      assert(spark.read.parquet(lake.gold(m)).count() > 0, s"mart $m is empty")
    }

    // rerun: silver watermark makes reprocessing a no-op
    val rerun = pipe.silverConform(
      "order_items", lake.bronze("order_items", "2024-06-01"), "creation_ts",
      Map("item_price" -> "double"), Seq("order_id", "lineitem_id"),
      Seq(col("item_price")))
    assert(rerun.isEmpty)

    // rerun snapshot diff with identical source: no inserts/updates/deletes
    pipe.bronzeSnapshot(
      optionsSource, "order_item_options",
      Seq("order_id", "lineitem_id", "option_name"), "2024-06-02", ts)
    // an empty change set writes no partition dirs at all
    val cdcDir = new java.io.File(s"$root/cdc/order_item_options/date=2024-06-02")
    assert(!cdcDir.exists() ||
      !cdcDir.listFiles().exists(_.getName.startsWith("cdc_action=")))

    // incremental gold second run: some users' revenue changes land in
    // silver + the cdc log; the delta-maintained LTV mart must equal a
    // full recompute over the new silver
    val updatedRows = spark.read.parquet(lake.silver("order_revenue"))
      .withColumn("total_revenue",
        when(col("user_id") % 5 === 0, col("total_revenue") * 2)
          .otherwise(col("total_revenue")))
      .collect().toSeq
    val silverSchema = spark.read.parquet(lake.silver("order_revenue")).schema
    val updated = spark.createDataFrame(
      spark.sparkContext.parallelize(updatedRows), silverSchema)
    graft.io.ParquetSink.partitioned(
      updated, lake.silver("order_revenue"), Seq("creation_date"))
    updated.filter(col("user_id") % 5 === 0)
      .select("order_id", "lineitem_id", "user_id", "creation_date")
      .write.parquet(lake.cdc("order_items", "2024-06-03"))
    pipe.refreshGold("2024-06-03")
    val martRows = spark.read.parquet(lake.gold("fact_ltv_daily"))
      .select(col("user_id"), col("creation_date").cast("string"),
        col("daily_revenue"), col("cumulative_ltv"))
      .collect().map(_.toSeq).toSet
    val fullRows = graft.gold.Ltv.daily(
        spark.read.parquet(lake.silver("order_revenue")))
      .select(col("user_id"), col("creation_date").cast("string"),
        col("daily_revenue"), col("cumulative_ltv"))
      .collect().map(_.toSeq).toSet
    assert(martRows == fullRows,
      "incrementally maintained fact_ltv_daily diverged from full recompute")

    // composed refreshGold over an UPDATE delta: ltv/rfm/churn take the
    // key-scoped path on user_id, daily trends on creation_date
    val newSilver = spark.read.parquet(lake.silver("order_revenue"))
    newSilver.filter(col("user_id") % 5 === 0)
      .select("order_id", "lineitem_id", "user_id", "creation_date")
      .withColumn("cdc_action", lit("update"))
      .write.mode("overwrite").parquet(lake.cdc("order_items", "2024-06-04"))
    pipe.refreshGold("2024-06-04")
    def martSet(path: String) =
      spark.read.parquet(path).collect().map(_.toSeq).toSet
    def dateStr(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.map {
      case d: java.sql.Date => d.toString
      case x => x
    }).toSet
    assert(martSet(lake.gold("mart_customer_rfm")) ==
      graft.gold.Rfm(newSilver).collect().map(_.toSeq).toSet,
      "refreshGold rfm diverged from full recompute")
    assert(martSet(lake.gold("mart_customer_churn_profile")) ==
      graft.gold.Churn(newSilver).collect().map(_.toSeq).toSet,
      "refreshGold churn diverged from full recompute")
    assert(dateStr(spark.read.parquet(lake.gold("mart_sales_trends/daily"))) ==
      dateStr(graft.gold.SalesTrends.daily(newSilver)),
      "refreshGold daily trends diverged from full recompute")

    // insert delta: prior daily mart = history minus the newest day,
    // change log = that day's line keys tagged insert -> the day is
    // rebuilt from silver
    val maxDate = newSilver.agg(max(col("creation_date"))).head.getDate(0)
    graft.io.ParquetSink.flat(
      graft.gold.SalesTrends.daily(
        newSilver.filter(col("creation_date") =!= lit(maxDate))),
      lake.gold("mart_sales_trends/daily"))
    newSilver.filter(col("creation_date") === lit(maxDate))
      .select("order_id", "lineitem_id", "user_id", "creation_date")
      .withColumn("cdc_action", lit("insert"))
      .write.mode("overwrite").parquet(lake.cdc("order_items", "2024-06-05"))
    pipe.refreshGold("2024-06-05")
    assert(dateStr(spark.read.parquet(lake.gold("mart_sales_trends/daily"))) ==
      dateStr(graft.gold.SalesTrends.daily(newSilver)),
      "key-scoped trends over an insert delta diverged from full recompute")

    // rerun safety: replaying the SAME insert-only run must not
    // double-count — every maintainer recomputes the touched keys from
    // silver, so it is idempotent by construction
    pipe.refreshGold("2024-06-05")
    assert(dateStr(spark.read.parquet(lake.gold("mart_sales_trends/daily"))) ==
      dateStr(graft.gold.SalesTrends.daily(newSilver)),
      "rerunning the trends refresh double-counted the delta")
    assert(martSet(lake.gold("mart_customer_rfm")) ==
      graft.gold.Rfm(newSilver).collect().map(_.toSeq).toSet,
      "rerunning the key-scoped refresh changed the rfm mart")

    // a control-store marker left by an older additive refresh is
    // ignored: the rerun still converges to the full recompute
    pipe.store.put("gold/mart_sales_trends_daily/applied/2024-06-05", "pending")
    pipe.refreshGold("2024-06-05")
    assert(dateStr(spark.read.parquet(lake.gold("mart_sales_trends/daily"))) ==
      dateStr(graft.gold.SalesTrends.daily(newSilver)),
      "pending-marker rerun did not settle to the full recompute")

    // a NULL cdc_action: a change log of already-counted line keys must
    // not add their revenue again — the touched days are rebuilt
    newSilver.filter(col("user_id") % 7 === 0)
      .select("order_id", "lineitem_id", "user_id", "creation_date")
      .withColumn("cdc_action", lit(null).cast("string"))
      .write.mode("overwrite").parquet(lake.cdc("order_items", "2024-06-06"))
    pipe.refreshGold("2024-06-06")
    assert(dateStr(spark.read.parquet(lake.gold("mart_sales_trends/daily"))) ==
      dateStr(graft.gold.SalesTrends.daily(newSilver)),
      "NULL cdc_action double-counted the touched days")
  }

  /** One run date of the pipeline up to the revenue build, as the job
    * orders its stages. */
  private def ingest(
      pipe: CdcPipeline, lake: Lakehouse, items: org.apache.spark.sql.DataFrame,
      runDate: String, now: String): Unit = {
    pipe.bronzeFact(items, "order_items", "creation_ts", runDate, ts, now)
    pipe.bronzeSnapshot(optionsSource, "order_item_options",
      Seq("order_id", "lineitem_id", "option_name"), runDate, ts)
    pipe.silverConform(
      "order_items", lake.bronze("order_items", runDate), "creation_ts",
      Map("item_price" -> "double"), Seq("order_id", "lineitem_id"),
      Seq(col("item_price")))
    pipe.silverConform(
      "order_item_options", lake.bronze("order_item_options", runDate),
      "cdc_timestamp", Map("option_price" -> "double"),
      Seq("order_id", "lineitem_id"), Seq(col("option_name"), col("option_price")))
    pipe.silverRevenue()
  }

  test("refreshGold counts rows stamped at the previous run clock once") {
    // bronze's inclusive >= watermark re-reads the rows stamped exactly
    // at the previous run clock; they are already in silver, so the
    // second run's change log repeats them
    val boundary = "1996-01-03 00:00:00"
    val items = Conformed.items(spark, sf)
    val t = lit(boundary).cast("timestamp")
    assert(items.filter(col("creation_ts") === t).count() > 0,
      s"fixture must hold rows stamped $boundary")
    val root = Files.createTempDirectory("graft-lake-boundary").toString
    val lake = Lakehouse(s"file://$root")
    val pipe = new CdcPipeline(spark, lake)

    ingest(pipe, lake, items.filter(col("creation_ts") <= t), "run-1", boundary)
    pipe.refreshGold("run-1")
    val nextDay = "1996-01-04 00:00:00"
    ingest(pipe, lake, items.filter(col("creation_ts") < lit(nextDay).cast("timestamp")),
      "run-2", nextDay)
    assert(spark.read.parquet(lake.cdc("order_items", "run-2"))
      .filter(col("creation_ts") === t).count() > 0, "run 2 must re-read the boundary rows")
    pipe.refreshGold("run-2")

    val cols = Seq(col("creation_date").cast("string"), col("restaurant_id"),
      col("item_category"), col("daily_revenue"))
    val silver = spark.read.parquet(lake.silver("order_revenue"))
    assert(spark.read.parquet(lake.gold("mart_sales_trends/daily")).select(cols: _*)
        .collect().map(_.toSeq).toSet ==
      graft.gold.SalesTrends.daily(silver).select(cols: _*).collect().map(_.toSeq).toSet,
      "refreshed daily trends diverged from the full build over silver")
    // the refresh keeps no state of its own in the control store
    assert(!new java.io.File(s"$root/control/gold").exists())
  }

  test("a snapshot swap that died between delete and rename is finished on rerun") {
    val root = Files.createTempDirectory("graft-lake-swap").toString
    val lake = Lakehouse(s"file://$root")
    val pipe = new CdcPipeline(spark, lake)
    val pk = Seq("order_id", "lineitem_id", "option_name")
    pipe.bronzeSnapshot(optionsSource, "order_item_options", pk, "2024-06-01", ts)
    // the crash: the live snapshot is deleted, the complete temp copy
    // not yet renamed into place
    val live = new java.io.File(s"$root/snapshots/order_item_options/latest")
    assert(live.renameTo(new java.io.File(live.getPath + "__tmp")))
    pipe.bronzeSnapshot(optionsSource, "order_item_options", pk, "2024-06-02", ts)
    assert(live.exists())
    assert(!new java.io.File(
        s"$root/cdc/order_item_options/date=2024-06-02/cdc_action=insert").exists(),
      "the rerun diffed against a lost snapshot and emitted every row as an insert")
  }
}
