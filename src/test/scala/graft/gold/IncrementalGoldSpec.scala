package graft.gold

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.bindings.Conformed

class IncrementalGoldSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("IncrementalLtv over a user-scoped delta equals the full recompute") {
    val v1 = Conformed.orderRevenue(spark, sf)
    // v2: a "second run" where some users' revenue changed
    val v2 = v1.withColumn(
      "total_revenue",
      when($"user_id" % 7 === 0, $"total_revenue" * 2).otherwise($"total_revenue"))
    val mart1 = Ltv.daily(v1)
    val delta = v2.filter($"user_id" % 7 === 0) // the changed rows (cdc log)
    val incremental = IncrementalLtv(mart1, v2, delta)
      .select($"user_id", $"creation_date".cast("string"), $"daily_revenue",
        $"cumulative_ltv")
      .as[(Long, String, Double, Double)].collect().toSet
    val full = Ltv.daily(v2)
      .select($"user_id", $"creation_date".cast("string"), $"daily_revenue",
        $"cumulative_ltv")
      .as[(Long, String, Double, Double)].collect().toSet
    assert(incremental == full)
  }

  test("key-scoped Rfm maintenance is exact while the anchor holds, and flags advance") {
    val v1 = Conformed.orderRevenue(spark, sf)
    // delta changes user revenue but does NOT advance max(creation_date)
    val v2 = v1.withColumn(
      "total_revenue",
      when($"user_id" % 11 === 0, $"total_revenue" + 5).otherwise($"total_revenue"))
    val delta = v2.filter($"user_id" % 11 === 0)
    assert(!IncrementalKeyScoped.anchorAdvanced(v1, delta, "creation_date"))
    val anchor = v2.agg(max($"creation_date")).head().getDate(0)
    val incremental = IncrementalKeyScoped(Rfm(v1), v2, delta, "user_id")(
        Rfm.anchoredAt(_, anchor))
      .collect().map(_.toSeq).toSet
    val full = Rfm(v2).collect().map(_.toSeq).toSet
    assert(incremental == full)
    // a delta past the anchor is detected (callers then rebuild fully)
    val lateDelta = v2.limit(1)
      .withColumn("creation_date", date_add($"creation_date", 9999))
    assert(IncrementalKeyScoped.anchorAdvanced(v1, lateDelta, "creation_date"))
  }

  test("Location approx (HLL) mode tracks exact counts and avoids the 3x Expand") {
    val items = Conformed.items(spark, sf)
    val rev = Conformed.orderRevenue(spark, sf)
    val exact = Location(items, rev)
      .select($"restaurant_id", $"num_orders", $"active_days", $"active_weeks")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val est = Location.approx(items, rev, rsd = 0.02)
      .select($"restaurant_id", $"num_orders", $"active_days", $"active_weeks")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (rid, (_, n, d, w)) =>
      val (_, en, ed, ew) = est(rid)
      def close(a: Long, b: Long) = math.abs(a - b) <= math.max(2L, (b * 0.1).toLong)
      assert(close(en, n) && close(ed, d) && close(ew, w),
        s"restaurant $rid: approx ($en,$ed,$ew) vs exact ($n,$d,$w)")
    }
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan.toString
    assert(planOf(Location(items, rev)).contains("Expand"),
      "exact multi-countDistinct should Expand (sanity check of the claim)")
    assert(!planOf(Location.approx(items, rev)).contains("Expand"),
      "HLL mode must not Expand input rows per distinct aggregate")
  }

  test("IncrementalRfm: key-scoped while anchor holds, full rebuild on advance — both exact") {
    val v1 = Conformed.orderRevenue(spark, sf)
    // case 1: revenue-only delta (anchor holds) -> key-scoped path
    val v2 = v1.withColumn(
      "total_revenue",
      when($"user_id" % 13 === 0, $"total_revenue" + 3).otherwise($"total_revenue"))
    val d2 = v2.filter($"user_id" % 13 === 0)
    assert(IncrementalRfm(Rfm(v1), v2, d2).collect().map(_.toSeq).toSet ==
      Rfm(v2).collect().map(_.toSeq).toSet)
    // case 2: delta advances the max date -> rebuild branch, still exact
    val late = v1.limit(5).withColumn("creation_date", date_add($"creation_date", 9999))
    val v3 = v1.unionByName(late)
    assert(IncrementalRfm(Rfm(v1), v3, late).collect().map(_.toSeq).toSet ==
      Rfm(v3).collect().map(_.toSeq).toSet)
    // case 3: empty delta is a no-op
    assert(IncrementalRfm(Rfm(v1), v1, v1.limit(0)).collect().map(_.toSeq).toSet ==
      Rfm(v1).collect().map(_.toSeq).toSet)
  }

  test("IncrementalRfm: anchor REGRESSION (delete delta empties the max date) forces the full rebuild") {
    val v1 = Conformed.orderRevenue(spark, sf)
    val anchor1 = v1.agg(max($"creation_date")).head().getDate(0)
    // a delete delta removes EVERY row on the anchor date: the delta's
    // own max never exceeds the held anchor, so an advance-only guard
    // would keep the stale anchor while a full rebuild anchors earlier
    // and every user's recency shifts
    val deleted = v1.filter($"creation_date" === lit(anchor1))
    assert(deleted.count() > 0, "fixture must have rows on the max date")
    val v2 = v1.filter($"creation_date" =!= lit(anchor1))
    val incremental = IncrementalRfm(Rfm(v1), v2, deleted)
      .select($"user_id", $"recency", $"segment")
      .as[(Long, Int, String)].collect().toSet
    val full = Rfm(v2)
      .select($"user_id", $"recency", $"segment")
      .as[(Long, Int, String)].collect().toSet
    assert(incremental == full,
      "a regressed anchor must be rebuilt, not key-scope-maintained")
  }

  test("IncrementalChurn: key-scoped maintenance equals the full recompute") {
    val v1 = Conformed.orderRevenue(spark, sf)
    val v2 = v1.withColumn(
      "total_revenue",
      when($"user_id" % 9 === 0, $"total_revenue" * 3).otherwise($"total_revenue"))
    val d2 = v2.filter($"user_id" % 9 === 0)
    assert(IncrementalChurn(Churn(v1), v2, d2).collect().map(_.toSeq).toSet ==
      Churn(v2).collect().map(_.toSeq).toSet)
  }

  private def trendRows(df: org.apache.spark.sql.DataFrame) =
    df.select($"creation_date".cast("string"), $"restaurant_id", $"item_category",
        $"daily_revenue")
      .as[(String, Long, String, Double)].collect().toSet

  test("IncrementalTrends.daily merge-add equals the one-shot daily rollup") {
    val rev = Conformed.orderRevenue(spark, sf)
    val cutoff = "1997-06-30"
    val old = rev.filter($"creation_date" <= lit(cutoff))
    val fresh = rev.filter($"creation_date" > lit(cutoff))
    assert(old.count() > 0 && fresh.count() > 0)
    assert(trendRows(IncrementalTrends.daily(SalesTrends.daily(old), rev, fresh)) ==
      trendRows(SalesTrends.daily(rev)))
  }

  test("IncrementalTrends.daily over an update delta to an old date equals the full recompute") {
    val v1 = Conformed.orderRevenue(spark, sf)
    // an update to lines created on an old date: the prior mart already
    // counts their old revenue, so adding the delta's sums would be wrong
    val old = v1.filter($"creation_date" <= lit("1996-06-30"))
      .agg(max($"creation_date")).head().getDate(0)
    val changed = $"creation_date" === lit(old) && $"lineitem_id" % 2 === 1
    val v2 = v1.withColumn(
      "total_revenue", when(changed, $"total_revenue" + 7).otherwise($"total_revenue"))
    val delta = v2.filter(changed)
    assert(delta.count() > 0, "fixture must hold lines on the updated date")
    val mart1 = SalesTrends.daily(v1)
    assert(trendRows(IncrementalTrends.daily(mart1, v2, delta)) ==
      trendRows(SalesTrends.daily(v2)))
    assert(trendRows(mart1) != trendRows(SalesTrends.daily(v2)))
  }
}
