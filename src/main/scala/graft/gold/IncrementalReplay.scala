package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Late-arriving-day replay of the incremental gold maintainers — the
  * oracle-gated proof that the delta path reproduces the full recompute
  * (the reference rebuilds gold from full silver every run,
  * `scripts/cdc_metrics_job_gold.py`; these maintainers are the scale
  * path that must agree with it bit-for-bit).
  *
  * Shape: one mid-range `creation_date` plays the late-arriving CDC
  * delta. The previous mart is built from silver WITHOUT that day, the
  * maintainer applies the day's rows as the change log, and the result
  * must hash-match the full-recompute oracle over all of silver. A
  * mid-range day (not the max date) keeps the RFM/churn recency anchor
  * unmoved, so the replay exercises the key-scoped maintenance path —
  * the one whose cost scales with the delta, not the corpus — rather
  * than the anchor-advanced full-rebuild fallback (which is the full
  * recompute by construction and needs no separate gate).
  */
object IncrementalReplay {

  /** The replayed day: mid-range (testdata dates span 1995-01-01 to
    * 2001-08-01) and populated at every SF. */
  val replayDate = "1995-06-15"

  /** `mart` maintained over the withheld day — must equal
    * `mart.build(revenue)`. */
  def apply(mart: MaintainedMart, revenue: DataFrame): DataFrame = {
    val d = to_date(lit(replayDate))
    mart.maintain(
      mart.build(revenue.filter(col("creation_date") =!= d)), revenue,
      revenue.filter(col("creation_date") === d))
  }

  def ltvDaily(revenue: DataFrame): DataFrame = apply(GoldMarts.ltvDaily, revenue)
  def rfm(revenue: DataFrame): DataFrame = apply(GoldMarts.rfm, revenue)
  def churn(revenue: DataFrame): DataFrame = apply(GoldMarts.churn, revenue)
  def trendsDaily(revenue: DataFrame): DataFrame = apply(GoldMarts.trendsDaily, revenue)
}
