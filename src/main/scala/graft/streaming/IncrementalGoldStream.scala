package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.bindings.SessionCache
import graft.core.Scratch

/** Streaming→lakehouse bridge for the incremental gold maintainers: the
  * withheld CDC day arrives as a REAL file-source stream, and every
  * micro-batch runs the production landing sequence inside
  * `foreachBatch` —
  *
  *   1. append the batch to the silver zone (the ingest write),
  *   2. maintain the gold mart against updated silver, writing a NEW
  *      mart version (never overwriting the version being read — the
  *      swap-write discipline of `CdcPipeline.refreshGold`).
  *
  * After the stream drains, the final mart version must hash-match the
  * plain full recompute over all of silver — the same oracle as the
  * batch replay (q79-q82), now proven THROUGH the streaming engine's
  * batch boundaries: the delta's users arrive split across
  * micro-batches, so a maintainer that mishandles repeated maintenance
  * of the same day (double-counting appends, stale-mart reads,
  * cross-batch key overlap) cannot match.
  *
  * Both maintenance algebras ride the SAME harness, each mart's
  * maintainer taken from [[graft.gold.GoldMarts]]:
  *   - [[ltvViaStream]]: key-scoped recompute per user
  *     ([[graft.gold.IncrementalLtv]] — no global anchor);
  *   - [[rfmViaStream]]: ANCHORED recompute
  *     ([[graft.gold.IncrementalRfm]]) — the anchor guard re-evaluates
  *     per micro-batch against the evolving mart, proving the
  *     hold-the-anchor branch composes across batch boundaries;
  *   - [[trendsViaStream]]: key-scoped recompute per day
  *     ([[graft.gold.IncrementalTrends]]) — every batch touches the
  *     replayed day, so each one rebuilds that day from the silver
  *     landed so far and replaces the previous version's rows for it.
  *
  * `Trigger.AvailableNow` + `maxFilesPerTrigger=1` drains the sliced
  * input one file per micro-batch and stops — no sentinels or
  * watermarks needed because `foreachBatch` sees every batch exactly
  * once through the checkpoint. Batch order is irrelevant by design:
  * the landing sequence is order-insensitive (appends commute; the
  * maintainers recompute affected keys from silver, not from the batch
  * payload), which is itself a property worth proving — real CDC
  * landings arrive in whatever order the bus delivers.
  */
object IncrementalGoldStream {

  import graft.gold.{GoldMarts, MaintainedMart}

  /** The marts one stream session maintains. */
  private val maintained = Seq(GoldMarts.ltvDaily, GoldMarts.rfm, GoldMarts.trendsDaily)

  private def finalMart(
      spark: SparkSession, dir: String, slices: Int, mart: MaintainedMart): DataFrame =
    spark.read.parquet(maintainedMarts(spark, dir, slices)(mart.name))

  def ltvViaStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame =
    finalMart(spark, dir, slices, GoldMarts.ltvDaily)

  /** RFM through the stream: the anchored guard
    * ([[graft.gold.IncrementalAnchored]]) runs once PER micro-batch —
    * the replayed day is mid-range, so every batch must take the
    * held-anchor key-scoped branch against the mart version its
    * predecessor wrote. Shares q05's full-recompute oracle. */
  def rfmViaStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame =
    finalMart(spark, dir, slices, GoldMarts.rfm)

  /** Daily trends through the stream: every batch rebuilds the replayed
    * day from the silver landed so far, so the last batch's version
    * holds the whole day. Shares q07's full-recompute oracle. */
  def trendsViaStream(spark: SparkSession, dir: String, slices: Int = 3): DataFrame =
    finalMart(spark, dir, slices, GoldMarts.trendsDaily)

  /** The base-silver parquet + sliced input files are identical for all
    * three maintainers at a given (session, dir, slices) — prepare them
    * once per session (the [[graft.bindings.Conformed]] memoization
    * pattern): each query still gets its OWN checkpoint, silver copy,
    * and mart-version chain (those are the mutable state under test),
    * but the immutable inputs stop being re-conformed and re-written
    * three times. */
  private val prepCache = new SessionCache[(String, Int), (String, String)]

  private def preparedInputs(
      spark: SparkSession, dir: String, slices: Int): (String, String) =
    prepCache.getOrElseUpdate(spark, (dir, slices)) {
      val revenue = graft.bindings.Conformed.orderRevenueCached(spark, dir)
      val d = to_date(lit(graft.gold.IncrementalReplay.replayDate))
      val root = Scratch.dir("graft-incr-stream-base").toString
      val basePath = s"$root/base"
      val inDir = s"$root/in"
      revenue.filter(col("creation_date") =!= d)
        .write.mode("overwrite").parquet(basePath)
      val delta = revenue.filter(col("creation_date") === d)
      // slice the delta by user hash — users split ACROSS micro-batches
      (0 until slices).foreach { k =>
        delta.filter(
            pmod(graft.functions.Portable.h60(col("user_id").cast("string")),
              lit(slices.toLong)) === k)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      (basePath, inDir)
    }

  /** Final mart path by mart name, after the drain. */
  private val martsCache = new SessionCache[(String, Int), Map[String, String]]

  /** ONE stream session maintains all three marts: the replay day
    * drains once (one checkpoint, one set of micro-batch triggers), and
    * each `foreachBatch` lands the batch then runs the three
    * maintainers concurrently — each against ITS OWN previous
    * mart version, exactly as a production landing job maintains every
    * downstream mart off one ingest. The per-maintainer gate is
    * unchanged (same slices, same per-batch maintenance chain, same
    * full-recompute oracle); what's shared is only the stream scaffold
    * — r7 ran three separate drains and paid the micro-batch trigger +
    * checkpoint floor three times (~13 s combined for ~4 s of
    * maintenance work). */
  private def maintainedMarts(
      spark: SparkSession, dir: String, slices: Int): Map[String, String] =
    martsCache.getOrElseUpdate(spark, (dir, slices)) {
      val (basePath, inDir) = preparedInputs(spark, dir, slices)
      val delta = spark.read.parquet(inDir)

      val root = Scratch.dir("graft-incr-stream").toString
      // silver = immutable shared base ∪ this run's append zone — the
      // ingest write lands ONLY in the per-run zone, so runs stay
      // isolated without copying the 600k-row base per query
      val appendPath = s"$root/silver_append"
      def versionPath(m: MaintainedMart, v: Int) =
        s"$root/${m.name.replace('/', '_')}_v$v"
      val base = spark.read.parquet(basePath)
      maintained.foreach { m =>
        m.build(base).write.mode("overwrite").parquet(versionPath(m, 0))
      }

      // driver-side mart-version cursor; foreachBatch bodies run on the
      // driver sequentially, one per micro-batch
      var version = 0
      val q = spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          val s = batch.sparkSession
          val b = batch.toDF().persist()
          b.write.mode("append").parquet(appendPath)
          val silver = s.read.parquet(basePath, appendPath)
          val v = version
          graft.core.Concurrent.all(maintained.map { m => () =>
            m.maintain(s.read.parquet(versionPath(m, v)), silver, b)
              .write.mode("overwrite").parquet(versionPath(m, v + 1))
          }: _*)
          version += 1
          b.unpersist()
          ()
        }
        .start()
      q.awaitTermination()
      maintained.map(m => m.name -> versionPath(m, version)).toMap
    }
}
