package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Scratch

/** Shared replay construction for the streaming gates: split a batch
  * history into `slices` disjoint increasing time ranges, one parquet
  * file per slice with strictly increasing mtimes, so a
  * `maxFilesPerTrigger=1` file source replays history in time order —
  * one slice per micro-batch. Any cross-batch contract (session
  * stitching, dedup state, join state retention) is then actually
  * exercised: rows that must pair across slices can only do so through
  * the operator's state.
  *
  * Time-ordered slices keep a `0 seconds` watermark exact: the
  * watermark after slice k is slice k's max event time and every later
  * event lands in a later range, so nothing is ever late-dropped and
  * the streaming result must equal the batch oracle.
  *
  * One scratch directory per replay holds the landing (`in/`) and the
  * stream checkpoint (`ckpt/`).
  */
private[streaming] final class FileReplay(prefix: String) {
  private val root = Scratch.dir(prefix)
  val inDir: String = Files.createDirectory(root.resolve("in")).toString
  val checkpointDir: String = Files.createDirectory(root.resolve("ckpt")).toString
  private val stamped = scala.collection.mutable.Set[String]()
  private var nextIdx = 0

  /** Append one slice; mtime ordering is assigned by call order. */
  def writeSlice(df: DataFrame): Unit = {
    df.coalesce(1).write.mode("append").parquet(inDir)
    // Files.list holds an open directory handle — close it, or every
    // slice leaks one fd for the session's lifetime
    val listing = Files.list(Paths.get(inDir))
    try {
      listing.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .filterNot(p => stamped.contains(p.toString))
        .foreach { p =>
          p.toFile.setLastModified(1700000000000L + nextIdx * 60000L)
          stamped += p.toString
        }
    } finally listing.close()
    nextIdx += 1
  }

  /** Split `df` on `tsCol` into `slices` equal time ranges (oldest
    * first) and write each as one slice. Returns (minTs, maxTs) epoch
    * millis for follow-up sentinel construction.
    *
    * ONE pass (r15): the original shape ran `slices` filter+write jobs
    * over a persisted input (callers persisted to avoid re-scanning per
    * slice) — N+1 jobs of harness prep per streaming gate. Instead the
    * slice index is computed per row from the SAME monotone bounds
    * (count of interior bounds ≤ ts — verbatim the bounds array, no
    * integer-division inversion to get subtly wrong; the
    * [[StreamingRateCap]] oracle mirrors this assignment) and one
    * `partitionBy` write lands every slice in one job. A slice lives
    * entirely in one task (`repartition(slices, $"__slice")`), so each
    * slice is still exactly ONE file = one micro-batch; files are then
    * moved into the flat replay dir with a slice prefix (two slices
    * hashed to one task share a task id, hence a basename) and stamped
    * with the same strictly increasing mtimes. Callers no longer need
    * to persist their input for the slicing loop. */
  def writeHistory(df: DataFrame, tsCol: String, slices: Int): (Long, Long) = {
    val row = df.agg(min(unix_millis(col(tsCol))), max(unix_millis(col(tsCol)))).head()
    require(!row.isNullAt(0), "replay history is empty")
    val (minMs, maxMs) = (row.getLong(0), row.getLong(1))
    val span = maxMs - minMs + 1
    val bounds = (0 to slices).map(k => minMs + span * k / slices)
    val ms = unix_millis(col(tsCol))
    val sliceIdx = (1 until slices)
      .map(k => when(ms >= bounds(k), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
    val tmp = Files.createTempDirectory(root, "hist-stage").toString
    try {
      // NULL event times never entered the old per-slice range filters;
      // keep that contract explicit (a `when(ms >= bound)` evaluates a
      // NULL comparison to the otherwise branch, which would silently
      // file null-ts rows under slice 0)
      df.filter(col(tsCol).isNotNull)
        .withColumn("__slice", sliceIdx)
        .repartition(slices, col("__slice"))
        .write.mode("overwrite").partitionBy("__slice").parquet(tmp)
      (0 until slices).foreach { k =>
        val sliceDir = Paths.get(tmp, s"__slice=$k")
        if (Files.isDirectory(sliceDir)) {
          val listing = Files.list(sliceDir)
          try listing.iterator().asScala
            .filter(_.getFileName.toString.startsWith("part-"))
            .foreach { p =>
              val dest = Paths.get(inDir, s"slice$k-${p.getFileName}")
              Files.move(p, dest)
              dest.toFile.setLastModified(1700000000000L + nextIdx * 60000L)
              stamped += dest.toString
            }
          finally listing.close()
        }
        // empty slices advance the clock too, so follow-up writeSlice
        // sentinels land after every history slice regardless
        nextIdx += 1
      }
    } finally {
      // the staging dir (committer metadata, _SUCCESS, partition dirs)
      // would otherwise hold one tree per writeHistory call until exit
      Scratch.delete(Paths.get(tmp))
    }
    (minMs, maxMs)
  }
}

private[streaming] object FileReplay {
  /** State-store instance count sized to the state VOLUME (the
    * SessionReplay rationale, shared by every replay harness): at the
    * gate SF few instances halve the per-micro-batch commit wall, but
    * the 10x soak measured a fixed 8 WORSE than 32 once each instance
    * carries real state — so instances scale with rows. Grouping-key
    * results are partition-count-independent; the gate hash is
    * untouched either way. */
  def stateParts(nRows: Long): String =
    math.max(8L, math.min(32L, nRows / 25000L)).toString

  /** Run `body` with the replay-tuned session confs applied and
    * restored: state partitioning sized to the state volume
    * ([[stateParts]]), and the trailing NO-DATA micro-batch disabled
    * (r16, guide §1 measure-first): per-batch `StreamingQueryProgress`
    * telemetry read one full round of per-batch machinery —
    * queryPlanning ~0.1 s, state commits ~0.25 s task-wall,
    * offset/commit WAL ~0.07 s, addBatch 0.6–0.9 s total — spent on a batch with ZERO input rows at the end of every
    * replay. Each harness is engineered so its final emission rides a
    * DATA batch (inner joins emit on arrival; the stateful gates close
    * every real key in the second far-future sentinel's batch — their
    * scaladocs state the design), so the no-data batch buys nothing at
    * replay close. Production continuous streams keep the default: the
    * flag is scoped to the body and restored. */
  def withReplayConfs[A](
      spark: org.apache.spark.sql.SparkSession, stateParts: String)(
      body: => A): A = {
    val conf = spark.conf
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    val prevNoData = conf.get(noDataKey, "true")
    try {
      conf.set("spark.sql.shuffle.partitions", stateParts)
      conf.set(noDataKey, "false")
      body
    } finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
      conf.set(noDataKey, prevNoData)
    }
  }

  /** Drain a replay's memory-sink table: pin the (small) result with an
    * eager localCheckpoint, then drop the temp view so the sink's row
    * buffer — which otherwise lives for the session — can be GC'd. Each
    * harness run registers a UUID-named table; without this, repeated
    * gate/bench runs in one JVM accumulate every replay's full result
    * set. */
  def drain(spark: org.apache.spark.sql.SparkSession, queryName: String)(
      project: DataFrame => DataFrame): DataFrame = {
    val res = project(spark.table(queryName)).localCheckpoint(true)
    spark.catalog.dropTempView(queryName)
    res
  }
}
