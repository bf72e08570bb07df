package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.sql.{DataFrame, Row}

/** One op of a pass: a call into the program, timed to its full output.
  * A query op returns its frame and the rows it produced. */
final case class Op(name: String, run: () => Option[(DataFrame, Array[Row])])

/** A benchmark workload. Only [[Op.run]] bodies are timed; the hooks
  * around them run outside the timed region. */
trait Workload {
  /** Builds the workload's inputs. */
  def setUp(): Unit
  /** The ops of the run's one timed pass, in order. */
  def ops: Seq[Op]
  def beforeOp(op: Op): Unit = ()
  def afterOp(op: Op, out: Option[(DataFrame, Array[Row])], startMillis: Long): Unit = ()
  /** Runs after the timed region, before [[check]]. */
  def finish(): Unit = ()
  /** Input rows the timed ops handed to, or read into, the program. */
  def inputRows: Long
  /** Mismatches between the program's outputs and the expected ones. */
  def check(): Seq[String]
  def layerMetrics(cores: Int, counters: TaskCounters): Map[String, Double]
}

/** Runs one workload in this JVM and prints the result as the last line:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --pipeline-data DIR --work DIR --expected FILE [--trace-out FILE]`.
  * The timed region is one pass of fixed work, sized to fit `--seconds`;
  * a longer pass is reported on stderr. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_p50_s" -> "s", "rows_per_s" -> "rows/s",
    "cpu_s" -> "s", "cache_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = {
    val stages = PipelineReplay.Stages.flatMap(st => Seq(
      s"${st}_s" -> "s", s"$st.tasks" -> "count", s"$st.core_busy" -> "ratio",
      s"$st.shuffle_mb" -> "MB", s"$st.spill_mb" -> "MB", s"$st.files" -> "count",
      s"$st.mb_written" -> "MB"))
    stages ++ Seq(
      "io.files_written" -> "count", "io.write_amp" -> "ratio", "io.rows_per_file" -> "rows",
      "io.partitions_rewritten" -> "count", "io.partitions_changed" -> "count",
      "io.rewrite_yield" -> "ratio",
      "cdc.changes.insert" -> "count", "cdc.changes.update" -> "count",
      "cdc.changes.delete" -> "count",
      "bindings.conform_build_s" -> "s", "bindings.cache_reuse" -> "ratio",
      "core.persisted_rdds" -> "count",
      "gold.marts_s" -> "s", "gold.incremental_replay_s" -> "s", "ext.anomaly_s" -> "s",
      "ext.timeseries_s" -> "s",
      "ext.clusters_s" -> "s", "ext.clusters.jobs" -> "count", "ext.similarity_s" -> "s",
      "ext.association_s" -> "s", "ext.dedup_s" -> "s", "ext.text_s" -> "s",
      "streaming.replay_s" -> "s",
      "core.gc_s" -> "s", "core.shuffle_mb" -> "MB", "core.spill_mb" -> "MB",
      "core.tasks" -> "count", "core.busy" -> "ratio",
      "trace.pass_s" -> "s", "trace.self_share" -> "ratio")
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** The median, estimated as the mean of the values ranked in the middle
    * 20% (ranks 8 to 11 of 18 query ops; the one value of one op). Op
    * walls form clusters with gaps between them, so the plain median
    * jumps when two ops near the middle trade places; the mean over the
    * middle ranks moves with the walls instead. */
  def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val (lo, hi) = (math.round((s.size - 1) * 0.4).toInt, math.round((s.size - 1) * 0.6).toInt)
      s.slice(lo, hi + 1).sum / (hi - lo + 1)
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val (dataDir, work) = (opt("data"), opt("work"))
    val expected = Files.readAllLines(Paths.get(opt("expected"))).asScala.map(_.split('\t'))
      .collect { case Array(q, h) => q -> h }.toMap

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.core.GraftSession.local(cores, "graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val counters = new TaskCounters
    sc.addSparkListener(counters)
    val tracer = new Tracer(sc, traced)

    val wl: Workload = workload match {
      case "pipeline_replay" =>
        new PipelineReplay(spark, opt("pipeline-data"), work, seed, tracer)
      case "queries" => new QueryWorkload(spark, dataDir, tracer, expected)
      case other => sys.error(s"unknown workload $other")
    }

    wl.setUp()
    ListenerBus.drain(sc)
    counters.resetPeak()
    val before = counters.snapshot
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    var (attempted, thrown) = (0, 0)
    var opWalls = Vector.empty[Double]
    var opLog = Vector.empty[String]
    var (cpuS, gcS) = (0.0, 0.0)
    wl.ops.zipWithIndex.foreach { case (op, opId) =>
      wl.beforeOp(op)
      val startMillis = System.currentTimeMillis()
      val (cpu0, gc0, t0) = (cpuSeconds, gcSeconds, System.nanoTime())
      val out =
        try Right(tracer.op(opId, op.name)(op.run()))
        catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      attempted += 1
      out match {
        case Right(df) =>
          opWalls :+= wall
          opLog :+= f"${op.name}=$wall%.2f"
          cpuS += cpuSeconds - cpu0
          gcS += gcSeconds - gc0
          wl.afterOp(op, df, startMillis)
        case Left(e) =>
          thrown += 1
          Console.err.println(s"[graftbench] ${op.name} failed: $e")
      }
    }
    ListenerBus.drain(sc)
    val cachePeakMb = counters.peakCachedBytes / PipelineReplay.Mb
    val after = counters.snapshot
    val tFinish = System.nanoTime()
    wl.finish()
    val rows = wl.inputRows

    val tCheck = System.nanoTime()
    val mismatches = wl.check()
    Console.err.println(f"[graftbench] finish ${(tCheck - tFinish) / 1e9}%.1fs check ${(System.nanoTime() - tCheck) / 1e9}%.1fs")
    mismatches.foreach(m => Console.err.println(s"[graftbench] check failed: $m"))
    val failed = math.min(attempted, thrown + mismatches.size)

    // an op that threw contributes no wall; it fails the run instead
    val passS = opWalls.sum
    if (passS > seconds)
      Console.err.println(f"[graftbench] the pass took $passS%.1fs, more than --seconds $seconds%.0f")
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val values = Map(
          "setup_s" -> setupS, "pass_s" -> passS, "op_p50_s" -> p50(opWalls),
          "rows_per_s" -> (if (passS > 0) rows / passS else 0.0),
          "cpu_s" -> cpuS, "cache_peak_mb" -> cachePeakMb)
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val layers = wl.layerMetrics(cores, counters)
        val layerSelf = tracer.spans.filter(s => s.op >= 0 && s.parent >= 0).map(tracer.selfSeconds).sum
        val core = Map(
          "core.gc_s" -> gcS,
          "core.shuffle_mb" -> (after.shuffleBytes - before.shuffleBytes) / PipelineReplay.Mb,
          "core.spill_mb" -> (after.spillBytes - before.spillBytes) / PipelineReplay.Mb,
          "core.tasks" -> (after.tasks - before.tasks).toDouble,
          "core.busy" -> (if (passS > 0) (after.cpuNs - before.cpuNs) / 1e9 / (passS * cores) else 0.0),
          "trace.pass_s" -> passS,
          "trace.self_share" -> (if (passS > 0) layerSelf / passS else 0.0))
        val all = layers ++ core
        opts.get("trace-out").foreach(p => tracer.write(Paths.get(p)))
        PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }

    Console.err.println(f"[graftbench] $workload seed=$seed " +
      f"op_samples=${opWalls.size} attempted=$attempted failed=$failed " +
      f"fail_ratio=${failed.toDouble / attempted.max(1)}%.4f op_walls_s=" + opLog.mkString(","))
    spark.stop()
    val body = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}""")
  }
}
