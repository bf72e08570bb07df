package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Task-level work attributed to one span (or to the whole run). */
final class Counts {
  var jobs, tasks, cpuNs, shuffleBytes, spillBytes = 0L
}

/** Benchmark-owned listener. It sums task counters for the whole run and
  * per span, where a task belongs to the span whose job group was set on
  * the submitting thread when its job started, and it follows the bytes held
  * by persisted RDD blocks so the peak can be reported.
  *
  * Listener callbacks run on the bus thread; readers drain the bus first
  * ([[org.apache.spark.graftbench.ListenerBus]]) and read under the lock. */
final class TaskCounters extends SparkListener {
  val total = new Counts
  private val bySpan = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val blockBytes = mutable.Map.empty[RDDBlockId, Long]
  private var cached = 0L
  private var peak = 0L

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.drop(Tracer.GroupPrefix.length).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    e.stageIds.foreach(stageSpan(_) = span)
    total.jobs += 1
    if (span >= 0) bySpan.getOrElseUpdate(span, new Counts).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val span = stageSpan.getOrElse(e.stageId, -1)
      val targets = if (span >= 0) Seq(total, bySpan.getOrElseUpdate(span, new Counts))
        else Seq(total)
      targets.foreach { c =>
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cached += now - blockBytes.getOrElse(id, 0L)
        if (now == 0L) blockBytes.remove(id) else blockBytes(id) = now
        peak = math.max(peak, cached)
      case _ => ()
    }
  }

  def forSpan(id: Int): Counts = synchronized(bySpan.getOrElse(id, new Counts))
  def peakCachedBytes: Long = synchronized(peak)
  /** Start a new peak window at the bytes held right now. */
  def resetPeak(): Unit = synchronized { peak = cached }
  def snapshot: Counts = synchronized {
    val c = new Counts
    c.jobs = total.jobs; c.tasks = total.tasks; c.cpuNs = total.cpuNs
    c.shuffleBytes = total.shuffleBytes; c.spillBytes = total.spillBytes
    c
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, var end: Long) {
  def seconds: Double = (end - start) / 1e9
}

object Tracer {
  val GroupPrefix = "graftbench-span-"
}

/** Span recorder for the traced run. Spans (name, start, end, parent, op
  * id) stay in memory and are written out when the run ends. While a span
  * is open its id is the submitting thread's job group, which is how
  * [[TaskCounters]] credits Spark work to it. Disabled, it only runs the
  * body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), opId, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Root span of one op; its children are the layer spans. */
  def op[T](id: Int, name: String)(body: => T): T = {
    opId = id
    span(name)(body)
  }

  /** A span's duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    (s.end - s.start - covered) / 1e9
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${esc(s.name)}","parent":${s.parent},"op":${s.op},""" +
        f""""start_s":${s.start / 1e9}%.6f,"end_s":${s.end / 1e9}%.6f,"self_s":${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
