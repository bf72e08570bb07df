package graft

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the harness mains (Verify, SoakGen, SoakBench, SoakGate) share:
  * their session, their query-name filter, and one cancellable timed
  * run of a query. */
object Harness {

  /** The local session of a harness main: `SPARK_GRAFT_CPUS` threads
    * (default 32), Spark logging at WARN. */
  def session(app: String): SparkSession = {
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, app)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_ONLY`: comma-separated query-name prefixes for local
    * iteration; unset selects every query. */
  val only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

  def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))

  /** Wall timeout of one [[timed]] run, `SPARK_GRAFT_SOAK_TIMEOUT`
    * seconds (default 600). */
  lazy val timeoutSec: Long =
    sys.env.getOrElse("SPARK_GRAFT_SOAK_TIMEOUT", "600").toLong

  /** How long a timed-out run may take to unwind after its cancel. */
  private val UnwindSec = 120L

  /** One timed run: `rows` of the query (-1 unless it finished), its
    * wall in seconds (the timeout itself when it timed out), and the
    * failure, if it threw. */
  final case class Timed(
      rows: Long, sec: Double, timedOut: Boolean, error: Option[Throwable]) {
    def ok: Boolean = !timedOut && error.isEmpty
  }

  /** Builds `query` and runs its `count()` under a wall timeout.
    *
    * The run gets a fresh daemon thread, created here so it inherits the
    * caller's session, and a job group named `name`, so a timeout
    * cancels exactly this query's jobs. The wall is measured inside that
    * thread, around the plan and the action only.
    *
    * On timeout the group is cancelled and the thread interrupted; the
    * call then waits, for at most [[UnwindSec]], until the thread has
    * exited and no job of the group is still running, cancelling the
    * group again meanwhile. So the next run
    * starts on a quiet session: it neither queues behind the dying job
    * nor counts its unwinding in its own wall. A daemon thread that
    * shrugs off the interrupt cannot keep the JVM alive. */
  def timed(spark: SparkSession, name: String, timeoutSec: Long = Harness.timeoutSec)(
      query: => DataFrame): Timed = {
    val sc = spark.sparkContext
    @volatile var result: Timed = null
    val worker = new Thread(() => {
      sc.setJobGroup(name, name, interruptOnCancel = true)
      val t0 = System.nanoTime()
      result =
        try {
          val rows = query.count()
          Timed(rows, (System.nanoTime() - t0) / 1e9, timedOut = false, None)
        } catch {
          case e: Throwable =>
            Timed(-1L, (System.nanoTime() - t0) / 1e9, timedOut = false, Some(e))
        } finally sc.clearJobGroup()
    }, s"graft-timed-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutSec * 1000L)
    if (!worker.isAlive) result
    else {
      sc.cancelJobGroup(name)
      worker.interrupt()
      val deadline = System.nanoTime() + UnwindSec * 1000000000L
      def running = worker.isAlive || sc.statusTracker.getJobIdsForGroup(name)
        .exists(id => sc.statusTracker.getJobInfo(id)
          .exists(_.status == JobExecutionStatus.RUNNING))
      // cancel on every pass, not once: a thread still planning at the
      // timeout can submit a job after the first cancel
      while (running && System.nanoTime() < deadline) {
        Thread.sleep(50)
        sc.cancelJobGroup(name)
      }
      if (running)
        Console.err.println(s"[harness] $name still unwinding ${UnwindSec}s after cancel")
      Timed(-1L, timeoutSec.toDouble, timedOut = true, None)
    }
  }
}
