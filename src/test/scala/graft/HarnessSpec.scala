package graft

import org.apache.spark.JobExecutionStatus

class HarnessSpec extends SparkSpec {
  import spark.implicits._

  test("a timed-out run is cancelled and unwound before the next run starts") {
    val sc = spark.sparkContext
    val unwindSec = 3.0
    // warm the session, so the slow query's job starts well inside the
    // timeout
    spark.range(0, 2, 1, 2).as[Long].map(x => x).collect()
    val t0 = System.nanoTime()
    val slow = Harness.timed(spark, "harness-slow", timeoutSec = 2) {
      // an eager action whose tasks sleep far past the timeout; once it
      // is cancelled, the thread spends unwindSec ignoring interrupts
      try spark.range(0, 2, 1, 2).as[Long].map { x => Thread.sleep(60000); x }.collect()
      finally {
        val end = System.nanoTime() + (unwindSec * 1e9).toLong
        while (System.nanoTime() < end)
          try Thread.sleep(50) catch { case _: InterruptedException => () }
      }
      spark.range(1).toDF()
    }
    val slowCallSec = (System.nanoTime() - t0) / 1e9
    assert(slow.timedOut && !slow.ok && slow.rows == -1L && slow.sec == 2.0)
    val jobs = sc.statusTracker.getJobIdsForGroup("harness-slow")
    assert(jobs.nonEmpty, "the slow query's job did not run under its own group")
    assert(jobs.flatMap(sc.statusTracker.getJobInfo)
      .forall(_.status != JobExecutionStatus.RUNNING),
      "a job of the timed-out group is still running")
    assert(slowCallSec >= 2 + unwindSec - 0.1,
      s"returned after $slowCallSec s, before the thread finished unwinding")

    val fast = Harness.timed(spark, "harness-fast", timeoutSec = 60) {
      spark.range(0, 1000, 1, 2).toDF()
    }
    assert(fast.ok && fast.rows == 1000L && !fast.timedOut)
    assert(fast.sec < unwindSec,
      s"the next run's wall ${fast.sec} s counts the predecessor's unwinding")
  }

  test("a query that throws reports its error, not a timeout") {
    val r = Harness.timed(spark, "harness-fails", timeoutSec = 60) {
      throw new IllegalStateException("boom")
    }
    assert(!r.ok && !r.timedOut && r.rows == -1L)
    assert(r.error.map(_.getMessage).contains("boom"))
  }
}
