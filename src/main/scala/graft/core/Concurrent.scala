package graft.core

import java.util.concurrent.{ExecutionException, Executors}

/** Runs independent driver-side work — typically one Spark action each —
  * at the same time, so a stage bound by job latency (a few small jobs,
  * mostly idle cores) overlaps its jobs instead of queueing them.
  *
  * The threads are created inside the call, from the calling thread:
  * Spark's local properties (job group, scheduler pool, SQL execution
  * ids) and the active session are inheritable thread-locals copied at
  * thread creation, so every job a thunk launches is attributed as if
  * the caller had launched it. A shared long-lived pool would carry the
  * properties of whichever caller first created its threads. */
object Concurrent {

  private val MaxThreads = 4

  /** Runs every thunk, waits for ALL of them, then rethrows the first
    * failure (in argument order) as the original exception, with any
    * later failures attached as suppressed. A thunk never sees a
    * sibling's failure: it runs to completion, so no write is
    * abandoned halfway by this call. */
  def all(tasks: (() => Unit)*): Unit = {
    // the pool starts its threads lazily, inside `submit` below, so
    // they are created by (and inherit from) the calling thread
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(tasks.size, MaxThreads)))
    try {
      val futures = tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}
