package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Bounded lifecycle for PER-CALL operator persists (guide §5): free a
  * helper cache as soon as the query consuming it has run, without
  * forcing the operator to materialize its result eagerly.
  *
  * Why not unpersist inline: an operator returns a LAZY frame, so at
  * return time nothing has consumed the cache yet — an inline unpersist
  * would make the consuming action recompute the cached subtree once
  * per reference (exactly what the persist bought). Why not an eager
  * `localCheckpoint(true)` of the result: that materializes EVERY
  * column of the result inside the operator, while the caller's action
  * may prune most of them — measured on q33_ngram_jaccard, whose
  * bench `count()` prunes the whole verify projection: 0.97 → 2.83 s.
  *
  * Mechanism: a one-shot [[QueryExecutionListener]] that unpersists the
  * given frames after the NEXT SQL execution on their session finishes
  * (success or failure). For a single-action consumer that execution is
  * the consuming one; multi-action consumers (iterative CC) persist
  * their own iteration state up front in their first action, so firing
  * after that first action is still safe. The callback is asynchronous
  * (listener bus), so a racing second action at worst recomputes —
  * never reads freed data wrongly. Frames never consumed (plan-only
  * audits) hold no blocks, so the eventual no-op unpersist is free. */
object CacheLifecycle {

  /** Free the pinned blocks of an EAGER `localCheckpoint(true)` frame
    * that a later iteration has fully replaced (iterative CC/PageRank:
    * each round checkpoints node-grain state, and without this every
    * superseded round's full table stays pinned for the session).
    *
    * Deliberately strict: fires only when the frame IS the bare
    * checkpoint (plan root is the materialized-RDD leaf). Checkpoint
    * blocks cannot be recomputed once dropped — the lineage was
    * truncated — so the caller must pass the superseded iteration
    * frame itself, only after the replacing iteration has eagerly
    * materialized, and never a frame any live consumer still reads
    * through. A non-checkpoint plan is refused: nothing is freed, and
    * one WARN line names its plan-root class. A caller that frees a
    * checkpoint some live frame still reads gets no error here; that
    * frame's next action fails with "checkpoint block not found". */
  def freeSupersededCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case root =>
        org.slf4j.LoggerFactory.getLogger("graft.core.CacheLifecycle").warn(
          "freeSupersededCheckpoint refused a frame whose plan root is " +
            s"${root.getClass.getSimpleName}, not a bare checkpoint; nothing freed")
    }

  def unpersistAfterNextAction(frames: DataFrame*): Unit =
    frames.groupBy(_.sparkSession).foreach { case (spark, fs) =>
      val mgr = spark.listenerManager
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      lazy val listener: QueryExecutionListener = new QueryExecutionListener {
        private def fire(): Unit =
          if (fired.compareAndSet(false, true)) {
            try fs.foreach(_.unpersist(blocking = false))
            catch { case _: Throwable => () }
            try mgr.unregister(listener)
            catch { case _: Throwable => () }
          }
        override def onSuccess(
            funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          fire()
        override def onFailure(
            funcName: String, qe: QueryExecution, exception: Exception): Unit =
          fire()
      }
      mgr.register(listener)
    }
}
