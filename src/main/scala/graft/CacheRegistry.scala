package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.sql.Dataset

/** Registry of DataFrames the graft operators persist internally.
  *
  * Operators like [[graft.functions.JaccardJoin.similarPairs]] and
  * [[graft.functions.MinHashLSH.nearDupPairs]] persist intermediates that
  * are read by ≥2 subplans of the DataFrame they return; those persists can
  * only be released once the caller has consumed the result. Rather than
  * pointing callers at `spark.catalog.clearCache()` — which also evicts
  * caches the caller created for unrelated work — every internal persist is
  * registered here, and [[releaseAll]] unpersists exactly those frames and
  * nothing else.
  *
  * Usage: run the query, consume the result, then `CacheRegistry
  * .releaseAll()`. Releasing is idempotent and safe while other graft
  * queries are being BUILT (tracking is concurrent); it is not safe to
  * release while another graft query is mid-EXECUTION, for the same reason
  * `clearCache()` is not.
  */
object CacheRegistry {
  private val frames = new ConcurrentLinkedQueue[Dataset[_]]()

  /** Register an internally persisted frame; returns it for chaining. */
  def track[T <: Dataset[_]](df: T): T = { frames.add(df); df }

  /** Unpersist every tracked frame and empty the registry. BLOCKING,
    * because a non-blocking unpersist lets the next query's persist of
    * an identical subplan race the in-flight removal in CacheManager
    * (same-plan cache entries are keyed by the analyzed plan), and losing
    * that race silently drops the new persist — the twice-read subplan
    * then recomputes in every consumer. Blocking costs microseconds in
    * local mode and removes the race class.
    */
  def releaseAll(): Unit = {
    var df = frames.poll()
    while (df != null) {
      // benign failures only (already unpersisted / session stopped);
      // fatal errors (OOM, interrupt) must propagate
      try df.unpersist(true) catch { case NonFatal(_) => () }
      df = frames.poll()
    }
  }

  /** Number of currently tracked frames (for specs). */
  def trackedCount: Int = frames.size()
}
