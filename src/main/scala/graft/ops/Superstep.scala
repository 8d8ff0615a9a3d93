package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.{CacheRegistry, Checkpoints}

/** The superstep loop of every iterative operator (the Pregel model,
  * Malewicz et al., SIGMOD 2010): step, materialize, release the
  * superseded frame, probe, repeat — [[graft.functions.GraphOps]]'
  * PageRank, label propagation and k-core peel, and
  * [[graft.functions.MinHashLSH]]'s two connected-component contractions.
  *
  * Materialization. A round's plan nests the previous round's, so an
  * unmaterialized chain grows the driver-side plan without bound (an
  * 11-node chain measured 75 s of analysis at 5 unmaterialized rounds vs
  * 3 s truncating each round), and a step that reads its input twice
  * doubles the recompute tree per round. So:
  *   - every `truncateEvery`-th round goes through [[Checkpoints.eager]],
  *     which truncates lineage (a reliable checkpoint under a checkpoint
  *     dir, a localCheckpoint otherwise);
  *   - between truncations a round is persisted (MEMORY_AND_DISK) only
  *     when it is read more than once: by the probe, or by a consumer —
  *     the next step, or the caller after the last round — that reads
  *     it twice (`readsTwice`);
  *   - any other round stays a lazy plan.
  * The last round follows the same rule; a caller that wants it lazy
  * runs its last step itself. With a probe and `truncateEvery > 1`, a
  * truncation round is probed on its persist first and truncated only
  * when another round follows, so the converging round writes no
  * checkpoint.
  *
  * Release. A materialized round roots in its own blocks, so the frame it
  * supersedes is dead: a new persist unpersists the previous persist, and
  * a new truncation also releases the previous truncation
  * ([[Checkpoints.release]] — blocks, or a reliable checkpoint's files).
  * The newest truncation stays alive while later persists root in it.
  * `init` counts as the first persist: pass a frame only the first step
  * reads (a projection of a persisted table is fine — unpersisting the
  * projection leaves the table cached). Live state is O(1) rounds; the
  * newest persist is handed to [[CacheRegistry]], so the caller's
  * `releaseAll` frees it once the result is consumed.
  *
  * Probe. `probe` sees each materialized round and answers "converged";
  * the loop stops at the first yes. It is skipped on round `maxRounds`
  * unless `mustConverge` is set, where a no at the bound throws
  * `IllegalStateException("<name> did not converge in N rounds — <hint>")`.
  */
object Superstep {

  /** The last round's frame and the number of rounds run. */
  final case class Result(frame: DataFrame, rounds: Int)

  def iterate(name: String, init: DataFrame, maxRounds: Int,
              truncateEvery: Int = 1, readsTwice: Boolean = false,
              probe: Option[DataFrame => Boolean] = None,
              mustConverge: Option[String] = None)(
              step: DataFrame => DataFrame): Result = {
    require(truncateEvery >= 1, s"$name: truncateEvery=$truncateEvery")
    var persisted: DataFrame = init
    var truncated: DataFrame = null
    def unpersist(f: DataFrame): Unit =
      if (f != null)
        try f.unpersist(true) catch { case NonFatal(_) => () }
    // superseded frames are released only AFTER their successor has
    // materialized: the successor's plan reads them until then
    def truncate(f: DataFrame): DataFrame = {
      val cp = Checkpoints.eager(f)
      if (truncated != null) Checkpoints.release(truncated)
      truncated = cp
      unpersist(persisted)
      persisted = null
      cp
    }
    var cur = init
    var t = 0
    var converged = false
    while (!converged && t < maxRounds) {
      t += 1
      val last = t == maxRounds
      val probes = probe.isDefined && (!last || mustConverge.isDefined)
      val probeFirst = probes && truncateEvery > 1
      val cadence = t % truncateEvery == 0
      val persist = !(cadence && !probeFirst) && (probes || readsTwice)
      val next = step(cur)
      cur =
        if (cadence && !probeFirst) truncate(next)
        else if (persist) next.persist(StorageLevel.MEMORY_AND_DISK)
        else next
      if (persist && !probes) cur.count()
      converged = probes && probe.get(cur)
      if (persist) { unpersist(persisted); persisted = cur }
      if (cadence && probeFirst && !converged && !last) cur = truncate(cur)
    }
    if (!converged && mustConverge.isDefined)
      throw new IllegalStateException(
        s"$name did not converge in $maxRounds rounds — ${mustConverge.get}")
    if (persisted != null && (persisted ne init)) CacheRegistry.track(persisted)
    Result(cur, t)
  }

  /** A probe that answers "converged" once `measure` of a round equals
    * that of the round before (`first` stands for the round before the
    * first) — an exact fixpoint test wherever the measure moves strictly
    * monotonically until the fixpoint. */
  def unchanged[T](first: T)(measure: DataFrame => T): DataFrame => Boolean = {
    var prev = first
    f => {
      val v = measure(f)
      val same = v == prev
      prev = v
      same
    }
  }
}
