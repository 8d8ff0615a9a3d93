package graft.functions

import org.apache.spark.sql.DataFrame

/** Scan-parallelism guard for CPU-heavy per-row stages (optimization guide
  * §2.5, "input skew: one huge unsplittable file — repartition immediately
  * after the read").
  *
  * A parquet scan cannot split below row-group granularity, so a source
  * written as ONE row group plans ONE task regardless of the session's
  * core count — and a genuinely expensive per-row stage downstream (a
  * codec encode/decode, the BPE merge fold) then serializes on one core
  * while the rest idle. [[toCores]] spreads such a narrow scan round-robin
  * across the session's default parallelism BEFORE the heavy stage.
  *
  * Why this is scale-correct and not a local-mode tune: the spread only
  * fires when the planned scan parallelism is BELOW the session's core
  * count. Any real corpus at scale plans orders of magnitude more scan
  * partitions than one machine has cores, so there the helper is the
  * IDENTITY — no exchange enters the plan, nothing is pessimized. Where it
  * does fire, the exchange carries exactly the narrow pre-stage rows the
  * caller passes (ids, or id+text), never derived payloads. Row-to-
  * partition assignment under round-robin is deterministic across retries
  * because Spark sorts before repartitioning (SPARK-23207, on by default),
  * and every caller is set-oriented downstream, so results are identical
  * either way.
  *
  * GUARD: [[toCores]] applies only to frames whose analyzed plan is
  * narrow work (projections/filters/aliases) over a single FILE-SOURCE
  * leaf — the one plan shape the single-row-group pathology can
  * produce. Everything else passes through untouched, enforced by code
  * rather than a doc contract:
  *  - exchange-rooted frames: probing them via `.rdd` would make AQE
  *    materialize their shuffle stages eagerly at plan-construction time
  *    (and re-run them at action time), and a shuffle has already decided
  *    their parallelism;
  *  - NON-FILE leaves (LogicalRDD from the superstep localCheckpoints of
  *    [[graft.Checkpoints]], in-memory relations, local tables, Range): a
  *    guard matching ANY LeafNode re-spread the iterative operators that
  *    checkpoint per superstep EVERY round — d12's plan was measured
  *    bloating 194 → 676 Exchange occurrences, and at
  *    100 TB a checkpointed intermediate AQE-coalesced below the core
  *    count would be round-robin-reshuffled each superstep;
  *  - streaming frames (micro-batch partitioning is the runner's concern,
  *    and `.rdd` is illegal on them).
  */
object Spread {

  def toCores(df: DataFrame): DataFrame =
    if (df.isStreaming || !narrowOverFileScan(df.queryExecution.analyzed)) df
    else {
      val cores = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
    }

  private def narrowOverFileScan(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan match {
      // file-source scans only (V1 LogicalRelation / V2 relation). Matched
      // by class name — both live in private[sql] execution packages (the
      // graft.Checkpoints.blockRdd precedent). LogicalRDD (checkpoints),
      // InMemoryRelation, LocalRelation and Range are deliberately NOT
      // narrow: their parallelism was decided by the engine, and
      // re-spreading them inside iterative loops is the d12 plan-bloat
      // failure mode.
      case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode =>
        val n = l.getClass.getSimpleName
        n == "LogicalRelation" || n == "DataSourceV2Relation"
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        narrowOverFileScan(p.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        narrowOverFileScan(f.child)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        narrowOverFileScan(a.child)
      case _ => false
    }
}
