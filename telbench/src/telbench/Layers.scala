package telbench

/** Per-layer metrics of a traced run, each a mean per traced operation
  * unless its comment says otherwise. Which end-to-end metric each should
  * move, on which workload, is tabled in the benchmark's README.
  */
object Layers {
  val Stages: Seq[String] = Seq("neardup", "clusters", "pagerank", "lpa", "kcore")

  val Units: Seq[(String, String)] = Seq(
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "catalyst.plan_ms" -> "ms",
    "scheduler.jobs" -> "count", "scheduler.tasks" -> "count", "scheduler.delay_ms" -> "ms",
    "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms", "executor.gc_ms" -> "ms",
    "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B", "shuffle.fetch_wait_ms" -> "ms",
    "io.rows_read" -> "count", "io.bytes_read" -> "B",
    // rows examined per result row: ratio of the sums over traced operations
    "io.rows_read_per_row_out" -> "ratio",
    "io.bytes_written" -> "B",
    // bytes written by one traced set-up
    "io.setup_bytes_written" -> "B") ++
    Stages.flatMap(s => Seq(s"functions.$s.ms" -> "ms", s"functions.$s.jobs" -> "count")) ++ Seq(
    // verified pairs / candidate pairs, ratio of the sums
    "functions.neardup.verified_per_candidate" -> "ratio",
    // the most RDD (cache and checkpoint) bytes held after any traced
    // operation or dedup stage
    "checkpoints.storage_bytes" -> "B",
    // operation wall minus the self times of its span tree
    "trace.residual_ms" -> "ms")

  private def opRoots(tr: Tracer, ss: Seq[Sample]): Seq[(Sample, Span)] = {
    val roots = tr.spans.filter(s => s.parent == -1 && s.name == "op").map(s => s.op.toLong -> s).toMap
    ss.filter(s => s.traced && s.ok).flatMap(s => roots.get(s.i).map(s -> _))
  }

  def compute(tr: Tracer, lis: SpanListener, ss: Seq[Sample], setups: Seq[Span]): Map[String, Double] = {
    val ops = opRoots(tr, ss)
    if (ops.isEmpty) return Map.empty
    val per = ops.map { case (s, root) =>
      val sub = tr.subtree(root)
      val w = new Work
      sub.foreach(x => w.add(lis.workOf(x.id)))
      def ms(name: String) = sub.filter(_.name == name).map(_.durNs).sum / 1e6
      def jobs(name: String) = sub.filter(_.name == name).flatMap(tr.subtree)
        .map(x => lis.workOf(x.id).jobs).sum.toDouble
      Map(
        "queries.build_ms" -> ms("build"), "queries.build_jobs" -> jobs("build"),
        "catalyst.plan_ms" -> ms("plan"),
        "scheduler.jobs" -> w.jobs.toDouble, "scheduler.tasks" -> w.tasks.toDouble,
        "scheduler.delay_ms" -> w.delayMs.toDouble,
        "executor.run_ms" -> w.runMs.toDouble, "executor.cpu_ms" -> w.cpuNs / 1e6,
        "executor.gc_ms" -> w.gcMs.toDouble,
        "shuffle.write_bytes" -> w.shuffleWrite.toDouble,
        "shuffle.read_bytes" -> w.shuffleRead.toDouble,
        "shuffle.fetch_wait_ms" -> w.fetchWaitMs.toDouble,
        "io.rows_read" -> w.rowsRead.toDouble, "io.bytes_read" -> w.bytesRead.toDouble,
        "io.bytes_written" -> w.bytesWritten.toDouble,
        "trace.residual_ms" -> (s.latMs - root.durNs / 1e6)) ++
        Stages.flatMap(st => Seq(s"functions.$st.ms" -> ms(st), s"functions.$st.jobs" -> jobs(st)))
    }
    val mean = per.head.keys.map(k => k -> per.map(_(k)).sum / per.size).toMap
    val rowsOut = ops.map(_._1.rowsOut).sum.toDouble
    val cand = ops.map(_._1.extra.getOrElse("candidates", 0.0)).sum
    val setupBytes = setups.map { root =>
      tr.subtree(root).map(x => lis.workOf(x.id).bytesWritten).sum.toDouble
    }
    mean ++ Map(
      "io.rows_read_per_row_out" -> (if (rowsOut > 0) per.map(_("io.rows_read")).sum / rowsOut else 0.0),
      "io.setup_bytes_written" -> (if (setupBytes.isEmpty) 0.0 else Stats.median(setupBytes)),
      "functions.neardup.verified_per_candidate" ->
        (if (cand > 0) ops.map(_._1.extra.getOrElse("verified", 0.0)).sum / cand else 0.0),
      "checkpoints.storage_bytes" -> ops.map { case (s, _) =>
        math.max(s.rddBytes, s.extra.getOrElse("checkpoint_peak_bytes", 0.0)) }.max)
  }

  /** Self time per span name (mean ms per traced operation) and the
    * reconciliation of the span tree with the measured operation wall.
    */
  def detail(tr: Tracer, ss: Seq[Sample]): Map[String, Any] = {
    val ops = opRoots(tr, ss)
    if (ops.isEmpty) return Map("traced_ops" -> 0)
    val self = Tracer.selfTimes(tr.spans.toSeq)
    val bySpan = ops.flatMap { case (_, root) => tr.subtree(root) }
      .groupBy(_.name).map { case (n, xs) => n -> xs.map(x => self(x.id)).sum / 1e6 / ops.size }
    val wall = ops.map(_._1.latMs).sum / ops.size
    val selfSum = bySpan.values.sum
    Map("traced_ops" -> ops.size,
      "self_ms_per_op" -> bySpan,
      "wall_ms_per_op" -> wall,
      "self_sum_ms_per_op" -> selfSum,
      "residual_ms_per_op" -> (wall - selfSum),
      "residual_share" -> (if (wall > 0) (wall - selfSum) / wall else 0.0),
      "spans_recorded" -> tr.spans.size)
  }
}
