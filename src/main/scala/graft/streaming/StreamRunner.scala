package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** Per-batch accounting of every [[StreamRunner.runToBatch]] run, kept in a
  * bounded in-memory queue so the BENCH artifact can decompose a streaming
  * row's wall time into batches×cost (a d38 flag once came from bimodal
  * 7 s / 36 s samples — a lifecycle signature no total-seconds number can
  * explain). Bench drains this after each query into BENCH_DETAIL.json;
  * Verify and tests ignore it (the queue caps itself, so not draining
  * costs bounded memory, not growth).
  */
object StreamMetrics {
  private val maxLines = 4096
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private[streaming] def add(line: String): Unit =
    if (lines.size < maxLines) lines.add(line)

  /** Return and clear everything recorded since the last drain. */
  def drain(): Seq[String] = {
    val b = Seq.newBuilder[String]
    var l = lines.poll()
    while (l != null) { b += l; l = lines.poll() }
    b.result()
  }
}

/** Runs a streaming frame over a FINITE source to completion and hands the
  * result back as a batch frame — the bridge that lets the driver's batch
  * oracle gate a genuinely streaming plan (real `readStream` file source,
  * real state store, append mode).
  *
  * The memory sink holds only the stream's OUTPUT rows (the bounded result
  * the oracle compares — sessions, surviving fingerprints), never the
  * corpus, so this is not a collect-over-data: the heavy work happens in
  * the streaming DAG's executors exactly as a parquet/Kafka sink run
  * would. Production deployments replace the sink, nothing else.
  */
object StreamRunner {

  // memory-sink names are session-global; a fresh one per invocation keeps
  // bench reruns (4x per query in one JVM) from appending into each other
  private val n = new AtomicLong(0)

  // recentProgress normally retains only the last
  // spark.sql.streaming.numRecentProgressUpdates batches (default 100);
  // the update-mode guard below COUNTS data batches from it, so a
  // truncated buffer could silently roll early data batches out and
  // false-pass the guard. The runner raises the retention to this value
  // for the duration of each run (restored after) and fails loudly if a
  // run actually saturates it — the count is then provably complete.
  private val progressRetention = 10000

  /** `mode`: "append" for stateless/final-emit streams; "update" for
    * changelog aggregations — with a finite source arriving as one
    * micro-batch, update mode emits each key exactly once (the final
    * state), which is what makes an update-mode aggregation
    * oracle-comparable here. That single-batch premise is ENFORCED, not
    * assumed: with several data micro-batches (multi-file source,
    * maxFilesPerTrigger) update mode re-emits changed keys per batch and
    * the memory table would hold a changelog, silently double-counting
    * any downstream sum — so such a run fails loudly instead. (Append
    * mode rows are final by definition and need no guard.) The guard
    * counts data batches over an untruncated progress buffer — retention
    * is raised to [[progressRetention]] for the run and saturation is
    * itself a loud failure, so the count cannot be silently incomplete.
    *
    * `noDataBatches = false` skips the trailing no-data micro-batch
    * (`spark.sql.streaming.noDataMicroBatches.enabled`). Safe ONLY for
    * sinks whose every row is emitted in the data batch itself — inner
    * stream-stream joins and stateless maps, where the no-data batch
    * exists purely to advance the watermark and evict state (~2.2 s of
    * q45's 5.1 s row was this lifecycle batch). NOT safe for aggregations
    * or outer joins that emit on watermark passage — their finalized rows
    * would never appear. The conf is session-global, so it is set for the
    * run and restored after (queries run sequentially in Verify/Bench).
    */
  def runToBatch(stream: DataFrame, prefix: String,
                 mode: String = "append",
                 noDataBatches: Boolean = true): DataFrame =
    run(stream, prefix, mode, noDataBatches, dataBatches =>
      if (mode == "update") require(dataBatches <= 1,
        s"$prefix: update-mode memory sink saw $dataBatches data " +
          "micro-batches; its rows form a changelog, not final state - " +
          "fold to the last emission per key before consuming (" +
          "runToBatchChangelog), or run the finite source as a single " +
          "batch"))

  /** Run an update-mode stream whose sink rows form a CHANGELOG the
    * caller folds deliberately — the multi-batch regime [[runToBatch]]'s
    * guard refuses. The caller contract: every emitted row must carry a
    * per-key VERSION (or equivalent) so "keep each key's max-version
    * rows" reconstructs final state — e.g.
    * [[DocStream.spaceSavingSynopsis]]'s `ver` column. `minDataBatches`
    * is ENFORCED (≥), because a multi-batch test that silently ran as
    * one batch would pass while exercising nothing — the single-batch
    * regime is already covered elsewhere; this runner exists to prove
    * the merge path.
    */
  def runToBatchChangelog(stream: DataFrame, prefix: String,
                          minDataBatches: Int): DataFrame =
    run(stream, prefix, mode = "update", noDataBatches = true, dataBatches =>
      require(dataBatches >= minDataBatches,
        s"$prefix: expected >= $minDataBatches data micro-batches (the " +
          s"multi-batch merge path under test), saw $dataBatches - the " +
          "source did not split; check maxFilesPerTrigger and the file " +
          "layout"))

  /** Run an APPEND-mode stream while ENFORCING that the finite source
    * arrived as at least `minDataBatches` data micro-batches — the
    * regime where the watermark computed from batch N's rows governs
    * batch N+1's late-data admission and window finalization. Append
    * rows are final by definition so no changelog fold is needed, but
    * the batch count is still enforced (≥): a late-data test that
    * silently ran as one batch would pass while exercising nothing —
    * with a single data batch the initial watermark is 0 and NO row is
    * ever late. Used by the q51 late-data row.
    */
  def runToBatchMulti(stream: DataFrame, prefix: String,
                      minDataBatches: Int,
                      noDataBatches: Boolean = true): DataFrame =
    run(stream, prefix, mode = "append", noDataBatches, dataBatches =>
      require(dataBatches >= minDataBatches,
        s"$prefix: expected >= $minDataBatches data micro-batches (the " +
          s"cross-batch watermark path under test), saw $dataBatches - " +
          "the source did not split; check maxFilesPerTrigger and the " +
          "file layout"))

  private def run(stream: DataFrame, prefix: String,
                  mode: String,
                  noDataBatches: Boolean,
                  dataBatchRule: Int => Unit): DataFrame = {
    val spark = stream.sparkSession
    val name = s"${prefix}_run${n.incrementAndGet()}"
    val confKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevConf = spark.conf.getOption(confKey)
    val retKey = "spark.sql.streaming.numRecentProgressUpdates"
    val prevRet = spark.conf.getOption(retKey)
    // Spark 4.1's checkpoint-file checksums
    // (spark.sql.streaming.checkpoint.fileChecksum.enabled, default true)
    // exist to detect corruption in LONG-LIVED checkpoints between runs.
    // Every run here writes an EPHEMERAL checkpoint (temp dir, deleted on
    // completion) — yet the checksum manager was measured to dominate the
    // stateful rows' task time (stack sampling: 56% of q45's executor
    // samples in ChecksumCancellableFSDataOutputStream create/close plus
    // the per-file awaitResult thread spawns; a store commit writes one
    // sidecar per delta file × 4 stores × partitions for a stream-stream
    // join). Checksums of a scratch file deleted milliseconds later buy
    // nothing at ANY scale, so they are off for the duration of each
    // finite replay and restored after — production deployments with
    // durable checkpoints keep Spark's default (set the conf outside this
    // runner; the restore preserves whatever the session had).
    val ckKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val prevCk = spark.conf.getOption(ckKey)
    // the conf sets AND start() sit inside the try: if start() throws
    // (bad plan, unresolvable source), the finally must still restore
    // both session-global overrides — otherwise retention=10000 and
    // noDataBatches=false would leak into every later query this session
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      if (!noDataBatches) spark.conf.set(confKey, "false")
      spark.conf.set(retKey, progressRetention.toString)
      spark.conf.set(ckKey, "false")
      q = stream.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      q.processAllAvailable()
      val progress = q.recentProgress
      // a saturated buffer means the data-batch count below could be
      // incomplete — that must be an error, not a weaker guard
      require(progress.length < progressRetention,
        s"$name: progress buffer saturated at $progressRetention batches; " +
          "raise StreamRunner.progressRetention for this workload")
      dataBatchRule(progress.count(_.numInputRows > 0))
      // Micro-batch accounting: one line per progress event — batch id,
      // input rows, trigger wall time, state rows — recorded into
      // StreamMetrics (Bench writes it to BENCH_DETAIL.json) and, under
      // SPARK_GRAFT_STREAM_METRICS=1, echoed to stderr (stderr keeps the
      // Bench stdout contract line clean). Per-batch lines are capped;
      // the summary line is always recorded.
      val echo = sys.env.contains("SPARK_GRAFT_STREAM_METRICS")
      def rec(line: String): Unit = {
        StreamMetrics.add(line)
        if (echo) System.err.println(s"[stream-metrics] $line")
      }
      val totalTrig = progress.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong)).sum
      rec(s"$name batches=${progress.length} " +
        s"dataBatches=${progress.count(_.numInputRows > 0)} " +
        s"rows=${progress.map(_.numInputRows).sum} totalTriggerMs=$totalTrig")
      progress.take(16).foreach { p =>
        val state = p.stateOperators.map(s =>
          s"${s.operatorName}:rows=${s.numRowsTotal},updated=${s.numRowsUpdated}")
          .mkString(";")
        val trig = Option(p.durationMs.get("triggerExecution"))
          .map(_.toString).getOrElse("-")
        rec(s"$name batch=${p.batchId} rows=${p.numInputRows} " +
          s"triggerMs=$trig state=$state")
      }
    } finally {
      if (q != null) q.stop()
      if (!noDataBatches) prevConf match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
      prevRet match {
        case Some(v) => spark.conf.set(retKey, v)
        case None => spark.conf.unset(retKey)
      }
      prevCk match {
        case Some(v) => spark.conf.set(ckKey, v)
        case None => spark.conf.unset(ckKey)
      }
    }
    spark.table(name)
  }
}
