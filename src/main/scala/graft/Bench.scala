package graft

import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total",...,"queries":{...}}.
  *
  * A small warm-up action runs first so session/JIT/classloading cost does
  * not land on whichever query happens to run first; queries then run in
  * sorted name order for stable comparisons across rounds. Each query runs
  * once cold then three times warm: `queries`/`value` report the
  * steady-state time (min over cold + 3 warm runs) — engine throughput
  * rather than one-off JVM JIT + codegen-compile cost — and `cold` keeps
  * the first-run times for transparency. Min-of-3 matters: BASELINE.md's
  * yardstick is itself a min-of-3 noise floor, and a single warm sample
  * gated against a floor statistically guarantees false 2x flags on
  * sub-second queries (one suite run once raised seven such flags, all on
  * untouched paths). Matching the statistic on both sides of the gate removes that
  * failure mode; scheduler jitter of a few hundred ms no longer reads as
  * a 5x regression on a 130 ms map-only query.
  *
  * The per-query measurement ([[measure]]) is shared with
  * [[graft.tools.Profile]], so a profile of a few queries times them
  * exactly as the suite does.
  */
object Bench {

  /** Per-query Spark-side accounting: job/stage/task counts plus the
    * decomposition of task wall time into executor run time, GC, and
    * scheduler delay. "Jobs × per-job overhead vs compute" is the axis
    * that separates the many-jobs-per-query families (training loops,
    * iterative contractions, multi-branch audits) from plan regressions:
    * a contended-scheduler window shows up as scheduler-delay mass with
    * flat run time; a plan regression shows up as run-time mass.
    * Counters are cumulative; [[measure]] snapshots deltas per query.
    */
  final class Acct extends SparkListener {
    private val jobs, stages, tasks, taskWallMs, runMs, gcMs, schedMs =
      new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val info = t.taskInfo
      val m = t.taskMetrics
      if (info != null) taskWallMs.addAndGet(info.duration)
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        if (info != null) {
          // the UI's schedulerDelay: task wall minus every accounted
          // phase — what's left is queueing + dispatch, i.e. the
          // per-job overhead that multiplies under host contention.
          // gettingResultTime is a START timestamp (0 = no indirect
          // result fetch); its duration must be subtracted too, or a
          // result-heavy task's fetch time masquerades as scheduler delay
          val fetchMs =
            if (info.gettingResultTime > 0)
              info.finishTime - info.gettingResultTime
            else 0L
          val d = info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetchMs
          schedMs.addAndGet(math.max(0L, d))
        }
      }
    }
    /** Current totals, in [[Acct.cols]] order. */
    def snap(): Seq[Long] = Seq(jobs.get, stages.get, tasks.get,
      taskWallMs.get, runMs.get, gcMs.get, schedMs.get)
  }
  object Acct {
    val cols: Seq[String] = Seq("jobs", "stages", "tasks", "task_wall_ms",
      "run_ms", "gc_ms", "sched_delay_ms")
  }

  /** One query's measurement. `runs` is [cold, warm1..warm3] in seconds,
    * -1 for a sample that threw; `steady` is the min over the successful
    * samples (-1 when none succeeded); `spread` is their max/min;
    * `sampleTOff` are the samples' start offsets and `tOff` the query's;
    * `preBytes` is what the query parked in the block manager after the
    * cold run, `resBytes`/`resRdds` what survived every release;
    * `acctDelta` is the [[Acct]] delta over all four samples; `error` is
    * the first failing sample's exception as "Class: message".
    */
  final case class QBench(name: String, steady: Double, cold: Double,
                          runs: Seq[Double], spread: Double, tOff: Double,
                          sampleTOff: Seq[Double],
                          preBytes: Long, resBytes: Long, resRdds: Int,
                          acctDelta: Seq[Long], stream: Seq[String],
                          error: Option[String]) {
    /** A sample that threw times as -1, which can never trip a flag — so
      * a failure is reported by name instead. */
    def failed: Boolean = steady < 0 || cold < 0
  }

  val warmRuns = 3

  /** Listener events post asynchronously; drain the bus before each
    * snapshot so a query's trailing events don't bleed into the next
    * query's delta. waitUntilEmpty is private[spark] (public in
    * bytecode) — reflective call, best-effort fallback to a short sleep.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(50) }

  /** Drop every persist a query created, so each rerun redoes the data
    * work (CacheManager plan-matching would otherwise serve it from
    * memory): "warm" means warm JIT/codegen, cold data. The two registries
    * are drained per run rather than grown across the suite.
    * `Checkpoints.releaseAll` frees the localCheckpoint blocks behind the
    * iterative operators' supersteps, which are neither SQL-cache entries
    * nor CacheRegistry frames and otherwise die only when a JVM GC lets
    * the ContextCleaner notice (dead blocks from early graph queries were
    * measured pressuring the storage pool of later ones, BASELINE.md). Order matters: CacheRegistry persists may root in
    * checkpoint blocks, never the reverse.
    */
  def dropCaches(spark: SparkSession): Unit = {
    CacheRegistry.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    Checkpoints.releaseAll()
  }

  /** Cached bytes + RDD count the block manager holds right now. */
  private def storageNow(spark: SparkSession): (Long, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum, infos.length)
  }

  /** Exercise the parquet reader, codegen and shuffle machinery once. */
  def warmUp(spark: SparkSession): Unit =
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

  /** Time `fn` once cold and [[warmRuns]] times warm on `sfDir`, dropping
    * caches after every run, with `acct`'s delta over all four samples.
    * Offsets are seconds since `t0` (a `System.nanoTime` reading).
    */
  def measure(spark: SparkSession, sfDir: String, acct: Acct, name: String,
              fn: (SparkSession, String) => DataFrame,
              t0: Long = System.nanoTime()): QBench = {
    def tNow(): Double = (System.nanoTime() - t0) / 1e9
    // a failed query must not masquerade as a fast one: report -1 and
    // keep what it threw; a fatal error (OOM) ends the run instead
    var error: Option[String] = None
    def timeOnce(): Double = {
      val s = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - s) / 1e9 }
      catch {
        case scala.util.control.NonFatal(e) =>
          if (error.isEmpty) error = Some(s"${e.getClass.getName}: ${e.getMessage}")
          -1.0
      }
    }
    val tOff = tNow()
    drainListenerBus(spark)
    val acct0 = acct.snap()
    // per-sample start offsets tell "all four samples slow" (a query
    // property) from "the samples inside a bad host window slow"
    val sampleT = scala.collection.mutable.ArrayBuffer(tNow())
    val cold = timeOnce()
    // what THIS query parked in the block manager (after the cold run)
    // vs the residual surviving every release (after the last warm run):
    // dead superstep blocks must be freed per query, not accumulate
    val (preBytes, _) = storageNow(spark)
    dropCaches(spark)
    val warms = Seq.fill(warmRuns) {
      sampleT += tNow()
      val t = timeOnce(); dropCaches(spark); t
    }
    val (resBytes, resRdds) = storageNow(spark)
    drainListenerBus(spark)
    val acct1 = acct.snap()
    val runs = cold +: warms
    // a failed run (-1) must not win the min; if ALL runs failed keep -1
    val ok = runs.filter(_ >= 0)
    val steady = if (ok.isEmpty) -1.0 else ok.min
    // ~1 on a quiet box, large when the host was contended: tells a noisy
    // run from a plan regression without rerunning the harness
    val spread = if (ok.isEmpty || ok.min <= 0) -1.0 else ok.max / ok.min
    QBench(name, steady, cold, runs, spread, tOff, sampleT.toSeq,
      preBytes, resBytes, resRdds,
      acct1.zip(acct0).map { case (a, b) => a - b },
      graft.streaming.StreamMetrics.drain(), error)
  }

  /** CPU-availability calibration probe: a fixed single-thread xorshift
    * workload whose wall time depends only on how much CPU the box gives
    * this process (no allocation, no IO, no JIT sensitivity after the
    * first min-of-3). Recorded through the run into BENCH_DETAIL.json, so
    * a contended window is visible in the artifact instead of inferred
    * by exclusion later.
    */
  private def spinOnce(seed: Long): Long = {
    var x = 0x9E3779B97F4A7C15L ^ seed
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 25)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    if (x == 42) System.err.println("") // keep the loop live
    System.nanoTime() - t0
  }
  private def calib(): Double = (1 to 3).map(_ => spinOnce(0L) / 1e6).min

  /** Parallel availability probe: one spin per configured core at once,
    * reporting the SLOWEST thread's wall. A host stealing CORES (not
    * timeslices) leaves a lone spin untouched while every parallel stage
    * runs at a fraction of its parallelism — observed as a suite at 2.2x
    * floors with the single-thread drift at 1.09x
    * (bench_runs/BENCH_DETAIL_r19_contended.json). On a quiet box this
    * tracks the single-thread number; under core steal it inflates by
    * roughly the oversubscription factor. Sampled on the same cadence as
    * the single-thread series because the steal is bursty.
    */
  private def calibPar(nCores: Int): Double = (1 to 2).map { _ =>
    val worst = new AtomicLong(0)
    val threads = (1 to nCores).map { _ =>
      new Thread(() => {
        val ns = spinOnce(Thread.currentThread().getId)
        worst.accumulateAndGet(ns, math.max)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    worst.get / 1e6
  }.min

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the documented target environment (local[32]) the
    // floors were pinned at
    val nCores = GraftConf.envCpus(32)
    // The contract line below must be the ONLY stdout line: ERROR log
    // level (log4j2.properties + setLogLevel) keeps any WARN out of the
    // capture window; GraftConf.session handles the plan-string WARN.
    val spark = GraftConf.session(nCores)
    spark.sparkContext.setLogLevel("ERROR")
    val acct = new Acct
    spark.sparkContext.addSparkListener(acct)

    warmUp(spark)
    val calibStart = calib()
    val calibParStart = calibPar(nCores)

    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    var calibMid = -1.0
    var calibParMid = -1.0
    // wall-clock offsets from bench start give every query and probe a
    // time axis, so a contended window maps to a bounded [start, end]
    // block a reader can correlate with host load
    val benchT0 = System.nanoTime()
    def tNow(): Double = (System.nanoTime() - benchT0) / 1e9
    // one spin probe every calibEvery queries, recorded as (t_off, ms)
    // pairs: an environment slowdown WINDOW shows as a contiguous run of
    // inflated probes. ~25 probes × ~65 ms is ~1.6 s of non-query wall
    // per full suite, outside every per-query timer.
    val calibEvery = 25
    val calibSeries = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val calibParSeries = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val results = sorted.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx % calibEvery == 0) {
        calibSeries += ((tNow(), calib()))
        calibParSeries += ((tNow(), calibPar(nCores)))
      }
      if (idx == sorted.size / 2) {
        calibMid = calib(); calibParMid = calibPar(nCores)
      }
      measure(spark, sfDir, acct, name, fn, benchT0)
    }
    calibSeries += ((tNow(), calib()))
    val calibEnd = calib()
    val calibParEnd = calibPar(nCores)

    // Self-adjudication: read the floors dict this bench is graded
    // against (BASELINE_RUNS.json `floors`, the complete map) and emit
    // machine-computed flags under BASELINE.md's rule: flag iff
    // x > max(2*floor, floor + 1.0 s), separately for steady and cold.
    // Missing floors are reported, not silently skipped;
    // FloorsCoverageSpec makes them a test failure. The parse is
    // per-ENTRY fault-isolated: one malformed entry skips (and reports)
    // only itself, since a blanked map reads like a healthy run (empty
    // flag dicts) when nothing was gated.
    val floors: Map[String, (Double, Double)] =
      try {
        val node = Json.mapper.readTree(new java.io.File("BASELINE_RUNS.json"))
          .get("floors")
        if (node == null) {
          System.err.println(
            "[bench] WARNING: BASELINE_RUNS.json has no floors dict - " +
              "flags cannot be computed")
          Map.empty
        } else {
          val b = Map.newBuilder[String, (Double, Double)]
          node.fields().forEachRemaining { e =>
            try {
              val st = e.getValue.get("steady"); val cd = e.getValue.get("cold")
              require(st != null && st.isNumber && cd != null && cd.isNumber,
                "steady/cold missing or non-numeric")
              b += e.getKey -> ((st.asDouble, cd.asDouble))
            } catch {
              case ex: Throwable => System.err.println(
                s"[bench] WARNING: floor entry '${e.getKey}' unparseable " +
                  s"($ex) - skipped (it will appear in floors_missing)")
            }
          }
          b.result()
        }
      } catch {
        case ex: Throwable =>
          System.err.println(
            s"[bench] WARNING: floors parse failed entirely ($ex) - " +
              "ALL flags disabled; every query lands in floors_missing")
          Map.empty
      }
    def flagLimit(floor: Double): Double = math.max(2 * floor, floor + 1.0)
    def flaggedOf(sel: QBench => Double, side: Int): Seq[(QBench, Double)] =
      results.flatMap { q =>
        floors.get(q.name)
          .map(f => if (side == 0) f._1 else f._2)
          .filter(floor => sel(q) > flagLimit(floor))
          .map(floor => (q, floor))
      }
    val steadyFlagged = flaggedOf(_.steady, 0)
    val coldFlagged = flaggedOf(_.cold, 1)
    def flagJson(fs: Seq[(QBench, Double)], sel: QBench => Double): JsonNode =
      Json.fields(fs.map { case (q, floor) =>
        q.name -> Json.fields(Seq(
          "sec" -> Json.num3(sel(q)),
          "floor" -> Json.num3(floor),
          "ratio" -> Json.num3(if (floor > 0) sel(q) / floor else -1.0)))
      })
    // Host-contention verdict, computed into the artifact so a contended
    // sample self-labels. Evidence: (a) the spin-probe series (pure CPU
    // availability — drift above ~10% means the host took CPU away
    // mid-run), and (b) for each steady-flagged query, whether any of its
    // sample windows is bracketed by an inflated probe (>1.1x the run's
    // best). This is evidence, not proof: cross-run reproduction remains
    // the decisive rule.
    val calibAll = (calibSeries.map(_._2) ++
      Seq(calibStart, calibMid, calibEnd)).filter(_ > 0)
    val calibBest = if (calibAll.nonEmpty) calibAll.min else -1.0
    val calibDrift = if (calibBest > 0) calibAll.max / calibBest else -1.0
    // Multi-core steal signal: the slowest-thread parallel spin against
    // the run's best SINGLE-thread spin. Threshold 1.4x: parallel probes
    // carry some scheduler noise (JVM/Spark background threads), measured
    // ~1.1-1.2x on a quiet box.
    val calibParAll = (calibParSeries.map(_._2) ++
      Seq(calibParStart, calibParMid, calibParEnd)).filter(_ > 0)
    val calibParWorst = if (calibParAll.nonEmpty) calibParAll.max else -1.0
    val parRatio = if (calibBest > 0 && calibParWorst > 0)
      calibParWorst / calibBest else -1.0
    // a flag is "in a contended window" when bracketed by an inflated
    // probe of EITHER kind: single-thread (timeslice steal) or parallel
    // (core steal)
    val calibParBest = if (calibParAll.nonEmpty) calibParAll.min else -1.0
    def inflatedNear(t: Double): Boolean = {
      def near(series: Seq[(Double, Double)], best: Double,
               thresh: Double): Boolean = {
        val before = series.filter(_._1 <= t).lastOption
        val after = series.find(_._1 > t)
        best > 0 && (before.toSeq ++ after.toSeq).exists(_._2 > thresh * best)
      }
      near(calibSeries.toSeq, calibBest, 1.1) ||
        near(calibParSeries.toSeq, calibParBest, 1.4)
    }
    val steadyFlagsInWindow = steadyFlagged
      .filter { case (q, _) => q.sampleTOff.exists(inflatedNear) }
      .map(_._1.name)
    val driftStr = "%.2f".formatLocal(java.util.Locale.ROOT, calibDrift)
    val parStr = "%.2f".formatLocal(java.util.Locale.ROOT, parRatio)
    val envNote =
      if (calibBest <= 0) "no calibration probes recorded"
      else if (calibDrift > 1.1 && steadyFlagged.nonEmpty)
        s"CONTENDED: calib drift ${driftStr}x > 1.10x - host took " +
          s"CPU away mid-run; ${steadyFlagsInWindow.size}/" +
          s"${steadyFlagged.size} steady flags have a sample bracketed " +
          s"by an inflated probe (${steadyFlagsInWindow.mkString(", ")})" +
          " - adjudicate flags against cross-run floors before reading " +
          "them as regressions"
      else if (calibDrift > 1.1)
        s"CONTENDED: calib drift ${driftStr}x > 1.10x - host took " +
          "CPU away mid-run (no steady flags crossed the rule)"
      else if (parRatio > 1.4)
        s"CONTENDED-PARALLEL: slowest-of-$nCores parallel spin " +
          s"${parStr}x the best single-thread spin (> 1.40x) while " +
          s"single-thread drift is flat (${driftStr}x) - the host is " +
          "stealing CORES, which inflates every parallel stage but not " +
          s"a lone spin; ${steadyFlagsInWindow.size}/" +
          s"${steadyFlagged.size} steady flags have a sample bracketed " +
          "by an inflated probe; adjudicate flags against cross-run floors"
      else
        s"QUIET: calib drift ${driftStr}x <= 1.10x, parallel-spin ratio " +
          s"${parStr}x <= 1.40x - no in-run contention evidence; steady " +
          "flags, if any, are code-suspect until cross-run reproduction " +
          "says otherwise"
    val floorsMissing = results.map(_.name).filterNot(floors.contains)
    if (floorsMissing.nonEmpty)
      System.err.println(s"[bench] WARNING: no floor for " +
        s"${floorsMissing.mkString(", ")} - flags for these are not computed; " +
        "measure iso pairs and add them to BASELINE_RUNS.json floors")
    // "healthy" = flags empty AND failed empty: a query that failed
    // every sample would otherwise self-adjudicate as healthy
    val failedRuns = results.filter(_.failed).map(_.name)
    if (failedRuns.nonEmpty)
      System.err.println(s"[bench] WARNING: queries with FAILED samples " +
        s"(timed as -1, excluded from flag logic): ${failedRuns.mkString(", ")}")
    // the governing-total comparison: the sum of floors over the queries
    // this run actually ran, next to the run's own totals
    val floorTotalSteady = results.flatMap(q => floors.get(q.name).map(_._1)).sum
    val floorTotalCold = results.flatMap(q => floors.get(q.name).map(_._2)).sum
    val flags = Json.fields(Seq(
      "rule" -> Json.text("x > max(2*floor, floor + 1.0s)"),
      "steady" -> flagJson(steadyFlagged, _.steady),
      "cold" -> flagJson(coldFlagged, _.cold),
      "floors_missing" -> Json.strings(floorsMissing),
      "failed" -> Json.strings(failedRuns),
      // what each query with a failing sample threw, "Class: message"
      "errors" -> Json.fields(results.flatMap(q =>
        q.error.map(e => q.name -> Json.text(e)))),
      "floor_total_steady" -> Json.num3(floorTotalSteady),
      "floor_total_cold" -> Json.num3(floorTotalCold),
      "environment" -> Json.text(envNote)))
    def perQuery(sel: QBench => JsonNode): JsonNode =
      Json.fields(results.map(q => q.name -> sel(q)))
    def series(s: Seq[(Double, Double)]): JsonNode = {
      val a = Json.mapper.createArrayNode()
      s.foreach { case (t, ms) =>
        a.add(Json.fields(Seq("t" -> Json.num3(t), "ms" -> Json.num3(ms))))
      }
      a
    }
    val total = results.map(_.steady).sum
    val coldTotal = results.map(_.cold).sum
    // Full per-query detail goes to a file. The harness that collects the
    // printed line keeps only the LAST 2000 characters of stdout (a line
    // carrying every steady entry once lost its opening brace to that
    // window and parsed as null), so the printed contract line carries
    // both totals plus a fixed headline subset; BENCH_DETAIL.json holds
    // the untruncated maps, so a contended run is still self-diagnosing.
    val detail = Json.fields(Seq(
      "metric" -> Json.text("total"),
      "value" -> Json.num3(total),
      "cold_total" -> Json.num3(coldTotal),
      "unit" -> Json.text("sec"),
      "queries" -> perQuery(q => Json.num3(q.steady)),
      "cold" -> perQuery(q => Json.num3(q.cold)),
      // raw samples in run order [cold, warm1..warm3]
      "samples" -> perQuery(q => Json.nums3(q.runs)),
      "spread" -> perQuery(q => Json.num3(q.spread)),
      "t_off" -> perQuery(q => Json.num3(q.tOff)),
      "sample_t_off" -> perQuery(q => Json.nums3(q.sampleTOff)),
      "spark_acct" -> Json.fields(Seq(
        "cols" -> Json.strings(Acct.cols),
        "queries" -> perQuery(q => Json.nums(q.acctDelta)))),
      "storage_pre_bytes" -> perQuery(q => Json.num(q.preBytes)),
      "storage_res_bytes" -> perQuery(q => Json.num(q.resBytes)),
      "storage_res_rdds" -> perQuery(q => Json.num(q.resRdds.toLong)),
      "stream_metrics" -> Json.fields(results.filter(_.stream.nonEmpty)
        .map(q => q.name -> Json.strings(q.stream))),
      "calib_ms" -> Json.fields(Seq(
        "start" -> Json.num3(calibStart),
        "mid" -> Json.num3(calibMid),
        "end" -> Json.num3(calibEnd),
        "series" -> series(calibSeries.toSeq))),
      "calib_par_ms" -> Json.fields(Seq(
        "start" -> Json.num3(calibParStart),
        "mid" -> Json.num3(calibParMid),
        "end" -> Json.num3(calibParEnd),
        "ratio_vs_single" -> Json.num3(parRatio),
        "series" -> series(calibParSeries.toSeq))),
      "flags" -> flags,
      "sf" -> Json.text(sfDir)))
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (Json.write(detail) + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // detail file is best-effort
    val headline = Set(
      "q01_agg_pricing", "q17_reconstruct_state", "q23_snapshot_reconstruct",
      "q24_update_history_args", "q31_snapshot_diff", "q39_sessionize",
      "d05_minhash_pairs", "d12_dedup_clusters", "d19_clean_corpus_v2",
      "d22_jaccard_join")
    def contractLine(queries: Seq[QBench]): String = Json.write(Json.fields(Seq(
      "metric" -> Json.text("total"),
      "value" -> Json.num3(total),
      "unit" -> Json.text("sec"),
      "queries" -> Json.fields(queries.map(q => q.name -> Json.num3(q.steady))),
      "cold_total" -> Json.num3(coldTotal),
      "n_queries" -> Json.num(results.size.toLong),
      "detail" -> Json.text("BENCH_DETAIL.json"),
      "sf" -> Json.text(sfDir))))
    val line = contractLine(results.filter(q => headline(q.name)))
    // hard guard: if this ever grows past the capture window again, drop
    // the per-query map entirely rather than break the driver's parse
    println(if (line.length <= 1800) line else contractLine(Nil))
    spark.stop()
  }
}
