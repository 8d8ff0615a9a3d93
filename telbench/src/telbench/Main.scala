package telbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** One measured operation. `cycleMs` runs from the operation's start to the
  * next one's, so it also covers the output check and clean-up.
  */
final case class Sample(i: Long, kind: String, traced: Boolean, latMs: Double,
                        cycleMs: Double, error: Option[String], rowsOut: Long,
                        storageBytes: Double, rddBytes: Double,
                        extra: Map[String, Double]) {
  def ok: Boolean = error.isEmpty
}

/** Benchmark entry point:
  * `telbench.Main --workload <point_lookup|history_compact|dedup_graph>
  *  --seed <n> --seconds <s> --trace <0|1> --work <dir> --report <file>`.
  *
  * Sets the store up three times (set-up time is their median), warms up
  * with untimed reads, then runs a closed loop with one client thread until
  * `--seconds` pass: the next operation starts only after the previous one
  * returned, its result was collected and checked. With `--trace 1` every
  * other operation is traced and the last stdout line carries the per-layer
  * metrics instead of the end-to-end ones.
  */
object Main {
  val Setups = 3
  val OpTimeoutSeconds = 60L

  /** End-to-end metrics of the result line: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "op_p50_ms" -> "ms", "ops_per_s" -> "1/s", "setup_s" -> "s", "store_bytes_per_record" -> "B")
  /** End-to-end metrics kept to the report: a run holds too few operations
    * for a tail with ten samples beyond it, and the block-manager bytes of
    * the telemetry workloads are broadcast pieces whose release waits on GC.
    */
  val ReportOnly: Seq[(String, String)] = Seq("op_tail_ms" -> "ms", "peak_storage_mb" -> "MB")

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "point_lookup" => new PointLookup(spark, seed, nMsgs = 25000)
    case "history_compact" => new HistoryCompact(spark, seed, nMsgs = 50000)
    case "dedup_graph" => new DedupGraph(spark, seed, nDocs = 2000)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = arg("work")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("telbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.GraftConf.localFsConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val out = measure(spark, arg("workload"), seed, seconds, trace, work, a)
      val json = Json.write(out.report)
      java.nio.file.Files.write(java.nio.file.Paths.get(arg("report")),
        json.getBytes("UTF-8"))
      println(Json.write(out.contract))
    } finally spark.stop()
  }

  final case class Outcome(contract: Map[String, Any], report: Map[String, Any])

  def measure(spark: SparkSession, name: String, seed: Long, seconds: Double,
              trace: Boolean, work: String, args: Map[String, String]): Outcome = {
    val sc = spark.sparkContext
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(n: String): Unit = {
      val now = System.nanoTime(); phases(n) = (now - mark) / 1e9; mark = now
    }
    val listener = new SpanListener
    if (trace) sc.addSparkListener(listener)
    val tr = new Tracer(sc)

    val wl = workload(name, spark, seed)

    // set-ups: the same store, built Setups times; the last one is used
    val setupSec = mutable.ArrayBuffer.empty[Double]
    val setupSpans = mutable.ArrayBuffer.empty[Span]
    for (k <- 0 until Setups) {
      tr.on = trace && k % 2 == 1
      tr.op = -1 - k
      val t0 = System.nanoTime()
      tr.span("setup")(wl.setup(s"$work/store$k", tr))
      setupSec += (System.nanoTime() - t0) / 1e9
      if (tr.on) setupSpans += tr.spans.filter(_.parent == -1).last
      tr.on = false
      if (k > 0) StoreWriter.delete(s"$work/store${k - 1}")
    }
    phase("setups")

    // warm-up: untimed reads, so that the first measured operation does not
    // carry the process's class loading, JIT and code generation. A traced
    // run compares traced with untraced operations, so it warms up at least
    // once and measures at least one of each.
    val warmN = if (trace) math.max(wl.warmOps, 1) else wl.warmOps
    val warmMs = (1 to warmN).map(k => runOp(sc, tr, wl, -k, traced = false, warm = true).latMs)
    phase("warmup")

    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0L
    var last = t0
    // an operation starts only if half a typical one still fits before the
    // deadline, so that a run of long operations measures about `seconds`
    def fits(now: Long): Boolean = now < deadline &&
      (samples.isEmpty || now + Stats.median(samples.map(_.latMs).toSeq) * 1e6 / 2 < deadline)
    while (fits(System.nanoTime()) || (trace && i < 2)) {
      val s = runOp(sc, tr, wl, i, traced = trace && i % 2 == 0, warm = false)
      val now = System.nanoTime()
      samples += s.copy(cycleMs = (now - last) / 1e6)
      last = now
      i += 1
    }
    val elapsed = (last - t0) / 1e9
    if (trace) listener.drain()
    phase("measure")

    val e2e = endToEnd(wl, samples.toSeq, elapsed, setupSec.toSeq)
    val failed = samples.count(!_.ok)
    val layer = if (trace) Layers.compute(tr, listener, samples.toSeq, setupSpans.toSeq) else Map.empty[String, Double]
    val overhead: Map[String, Any] = if (!trace) Map.empty else {
      val tSide = endToEnd(wl, samples.filter(_.traced).toSeq, Double.NaN, Seq(setupSec(1)))
      val uSide = endToEnd(wl, samples.filterNot(_.traced).toSeq, Double.NaN, Seq(setupSec(2)))
      (EndToEnd ++ ReportOnly).map { case (m, u) =>
        m -> Map("traced" -> tSide(m), "untraced" -> uSide(m), "unit" -> u,
          "overhead" -> (tSide(m) - uSide(m)))
      }.toMap
    }
    val metrics: Map[String, Any] =
      if (trace) Layers.Units.map { case (m, u) =>
        m -> Map("value" -> finite(layer.getOrElse(m, 0.0)), "unit" -> u)
      }.toMap ++ overhead.collect { case (m, o: Map[String, Any] @unchecked)
          if EndToEnd.exists(_._1 == m) =>
        s"trace.overhead.$m" -> Map("value" -> finite(o("overhead").asInstanceOf[Double]),
          "unit" -> o("unit"))
      }
      else EndToEnd.map { case (m, u) => m -> Map("value" -> finite(e2e(m)), "unit" -> u) }.toMap

    val primary = samples.filter(_.kind == wl.primary).map(s => if (s.ok) s.latMs else Double.PositiveInfinity)
    val (tailPct, _, beyond) = if (primary.isEmpty) (Double.NaN, 0.0, 0) else Stats.tail(primary.toSeq)
    val kinds = samples.groupBy(_.kind).map { case (k, ss) =>
      val lat = ss.map(s => if (s.ok) s.latMs else Double.PositiveInfinity).toSeq
      val (p, v, b) = Stats.tail(lat)
      k -> Map("n" -> ss.size, "failed" -> ss.count(!_.ok), "p50_ms" -> finite(Stats.median(lat)),
        "tail_ms" -> finite(v), "tail_percentile" -> p, "beyond_tail" -> b,
        "mean_rows_out" -> ss.map(_.rowsOut).sum.toDouble / ss.size)
    }
    val pool = sc.getExecutorMemoryStatus.values.map(_._1).sum
    val report = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "environment" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_master" -> sc.master, "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "storage_pool_bytes" -> pool,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "git_sha" -> args.getOrElse("git-sha", "unknown"),
        "source_sha256" -> args.getOrElse("source-hash", "unknown"),
        "client" -> "one thread, closed loop"),
      "sizes" -> wl.sizes,
      "attempted" -> samples.size, "failed" -> failed,
      "failed_frac" -> (if (samples.isEmpty) 1.0 else failed.toDouble / samples.size),
      "errors" -> samples.flatMap(s => s.error.map(e => s"op ${s.i} (${s.kind}): $e")).take(10),
      "end_to_end" -> (EndToEnd ++ ReportOnly).map { case (m, u) =>
        m -> Map("value" -> finite(e2e(m)), "unit" -> u) }.toMap,
      "tail" -> Map("percentile" -> tailPct, "samples" -> primary.size, "beyond" -> beyond),
      "setup_seconds" -> setupSec.toSeq,
      "warmup_ms" -> warmMs,
      "elapsed_s" -> elapsed,
      "phases_s" -> phases,
      "by_kind" -> kinds,
      "latencies_ms" -> samples.map(s => Seq(s.i, s.kind, s.latMs, s.extra)),
      "workload_report" -> wl.report,
      "per_layer" -> layer,
      "trace_detail" -> (if (trace) Layers.detail(tr, samples.toSeq) else Map.empty),
      "tracing_overhead" -> overhead)
    val contract = scala.collection.immutable.ListMap(
      "correct" -> (failed == 0 && samples.nonEmpty),
      "attempted" -> math.max(1, samples.size),
      "failed" -> (if (samples.isEmpty) 1 else failed),
      "metrics" -> metrics)
    Outcome(contract, report)
  }

  /** A failed tail reads 1e12 ms rather than infinity (JSON has no
    * infinity); the failure itself is in `failed`.
    */
  def finite(x: Double): Double = if (x.isInfinite) math.signum(x) * 1e12 else x

  def runOp(sc: SparkContext, tr: Tracer, wl: Workload, i: Long, traced: Boolean,
            warm: Boolean): Sample = {
    tr.on = traced
    tr.op = i.toInt
    val group = s"telbench-op-$i"
    sc.setJobGroup(group, group, interruptOnCancel = true)
    val timer = new java.util.Timer(true)
    timer.schedule(new java.util.TimerTask {
      def run(): Unit = sc.cancelJobGroup(group)
    }, OpTimeoutSeconds * 1000)
    val t0 = System.nanoTime()
    val res = Try(tr.span("op")(wl.op(i, tr, warm)))
    val latMs = (System.nanoTime() - t0) / 1e6
    timer.cancel()
    sc.clearJobGroup()
    tr.on = false
    val storage = sc.getExecutorMemoryStatus.values.map { case (m, r) => m - r }.sum.toDouble
    val rdd = if (traced) sc.getRDDStorageInfo.map(x => x.memSize + x.diskSize).sum.toDouble else 0.0
    graft.CacheRegistry.releaseAll()
    graft.Checkpoints.releaseAll()
    res match {
      case Success(ex) =>
        val err = Try(ex.check(ex.rows)) match {
          case Success(m) => m
          case Failure(e) => Some(s"output check threw $e")
        }
        Sample(i, ex.kind, traced, latMs, latMs, err, ex.rowsOut, storage, rdd, ex.extra)
      case Failure(e) =>
        val why = if (latMs >= OpTimeoutSeconds * 1000) s"timeout after ${OpTimeoutSeconds}s: $e" else e.toString
        Sample(i, wl.kindOf(i, warm), traced, latMs, latMs, Some(why), 0, storage, rdd, Map.empty)
    }
  }

  /** The end-to-end metrics of a sample set. `elapsed` NaN means the
    * sample is interleaved with others, so throughput comes from the
    * samples' own cycle times.
    */
  def endToEnd(wl: Workload, ss: Seq[Sample], elapsed: Double,
               setups: Seq[Double]): Map[String, Double] = {
    val primary = ss.filter(_.kind == wl.primary).map(s => if (s.ok) s.latMs else Double.PositiveInfinity)
    val okOps = ss.count(_.ok)
    val secs = if (elapsed.isNaN) ss.map(_.cycleMs).sum / 1e3 else elapsed
    Map(
      "op_p50_ms" -> (if (primary.isEmpty) Double.PositiveInfinity else Stats.median(primary)),
      "op_tail_ms" -> (if (primary.isEmpty) Double.PositiveInfinity else Stats.tail(primary)._2),
      "ops_per_s" -> (if (secs > 0) okOps / secs else 0.0),
      "setup_s" -> Stats.median(setups),
      "peak_storage_mb" -> (if (ss.isEmpty) 0.0 else ss.map(_.storageBytes).max / 1e6),
      "store_bytes_per_record" -> wl.bytesPerRecord)
  }
}

/** JSON output through the Jackson copy Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
