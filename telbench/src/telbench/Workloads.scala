package telbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.{MapLoader, ParquetLoader, TableLoader, TableWriter}
import graft.model.Telemetry.SnapshotRef
import graft.queries.{Backup, MessageReconstruct, MultipleFields, SnapshotDump,
  UpdateHistory}

/** One finished operation: its kind, the rows it returned, and the output
  * check, which runs on those rows after the operation's clock has stopped
  * and returns a mismatch description or None.
  */
final case class Executed(kind: String, rows: Array[Row], check: Array[Row] => Option[String],
                          rowsOut: Long, extra: Map[String, Double] = Map.empty)

trait Workload {
  /** The kind of operation whose latency is the workload's headline. */
  def primary: String
  /** One full, timed set-up into `dir`. Every set-up builds the same store. */
  def setup(dir: String, tr: Tracer): Unit
  /** Operation `i`; `warm` operations are not measured and never write. */
  def op(i: Long, tr: Tracer, warm: Boolean): Executed
  /** Untimed read operations before the measured loop: the first
    * operations of a process still load classes and compile code.
    */
  def warmOps: Int
  /** The kind operation `i` has, known before it runs. */
  def kindOf(i: Long, warm: Boolean): String = primary
  /** On-disk bytes per live record of the store the operations ran on. */
  def bytesPerRecord: Double
  def sizes: Map[String, Any]
  def report: Map[String, Any] = Map.empty
}

object Workload {
  /** A public call, then forced planning, then execution, each a span. */
  def run(tr: Tracer, build: => DataFrame): Array[Row] = {
    val df = tr.span("build")(build)
    tr.span("plan")(df.queryExecution.executedPlan)
    tr.span("execute")(df.collect())
  }

  def rng(seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)

  def list(xs: Seq[Any]): String = xs.map(x => s"($x)").mkString(",")

  def mismatch[T](what: String, got: Seq[T], want: Seq[T]): Option[String] =
    if (got == want) None
    else {
      val firstDiff = got.zipAll(want, null, null).indexWhere { case (a, b) => a != b }
      Some(s"$what: ${got.size} rows vs ${want.size} expected; first difference at " +
        s"$firstDiff: got ${got.lift(firstDiff)}, want ${want.lift(firstDiff)}")
    }
}

/** The telemetry store both telemetry workloads run on. */
abstract class TelemetryWorkload(spark: SparkSession, seed: Long, nMsgs: Int)
  extends Workload {
  import Workload._

  protected var stream: UpdateStream = _
  protected var replay: Replay = _
  protected var dir: String = _
  /** Start ids of the snapshots in the catalog, ascending. */
  protected var snaps: Vector[Long] = Vector.empty
  protected var logName = "instance_field"
  protected var catalogName = "snapshots"

  def setup(d: String, tr: Tracer): Unit = {
    val (s, r) = tr.span("generate") {
      val s = new UpdateStream(seed)
      s.append(nMsgs)
      (s, new Replay(s))
    }
    val starts = (1 until 8).map(k => k.toLong * nMsgs / 8)
    tr.span("write")(StoreWriter.write(spark, d, s, r, starts))
    stream = s; replay = r; dir = d; snaps = starts.toVector
    logName = "instance_field"; catalogName = "snapshots"
  }

  protected def loader = new ParquetLoader(spark, dir)

  protected def snapshot(name: String): DataFrame =
    spark.read.parquet(StoreWriter.snapshotPath(dir, name))

  protected def snapMin(t: Long): Option[Long] = snaps.filter(_ <= t).lastOption

  /** A request triple: mostly a key its source really emits (source by
    * popularity), sometimes any field of any source, which may never have
    * been updated.
    */
  protected def triple(r: SplittableRandom): (Int, Int, Int) =
    if (r.nextDouble() < 0.1) {
      val src = r.nextInt(Layout.Sources)
      (1 + r.nextInt(Layout.Fields), src, Layout.dstOf(src))
    } else {
      val src = stream.sources.sample(r)
      val (a, b) = Layout.typesOf(src)
      (Layout.fieldId(if (r.nextBoolean()) a else b, r.nextInt(Layout.FieldsPerType)),
        src, Layout.dstOf(src))
    }

  protected def triples(r: SplittableRandom, k: Int): Seq[(Int, Int, Int)] = {
    val out = mutable.LinkedHashSet.empty[(Int, Int, Int)]
    while (out.size < k) out += triple(r)
    out.toSeq
  }

  def bytesPerRecord: Double = StoreWriter.bytes(dir).toDouble / liveLogRows

  protected def liveLogRows: Long = stream.nUpdates

  def sizes: Map[String, Any] = Map(
    "messages" -> stream.nMsgs,
    "updates" -> stream.nUpdates,
    "live_log_rows" -> liveLogRows,
    "snapshots" -> snaps.size,
    "bytes" -> Map(
      "instance_field" -> StoreWriter.bytes(s"$dir/$logName.parquet"),
      "instance_message" -> StoreWriter.bytes(s"$dir/instance_message.parquet"),
      "snapshots" -> StoreWriter.bytes(s"$dir/snapshot_tables.parquet"),
      "store_total" -> StoreWriter.bytes(dir)))
}

/** Point-in-time lookups on a read-only store: ~70% multi-field lookups of
  * 1-8 triples, ~30% whole-message reconstructions, targets uniform over
  * the id range.
  */
final class PointLookup(spark: SparkSession, seed: Long, nMsgs: Int)
  extends TelemetryWorkload(spark, seed, nMsgs) {
  import Workload._

  val primary = "lookup"
  // latencies settle after about ten lookups in a fresh process; after five,
  // the next few still run about 20% slower
  val warmOps = 10

  // A session opens the read-only store once: the tables and the snapshot
  // tables are read (listed, schema resolved) at the end of each set-up, and
  // every request reuses them, so a request pays only for its own work. A
  // snapshot is a partition of one table, pruned by name.
  private var tables: TableLoader = _
  private var snapTables: Map[String, DataFrame] = Map.empty

  override def setup(d: String, tr: Tracer): Unit = {
    super.setup(d, tr)
    tr.span("open") {
      val l = loader
      tables = new MapLoader(Seq(logName, "instance_message", "uevol_field", catalogName)
        .map(n => n -> l.table(n)).toMap)
      val all = spark.read.parquet(s"$d/snapshot_tables.parquet")
      snapTables = snaps.map(at => s"snap_$at")
        .map(n => n -> all.where(col("name") === n).drop("name")).toMap
    }
  }

  /** What a request asked, for the report: its target, how far into its
    * epoch the target lies, and its triple count (0 for a whole message).
    */
  private def request(t: Long, triples: Int): Map[String, Double] = Map(
    "target" -> t.toDouble, "epoch_offset" -> (t - snapMin(t).getOrElse(0L)).toDouble,
    "triples" -> triples.toDouble)

  def op(i: Long, tr: Tracer, warm: Boolean): Executed = {
    val r = rng(seed, i)
    val t = r.nextInt(nMsgs).toLong
    val l = tables
    val catalog = Some(l.table(catalogName))
    // a fixed 7:3 interleaving and a fixed cycle of triple counts, so that
    // every run of a few operations has the same request mix
    if (!Seq(2, 5, 8).contains(Math.floorMod(i, 10L).toInt)) {
      val ts = triples(r, 1 + Math.floorMod(3 * i, 8L).toInt)
      val rows = run(tr, MultipleFields.getMultipleFields(l.table(logName),
        l.table("uevol_field"), catalog, snapTables,
        MultipleFields.parseArgs(spark, list(ts.map(_._1)), list(ts.map(_._2)),
          list(ts.map(_._3))), t))
      Executed("lookup", rows, rs => mismatch("getMultipleFields",
        rs.map(Row8.of).toSeq.sorted,
        ts.flatMap { case (f, s, d) => replay.pointRows(f, s, d, t, snapMin(t)) }.sorted),
        rows.length, request(t, ts.size))
    } else {
      val rows = run(tr, MessageReconstruct.getMessage(l.table(logName),
        l.table("instance_message"), l.table("uevol_field"), catalog, snapTables, t))
      Executed("lookup", rows, rs => {
        val ti = t.toInt
        val (tpe, src) = (stream.msgType(ti), stream.msgSrc(ti))
        mismatch("getMessage", rs.map(Row8.of).toSeq.sorted,
          (0 until Layout.FieldsPerType).flatMap(j => replay.pointRows(
            Layout.fieldId(tpe, j), src, Layout.dstOf(src), t, snapMin(t))).sorted)
      }, rows.length, request(t, 0))
    }
  }
}

/** History reads over a log that grows and is compacted while it is read.
  * Every `maintEvery`-th operation appends a batch, dumps a snapshot at the
  * head, compacts the log behind a cutoff and rewrites it; reads only
  * target ids at or after the oldest snapshot that survives compaction.
  */
final class HistoryCompact(spark: SparkSession, seed: Long, nMsgs: Int)
  extends TelemetryWorkload(spark, seed, nMsgs) {
  import Workload._

  val primary = "history"
  val warmOps = 1
  private val maintEvery = 4
  private val batch = nMsgs / 32
  private val retain = nMsgs / 2
  private var lo = 0L
  private var version = 0
  private var liveRows = 0L
  private val storeSamples = mutable.ArrayBuffer.empty[Double]

  override def setup(d: String, tr: Tracer): Unit = {
    super.setup(d, tr)
    lo = 0L; version = 0; liveRows = stream.nUpdates; storeSamples.clear()
  }

  override protected def liveLogRows: Long = liveRows

  override def bytesPerRecord: Double =
    if (storeSamples.isEmpty) super.bytesPerRecord else Stats.median(storeSamples.toSeq)

  override def report: Map[String, Any] = Map("maintenance_steps" -> storeSamples.size,
    "readable_from" -> lo, "head" -> (stream.nMsgs - 1))

  // maintenance comes second in each cycle, so even a short run writes
  override def kindOf(i: Long, warm: Boolean): String =
    if (!warm && i % maintEvery == 1) "maintain" else "history"

  def op(i: Long, tr: Tracer, warm: Boolean): Executed =
    if (kindOf(i, warm) == "maintain") maintain(tr) else read(i, tr)

  private def read(i: Long, tr: Tracer): Executed = {
    val r = rng(seed, i)
    val head = stream.nMsgs - 1L
    val len = ((0.01 + 0.24 * r.nextDouble()) * nMsgs).toLong
    val start = lo + (r.nextDouble() * (head - lo - len)).toLong
    val end = start + len
    val wide = i % 2 == 0
    val ts = triples(r, if (wide) 2 + r.nextInt(5) else 10 + r.nextInt(41))
    val filtered = wide && r.nextDouble() < 0.25
    val filters = ts.indices.map(k => if (filtered && k == 0) "value > 500000" else "")
    val l = loader
    val rows = run(tr, UpdateHistory.updateHistoryFromLog(l.table(logName),
      l.table("uevol_field"), Some(l.table(catalogName)), snapshot,
      MultipleFields.parseArgs(spark, list(ts.map(_._1)), list(ts.map(_._2)),
        list(ts.map(_._3)), list(filters)), start, end, wide))
    Executed("history", rows, rs =>
      History.check(replay, ts, filtered, start, end, wide, rs), rows.length)
  }

  private def maintain(tr: Tracer): Executed = {
    val l = loader
    val (m0, u0) = (stream.nMsgs, stream.nUpdates)
    stream.append(batch)
    val head = stream.nMsgs - 1L
    val (newLog, bcs) = tr.span("append") {
      val (msgs, b1) = StoreWriter.instanceMessages(spark, stream, m0, stream.nMsgs)
      msgs.write.mode("append").parquet(s"$dir/instance_message.parquet")
      val (upd, b2) = StoreWriter.instanceFields(spark, stream, u0, stream.nUpdates)
      (l.table(logName).unionByName(upd), Seq(b1, b2))
    }
    tr.span("snapshot") {
      SnapshotDump.dump(newLog, head).write.mode("overwrite")
        .parquet(StoreWriter.snapshotPath(dir, s"snap_$head"))
    }
    val cutoff = snaps.filter(_ <= head - retain).lastOption
    val next = s"instance_field_v${version + 1}"
    tr.span("compact") {
      val out = cutoff match {
        case Some(c) => Backup.compact(newLog, l.table("instance_message"),
          l.table("uevol_field"), Layout.logTime(c))
        case None => newLog
      }
      TableWriter.writeDeltaLog(out, s"$dir/$next.parquet")
    }
    bcs.foreach(_.destroy())
    val kept = snaps.filter(s => cutoff.forall(s >= _)) :+ head
    val retired = snaps.filterNot(kept.contains)
    val nextCatalog = s"snapshots_v${version + 1}"
    StoreWriter.writeCatalog(spark, dir, nextCatalog, kept.map(at => SnapshotRef(s"snap_$at", at)))
    StoreWriter.delete(s"$dir/$logName.parquet")
    StoreWriter.delete(s"$dir/$catalogName.parquet")
    retired.foreach(at => StoreWriter.delete(StoreWriter.snapshotPath(dir, s"snap_$at")))
    version += 1; logName = next; catalogName = nextCatalog; snaps = kept
    lo = cutoff.getOrElse(lo)
    val expectedRows = History.compactedRows(stream, cutoff)
    Executed("maintain", Array.empty, _ => {
      replay = new Replay(stream)
      liveRows = spark.read.parquet(s"$dir/$logName.parquet").count()
      storeSamples += StoreWriter.bytes(dir).toDouble / liveRows
      val snapRows = snapshot(s"snap_$head").count()
      val wantSnap = StoreWriter.snapshotRows(replay, head).size
      if (liveRows != expectedRows)
        Some(s"compacted log holds $liveRows rows, expected $expectedRows")
      else if (snapRows != wantSnap)
        Some(s"head snapshot holds $snapRows keys, expected $wantSnap")
      else None
    }, 0)
  }
}

/** Independent answers for the history reads. */
object History {

  /** Rows `Backup.compact` keeps behind cutoff `c`: every update at or after
    * it, plus one row for each field whose updates all precede it.
    */
  def compactedRows(s: UpdateStream, cutoff: Option[Long]): Long = cutoff match {
    case None => s.nUpdates
    case Some(c) =>
      var recent = 0L
      val before, after = new Array[Boolean](Layout.Fields + 1)
      for (i <- 0 until s.nUpdates) {
        if (s.updMsg(i) >= c) { recent += 1; after(s.updField(i)) = true }
        else before(s.updField(i)) = true
      }
      recent + (1 to Layout.Fields).count(f => before(f) && !after(f))
  }

  /** LOCF history of `ts` over [start, end]: one instant at `start` seeded
    * with the state there (the value of the smallest path, or -1), then
    * every instant at which any triple was updated; at an instant a triple
    * takes the largest value written to any of its paths, and keeps its
    * previous value where nothing was written. A filtered first triple
    * keeps only instants where its value exceeds 500000.
    */
  def expected(r: Replay, ts: Seq[(Int, Int, Int)], filtered: Boolean,
               start: Long, end: Long): (Seq[Long], Seq[Seq[Long]]) = {
    val events = ts.map { case (f, s, d) =>
      Layout.pathsOf(f).toSeq.flatMap(p => r.updates(f, s, d, p, start, end))
        .groupBy(_._1).map { case (id, vs) => id.toLong -> vs.map(_._2).max }
    }
    val seeds = ts.map { case (f, s, d) =>
      r.state(f, s, d, start).sortBy(x => Layout.Paths(x._1)).headOption
        .map(_._3).getOrElse(-1L)
    }
    val instants = (events.flatMap(_.keys) :+ start).distinct.sorted
    val cols = ts.indices.map { k =>
      var v = math.max(seeds(k), events(k).getOrElse(start, Long.MinValue))
      instants.map { t =>
        if (t != start) events(k).get(t).foreach(v = _)
        v
      }
    }
    val keep = instants.indices.filter(x => !filtered || cols(0)(x) > 500000L)
    (keep.map(instants), keep.map(x => cols.map(_(x))))
  }

  def check(r: Replay, ts: Seq[(Int, Int, Int)], filtered: Boolean, start: Long,
            end: Long, wide: Boolean, rows: Array[Row]): Option[String] = {
    val (instants, values) = expected(r, ts, filtered, start, end)
    if (wide) {
      val names = ts.map { case (f, s, d) => UpdateHistory.colName(f, s, d) }
      Workload.mismatch("updateHistoryFromLog(wide)",
        rows.toSeq.map(row => row.getAs[Long]("instance_message_id") +:
          names.map(n => row.getAs[Long](n))),
        instants.indices.map(x => instants(x) +: values(x)))
    } else {
      val order = ts.indices.sortBy(k => ts(k))
      Workload.mismatch("updateHistoryFromLog(long)",
        rows.toSeq.map(row => Seq(row.getAs[Long]("instance_message_id"),
          row.getAs[Int]("uevol_field_id").toLong, row.getAs[Int]("src_id").toLong,
          row.getAs[Int]("dst_id").toLong, row.getAs[Long]("value"))),
        instants.indices.flatMap(x => order.map { k =>
          val (f, s, d) = ts(k)
          Seq(instants(x), f.toLong, s.toLong, d.toLong, values(x)(k))
        }))
    }
  }
}

/** The dedup/graph chain on a planted near-duplicate corpus: near-dup
  * pairs, connected components, PageRank, label propagation and k-core,
  * each stage forced by collecting its output.
  */
final class DedupGraph(spark: SparkSession, seed: Long, nDocs: Int) extends Workload {
  import Workload._
  import graft.functions.{GraphOps, MinHashLSH}

  val primary = "pipeline"
  // one chain is ~170 Spark jobs, as long as a whole run: a batch job pays
  // its warm-up in every process, so the measured chain starts cold
  val warmOps = 0
  private val threshold = 0.5
  private val coreK = 3
  private var corpus: Corpus = _
  private var dir: String = _
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var lastCounts = Map.empty[String, Long]

  def setup(d: String, tr: Tracer): Unit = {
    val c = tr.span("generate")(new Corpus(seed, nBase = nDocs / 4, target = nDocs))
    tr.span("write") {
      import spark.implicits._
      c.docs.toSeq.map { case (id, t, _) => (id, t) }.toDF("id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
    }
    corpus = c; dir = d
  }

  def bytesPerRecord: Double = StoreWriter.bytes(s"$dir/documents.parquet").toDouble / corpus.docs.length

  def sizes: Map[String, Any] = Map("documents" -> corpus.docs.length,
    "planted_clusters" -> corpus.sizes.count(_ > 1),
    "largest_cluster" -> corpus.sizes.max,
    "bytes" -> Map("documents" -> StoreWriter.bytes(s"$dir/documents.parquet")),
    "last_chain" -> lastCounts)

  override def report: Map[String, Any] = Map(
    "planted_recall" -> (if (recalls.isEmpty) null else Stats.median(recalls.toSeq)))

  private def storageBytes: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

  def op(i: Long, tr: Tracer, warm: Boolean): Executed = {
    var peak = 0.0
    def stage[T](name: String)(body: => T): T = tr.span(name) {
      val out = body
      if (tr.on) peak = math.max(peak, storageBytes)
      out
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    var pairsDf: DataFrame = null
    val cand = stage("neardup") {
      val rows = run(tr, {
        pairsDf = MinHashLSH.nearDupPairs(docs, "id", "text").persist()
        pairsDf
      })
      rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    }
    val verifiedDf = pairsDf.where(col("jaccard") >= threshold).select("doc_a", "doc_b")
    val both = verifiedDf.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(verifiedDf.select(col("doc_b").as("a"), col("doc_a").as("b")))
    val clusters = stage("clusters")(run(tr, MinHashLSH.clustersStar(verifiedDf)))
    val ranks = stage("pagerank")(run(tr,
      GraphOps.pageRank(verifiedDf, "doc_a", "doc_b", iters = 3, danglingMass = true)))
    val lpa = stage("lpa")(run(tr,
      GraphOps.labelPropagationConverged(both, "a", "b", maxRounds = 4)))
    val core = stage("kcore")(run(tr, GraphOps.kCoreConverged(both, "a", "b", coreK)))
    pairsDf.unpersist(true)
    val verified = cand.filter(_._3 >= threshold).map(p => (p._1, p._2)).toSeq
    lastCounts = Map("candidates" -> cand.length.toLong, "verified" -> verified.size.toLong,
      "nodes" -> clusters.length.toLong)
    val rowsOut = cand.length + clusters.length + ranks.length + lpa.length + core.length
    Executed("pipeline", clusters, cs => check(verified, cs, ranks, lpa, core), rowsOut,
      Map("candidates" -> cand.length.toDouble, "verified" -> verified.size.toDouble,
        "checkpoint_peak_bytes" -> peak))
  }

  private def check(verified: Seq[(Long, Long)], clusters: Array[Row], ranks: Array[Row],
                    lpa: Array[Row], core: Array[Row]): Option[String] = {
    val comp = PairGraph.components(verified)
    val nodes = comp.keySet
    def ids(rows: Array[Row]) = rows.map(_.getLong(0)).toSet
    val got = clusters.map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    recalls += PairGraph.recall(corpus.docs.toSeq.map(d => (d._1, d._3)), comp)
    val wantCore = PairGraph.kCore(verified, coreK)
    val gotCore = core.map(r => r.getAs[Long]("id") -> r.getAs[Long]("degree").toInt).toMap
    val mass = ranks.map(_.getAs[Long]("rank_ppb")).sum
    if (clusters.length != got.size || got != comp)
      Some(s"clustersStar: ${got.size} labels, ${got.count { case (k, v) => !comp.get(k).contains(v) }} " +
        s"differ from the ${comp.size} union-find labels")
    else if (ids(ranks) != nodes) Some(s"pageRank node set: ${ranks.length} vs ${nodes.size}")
    else if (mass > 1000000000L || mass < 900000000L) Some(s"pageRank mass $mass ppb")
    else if (ids(lpa) != nodes) Some(s"labelPropagation node set: ${lpa.length} vs ${nodes.size}")
    else if (lpa.exists(r => comp(r.getAs[Long]("id")) != comp.getOrElse(r.getAs[Long]("community"), -1L)))
      Some("labelPropagation: a community crosses components")
    else if (gotCore != wantCore)
      Some(s"kCore: ${gotCore.size} nodes vs ${wantCore.size} in the $coreK-core")
    else None
  }
}
