package telbench

import java.util.SplittableRandom

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.model.Telemetry.{InstanceField, InstanceMessage, SnapshotRef,
  SnapshotRow, UevolField}

/** Shape of the generated telemetry: 8 message types of 32 fields each,
  * 256 sources, each source emitting two of the types to one destination.
  * Fields are scalar (path "000"), flat arrays ("000.00x") or two-level
  * objects ("001.00x.00y"), so snapshots hold all three JSON degrees.
  */
object Layout {
  val Types = 8
  val FieldsPerType = 32
  val Fields: Int = Types * FieldsPerType
  val Sources = 256
  val Paths: Array[String] = Array("000", "000.000", "000.001", "000.002",
    "001.000.000", "001.000.001", "001.001.000")
  val KeySpace: Int = Fields * Sources * Paths.length

  def fieldId(t: Int, j: Int): Int = t * FieldsPerType + j + 1
  def typeOf(f: Int): Int = (f - 1) / FieldsPerType
  def shape(f: Int): Int = {
    val j = (f - 1) % FieldsPerType
    if (j % 4 == 0) 1 else if (j % 8 == 1) 2 else 0
  }
  private val shapePaths = Array(Array(0), Array(1, 2, 3), Array(4, 5, 6))
  def pathsOf(f: Int): Array[Int] = shapePaths(shape(f))
  def fieldName(f: Int): String = s"F${typeOf(f)}_${(f - 1) % FieldsPerType}"
  def dstOf(src: Int): Int = 1000 + src % 16
  def typesOf(src: Int): (Int, Int) = {
    val a = src % Types
    (a, (a + 1 + (src / Types) % (Types - 1)) % Types)
  }
  def key(f: Int, src: Int, p: Int): Int = ((f - 1) * Sources + src) * Paths.length + p
  def logTime(id: Long): Long = 1600000000000L + id * 250L

  val catalog: Seq[UevolField] = for {
    t <- 0 until Types; j <- 0 until FieldsPerType
  } yield {
    val f = fieldId(t, j)
    UevolField(f, t + 1, fieldName(f), s"field $j of message $t", j, shape(f),
      8, "u", enumerated = false, playback_activated = true,
      online_activated = true)
  }
}

/** Zipf(s) sampler over ranks 0 until n, mapped through a seeded
  * permutation so that which ids are popular depends on the seed while the
  * skew does not.
  */
final class Zipf(n: Int, s: Double, rng: SplittableRandom) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  private val perm = {
    val p = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    perm(lo)
  }
}

/** Growable primitive columns. */
final class IntCol(init: Int = 1 << 16) {
  var a = new Array[Int](init); var n = 0
  def +=(v: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def apply(i: Int): Int = a(i)
}
final class LongCol(init: Int = 1 << 16) {
  var a = new Array[Long](init); var n = 0
  def +=(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def apply(i: Int): Long = a(i)
}

/** The seeded update stream. Message `i` has instance id `i`; each message
  * changes 1-7 of its type's fields, and each changed field updates one or
  * more of its paths. `append` continues the stream, so the store set up
  * for a seed and every later maintenance batch are one reproducible
  * sequence.
  */
final class UpdateStream(seed: Long) {
  import Layout._

  private val rng = new SplittableRandom(seed)
  val sources = new Zipf(Sources, 1.1, rng.split())

  val msgType, msgSrc = new IntCol
  val updMsg, updField, updSrc, updPath, updIter, updPrevId = new IntCol
  val updValue, updPrev = new LongCol

  private val lastId = Array.fill(KeySpace)(-1)
  private val lastVal = Array.fill(KeySpace)(-1L)
  private val iters = new Array[Int](KeySpace)

  def nMsgs: Int = msgType.n
  def nUpdates: Int = updMsg.n

  def append(count: Int): Unit = for (_ <- 0 until count) {
    val id = nMsgs
    val src = sources.sample(rng)
    val (t0, t1) = typesOf(src)
    val t = if (rng.nextBoolean()) t0 else t1
    msgType += t; msgSrc += src
    val k = 1 + rng.nextInt(4) + rng.nextInt(4)
    var used = 0L
    var c = 0
    while (c < k) {
      val j = rng.nextInt(FieldsPerType)
      if ((used & (1L << j)) == 0) {
        used |= 1L << j; c += 1
        val f = fieldId(t, j)
        val ps = pathsOf(f)
        val pick = if (ps.length == 1) 1 else {
          val m = rng.nextInt(1 << ps.length)
          if (m == 0) 1 << rng.nextInt(ps.length) else m
        }
        for (i <- ps.indices if (pick & (1 << i)) != 0) {
          val p = ps(i)
          val kk = key(f, src, p)
          val v = rng.nextLong(1000000L)
          updMsg += id; updField += f; updSrc += src; updPath += p
          updIter += iters(kk); updPrevId += lastId(kk)
          updPrev += lastVal(kk); updValue += v
          iters(kk) += 1; lastId(kk) = id; lastVal(kk) = v
        }
      }
    }
  }

  /** Updates [from, until) as a serializable column slice. */
  def updateSlice(from: Int, until: Int): UpdateSlice = UpdateSlice(from,
    updMsg.a.slice(from, until), updField.a.slice(from, until),
    updSrc.a.slice(from, until), updPath.a.slice(from, until),
    updIter.a.slice(from, until), updPrevId.a.slice(from, until),
    updValue.a.slice(from, until), updPrev.a.slice(from, until))

  /** Messages [from, until) as a serializable column slice. */
  def messageSlice(from: Int, until: Int): MessageSlice =
    MessageSlice(from, msgType.a.slice(from, until), msgSrc.a.slice(from, until))

  /** Order-sensitive FNV-1a hash of the stream (the generator self-test). */
  def hash: Long = {
    var h = 0xcbf29ce484222325L
    def mix(v: Long): Unit = { h ^= v; h *= 0x100000001b3L }
    for (i <- 0 until nMsgs) { mix(msgType(i)); mix(msgSrc(i)) }
    for (i <- 0 until nUpdates) {
      mix(updMsg(i)); mix(updField(i)); mix(updPath(i)); mix(updValue(i))
    }
    h
  }
}

/** Column slices shipped to executors (by broadcast) to build rows. */
final case class UpdateSlice(from: Int, msg: Array[Int], field: Array[Int],
    src: Array[Int], path: Array[Int], iter: Array[Int], prevId: Array[Int],
    value: Array[Long], prev: Array[Long]) {
  def row(i: Int): InstanceField = {
    val k = i - from
    InstanceField(field(k), Layout.typeOf(field(k)) + 1, msg(k), prevId(k),
      src(k), Layout.dstOf(src(k)), Layout.Paths(path(k)), iter(k), prev(k),
      value(k))
  }
}

final case class MessageSlice(from: Int, tpe: Array[Int], src: Array[Int]) {
  def row(i: Int): InstanceMessage = {
    val k = i - from
    InstanceMessage(i, tpe(k) + 1, 1, src(k), 2, Layout.dstOf(src(k)),
      i % 65536, Layout.logTime(i), Layout.logTime(i) + 3)
  }
}

/** The independent answer: a replay index over the generated stream, built
  * by the benchmark alone. For every (field, src, path) it keeps the sorted
  * update ids and values, so the latest value at or before any instant is
  * one binary search.
  */
final class Replay(s: UpdateStream) {
  import Layout._

  private val n = s.nUpdates
  private val start = new Array[Int](KeySpace + 1)
  private val ids = new Array[Int](n)
  private val vals = new Array[Long](n)

  {
    val keys = Array.tabulate(n)(i => key(s.updField(i), s.updSrc(i), s.updPath(i)))
    keys.foreach(k => start(k + 1) += 1)
    for (k <- 0 until KeySpace) start(k + 1) += start(k)
    val fill = java.util.Arrays.copyOf(start, KeySpace)
    for (i <- 0 until n) {
      val k = keys(i); val at = fill(k); fill(k) += 1
      ids(at) = s.updMsg(i); vals(at) = s.updValue(i)
    }
  }

  /** Index of the latest update of `k` with id <= t, or -1. */
  private def latest(k: Int, t: Long): Int = {
    var lo = start(k); var hi = start(k + 1) - 1; var ans = -1
    while (lo <= hi) {
      val m = (lo + hi) >>> 1
      if (ids(m) <= t) { ans = m; lo = m + 1 } else hi = m - 1
    }
    ans
  }

  /** (path index, update id, value) of every path of (f, src) updated at or
    * before `t`; empty when the key was never updated or `dst` is not the
    * source's destination.
    */
  def state(f: Int, src: Int, dst: Int, t: Long): Seq[(Int, Int, Long)] =
    if (src < 0 || src >= Sources || dst != dstOf(src)) Nil
    else pathsOf(f).toSeq.flatMap { p =>
      val i = latest(key(f, src, p), t)
      if (i < 0) None else Some((p, ids(i), vals(i)))
    }

  /** Updates of one path with id in [lo, hi], ascending. */
  def updates(f: Int, src: Int, dst: Int, p: Int, lo: Long, hi: Long): Seq[(Int, Long)] =
    if (src < 0 || src >= Sources || dst != dstOf(src)) Nil
    else {
      val k = key(f, src, p)
      (start(k) until start(k + 1)).iterator
        .filter(i => ids(i) >= lo && ids(i) <= hi)
        .map(i => (ids(i), vals(i))).toSeq
    }

  /** Point-in-time rows of a reconstruction at `t`, as
    * (field, src, dst, name, instance id, path, type, value): a row per
    * updated path, the id of the update or, when that update predates the
    * bracketing snapshot `snapStart`, the snapshot's id; a `-1` sentinel
    * row at path "000" for a key never updated.
    */
  def pointRows(f: Int, src: Int, dst: Int, t: Long, snapStart: Option[Long]): Seq[Row8] = {
    val st = state(f, src, dst, t)
    if (st.isEmpty) Seq(Row8(f, src, dst, fieldName(f), -1L, Paths(0), shape(f), -1.0))
    else st.map { case (p, id, v) =>
      val shown = snapStart.filter(id < _).getOrElse(id.toLong)
      Row8(f, src, dst, fieldName(f), shown, Paths(p), shape(f), v.toDouble)
    }
  }

  /** Snapshot JSON of (f, src) at `t`, in the store's nested format, or
    * None when nothing was updated by then.
    */
  def snapshotJson(f: Int, src: Int, t: Long): Option[String] = {
    val st = state(f, src, dstOf(src), t).map { case (p, _, v) => (Paths(p), v) }
    if (st.isEmpty) None
    else {
      val (flat, deep) = st.partition(_._1.count(_ == '.') < 2)
      val top = flat.map { case (p, v) => s""""$p":$v""" } ++
        deep.groupBy(_._1.substring(0, 7)).toSeq.sortBy(_._1).map { case (parent, kv) =>
          s""""$parent":{${kv.map { case (p, v) => s""""$p":$v""" }.mkString(",")}}"""
        }
      Some(top.mkString("{", ",", "}"))
    }
  }
}

/** One reconstruction result row, comparable by value. */
final case class Row8(f: Int, src: Int, dst: Int, name: String, id: Long,
                      path: String, tpe: Int, value: Double)

object Row8 {
  implicit val ordering: Ordering[Row8] =
    Ordering.by((r: Row8) => (r.f, r.src, r.dst, r.path, r.id, r.value))
  def of(r: org.apache.spark.sql.Row): Row8 = Row8(
    r.getAs[Int]("uevol_field_id"), r.getAs[Int]("src_id"), r.getAs[Int]("dst_id"),
    r.getAs[String]("name"), r.getAs[Long]("instance_message_id"),
    r.getAs[String]("relative_path"), r.getAs[Int]("type"), r.getAs[Double]("value"))
}

/** Writes a generated store in the layout `graft.io.ParquetLoader` reads:
  * `<dir>/<table>.parquet`, the delta log through
  * `graft.io.TableWriter.writeDeltaLog`, and one snapshot table per catalog
  * entry, each a partition of `snapshot_tables.parquet`.
  */
object StoreWriter {

  /** Updates [from, until) of the stream as a DataFrame, built on the
    * executors from a broadcast column slice. The caller destroys the
    * returned broadcast once the frame has been written.
    */
  def instanceFields(spark: SparkSession, s: UpdateStream, from: Int,
                     until: Int): (DataFrame, Broadcast[_]) = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(s.updateSlice(from, until))
    (spark.range(from, until, 1, parts(spark)).map(i => bc.value.row(i.toInt)).toDF(), bc)
  }

  def instanceMessages(spark: SparkSession, s: UpdateStream, from: Int,
                       until: Int): (DataFrame, Broadcast[_]) = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(s.messageSlice(from, until))
    (spark.range(from, until, 1, parts(spark)).map(i => bc.value.row(i.toInt)).toDF(), bc)
  }

  private def parts(spark: SparkSession): Int =
    math.max(1, spark.sparkContext.defaultParallelism)

  def snapshotRows(r: Replay, at: Long): Seq[SnapshotRow] = for {
    src <- 0 until Layout.Sources
    t <- { val (a, b) = Layout.typesOf(src); Seq(a, b) }
    j <- 0 until Layout.FieldsPerType
    f = Layout.fieldId(t, j)
    js <- r.snapshotJson(f, src, at)
  } yield SnapshotRow(f, src, Layout.dstOf(src), at, js)

  /** Snapshot tables share one directory, one hive partition per table,
    * so that a set-up writes all of them in one job.
    */
  def snapshotPath(dir: String, name: String): String = s"$dir/snapshot_tables.parquet/name=$name"

  def writeCatalog(spark: SparkSession, dir: String, name: String, refs: Seq[SnapshotRef]): Unit = {
    import spark.implicits._
    refs.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }

  /** The whole store for the first `s.nMsgs` messages, with a snapshot at
    * every start in `snapStarts`.
    */
  def write(spark: SparkSession, dir: String, s: UpdateStream, r: Replay,
            snapStarts: Seq[Long]): Unit = {
    import spark.implicits._
    val (log, b1) = instanceFields(spark, s, 0, s.nUpdates)
    graft.io.TableWriter.writeDeltaLog(log, s"$dir/instance_field.parquet")
    b1.destroy()
    val (msgs, b2) = instanceMessages(spark, s, 0, s.nMsgs)
    msgs.write.mode("overwrite").parquet(s"$dir/instance_message.parquet")
    b2.destroy()
    Layout.catalog.toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/uevol_field.parquet")
    snapStarts.map(at => snapshotRows(r, at).toDF().withColumn("name", lit(s"snap_$at")))
      .reduce(_ unionByName _)
      .coalesce(1).write.mode("overwrite").partitionBy("name")
      .parquet(s"$dir/snapshot_tables.parquet")
    writeCatalog(spark, dir, "snapshots", snapStarts.map(at => SnapshotRef(s"snap_$at", at)))
  }

  /** Bytes on disk under `path`. */
  def bytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
  }

  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally st.close()
    }
  }
}
