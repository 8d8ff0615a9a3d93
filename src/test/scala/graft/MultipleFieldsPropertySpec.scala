package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.model.Telemetry._
import graft.queries.MultipleFields

/** Property test for [[MultipleFields.getMultipleFields]]: on seeded random
  * logs, with snapshots that are consistent dumps of the replayed state,
  * the state of every argument triple at any target must equal a
  * brute-force replay (update in the epoch ≫ snapshot value ≫ −1 sentinel).
  *
  * The generator covers the shapes a single fixture misses: keys written
  * only at flat or nested paths (no `000` sentinel may appear beside
  * them), snapshot rows holding `{}`, duplicate argument triples,
  * never-written keys, unknown field ids (dropped by the name join),
  * targets exactly on a snapshot start, and no snapshot catalog at all.
  */
class MultipleFieldsPropertySpec extends SparkSpec {

  private val MsgType = 100
  private val Fields = 1 to 4
  private val Srcs = Seq(10, 11)
  private val Dst = 20
  private val SnapStarts = Seq(0L, 100L)
  private val UnknownField = 99

  /** Path sets a key is written at: scalar, flat-only, nested-only
    * (degree 2 in the snapshot JSON), scalar + flat.
    */
  private val PathSets = Seq(
    Seq("000"), Seq("001"), Seq("000.001.001", "000.001.002"), Seq("000", "000.001"))

  private type K = (Int, Int, Int)

  private case class Log(updates: Seq[(K, String, Long, Long)]) { // (key, path, id, value)

    /** Latest (value, id) per (key, path) over updates with id in [lo, hi]. */
    def latest(lo: Long, hi: Long): Map[(K, String), (Double, Long)] =
      updates.filter(u => u._3 >= lo && u._3 <= hi)
        .groupBy(u => (u._1, u._2)).map { case (kp, us) =>
          val b = us.maxBy(_._3)
          kp -> (b._4.toDouble, b._3)
        }

    def expected(args: Seq[K], target: Long, withSnapshots: Boolean)
        : Map[(K, String), (Double, Long)] = {
      val snapStart = if (withSnapshots) Some(SnapStarts.filter(_ <= target).max) else None
      val fromSnap = snapStart.toSeq.flatMap { s =>
        latest(Long.MinValue, s).map { case (kp, (v, _)) => kp -> (v, s) }
      }.toMap
      val inEpoch = latest(snapStart.getOrElse(Long.MinValue), target)
      args.distinct.filter(k => Fields.contains(k._1)).flatMap { k =>
        val rows = (fromSnap ++ inEpoch).filter(_._1._1 == k)
        if (rows.isEmpty) Map((k, ScalarPath) -> (NeverUpdatedValue, NeverUpdatedId))
        else rows
      }.toMap
    }
  }

  private def genLog(rnd: Random): Log = {
    val keys = for (f <- Fields; s <- Srcs) yield (f, s, Dst)
    // one key in each source stays unwritten
    val written = keys.filterNot(k => k._1 == Fields.last)
    val paths = written.map(k => k -> PathSets(rnd.nextInt(PathSets.size))).toMap
    val n = 10 + rnd.nextInt(40)
    val updates = (0 until n).map { _ =>
      val k = written(rnd.nextInt(written.size))
      val ps = paths(k)
      (k, ps(rnd.nextInt(ps.size)), 1L + rnd.nextInt(200), rnd.nextInt(1000).toLong)
    }
    // one update per (key, path, id): the log keys updates by instance id
    Log(updates.groupBy(u => (u._1, u._2, u._3)).map(_._2.head).toSeq)
  }

  /** The snapshot at `start` as the reference's JSON rows: degree 1 for
    * flat paths, degree 2 (an object under the first two segments) for
    * three-segment paths, and `{}` for keys that are not yet written.
    */
  private def snapshotRows(log: Log, start: Long): Seq[SnapshotRow] = {
    val state = log.latest(Long.MinValue, start)
    val written = state.keySet.map(_._1)
    val empty = (for (f <- Fields; s <- Srcs) yield (f, s, Dst))
      .filterNot(written).map(k => SnapshotRow(k._1, k._2, k._3, start, "{}"))
    empty ++ written.toSeq.map { k =>
      val entries = state.collect { case ((`k`, p), (v, _)) => p -> v.toLong }
      val (deep, flat) = entries.partition(_._1.count(_ == '.') == 2)
      val nested = deep.groupBy(_._1.split('.').take(2).mkString(".")).map {
        case (outer, leaves) =>
          s""""$outer":""" + leaves.map { case (p, v) => s""""$p":$v""" }.mkString("{", ",", "}")
      }
      val json = (flat.map { case (p, v) => s""""$p":$v""" } ++ nested).mkString("{", ",", "}")
      SnapshotRow(k._1, k._2, k._3, start, json)
    }
  }

  private def run(log: Log, args: Seq[K], target: Long, withSnapshots: Boolean)
      : Seq[((K, String), (Double, Long), String)] = {
    import spark.implicits._
    val instanceField = log.updates.map { case ((f, s, d), p, id, v) =>
      InstanceField(f, MsgType, id, -1L, s, d, p, 0, 0L, v)
    }.toDF()
    val uevolField = Fields.map(i =>
      UevolField(i, MsgType, s"f$i", s"field $i", i, 0, 4, "u", false, true, true)).toDF()
    val catalog = SnapStarts.map(s => SnapshotRef(s"snap_$s", s)).toDF()
    val loader: String => DataFrame =
      name => snapshotRows(log, name.stripPrefix("snap_").toLong).toDF()
    val argDf = args.map { case (f, s, d) => (f, s, d, "") }
      .toDF("uevol_field_id", "src_id", "dst_id", "filter")
    MultipleFields.getMultipleFields(instanceField, uevolField,
        if (withSnapshots) Some(catalog) else None, loader, argDf, target)
      .collect().toSeq.map { r =>
        val k = (r.getAs[Int]("uevol_field_id"), r.getAs[Int]("src_id"), r.getAs[Int]("dst_id"))
        ((k, r.getAs[String]("relative_path")),
          (r.getAs[Double]("value"), r.getAs[Long]("instance_message_id")),
          r.getAs[String]("name"))
      }
  }

  test("getMultipleFields equals brute-force replay on random logs (seeded)") {
    for (seed <- 1L to 6L) {
      val rnd = new Random(seed)
      val log = genLog(rnd)
      val known = for (f <- Fields; s <- Srcs) yield (f, s, Dst)
      // duplicates, a never-written source and an unknown field id ride along
      val args = Seq.fill(3 + rnd.nextInt(5))(known(rnd.nextInt(known.size))) ++
        Seq((1, 12, Dst), (UnknownField, 10, Dst))
      val padded = args ++ args.take(2)
      for (target <- Seq(7L, 100L, 183L); withSnapshots <- Seq(true, false)) {
        val ctx = s"seed=$seed target=$target snapshots=$withSnapshots"
        val got = run(log, padded, target, withSnapshots)
        val want = log.expected(padded, target, withSnapshots)
        assert(got.map(_._1).distinct.size === got.size, s"duplicate rows: $ctx")
        assert(got.map(g => g._1 -> g._2).toMap === want, ctx)
        assert(got.forall(g => g._3 == s"f${g._1._1._1}"), s"name join: $ctx")
        val order = got.map(g => (g._1._1._1, g._1._2))
        assert(order === order.sorted, s"(field, path) order: $ctx")
      }
    }
  }
}
