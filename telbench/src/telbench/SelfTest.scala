package telbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

/** The benchmark's own tests: generator determinism, the replay index
  * against a brute-force scan, tail-percentile selection, span self-time
  * arithmetic, and output checks that must catch planted wrong answers.
  * `telbench.SelfTest --work <dir>`; exits 1 when any test fails.
  */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch {
      case e: AssertionError => Some(e.getMessage)
      case NonFatal(e) => Some(e.toString)
    }
    results += name -> r
    println(s"${if (r.isEmpty) "PASS" else "FAIL"} $name${r.map(": " + _).getOrElse("")}")
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  def main(argv: Array[String]): Unit = {
    val work = argv.grouped(2).collect { case Array("--work", v) => v }.toSeq.headOption
      .getOrElse(throw new IllegalArgumentException("--work is required"))

    test("stream hash is a function of the seed") {
      def h(seed: Long) = { val s = new UpdateStream(seed); s.append(3000); s.hash }
      check(h(7) == h(7), "same seed, different streams")
      check(h(7) != h(8), "different seeds, same stream")
      def c(seed: Long) = new Corpus(seed, nBase = 100, target = 400).hash
      check(c(7) == c(7), "same seed, different corpora")
      check(c(7) != c(8), "different seeds, same corpus")
    }

    test("replay index agrees with a brute-force scan") {
      val s = new UpdateStream(11); s.append(3000)
      val r = new Replay(s)
      val rnd = new java.util.SplittableRandom(5)
      for (_ <- 0 until 2000) {
        val i = rnd.nextInt(s.nUpdates)
        val (f, src, p) = (s.updField(i), s.updSrc(i), s.updPath(i))
        val t = rnd.nextInt(s.nMsgs).toLong
        val brute = (0 until s.nUpdates).filter(j => s.updField(j) == f && s.updSrc(j) == src &&
          s.updPath(j) == p && s.updMsg(j) <= t).lastOption.map(j => (s.updMsg(j), s.updValue(j)))
        val got = r.state(f, src, Layout.dstOf(src), t).find(_._1 == p).map(x => (x._2, x._3))
        check(got == brute, s"key ($f,$src,$p) at $t: replay $got, scan $brute")
      }
    }

    test("tail is the highest percentile with ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      check(Stats.tail(xs) == ((90.0, 90.0, 10)), s"1..100 -> ${Stats.tail(xs)}")
      check(Stats.tail(xs.reverse) == Stats.tail(xs), "order-dependent")
      val (p11, v11, b11) = Stats.tail((1 to 11).map(_.toDouble))
      check(v11 == 1.0 && b11 == 10 && math.abs(p11 - 100.0 / 11) < 1e-9, s"n=11 -> ($p11,$v11,$b11)")
      check(Stats.tail((1 to 10).map(_.toDouble)) == ((100.0, 10.0, 0)), "n=10 must fall back to the max")
      val tenFailed = (1 to 90).map(_.toDouble) ++ Seq.fill(10)(Double.PositiveInfinity)
      check(Stats.tail(tenFailed)._2 == 90.0, "ten failures must sit beyond the tail")
      val elevenFailed = (1 to 89).map(_.toDouble) ++ Seq.fill(11)(Double.PositiveInfinity)
      check(Stats.tail(elevenFailed)._2.isInfinite, "eleven failures must reach the tail")
      check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median of an even sample")
    }

    test("span self time subtracts the union of clipped children") {
      val spans = Seq(
        Span(0, -1, 0, "op", 0, 100),
        Span(1, 0, 0, "a", 10, 40),
        Span(2, 1, 0, "a1", 15, 20),
        Span(3, 0, 0, "b", 30, 60),   // overlaps a
        Span(4, 0, 0, "c", 90, 120))  // runs past its parent
      val self = Tracer.selfTimes(spans)
      check(self(0) == 100 - (60 - 10) - (100 - 90), s"root self ${self(0)}")
      check(self(1) == 25 && self(2) == 5 && self(3) == 30 && self(4) == 30, s"self times $self")
    }

    val spark = SparkSession.builder().master("local[2]").appName("telbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tr = new Tracer(spark.sparkContext)

      test("written store content is a function of the seed") {
        def content(seed: Long, dir: String) = {
          val w = new PointLookup(spark, seed, 2000)
          w.setup(dir, tr)
          spark.read.parquet(s"$dir/instance_field.parquet")
            .selectExpr("sum(cast(xxhash64(*) AS DECIMAL(38, 0)))").head().getDecimal(0)
        }
        val a = content(3, s"$work/s3a")
        check(a == content(3, s"$work/s3b"), "same seed, different stores")
        check(a != content(4, s"$work/s4"), "different seeds, same store")
      }

      // one operation of each checked kind, then the same rows with one
      // value changed: the check must pass the first and fail the second
      def planted(name: String, ex: Executed, column: String, bump: Any => Any): Unit = {
        check(ex.rows.nonEmpty, s"$name returned no rows")
        check(ex.check(ex.rows).isEmpty, s"$name failed on a right answer: ${ex.check(ex.rows)}")
        val r0 = ex.rows.head
        val idx = r0.fieldIndex(column)
        val bad = new GenericRowWithSchema(r0.toSeq.updated(idx, bump(r0.get(idx))).toArray, r0.schema)
        check(ex.check(bad +: ex.rows.tail).isDefined, s"$name passed a planted wrong $column")
        check(ex.check(ex.rows.tail).isDefined, s"$name passed with a row missing")
      }

      test("lookup checks catch a planted wrong answer") {
        val w = new PointLookup(spark, 5, 4000)
        w.setup(s"$work/point", tr)
        val kinds = mutable.Set.empty[Int]
        var i = 0L
        while (kinds.size < 2) {
          val getMessage = Seq(2, 5, 8).contains((i % 10).toInt)
          if (kinds.add(if (getMessage) 1 else 0))
            planted(if (getMessage) "getMessage" else "getMultipleFields",
              w.op(i, tr, warm = false), "value", v => v.asInstanceOf[Double] + 1)
          i += 1
        }
      }

      test("history checks catch a planted wrong answer") {
        val w = new HistoryCompact(spark, 6, 4000)
        w.setup(s"$work/history", tr)
        planted("history (wide)", w.op(0, tr, warm = false), "instance_message_id",
          v => v.asInstanceOf[Long] + 1)
        check(w.op(1, tr, warm = false).check(Array.empty).isEmpty, "maintenance check failed")
        planted("history (long, after compaction)", w.op(3, tr, warm = false), "value",
          v => v.asInstanceOf[Long] + 1)
      }

      test("dedup checks catch a planted wrong cluster label") {
        val w = new DedupGraph(spark, 9, 400)
        w.setup(s"$work/dedup", tr)
        val ex = w.op(0, tr, warm = false)
        graft.CacheRegistry.releaseAll()
        graft.Checkpoints.releaseAll()
        planted("clustersStar", ex, "cluster", v => v.asInstanceOf[Long] + 1)
      }
    } finally spark.stop()

    val failed = results.count(_._2.isDefined)
    println(s"${results.size - failed}/${results.size} self-tests passed")
    if (failed > 0) sys.exit(1)
  }
}
