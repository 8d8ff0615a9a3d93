package graft

import org.apache.spark.sql.functions._

import graft.io.TableWriter
import graft.ops.ZOrder

/** Morton interleave + z-ordered writer: bit-exact closed form, and the
  * locality property the layout exists for — per-file bounding boxes
  * shrink in BOTH dimensions, which is what lets parquet min/max stats
  * prune on either filter column.
  */
class ZOrderSpec extends SparkSpec {

  import spark.implicits._

  private def mortonRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (z, i) =>
      z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }

  test("zValue matches the closed-form interleave on random inputs") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (255L, 255L),
      (0xABCDL, 0x1234L), (65535L, 65535L))
    val got = rows.toDF("a", "b")
      .select($"a", $"b", ZOrder.zValue($"a", $"b", 16).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) === mortonRef(r.getLong(0), r.getLong(1), 16),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("z-range partitioning bounds BOTH dimensions (vs full span on one)") {
    // 64x64 grid, 16 range partitions on z: every partition's bounding box
    // must span well under the full 64 in each dimension — a single-column
    // sort leaves the other dimension at full span.
    val pts = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"), pmod(col("id"), lit(64L)).as("b"))
    val spans = pts
      .repartitionByRange(16, ZOrder.zValue(col("a"), col("b"), 6))
      .select(spark_partition_id().as("p"), col("a"), col("b"))
      .groupBy("p")
      .agg((max("a") - min("a") + 1).as("sa"), (max("b") - min("b") + 1).as("sb"))
      .agg(avg("sa").as("ma"), avg("sb").as("mb"))
      .head()
    assert(spans.getDouble(0) <= 32.0, s"avg a-span ${spans.getDouble(0)}")
    assert(spans.getDouble(1) <= 32.0, s"avg b-span ${spans.getDouble(1)}")
  }

  test("writeZOrdered round-trips rows and yields per-file boxes on disk") {
    val dir = graft.WorkDirs.acquire("test_zorder").toString
    val pts = spark.range(32L * 32L)
      .select((col("id") / 32).cast("long").as("a"), pmod(col("id"), lit(32L)).as("b"))
    TableWriter.writeZOrdered(pts, s"$dir/t", "a", "b", bits = 5, nFiles = 8)
    val back = spark.read.parquet(s"$dir/t")
    // multiset parity: clustering must not lose, duplicate or mutate rows
    assert(back.count() === 1024)
    assert(back.except(pts).isEmpty && pts.except(back).isEmpty)
    // per-FILE bounding boxes (what min/max pruning actually sees): both
    // dimensions bounded well under the full 32-span
    val boxes = back.select(input_file_name().as("f"), col("a"), col("b"))
      .groupBy("f")
      .agg((max("a") - min("a") + 1).as("sa"), (max("b") - min("b") + 1).as("sb"))
      .agg(avg("sa"), avg("sb")).head()
    assert(boxes.getDouble(0) <= 16.0, s"avg file a-span ${boxes.getDouble(0)}")
    assert(boxes.getDouble(1) <= 16.0, s"avg file b-span ${boxes.getDouble(1)}")
  }

  test("zValueN interleaves three dimensions round-robin") {
    import spark.implicits._
    def ref3(a: Long, b: Long, c: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (z, i) =>
        z | (((a >> i) & 1L) << (3 * i)) |
          (((b >> i) & 1L) << (3 * i + 1)) |
          (((c >> i) & 1L) << (3 * i + 2))
      }
    val rows = Seq((1L, 2L, 4L), (7L, 0L, 5L), (255L, 128L, 64L))
    val got = rows.toDF("a", "b", "c")
      .select($"a", $"b", $"c",
        ZOrder.zValueN(Seq($"a", $"b", $"c"), 8).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(3) === ref3(r.getLong(0), r.getLong(1), r.getLong(2), 8))
    }
    // 2-dim layout is unchanged by the generalization
    assert(ZOrder.zValue(lit(5L), lit(3L), 4).toString ===
      ZOrder.zValueN(Seq(lit(5L), lit(3L)), 4).toString)
  }

  test("normalize folds onto the grid; high bits beyond `bits` are ignored") {
    val r = Seq((65536L + 3L, (1L << 16) + 5L)).toDF("a", "b")
      .select(
        ZOrder.zValue(ZOrder.normalize($"a", 16), ZOrder.normalize($"b", 16), 16).as("zn"),
        ZOrder.zValue($"a", $"b", 16).as("zraw"))
      .head()
    assert(r.getLong(0) === mortonRef(3L, 5L, 16))
    // without normalize the 17th bit simply falls off the 16-bit grid
    assert(r.getLong(1) === mortonRef(3L, 5L, 16))
  }
}

class VectorPQSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import graft.functions.VectorPQ

  test("codes are m ints in [0, ksub); deterministic across reruns") {
    import spark.implicits._
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 16 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val enc = VectorPQ.encode(vecs, "vec_id", "embedding", dim = 16, m = 4,
      ksub = 8)
    val codes = enc.select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 8)))
    val again = VectorPQ.encode(vecs, "vec_id", "embedding", dim = 16, m = 4,
      ksub = 8).select("codes").as[Seq[Int]].collect()
    assert(codes.toSeq === again.toSeq)
  }

  test("native kernel codes == HOF reference codes, incl. trained codebooks") {
    import spark.implicits._
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 16 + d) * 2.0)))
      .toDF("vec_id", "embedding")
    for (cb <- Seq(None,
      Some(VectorPQ.train(vecs, "vec_id", "embedding", 16, m = 4, ksub = 8,
        iters = 2)))) {
      val native = VectorPQ.encode(vecs, "vec_id", "embedding", 16, m = 4,
          ksub = 8, codebook = cb)
        .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
      val hof = VectorPQ.encodeHof(vecs, "embedding", 16, m = 4, ksub = 8,
          codebook = cb)
        .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
      assert(native === hof, s"codebook=${cb.isDefined}")
    }
  }

  test("native kernel nulls whole-row on partial-null or ragged input") {
    import spark.implicits._
    val rows = Seq(
      (1L, Some(Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0))),
      (2L, Some(Seq[java.lang.Double](1.0, null, 3.0, 4.0))),
      (3L, Some(Seq[java.lang.Double](1.0, 2.0))), // wrong length
      (4L, None))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val got = VectorPQ.encode(rows, "vec_id", "embedding", 4, m = 2, ksub = 4)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
  }

  test("a vector equal to a codeword concatenation encodes to those codes") {
    import spark.implicits._
    // build the exact concatenation of codeword 5 in subspace 0 and
    // codeword 2 in subspace 1 — squared-L2 0 to themselves, so argmin
    // must pick exactly (5, 2)
    val v = ((0 until 8).map(d => VectorPQ.codewordValue(0, 5, d)) ++
      (0 until 8).map(d => VectorPQ.codewordValue(1, 2, d))).toArray
    val got = VectorPQ.encode(Seq((1L, v)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim = 16, m = 2, ksub = 16)
      .select("codes").as[Seq[Int]].head()
    assert(got === Seq(5, 2))
  }

  test("trained codebooks beat the md5 default on clustered data") {
    import spark.implicits._
    // 16 well-separated centers in 16 dims; 320 points = center + small
    // deterministic jitter. Ground truth neighbors are cluster-mates, so
    // a quantizer that learns the centers reconstructs well and ADC
    // recall jumps; the untrained md5 codebook cannot.
    def center(c: Int, d: Int) = VectorPQ.codewordValue(c % 8, c / 8, d) * 3.0
    def jitter(i: Int, d: Int) =
      VectorPQ.codewordValue(7 - (i % 8), (i * 31 + d) % 16, d % 8) * 0.05
    val pts = (0 until 320).map { i =>
      (i.toLong, Array.tabulate(16)(d => center(i % 16, d) + jitter(i, d)))
    }.toDF("vec_id", "embedding")
    val queries = pts.where(col("vec_id") < 8)
    def recall(cb: Option[Array[Array[Array[Double]]]]): Double = {
      val approx = VectorPQ.adcTopK(queries, pts, "vec_id", "embedding",
        k = 5, dim = 16, m = 2, ksub = 16, codebook = cb)
      val exact = graft.functions.VectorOps
        .knnBruteForce(queries, pts, "vec_id", "embedding", 5)
      exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / exact.count()
    }
    val trained = VectorPQ.train(pts, "vec_id", "embedding", dim = 16,
      m = 2, ksub = 16, iters = 4)
    val rTrained = recall(Some(trained))
    val rDefault = recall(None)
    assert(rTrained > rDefault,
      s"trained $rTrained should beat default $rDefault")
    assert(rTrained >= 0.6, s"trained recall $rTrained")
  }

  test("degenerate corpus vectors never enter the ADC ranking") {
    import spark.implicits._
    // a wrong-length vector encodes to codes=NULL; with NULLS FIRST
    // default ordering it would displace every real neighbor at rank 1
    val corpus = ((0 until 10).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(i * 31 + d)))) :+
      (666L, Array(1.0, 2.0))) // ragged
      .toDF("vec_id", "embedding")
    val queries = Seq((999L, Array.tabulate(16)(d => math.sin(d.toDouble))))
      .toDF("vec_id", "embedding")
    val got = graft.functions.VectorPQ.adcTopK(queries, corpus, "vec_id",
        "embedding", k = 3, dim = 16, m = 2, ksub = 16)
      .select("neighbor_id").as[Long].collect()
    assert(got.length === 3 && !got.contains(666L))
  }

  test("ivfAdcTopK probing every cell equals adcTopK") {
    import spark.implicits._
    // with nprobe = the cell count every corpus vector is a candidate of
    // every query, so the IVF pruning drops nothing and the ranks match
    val rnd = new scala.util.Random(5)
    val corpus = (0 until 80).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 6).union(
      Seq((500L, Array.fill(16)(rnd.nextGaussian()))).toDF("vec_id", "embedding"))
    val cells = 5
    for (cb <- Seq(None, Some(VectorPQ.train(corpus, "vec_id", "embedding",
        dim = 16, m = 4, ksub = 8, iters = 2)))) {
      val flat = VectorPQ.adcTopK(queries, corpus, "vec_id", "embedding",
          k = 7, dim = 16, m = 4, ksub = 8, codebook = cb)
        .as[(Long, Long, Int)].collect().toSet
      val ivf = VectorPQ.ivfAdcTopK(queries, corpus, "vec_id", "embedding",
          k = 7, dim = 16, graft.functions.VectorIVF.mdCentroids(spark, cells, 16),
          "cell_id", "cvec", nprobe = cells, m = 4, ksub = 8, codebook = cb)
        .as[(Long, Long, Int)].collect().toSet
      assert(flat.size === 7 * 7)
      assert(ivf === flat)
    }
  }

  test("adcTopK ranks a PQ-identical vector first") {
    import spark.implicits._
    // corpus vector 100 IS the reconstruction of some codes; its ADC
    // distance to a query equal to that reconstruction is exactly 0 —
    // rank 1 regardless of the rest of the corpus
    val recon = ((0 until 8).map(d => VectorPQ.codewordValue(0, 3, d)) ++
      (0 until 8).map(d => VectorPQ.codewordValue(1, 7, d))).toArray
    val corpus = ((0 until 30).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(i * 31 + d)))) :+
      (100L, recon)).toDF("vec_id", "embedding")
    val queries = Seq((999L, recon)).toDF("vec_id", "embedding")
    val top = graft.functions.VectorPQ.adcTopK(queries, corpus, "vec_id",
        "embedding", k = 1, dim = 16, m = 2, ksub = 16)
      .head()
    assert(top.getLong(1) === 100L && top.getInt(2) === 1)
  }
}

object ModelScoreSpec {
  /** Static batch-size collector: local mode shares the JVM, so executor
    * tasks and the suite see the same queue; the Probe class itself is
    * top-level so serializing it cannot drag the suite along.
    */
  val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()

  /** Records every batch it sees — proves batching shape AND coverage. */
  class Probe extends graft.functions.ModelScore.TextScorer {
    override def scoreBatch(texts: Array[String]): Array[Double] = {
      ModelScoreSpec.sizes.add(texts.length)
      texts.map(_.length.toDouble)
    }
  }

  class BadScorer extends graft.functions.ModelScore.TextScorer {
    override def scoreBatch(texts: Array[String]): Array[Double] =
      texts.take(1).map(_ => 0.5)
  }
}

class ModelScoreSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import graft.functions.ModelScore
  import ModelScoreSpec.{BadScorer, Probe}

  test("alignment survives odd batch sizes and repartitioning") {
    import spark.implicits._
    val docs = (1L to 53L).map(i => (i, "x" * i.toInt)).toDF("id", "text")
    val got = ModelScore.score(docs.repartition(3), "id", "text",
        scorer = new Probe, batchSize = 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === 53)
    // the Probe scores each text by its length: misalignment is visible
    (1L to 53L).foreach(i => assert(got(i) === i.toDouble, s"id $i"))
  }

  test("batches never exceed batchSize and cover every row") {
    import spark.implicits._
    ModelScoreSpec.sizes.clear()
    val docs = (1L to 40L).map(i => (i, s"doc$i")).toDF("id", "text")
    ModelScore.score(docs.coalesce(1), "id", "text",
      scorer = new Probe, batchSize = 16).count()
    val sizes = ModelScoreSpec.sizes.toArray(Array.empty[Integer]).map(_.toInt)
    assert(sizes.forall(_ <= 16))
    assert(sizes.sum === 40)
  }

  test("string ids keep their type and null ids pass through") {
    import spark.implicits._
    val docs = Seq(("https://a.example/x", "abc"), (null, "de"))
      .toDF("url", "text")
    val got = ModelScore.score(docs, "url", "text", scorer = new Probe,
      batchSize = 2)
    assert(got.schema("url").dataType ===
      org.apache.spark.sql.types.StringType)
    val rows = got.collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(rows(Some("https://a.example/x")) === 3.0)
    assert(rows(None) === 2.0) // null ID is a normal row; text still scores
  }

  test("null text scores null without reaching the scorer") {
    import spark.implicits._
    val docs = Seq((1L, "abc"), (2L, null), (3L, "d"))
      .toDF("id", "text")
    val got = ModelScore.score(docs, "id", "text", scorer = new Probe,
        batchSize = 2)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L) === Some(3.0) && got(3L) === Some(1.0))
    assert(got(2L) === None)
  }

  test("misaligned scorer fails loudly") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => (i, s"t$i")).toDF("id", "text")
    val e = intercept[org.apache.spark.SparkException] {
      ModelScore.score(docs, "id", "text", scorer = new BadScorer,
        batchSize = 4).count()
    }
    assert(e.getMessage.contains("scorer returned") ||
      Option(e.getCause).exists(_.getMessage.contains("scorer returned")))
  }
}

class NativeL2Spec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import graft.plans.VectorExpressions

  private def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, t) => acc + t)

  test("graft_l2 equals the HOF fold bit-for-bit; null contract") {
    import spark.implicits._
    val df = (0 until 50).map(i =>
      (Array.tabulate(17)(d => math.sin(i * 17 + d) * 1e3),
        Array.tabulate(17)(d => math.cos(i * 13 + d) * 1e3)))
      .toDF("a", "b")
    val rows = df.select(
      VectorExpressions.l2Column(spark, col("a"), col("b")).as("native"),
      hof(col("a"), col("b")).as("hofv")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // nulls: null array, null element, length mismatch all -> null
    val edge = Seq(
      (Some(Seq[java.lang.Double](1.0, 2.0)), None),
      (Some(Seq[java.lang.Double](1.0, null)), Some(Seq[java.lang.Double](1.0, 2.0))),
      (Some(Seq[java.lang.Double](1.0)), Some(Seq[java.lang.Double](1.0, 2.0))))
      .toDF("a", "b")
      .select(VectorExpressions.l2Column(spark,
        col("a").cast("array<double>"), col("b").cast("array<double>")).as("d"))
      .collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("graft_l2 answers by its SQL name and stays in codegen") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    val d = spark.sql(
      """SELECT graft_l2(CAST(embedding AS ARRAY<DOUBLE>),
                         CAST(embedding AS ARRAY<DOUBLE>)) AS d
         FROM embeddings LIMIT 1""").head().getDouble(0)
    assert(d === 0.0)
  }
}
