package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.{VectorIVF, VectorLSH, VectorOps}

/** ANN quality probe (dev tool): measures recall@k of the two approximate
  * neighbor paths (IVF at several nprobe settings, hyperplane LSH) against
  * the exact brute-force top-k on the sf0.1 embeddings table. Backs the
  * SCALE.md claim that the approximate paths are usable substitutes — a
  * speed number without a recall number is half a benchmark.
  *
  * Ground truth and candidates join on (query_id, neighbor_id); recall =
  * |approx ∩ exact| / |exact| averaged over queries.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftConf.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding")
    val k = 5
    val queries = emb.where(col("vec_id") % 50 === 0)
    val nq = queries.count(); val nc = emb.count()
    println(s"--- recall probe: $nq queries x $nc corpus, k=$k ---")

    val exact = VectorOps.knnBruteForce(queries, emb, "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id")).persist()
    val nExact = exact.count()

    def recall(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
      val hit = approx.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
      println(f"$name%-28s recall@$k = ${hit.toDouble / nExact}%.3f " +
        s"($hit / $nExact)")
    }

    val cents = VectorIVF.mdCentroids(spark, 8, 64)
    Seq(1, 2, 4, 8).foreach { np =>
      recall(s"ivf k=8 nprobe=$np",
        VectorIVF.annTopK(queries, emb, "vec_id", "embedding", k,
          cents, "cell_id", "cvec", nprobe = np))
    }
    val trained = VectorIVF.train(emb, "vec_id", "embedding", k = 8, iters = 3)
    Seq(1, 2, 4, 8).foreach { np =>
      recall(s"ivf trained nprobe=$np",
        VectorIVF.annTopK(queries, emb, "vec_id", "embedding", k,
          trained, "cell_id", "cvec", nprobe = np))
    }
    // band-shape sweep: rb=4 (d72's point), rb=2 (d77's — more bands,
    // wider buckets, more candidates), rb=8 (fewer/stricter bands)
    Seq(8, 4, 2).foreach { rb =>
      recall(s"lsh m=16 rb=$rb",
        VectorLSH.annTopK(queries, emb, "vec_id", "embedding", k,
          m = 16, rb = rb))
    }

    // 10x corpus — replica r rotates each vector's components by r (a
    // genuine new direction, not a duplicate that would trivially share
    // every bucket); queries stay the originals. Does recall at each
    // operating point HOLD as density grows 10x?
    val emb10 = (0 until 10).map { r =>
      val rot = if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      emb.select((col("vec_id") + lit(r * 10_000_000L)).as("vec_id"),
        rot.as("embedding"))
    }.reduce(_ unionByName _)
    val exact10 = VectorOps
      .knnBruteForce(queries, emb10, "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id")).persist()
    val nExact10 = exact10.count()
    def recall10(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
      val hit = approx.select(col("query_id"), col("neighbor_id"))
        .join(exact10, Seq("query_id", "neighbor_id"), "left_semi").count()
      println(f"$name%-28s recall@$k = ${hit.toDouble / nExact10}%.3f " +
        s"($hit / $nExact10)")
    }
    Seq(1, 2, 4, 8).foreach { np =>
      recall10(s"10x ivf k=8 nprobe=$np",
        VectorIVF.annTopK(queries, emb10, "vec_id", "embedding", k,
          cents, "cell_id", "cvec", nprobe = np))
    }
    Seq(4, 2).foreach { rb =>
      recall10(s"10x lsh m=16 rb=$rb",
        VectorLSH.annTopK(queries, emb10, "vec_id", "embedding", k,
          m = 16, rb = rb))
    }
    spark.stop()
  }
}
