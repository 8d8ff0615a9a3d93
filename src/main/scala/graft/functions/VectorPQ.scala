package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory side of the ANN family
  * (Jégou, Douze, Schmid, "Product quantization for nearest neighbor
  * search", TPAMI 2011): split each vector into `m` subvectors, encode
  * every subvector as its nearest codeword from a per-subspace codebook
  * of `ksub` entries, and rank candidates by the distance to the
  * RECONSTRUCTED vector (asymmetric distance computation — the query
  * stays exact, only the corpus is compressed).
  *
  * Why it matters at 100 TB: a 64-dim float corpus is 256 bytes/vector;
  * its PQ codes at m=8, ksub=16 are 8 four-bit codes — 4 bytes, a 64×
  * compression that turns the candidate scan of [[VectorIVF.annTopK]]
  * from memory-bound to cache-resident. Encode is MAP-ONLY against a
  * plan-literal codebook (m·ksub·dsub doubles — the LSH-plane/centroid
  * budget class); the top-k is the same broadcast-queries × corpus shape
  * as [[VectorOps.knnBruteForce]], just over codes instead of floats.
  *
  * Determinism/replayability: codebooks are md5-derived plan literals
  * (`codewordValue` — the [[VectorIVF.centroidValue]] family, so a SQL
  * oracle regenerates them), code assignment breaks distance ties toward
  * the SMALLEST code, and every distance is a LEFT sequential fold —
  * DuckDB `list_reduce` replays the identical float association (d93/d94
  * gate codes and ranks bit-for-bit). Real deployments swap the literal
  * codebook for k-means output ([[VectorIVF.train]]'s shape per
  * subspace); every plan below is unchanged by that swap.
  */
object VectorPQ {

  /** Component d of codeword `code` in subspace `sub` — md5-derived
    * uniform in [-1, 1], exactly
    * `(md5("p<sub>:<code>:<d>")[0:7] % 2001 - 1000) / 1000`.
    */
  def codewordValue(sub: Int, code: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hx = md.digest(s"p$sub:$code:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hx.substring(0, 7), 16) % 2001 - 1000) / 1000.0
  }

  /** The md5 default codebook: [m][ksub][dsub] doubles. */
  def mdCodebook(m: Int, ksub: Int, dsub: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, ksub, dsub)((j, c, d) => codewordValue(j, c, d))

  /** A codebook as one plan literal: element `sub·ksub + code` (0-based)
    * is that codeword's dsub-dim vector.
    */
  private def codebookLit(cb: Array[Array[Array[Double]]]): Column =
    typedlit(cb.flatten)

  /** Squared L2 between two equal-length double arrays as a LEFT
    * sequential fold (replayable association).
    */
  private def sqL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, t) => acc + t)

  /** Reconstruction of a codes array: the concatenation of its selected
    * codewords in subspace order.
    */
  private def reconstruct(codes: Column, cb: Column, m: Int, ksub: Int): Column =
    flatten(transform(sequence(lit(0), lit(m - 1)),
      j => element_at(cb, j * ksub + element_at(codes, j + 1) + 1)))

  /** Map-only PQ encoding: `df` + `codes` (array of m ints in
    * [0, ksub)), each subvector's nearest codeword by squared L2, ties
    * to the smallest code. `dim` must be divisible by `m`.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, dim: Int,
             m: Int = 8, ksub: Int = 16,
             codebook: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    // native kernel (graft.plans.PqEncode): the per-subspace argmin as one
    // flat primitive loop — bit-identical codes to the HOF formulation
    // (VectorPQSpec pins the parity), which was the entire d94/d95 floor.
    // Contract difference on DEGENERATE input only: a partial-null or
    // wrong-length vector now yields codes = NULL for the whole row
    // (the HOF emitted per-subspace null code elements) — no caller can
    // act on partially-encoded vectors anyway.
    df.withColumn("codes", graft.plans.PqExpressions.encodeColumn(
      df.sparkSession, col(vecCol).cast("array<double>"), m, ksub, dsub,
      codebook.getOrElse(mdCodebook(m, ksub, dsub))))
  }

  /** The pre-native HOF formulation, kept as the parity REFERENCE the
    * spec checks the kernel against (and the shape a non-JVM engine
    * would replay).
    */
  private[graft] def encodeHof(df: DataFrame, vecCol: String, dim: Int,
                               m: Int, ksub: Int,
                               codebook: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val dsub = dim / m
    val cb = codebookLit(codebook.getOrElse(mdCodebook(m, ksub, dsub)))
    val v = col(vecCol).cast("array<double>")
    val codes = transform(sequence(lit(0), lit(m - 1)), j => {
      val dists = transform(sequence(lit(0), lit(ksub - 1)),
        c => sqL2(slice(v, j * dsub + 1, lit(dsub)),
          element_at(cb, j * ksub + c + 1)))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
    df.withColumn("codes", codes)
  }

  /** Distributed per-subspace Lloyd's trainer — the step that turns the
    * replayable md5 codebook into a REAL quantizer (trained codebooks are
    * what give PQ its recall; VectorPQSpec measures the lift on clustered
    * data). All `m` subspaces train in ONE job per round: the (id, j,
    * subvector) projection is built once and persisted, each round is a
    * map-only argmin against the current plan-literal codebook plus one
    * (j, code) partial-agg of per-dimension means, and the only
    * driver-side data is the m·ksub·dsub codebook itself (the
    * [[VectorIVF.train]] bound — never corpus-sized). Init is the ksub
    * subvectors per subspace whose md5-hashed ids sort first: a
    * deterministic pseudo-random sample of real data points, so no cell
    * starts empty. A cell that loses all members keeps its previous
    * codeword. Plug the result into [[encode]]/[[adcTopK]]/[[ivfAdcTopK]]
    * via their `codebook` parameter — no plan changes.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
            m: Int = 8, ksub: Int = 16, iters: Int = 5): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    require(iters >= 0, s"iters=$iters must be non-negative")
    val dsub = dim / m
    val v = col(vecCol).cast("array<double>")
    val subs = graft.CacheRegistry.track(corpus
      .select(col(idCol).cast("string").as("__id"), v.as("__v"))
      .where(col("__v").isNotNull && size(col("__v")) === dim &&
        !exists(col("__v"), _.isNull))
      .select(col("__id"), explode(transform(sequence(lit(0), lit(m - 1)),
        j => struct(j.as("j"),
          slice(col("__v"), j * dsub + 1, lit(dsub)).as("x")))).as("s"))
      .select(col("__id"), col("s.j").as("j"), col("s.x").as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    val initW = org.apache.spark.sql.expressions.Window.partitionBy(col("j"))
      .orderBy(conv(substring(md5(col("__id")), 1, 8), 16, 10).cast("long"),
        col("__id"))
    val cb = mdCodebook(m, ksub, dsub) // fallback for subspaces with < ksub rows
    subs.withColumn("__rn", row_number().over(initW))
      .where(col("__rn") <= ksub)
      .select(col("j"), col("__rn"), col("x"))
      .collect()
      .foreach { r =>
        cb(r.getInt(0))(r.getInt(1) - 1) =
          r.getSeq[Double](2).toArray
      }

    for (_ <- 0 until iters) {
      val cbl = codebookLit(cb)
      val dists = transform(sequence(lit(0), lit(ksub - 1)),
        c => sqL2(col("x"), element_at(cbl, col("j") * ksub + c + 1)))
      // Cell means on the 1e-6 integer grid (d30's discipline): each
      // element is rounded to a LONG term and the terms sum exactly, so
      // the mean is order-free — a distributed float avg() would differ
      // from any replay in the last ulp and flip assignment ties. This is
      // what lets d100 gate the TRAINED codebook against a SQL oracle.
      val aggs = (0 until dsub).map(d =>
        (sum(round(element_at(col("x"), d + 1) * 1e6, 0).cast("long"))
          .cast("double") / count(lit(1)) / 1e6).as(s"m$d"))
      subs.withColumn("__c",
          (array_position(dists, array_min(dists)) - 1).cast("int"))
        .groupBy("j", "__c").agg(aggs.head, aggs.tail: _*)
        .collect()
        .foreach { r =>
          cb(r.getInt(0))(r.getInt(1)) =
            Array.tabulate(dsub)(d => r.getDouble(2 + d))
        }
    }
    subs.unpersist()
    cb
  }

  /** Persist a trained codebook ([[train]]'s `[m][ksub][dsub]` array) as
    * a STANDING INDEX artifact — one parquet row per (sub, code)
    * codeword, m×ksub×dsub doubles total (KBs). Train once at ingest,
    * [[loadCodebook]] in any later session, encode/ADC-scan with zero
    * retraining — the [[VectorIVF.saveIndex]] lifecycle for the
    * compression half of IVFADC.
    */
  def saveCodebook(spark: org.apache.spark.sql.SparkSession,
                   codebook: Array[Array[Array[Double]]],
                   path: String,
                   corpusFp: Option[String] = None): Unit = {
    import spark.implicits._
    val rows = for {
      (sub, codes) <- codebook.zipWithIndex.map(_.swap)
      (code, vec) <- codes.zipWithIndex.map(_.swap)
    } yield (sub, code, vec.toSeq)
    val df = rows.toSeq.toDF("sub", "code", "vec")
    // same staleness stamp as VectorIVF.saveIndex: a codebook trained on
    // a different corpus loads fine structurally but skews every ADC
    // distance — the fingerprint makes that a load-time error
    corpusFp.fold(df)(fp => df.withColumn("corpus_fp", lit(fp)))
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCodebook]] artifact, validated LOUDLY against holes:
    * the encoder indexes the codebook as a dense `[m][ksub]` grid, so a
    * missing (sub, code) cell or a ragged sub-vector width would throw an
    * opaque IndexOutOfBounds mid-encode (or worse, silently shift every
    * code after the hole).
    */
  def loadCodebook(spark: org.apache.spark.sql.SparkSession,
                   path: String,
                   expectCorpusFp: Option[String] = None): Array[Array[Array[Double]]] = {
    val raw = spark.read.parquet(path)
    expectCorpusFp.foreach { want =>
      require(raw.columns.contains("corpus_fp"),
        s"codebook at $path carries no corpus fingerprint — cannot prove " +
          "it matches this corpus; re-save with corpusFp = Some(...)")
      val got = raw.select("corpus_fp").distinct().collect().map(_.getString(0))
      require(got.length == 1 && got.head == want,
        VectorIVF.fpMismatchMessage("codebook", path, got.toSeq, want))
    }
    val rows = raw
      .select(col("sub").cast("int"), col("code").cast("int"),
        col("vec").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"codebook at $path is empty")
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val dsubs = rows.map(_._3.length).distinct
    require(dsubs.length == 1, s"codebook at $path mixes sub-vector " +
      s"widths ${dsubs.sorted.mkString(",")}")
    require(rows.length == m * ksub && rows.map(x => (x._1, x._2)).distinct.length == rows.length,
      s"codebook at $path is not a dense $m x $ksub grid " +
        s"(${rows.length} rows) — re-save it from a trained codebook")
    val cb = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { case (s, c, v) => cb(s)(c) = v }
    cb
  }

  /** The production composition: IVF cell pruning × PQ memory compression
    * (the classic IVFADC index layout). Queries probe their `nprobe`
    * nearest cells; only THOSE cells' codes are ADC-scanned — the two
    * pruning factors multiply (visit ~nprobe/k_cells of the corpus, at 4
    * bytes per visited vector), which is the working-set arithmetic that
    * makes billion-vector ANN feasible on an executor's memory.
    *
    * Runs `adcRank`, shared with [[adcTopK]]; the one difference is the
    * candidate pairs: the d15 probe join (query → probed cells → the
    * corpus vectors assigned to them) instead of every corpus vector. With
    * `nprobe` = the cell count the result equals [[adcTopK]].
    */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, k: Int, dim: Int, centroids: DataFrame,
                 cellIdCol: String, cellVecCol: String, nprobe: Int = 2,
                 m: Int = 8, ksub: Int = 16,
                 codebook: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val cells = VectorIVF
      .assign(corpus, idCol, vecCol, centroids, cellIdCol, cellVecCol)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val qp = VectorIVF
      .probes(queries, idCol, vecCol, centroids, cellIdCol, cellVecCol, nprobe)
      .select("query_id", "cell")
    adcRank(queries, corpus, idCol, vecCol, k, dim, m, ksub, codebook) {
      (enc, q) =>
        qp.join(cells, Seq("cell"))
          .where(col("query_id") =!= col("neighbor_id"))
          .join(enc, Seq("neighbor_id"))
          .join(broadcast(q), Seq("query_id"))
    }
  }

  /** Asymmetric-distance top-k: exact queries against the PQ-compressed
    * corpus — rank by squared L2 to the reconstruction, k best per
    * query, ties to the smaller neighbor id.
    *
    * Runs `adcRank`, shared with [[ivfAdcTopK]]; the one difference is the
    * candidate pairs: every (query, corpus vector) pair but the query
    * itself, queries broadcast (the knnBruteForce small-side contract).
    */
  def adcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int,
              m: Int = 8, ksub: Int = 16,
              codebook: Option[Array[Array[Array[Double]]]] = None): DataFrame =
    adcRank(queries, corpus, idCol, vecCol, k, dim, m, ksub, codebook) {
      (enc, q) => enc.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
    }

  /** The ADC scan behind [[adcTopK]] and [[ivfAdcTopK]]: encode the corpus
    * to (neighbor_id, codes), let `pairs(enc, q)` form the candidate rows
    * against the queries (query_id, __qv), then rank each query's
    * candidates by squared L2 to the reconstruction — the native
    * `graft_l2` left fold, so the d94/d95 oracle replay is bit-identical
    * — and keep its k best, ties to the smaller neighbor id.
    */
  private def adcRank(queries: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, k: Int, dim: Int, m: Int, ksub: Int,
                      codebook: Option[Array[Array[Array[Double]]]])(
      pairs: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val cb = codebookLit(codebook.getOrElse(mdCodebook(m, ksub, dim / m)))
    // degenerate vectors encode to codes=NULL (whole-row contract); they
    // must not enter the ranking — a NULL ADC distance would sort FIRST
    // under the default ascending order and displace every real neighbor
    val enc = encode(corpus, idCol, vecCol, dim, m, ksub, codebook)
      .where(col("codes").isNotNull)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val nl2 = graft.plans.VectorExpressions.l2Column(corpus.sparkSession, _, _)
    pairs(enc, q)
      .withColumn("__d", nl2(col("__qv"), reconstruct(col("codes"), cb, m, ksub)))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("__d"), col("neighbor_id"))))
      .where(col("rk") <= k)
      .select("query_id", "neighbor_id", "rk")
  }
}
