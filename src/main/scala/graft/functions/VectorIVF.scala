package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.VectorExpressions

/** IVF-style approximate nearest-neighbor search: a coarse quantizer
  * assigns every corpus vector to its nearest centroid cell (one broadcast
  * join against the tiny centroid set — the classic IVF assign pass), and a
  * query searches only the `nprobe` cells it is closest to. Complements
  * [[VectorLSH]]: IVF adapts to the data's cluster structure, LSH is
  * data-independent.
  *
  * Scale shape: assignment is map-only per corpus row (K dots against a
  * broadcast list); the search joins query probes to corpus cells by cell
  * id — an equality join, never a cross product over the corpus.
  */
object VectorIVF {

  /** Cell assignment: nearest centroid by cosine (argmax over the broadcast
    * centroid table). Returns df + `cell` column.
    * `centroids`: (cellId, vector) — typically K-means output; any fixed
    * representative set works (the quantizer need not be optimal, only
    * consistent between corpus and queries).
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, cellIdCol: String, cellVecCol: String): DataFrame =
    assignNormalized(VectorOps.withNormalized(df, vecCol, "__nv"), idCol,
      centroids, cellIdCol, cellVecCol)

  /** [[assign]] over a frame whose `__nv` column is already the normalized
    * vector — lets iterative callers ([[train]]) normalize and persist the
    * corpus ONCE instead of recomputing the per-row rsqrt-scale every
    * Lloyd round.
    */
  private[functions] def assignNormalized(
      n: DataFrame, idCol: String,
      centroids: DataFrame, cellIdCol: String, cellVecCol: String): DataFrame = {
    val spark = n.sparkSession
    val nd = VectorExpressions.dotColumn(spark, _, _)
    val c = broadcast(VectorOps.withNormalized(centroids, cellVecCol, "__ncv")
      .select(col(cellIdCol).as("__cell"), col("__ncv")))
    // The broadcast nested-loop join emits the K candidate rows
    // partition-local; the groupBy's PARTIAL aggregate then collapses them
    // back to one row per input row BEFORE the exchange, so the shuffle
    // carries ~N rows — a row_number window here would exchange+sort the
    // full N×K instead. Cosine ties break to the smallest cell id
    // (numeric cell ids, as in any IVF index).
    val payload = n.columns.toIndexedSeq.map(col) :+ col("__cell")
    n.crossJoin(c)
      .withColumn("__cos", nd(col("__nv"), col("__ncv")))
      .groupBy(col(idCol).as("__id"))
      .agg(max_by(struct(payload: _*),
        struct(col("__cos"), -col("__cell"))).as("__best"))
      .select(col("__best.*"))
      .withColumnRenamed("__cell", "cell")
  }

  /** Component d of centroid c: md5-derived uniform value in [-1, 1] —
    * exactly `(md5("c<c>:<d>")[0:7] % 2001 - 1000) / 1000`. Plan-time
    * literals (same trick as [[VectorLSH.planeValue]]) that any SQL engine
    * can regenerate, so an IVF run is oracle-replayable without shipping
    * the trained quantizer. Real deployments pass K-means output instead.
    */
  def centroidValue(c: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hx = md.digest(s"c$c:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hx.substring(0, 7), 16) % 2001 - 1000) / 1000.0
  }

  /** K deterministic centroids as a (cell_id, cvec) frame — a fixed,
    * consistent quantizer (the IVF contract needs consistency, not
    * optimality).
    */
  def mdCentroids(spark: SparkSession, k: Int, dim: Int): DataFrame = {
    import spark.implicits._
    (0 until k).map(c => (c, (0 until dim).map(d => centroidValue(c, d)).toArray))
      .toDF("cell_id", "cvec")
  }

  /** Distributed k-means (Lloyd's) trainer for the coarse quantizer, so
    * the IVF path is self-contained on real embeddings: init is the k
    * corpus vectors whose md5-hashed ids sort first — a deterministic
    * pseudo-random sample (no `rand()`, replayable, and real data points
    * so no cell starts empty) — then `iters` rounds of [[assign]]
    * (partial-agg argmax, ~N rows through the exchange) and a per-(cell,
    * dim) partial-agg mean. Same per-round discipline as
    * [[MinHashLSH.clusters]]: the only driver-side data are the k×dim
    * centroid scalars, bounded by the CALLER'S k — the
    * [[VectorOps.knnBruteForce]] small-side bound, not a data-sized
    * collect. A cell that loses all members keeps its previous centroid.
    *
    * Assignment is by COSINE (cosine is scale-invariant in the centroid,
    * so an unnormalized centroid is a fully valid quantizer); centroids
    * are means of the RAW members on the 1e-6 integer grid — the d100
    * discipline: each element rounds to a LONG term and the terms sum
    * exactly, so the mean is order-free and a SQL oracle replays every
    * Lloyd round bit-for-bit (a distributed float `avg()` would differ
    * from any replay in the last ulp and flip assignment ties; a
    * normalized-member mean would additionally route every member through
    * a per-element sqrt-divide the replay must match exactly). Raw means
    * + cosine assignment is the classic k-means/IVF pairing (Jégou et al.
    * 2011 use l2; cosine here matches the repo's similarity metric).
    * [[assign]] re-normalizes internally so the returned frame plugs
    * straight into [[annTopK]]. Reference has no trainer (its index is
    * external); this closes the loop Spark-side — and d120 gates the
    * trained quantizer's recall against a full SQL replay of the
    * training.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
            iters: Int = 5): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    require(iters >= 0, s"iters=$iters must be non-negative")
    val spark = corpus.sparkSession
    import spark.implicits._
    // Normalize ONCE and keep the (id, raw, unit-vector) projection hot
    // across init + every Lloyd round — without this each round redoes the
    // per-row rsqrt-scale on the full corpus before assignment.
    val norm = VectorOps.withNormalized(
        corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__v")),
        "__v", "__nv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents: Seq[(Int, Seq[Double])] =
        norm.select(col(idCol).cast("string").as("__id"), col("__v"))
          .orderBy(md5(col("__id")), col("__id"))
          .limit(k)
          .collect().zipWithIndex
          .map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
      // k seeds require k distinct corpus rows; an under-filled init would
      // either throw an opaque IndexOutOfBounds below (cents(c) on a lost
      // cell) or, at iters=0, silently return fewer than k centroids.
      require(cents.length == k,
        s"k=$k exceeds the corpus row count (${cents.length} rows) — " +
          "an IVF quantizer cannot have more cells than training vectors; " +
          "lower k or grow the corpus")
      // Lloyd rounds do NOT nest plans (unlike an iterative-DataFrame loop
      // such as MinHashLSH.clusters, which needs checkpoint cadence): the
      // per-round means are collect()ed to k x dim driver scalars, so every
      // round's plan roots at the persisted `norm` plus a fresh literal
      // LocalRelation of centroids — constant logical-plan depth at any
      // `iters`. VectorIVFSpec pins the invariant (the returned frame must
      // stay a LocalRelation even after many rounds).
      for (_ <- 1 to iters) {
        val cdf = cents.toDF("cell_id", "cvec")
        val means = assignNormalized(norm, idCol, cdf, "cell_id", "cvec")
          .select(col("cell"), posexplode(col("__v")))
          .groupBy("cell", "pos")
          .agg((sum(round(col("col") * 1e6, 0).cast("long")).cast("double")
            / count(lit(1)) / 1e6).as("m"))
          .collect()
        val byCell = means.groupBy(_.getInt(0))
        cents = (0 until k).map { c =>
          byCell.get(c) match {
            case Some(rows) => (c, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
            case None => (c, cents(c)._2)
          }
        }
      }
      cents.toDF("cell_id", "cvec")
    } finally norm.unpersist(false)
  }

  /** Persist a trained quantizer ([[train]]'s `(cell_id, cvec)` frame)
    * as a STANDING INDEX artifact — train once at ingest, probe from any
    * later session with zero retraining (the CorpusCatalog discipline
    * applied to the ANN family; the reference keeps its index external —
    * SURVEY.md §2 notes no trainer — and this closes the lifecycle
    * engine-side). A quantizer is k×dim doubles: KBs, like a catalog row.
    */
  /** Order-independent fingerprint of a training corpus: row count plus
    * TWO commutative 64-bit folds of the per-row xxhash64 over (id,
    * vector) — bit_xor, and a sum taken through decimal(38,0) then
    * reduced mod 2^64 (a plain long sum would overflow under ANSI mode;
    * the decimal accumulator holds ~10^19 rows of 64-bit terms without
    * overflow). One scan, one tiny agg; the same corpus fingerprints
    * identically under any partitioning or row order, and an added/
    * dropped/edited row changes it. The xor alone is NOT enough:
    * duplicate-row PAIRS cancel under xor, so {A,A,X,X} vs {A,A,Y,Y}
    * — equal count, equal xor — would collide; the modular SUM breaks
    * exactly that class (an even-multiplicity substitution changes the
    * sum unless the hashes also collide additively, ~2^-64 on top of
    * the xor term). Stamp it into [[saveIndex]] and hand it to
    * [[loadIndex]] so a quantizer trained on a DIFFERENT corpus fails
    * loudly at load instead of silently skewing every recall number
    * downstream (the d120-family floors assume the artifact matches its
    * corpus).
    */
  /** Fingerprint FORMAT version, leading every stamp this build computes.
    * Bumped whenever the formula changes (v2 added the modular-sum term;
    * v1 stamps carry no version prefix at all), so [[loadIndex]] can tell
    * "stamp computed by an older formula — recompute and re-save" from
    * "genuinely different corpus" instead of reporting every format change
    * as corpus drift.
    */
  val FingerprintVersion = "v2"

  private[functions] def fpFormatOf(fp: String): String =
    "^(v\\d+),".r.findFirstMatchIn(fp).map(_.group(1)).getOrElse("v1")

  /** The require() message for a fingerprint mismatch at artifact load:
    * a stamp in an older/newer FORMAT cannot prove anything about corpus
    * identity, so say that (and the fix) rather than the misleading
    * "different corpus". Shared by [[loadIndex]] and
    * [[VectorPQ.loadCodebook]].
    */
  private[functions] def fpMismatchMessage(what: String, path: String,
                                           got: Seq[String],
                                           want: String): String = {
    val gotFmts = got.map(fpFormatOf).distinct.sorted
    if (gotFmts != Seq(fpFormatOf(want)))
      s"$what at $path carries a corpus fingerprint in format " +
        s"${gotFmts.mkString(",")} but this build computes " +
        s"${fpFormatOf(want)} - the stamp FORMAT differs, so corpus " +
        "identity cannot be checked (the corpus itself may well match); " +
        "re-save the artifact with a freshly computed corpusFingerprint"
    else
      s"$what at $path was trained on a DIFFERENT corpus " +
        s"(artifact ${got.mkString(",")}, corpus $want) - probing with " +
        "a stale artifact silently degrades every downstream number; " +
        "retrain or point at the matching corpus"
  }

  def corpusFingerprint(df: DataFrame, idCol: String, vecCol: String): String = {
    val rowHash = xxhash64(col(idCol), col(vecCol))
    val r = df.agg(
      count(lit(1)).cast("long").as("n"),
      bit_xor(rowHash).as("h"),
      sum(rowHash.cast("decimal(38,0)")).as("s")).head()
    val h = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) BigInt(0)
      else BigInt(r.getDecimal(2).toBigInteger).mod(BigInt(1) << 64)
    f"$FingerprintVersion,n=${r.getLong(0)}%d,h=$h%016x,s=" +
      ("0" * (16 - s.toString(16).length)) + s.toString(16)
  }

  def saveIndex(centroids: DataFrame, path: String,
                corpusFp: Option[String] = None): Unit = {
    require(centroids.columns.toSet == Set("cell_id", "cvec"),
      s"not a (cell_id, cvec) quantizer frame: " +
        centroids.columns.mkString(","))
    corpusFp.fold(centroids)(fp =>
        centroids.withColumn("corpus_fp", lit(fp)))
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveIndex]] artifact, validated LOUDLY: a duplicate cell id
    * would silently double-route every probe and corrupt [[annTopK]]'s
    * per-cell candidate bound; an empty index would assign nothing. Pass
    * `expectCorpusFp` (from [[corpusFingerprint]] over the corpus being
    * probed) to also fail loudly on a STALE artifact — a quantizer
    * trained on different data loads fine structurally but silently
    * degrades every probe; the stamp makes that a load-time error.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                path: String,
                expectCorpusFp: Option[String] = None): DataFrame = {
    val raw = spark.read.parquet(path)
    expectCorpusFp.foreach { want =>
      require(raw.columns.contains("corpus_fp"),
        s"index at $path carries no corpus fingerprint (saved before " +
          "stamping, or saved without one) — cannot prove it matches " +
          "this corpus; re-save with saveIndex(..., corpusFp = Some(...))")
      val got = raw.select("corpus_fp").distinct().collect().map(_.getString(0))
      require(got.length == 1 && got.head == want,
        fpMismatchMessage("index", path, got.toSeq, want))
    }
    val idx = raw.drop("corpus_fp")
    require(idx.columns.toSet == Set("cell_id", "cvec"),
      s"index at $path is not a (cell_id, cvec) quantizer frame")
    val n = idx.count()
    val cells = idx.select("cell_id").distinct().count()
    require(n > 0, s"index at $path is empty")
    require(n == cells, s"index at $path has duplicate cell ids " +
      s"($n rows, $cells cells) — a duplicate cell double-routes every " +
      "probe; rebuild the index")
    // vector integrity, the loadCodebook discipline: a null or
    // wrong-width centroid would make assign's distance NULL for that
    // cell — the cell silently vanishes from probe routing instead of
    // failing here
    val widths = idx
      .select(when(col("cvec").isNull || exists(col("cvec"), _.isNull),
        lit(-1)).otherwise(size(col("cvec"))).as("w"))
      .distinct().collect().map(_.getInt(0)).sorted
    require(widths.length == 1 && widths.head > 0,
      s"index at $path has null or ragged centroid vectors " +
        s"(widths ${widths.mkString(",")}; -1 = null entries) — a " +
        "corrupt cell would silently drop out of probe routing; " +
        "rebuild the index")
    idx
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * assign every embedding to its quantizer cell, compare ONLY within a
    * cell, and mark as duplicate every vector that has a smaller-id
    * near-duplicate (cosine ≥ `minCos`) in its cell. Returns one row per
    * input: (idCol, cell, is_dup) — the training-set writer keeps
    * `!is_dup`.
    *
    * Scale shape: the pair join is a cell-equality self-join — candidate
    * volume is Σ|cell|², bounded by the quantizer's cell sizes (pick k so
    * cells fit; the paper uses k ≈ √N clusters), and NO cross-cell pair is
    * ever formed. That bound is the whole point of SemDeDup: a duplicate
    * pair split across two cells is deliberately missed (spec-pinned) in
    * exchange for never forming the N² candidate set. Canonical-min keep
    * rule (smallest id survives, the exact-dedup convention); the paper's
    * keep-rule choice is orthogonal to the plan shape.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, cellIdCol: String, cellVecCol: String,
               minCos: Double): DataFrame = {
    val spark = df.sparkSession
    val nd = VectorExpressions.dotColumn(spark, _, _)
    // persisted (S4): both sides of the within-cell join and the output
    // row set read the assignment, and it carries the K-dot argmax work
    val assigned = graft.CacheRegistry.track(
      assign(df, idCol, vecCol, centroids, cellIdCol, cellVecCol)
        .select(col(idCol), col("cell"), col("__nv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dup = assigned
      .select(col("cell"), col(idCol).as("__ida"), col("__nv").as("__va"))
      .join(assigned.select(col("cell"), col(idCol).as("__idb"),
        col("__nv").as("__vb")), Seq("cell"))
      .where(col("__idb") < col("__ida") &&
        nd(col("__va"), col("__vb")) >= minCos)
      .select(col("__ida").as(idCol))
      .distinct()
    assigned.select(col(idCol), col("cell"))
      .join(dup.withColumn("__d", lit(true)), Seq(idCol), "left_outer")
      .select(col(idCol), col("cell"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
  }

  /** Top-`nprobe` cells per query (same quantizer, keep more than 1). */
  def probes(queries: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, cellIdCol: String, cellVecCol: String,
             nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val nd = VectorExpressions.dotColumn(spark, _, _)
    val q = VectorOps.withNormalized(queries, vecCol, "__nv")
    val c = broadcast(VectorOps.withNormalized(centroids, cellVecCol, "__ncv")
      .select(col(cellIdCol).as("__cell"), col("__ncv")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(nd(col("__nv"), col("__ncv")).desc, col("__cell").asc)
    q.crossJoin(c)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= nprobe)
      .select(col(idCol).as("query_id"), col("__cell").as("cell"), col("__nv").as("qv"))
  }

  /** End-to-end IVF top-k: probe cells → cell-equality join → exact cosine
    * (single dot on pre-normalized vectors) → rank. Recall depends on
    * nprobe/centroid quality, as in any IVF index.
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, centroids: DataFrame,
              cellIdCol: String, cellVecCol: String, nprobe: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    val nd = VectorExpressions.dotColumn(spark, _, _)
    val cells = assign(corpus, idCol, vecCol, centroids, cellIdCol, cellVecCol)
      .select(col(idCol).as("neighbor_id"), col("cell"), col("__nv").as("cv"))
    val qp = probes(queries, idCol, vecCol, centroids, cellIdCol, cellVecCol, nprobe)
    val scored = qp.join(cells, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", nd(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }
}
