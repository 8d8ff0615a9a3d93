package graft.sql

import org.apache.spark.sql.SparkSession

import graft.io.Tables
import graft.plans.GraftFunctions

/** SQL surface (SURVEY.md §7.1 `sql/`): make the whole catalog and the
  * native functions reachable from `spark.sql("...")` — temp views for
  * every testdata table, the document-analysis views below, and every
  * `graft_*` function in [[GraftFunctions.Table]]. Idempotent.
  *
  * Any other operator reaches SQL the same way these views do: call it,
  * then `.createOrReplaceTempView(name)` on its output. Most operators
  * take arguments a SQL literal cannot carry (a join `Column`, a `Seq` of
  * frames, a loader function), so there is no per-operator wrapper here.
  */
object GraftSql {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  def register(spark: SparkSession, dir: String,
               contaminationThreshold: Double = 0.8,
               heldOutSplit: String = "test"): Unit = {
    TableNames.foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n)
    }
    // events via the storage-typed scan so SQL-level ts predicates stay
    // pushable (TIMESTAMP literals coerce against the NTZ column)
    Tables.loadEventsRaw(spark, dir).createOrReplaceTempView("events")
    GraftFunctions.register(spark)
    registerDocViews(spark, contaminationThreshold, heldOutSplit)
  }

  /** SQL-surface views over the text-analysis columns: the pipeline scores
    * as plain `spark.sql` targets (`SELECT * FROM documents_scored WHERE
    * quality >= 0.3 AND lang_pred = 'en'`). Views stay lazy projections —
    * codegen'd column math over the base scan, no UDFs, filters still push
    * through to parquet.
    *
    * @param contaminationThreshold min Jaccard for `contamination_pairs`
    * @param heldOutSplit which `split` value counts as held-out (that side
    *                     becomes `doc_a`; every other split is the corpus
    *                     side) — so a SQL user wanting 0.7 or a val-split
    *                     audit re-registers instead of dropping to Scala
    */
  def registerDocViews(spark: SparkSession,
                       contaminationThreshold: Double = 0.8,
                       heldOutSplit: String = "test"): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.functions.{Sampling, TextAnalysis}
    if (spark.catalog.tableExists("documents")) {
      spark.table("documents")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .withColumn("n_subwords", TextAnalysis.subwordCount(col("text")))
        .withColumn("n_bpe", TextAnalysis.bpeTokenCount(col("text")))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .withColumn("fingerprint", TextAnalysis.fingerprint(col("text")))
        .withColumn("split", Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 8, "val" -> 1, "test" -> 1)))
        .withColumn("gopher_keep", TextAnalysis.gopherKeep(
          TextAnalysis.gopherReport(col("text")), minStopHits = 1))
        // per-row char entropy is a pure projection since the native
        // graft_entropy kernel — no shuffle enters the view
        .withColumn("entropy", graft.plans.TextExpressions.entropyColumn(
          spark, col("text")))
        .createOrReplaceTempView("documents_scored")
      // Span-level exact dedup (the d39 shape) as a SQL target:
      // SELECT doc_id, span_start, span_end FROM dup_spans — the token
      // extents a training pipeline excises before packing. Lazy; the
      // gram-bucket work runs only when the view is queried.
      TextAnalysis.duplicateSpans(spark.table("documents"), "doc_id", "text")
        .createOrReplaceTempView("dup_spans")
      // Benchmark-contamination audit as a plain SQL target: cross-set
      // n-gram-Jaccard pairs between the held-out and train splits of
      // `documents_scored` (the d26 shape). Lazy like every view here —
      // the prefix-join work runs only when the view is queried.
      val scored = spark.table("documents_scored")
      graft.functions.JaccardJoin.similarPairsAcross(
          scored.where(col("split") === heldOutSplit),
          scored.where(col("split") =!= heldOutSplit),
          "doc_id", "text", contaminationThreshold)
        .createOrReplaceTempView("contamination_pairs")
      // Verbatim-span twin of contamination_pairs (the d35 shape): per
      // held-out doc, how many exact 13-grams also occur in the train
      // splits. Same split parameterization; lazy like every view here.
      graft.functions.TextAnalysis.ngramContamination(
          scored.where(col("split") === heldOutSplit),
          scored.where(col("split") =!= heldOutSplit),
          "doc_id", "text")
        .createOrReplaceTempView("decontam_ngram_hits")
      // DSIR importance weights (the d61 shape) against the dump's own
      // English slice as the target sample: `SELECT doc_id FROM
      // dsir_weights WHERE logw > 0` is the looks-like-target filter.
      TextAnalysis.dsirLogRatio(
          spark.table("documents"),
          spark.table("documents").where(col("lang") === "en"),
          "doc_id", "text")
        .createOrReplaceTempView("dsir_weights")
      // Percentile-calibrated quality (the d65 shape): corpus-relative
      // cutoffs — `SELECT doc_id FROM documents_calibrated WHERE pct >=
      // 0.7` keeps the top 30% whatever the raw-score distribution is.
      Sampling.percentileCalibrate(
          spark.table("documents").select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("quality")),
          "quality")
        .createOrReplaceTempView("documents_calibrated")
      // Corpus top-100 bigrams (the d68 shape): boilerplate/stopword
      // discovery from plain SQL — `SELECT * FROM top_bigrams LIMIT 10`.
      TextAnalysis.topNgrams(spark.table("documents"), "text", n = 2, k = 100)
        .createOrReplaceTempView("top_bigrams")
    }
    if (spark.catalog.tableExists("embeddings")) {
      // Embedding-level semantic dedup (the d34 shape) as a SQL target:
      // SELECT vec_id FROM semdedup_flags WHERE NOT is_dup. The md5
      // quantizer keeps the view self-contained; pass trained centroids
      // through VectorIVF.semDedup directly when a real quantizer exists.
      graft.functions.VectorIVF.semDedup(
          spark.table("embeddings"), "vec_id", "embedding",
          graft.functions.VectorIVF.mdCentroids(spark, 8, 64),
          "cell_id", "cvec", minCos = 0.4)
        .createOrReplaceTempView("semdedup_flags")
    }
  }
}
