package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{MinHashLSH, TextAnalysis}

/** Streaming document-pipeline stages: the training-data operators that
  * make sense incrementally. Everything here accepts a streaming OR batch
  * DataFrame — projections/filters are engine-agnostic, and the dedup stage
  * uses watermark-bounded state so it runs forever on a stream.
  */
object DocStream {

  /** Streaming exact dedup: keep the first arrival per content fingerprint;
    * duplicates arriving within the watermark window are dropped, and state
    * for a fingerprint is evicted once the watermark passes it — bounded
    * state on an unbounded stream (`dropDuplicatesWithinWatermark`), unlike
    * a global dropDuplicates whose state grows with history.
    */
  def dedupExact(docs: DataFrame, tsCol: String, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp_hex", TextAnalysis.fingerprintHex(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp_hex")

  /** Quality gate — a pure codegen'd projection, identical on batch and
    * stream (no state, no trigger coupling).
    */
  def qualityFilter(docs: DataFrame, minQuality: Double): DataFrame =
    docs.where(TextAnalysis.qualityScore(col("text")) >= minQuality)

  /** Per-language routing column for a partitioned sink
    * (`writeStream.partitionBy("lang_pred")`). Multi-profile argmax
    * (en/fr/de/es) — stateless, so batch ≡ stream.
    */
  def withLanguage(docs: DataFrame): DataFrame =
    docs.withColumn("lang_pred", TextAnalysis.langId(col("text")))

  /** Repetition gate — the Gopher-style repetitious-text filter as a
    * stateless streaming stage (lambda-free column math, see
    * [[TextAnalysis.repetitionRatio]]).
    */
  def repetitionFilter(docs: DataFrame, maxRatio: Double): DataFrame =
    TextAnalysis.repetitionRatio(docs, "doc_id", "text")
      .where(col("rep_ratio") <= maxRatio)

  /** Incremental near-duplicate tagging against a STATIC reference corpus:
    * "is this arriving doc a near-copy of anything we already hold?" — the
    * admission check a growing training set runs on every ingest.
    *
    * Streamability is the design constraint, and MinHash (not SimHash) is
    * the sketch that satisfies it: shingling, the k-seed signature, and LSH
    * band keys are pure projections ([[MinHashLSH]]), so the stream side is
    * STATELESS — no per-doc aggregation state, append mode throughout.
    * Candidates come from a stream-static equijoin on (band, bkey) against
    * the reference band table, the exact Jaccard verify joins the static
    * shingle arrays, and only pairs ≥ `minJaccard` emit. The reference
    * frames are plain static DataFrames recomputed per micro-batch unless
    * the caller persists them — at scale, persist (or pre-materialize) both.
    *
    * Statelessness trade, stated loudly: a (doc, ref) pair sharing several
    * band keys emits once per colliding band (≤ k/r rows). Collapsing
    * those inside the stream would mean keyed state; route the output
    * through `dropDuplicatesWithinWatermark` on (id, ref_id) if the stream
    * carries an event-time column, or dedup in the downstream batch pass.
    * Returns (idCol, ref_id, band, jaccard).
    */
  def nearDupTag(docs: DataFrame, refDocs: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 n: Int = 3, k: Int = 8, r: Int = 2,
                 minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0.0, // 0 would emit zero-overlap band collisions
      s"minJaccard=$minJaccard must be positive")
    val refSh = MinHashLSH.shingleArrays(refDocs, idCol, textCol, n)
    val refBands = MinHashLSH.bands(MinHashLSH.signatureArray(refSh, idCol, k), idCol, k, r)
      .withColumnRenamed(idCol, "ref_id")
    val refArr = refSh.select(col(idCol).as("ref_id"), col("sh_arr").as("ref_sh"))

    // Stream side: one projection carries the shingle array NEXT TO its
    // band keys (the batch helpers would drop it), built from the SAME
    // signatureCol/bandKeysCol definitions the reference side uses — the
    // two sides of the equijoin cannot drift.
    val sig = MinHashLSH.shingleArrays(docs, idCol, textCol, n)
      .withColumn("sig", MinHashLSH.signatureCol(col("sh_arr"), k))
    val banded = sig.select(col(idCol), col("sh_arr"),
        posexplode(MinHashLSH.bandKeysCol(col("sig"), k, r)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")

    banded
      .join(refBands, Seq("band", "bkey")) // stream-static equijoin
      .join(refArr, Seq("ref_id"))         // static: attach ref shingles
      .withColumn("jaccard",
        MinHashLSH.jaccardCol(docs.sparkSession, col("sh_arr"), col("ref_sh")))
      .where(col("jaccard") >= minJaccard)
      .select(col(idCol), col("ref_id"), col("band"), col("jaccard"))
  }

  /** Ingest-time MEDIA near-dup tag — [[nearDupTag]]'s shape for
    * perceptual image hashes: arriving media rows (already carrying a
    * fixed-width bit sketch, e.g. [[graft.functions.Multimodal.dHash64]])
    * band-join the STANDING reference sketches under the SAME
    * [[graft.functions.SimHash.bandKeys]] derivation both sides use (the
    * two sides cannot drift), then the exact hamming verify runs on band
    * collisions only. Stateless stream-static — no state store, no
    * watermark; per arriving row the work is its band keys against a
    * band-bucketed static frame. Emits one row per (doc, ref, band)
    * collision that clears the budget: `(idCol, ref_id, band, hamming)`.
    * The reference frame is recomputed per micro-batch unless the caller
    * persists it — at scale, persist it (the [[nearDupTag]] note).
    *
    * `refIdCol`/`refSketchCol` name the REFERENCE frame's columns and
    * default to the probe side's names — a reference catalog with its
    * own schema (e.g. `ref_id`/`sketch`) passes them explicitly instead
    * of hitting an unresolved-column error.
    */
  def mediaDupTag(media: DataFrame, refMedia: DataFrame,
                  idCol: String = "doc_id", sketchCol: String = "phash",
                  width: Int = 64, maxHamming: Int = 3,
                  refIdCol: String = null,
                  refSketchCol: String = null): DataFrame = {
    import graft.functions.SimHash
    val rId = Option(refIdCol).getOrElse(idCol)
    val rSk = Option(refSketchCol).getOrElse(sketchCol)
    def banded(df: DataFrame, srcId: String, srcSk: String,
               id: String, sk: String): DataFrame =
      df.select(col(srcId).as(id), col(srcSk).cast("long").as(sk),
          posexplode(SimHash.bandKeys(col(srcSk).cast("long"),
            width, maxHamming)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bkey")
    banded(media, idCol, sketchCol, idCol, "sk")
      .join(banded(refMedia, rId, rSk, "ref_id", "ref_sk"),
        Seq("band", "bkey"))
      .withColumn("hamming", SimHash.hamming(col("sk"), col("ref_sk")))
      .where(col("hamming") <= maxHamming)
      .select(col(idCol), col("ref_id"), col("band"),
        col("hamming").cast("int").as("hamming"))
  }

  /** Verbatim-span contamination tag as a STREAMING stage — the d35 rule
    * (any exact n-gram shared with a static held-out benchmark set) applied
    * per arriving doc. Stateless stream-static LEFT SEMI on the gram hash:
    * a doc emits (once) iff any of its grams hits the benchmark gram set,
    * making this the streaming complement of
    * [[graft.functions.TextAnalysis.ngramContamination]] (which rolls up
    * per-doc hit counts batch-side). The gram sides use the SAME native
    * [[graft.plans.ShingleHashes]] derivation, so stream and batch can
    * never drift. The benchmark frame is static and recomputed per
    * micro-batch unless the caller persists it — at scale, persist it.
    *
    * Statelessness trade, same as [[nearDupTag]]'s: a doc emits one row
    * PER colliding gram (streaming `dropDuplicates` would be unbounded
    * keyed state, not a stateless stage). Collapse downstream — a batch
    * `distinct`, or `dropDuplicatesWithinWatermark(idCol)` when the
    * stream carries an event-time column. Returns (idCol, sh).
    */
  def contaminationTag(docs: DataFrame, benchDocs: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       n: Int = 13): DataFrame = {
    val benchGrams = MinHashLSH.shingles(benchDocs, idCol, textCol, n)
      .select("sh").distinct()
    MinHashLSH.shingles(docs, idCol, textCol, n)
      .join(benchGrams, Seq("sh"), "left_semi")
      .select(col(idCol), col("sh"))
  }

  /** A verified near-duplicate edge from the incremental cluster stream:
    * `doc_id` arrived and matched `canon_id`, the canonical of an LSH
    * bucket they share (band `band`), with exact Jaccard `jaccard` on the
    * shared 1e-6 grid.
    */
  case class DupEdge(doc_id: Long, canon_id: Long, band: Int, jaccard: Double)

  /** Per-bucket canonical state: the first doc seen in this LSH bucket
    * (public only because encoder codegen must construct it).
    */
  case class BucketCanon(canonId: Long, canonSh: Seq[Long])

  /** Incremental near-duplicate CLUSTER edges — the online complement of
    * the batch pair + connected-components pass (d05/d12): as docs arrive,
    * each of their LSH band buckets keeps ONE canonical doc (the first
    * arrival) in keyed state; later arrivals are exact-Jaccard-verified
    * against that canonical only and emit a [[DupEdge]] when they clear
    * `minJaccard`. Labels follow by union-find over the edge stream —
    * the existing batch [[graft.functions.MinHashLSH.clusters]] run
    * periodically over accumulated edges IS that pass, kept batch-side
    * deliberately: exact transitive closure needs corpus-wide iteration,
    * and an in-stream union-find would serialize every edge through one
    * state key (documented in COVERAGE.md).
    *
    * Canonical-verify is the SemDeDup trade (d34, spec-pinned there): a
    * doc near-duplicate of a bucket MEMBER but not of the bucket's
    * canonical is missed — the price of state bounded by ONE doc's
    * shingle set per bucket instead of the whole bucket. State is
    * further bounded in TIME: a bucket idle past `horizonMinutes` of
    * event time is evicted (the dedup horizon), so state holds only the
    * buckets of recently-seen docs, the same bound
    * `dropDuplicatesWithinWatermark` gives exact dedup.
    *
    * Emit multiplicity, same as [[nearDupTag]]'s: a pair sharing several
    * band buckets emits once per bucket (bounded by k/r); `clusters` is
    * multiplicity-insensitive, or collapse downstream with a batch
    * `distinct`. In-batch arrival order is made deterministic by folding
    * each bucket's micro-batch slice in (event-time, doc_id) order.
    */
  def nearDupClusterStream(docs: DataFrame, tsCol: String,
                           idCol: String = "doc_id", textCol: String = "text",
                           n: Int = 3, k: Int = 8, r: Int = 2,
                           minJaccard: Double = 0.5,
                           watermark: String = "10 minutes",
                           horizonMinutes: Int = 60): Dataset[DupEdge] = {
    require(minJaccard > 0.0, s"minJaccard=$minJaccard must be positive")
    require(horizonMinutes > 0, s"horizonMinutes=$horizonMinutes must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val horizonMs = horizonMinutes * 60_000L

    // stateless sketch: shingles next to band keys, one projection (the
    // nearDupTag shape — same signatureCol/bandKeysCol definitions, with
    // the event-time column carried through), one row per (bucket, doc)
    val sketched = docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol).as("__ts"),
        split(lower(col(textCol)), " ").as("__words"))
      .where(size(col("__words")) >= n)
      .select(col(idCol), col("__ts"),
        graft.plans.TextExpressions
          .shinglesColumn(spark, col("__words"), n).as("__raw"))
      .select(col(idCol), col("__ts"), array_distinct(col("__raw")).as("sh_arr"))
      .withColumn("sig", MinHashLSH.signatureCol(col("sh_arr"), k))
      .select(col(idCol), col("__ts"), col("sh_arr"),
        posexplode(MinHashLSH.bandKeysCol(col("sig"), k, r)))
      .select(concat(col("pos").cast("string"), lit(":"), col("col")).as("__bucket"),
        col("pos").as("band"), col(idCol), col("__ts"), col("sh_arr"))
      .as[(String, Int, Long, java.sql.Timestamp, Seq[Long])]

    def jaccard(a: Seq[Long], b: Seq[Long]): Double = {
      val (sa, sb) = (a.toSet, b.toSet)
      val ni = (sa & sb).size
      val u = sa.size + sb.size - ni
      java.math.BigDecimal.valueOf(ni.toDouble / u)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }

    sketched
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketCanon, DupEdge](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[BucketCanon]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = Seq.newBuilder[DupEdge]
            var canon = state.getOption
            var maxTs = Long.MinValue
            rows.toSeq.sortBy(t => (t._4.getTime, t._3)).foreach {
              case (_, band, doc, ts, sh) =>
                maxTs = math.max(maxTs, ts.getTime)
                canon match {
                  case None => canon = Some(BucketCanon(doc, sh))
                  case Some(c) if doc != c.canonId =>
                    val j = jaccard(sh, c.canonSh)
                    if (j >= minJaccard) out += DupEdge(doc, c.canonId, band, j)
                  case _ => ()
                }
            }
            canon.foreach { c =>
              state.update(c)
              // never behind the watermark (Spark rejects that); +1 keeps
              // an already-expired bucket alive only to the next batch
              state.setTimeoutTimestamp(math.max(maxTs + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** PII redaction as a streaming stage — a stateless projection
    * ([[TextAnalysis.redactPii]]), so batch ≡ stream. Runs LAST in
    * [[cleanStream]]: the gates and the dedup fingerprint see the raw
    * text exactly as the batch pipeline's do (d03/d14 fingerprint and
    * score pre-redaction), and the text that leaves the stream toward a
    * training sink is clean.
    */
  def redactStage(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))

  /** Gopher rule gate as a stateless streaming stage — the full published
    * metric set ([[graft.functions.TextAnalysis.gopherReport]]) evaluated
    * per arriving doc, no state, no watermark needed; compose before or
    * after [[cleanStream]] (kept out of cleanStream itself so its
    * batch-parity contract with the d38 oracle stays byte-stable).
    */
  def gopherFilter(docs: DataFrame, textCol: String = "text",
                   minWords: Long = 50, maxWords: Long = 100000,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
                   minStopHits: Long = 2): DataFrame =
    docs.where(TextAnalysis.gopherKeep(
      TextAnalysis.gopherReport(col(textCol)), minWords, maxWords,
      minMeanLen, maxMeanLen, maxSymbolRatio, minAlphaFrac, minStopHits))

  /** Stateless DSIR tagging: per-doc target-likeness `dsir_logw` from a
    * PRECOMPUTED bucket ratio table
    * ([[graft.functions.TextAnalysis.dsirRatioTable]] — a DENSE
    * bucket-indexed grid-term array shipped as a plan literal, like the
    * LSH planes). Since
    * `Σ_b f_b·lnr_b = Σ_occurrences lnr(bucket)`, one array fold over the
    * native gram hashes scores each doc — zero joins, zero state; the
    * batch twin is [[graft.functions.TextAnalysis.dsirLogRatio]] (equal
    * up to per-occurrence vs per-bucket term rounding, ≤0.5 µnat per
    * occurrence). The "route the crawl by domain-likeness online" stage.
    *
    * NULL-text convention (deliberate divergence from the batch twin): a
    * null-text doc flows through TAGGED `dsir_logw` NULL — a stream stage
    * must not silently swallow rows, the caller routes/drops explicitly —
    * whereas batch `dsirLogRatio` emits no row for it (its null bucket
    * never matches the ratio join). A downstream `dsir_logw > 0` filter
    * therefore drops null-text docs on BOTH paths, but a `dsir_logw
    * IS NULL` probe only sees them here.
    */
  def dsirTag(docs: DataFrame, ratioTerms: Array[Long],
              textCol: String = "text"): DataFrame = {
    require(ratioTerms.nonEmpty, "ratioTerms must cover every bucket")
    val spark = docs.sparkSession
    def sh(n: Int) = graft.plans.TextExpressions.shinglesColumn(
      spark, col("__w"), n)
    // dense array literal: element_at is an O(1) index per occurrence
    val termsLit = typedLit(ratioTerms.toSeq)
    val buckets = ratioTerms.length.toLong
    docs.withColumn("__w", split(lower(col(textCol)), " "))
      .withColumn("dsir_logw",
        round(aggregate(concat(sh(1), sh(2)), lit(0L),
          (acc, h) => acc +
            element_at(termsLit, (pmod(h, lit(buckets)) + 1).cast("int")))
          .cast("double") / 1e6, 6))
      .drop("__w")
  }

  /** Stateless character-entropy band gate (kept OUT of [[cleanStream]]
    * so its d38 parity contract stays byte-stable, like [[gopherFilter]]):
    * drops repeated-character spam (entropy below `minNats`) and
    * random-blob noise (above `maxNats`) via the native
    * [[graft.plans.CharEntropy]] per-row kernel — a pure projection, so
    * it composes into any streaming DAG with zero state. Empty docs
    * (null entropy) drop.
    */
  def entropyGate(docs: DataFrame, textCol: String = "text",
                  minNats: Double = 1.5, maxNats: Double = 6.0): DataFrame = {
    val h = graft.plans.TextExpressions.entropyColumn(
      docs.sparkSession, col(textCol))
    docs.where(h >= minNats && h <= maxNats)
  }

  /** Streaming semantic-decontamination tag — the stateless stream twin of
    * [[graft.functions.VectorOps.semanticDecontaminate]]: every arriving
    * row gains `bench_hits`, the count of benchmark vectors within cosine
    * `threshold` of its embedding. The benchmark set rides as a plan
    * literal of pre-normalized vectors (decontamination benches are
    * bounded — thousands of rows — the same driver-side budget as
    * [[dsirTag]]'s term array), so the tag is a pure projection: no state,
    * no watermark, no stream-static join to re-plan per microbatch.
    *
    * Convention (matches the batch side's inner-join drop semantics as
    * documented there): a NULL embedding tags NULL, it does not drop the
    * row — the downstream `bench_hits = 0` keep-filter must decide. The
    * batch operator instead never emits uncontaminated rows; the twin
    * parity oracle (d83) compares on the tagged superset.
    */
  def semanticTag(docs: DataFrame, benchVecs: Seq[Seq[Double]],
                  vecCol: String = "embedding",
                  threshold: Double = 0.35): DataFrame = {
    require(benchVecs.nonEmpty, "benchVecs must be non-empty")
    val dim = benchVecs.head.length
    require(benchVecs.forall(_.length == dim), "benchVecs must be fixed-width")
    val normed = benchVecs.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val benchLit = typedLit(normed)
    val dot = graft.functions.VectorOps.dot _
    val v = col("__nv")
    // normalization shared with the batch twin (same staging + zero guard)
    graft.functions.VectorOps.withNormalized(docs, vecCol, "__nv")
      .withColumn("bench_hits",
        // the per-term when() would silently turn a NULL embedding into 0
        // hits; the outer guard keeps the documented tag-NULL convention
        when(col(vecCol).isNull, lit(null).cast("int"))
          .otherwise(aggregate(benchLit, lit(0),
            (acc, b) => acc +
              when(dot(v, b) >= threshold, 1).otherwise(0))))
      .drop("__nv")
  }

  /** Stateless streaming IVF cell assignment — the ingestion half of the
    * ANN index ([[graft.functions.VectorIVF.assign]]'s stream twin): each
    * arriving embedding gains its nearest-centroid cell id, so a 100 TB
    * vector firehose lands already routed to its IVF cell (the partition
    * key a vector store ingests by). The quantizer rides as a plan literal
    * of pre-normalized centroids (k×dim driver doubles — the
    * [[dsirTag]]/[[semanticTag]] budget class), making the tag one HOF
    * fold per row: zero joins, zero state, zero watermark.
    *
    * Parity contract with the batch side: cosine argmax with ties to the
    * SMALLEST cell id (strict `>` keeps the earlier candidate, centroids
    * fold in index order — same rule as assign's `max_by(cos, -cell)`).
    * NULL embedding tags NULL (the [[semanticTag]] convention).
    */
  def ivfAssignTag(docs: DataFrame, centroids: Seq[Seq[Double]],
                   vecCol: String = "embedding",
                   outCol: String = "cell"): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim), "centroids must be fixed-width")
    val normed = centroids.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val centsLit = typedLit(normed.zipWithIndex.map { case (v, i) => (i, v) })
    val dot = graft.functions.VectorOps.dot _
    val v = col("__nv")
    // Per-candidate ordering key (c, -i): strict struct > keeps the higher
    // cosine, then the SMALLER index on exact ties. A NULL dot (embedding
    // with a null element) coalesces to -Inf so such a row still resolves
    // to the smallest cell id — exactly what batch assign's
    // max_by(struct(cos, -cell)) does with its null-first struct ordering,
    // instead of leaking the fold-init sentinel.
    graft.functions.VectorOps.withNormalized(docs, vecCol, "__nv")
      .withColumn(outCol,
        when(col(vecCol).isNull, lit(null).cast("int"))
          .otherwise(aggregate(
            transform(centsLit, s => struct(
              coalesce(dot(v, s.getField("_2")),
                lit(Double.NegativeInfinity)).as("c"),
              (-s.getField("_1")).as("negi"),
              s.getField("_1").as("i"))),
            struct(lit(Double.NegativeInfinity).as("c"),
              lit(Int.MinValue).as("negi"), lit(-1).as("i")),
            (acc, x) => when(
              struct(x.getField("c"), x.getField("negi")) >
                struct(acc.getField("c"), acc.getField("negi")), x)
              .otherwise(acc))
            .getField("i")))
      .drop("__nv")
  }

  /** The full incremental cleaning stage: watermarked exact dedup →
    * quality gate → repetition gate → language routing → PII redaction,
    * one streaming DAG. Near-dup clustering is deliberately absent —
    * connected components need corpus-wide iteration and belongs in the
    * periodic batch pass (d12/d14), not per-microbatch state.
    */
  def cleanStream(docs: DataFrame, tsCol: String, watermark: String = "1 hour",
                  minQuality: Double = 0.3, maxRepetition: Double = 0.05,
                  redactPii: Boolean = true): DataFrame = {
    val gated = withLanguage(
      repetitionFilter(
        qualityFilter(dedupExact(docs, tsCol, watermark), minQuality),
        maxRepetition))
    if (redactPii) redactStage(gated) else gated
  }

  /** Streaming BM25 relevance tag — the live twin of
    * [[TextAnalysis.bm25TopK]]'s scoring half: each ARRIVING doc is scored
    * against a STANDING corpus's statistics (per-term df, N, Σdl over
    * `refDocs`) for a fixed query-term set, the d124 incremental
    * philosophy applied to retrieval (corpus stats computed once per
    * release; arriving docs tagged as they land, e.g. to route crawl
    * output by relevance to a curation target).
    *
    * Fully STATELESS: per-term tf comes from `filter(words, ...)` inside
    * the row (no explode, no per-doc aggregation state), and the corpus
    * statistics join is a broadcast stream-static equijoin on a constant
    * key — one row, recomputed per micro-batch unless the caller persists
    * `refDocs`' aggregate (at scale: persist it, or write it to a table
    * per corpus release). Append mode, emits (idCol, bm25) for docs
    * matching ≥1 term.
    *
    * Per-(doc, term) contributions use the EXACT expression tree of
    * [[TextAnalysis.bm25TopK]] (1e-6 grid, long sum), so a doc's streamed
    * score equals its batch score bit-for-bit.
    */
  def bm25Tag(docs: DataFrame, refDocs: DataFrame, idCol: String,
              textCol: String, terms: Seq[String], k1: Double = 1.2,
              b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    val lowered = terms.map(_.toLowerCase)
    val words = split(lower(col(textCol)), " ")
    val dfAggs = lowered.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(col("__w"), t), 1L).otherwise(0L))
        .cast("long").as(s"__df$i")
    }
    val stats = refDocs.select(words.as("__w"))
      .agg(count(lit(1)).cast("long").as("__nd"),
        (sum(size(col("__w")).cast("long")).cast("long").as("__total")
          +: dfAggs): _*)
      .withColumn("__k", lit(1))
    val st = docs
      .withColumn("__w", words)
      .withColumn("__dl", size(col("__w")).cast("long"))
      .withColumn("__k", lit(1))
      .join(broadcast(stats), "__k")
    def tf(t: String) = size(filter(col("__w"), w => w === lit(t))).cast("long")
    // the bm25TopK expression tree verbatim — float ops are
    // order-sensitive, association must match the batch/oracle form
    val termMicro = lowered.zipWithIndex.map { case (t, i) =>
      val tfc = tf(t)
      when(tfc > 0, round(
        log(lit(1.0) + (col("__nd") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5))) *
          (tfc * lit(k1 + 1)) /
          (tfc + lit(k1) * (lit(1.0 - b) + lit(b) * (col("__dl") * col("__nd")) / col("__total"))) *
          lit(1e6), 0).cast("long")).otherwise(lit(0L))
    }
    val hits = lowered.map(t => tf(t)).reduce(_ + _)
    st.where(hits > 0)
      .select(col(idCol),
        round(termMicro.reduce(_ + _) / lit(1e6), 6).as("bm25"))
  }

  /** SpaceSaving-capped streaming heavy hitters (Metwally et al.,
    * ICDT 2005) — the 100 TB knob the exact census twin
    * (`d166_heavy_hitters_stream`) deliberately does not turn: its state
    * is one row per live (key, token), i.e. VOCABULARY-sized, which is
    * fine while the vocabulary fits the state store and an OOM risk when
    * it doesn't. This variant keeps AT MOST `cap` counters per key —
    * state is provably bounded regardless of vocabulary — at the classic
    * SpaceSaving price: estimates become upper bounds with a tracked
    * per-counter error (`est − err ≤ true ≤ est`), and any token with
    * true count > N/cap is guaranteed tracked.
    *
    * Synopsis update per micro-batch: the batch's per-key token counts
    * are folded in DESCENDING (count, token) order — deterministic, and
    * in the single-data-batch regime ([[StreamRunner.runToBatch]]'s
    * update-mode guard) every token whose true count clears the N/cap
    * eviction ceiling is EXACT (err = 0): the descending fold inserts it
    * before any eviction can matter, and since Σest = N_sofar over cap
    * counters keeps the min counter ≤ N_sofar/cap, a counter above the
    * ceiling is never the strict minimum and cannot be evicted. (NOT
    * "exact for the cap most frequent" unconditionally — below the
    * ceiling, later evict-inserts inherit min+c estimates that can
    * overtake and evict an early-inserted token;
    * `SpaceSavingMergeSpec` pins both sides.) So the top-k emission is
    * oracle-comparable whenever the k-th true count clears N/cap — the
    * skew every natural-language corpus has. Multi-batch runs degrade
    * gracefully to the standard SpaceSaving guarantee (spec-pinned in
    * `StreamingSpec` and property-pinned across random batch splits in
    * `SpaceSavingMergeSpec`).
    *
    * Emits per key the top-`k` tokens by (est desc, token asc):
    * `(keyCol, tok, est, err, rk)`.
    *
    * Cost note: eviction does an O(cap) min scan, so a batch with V
    * distinct untracked tokens pays O(V·cap) per key — fine at the caps
    * this engine runs (256); a deployment pushing cap into the tens of
    * thousands should swap the scan for SpaceSaving's stream-summary
    * bucket list (O(1) eviction), a drop-in change behind this signature.
    * Measured (BASELINE.md standing notes): at the
    * adversarial end of this engine's operating points the scan is
    * single-digit ms per key per batch — the swap is documented, not
    * needed.
    */
  /** The ONE SpaceSaving merge both capped operators
    * ([[heavyHittersCapped]], [[trendingCapped]]) fold with — shared so
    * the global and windowed forms cannot drift. Folds a batch-local
    * census into the synopsis in descending (count, token) order
    * (deterministic; exact-first in the single-batch regime), evicting
    * the min-(est, tok) counter when full.
    */
  private[streaming] def spaceSavingMerge(
      prior: Option[Map[String, (Long, Long)]],
      rows: Iterator[String],
      cap: Int): Map[String, (Long, Long)] = {
    // batch-local census first: the fold must see each token's batch
    // count once, not one increment per occurrence (occurrence order is
    // nondeterministic; counts are not)
    val batch = scala.collection.mutable.HashMap.empty[String, Long]
    rows.foreach(t => batch.update(t, batch.getOrElse(t, 0L) + 1L))
    val syn = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    prior.foreach(syn ++= _)
    batch.toSeq.sortBy { case (t, c) => (-c, t) }.foreach { case (t, c) =>
      syn.get(t) match {
        case Some((est, err)) => syn.update(t, (est + c, err))
        case None if syn.size < cap => syn.update(t, (c, 0L))
        case None =>
          // evict the min-(est, tok) counter; the newcomer inherits its
          // estimate as upper bound + error
          val (mt, (me, _)) = syn.minBy { case (t2, (e2, _)) => (e2, t2) }
          syn.remove(mt)
          syn.update(t, (me + c, me))
      }
    }
    syn.toMap
  }

  /** Top-`k` rows of a synopsis by (est desc, token asc), rank attached. */
  private def synTopK(syn: Map[String, (Long, Long)], k: Int)
      : Seq[(String, Long, Long, Int)] =
    syn.toSeq.sortBy { case (t, (e, _)) => (-e, t) }.take(k)
      .zipWithIndex.map { case ((t, (e, err)), i) => (t, e, err, i + 1) }

  /** The FULL SpaceSaving synopsis per key, re-emitted each micro-batch
    * with a per-key merge VERSION — the observable form of the
    * multi-batch state [[heavyHittersCapped]] folds internally. Update
    * mode: every batch in which a key receives data emits that key's
    * entire synopsis (≤ `cap` rows) stamped `ver` = how many batches
    * have been folded into it; a changelog consumer keeps each key's
    * max-`ver` rows to read the FINAL synopsis (the
    * `StreamRunner.runToBatchChangelog` contract). That is what makes
    * the multi-batch regime oracle-gateable: the final synopsis
    * satisfies order-INVARIANT facts — Σest = N (every occurrence
    * increments exactly one counter, eviction replaces min `me` with
    * `me+c`), |synopsis| = min(cap, vocabulary), est−err ≤ true ≤ est
    * per tracked token, and every token with true count > N/cap is
    * tracked — even though individual est/err values depend on arrival
    * order. Emits `(keyCol, ver, tok, est, err)`.
    */
  def spaceSavingSynopsis(stream: DataFrame, keyCol: String, tokCol: String,
                          cap: Int): DataFrame = {
    require(cap > 0, s"cap=$cap must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val typed = stream
      .where(col(keyCol).isNotNull && col(tokCol).isNotNull)
      .select(col(keyCol).cast("string"), col(tokCol).cast("string"))
      .as[(String, String)]
    val emitted = typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[(Int, Map[String, (Long, Long)])]) =>
          val (ver0, syn0) = state.getOption.getOrElse(
            (0, Map.empty[String, (Long, Long)]))
          val syn = spaceSavingMerge(Some(syn0), rows.map(_._2), cap)
          val ver = ver0 + 1
          state.update((ver, syn))
          syn.iterator.map { case (t, (e, err)) => (key, ver, t, e, err) }
      }
    emitted.select(col("_1").as(keyCol), col("_2").cast("int").as("ver"),
      col("_3").as("tok"), col("_4").as("est"), col("_5").as("err"))
  }

  def heavyHittersCapped(stream: DataFrame, keyCol: String, tokCol: String,
                         cap: Int, k: Int): DataFrame = {
    require(cap >= k && k > 0, s"need cap >= k > 0, got cap=$cap k=$k")
    val spark = stream.sparkSession
    import spark.implicits._
    val typed = stream
      .where(col(keyCol).isNotNull && col(tokCol).isNotNull)
      .select(col(keyCol).cast("string"), col(tokCol).cast("string"))
      .as[(String, String)]
    val emitted = typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[Map[String, (Long, Long)]]) =>
          val syn = spaceSavingMerge(state.getOption, rows.map(_._2), cap)
          state.update(syn)
          synTopK(syn, k).iterator.map { case (t, e, err, rk) =>
            (key, t, e, err, rk)
          }
      }
    emitted.select(col("_1").as(keyCol), col("_2").as("tok"),
      col("_3").as("est"), col("_4").as("err"), col("_5").cast("int").as("rk"))
  }

  /** WINDOWED trending tokens with capped state — "what surged in each
    * 10-minute window", the event-time form of [[heavyHittersCapped]]:
    * one SpaceSaving synopsis per OPEN tumbling window (state ≤ cap
    * counters × open windows, both bounded — windows by the watermark
    * horizon, counters by the cap), emitted ONCE when the watermark
    * closes the window (the q42 emission rule: a window [start, end)
    * reports iff end ≤ watermark; the timeout is set to end − 1 ms so
    * Spark's strictly-greater timeout fires exactly on end ≤ wm). Append
    * mode — a trending row is final, the d168 windowed-sketch discipline
    * applied to the heavy-hitter signal.
    *
    * Exactness regime matches [[heavyHittersCapped]]: per-window counts
    * fold descending, so in the single-data-batch regime the emitted
    * top-k carries exact counts (err 0) whenever the k-th per-window
    * count clears that window's N/cap eviction ceiling.
    *
    * Emits `(window_start, window_end, tok, est, err, rk)`.
    */
  def trendingCapped(stream: DataFrame, tsCol: String, tokCol: String,
                     windowMinutes: Int = 10, watermark: String = "10 minutes",
                     cap: Int = 256, k: Int = 5): DataFrame = {
    require(cap >= k && k > 0, s"need cap >= k > 0, got cap=$cap k=$k")
    require(windowMinutes > 0, s"windowMinutes=$windowMinutes must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val winMs = windowMinutes * 60_000L
    val typed = stream
      .withWatermark(tsCol, watermark)
      .where(col(tokCol).isNotNull && col(tsCol).isNotNull)
      .select(col(tsCol), col(tokCol).cast("string"))
      .as[(java.sql.Timestamp, String)]
    val emitted = typed
      .groupByKey { case (ts, _) => Math.floorDiv(ts.getTime, winMs) * winMs }
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (winStart: Long, rows: Iterator[(java.sql.Timestamp, String)],
         state: GroupState[Map[String, (Long, Long)]]) =>
          if (state.hasTimedOut) {
            // watermark passed window end: the window is closed — emit
            // its top-k once and drop the synopsis
            val syn = state.get
            state.remove()
            synTopK(syn, k).iterator.map { case (t, e, err, rk) =>
              (winStart, winStart + winMs, t, e, err, rk)
            }
          } else {
            state.update(
              spaceSavingMerge(state.getOption, rows.map(_._2), cap))
            state.setTimeoutTimestamp(winStart + winMs - 1)
            Iterator.empty
          }
      }
    emitted.select(
      timestamp_millis(col("_1")).as("window_start"),
      timestamp_millis(col("_2")).as("window_end"),
      col("_3").as("tok"), col("_4").as("est"), col("_5").as("err"),
      col("_6").cast("int").as("rk"))
  }
}
