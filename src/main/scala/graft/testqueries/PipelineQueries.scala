package graft.testqueries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.{CorpusDiff, GraphOps, JaccardJoin, MinHashLSH, Multimodal, Sampling, SimHash, TextAnalysis, VectorIVF, VectorLSH, VectorOps}

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis) over the `documents` / `embeddings` tables, each with a DuckDB
  * oracle replaying the exact same md5-derived hashes and closed-form scores.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** The jaccard >= 0.5 near-dup pair graph, PERSISTED — the shared input
    * of every graph-structure query (d126/d130/d135/d136/d137/d139/d144).
    * The persist is load-bearing (the S4 rule): symmetrization unions the
    * frame with its own swap, and Spark performs no common-subexpression
    * elimination across union branches — unpersisted, the whole MinHash
    * banding pipeline would run once PER BRANCH (and once more for each
    * additional consumer, e.g. d139's modularity pass after its LPA pass).
    */
  private def dupPairs(s: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.track(
      MinHashLSH.nearDupPairs(docs(s, dir), "doc_id", "text")
        .where(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The DIRECTED containment pairs at threshold 0.6, PERSISTED — the
    * shared input of d131 (the containment-join row itself) and d146
    * (dangling PageRank over the containment DAG). Same S4 rationale as
    * [[dupPairs]]: the prefix-filter derivation is the expensive part
    * (three shingle-table persists + a rank equijoin), and d146's
    * PageRank internals reference its edge input from several plan
    * branches (degree fusion, node set, dangling set) — against an
    * unpersisted derivation those branches race concurrent cache fills
    * of the SAME pipeline inside one job; against this tracked persist
    * the derivation materializes once and every consumer reads blocks.
    */
  private def containPairs(s: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.track(
      JaccardJoin.containmentPairs(docs(s, dir), "doc_id", "text",
          threshold = 0.6, n = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The d164/d167 perceptual-hash frame: synthesized 9×8 grayscale
    * thumbnails (two docs share a base image; odd docs perturb one pixel
    * — re-encode noise, ≤ 2 flipped dHash bits) round-tripped through a
    * REAL binary blob, then hashed via the deployed byte-extraction
    * chain. ONE builder for the batch near-dup row and the streaming tag
    * row, so their hash sides cannot drift; pure Column expressions, so
    * it runs identically on a batch or streaming frame.
    */
  /** GENUINE PNG blobs, one per doc id — a real JDK PNG encode per row
    * inside `mapPartitions` (the codec seam's batch shape), dims a closed
    * form of the id so the decode row's oracle needs no image library:
    * width = 16 + id % 50, height = 16 + (7·id) % 40, TYPE_INT_RGB
    * (3 raster bands), single frame. Pixel content is a deterministic
    * per-id fill — it exercises the real decoder; the ORACLE pins only
    * the header-independent facts (dims/bands/frames), so the row is
    * robust to PNG encoder byte changes across JDKs.
    */
  private[graft] def realPngs(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    // the per-row PNG encode is the expensive stage — spread a narrow
    // (single-row-group) scan across the cores before it (r19, guide §2.5;
    // identity on any at-scale many-partition scan, pass-through on
    // streaming frames)
    graft.functions.Spread.toCores(ids.select(col("doc_id").cast("long")))
      .as[Long].mapPartitions { it =>
      it.map { id =>
        val w = (16 + id % 50).toInt
        val h = (16 + (7 * id) % 40).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = ((id * 2654435761L) & 0xFFFFFFL).toInt
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb ^ (x * 31 + y)); x += 1 }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        // memory-cache stream, not ImageIO.write(…, OutputStream): the
        // latter wraps in a FILE-cache stream under the default global
        // use-cache flag — one temp file created/deleted per row
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
        try {
          javax.imageio.ImageIO.write(img, "png", ios)
          ios.flush()
        } finally ios.close()
        (id, out.toByteArray)
      }
    }.toDF("doc_id", "blob")
  }

  /** The d174 token derivation — ONE expression shared by the streaming
    * synopsis side and the batch census side (they must agree on the
    * token multiset or the bound checks compare different corpora), and
    * mirrored verbatim in the DuckDB oracle. The 8 appended copies of a
    * deterministic token per doc manufacture a guaranteed heavy hitter:
    * the natural test vocabulary is 31 near-uniform tokens, so without
    * the injection nothing clears the N/cap ceiling at cap=16 and the
    * tracked-guarantee column would gate nothing.
    */
  private val d174Toks =
    split(concat(lower(col("text")),
      lit((" zzheavy" * 8))), " ")

  /** GENUINE 9×8 PNG blobs whose GRAYSCALE CONTENT is the d164 synthetic
    * closed form: pixel (r, c) is r=g=b=v where v is the md5-derived byte
    * [[phashed]] plants at index r·9+c (same five `md5("img:ch")` calls,
    * first 72 bytes; odd ids perturb pixel (img%8, img%9) by +60 mod 256
    * — re-encode noise). Three exactness facts make the REAL decode
    * chain replayable by d164's unchanged DuckDB oracle: PNG is
    * lossless; BT.601 integer luma of (v,v,v) is exactly v
    * (299v+587v+114v = 1000v); and at w=tw, h=th the area-average in
    * [[Multimodal.ImageIoCodec.grayThumb]] is the identity (every block
    * is one pixel). So encode → ImageIO decode → grayThumb recovers the
    * planted 72 bytes BIT-FOR-BIT, or the hash — and the oracle-gated
    * pair set — changes.
    */
  private[graft] def realPhashPngs(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    // same narrow-scan spread as realPngs — the md5 fill + PNG encode is
    // per-row CPU that must not serialize on a one-row-group scan
    graft.functions.Spread.toCores(ids.select(col("doc_id").cast("long")))
      .as[Long].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { id =>
        val img = id / 2
        val px = new Array[Int](72)
        var k = 0
        var ch = 0
        while (ch < 5 && k < 72) {
          val d = md.digest(s"$img:$ch".getBytes("US-ASCII"))
          var i = 0
          while (i < 16 && k < 72) { px(k) = d(i) & 0xFF; i += 1; k += 1 }
          ch += 1
        }
        if (id % 2 == 1) {
          val p = ((img % 8) * 9 + (img % 9)).toInt
          px(p) = (px(p) + 60) % 256
        }
        val im = new java.awt.image.BufferedImage(
          9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 9) { im.setRGB(c, r, px(r * 9 + c) * 0x010101); c += 1 }
          r += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
        try {
          javax.imageio.ImageIO.write(im, "png", ios)
          ios.flush()
        } finally ios.close()
        (id, out.toByteArray)
      }
    }.toDF("doc_id", "blob")
  }

  /** GENUINE RIFF/WAVE blobs, one per doc id — a complete PCM16 mono WAV
    * (44-byte canonical header + data chunk) built per row in
    * `mapPartitions`, samples a closed form of the id so the decode row's
    * oracle replays the waveform with integer arithmetic alone:
    * n = 160 + id % 100 samples, s_i = ((id·31 + i·17) % 2001) − 1000.
    * The 8 kHz/16-bit/mono header fields are real (HeaderCodec parses
    * these blobs too); the ORACLE pins only the sample-derived features.
    */
  private def realWavs(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    // same narrow-scan spread as realPngs (WAV synthesis is cheaper than
    // PNG but still per-row byte work)
    graft.functions.Spread.toCores(ids.select(col("doc_id").cast("long")))
      .as[Long].mapPartitions { it =>
      it.map { id =>
        val n = (160 + id % 100).toInt
        val dataSize = n * 2
        val buf = java.nio.ByteBuffer
          .allocate(44 + dataSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1) // PCM, mono
          .putInt(8000).putInt(16000) // sample rate, byte rate
          .putShort(2).putShort(16) // block align, bits
          .put("data".getBytes("US-ASCII")).putInt(dataSize)
        var i = 0
        while (i < n) {
          buf.putShort((((id * 31 + i * 17) % 2001) - 1000).toShort)
          i += 1
        }
        (id, buf.array())
      }
    }.toDF("doc_id", "blob")
  }

  private[graft] def phashed(df: DataFrame): DataFrame = {
    val img = expr("doc_id div 2")
    // base image: 72 pseudo-random bytes from FIVE md5 calls (16 pixel
    // bytes each, not one md5 per pixel — a giant projection falls out of
    // whole-stage codegen, and 72 interpreted md5s/row measured ~2 s at
    // sf0.1; 5/row is ~0.3 s)
    val hx = substring(concat((0 until 5).map(ch =>
      md5(concat_ws(":", img, lit(ch)))): _*), 1, 144)
    // odd ids perturb ONE pixel (re-encode noise) by hex surgery, so the
    // BLOB is the perturbed image — pixel p at hex chars [2p+1, 2p+2]
    val p = (pmod(img, lit(8)) * 9 + pmod(img, lit(9))).cast("int")
    val origPix = conv(hx.substr(p * 2 + 1, lit(2)), 16, 10).cast("long")
    val hxPert = concat(hx.substr(lit(1), p * 2),
      lpad(hex(pmod(origPix + 60, lit(256))), 2, "0"),
      hx.substr(p * 2 + 3, lit(144)))
    val blobHex = when(pmod(col("doc_id"), lit(2)) === 1, hxPert)
      .otherwise(hx)
    // blob, pixel array, and hash are SEPARATE projections deliberately —
    // the shingleArrays lesson: each alias is non-cheap and multiply
    // referenced by the next stage (blob 72× by the extraction, px 128×
    // by the comparisons), so CollapseProject keeps them apart and each
    // evaluates once per row; inlined, the pixel array would re-evaluate
    // per element_at reference (measured: 8.4 s -> 2.5 s at sf0.1, and
    // the md5 cut above takes the chain under 1 s)
    // the md5 fill + pixel extraction is per-row CPU — guarded spread
    // (r19, guide §2.5): fires on the one-row-group batch scan, no-op on
    // the d167 streaming side and at scale
    graft.functions.Spread.toCores(df)
      .select(col("doc_id"), unhex(blobHex).as("blob"))
      .select(col("doc_id"), Multimodal.grayPixels(col("blob"), 72).as("px"))
      .select(col("doc_id"), Multimodal.dHash64(col("px")).as("phash"))
  }

  /** Symmetrized (both-directions) edge view of [[dupPairs]] — the input
    * contract of the degree-based graph operators.
    */
  private def dupGraphSym(pairs: DataFrame): DataFrame = {
    val e = pairs.select("doc_a", "doc_b")
    e.union(e.select(col("doc_b"), col("doc_a")))
  }

  /** Per-query recall@5 of an approximate neighbor frame against the
    * exact brute-force top-5 — shared by d72 (LSH) and d73 (IVF).
    */
  private def annRecall(queries: DataFrame, corpus: DataFrame,
                        approx: DataFrame): DataFrame = {
    val exact = graft.functions.VectorOps
      .knnBruteForce(queries, corpus, "vec_id", "embedding", 5)
    val hits = exact
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / 5.0, 6).as("recall"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + quality scoring — pure codegen'd expressions over the
    // scan; no shuffle at all (the 100 TB shape: embarrassingly parallel).
    "d01_text_stats" -> { (s, dir) =>
      val t = col("text")
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.subwordCount(t).cast("long").as("n_subwords"),
        round(TextAnalysis.stopwordRatio(t), 6).as("stop_ratio"),
        round(TextAnalysis.punctRatio(t), 6).as("punct_ratio"),
        round(TextAnalysis.avgTokenLen(t), 6).as("avg_token_len"),
        TextAnalysis.qualityScore(t).as("quality"))
    },

    // Unicode-script character profile (round 11) — the script-mix
    // complement to the stopword langID: mixed-script runs are
    // synthesized per doc_id (as d98/d101 synthesize blobs) so the
    // fractions genuinely vary on the ASCII test corpus, and the oracle
    // rebuilds the identical string and runs the byte-identical \x{...}
    // ranges (the regex-class syntax Java regex and RE2 share).
    "d108_script_profile" -> { (s, dir) =>
      val mixed = concat(col("text"),
        expr("repeat('世', CAST(doc_id % 5 AS INT))"),
        expr("repeat('ж', CAST(doc_id % 3 AS INT))"))
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.scriptProfile(mixed).as("sp"))
        .select(col("doc_id"), col("sp.*"))
    },

    // Language-ID heuristic (stopword profile argmax with 'und' floor).
    "d02_lang_id" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        round(TextAnalysis.stopwordRatio(col("text")), 6).as("en_ratio"),
        TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"))
    },

    // Multi-language ID: per-profile stopword-ratio argmax (en/fr/de/es)
    // with table-order tie-break and an 'und' floor — one codegen'd
    // projection, no shuffle.
    "d16_lang_id_multi" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
    },

    // Document fingerprinting (md5-derived, engine-replayable).
    "d03_fingerprint" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprintHex(col("text")).as("fp_hex"),
        TextAnalysis.fingerprint(col("text")).as("fp60"))
    },

    // Exact dedup: hash-groupBy on the normalized-text fingerprint; keeps
    // the smallest doc_id as canonical. One partial-agg shuffle on the hash.
    "d04_dedup_exact" -> { (s, dir) =>
      docs(s, dir)
        .groupBy(TextAnalysis.fingerprintHex(col("text")).as("fp_hex"))
        .agg(min("doc_id").as("canonical_doc"), count(lit(1)).as("n_copies"))
    },

    // MinHash+LSH near-dup candidates with exact-Jaccard verification —
    // shingle → 8-seed signature → 4 bands of 2 → band-key equijoin.
    "d05_minhash_pairs" -> { (s, dir) =>
      MinHashLSH.nearDupPairs(docs(s, dir), "doc_id", "text", n = 3, k = 8, r = 2)
    },

    // Incremental dedup against a STANDING index (round 13): docs ending
    // in 0 play the arriving crawl batch, the rest the released corpus
    // whose band index is the precomputed artifact. One keep/drop row per
    // batch doc; the corpus is touched only for candidate verification.
    "d124_dedup_incremental" -> { (s, dir) =>
      val d = docs(s, dir)
      val batch = d.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = d.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val index = MinHashLSH.bandIndex(corpus, "doc_id", "text")
      MinHashLSH.dedupAgainstIndex(batch, corpus, index, "doc_id", "text")
    },

    // Corpus distribution audit — the "what does this training set look
    // like" one-rower: doc/token counts, vocabulary size, token-length and
    // quality quantiles. Exact `percentile` here because the driver oracle
    // hash-compares; at 100 TB swap in `approx_percentile` (t-digest sketch,
    // map-side combinable, same plan shape) — exact percentiles buffer the
    // full column per group and do not scale. Everything else is a
    // partial-agg single shuffle.
    "d24_corpus_audit" -> { (s, dir) =>
      val d = docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      val toks = docs(s, dir).select(
        explode(split(lower(col("text")), " ")).as("token"))
      val vocab = toks.agg(countDistinct("token").as("vocab_size"))
      d.agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          round(avg("n_tokens"), 4).as("mean_tokens"),
          round(expr("percentile(n_tokens, 0.5)"), 4).as("p50_tokens"),
          round(expr("percentile(n_tokens, 0.9)"), 4).as("p90_tokens"),
          round(expr("percentile(n_tokens, 0.99)"), 4).as("p99_tokens"),
          // quality is a 1e-4-grid double; interpolating the raw doubles
          // diverges in the last ulp between engines (a+(b-a)*f vs
          // (a+b)/2), so the percentile runs on the exact integer grid,
          // where midpoints are exactly representable
          round(expr("percentile(cast(round(q * 10000) as bigint), 0.5)") / 10000, 5)
            .as("p50_quality"),
          min("n_tokens").as("min_tokens"),
          max("n_tokens").as("max_tokens"))
        .crossJoin(broadcast(vocab))
    },

    // Deterministic 8/1/1 corpus split + per-split profile — hash-derived
    // assignment (stable across runs/engines/partitionings, unlike rand()),
    // then one partial-agg shuffle for the per-split stats.
    "d27_hash_split" -> { (s, dir) =>
      import graft.functions.Sampling
      docs(s, dir)
        .withColumn("split", Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 8, "val" -> 1, "test" -> 1)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"),
          round(avg(TextAnalysis.qualityScore(col("text"))), 4).as("mean_quality"))
    },

    // Leakage-safe corpus split: assignment keyed on the SOURCE domain,
    // so near-duplicates within a site can never straddle train/test —
    // the group-keyed guard d27's id split cannot give.
    "d63_group_split" -> { (s, dir) =>
      Sampling.groupSplit(docs(s, dir), "source",
          Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .select("doc_id", "source", "split")
    },

    // Exact per-stratum quotas: k docs per domain in stable md5 order —
    // eval-set construction, where rate-based sampling gives only
    // EXPECTED counts. One partition-by-stratum exchange.
    "d64_stratified_quota" -> { (s, dir) =>
      Sampling.stratifiedQuota(docs(s, dir), "doc_id", "source",
          Map("src0" -> 5, "src1" -> 5, "src2" -> 5), default = 2)
        .select("doc_id", "source", "rk")
    },

    // Two-pass giant-stratum quotas (round 13): d64's selection and ranks
    // from the census → threshold → boundary-fix-up plan — the only sort
    // runs over ~quota-sized candidates, never a stratum. Same fixture,
    // SAME oracle as d64: rows and ranks are identical by construction,
    // so the gate pins the equivalence on driver data too.
    "d121_stratified_quota_census" -> { (s, dir) =>
      Sampling.stratifiedQuotaCensus(docs(s, dir), "doc_id", "source",
          Map("src0" -> 5, "src1" -> 5, "src2" -> 5), default = 2)
        .select("doc_id", "source", "rk")
    },

    // Weighted sampling without replacement (round 10): 10 docs per
    // source with inclusion probability proportional to length — the
    // Efraimidis–Spirakis top-n by u^(1/w) key, md5-deterministic, the
    // "sample proportional to quality/length" primitive uniform d64
    // cannot express. Selection AND ranks oracle-replayed exactly.
    "d90_weighted_sample" -> { (s, dir) =>
      Sampling.weightedSample(docs(s, dir), "doc_id", "n_chars", "source",
          n = 10)
        .select("doc_id", "source", "n_chars", "rk")
    },

    // Heavy hitters (round 10): top-5 tokens per source by exact count —
    // the corpus-census signal stopword discovery and boilerplate triage
    // read. Two partial-agg exchanges build the (source, token) census;
    // the top-k window runs over the CENSUS (vocabulary-sized), never the
    // corpus.
    "d91_heavy_hitters" -> { (s, dir) =>
      val census = docs(s, dir)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      census
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
            .orderBy(col("cnt").desc, col("tok"))))
        .where(col("rk") <= 5)
    },

    // Grouped KMV (round 10): the d86 sketch as a GROUPED aggregate —
    // distinct-3-gram cardinality per source from one bounded partial-agg
    // (state: k longs per domain). The shape a per-dump/per-domain corpus
    // catalog maintains continuously.
    "d92_kmv_by_domain" -> { (s, dir) =>
      val g = MinHashLSH.shingles(docs(s, dir), "source", "text", n = 3)
      g.groupBy("source")
        .agg(graft.functions.Sketches.kmvAgg(g, col("sh"), 64).as("sketch"))
        .select(col("source"),
          array_join(col("sketch").cast("array<string>"), ",").as("sketch_csv"),
          size(col("sketch")).as("n_sketch"),
          graft.functions.Sketches.kmvEstimate(col("sketch"), 64).as("est_distinct"))
    },

    // PNG/GIF header decode (round 10): the HeaderCodec matrix extended
    // beyond d29's BMP/WAV — PNG IHDR (big-endian dims, color-type →
    // channel count) and a REAL GIF block walk (extensions skipped via
    // sub-block chains, image descriptors counted as frames). Blobs are
    // synthesized per doc_id from closed-form fields, so the oracle
    // recomputes every output column without parsing anything.
    "d98_png_gif_decode" -> { (s, dir) =>
      def be32h(c: Column): Column = lpad(hex(c), 8, "0")
      def b1(c: Column): Column = lpad(hex(pmod(c, lit(256))), 2, "0")
      def le16h(c: Column): Column =
        concat(b1(c), b1(floor(c / 256).cast("long")))
      val id = col("doc_id")
      // PNG arm (even ids): signature + IHDR; color type cycles 0/2/4/6
      val w = lit(16) + pmod(id, lit(1900))
      val h = lit(16) + pmod(id, lit(1000))
      val ct = element_at(typedlit(Seq(0, 2, 4, 6)),
        (pmod(floor(id / 2).cast("long"), lit(4)) + 1).cast("int"))
      val pngHex = concat(lit("89504E470D0A1A0A"), be32h(lit(13)),
        lit("49484452"), be32h(w), be32h(h), lit("08"), b1(ct),
        lit("000000"))
      // GIF arm (odd ids): GIF89a, no global table, (id%3)+1 frames of a
      // 1x1 image with a 1-byte LZW sub-block, then the trailer
      val w2 = lit(16) + pmod(id, lit(600))
      val h2 = lit(16) + pmod(id, lit(400))
      val frame = "2C00000000010001000002014400"
      val gifHex = concat(lit("474946383961"), le16h(w2), le16h(h2),
        lit("000000"),
        expr(s"repeat('$frame', CAST(doc_id % 3 + 1 AS INT))"), lit("3B"))
      val media = docs(s, dir).select(id,
        unhex(when(pmod(id, lit(2)) === 0, pngHex).otherwise(gifHex)).as("blob"))
      Multimodal.decode(media, "doc_id", "blob", Multimodal.HeaderCodec)
    },

    // MP4/ISO-BMFF box-tree decode (round 13): the missing crawl modality
    // — VIDEO — through the same strict HeaderCodec seam. Boxes
    // synthesized per doc_id in closed form (ftyp, a skipped free box,
    // moov{mvhd + 1-2 trak{tkhd}}): movie duration/timescale from mvhd,
    // 16.16 fixed-point dims from the first video tkhd, channels = track
    // count (odd ids carry a dimensionless audio track). The oracle
    // inverts the synthesis without parsing a byte.
    "d122_mp4_decode" -> { (s, dir) =>
      def be32h(c: Column): Column = lpad(hex(c), 8, "0")
      def be16h(c: Column): Column = lpad(hex(c), 4, "0")
      val id = col("doc_id")
      val w = lit(16) + pmod(id, lit(1900))
      val h = lit(16) + pmod(id, lit(1000))
      val dur = (lit(1) + pmod(id, lit(300))) * lit(1000)
      val matrix = "00010000000000000000000000000000" +
        "0001000000000000000000000000000040000000"
      val mvhd = concat(lit("0000006C6D766864"),
        lit("00000000" + "00000000" + "00000000" + "000003E8"), be32h(dur),
        lit("00010000" + "0100" + "0" * 20 + matrix + "0" * 48 + "00000002"))
      def tkhd(trackId: String, vol: String, wh: Column): Column =
        concat(lit("0000005C746B6864" + "00000007" +
          "00000000" + "00000000" + trackId + "00000000"), be32h(dur),
          lit("0" * 16 + "0000" + "0000" + vol + "0000" + matrix), wh)
      val trakV = concat(lit("000000647472616B"),
        tkhd("00000001", "0000",
          concat(be16h(w), lit("0000"), be16h(h), lit("0000"))))
      val trakA = concat(lit("000000647472616B"),
        tkhd("00000002", "0100", lit("00000000" + "00000000")))
      val moov = concat(
        be32h(lit(216) + pmod(id, lit(2)) * lit(100)), lit("6D6F6F76"),
        mvhd, trakV,
        when(pmod(id, lit(2)) === 1, trakA).otherwise(lit("")))
      val mp4Hex = concat(
        lit("000000106674797069736F6D00000200"), // ftyp isom
        lit("0000000866726565"),                 // free box: the skip arm
        moov)
      val media = docs(s, dir).select(id, unhex(mp4Hex).as("blob"))
      Multimodal.decode(media, "doc_id", "blob", Multimodal.HeaderCodec)
    },

    // JPEG SOF header decode (round 11): the codec matrix's most common
    // crawl format gets a REAL marker-segment walk — SOI, then a JFIF
    // APP0, a variable-length COM segment (exercises the skip arm), then
    // SOF0 (even id/2) or SOF2 (odd): precision 8, BE dims, 1 or 3
    // components. Blobs synthesized per doc_id from closed-form fields so
    // the oracle recomputes every output column without parsing.
    "d101_jpeg_decode" -> { (s, dir) =>
      def be16h(c: Column): Column = lpad(hex(c), 4, "0")
      val id = col("doc_id")
      val w = lit(16) + pmod(id, lit(1900))
      val h = lit(16) + pmod(id, lit(1000))
      val threeComp = pmod(floor(id / 2).cast("long"), lit(2)) === 1
      val sofMarker = when(pmod(id, lit(2)) === 0, "FFC0").otherwise(lit("FFC2"))
      val app0 = "FFE000104A46494600010200010001000100"
      // COM payload: (id % 5) 'A' bytes; length field counts itself (+2)
      val com = concat(lit("FFFE"),
        be16h(lit(2) + pmod(id, lit(5))),
        expr("repeat('41', CAST(doc_id % 5 AS INT))"))
      val sof = concat(sofMarker,
        when(threeComp, "0011").otherwise(lit("000B")), lit("08"),
        be16h(h), be16h(w),
        when(threeComp, "03012200021100031100").otherwise(lit("01011100")))
      val jpegHex = concat(lit("FFD8"), lit(app0), com, sof)
      val media = docs(s, dir).select(id, unhex(jpegHex).as("blob"))
      Multimodal.decode(media, "doc_id", "blob", Multimodal.HeaderCodec)
    },

    // Model-scoring seam (round 10): the classifier-filter stage
    // (FineWeb-Edu-style quality labels) through the batched per-partition
    // scorer seam; the deterministic stand-in scorer makes the PLUMBING
    // itself the oracle row — id↔score alignment survives batching and
    // partitioning or this row hash-mismatches.
    "d97_model_score" -> { (s, dir) =>
      graft.functions.ModelScore.score(docs(s, dir), "doc_id", "text",
        batchSize = 32)
    },

    // 2-D skyline / Pareto frontier (round 11; Börzsönyi ICDE 2001, the
    // EDBT 2023 Spark-integration material): documents not dominated in
    // (quality, length) — the weight-free "best trade-off" candidate set.
    // Census pattern: per-x max partial agg, prefix-max window over the
    // CENSUS (never the corpus), skyline coordinates broadcast back as a
    // semi-join. Equal points all kept; the set is a pure function of the
    // data, so the oracle replays the same two closed-form rules.
    "d105_skyline" -> { (s, dir) =>
      graft.ops.Skyline.skyline2D(
        docs(s, dir).select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          col("n_chars")),
        "quality", "n_chars")
    },

    // Per-domain skyline (round 11): one Pareto frontier per language —
    // every stage keyed by domain, so even the prefix-max window
    // parallelizes across domains (strictly more scalable than d105's
    // global form). The curator's per-language candidate sheet.
    "d106_skyline_by_lang" -> { (s, dir) =>
      graft.ops.Skyline.skylineByDomain(
        docs(s, dir).select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          col("n_chars")),
        "lang", "quality", "n_chars")
    },

    // d106's LIVE twin (round 11): flatMapGroupsWithState keeps exactly
    // the current frontier per language (state bounded by frontier size,
    // never stream length — dominated points are dropped on arrival and
    // cannot return), re-emitting a touched domain's frontier per batch
    // in update mode. Finite source -> one batch -> the final frontier
    // once per domain; the oracle gates stream == batch.
    "d107_skyline_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          col("n_chars"))
      graft.streaming.StreamRunner.runToBatch(
        graft.streaming.SkylineStream.frontier(stream, "lang", "doc_id",
          "quality", "n_chars"),
        "d107_skyline", mode = "update")
    },

    // Percentile calibration of the d01 quality score: census-based exact
    // percent_rank — corpus-relative thresholds without a global sort.
    "d65_score_percentile" -> { (s, dir) =>
      Sampling.percentileCalibrate(
          docs(s, dir).select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("quality")),
          "quality")
    },

    // Per-domain quantile summary (round 12): p50/p90/p99 of the quality
    // score per source WITHOUT sorting the corpus — one census exchange,
    // window + picks over census rows only (the d65 calibration's grouped
    // summary complement; integer-exact inverted-CDF definition so no
    // float threshold can diverge across engines).
    "d114_quantiles_by_domain" -> { (s, dir) =>
      Sampling.quantilesByDomain(
        docs(s, dir).select(col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
        "source", "quality", Seq(50, 90, 99))
    },

    // Streaming per-domain quantile summary (round 12): the d114 census
    // maintained over an ARRIVING corpus — state per domain is the
    // (value → count) census, bounded by the score GRID (not the stream),
    // so watermark-free like the sketch streams; update-mode final
    // emission over the finite replay equals the batch summary.
    "d115_quantiles_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val q = stream.select(col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val out = graft.streaming.QuantileStream
        .quantilesByDomain(q, "source", "quality", Seq(50, 90, 99))
      graft.streaming.StreamRunner.runToBatch(out, "d115_quantiles_stream",
        mode = "update")
    },

    // Benchmark-contamination report — "which held-out items leaked into
    // the training corpus": EXACT cross-set near-dup detection (prefix
    // filtering, so zero false negatives — the property a contamination
    // audit actually needs), rolled up per benchmark doc. The %10 split
    // stands in for a real benchmark table. The candidate join is
    // bench-prefix × train-prefix (similarPairsAcross): none of the
    // train×train work a corpus self-join would generate and discard ever
    // runs — at 100 TB with a small benchmark set, that discarded work is
    // nearly all of the work.
    "d26_contamination" -> { (s, dir) =>
      val d = docs(s, dir)
      val isBench = pmod(col("doc_id"), lit(10)) === 0
      JaccardJoin.similarPairsAcross(d.where(isBench), d.where(!isBench),
          "doc_id", "text", threshold = 0.7)
        .groupBy(col("doc_a").as("bench_id"))
        .agg(count(lit(1)).as("n_contaminating"), max("jaccard").as("max_jaccard"))
    },

    // Verbatim-span decontamination — the GPT-3/PaLM 13-gram rule over the
    // same %10 bench/train split as d26: a bench doc counts as contaminated
    // if ANY exact 13-gram also appears in the training side. Left-semi on
    // the gram hash keeps the join output bounded by the bench gram count
    // (train-side gram frequency skew cannot blow it up).
    "d35_ngram_decontam" -> { (s, dir) =>
      val d = docs(s, dir)
      val isBench = pmod(col("doc_id"), lit(10)) === 0
      TextAnalysis.ngramContamination(d.where(isBench), d.where(!isBench),
        "doc_id", "text", n = 13)
    },

    // Bloom pre-decontamination (round 10): the train split's distinct
    // 13-gram set compressed to a deterministic 2^20-bit bitmap (md5 base
    // hash + the MinHash universal family for the k=4 probe positions, so
    // DuckDB rebuilds the identical bitmap), then every bench doc screened
    // MAP-ONLY against the broadcast bitmap. d35's exact join confirms
    // what this screen flags; the bitmap is the standing artifact that
    // lets each new benchmark release be screened without a corpus pass.
    "d78_bloom_decontam" -> { (s, dir) =>
      val d = docs(s, dir)
      val isBench = pmod(col("doc_id"), lit(10)) === 0
      val bmp = TextAnalysis.bloomGramBitmap(d.where(!isBench), "text", n = 13)
      TextAnalysis.bloomContaminationScan(d.where(isBench), bmp,
        "doc_id", "text", n = 13)
    },

    // The Bloom screen's deployment shape, oracle-gated (d85): the corpus's
    // STANDING bitmap (built once, batch) probes benchmark docs as they
    // ARRIVE on a stream. bloomContaminationScan is a pure stateless
    // projection (plan-literal bitmap + native shingle kernel + HOF
    // filter), so the exact same call drives batch and stream — this row
    // pins that equivalence against the d78 bitmap-replay oracle.
    "d85_bloom_tag_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val isBench = pmod(col("doc_id"), lit(10)) === 0
      val bmp = TextAnalysis.bloomGramBitmap(d.where(!isBench), "text", n = 13)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .where(isBench)
      graft.streaming.StreamRunner.runToBatch(
        TextAnalysis.bloomContaminationScan(stream, bmp, "doc_id", "text", n = 13),
        "d85_bloom_tag_stream")
    },

    // KMV distinct-count sketch (round 10): the corpus's distinct-3-gram
    // cardinality estimated from the k=256 smallest gram hashes — the
    // sub-linear replacement for COUNT(DISTINCT gram) whose exchange would
    // carry every distinct gram (billions at 100 TB). The sketch VALUE
    // (all 256 hashes) and the estimate are both oracle-compared, so the
    // approximation itself is gate-checked, not trusted.
    "d86_kmv_distinct" -> { (s, dir) =>
      val g = MinHashLSH.shingles(docs(s, dir), "doc_id", "text", n = 3)
      graft.functions.Sketches.kmvDistinct(g, col("sh"), k = 256)
        .select(
          array_join(col("sketch").cast("array<string>"), ",").as("sketch_csv"),
          col("n_sketch"), col("est_distinct"))
    },

    // Cross-dump overlap from two KMV sketches (round 10): the theta-style
    // splice over the d59/d74 old-vs-new dump split — Jaccard, union and
    // intersection cardinalities of the two dumps' gram SETS from two
    // 256-long sketches, no gram-set join at all. The standing-artifact
    // shape: persist one sketch per dump (k longs), answer any pairwise
    // overlap later without re-reading either dump.
    "d87_kmv_overlap" -> { (s, dir) =>
      val d = docs(s, dir)
      val old = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val cur = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.functions.Sketches.kmvOverlap(
        MinHashLSH.shingles(old, "doc_id", "text", n = 3),
        MinHashLSH.shingles(cur, "doc_id", "text", n = 3),
        col("sh"), col("sh"), k = 256)
    },

    // The KMV sketch's deployment shape (round 10): the distinct-gram
    // cardinality of an ARRIVING corpus, tracked live. The streaming state
    // IS the sketch — k longs total, watermark-free (state is bounded by
    // construction, not by time), so this is the rare global streaming
    // aggregate that is safe on an unbounded stream. Update-mode final
    // emission over the finite replay must equal the batch sketch to the
    // last hash (same oracle as d86).
    "d88_kmv_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val g = MinHashLSH.shingles(stream, "doc_id", "text", n = 3)
      val agg = g.agg(graft.functions.Sketches.kmvAgg(g, col("sh"), 256).as("sketch"))
        .select(
          array_join(col("sketch").cast("array<string>"), ",").as("sketch_csv"),
          size(col("sketch")).as("n_sketch"),
          graft.functions.Sketches.kmvEstimate(col("sketch"), 256).as("est_distinct"))
      graft.streaming.StreamRunner.runToBatch(agg, "d88_kmv_stream",
        mode = "update")
    },

    // Z-order clustering key (round 10): the Morton bit-interleave of two
    // dimension columns — the sort key TableWriter.writeZOrdered clusters
    // files by, so parquet min/max stats prune on EITHER dimension. The
    // oracle evaluates the identical shift-mask-or expression per row;
    // the locality property the layout buys is pinned in ZOrderSpec
    // (per-file bounding boxes shrink in both dimensions).
    "d89_zorder_key" -> { (s, dir) =>
      val d = docs(s, dir)
      d.select(col("doc_id"),
        graft.ops.ZOrder.zValue(
          graft.ops.ZOrder.normalize(col("doc_id"), 16),
          graft.ops.ZOrder.normalize(col("n_chars"), 16), bits = 16).as("z"))
    },

    // The live per-domain corpus catalog (round 10): d92's grouped sketch
    // maintained over an ARRIVING corpus — streaming state is k longs per
    // domain, watermark-free (bounded by construction), update-mode final
    // emission per key. Completes the batch/stream × global/grouped
    // sketch matrix (d86/d92/d88/this); same oracle as d92.
    "d99_kmv_domain_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val g = MinHashLSH.shingles(stream, "source", "text", n = 3)
      val agg = g.groupBy("source")
        .agg(graft.functions.Sketches.kmvAgg(g, col("sh"), 64).as("sketch"))
        .select(col("source"),
          array_join(col("sketch").cast("array<string>"), ",").as("sketch_csv"),
          size(col("sketch")).as("n_sketch"),
          graft.functions.Sketches.kmvEstimate(col("sketch"), 64).as("est_distinct"))
      graft.streaming.StreamRunner.runToBatch(agg, "d99_kmv_domain_stream",
        mode = "update")
    },

    // Count-Min frequency sketch (round 12): the bounded-state FREQUENCY
    // dual of the d86 KMV distinct sketch — "in how many docs does gram x
    // occur" answered from depth×width longs (exchange ≤ partitions×8192
    // longs) instead of a gram census. Gated on the 15 heaviest grams:
    // estimate vs exact count, plus the structural no-undercount
    // invariant (each CMS row counts every true occurrence, min over
    // rows can only add collisions). The exact census here is the GATE's
    // truth source — the deployed path answers point queries without it.
    "d110_cms_freq" -> { (s, dir) =>
      val g = MinHashLSH.shingles(docs(s, dir), "doc_id", "text", n = 3)
      graft.functions.Sketches.cmsTopFreq(g, col("sh"), depth = 4,
        width = 2048, topK = 15)
    },

    // Grouped CMS (round 12): one sketch per source next to d92's grouped
    // KMV — the per-domain catalog answers both "how many distinct grams"
    // and "how often is gram x" from mergeable, engine-replayable state
    // (depth×width longs per domain). Gated on each source's single
    // heaviest gram.
    "d111_cms_by_domain" -> { (s, dir) =>
      val g = MinHashLSH.shingles(docs(s, dir), "source", "text", n = 3)
      graft.functions.Sketches.cmsByDomain(g, "source", col("sh"),
        depth = 4, width = 256)
    },

    // Streaming CMS (round 12): the d88 convention — streaming state IS
    // the sketch (depth×width longs, watermark-free, bounded by
    // construction), update-mode final emission over the finite replay
    // must equal the batch sketch TO THE LAST BUCKET (the oracle
    // assembles the full dense array), plus the item total.
    "d112_cms_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val g = MinHashLSH.shingles(stream, "doc_id", "text", n = 3)
      val agg = g
        .agg(graft.functions.Sketches.cmsAgg(g, col("sh"), 4, 256).as("sk"))
        .select(graft.functions.Sketches.cmsSummary(col("sk"), 4, 256): _*)
      graft.streaming.StreamRunner.runToBatch(agg, "d112_cms_stream",
        mode = "update")
    },

    // The live per-domain CMS (round 12): d111's grouped sketch maintained
    // over an ARRIVING corpus — streaming state is depth×width longs PER
    // SOURCE, watermark-free, update-mode final emission per key.
    // Completes the batch/stream × global/grouped CMS matrix
    // (d110/d111/d112/this), exactly as d86/d92/d88/d99 do for KMV; the
    // oracle assembles each source's full dense array.
    "d117_cms_domain_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val g = MinHashLSH.shingles(stream, "source", "text", n = 3)
      val agg = g.groupBy("source")
        .agg(graft.functions.Sketches.cmsAgg(g, col("sh"), 4, 256).as("sk"))
        .select(col("source") +:
          graft.functions.Sketches.cmsSummary(col("sk"), 4, 256): _*)
      graft.streaming.StreamRunner.runToBatch(agg, "d117_cms_domain_stream",
        mode = "update")
    },

    // CMS join-size estimation (round 12): the other classic CMS splice —
    // the gram-equijoin size between two dumps (Σ_h dfA·dfB, the number
    // of cross-dump doc pairs per shared gram) estimated as the min over
    // rows of the bucket-wise product sum of two persisted sketches. The
    // quantity a join planner wants BEFORE running the join, answered
    // without touching either corpus; structurally never an
    // underestimate. Same old/cur dump split as d87's set-overlap splice
    // so the two standing-artifact answers sit side by side.
    "d113_cms_join_size" -> { (s, dir) =>
      val d = docs(s, dir)
      val old = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val cur = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.functions.Sketches.cmsJoinSize(
        MinHashLSH.shingles(old, "doc_id", "text", n = 3),
        MinHashLSH.shingles(cur, "doc_id", "text", n = 3),
        col("sh"), col("sh"), depth = 4, width = 2048)
    },

    // Count-Sketch join-size estimation (round 13): the UNBIASED fix for
    // d113's one honest weakness — on this sparse gram split the CMS
    // min-over-rows is a ~7× upper bound (collision mass is all
    // positive), while the AMS ±1-signed median-of-rows cancels collision
    // terms in expectation and lands within the gated band of the exact
    // census join. SAME split, SAME truth source; the whole signed sketch
    // is emitted (CSV, both sides) so the oracle's bit-for-bit rebuild is
    // itself part of the hash compare.
    "d118_countsketch_join_size" -> { (s, dir) =>
      val d = docs(s, dir)
      val old = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val cur = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.functions.Sketches.csJoinSize(
        MinHashLSH.shingles(old, "doc_id", "text", n = 3),
        MinHashLSH.shingles(cur, "doc_id", "text", n = 3),
        col("sh"), col("sh"), depth = 5, width = 2048, band = 0.1)
    },

    // Sliding-window chunking (context-window packing) — map-only explode,
    // overlap-suppressed tails; the chunk key is the 1-based token start.
    "d25_chunk" -> { (s, dir) =>
      TextAnalysis.chunk(docs(s, dir), "doc_id", "text",
        maxTokens = 40, overlap = 8)
    },

    // TF-IDF top-3 keywords per doc — tf and df both partial-agg shuffles,
    // idf attached via a one-row-per-token equijoin, per-doc top-k window.
    // Known bounded risk: ln() is the one transcendental on the oracle
    // surface; JVM Math.log and DuckDB libm agree to the last ulp on this
    // data (verified by the green gate), and a disagreement would need an
    // unrounded score within ~1 ulp of a 5e-7 rounding boundary.
    "d23_tfidf" -> { (s, dir) =>
      TextAnalysis.tfidfTopK(docs(s, dir), "doc_id", "text", k = 3)
    },

    // BM25 top-10 retrieval for a fixed query (round 13) — integer-grid
    // per-term contributions summed as longs, distributed top-k via
    // orderBy.limit (TakeOrderedAndProject, no global rank window). Same
    // bounded ln() risk note as d23.
    "d125_bm25_topk" -> { (s, dir) =>
      TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text",
        terms = Seq("spark", "vector", "query"))
    },

    // PageRank centrality over the near-dup similarity graph (round 13):
    // central documents are the natural canonical representatives of
    // their duplicate neighborhoods — the global complement of d49's
    // per-cluster min-label pick. Integer ppb grid, 3 damped iterations,
    // engine-replayable bit-for-bit (see GraphOps scaladoc).
    "d126_pagerank_dups" -> { (s, dir) =>
      GraphOps.pageRank(dupGraphSym(dupPairs(s, dir)), "doc_a", "doc_b",
          iters = 3)
        .selectExpr("id AS doc_id", "rank_ppb")
    },

    // d126's weighted form (round 13): mass splits by micro-jaccard edge
    // weight, so strong duplicates pull more centrality than marginal
    // band matches — the sharper canonical-election signal.
    "d130_pagerank_weighted" -> { (s, dir) =>
      val pairs = dupPairs(s, dir).select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * lit(1e6), 0).cast("long").as("w"))
      val sym = pairs.union(pairs.select(col("doc_b"), col("doc_a"), col("w")))
      GraphOps.pageRank(sym, "doc_a", "doc_b", iters = 3,
          weightCol = Some("w"))
        .selectExpr("id AS doc_id", "rank_ppb")
    },

    // Hybrid retrieval (round 13): the d125 lexical list and a d07-style
    // semantic list for ONE query (terms + the id-0 embedding, over the
    // shared doc_id/vec_id space), fused by reciprocal rank on the integer
    // micro grid — rank-only fusion, no cross-signal score calibration.
    "d127_hybrid_rrf" -> { (s, dir) =>
      val lex = TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text",
        terms = Seq("spark", "vector", "query"), topK = 20)
        .select(col("doc_id"), col("rk").as("rank"))
      val e = embs(s, dir)
      val sem = VectorOps.knnBruteForce(e.where(col("vec_id") === 0), e,
        "vec_id", "embedding", 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.functions.Retrieval.rrfFuse(
        Seq("lex" -> lex, "sem" -> sem), "doc_id", "rank")
    },

    // The live twin of d125's scoring half (round 13): arriving docs
    // tagged with their BM25 relevance against the standing corpus stats
    // — stateless stream-static, per-doc score equals batch bit-for-bit.
    "d128_bm25_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val tagged = graft.streaming.DocStream.bm25Tag(stream, d,
        "doc_id", "text", Seq("spark", "vector", "query"))
      graft.streaming.StreamRunner.runToBatch(tagged, "d128_bm25_stream")
    },

    // Triangle census of the near-dup graph (round 13): one-row structural
    // audit — a genuine duplicate graph is triangle-dense, band-collision
    // noise is wedge-heavy, so gcc gates the pair set itself.
    "d129_triangle_census" -> { (s, dir) =>
      // single consumer, and triangleStats persists its own oriented
      // projection — the shared dupPairs persist would only add a
      // cache-fill barrier here (the q43 lesson)
      val pairs = MinHashLSH.nearDupPairs(docs(s, dir), "doc_id", "text")
        .where(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
      GraphOps.triangleStats(pairs, "doc_a", "doc_b")
    },

    // DIRECTED containment pairs (round 13): |A∩B|/|A| — the asymmetric
    // near-dup relation (quotes, boilerplate wrapping, subset dumps) that
    // Jaccard cannot see; prefix-filtered with NO false negatives.
    "d131_containment_join" -> { (s, dir) =>
      // the shared persist carries sz_a/sz_b for d157's tie-break; this
      // row's public shape stays the 3-column relation the oracle pins
      containPairs(s, dir).select("doc_a", "doc_b", "containment")
    },

    // Edit-distance-verified near-dup pairs (round 13): LSH banding
    // prunes, levenshtein on the 1e-6 grid decides — the character-level
    // revision detector next to d05's shingle-set one.
    "d132_edit_verified" -> { (s, dir) =>
      // shingle+signature banding is per-row CPU on a one-row-group scan
      // — spread before it (r19, guide §2.5; the post-band levenshtein
      // stage keeps AQE's own sizing)
      MinHashLSH.editVerifiedPairs(
        graft.functions.Spread.toCores(docs(s, dir)), "doc_id", "text",
        maxNorm = 0.3)
    },

    // Source-mixture entropy census (round 13): the one-row diversity
    // meter for the mixture family — entropy + evenness of the source
    // distribution on the 1e-6 integer grid.
    "d134_mixture_entropy" -> { (s, dir) =>
      Sampling.mixtureEntropy(docs(s, dir), "source")
    },

    // Label-propagation communities over the near-dup graph (round 13):
    // majority-vote cores within components — the per-community cap
    // granularity for diversity-aware sampling.
    "d135_communities" -> { (s, dir) =>
      GraphOps.labelPropagation(dupGraphSym(dupPairs(s, dir)),
          "doc_a", "doc_b", iters = 3)
        .selectExpr("id AS doc_id", "community")
    },

    // Fixed-round k-core peel of the near-dup graph (round 13): nodes
    // that keep >= 2 neighbors through 3 peel rounds — duplicate-dense
    // cores vs band-collision fringe, the per-node complement of d129's
    // global triangle census.
    "d136_kcore" -> { (s, dir) =>
      GraphOps.kCore(dupGraphSym(dupPairs(s, dir)), "doc_a", "doc_b",
          k = 2, rounds = 3)
        .selectExpr("id AS doc_id", "degree")
    },

    // Personalized PageRank from the English-doc seed set (round 13):
    // teleport mass restricted to seeds, so rank measures proximity to
    // the trusted subset through the dup graph — the "expand a curated
    // set" primitive next to d126's global centrality.
    "d137_pagerank_seeded" -> { (s, dir) =>
      GraphOps.pageRank(dupGraphSym(dupPairs(s, dir)), "doc_a", "doc_b",
          iters = 3,
          seeds = Some(docs(s, dir).where(col("lang") === "en")
            .select("doc_id")))
        .selectExpr("id AS doc_id", "rank_ppb")
    },

    // Mutual information between the two stratification axes (round 13):
    // does language duplicate source, or do the mixture policies need
    // the joint grid? One joint census, the rest is census-row math.
    "d138_mutual_information" -> { (s, dir) =>
      Sampling.mutualInformation(docs(s, dir), "lang", "source")
    },

    // Modularity of the d135 LPA communities (round 13): LPA proposes,
    // Newman Q scores — the one-row gate that says the partition is
    // denser than the degree-preserving random expectation (Q > 0)
    // before per-community caps trust it.
    "d139_modularity" -> { (s, dir) =>
      val pairs = dupPairs(s, dir)
      val comm = GraphOps.labelPropagation(dupGraphSym(pairs),
        "doc_a", "doc_b", iters = 3)
      GraphOps.modularity(pairs, "doc_a", "doc_b", comm, "id", "community")
    },

    // The live twin of d134 (round 13): the source census maintained as
    // streaming state (update-mode final emission — one row per source,
    // state bounded by source cardinality), handed to the SAME grid
    // combine the batch meter uses (mixtureEntropyFromCensus) — streamed
    // equals batch bit-for-bit because the combine is shared code.
    "d140_entropy_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val census = stream.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val live = graft.streaming.StreamRunner.runToBatch(census,
        "d140_entropy_stream", mode = "update")
      Sampling.mixtureEntropyFromCensus(live, "source", "cnt")
    },

    // Jensen-Shannon drift between two release halves (round 13): how far
    // has the source mixture of the even-id half MOVED from the odd-id
    // half — the symmetric, always-finite drift meter next to d134's
    // diversity meter and d138's dependence meter. All three entropies on
    // the shared 1e-6 grid; one census per side, census-sized join.
    "d141_jensen_shannon" -> { (s, dir) =>
      val d = docs(s, dir)
      Sampling.jensenShannon(
        d.where(pmod(col("doc_id"), lit(2)) === 0),
        d.where(pmod(col("doc_id"), lit(2)) === 1), "source")
    },

    // The live drift twin (round 13): the even-id half's source census
    // maintained as streaming state (the d140 pattern), the odd-id half's
    // census built in batch as the standing reference, both handed to the
    // SAME grid combine (jensenShannonFromCensus) — streamed drift equals
    // batch drift bit-for-bit because the combine is shared code.
    "d142_drift_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val census = stream.where(pmod(col("doc_id"), lit(2)) === 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val live = graft.streaming.StreamRunner.runToBatch(census,
        "d142_drift_stream", mode = "update")
      val ref = d.where(pmod(col("doc_id"), lit(2)) === 1)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      Sampling.jensenShannonFromCensus(live, ref, "source", "cnt")
    },

    // Degree assortativity of the near-dup graph (round 13): do dup hubs
    // link to hubs (template farms — cap the component) or to spokes
    // (one canonical quoted everywhere — elect per node)? Pure integer
    // Pearson over endpoint degrees; no float, no libm dependency.
    "d144_assortativity" -> { (s, dir) =>
      GraphOps.degreeAssortativity(dupGraphSym(dupPairs(s, dir)),
        "doc_a", "doc_b")
    },

    // PageRank with dangling-mass redistribution (round 14) over the
    // DIRECTED containment graph (doc_a ⊆ doc_b edges from d131),
    // oriented doc_a < doc_b so mutual containments keep one canonical
    // direction (mass flows toward the newer/higher id) and the graph is
    // a DAG — whose maximal elements have NO out-edges, exactly the
    // hyperlink-crawl sink shape. Their mass folds into the teleport
    // each iteration instead of silently draining, so Σrank stays
    // ≈ 10^9 and rank reads as "how much content aggregates here".
    "d146_pagerank_dangling" -> { (s, dir) =>
      // Shares the persisted containment-pair frame with d131/d157 (the
      // dupPairs precedent). Measured trade (q43 measure-both rule,
      // BASELINE.md round-15 note): in an isolated bench the share costs
      // d146 ~+0.5 s (a second columnar fill of the pair frame before
      // pageRank's own ed persist) - inside run noise - while a session
      // computing d131/d146/d157 together without cache drops saves the
      // full containment derivation per extra consumer, which is the
      // 100 TB-relevant direction.
      val edges = containPairs(s, dir)
        .where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
      GraphOps.pageRank(edges, "doc_a", "doc_b", iters = 3,
          danglingMass = true)
        .selectExpr("id AS doc_id", "rank_ppb")
    },

    // Weighted LPA (round 14): the vote sums micro-jaccard edge weights
    // instead of counting edges — a node joins the community its
    // STRONGEST duplicates vote for, the d130 sharpening applied to
    // communities instead of centrality.
    "d147_communities_weighted" -> { (s, dir) =>
      val pairs = dupPairs(s, dir).select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * lit(1e6), 0).cast("long").as("w"))
      val sym = pairs.union(pairs.select(col("doc_b"), col("doc_a"), col("w")))
      GraphOps.labelPropagation(sym, "doc_a", "doc_b", iters = 3,
          weightCol = Some("w"))
        .selectExpr("id AS doc_id", "community")
    },

    // k-core peeled to FIXPOINT (round 14): the true maximal k-core, not
    // a round-R superset — the early exit is semantics-free (the result
    // always equals the maxRounds unroll, which is what the oracle
    // replays), it only saves the rounds past stabilization.
    "d148_kcore_converged" -> { (s, dir) =>
      GraphOps.kCoreConverged(dupGraphSym(dupPairs(s, dir)),
          "doc_a", "doc_b", k = 2, maxRounds = 8)
        .selectExpr("id AS doc_id", "degree")
    },

    // LPA voted to stability (round 14): same semantics-free early exit
    // — equals the 8-round unroll bit-for-bit whether the vote stabilizes
    // at round 2 or oscillates to the bound.
    "d149_lpa_converged" -> { (s, dir) =>
      GraphOps.labelPropagationConverged(dupGraphSym(dupPairs(s, dir)),
          "doc_a", "doc_b", maxRounds = 8)
        .selectExpr("id AS doc_id", "community")
    },

    // Duplication-concentration census (round 14): Gini over the d12
    // component sizes — one mega-cluster (cap the component) vs spread
    // dup mass (per-cluster election barely matters); computed on the
    // SIZE HISTOGRAM, never a global sort over clusters.
    "d153_dup_concentration" -> { (s, dir) =>
      val labels = MinHashLSH.clusters(dupPairs(s, dir))
      MinHashLSH.clusterSizeProfile(labels)
    },

    // Catalog-answered duplication concentration (round 15): the dump's
    // cluster-size HISTOGRAM rides its catalog row (the d150/d151
    // pattern applied to the d153 meter), then the SAME histogram
    // combine answers n_clusters/max/Gini from the census alone —
    // release-over-release concentration with zero corpus re-reads
    // (CorpusCatalogSpec pins the parquet round-trip equal to the
    // direct profile).
    "d154_catalog_dup_concentration" -> { (s, dir) =>
      val labels = MinHashLSH.clusters(dupPairs(s, dir))
      val row = graft.functions.CorpusCatalog.summarize(
        docs(s, dir), "doc_id", "text", "rel",
        clusterLabels = Some(labels))
      MinHashLSH.clusterSizeProfileFromHistogram(
        graft.functions.CorpusCatalog.explodeClusterCensus(row),
        "sz", "cnt")
    },

    // The live twin of d153 (round 15): per-cluster sizes maintained as
    // streaming state — stream docs inner-joined to the STANDING label
    // frame (stream-static join, stateless), update-mode count per
    // cluster, so state is one row per dup cluster (the census bound,
    // the d140 pattern) — handed to the SAME size→histogram→Gini
    // combine (clusterSizeProfileFromSizes): streamed == batch
    // bit-for-bit because the combine is shared code.
    "d155_dup_concentration_stream" -> { (s, dir) =>
      val labels = MinHashLSH.clusters(dupPairs(s, dir))
        .select(col("id").as("doc_id"), col("cluster"))
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val census = stream.select("doc_id").join(labels, Seq("doc_id"))
        .groupBy("cluster").agg(count(lit(1)).cast("long").as("sz"))
      val live = graft.streaming.StreamRunner.runToBatch(census,
        "d155_dup_concentration_stream", mode = "update")
      MinHashLSH.clusterSizeProfileFromSizes(live.select("sz"), "sz")
    },

    // Strength-core peel (round 15): the k-core density gate in the
    // weighted regime — survive 3 peel rounds with ≥ 1.2 jaccard-mass
    // (micro grid) of incident duplicate weight, so one certain duplicate
    // outranks several marginal band matches (the d147/d152 weighted
    // sharpening applied to d136's peel).
    "d156_kcore_weighted" -> { (s, dir) =>
      val pairs = dupPairs(s, dir).select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * lit(1e6), 0).cast("long").as("w"))
      val sym = pairs.union(pairs.select(col("doc_b"), col("doc_a"), col("w")))
      GraphOps.kCoreWeighted(sym, "doc_a", "doc_b", "w", s = 1200000L,
          rounds = 3)
        .selectExpr("id AS doc_id", "strength")
    },

    // Containment-dedup verdicts (round 15): the gate d131's relation
    // exists for — keep the superset doc, drop the contained one
    // (strict subsets always drop; mutual-containment cliques keep their
    // max id), one verdict row per corpus doc. Shares the persisted
    // containment-pair frame with d131/d146.
    "d157_containment_dedup" -> { (s, dir) =>
      JaccardJoin.containmentDedupVerdicts(docs(s, dir), "doc_id",
        containPairs(s, dir))
    },

    // Cross-set containment contamination audit (round 15): which
    // "benchmark" docs (id % 5 == 0) are contained in which "training"
    // docs — the asymmetric decontamination gate shingle-SET containment
    // catches when edge rewording defeats exact 13-gram matching. Probe
    // side tiny (broadcasts); training×training pairs never form.
    "d158_containment_across" -> { (s, dir) =>
      val d = docs(s, dir)
      JaccardJoin.containmentPairsAcross(
          d.where(pmod(col("doc_id"), lit(5)) === 0),
          d.where(pmod(col("doc_id"), lit(5)) =!= 0),
          "doc_id", "text", threshold = 0.6, n = 3)
        .select("doc_a", "doc_b", "containment")
    },

    // Ingest-time containment tag (round 15): the d124 incremental-dedup
    // pattern applied to the containment relation — each NEW batch doc
    // tagged drop/keep against the STANDING corpus only (batch×batch and
    // corpus×corpus pairs never form), with its strongest container
    // named. Batch-sized work per release; the corpus is scanned once
    // into the ranked-shingle table.
    "d159_containment_tag_incremental" -> { (s, dir) =>
      val d = docs(s, dir)
      val batch = d.where(pmod(col("doc_id"), lit(5)) === 0)
      val corpus = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val pairs = JaccardJoin.containmentPairsAcross(batch, corpus,
        "doc_id", "text", threshold = 0.6, n = 3)
      val top = pairs.groupBy(col("doc_a").as("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_containers"),
          max_by(col("doc_b"),
            struct(col("containment"), (-col("doc_b")).as("nb")))
            .as("top_container"),
          max(col("containment")).as("containment"))
      batch.select(col("doc_id"))
        .join(top, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("n_containers").isNotNull, lit("drop"))
            .otherwise(lit("keep")).as("verdict"),
          coalesce(col("n_containers"), lit(0L)).as("n_containers"),
          coalesce(col("top_container"), lit(-1L)).as("top_container"),
          coalesce(col("containment"), lit(0.0)).as("containment"))
    },

    // Catalog-answered containment posture (round 16): the d157 verdict
    // census rides the corpus-catalog row (the d154 precedent), so
    // release-over-release contamination posture — keep/drop split,
    // container fan-in, total containment edges — is pure catalog math
    // with ZERO corpus passes. One shared combine
    // (containmentProfileFromCensus) serves batch, catalog and stream.
    "d160_catalog_containment_census" -> { (s, dir) =>
      val verdicts = JaccardJoin.containmentDedupVerdicts(docs(s, dir),
        "doc_id", containPairs(s, dir))
      val row = graft.functions.CorpusCatalog.summarize(
        docs(s, dir), "doc_id", "text", "rel",
        containmentVerdicts = Some(verdicts))
      JaccardJoin.containmentProfileFromCensus(
        graft.functions.CorpusCatalog.explodeContainmentCensus(row))
    },

    // The live twin of d160 (round 16): per-(verdict, fan-in) counts
    // maintained as streaming state — stream docs inner-joined to the
    // STANDING verdict frame (stream-static join, stateless), update-mode
    // count per census key, so state is census-sized (the d155 bound) —
    // handed to the SAME census→profile combine: streamed == batch ==
    // catalog bit-for-bit because the combine is shared code.
    "d161_containment_verdict_stream" -> { (s, dir) =>
      val verdicts = JaccardJoin.containmentDedupVerdicts(docs(s, dir),
        "doc_id", containPairs(s, dir))
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val census = stream.select("doc_id").join(verdicts, Seq("doc_id"))
        .groupBy(col("verdict"), col("n_containers").as("nc"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val live = graft.streaming.StreamRunner.runToBatch(census,
        "d161_containment_verdict_stream", mode = "update")
      JaccardJoin.containmentProfileFromCensus(live)
    },

    // Converged weighted s-core (round 16): the d148 fixpoint treatment
    // applied to d156's strength peel — peel until the survivor set
    // stabilizes (monotone shrink makes the 1-row count probe exact),
    // provably equal to the maxRounds unroll, so the data-dependent stop
    // is still oracle-replayable.
    "d162_score_converged" -> { (s, dir) =>
      val pairs = dupPairs(s, dir).select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * lit(1e6), 0).cast("long").as("w"))
      val sym = pairs.union(pairs.select(col("doc_b"), col("doc_a"), col("w")))
      GraphOps.kCoreWeightedConverged(sym, "doc_a", "doc_b", "w",
          s = 1200000L, maxRounds = 8)
        .selectExpr("id AS doc_id", "strength")
    },

    // Catalog-answered containment-posture DRIFT (round 16): the
    // d150/d151 domain-drift promise extended to the contamination gate —
    // two releases' verdict censuses are appended to a REAL catalog
    // (parquet write + read-back, the standing-artifact path), then
    // "did this release get more contaminated than the last" is pure
    // catalog math: two explodes, the shared profile combine, signed
    // deltas. The corpus is touched once per release at append time.
    "d163_containment_drift_catalog" -> { (s, dir) =>
      val d = docs(s, dir)
      // ONE corpus-wide shingle + ranked-row derivation shared by both
      // releases (r20, guide §2.4): the explode, document-frequency join
      // and per-doc rank window ran TWICE before (once per release); the
      // per-release pair joins now read parity-filtered views of the two
      // persisted tables. Ranks under the corpus-wide order stay a valid
      // global total order for each release, and the exact verify makes
      // the emitted pairs identical (oracle-confirmed).
      val (shAll, fullAll) = JaccardJoin.rankedShingles(d, "doc_id", "text",
        n = 3)
      def verdicts(par: Int): DataFrame = {
        val rel = d.where(pmod(col("doc_id"), lit(2)) === par)
        // the verdict rule reads the pair relation three times (mutuality
        // anti/semi + container census) — persist per release, the
        // containPairs discipline
        JaccardJoin.containmentDedupVerdicts(rel, "doc_id",
          graft.CacheRegistry.track(
            JaccardJoin.containmentPairsFromRanked(
                shAll.where(pmod(col("doc_id"), lit(2)) === par),
                fullAll.where(pmod(col("doc_id"), lit(2)) === par),
                "doc_id", threshold = 0.6)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
      }
      // a FIXED per-JVM path, wiped before the two appends: a fresh
      // createTempDirectory per evaluation leaked one catalog dir into
      // java.io.tmpdir for every bench sample (4 per run, every round),
      // while a fixed path WITHOUT the wipe would accumulate appended
      // rows until containmentDrift's one-row-per-dump require fails.
      // WorkDirs owns the lifecycle: PID-suffixed (two JVMs never wipe
      // each other's in-flight catalog), dead-PID siblings swept, own
      // dir wiped on JVM exit — no cross-run accumulation in tmpdir.
      val path = graft.WorkDirs.acquire("d163_catalog").toString
      val relA = d.where(pmod(col("doc_id"), lit(2)) === 0)
      val relB = d.where(pmod(col("doc_id"), lit(2)) === 1)
      // the catalog rows' gram sketches reuse the SAME persisted shingle
      // table (r20): exploding the parity-filtered sh_arr frame is
      // row-identical to re-deriving MinHashLSH.shingles over the release
      // and skips a second full md5-per-gram pass per append
      def gramRows(par: Int): DataFrame =
        shAll.where(pmod(col("doc_id"), lit(2)) === par)
          .select(col("doc_id"), explode_outer(col("sh_arr")).as("sh"))
      graft.functions.CorpusCatalog.append(relA, "doc_id", "text", path,
        "relA", containmentVerdicts = Some(verdicts(0)),
        gramRows = Some(gramRows(0)))
      graft.functions.CorpusCatalog.append(relB, "doc_id", "text", path,
        "relB", containmentVerdicts = Some(verdicts(1)),
        gramRows = Some(gramRows(1)))
      graft.functions.CorpusCatalog.containmentDrift(s, path, "relA", "relB")
    },

    // Perceptual-hash media near-dup (round 16): the media family decodes
    // (d09/d10/d29/d98/d101/d122) but never DEDUPS the media itself —
    // this is the image near-dup gate a multimodal pipeline runs after
    // thumbnailing: BLOB → 9×8 grayscale pixel bytes → 64-bit dHash
    // (bit = left<right neighbor comparison, tone-curve invariant) →
    // the SAME pigeonhole banding machinery as text SimHash (4×16-bit
    // band equijoin, exact hamming verify on candidates only; never
    // all-pairs). Thumbnails are synthesized in pixel space — two docs
    // share a base image, odd docs perturb one pixel (re-encode noise,
    // flips ≤ 2 dHash bits) — and round-trip through a REAL binary blob,
    // so the byte-extraction plumbing is the deployed path. Hamming ≤ 3
    // keeps the perturbed variants and rejects unrelated images (~32
    // bits apart). Map-side until the band equijoin; candidates are
    // band-bucket-bounded exactly as d21.
    "d164_phash_neardup" -> { (s, dir) =>
      SimHash.hammingPairs(phashed(docs(s, dir)), "doc_id", "phash", 64,
        maxHamming = 3)
    },

    // Ingest-time media dedup tag (round 16): the d80 stream-static
    // pattern for IMAGES — the %10 split arrives as a stream, its
    // thumbnails hash through the SAME phash chain as d164 (shared
    // builder, cannot drift), and each arriving image band-joins the
    // standing rest-of-corpus sketches (SimHash.bandKeys on both sides),
    // hamming-verified on band collisions only. Stateless — no state
    // store, no watermark; per arriving image the work is 4 band keys
    // against a static band frame.
    "d167_phash_tag_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .where(pmod(col("doc_id"), lit(10)) === 0)
      val ref = phashed(d.where(pmod(col("doc_id"), lit(10)) =!= 0))
      val tagged = graft.streaming.DocStream.mediaDupTag(
        phashed(stream), ref, "doc_id", "phash")
      graft.streaming.StreamRunner.runToBatch(tagged, "d167_phash_tag_stream")
    },

    // WINDOWED streaming cardinality (round 16): distinct users per
    // tumbling event-time minute at SKETCH-BOUNDED state — the d88
    // global KMV keyed by window under a REAL 10-minute watermark,
    // append mode (closed windows only, the q42 emission discipline).
    // State per window = k longs regardless of user volume, and windows
    // EVICT as the watermark passes — the "distinct per hour" ops meter
    // a 100 TB event stream needs; an exact per-window distinct set
    // would grow state with cardinality, the sketch caps it at k.
    "d168_kmv_window_stream" -> { (s, dir) =>
      val schema = graft.io.Tables.loadEventsRaw(s, dir).schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ets",
          graft.io.Tables.asTimestamp(schema("ts").dataType, "ts"))
        .select(col("ets"),
          graft.functions.Sketches.hash60(col("user_id")).as("h"))
      val agg = stream.withWatermark("ets", "10 minutes")
        .groupBy(window(col("ets"), "1 minute").as("win"))
        .agg(graft.functions.Sketches.kmvAgg(stream, col("h"), 64)
          .as("sketch"))
        .select(col("win.start").as("window_start"),
          col("win.end").as("window_end"),
          array_join(col("sketch").cast("array<string>"), ",")
            .as("sketch_csv"),
          size(col("sketch")).as("n_sketch"),
          graft.functions.Sketches.kmvEstimate(col("sketch"), 64)
            .as("est_distinct"))
      graft.streaming.StreamRunner.runToBatch(agg, "d168_kmv_window_stream")
    },

    // Catalog-answered heavy-gram drift (round 16): "which boilerplate/
    // slop grams SURGED release-over-release" — the d91 heavy-hitter
    // signal moved into the d150 catalog pattern. Each release's row
    // stores its exact top-K gram census next to the CMS it already
    // carries; drift is then pure catalog math over two K-row frames:
    // exact counts where a gram made a release's top set, that release's
    // CMS point estimate where it did not (conservative — CMS never
    // undercounts, so surges are never overstated). Zero corpus passes
    // at question time; at append time the top-k runs over the gram
    // CENSUS, never sorts the corpus.
    "d165_catalog_heavy_drift" -> { (s, dir) =>
      val d = docs(s, dir)
      val relA = graft.functions.CorpusCatalog.summarize(
        d.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        "relA", topGrams = Some(20))
      val relB = graft.functions.CorpusCatalog.summarize(
        d.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        "relB", topGrams = Some(20))
      graft.functions.CorpusCatalog.heavyGramDriftFromRows(relA, relB)
    },

    // The live twin of d91 (round 16): the (source, token) census
    // maintained as update-mode streaming state, then the SAME top-5
    // window the batch row runs — streamed == batch bit-for-bit because
    // the census semantics are shared. State is one row per live
    // (source, token) pair: VOCABULARY-sized (the same bound as d91's
    // batch census shuffle), not corpus-sized; if the vocabulary
    // outgrows the state store at 100 TB, the knob is a SpaceSaving-
    // style capped synopsis — a semantics change this row deliberately
    // does not make, so the oracle stays exact.
    "d166_heavy_hitters_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val census = stream
        .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).cast("long").as("cnt"))
      val live = graft.streaming.StreamRunner.runToBatch(census,
        "d166_heavy_hitters_stream", mode = "update")
      live.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
            .orderBy(col("cnt").desc, col("tok"))))
        .where(col("rk") <= 5)
    },

    // The CAPPED twin of d166 (round 17): the 100 TB knob d166's scaladoc
    // names — a SpaceSaving synopsis of at most 256 counters per source,
    // so streaming state is provably bounded regardless of vocabulary
    // (d166's census state is vocabulary-sized). In the single-data-batch
    // regime every token clearing the N/cap eviction ceiling is exact
    // (descending-count fold inserts it first; a counter above the
    // ceiling is never the strict min, so it cannot be evicted — the
    // correctly-conditioned claim, see SpaceSavingMergeSpec), so the
    // top-5 matches the exact oracle whenever the 5th count clears
    // N/cap — it does here at every SF (and the 31-token test
    // vocabulary sits below cap=256, so no eviction fires at all); the
    // multi-batch approximation guarantee (est − err ≤ true ≤ est,
    // size ≤ cap) is spec- and property-pinned.
    "d169_heavy_hitters_capped" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      val top = graft.streaming.DocStream.heavyHittersCapped(
        stream, "source", "tok", cap = 256, k = 5)
      graft.streaming.StreamRunner.runToBatch(top,
        "d169_heavy_hitters_capped", mode = "update")
    },

    // WINDOWED trending tokens with capped state (round 17): one
    // SpaceSaving synopsis per OPEN 10-minute window, emitted once when
    // the watermark closes the window (the q42 emission rule via an
    // end−1ms event-time timeout) — "what surged per window" with state
    // bounded by cap × open windows instead of vocabulary × windows.
    // Event time is doc_id-derived (one doc per minute), so every SF has
    // closed windows and the oracle replays the bucketing in closed form.
    "d171_trending_capped" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(
          timestamp_seconds(lit(1500000000L) + col("doc_id") * 60).as("ets"),
          explode(split(lower(col("text")), " ")).as("tok"))
      graft.streaming.StreamRunner.runToBatch(
        graft.streaming.DocStream.trendingCapped(
          stream, "ets", "tok", windowMinutes = 10,
          watermark = "10 minutes", cap = 256, k = 5),
        "d171_trending_capped")
    },

    // REAL audio decode in-suite (round 17): genuine PCM16 WAV blobs
    // decoded to WAVEFORMS by WavPcm (the HeaderCodec WAV arm stops at
    // the header; this reads the samples), features on exact integer
    // grids so the oracle replays the planted waveform with integer
    // arithmetic alone — the d170 pattern for the audio modality.
    "d172_wav_features" -> { (s, dir) =>
      val media = realWavs(docs(s, dir).select("doc_id"))
      Multimodal.wavFeatures(media, "doc_id", "blob")
    },

    // REAL decode in-suite (round 17): genuine PNG blobs (a real JDK
    // encode per row in mapPartitions) decoded to pixels by ImageIoCodec
    // — not the header walk, not the md5 fake — through the exact
    // production seam (one codec per partition, close at task end). The
    // oracle is the closed-form dims the synthesis planted, so the row
    // proves decode-to-raster end-to-end while staying engine-replayable
    // without any image library on the oracle side.
    "d170_imageio_decode" -> { (s, dir) =>
      val media = realPngs(docs(s, dir).select("doc_id"))
      Multimodal.decode(media, "doc_id", "blob", Multimodal.ImageIoCodec)
    },

    // The MULTI-BATCH SpaceSaving merge, oracle-gated (round 18): d169/
    // d171 run in the single-data-batch regime where the synopsis is
    // exact; the prior≠None merge path — the path a real deployment
    // lives on — was spec-pinned but never driver-gated. Here the corpus
    // arrives as TWO genuine micro-batches (a deterministic two-file
    // parity copy + maxFilesPerTrigger=1; the runner FAILS unless ≥2
    // data batches actually ran), the full per-source synopsis is
    // emitted with a merge version, and the verdict row checks the
    // facts that are invariant under arrival order — Σest = N,
    // |synopsis| = min(cap, vocab), zero est/err bound violations
    // against the exact census, and every token clearing the N/cap
    // eviction ceiling tracked — so the oracle is exact even though
    // individual est values are order-dependent. Two knobs make the row
    // adversarial at every SF (the test corpus has a 31-token natural
    // vocabulary with near-uniform counts): cap=16 < 31 forces REAL
    // evictions, and 8 copies of an injected deterministic token per doc
    // clear the N/cap ceiling (8·docs·16 > N+8·docs at every SF), so the
    // tracked-guarantee check is non-vacuous — without it n_heavy would
    // be 0 and that column would gate nothing.
    "d174_heavy_hitters_twobatch" -> { (s, dir) =>
      val d = docs(s, dir)
      val cap = 16
      val srcDir = graft.WorkDirs.acquire("d174_twobatch")
      // fixed mtimes pin the batch order (even half first) so the
      // stream-metrics lines are comparable across runs; the VERDICT
      // below is order-invariant either way
      def writeHalf(par: Int, mtime: Long): Unit =
        graft.streaming.FileSource.writePinned(
          d.where(pmod(col("doc_id"), lit(2)) === par),
          srcDir, s"half$par.parquet", mtime)
      writeHalf(0, 1500000000000L)
      writeHalf(1, 1500000001000L)
      val stream = s.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(srcDir.toString)
        .select(col("source"), explode(d174Toks).as("tok"))
      val live = graft.streaming.StreamRunner.runToBatchChangelog(
        graft.streaming.DocStream.spaceSavingSynopsis(
          stream, "source", "tok", cap),
        "d174_heavy_hitters_twobatch", minDataBatches = 2)
      // fold the changelog: each source's final synopsis = max-ver rows
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      val latest = live
        .withColumn("__mv", max(col("ver")).over(w))
        .where(col("ver") === col("__mv"))
        .select("source", "tok", "est", "err")
      // exact census over the same rows (batch path) — the "true" side
      // of the bound checks; census-sized, never corpus-sized
      val census = d
        .select(col("source"), explode(d174Toks).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).cast("long").as("cnt"))
      val tot = census.groupBy("source").agg(
        sum("cnt").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_vocab"))
      val bounds = latest.join(census, Seq("source", "tok"), "left")
        .groupBy("source").agg(
          count(lit(1)).cast("long").as("n_synopsis"),
          sum("est").cast("long").as("sum_est"),
          sum(when(col("cnt").isNull ||
              col("est") - col("err") > col("cnt") ||
              col("cnt") > col("est"), 1L).otherwise(0L))
            .cast("long").as("n_violations"))
      val heavy = census.join(tot, "source")
        .where(col("cnt") * lit(cap) > col("n_tokens"))
        .select("source", "tok")
      val nHeavy = heavy.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_heavy"))
      val nTracked = heavy
        .join(latest.select("source", "tok"), Seq("source", "tok"),
          "left_semi")
        .groupBy("source").agg(count(lit(1)).cast("long").as("n_heavy_tracked"))
      tot.join(bounds, Seq("source"), "left")
        .join(nHeavy, Seq("source"), "left")
        .join(nTracked, Seq("source"), "left")
        .select(col("source"), col("n_tokens"),
          coalesce(col("n_synopsis"), lit(0L)).as("n_synopsis"),
          coalesce(col("sum_est"), lit(0L)).as("sum_est"),
          coalesce(col("n_heavy"), lit(0L)).as("n_heavy"),
          coalesce(col("n_heavy_tracked"), lit(0L)).as("n_heavy_tracked"),
          coalesce(col("n_violations"), lit(0L)).as("n_violations"))
    },

    // The real-decode chain on the STREAMING ingest path (round 18):
    // d167's stream-static media dedup tag with BOTH sides hashing
    // through the real chain — genuine PNG blobs built and decoded
    // inside the stream's typed mapPartitions stages (realPhashPngs →
    // ImageIoCodec.grayThumb → dHash64), which is the claim worth
    // gating: a per-partition decoder lifecycle works under Structured
    // Streaming's micro-batch execution, not just in batch. Stateless
    // stream-static band equijoin as d167; ORACLE IS d167's, unchanged
    // — d173 proves the real chain's hashes equal the synthetic closed
    // form bit-for-bit, so the tag set must match too.
    "d175_phash_real_tag_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      def realHashed(df: DataFrame): DataFrame =
        Multimodal.grayThumbs(
            realPhashPngs(df.select("doc_id")), "doc_id", "blob")
          .select(col("doc_id"), Multimodal.grayPixels(col("px"), 72).as("pxa"))
          .select(col("doc_id"), Multimodal.dHash64(col("pxa")).as("phash"))
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .where(pmod(col("doc_id"), lit(10)) === 0)
      val ref = realHashed(d.where(pmod(col("doc_id"), lit(10)) =!= 0))
      val tagged = graft.streaming.DocStream.mediaDupTag(
        realHashed(stream), ref, "doc_id", "phash")
      graft.streaming.StreamRunner.runToBatch(tagged,
        "d175_phash_real_tag_stream")
    },

    // Streaming exact-dedup STATE across real micro-batch boundaries
    // (round 19) — the dedup regime d38 cannot reach: its finite source
    // arrives as ONE micro-batch, so a fingerprint's state never
    // survives a boundary, is never evicted, and a post-eviction resend
    // never happens. Four mtime-pinned batches over the events table
    // (unique texts 'e<event_id>' — the only table with enough rows and
    // a natural month span) exercise all three measured rules
    // (DedupLagSpec pins them; delay = 10 min):
    //  f0: real first half ∪ cohort D (60 fresh texts at exactly T =
    //      corpus midpoint, making file 1's max = T closed-form);
    //  f1: real second half ∪ dupD — D's texts RESENT at T+5min. Late
    //      filter is still 0 (second batch) and D's state is
    //      definitively live (expiry T+10min > the evicting wm1 =
    //      T-10min), so every dupD row must be DROPPED by cross-batch
    //      state — the survival rule this row exists to gate;
    //  f2: cohort F (40 fresh texts retimed to the corpus START — under
    //      batch 3's lagged late filter wm1 by half a span, every one
    //      dropped BEFORE the operator) ∪ advancer G (5 fresh texts at
    //      mx+20min, emitted). Batch 3's eviction watermark wm2 =
    //      mx-10min is half a span above D's expiry, so D's state is
    //      definitively evicted in THIS batch — with no D text aboard,
    //      the mid-batch lookup-vs-eviction convention never matters
    //      (the q52 boundary-convention discipline);
    //  f3: cohort E — the first 30 D texts RESENT at mx+25min (above
    //      batch 4's late filter wm2). State was evicted a full batch
    //      ago, so every E row must RE-EMIT — the documented
    //      withinWatermark trade (bounded state forgets beyond the
    //      horizon), observable in the output multiset.
    // Output = all real events ∪ D once (original times) ∪ G ∪ E
    // (resend times); dupD and F absent. A dropped-state bug (dupD
    // re-emitted), a leaked-state bug (E swallowed), or a broken late
    // filter (F present) each change the multiset.
    "d176_dedup_boundary_stream" -> { (s, dir) =>
      val e = graft.io.Tables.loadEventsRaw(s, dir)
      val dt = e.schema("ts").dataType
      val base = e.select(col("event_id").as("k"),
        concat(lit("e"), col("event_id")).as("text"),
        unix_micros(graft.io.Tables.asTimestamp(dt, "ts")).as("tus"))
      // two O(1) driver scalars (the windowBounds discipline), mirrored
      // by the oracle's bounds CTE
      val r = base.agg(min("tus"), max("tus")).head()
      val (mnUs, mxUs) = (r.getLong(0), r.getLong(1))
      val midUs = (mnUs + mxUs) / 2
      def cohort(k0: Long, n: Int, tag: String, tUs: Long): DataFrame =
        s.range(n).select((lit(k0) + col("id")).as("k"),
          concat(lit(tag), col("id")).as("text"), lit(tUs).as("tus"))
      def dtexts(k0: Long, n: Int, tUs: Long): DataFrame =
        s.range(n).select((lit(k0) + col("id")).as("k"),
          concat(lit("d"), col("id")).as("text"), lit(tUs).as("tus"))
      val file1 = base.where(col("tus") <= midUs)
        .union(dtexts(3000000000L, 60, midUs))            // D first-seen
      val file2 = base.where(col("tus") > midUs)
        .union(dtexts(4000000000L, 60, midUs + 300000000L)) // dupD: drop
      val file3 = cohort(4500000000L, 40, "f", mnUs)      // late: drop
        .union(cohort(4600000000L, 5, "g", mxUs + 1200000000L)) // advancer
      val file4 = dtexts(5000000000L, 30, mxUs + 1500000000L)  // E: re-emit
      val srcDir = graft.WorkDirs.acquire("d176_dedupboundary")
      graft.streaming.FileSource.writePinned(file1, srcDir, "f0.parquet",
        1500000000000L)
      graft.streaming.FileSource.writePinned(file2, srcDir, "f1.parquet",
        1500000001000L)
      graft.streaming.FileSource.writePinned(file3, srcDir, "f2.parquet",
        1500000002000L)
      graft.streaming.FileSource.writePinned(file4, srcDir, "f3.parquet",
        1500000003000L)
      val stream = s.readStream.schema(file1.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(srcDir.toString)
        .withColumn("ts", timestamp_micros(col("tus")))
      val deduped = graft.streaming.DocStream.dedupExact(
        stream, "ts", watermark = "10 minutes")
      graft.streaming.StreamRunner.runToBatchMulti(deduped,
          "d176_dedup_boundary", minDataBatches = 4)
        .select(col("k"), unix_millis(col("ts")).as("tms"))
    },

    // The real-image perceptual-hash chain END-TO-END (round 18): real
    // PNG blobs → ImageIoCodec.grayThumb (genuine decode + area-average
    // resize) → dHash64 → the d164 band join. d164 proves the hash+band
    // machinery on synthetic thumbnails and d170 proves decode-to-raster
    // dims; this row closes the seam between them — the thumbnail the
    // REAL decoder produces is what gets hashed and banded, gated by
    // d164's UNCHANGED oracle (the planted grayscale content makes
    // decode→thumb the exact inverse of the synthesis; any drift in the
    // decode, the luma, or the resize changes the pair set).
    "d173_phash_real_chain" -> { (s, dir) =>
      val thumbs = Multimodal.grayThumbs(
        realPhashPngs(docs(s, dir).select("doc_id")), "doc_id", "blob")
      val hashed = thumbs
        .select(col("doc_id"), Multimodal.grayPixels(col("px"), 72).as("pxa"))
        .select(col("doc_id"), Multimodal.dHash64(col("pxa")).as("phash"))
      SimHash.hammingPairs(hashed, "doc_id", "phash", 64, maxHamming = 3)
    },

    // Weighted modularity of the weighted LPA communities (round 14):
    // the d139 gate in the weighted regime — strong duplicate edges
    // count proportionally in BOTH the vote (d147) and the score, so a
    // small certain community outranks a marginal blob.
    "d152_modularity_weighted" -> { (s, dir) =>
      val pairs = dupPairs(s, dir).select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * lit(1e6), 0).cast("long").as("w"))
      val sym = pairs.union(pairs.select(col("doc_b"), col("doc_a"), col("w")))
      val comm = GraphOps.labelPropagation(sym, "doc_a", "doc_b", iters = 3,
        weightCol = Some("w"))
      GraphOps.modularityWeighted(pairs, "doc_a", "doc_b", "w", comm,
        "id", "community")
    },

    // Catalog-integrated mixture drift (round 14): two release halves
    // INGESTED as full catalog rows (stats + sketches + the new domain
    // census), then the d141 JSD answered from the census columns alone
    // — proving the catalog row carries enough to answer drift with
    // zero corpus re-reads (CorpusCatalogSpec pins the file round-trip).
    "d150_catalog_drift" -> { (s, dir) =>
      val d = docs(s, dir)
      val relA = graft.functions.CorpusCatalog.summarize(
        d.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        "relA", domainCol = Some("source"))
      val relB = graft.functions.CorpusCatalog.summarize(
        d.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
        "relB", domainCol = Some("source"))
      Sampling.jensenShannonFromCensus(
        graft.functions.CorpusCatalog.explodeDomainCensus(relA),
        graft.functions.CorpusCatalog.explodeDomainCensus(relB),
        "domain", "cnt")
    },

    // Catalog-integrated embedding drift (round 14): the two parity
    // halves' per-dim moment censuses tagged with release ids, unioned
    // into the standing census-table shape, then the d143 combine over
    // the filtered sides — the embeddingDriftFromCatalog path without
    // the file hop (the spec covers the parquet round trip).
    "d151_catalog_edrift" -> { (s, dir) =>
      val e = embs(s, dir)
      val cat = VectorOps.embeddingCensus(
          e.where(pmod(col("vec_id"), lit(2)) === 0), "embedding")
        .withColumn("dump_id", lit("relA"))
        .union(VectorOps.embeddingCensus(
            e.where(pmod(col("vec_id"), lit(2)) === 1), "embedding")
          .withColumn("dump_id", lit("relB")))
      VectorOps.embeddingDriftFromCensus(
        cat.where(col("dump_id") === "relA").select("dim", "n", "s", "ss"),
        cat.where(col("dump_id") === "relB").select("dim", "n", "s", "ss"))
    },

    // Embedding-space drift between two release halves (round 13): the
    // vector modality's twin of d141 — per-dimension integer-grid means
    // and variances of the even-id vs odd-id vectors plus the mean shift,
    // the gate that says whether an ANN index built on one release can
    // serve the other. Census exchanges are dim-sized (map-side combine).
    "d143_embedding_drift" -> { (s, dir) =>
      val e = embs(s, dir)
      VectorOps.embeddingDrift(
        e.where(pmod(col("vec_id"), lit(2)) === 0),
        e.where(pmod(col("vec_id"), lit(2)) === 1), "embedding")
    },

    // The live twin of d143 (round 13): the even-id half's per-dimension
    // grid-moment census maintained as streaming state (update mode —
    // state is dim rows, not vectors), the odd-id half's census built in
    // batch as the standing reference, both handed to the SAME combine
    // (embeddingDriftFromCensus) — streamed == batch bit-for-bit.
    "d145_edrift_stream" -> { (s, dir) =>
      val e = embs(s, dir)
      val stream = s.readStream.schema(e.schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      val live = graft.streaming.StreamRunner.runToBatch(
        VectorOps.embeddingCensus(
          stream.where(pmod(col("vec_id"), lit(2)) === 0), "embedding"),
        "d145_edrift_stream", mode = "update")
      val ref = VectorOps.embeddingCensus(
        e.where(pmod(col("vec_id"), lit(2)) === 1), "embedding")
      VectorOps.embeddingDriftFromCensus(live, ref)
    },

    // Kendall agreement between the d127 lexical and semantic lists
    // (round 13): the one-row census that says whether the two rankers
    // disagree enough for fusion to matter.
    "d133_rank_agreement" -> { (s, dir) =>
      val lex = TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text",
        terms = Seq("spark", "vector", "query"), topK = 20)
        .select(col("doc_id"), col("rk").as("rank"))
      val e = embs(s, dir)
      val sem = VectorOps.knnBruteForce(e.where(col("vec_id") === 0), e,
        "vec_id", "embedding", 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.functions.Retrieval.rankAgreement(lex, sem, "doc_id", "rank")
    },

    // EXACT n-gram Jaccard similarity join via prefix filtering (AllPairs/
    // PPJoin): rarest-first prefixes make candidates an equijoin with NO
    // false negatives — the exact complement of d05's probabilistic banding.
    "d22_jaccard_join" -> { (s, dir) =>
      JaccardJoin.similarPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.8, n = 3)
    },

    // LSH recall gate (round 11) — the near-dup family's quality knob as
    // its own oracle row, the d72/d96 pattern applied to TEXT dedup: the
    // banding's candidate pairs (d05's k=8/r=2 config, verified at
    // jaccard >= 0.8) audited against the EXACT >= 0.8 pair set (d22's
    // PPJoin, zero false negatives by construction). One output row:
    // how much of the true near-dup mass the production banding catches.
    // The exact side is the audit-scale baseline, run at bench SF the way
    // d72's brute-force KNN is — production runs only the banded side.
    "d103_lsh_recall" -> { (s, dir) =>
      val d = docs(s, dir)
      // BOTH sides are consumed twice (their own count agg + the hit
      // semi-join): persisted so the verify joins reuse the pair sets
      // instead of re-running the PPJoin / banding per consumer (the d53
      // pattern; AQE exchange reuse is not guaranteed across actions)
      val exact = graft.CacheRegistry.track(
        JaccardJoin.similarPairs(d, "doc_id", "text",
            threshold = 0.8, n = 3).select("doc_a", "doc_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val lsh = graft.CacheRegistry.track(
        MinHashLSH.nearDupPairs(d, "doc_id", "text", n = 3, k = 8, r = 2)
          .where(col("jaccard") >= 0.8).select("doc_a", "doc_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val hit = exact.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_lsh"), col("n_hit"),
          when(col("n_exact") === 0, lit(1.0))
            .otherwise(round(col("n_hit") / col("n_exact"), 6)).as("recall"))
    },

    // Temperature-scaled language rebalancing (round 11) — the mT5/XLM-R
    // sampling knob: shares flattened to p^(1/T), realized by pure
    // downsampling (binding domain keeps all). T=2 over the skewed lang
    // column; selection AND per-domain rates oracle-replayed.
    "d102_temperature_mix" -> { (s, dir) =>
      Sampling.temperatureMix(docs(s, dir), "doc_id", "lang",
          temperature = 2.0)
        .select("doc_id", "lang", "rate")
    },

    // 32-bit SimHash sketch per document.
    "d06_simhash" -> { (s, dir) =>
      SimHash.simhash(docs(s, dir), "doc_id", "text")
    },

    // SimHash near-dup pairs: pigeonhole banding (hamming ≤ 3 ⇒ one of 4
    // bands matches exactly) makes candidates a band equijoin, exact
    // hamming verifies — the sketch-based complement of d05's MinHash.
    "d20_simhash_dup" -> { (s, dir) =>
      SimHash.nearDupPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
    },

    // The production-width variant: 64-bit sketch, 16-bit band keys
    // (65536 buckets/band — sub-quadratic banding at corpus scale).
    "d21_simhash64_dup" -> { (s, dir) =>
      SimHash.nearDupPairs64(docs(s, dir), "doc_id", "text", maxHamming = 3)
    },

    // SimHash banding NO-FALSE-NEGATIVE gate (round 11) — d103's audit
    // shape, but here the guarantee is a THEOREM, not a probability:
    // maxHamming+1 bands mean any pair within hamming 3 agrees on >= 1
    // whole band (pigeonhole), so banded recall vs the exact
    // all-pairs hamming join must be EXACTLY 1.0 and all three counts
    // equal — the row gates the band-slicing arithmetic (shift widths,
    // tail-band remainder, 64-bit mask edge) end to end. Exact side =
    // audit-scale baseline, as d72/d103.
    "d104_simhash_recall" -> { (s, dir) =>
      val sk = SimHash.simhash(docs(s, dir), "doc_id", "text")
      val a = sk.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      val b = sk.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
      val exact = a.join(b, col("id_a") < col("id_b"))
        .where(SimHash.hamming(col("sh_a"), col("sh_b")) <= 3)
        .select("id_a", "id_b")
      val band = SimHash.nearDupPairs(docs(s, dir), "doc_id", "text",
        maxHamming = 3).select("id_a", "id_b")
      val hit = exact.join(band, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(band.agg(count(lit(1)).as("n_band")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_band"), col("n_hit"),
          when(col("n_exact") === 0, lit(1.0))
            .otherwise(round(col("n_hit") / col("n_exact"), 6)).as("recall"))
    },

    // Brute-force cosine top-5 — the ANN baseline; queries broadcast,
    // corpus streamed, one window for the top-k cut.
    "d07_knn" -> { (s, dir) =>
      val e = embs(s, dir)
      VectorOps.knnBruteForce(e.where(col("vec_id") < 10), e, "vec_id", "embedding", 5)
    },

    // Contrastive pair mining (round 12): per anchor, the 2 most-similar
    // same-label rows (positives) and the 3 most-similar DIFFERENT-label
    // rows (hard negatives — high cosine, wrong label, the pairs a
    // contrastive loss learns from). One scored pass, anchors broadcast,
    // one (anchor, side) window — the d07 plan with a label split.
    "d116_contrastive_pairs" -> { (s, dir) =>
      val e = embs(s, dir)
      VectorOps.contrastivePairs(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", "label", kPos = 2, kNeg = 3)
    },

    // Corpus-scale contrastive mining (round 13): d116's window over
    // IVF-routed candidates — corpus assigned to md5 centroid cells once,
    // anchors probe their 2 nearest cells, candidates via cell-equality
    // join (never anchors × corpus). The d15 probe plumbing feeding the
    // d116 label split; misses are the IVF trade, gated by d123's recall
    // row.
    "d119_contrastive_ivf" -> { (s, dir) =>
      val e = embs(s, dir)
      VectorOps.contrastivePairsIVF(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", "label", kPos = 2, kNeg = 3,
        VectorIVF.mdCentroids(s, 8, 64), "cell_id", "cvec", nprobe = 2)
    },

    // The IVF mining path's recall against the exact d116 pair set (the
    // d103/d104 audit shape): one row — how much of the exact
    // positive+hard-negative mass the cell routing catches at nprobe=2.
    // The exact side is the audit-scale baseline; production runs only
    // the routed side.
    "d123_contrastive_ivf_recall" -> { (s, dir) =>
      val e = embs(s, dir)
      val anchors = e.where(col("vec_id") < 10)
      val exact = VectorOps.contrastivePairs(anchors, e,
          "vec_id", "embedding", "label", kPos = 2, kNeg = 3)
        .select("anchor_id", "cand_id", "is_pos")
      val ivf = VectorOps.contrastivePairsIVF(anchors, e,
          "vec_id", "embedding", "label", kPos = 2, kNeg = 3,
          VectorIVF.mdCentroids(s, 8, 64), "cell_id", "cvec", nprobe = 2)
        .select("anchor_id", "cand_id", "is_pos")
      val hit = exact.join(ivf, Seq("anchor_id", "cand_id", "is_pos"),
        "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(ivf.agg(count(lit(1)).as("n_ivf")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_ivf"), col("n_hit"),
          when(col("n_exact") === 0, lit(1.0))
            .otherwise(round(col("n_hit") / col("n_exact"), 6)).as("recall"))
    },

    // Embedding near-dup pairs over a blocking key (label) — the IVF-shaped
    // scale path: equality join on the block, never an open cross product.
    "d08_vec_dup" -> { (s, dir) =>
      VectorOps.nearDupPairs(embs(s, dir), "vec_id", "embedding", "label", 0.4)
        .withColumnRenamed("blk", "label")
    },

    // Near-dup clustering: LSH pairs above a Jaccard threshold -> connected
    // components via distributed min-label propagation (each round one
    // join + one agg; no driver data loops) -> canonical doc per cluster.
    "d12_dedup_clusters" -> { (s, dir) =>
      val pairs = MinHashLSH.nearDupPairs(docs(s, dir), "doc_id", "text")
        .where(col("jaccard") >= 0.5)
      MinHashLSH.clusters(pairs).select(col("id").as("doc_id"), col("cluster"))
    },

    // d12's components via ALTERNATING STAR CONTRACTION (round 11;
    // Kiveris et al. 2014): O(log n) rounds on ANY graph vs min-label's
    // O(diameter) — the variant a chain-shaped dup graph needs. Same
    // oracle as d12: the labeling is algorithm-independent.
    "d109_dedup_clusters_star" -> { (s, dir) =>
      val pairs = MinHashLSH.nearDupPairs(docs(s, dir), "doc_id", "text")
        .where(col("jaccard") >= 0.5)
      MinHashLSH.clustersStar(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
    },

    // The COMPOSED cleaning pipeline — what a corpus pipeline actually
    // runs, as one DAG: quality gate (map-only) -> exact-dedup canonical
    // (fingerprint argmin) -> near-dup cluster canonical (LSH pairs ->
    // connected components; a doc survives only if it IS its cluster's
    // min-id label) -> language tag. Deterministic rule: cluster canonicals
    // are chosen before the quality gate is consulted, so a cluster whose
    // canonical fails quality drops entirely (no silent re-election).
    "d14_clean_corpus" -> { (s, dir) =>
      val d = docs(s, dir)
      val exactCanon = d
        .groupBy(TextAnalysis.fingerprintHex(col("text")).as("fp_hex"))
        .agg(min("doc_id").as("exact_canon"))
      val pairs = MinHashLSH.nearDupPairs(d, "doc_id", "text")
        .where(col("jaccard") >= 0.5)
      val clusterOf = MinHashLSH.clusters(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
      d.withColumn("fp_hex", TextAnalysis.fingerprintHex(col("text")))
        .join(exactCanon, "fp_hex")
        .join(clusterOf, Seq("doc_id"), "left_outer")
        .where(col("doc_id") === col("exact_canon") &&
          (col("cluster").isNull || col("cluster") === col("doc_id")) &&
          TextAnalysis.qualityScore(col("text")) >= 0.3)
        .select(col("doc_id"),
          TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
    },

    // Winnowing fingerprints (MOSS): per-window min of ordered n-gram
    // hashes — local-similarity fingerprinting, map-only.
    "d13_winnow" -> { (s, dir) =>
      TextAnalysis.winnowFingerprints(docs(s, dir), "doc_id", "text", n = 3, w = 4)
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
          array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"))
    },

    // LSH-bucketed ANN — the scale path past d07's brute force: sign-bit
    // signature against 16 md5-derived hyperplanes, 4 bands of 4 bits,
    // candidates via band equijoin, exact cosine + rank only on candidates.
    "d11_ann_lsh" -> { (s, dir) =>
      val e = embs(s, dir)
      VectorLSH.annTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", 5)
    },

    // IVF-bucketed ANN — the cluster-adaptive scale path next to d11's
    // data-independent LSH: corpus vectors assigned to their nearest
    // centroid via a map-side partial-agg argmax (the exchange carries ~N
    // rows, never N×K), queries probe their 2 nearest cells, candidates via
    // cell-equality join, exact cosine + rank on candidates only. Centroids
    // are md5-derived so the oracle replays the full index.
    "d15_ann_ivf" -> { (s, dir) =>
      val e = embs(s, dir)
      VectorIVF.annTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding",
        5, VectorIVF.mdCentroids(s, 8, 64), "cell_id", "cvec", nprobe = 2)
    },

    // Product quantization encode (round 10): every embedding compressed
    // to m=8 four-bit codes (64x smaller than the float vector) against
    // the md5-literal codebooks — map-only, and the codes themselves are
    // the oracle row (the compression is gate-checked, not trusted).
    "d93_pq_encode" -> { (s, dir) =>
      graft.functions.VectorPQ.encode(embs(s, dir), "vec_id", "embedding",
          dim = 64)
        .select(col("vec_id"),
          array_join(col("codes").cast("array<string>"), ",").as("codes_csv"))
    },

    // PQ asymmetric-distance top-k (round 10): exact queries ranked
    // against the COMPRESSED corpus (distance to the reconstruction) —
    // the memory-bound-to-cache-resident trade of the ANN scan. Ranks
    // replayed exactly (same codebooks, same left-fold distance, same
    // tie-breaks).
    "d94_pq_topk" -> { (s, dir) =>
      val e = embs(s, dir)
      graft.functions.VectorPQ.adcTopK(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5, dim = 64)
    },

    // IVFADC (round 10): the production index layout — IVF cell pruning
    // × PQ compression in one plan (d15's probe join feeding d94's ADC
    // scan); the two pruning factors multiply and the ranks still replay
    // exactly.
    "d95_ivfadc_topk" -> { (s, dir) =>
      val e = embs(s, dir)
      graft.functions.VectorPQ.ivfAdcTopK(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5, dim = 64,
        VectorIVF.mdCentroids(s, 8, 64), "cell_id", "cvec", nprobe = 2)
    },

    // PQ recall@5 (round 10): the compression's QUALITY as its own oracle
    // row — the d72/d73 pattern extended to the memory path, so every
    // approximate family (LSH, IVF, PQ) carries a gate-checked recall.
    "d96_pq_recall" -> { (s, dir) =>
      val e = embs(s, dir)
      val queries = e.where(col("vec_id") < 10)
      annRecall(queries, e,
        graft.functions.VectorPQ.adcTopK(queries, e, "vec_id", "embedding",
          k = 5, dim = 64))
    },

    // TRAINED-PQ recall gate (round 11) — the quality knob d96 leaves
    // open: two Lloyd rounds over the corpus (md5-deterministic init,
    // 1e-6-grid cell means, left-sequential distance folds), then the
    // exact d96 recall splice with the TRAINED codebook. The oracle
    // replays BOTH unrolled training rounds and the ADC scan in SQL, so
    // this row pins the full train->encode->rank->recall chain bit-for-
    // bit — and its recall values materially above d96's untrained floor
    // are part of the gated hash.
    "d100_pq_trained_recall" -> { (s, dir) =>
      // Lloyd's distance folds and the ADC scan are per-row CPU — spread
      // the one-row-group corpus scan before both (r19, guide §2.5;
      // identity at scale). Grid-exact integer aggregation makes the
      // training partition-order-invariant, so the codebook is unchanged.
      val e = graft.functions.Spread.toCores(embs(s, dir))
      val queries = e.where(col("vec_id") < 10)
      val cb = graft.functions.VectorPQ.train(e, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16, iters = 2)
      annRecall(queries, e,
        graft.functions.VectorPQ.adcTopK(queries, e, "vec_id", "embedding",
          k = 5, dim = 64, codebook = Some(cb)))
    },

    // SemDeDup — embedding-level semantic dedup: quantizer-cell assignment,
    // within-cell cosine pruning (candidates bounded by cell size, never
    // cross-cell), canonical-min keep rule. The composed "cluster then
    // prune" operator a 100 TB curriculum runs before training.
    "d34_semdedup" -> { (s, dir) =>
      VectorIVF.semDedup(embs(s, dir), "vec_id", "embedding",
        VectorIVF.mdCentroids(s, 8, 64), "cell_id", "cvec", minCos = 0.4)
    },

    // Cluster-balanced resampling — the DCLM-style topic-balance pass:
    // quantizer cells act as pseudo-domains (embedding-space "topics"),
    // then d50's distribution-matched downsampling rebalances to uniform
    // cell shares. Composes the IVF assign (map-only argmax against the
    // broadcast quantizer) with the census + md5-keep machinery — one
    // tiny per-cell census shuffle on top of the assign's partial agg.
    "d57_cluster_mix" -> { (s, dir) =>
      val asn = VectorIVF.assign(embs(s, dir), "vec_id", "embedding",
          VectorIVF.mdCentroids(s, 8, 64), "cell_id", "cvec")
        .select(col("vec_id"), col("cell").cast("string").as("cell"))
      Sampling.matchDistribution(asn, "vec_id", "cell",
          targets = (0 until 8).map(c => c.toString -> 0.125).toMap)
        .select(col("vec_id"), col("cell").cast("int").as("cell"), col("rate"))
    },

    // Within-document n-gram repetition ratio — the Gopher-style
    // "repetitious text" cleaning signal; map-only, no shuffle.
    "d17_repetition" -> { (s, dir) =>
      TextAnalysis.repetitionRatio(docs(s, dir), "doc_id", "text", n = 3)
        .select("doc_id", "rep_ratio")
    },

    // d14's composed cleaning pipeline extended with the round-2 signals —
    // the repetition gate and the multi-language tag — still ONE DAG:
    // quality + repetition gates (map-only) -> exact canonical -> cluster
    // canonical -> en/fr/de/es language tag.
    "d19_clean_corpus_v2" -> { (s, dir) =>
      val d = docs(s, dir)
      val exactCanon = d
        .groupBy(TextAnalysis.fingerprintHex(col("text")).as("fp_hex"))
        .agg(min("doc_id").as("exact_canon"))
      val pairs = MinHashLSH.nearDupPairs(d, "doc_id", "text")
        .where(col("jaccard") >= 0.5)
      val clusterOf = MinHashLSH.clusters(pairs)
        .select(col("id").as("doc_id"), col("cluster"))
      TextAnalysis.repetitionRatio(
          d.withColumn("fp_hex", TextAnalysis.fingerprintHex(col("text"))),
          "doc_id", "text")
        .join(exactCanon, "fp_hex")
        .join(clusterOf, Seq("doc_id"), "left_outer")
        .where(col("doc_id") === col("exact_canon") &&
          (col("cluster").isNull || col("cluster") === col("doc_id")) &&
          TextAnalysis.qualityScore(col("text")) >= 0.3 &&
          col("rep_ratio") <= 0.05)
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          col("rep_ratio"))
    },

    // Unblocked embedding near-dup: LSH band candidates + exact cosine
    // gate — the scale path when no blocking column exists (d08 needs one).
    "d18_vec_dup_lsh" -> { (s, dir) =>
      VectorLSH.nearDupPairs(embs(s, dir), "vec_id", "embedding", minCos = 0.4)
    },

    // Multimodal plumbing: opaque binary column + typed metadata extraction
    // (the decode stage itself is the library's pluggable/fake codec — see
    // graft.functions.Multimodal; here we verify the binary round-trip).
    "d09_binary_meta" -> { (s, dir) =>
      val blob = encode(col("text"), "UTF-8")
      docs(s, dir).select(
        col("doc_id"),
        octet_length(blob).cast("long").as("n_bytes"),
        upper(substring(hex(blob), 1, 16)).as("head_hex"))
    },

    // Full multimodal path: synthesize per-modality magic headers onto the
    // opaque blob, then ONE pass doing content-type sniff (expressions) +
    // codec decode (mapPartitions batch, stub codec) + integer-exact resize
    // plan and frame sampling. No join, no shuffle — the blob never leaves
    // its scan partition.
    "d10_media_decode" -> { (s, dir) =>
      val payload = encode(col("text"), "UTF-8")
      val jpeg = lit(Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte))
      val png = lit(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      val wav = lit("RIFF".getBytes("UTF-8") ++ Array[Byte](0x24, 0, 0, 0) ++
        "WAVE".getBytes("UTF-8"))
      val blob = when(col("doc_id") % 4 === 0, concat(jpeg, payload))
        .when(col("doc_id") % 4 === 1, concat(png, payload))
        .when(col("doc_id") % 4 === 2, concat(wav, payload))
        .otherwise(payload)
      // blob synthesis + codec decode are per-row CPU — spread the
      // one-row-group scan before them (r19, guide §2.5; identity at scale)
      val media = graft.functions.Spread.toCores(docs(s, dir))
        .select(col("doc_id"), blob.as("blob"))
      val (outW, outH) = Multimodal.resizePlan(col("width"), col("height"), 512, 512)
      // SPARK_GRAFT_REAL_CODEC=1 routes each blob through the JDK's real
      // ImageIO decoder first (decode-to-pixels for JPEG/PNG/GIF/BMP),
      // falling back per-blob to the deterministic fake. The fixtures
      // here are magic-bytes + text payloads — no JDK reader accepts
      // them — so the flagged run exercises the try-real-first path on
      // every row while the OUTPUT (and hence the oracle) is unchanged;
      // genuine decodes are pinned in ImageIoCodecSpec with real PNG/GIF
      // bytes.
      val codec =
        if (sys.env.contains("SPARK_GRAFT_REAL_CODEC"))
          Multimodal.routed(Multimodal.ImageIoCodec, Multimodal.FakeCodec)
        else Multimodal.FakeCodec
      Multimodal.analyze(media, "doc_id", "blob", codec)
        .withColumn("out_w", outW)
        .withColumn("out_h", outH)
        .withColumn("n_sampled", Multimodal.frameSampleCount(col("n_frames"), 30))
    },

    // The REAL header codec end-to-end (not the stub): valid BMP / WAV
    // headers are synthesized per doc_id as hex (unhex → binary) and
    // decoded by Multimodal.HeaderCodec through the same mapPartitions
    // seam FakeCodec uses; the oracle recomputes the fields closed-form
    // from doc_id. Encode (codegen'd hex expressions) and decode (the JVM
    // byte walker) are independent paths, and HeaderCodecSpec additionally
    // pins the decoder against ByteBuffer-built headers, so complementary
    // encode/decode bugs cannot cancel unnoticed. Map-only, no shuffle.
    "d29_header_decode" -> { (s, dir) =>
      def b1(c: Column): Column = lpad(hex(pmod(c, lit(256))), 2, "0")
      def le16h(c: Column): Column =
        concat(b1(c), b1(floor(c / 256).cast("long")))
      def le32h(c: Column): Column = concat(le16h(c),
        b1(floor(c / 65536).cast("long")), b1(floor(c / 16777216).cast("long")))
      val id = col("doc_id")
      // BMP arm (even ids): BITMAPINFOHEADER, 24 bpp → 3 channels, 1 frame
      val w = lit(16) + pmod(id, lit(1900))
      val h = lit(16) + pmod(id, lit(1000))
      val bmpHex = concat(lit("424D"), le32h(lit(54)), lit("00000000"),
        le32h(lit(54)), le32h(lit(40)), le32h(w), le32h(h), lit("0100"),
        le16h(lit(24)))
      // WAV arm (odd ids): PCM fmt + data chunk with a real zero payload
      // (the codec's overrun check walks actual bytes, so the data chunk
      // must be present in full). dszSql is the single source for the
      // data-size formula — the column and the payload repeat() share it.
      val chSql = "1 + (doc_id div 2) % 2"
      val dszSql = s"(doc_id % 50) * ($chSql) * 2"
      val ch = expr(chSql)
      val ba = ch * 2 // block align: channels x 16-bit samples
      val rate = lit(8000) + pmod(id, lit(40000))
      val dsz = expr(dszSql)
      val wavHex = concat(lit("52494646"), le32h(dsz + 36), lit("57415645"),
        lit("666D7420"), le32h(lit(16)), le16h(lit(1)), le16h(ch),
        le32h(rate), le32h(rate * ba), le16h(ba), le16h(lit(16)),
        lit("64617461"), le32h(dsz),
        expr(s"repeat('00', CAST($dszSql AS INT))"))
      val media = docs(s, dir).select(id,
        unhex(when(pmod(id, lit(2)) === 0, bmpHex).otherwise(wavHex)).as("blob"))
      Multimodal.decode(media, "doc_id", "blob", Multimodal.HeaderCodec)
    },

    // Sequence packing — d25's chunks laid into fixed-token-budget
    // training sequences per doc (linear packing by cumulative start
    // offset: deterministic, engine-replayable; a straddling chunk
    // belongs to the bin its start falls in, so a sequence can exceed
    // the budget by < maxTokens). Per-doc window — no global order.
    "d32_pack" -> { (s, dir) =>
      TextAnalysis.packSequences(
        TextAnalysis.chunk(docs(s, dir), "doc_id", "text",
          maxTokens = 40, overlap = 8), "doc_id", seqTokens = 96)
        .drop("chunks", "seq_text") // audit view; d33 checks the composition
    },

    // Sequence COMPOSITION — the writer-facing half of packing: the
    // ordered chunk membership per sequence flattened to "start:n_tokens"
    // pairs, and the md5 of the packed payload itself (the chunk texts
    // joined in order). The oracle replays both with ordered string_agg —
    // this is what makes d32 a pipeline stage rather than an audit.
    "d33_pack_compose" -> { (s, dir) =>
      TextAnalysis.packSequences(
        TextAnalysis.chunk(docs(s, dir), "doc_id", "text",
          maxTokens = 40, overlap = 8), "doc_id", seqTokens = 96)
        .select(col("doc_id"), col("seq_idx"),
          concat_ws(",", transform(col("chunks"), c =>
            concat_ws(":", c("start").cast("string"),
              c("n_tokens").cast("string")))).as("members"),
          md5(col("seq_text")).as("seq_md5"))
    },

    // CROSS-DOC sequence packing — d33's composition check for the
    // variant sequence writers actually ship: docs mix into shared
    // sequences (modulo bin groups + (doc,start) linear packing — fully
    // deterministic, so the oracle replays the exact layout, members and
    // payload md5 included, instead of a weak rows-only check).
    "d41_pack_across" -> { (s, dir) =>
      TextAnalysis.packSequencesAcross(
        TextAnalysis.chunk(docs(s, dir), "doc_id", "text",
          maxTokens = 40, overlap = 8), "doc_id", seqTokens = 96, numGroups = 8)
        .select(col("bin_group"), col("seq_idx"),
          col("n_chunks"), col("n_tokens"),
          concat_ws(",", transform(col("chunks"), c =>
            concat_ws(":", c("doc_id").cast("string"),
              c("start").cast("string"),
              c("n_tokens").cast("string")))).as("members"),
          md5(col("seq_text")).as("seq_md5"))
    },

    // Epoch-weighted corpus mixing — the training-mixture operator ("books
    // at 2.5 epochs, web at 0.25, spam at 0"): floor(w) full copies plus a
    // deterministic md5-fraction extra copy, weights shipped inside the
    // plan as a map literal, replication a map-only explode(sequence) — no
    // shuffle, no randomness. Per-row output so the oracle replays the
    // exact multiset, epoch by epoch.
    "d43_epoch_mix" -> { (s, dir) =>
      Sampling.epochMix(docs(s, dir), "doc_id", "source",
          Map("src1" -> 2.5, "src2" -> 3.0, "src4" -> 0.25, "src7" -> 0.0),
          default = 1.0)
        .select(col("doc_id"), col("source"), col("epoch").cast("long").as("epoch"))
    },

    // Token-budget corpus mixing — per-domain weights DERIVED from a token
    // census of the corpus itself (w_d = budget * share_d / tokens_d), then
    // the same epoch expansion: over-budget domains downsample (w < 1),
    // under-budget domains epoch-upsample (w > 1); unlisted domains drop.
    // One census shuffle (one row per domain) broadcast back onto the scan.
    "d44_token_budget_mix" -> { (s, dir) =>
      Sampling.tokenBudgetMix(docs(s, dir), "doc_id", "source", "text",
          totalTokens = 30000L,
          Map("src1" -> 0.4, "src3" -> 0.3, "src5" -> 0.2, "src7" -> 0.1))
        .select(col("doc_id"), col("source"), col("epoch").cast("long").as("epoch"))
    },

    // Cross-set embedding near-dup — the vector twin of d26's text
    // contamination audit: held-out vectors (%10) against the rest,
    // candidates ONLY from held-out-band x corpus-band collisions
    // (VectorLSH.nearDupPairsAcross) — corpus-internal pair volume never
    // forms, the property that keeps the audit feasible at 100 TB.
    "d31_vec_dup_across" -> { (s, dir) =>
      val e = embs(s, dir)
      val isHeld = pmod(col("vec_id"), lit(10)) === 0
      VectorLSH.nearDupPairsAcross(e.where(isHeld), e.where(!isHeld),
          "vec_id", "embedding", minCos = 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    },

    // Unigram log-likelihood fluency scoring — the corpus-relative quality
    // signal (CCNet-style perplexity filter's unigram floor); tf-join-freq
    // shape identical to d23, integer-grid term summation for cross-engine
    // determinism (see TextAnalysis.unigramLogProb).
    "d30_unigram_logprob" -> { (s, dir) =>
      TextAnalysis.unigramLogProb(docs(s, dir), "doc_id", "text")
    },

    // Bigram log-likelihood — d30's formula lifted to word pairs (the
    // collocation signal unigrams cannot see), keyed on the native
    // graft_shingles 60-bit gram hash the oracle replays.
    "d36_bigram_logprob" -> { (s, dir) =>
      TextAnalysis.ngramLogProb(docs(s, dir), "doc_id", "text", n = 2)
    },

    // Stupid-backoff trigram fluency (Brants et al. 2007): CONDITIONAL
    // trigram scores from a train-split gram census with α-backoff through
    // the bigram level to an add-one unigram floor. Scoring ALL docs
    // against the held-out-split LM makes the backoff path organic (bench
    // docs carry trigrams the train split never saw).
    "d60_backoff_logprob" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.backoffLogProb(d.where(col("doc_id") % 10 =!= 0), d,
        "doc_id", "text")
    },

    // DSIR importance weights (Xie et al. 2023): hashed uni+bigram bucket
    // distributions of the English target sample vs the whole dump, add-one
    // smoothed, per-doc integer-grid log-ratio sum — the published
    // data-selection signal, fully engine-replayable.
    "d61_dsir_weights" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.dsirLogRatio(d, d.where(col("lang") === "en"),
        "doc_id", "text", buckets = 1024)
    },

    // DSIR selection: deterministic md5-Gumbel top-k over the d61 weights
    // (sampling ∝ exp(logw) without replacement) — plans as
    // TakeOrderedAndProject, per-partition heaps, never a full sort.
    "d62_dsir_topk" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.dsirTopK(d, d.where(col("lang") === "en"),
        "doc_id", "text", k = 100, buckets = 1024)
    },

    // Gopher-style repetition fractions: share of 3-gram occurrences in
    // the single most frequent gram, and in any repeated gram — the two
    // standard cleaning gates d17's distinct-ratio does not separate.
    "d37_ngram_repetition" -> { (s, dir) =>
      TextAnalysis.ngramRepetition(docs(s, dir), "doc_id", "text", n = 3)
    },

    // PII scan + redaction — the cleaning stage before a corpus ships to
    // training. The synthetic documents carry no organic PII, so (as d10
    // does for media headers) deterministic PII is injected per doc_id;
    // per-class counts run over the raw text, then one sequential
    // redaction pass (email before the numeric classes — order is
    // load-bearing, see TextAnalysis.PiiPatterns) whose md5 the oracle
    // replays byte-for-byte. Map-only projection: scan speed at 100 TB.
    "d28_pii" -> { (s, dir) =>
      val t = piiInjected(col("doc_id"), col("text"))
      docs(s, dir).select(
        (Seq(col("doc_id")) ++
          TextAnalysis.PiiPatterns.map { case (kind, _, _) =>
            TextAnalysis.piiCount(t, kind).as(s"n_$kind") } ++
          Seq(md5(TextAnalysis.redactPii(t)).as("redacted_md5"))): _*)
    },

    // The streaming cleaning pipeline (streaming/DocStream.cleanStream),
    // oracle-gated end to end: a real readStream file source over the
    // documents parquet, watermarked exact dedup (keyed state) -> quality
    // gate -> repetition gate -> language tag -> PII redaction, memory sink
    // holding only the survivors. Event time is synthesized from doc_id
    // (the corpus has no arrival column); the watermark spans it, so the
    // finite stream dedups exactly like the batch twin. The projection is
    // DUPLICATE-INVARIANT on purpose: which arrival wins
    // dropDuplicatesWithinWatermark is racy, but duplicates share text, so
    // every output column (fingerprint, language, repetition, redacted-text
    // md5) is identical whichever doc survives — the hash compare cannot
    // see the race. Near-dup clustering is deliberately absent here: it is
    // the periodic batch pass (d12/d14), not per-microbatch state.
    "d38_clean_stream" -> { (s, dir) =>
      val schema = docs(s, dir).schema
      // single-file table; the file stream source lists a directory
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        // synthetic event time, microseconds apart, offset WELL past the
        // epoch: the stream's initial watermark is epoch 0, and a doc_id=0
        // row AT the epoch is dropped as late before the first batch ever
        // advances it (measured: 466 vs 467 rows)
        .withColumn("ts",
          timestamp_micros(lit(1700000000000000L) + col("doc_id")))
      val cleaned = graft.streaming.DocStream.cleanStream(
        stream, "ts", watermark = "1 hour",
        minQuality = 0.3, maxRepetition = 0.05)
      graft.streaming.StreamRunner.runToBatch(
        cleaned.select(col("fp_hex"), col("lang_pred"), col("rep_ratio"),
          md5(col("text")).as("clean_md5")),
        "d38_clean_stream")
    },

    // Tokenizer-faithful BPE token count vs the whitespace count — the
    // budget signal chunk/packSequences price sequences with. The merges
    // table is replayed rank by rank in the oracle (generated from the
    // SAME Scala table, so the two sides cannot drift).
    "d40_bpe_count" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"))
    },

    // Dump-over-dump churn: the %7 split plays the OLD crawl, the %5
    // split (with every 11th doc edited in place) plays the NEW one —
    // all four statuses occur organically. Two map-side fingerprint
    // reductions + one id-keyed full-outer join; text never shuffles.
    "d59_corpus_diff" -> { (s, dir) =>
      val d = docs(s, dir)
      val old = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val cur = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
      CorpusDiff.diff(old, cur, "doc_id", "text")
    },

    // Content-level novelty of the d59 "new dump" vs the old one: per-doc
    // share of distinct 3-grams never seen in the old dump — re-keyed or
    // remixed text that id-keyed churn (d59) cannot see. Docs surviving
    // both dumps score 0, the v2-suffixed docs a small positive, docs
    // absent from the old dump near 1.
    "d74_gram_novelty" -> { (s, dir) =>
      val d = docs(s, dir)
      val old = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val cur = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
      CorpusDiff.gramNovelty(old, cur, "doc_id", "text")
    },

    // The BPE TRAINING statistic: adjacent-token-pair counts over the
    // corpus after the standard merges table — the census each trainer
    // round consumes (d58 pins the census; the trainer loop that picks
    // argmaxes from it is spec-replayed in BpePairCensusSpec). One
    // partial-agg exchange keyed by the pair.
    "d58_bpe_pair_census" -> { (s, dir) =>
      // the merge fold (one replace pass per merge rank) is the heavy
      // stage; spread the one-row-group scan before it (r19, guide §2.5).
      // At the call site, not inside bpePairCensus: the operator accepts
      // arbitrary frames, and Spread's partition probe must only see
      // scan-rooted plans (see its contract)
      TextAnalysis.bpePairCensus(
        graft.functions.Spread.toCores(docs(s, dir)),
        "text", TextAnalysis.BpeMerges)
    },

    // The tokenization itself (d40 only counts): real token-id sequences
    // from the merges-table fold, the column a sequence writer feeds a
    // trainer. n_bpe comes from the COUNT path and the id list from the
    // EXTRACTION path, so the row also pins that the two derivations of
    // the same fold agree. Map-only — no shuffle, no UDF.
    "d56_bpe_tokens" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
        array_join(transform(TextAnalysis.bpeTokenIds(col("text")),
          x => x.cast("string")), ",").as("ids_str"))
    },

    // The streaming decontamination tag (DocStream.contaminationTag),
    // oracle-gated: the %10 bench split ARRIVES as a stream and every
    // exact 13-gram it shares with the static train side emits one
    // (doc, gram) row — a stateless stream-static left-semi, so no
    // watermark or event time is needed and the output set is exactly
    // the batch join's. The d35 rollup counts these hits batch-side;
    // this row pins the per-gram streaming form itself.
    "d42_contamination_stream" -> { (s, dir) =>
      val schema = docs(s, dir).schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .where(pmod(col("doc_id"), lit(10)) === 0)
      val train = docs(s, dir).where(pmod(col("doc_id"), lit(10)) =!= 0)
      graft.streaming.StreamRunner.runToBatch(
        graft.streaming.DocStream.contaminationTag(stream, train, n = 13),
        "d42_contamination_stream")
    },

    // The incremental near-dup cluster stream's VERIFIED EDGE SET,
    // oracle-gated (it was spec-only through round 9): the whole corpus
    // arrives as a stream with event time monotone in doc_id, each LSH
    // band bucket's first arrival becomes canonical keyed state, and
    // later arrivals emit a (doc, canon, band, jaccard) edge when exact
    // Jaccard vs the canonical clears 0.5. With monotone arrival the
    // canonical is the bucket's min doc_id, so DuckDB replays the whole
    // thing from the shared MinHash CTEs — a real flatMapGroupsWithState
    // run (state store, watermark, event-time timeout) checked row-for-row
    // against the batch lattice, pinning the stream/batch parity that
    // MinHashLSH.clusters relies on when it closes these edges offline.
    "d75_neardup_stream_edges" -> { (s, dir) =>
      val schema = docs(s, dir).schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        // same epoch-offset discipline as d38: keep every event well past
        // the stream's initial watermark of epoch 0
        .withColumn("ts",
          timestamp_micros(lit(1700000000000000L) + col("doc_id")))
      graft.streaming.StreamRunner.runToBatch(
        graft.streaming.DocStream.nearDupClusterStream(stream, "ts",
          n = 3, k = 8, r = 2, minJaccard = 0.5).toDF(),
        "d75_neardup_stream_edges")
    },

    // The stateless stream-static near-dup TAG, oracle-gated (round 10 —
    // the last spec-only stream twin): the %10 bench split ARRIVES as a
    // stream and band-joins the static rest-of-corpus reference; every
    // band collision that clears exact Jaccard 0.5 emits one
    // (doc, ref, band, jaccard) row. No state, no watermark — the oracle
    // replays the band equijoin + Jaccard verify from the shared MinHash
    // CTEs.
    "d80_neardup_tag_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .where(pmod(col("doc_id"), lit(10)) === 0)
      val ref = d.where(pmod(col("doc_id"), lit(10)) =!= 0)
      graft.streaming.StreamRunner.runToBatch(
        graft.streaming.DocStream.nearDupTag(stream, ref, minJaccard = 0.5),
        "d80_neardup_tag_stream")
    },

    // The streaming DSIR tag, oracle-gated (round 10; spec-only before,
    // like d75 for the near-dup stream): the per-bucket grid terms are
    // collected once driver-side (dsirRatioTable — O(buckets), the plan-
    // literal class) and the corpus then streams through the stateless
    // per-occurrence fold — zero joins, zero state. The oracle replays
    // the per-OCCURRENCE term rounding, the documented ≤0.5 µnat/occ
    // divergence from batch d61's per-bucket grid.
    "d79_dsir_tag_stream" -> { (s, dir) =>
      val d = docs(s, dir)
      val terms = TextAnalysis.dsirRatioTable(d,
        d.where(col("lang") === "en"), "text", buckets = 1024)
      val stream = s.readStream.schema(d.schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      graft.streaming.StreamRunner.runToBatch(
        graft.streaming.DocStream.dsirTag(stream, terms)
          .select(col("doc_id"), col("dsir_logw")),
        "d79_dsir_tag_stream")
    },

    // Semantic decontamination (d81): the embedding-space complement of
    // the 13-gram exact rule (d35) — train rows within cosine 0.35 of ANY
    // benchmark vector (vec_id < 20 plays the bench split), catching
    // paraphrased leakage that shares no verbatim span. Bench broadcasts
    // (bench suites are tiny vs a 100 TB corpus); train streams map-only;
    // the one exchange carries <=1 row per contaminated doc.
    "d81_semantic_decon" -> { (s, dir) =>
      val e = embs(s, dir)
      VectorOps.semanticDecontaminate(
        e.where(col("vec_id") >= 20), e.where(col("vec_id") < 20),
        "vec_id", "embedding", threshold = 0.35)
    },

    // Centroid-outlier gate (d82): vectors below cosine 0 to their own
    // label's centroid — the mislabeled/OOD fringe (SemDeDup's complement:
    // prune the too-far tail instead of the too-similar core). Centroids
    // are one O(labels x dim) partial-agg exchange, broadcast back.
    "d82_centroid_outliers" -> { (s, dir) =>
      VectorOps.centroidOutliers(embs(s, dir),
        "vec_id", "embedding", "label", minCos = 0.0)
    },

    // The stateless streaming twin of d81 (d83): the bench vectors collect
    // once driver-side (20 x 64 doubles — the plan-literal class, same
    // budget as dsirTag's term array) and the WHOLE embeddings table
    // arrives as a stream; every row gains a bench_hits tag with zero
    // state, zero joins, zero watermark. Bench rows tag themselves
    // (cos=1), which the oracle replays.
    "d83_semantic_tag_stream" -> { (s, dir) =>
      val e = embs(s, dir)
      val bench = e.where(col("vec_id") < 20)
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toIndexedSeq: Seq[Double]).toSeq
      val stream = s.readStream.schema(e.schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      graft.streaming.StreamRunner.runToBatch(
        graft.streaming.DocStream.semanticTag(stream, bench,
          "embedding", threshold = 0.35)
          .select(col("vec_id"), col("bench_hits")),
        "d83_semantic_tag_stream")
    },

    // Stateless streaming IVF assignment (d84): the ingestion half of the
    // ANN index — every embedding arrives on a stream and leaves routed to
    // its nearest-centroid cell, via the plan-literal quantizer (k x dim
    // driver doubles, the dsirTag budget class). Zero joins, zero state;
    // ties to the smallest cell id, the batch assign()'s exact rule, which
    // the oracle replays through the shared md5 centroid closed form.
    "d84_ivf_assign_stream" -> { (s, dir) =>
      val e = embs(s, dir)
      val cents: Seq[Seq[Double]] = (0 until 8).map(c =>
        (0 until 64).map(d => VectorIVF.centroidValue(c, d)))
      val stream = s.readStream.schema(e.schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      graft.streaming.StreamRunner.runToBatch(
        graft.streaming.DocStream.ivfAssignTag(stream, cents, "embedding", "cell")
          .select(col("vec_id"), col("cell")),
        "d84_ivf_assign_stream")
    },

    // Span-level exact dedup (Lee et al. 2021 ExactSubstr): verbatim
    // >=13-word spans repeated across the corpus, first occurrence kept,
    // every other occurrence emitted as a merged excise extent. The corpus
    // carries organic duplicated spans (whole duplicate documents), and a
    // known 20-word sentence is additionally PLANTED onto every 17th doc
    // so cross-doc mid-text spans with hand-checkable extents exist; the
    // oracle replays both the injection and the gram-bucket/first-keep/
    // island-merge pipeline.
    "d39_dup_spans" -> { (s, dir) =>
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" " + PlantedSpan))).otherwise(col("text")))
      TextAnalysis.duplicateSpans(planted, "doc_id", "text", n = 13)
    },

    // The composed dedup-then-pack pipeline — what a sequence writer
    // actually runs: span-level dedup (d39) → excision (d45) → chunking
    // (d25) → deterministic cross-doc packing (d41), ONE DAG. The oracle
    // replays every stage down to the packed payload md5, proving the
    // operators compose without drift.
    "d46_dedup_pack" -> { (s, dir) =>
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" " + PlantedSpan))).otherwise(col("text")))
      val spans = TextAnalysis.duplicateSpans(planted, "doc_id", "text", n = 13)
      val clean = TextAnalysis.exciseSpans(planted, "doc_id", "text", spans)
        .withColumnRenamed("clean_text", "text")
      val chunks = TextAnalysis.chunk(clean, "doc_id", "text",
        maxTokens = 40, overlap = 8)
      TextAnalysis.packSequencesAcross(chunks, "doc_id",
          seqTokens = 96, numGroups = 8)
        .select(col("bin_group"), col("seq_idx"),
          col("n_chunks"), col("n_tokens"),
          concat_ws(",", transform(col("chunks"), c =>
            concat_ws(":", c("doc_id").cast("string"),
              c("start").cast("string"),
              c("n_tokens").cast("string")))).as("members"),
          md5(col("seq_text")).as("seq_md5"))
    },

    // Span EXCISION — d39's report applied: affected docs are rebuilt with
    // the duplicated extents cut out (first occurrences stay), untouched
    // docs pass through byte-identical without ever tokenizing. clean_md5
    // pins the rebuilt bytes; the oracle replays injection, span
    // derivation AND the rebuild.
    "d45_excise_spans" -> { (s, dir) =>
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" " + PlantedSpan))).otherwise(col("text")))
      val spans = TextAnalysis.duplicateSpans(planted, "doc_id", "text", n = 13)
      TextAnalysis.exciseSpans(planted, "doc_id", "text", spans)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_removed"))
    },

    // Gopher-style quality rules (Rae et al. 2021 §A1.1) — the full
    // published metric set as ONE codegen'd struct projection (word count,
    // mean word length, symbol-to-word ratio, alpha-word fraction,
    // stopword hits) plus the keep gate. Map-only, no shuffle; minWords and
    // minStopHits scaled to this corpus's short synthetic docs, which carry
    // only one of the eight Gopher stopwords (thresholds are parameters,
    // the rule shape is the capability).
    "d47_gopher_quality" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.gopherReport(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.n_words").as("n_words"),
          col("r.mean_word_len").as("mean_word_len"),
          col("r.symbol_ratio").as("symbol_ratio"),
          col("r.frac_alpha").as("frac_alpha"),
          col("r.n_stop_hits").as("n_stop_hits"),
          TextAnalysis.gopherKeep(col("r"), minWords = 30, minStopHits = 1)
            .cast("int").as("keep"))
    },

    // C4-style line-level cleaning (Raffel et al. 2020 §2.2): deterministic
    // re-flow into 12-token lines (this corpus stores one doc per row with
    // no newlines), then keep lines with >= 12 words containing a core
    // stopword and none of C4's banned substrings. Higher-order-function
    // filter over the line array — map-only, no shuffle.
    "d48_line_clean" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.reflowLines(col("text"), 12).as("lines"))
        .select(col("doc_id"),
          size(col("lines")).cast("long").as("n_lines"),
          TextAnalysis.cleanLines(col("lines"), minWords = 12,
            requiredAny = Seq("the", "a", "and", "of"),
            banned = Seq("javascript", "lorem ipsum", "{")).as("kept"))
        .select(col("doc_id"), col("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          array_join(col("kept"), "\n").as("cleaned"))
    },

    // Quality-aware canonical selection: near-dup clusters (d12's LSH ->
    // connected components) but keep the HIGHEST-quality member per
    // cluster (tie -> smallest id) instead of the min-id label — what a
    // production pipeline ships. Singletons always keep. The election
    // groups only the (small) dup membership; the corpus is never
    // shuffled by cluster id.
    "d49_cluster_canonical" -> { (s, dir) =>
      val d = docs(s, dir)
      val pairs = MinHashLSH.nearDupPairs(d, "doc_id", "text")
        .where(col("jaccard") >= 0.5)
      MinHashLSH.canonicalByQuality(
          d, "doc_id", TextAnalysis.qualityScore(col("text")),
          MinHashLSH.clusters(pairs))
        .select(col("doc_id"), col("cluster"),
          col("keep").cast("int").as("keep"))
    },

    // Distribution-matched resampling: rebalance to target language
    // shares by pure downsampling — the binding domain (fr here) keeps
    // everything, zh is unlisted and dropped. Census -> min-ratio ->
    // broadcast rates -> map-only md5 keep; fully deterministic, the
    // oracle replays the keep decision bit for bit.
    "d50_match_mix" -> { (s, dir) =>
      Sampling.matchDistribution(
        docs(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", MatchMixTargets)
    },

    // Normalized exact dedup — d04 made robust to the casing/punctuation/
    // whitespace edits that defeat byte-exact fingerprints: injected
    // variants ("The ... !!!", doubled spaces) collapse onto their base
    // doc's normalized hash. Same one-shuffle groupBy shape as d04.
    "d51_norm_dedup" -> { (s, dir) =>
      val noisy = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
            concat(lit("  "), upper(col("text")), lit(" !!! ")))
          .otherwise(col("text")).as("text"))
      noisy
        .groupBy(md5(TextAnalysis.normalizeText(col("text"))).as("norm_md5"))
        .agg(min("doc_id").as("canonical_doc"),
          count(lit(1)).as("n_copies"))
    },

    // Cross-doc boilerplate line removal (RefinedWeb-style line-level
    // dedup): a deterministic "nav bar" line is planted on every 5th doc,
    // lines occurring in >1 distinct docs drop from every doc, docs
    // rebuilt in line order. Census + anti-join + re-agg — three bounded
    // shuffles, no all-pairs path.
    "d52_boilerplate" -> { (s, dir) =>
      val planted = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
            concat(lit(BoilerLine + " "), col("text")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.stripBoilerplate(
        planted.select(col("doc_id"),
          TextAnalysis.reflowLines(col("text"), 12).as("lines")),
        "doc_id", "lines")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
    },

    // Corpus-wide top-50 bigrams — the census behind stopword lists and
    // boilerplate discovery; global top-k plans as TakeOrderedAndProject.
    "d68_top_ngrams" -> { (s, dir) =>
      // NO scan spread here (r20, measured): with the native graft_grams
      // kernel the whole gram build runs ~200 ms on one core at bench
      // scale, while a 32-way spread costs 12 s of per-task fixed overhead
      // (interleaved A/B, 8 reps: 0.49-0.77 s serial vs 1.1-2.0 s spread).
      // The kernel is the environment-independent fix; at scale the scan
      // plans many partitions by itself.
      TextAnalysis.topNgrams(docs(s, dir), "text", n = 2, k = 50)
    },

    // ANN recall@5 under the oracle: the exact top-k, the LSH top-k, and
    // their per-query intersection all hash-checked — the approximation
    // QUALITY itself becomes a correctness row, not just a probe number
    // (tools/RecallProbe gives the corpus-level curve).
    "d72_ann_recall" -> { (s, dir) =>
      val e = embs(s, dir)
      val queries = e.where(col("vec_id") < 10)
      annRecall(queries, e,
        VectorLSH.annTopK(queries, e, "vec_id", "embedding", 5))
    },

    // d72's twin for the cluster-adaptive path: IVF nprobe=2 recall@5 —
    // both approximate families now carry oracle-gated quality rows.
    "d73_ivf_recall" -> { (s, dir) =>
      val e = embs(s, dir)
      val queries = e.where(col("vec_id") < 10)
      annRecall(queries, e,
        VectorIVF.annTopK(queries, e, "vec_id", "embedding", 5,
          VectorIVF.mdCentroids(s, 8, 64), "cell_id", "cvec", nprobe = 2))
    },

    // A SECOND OPERATING POINT per approximate family, so the recall
    // contract covers the knobs a 100 TB user turns rather than one
    // (bands, nprobe) setting: d76 doubles the IVF probe count (nprobe=4
    // — recall must be >= d73's, the probe set is a superset), d77 halves
    // the LSH band width (rb=2: 8 bands of 2 bits — more collisions, more
    // candidates, higher recall than d72's 4x4). tools/RecallProbe sweeps
    // the full curves; these rows pin one more point of each under the
    // engine-independent oracle.
    "d76_ivf_recall_np4" -> { (s, dir) =>
      val e = embs(s, dir)
      val queries = e.where(col("vec_id") < 10)
      annRecall(queries, e,
        VectorIVF.annTopK(queries, e, "vec_id", "embedding", 5,
          VectorIVF.mdCentroids(s, 8, 64), "cell_id", "cvec", nprobe = 4))
    },

    // TRAINED-IVF recall gate (round 13) — the d100 pattern for the IVF
    // family: two Lloyd rounds over the corpus (md5-ordered init of raw
    // corpus vectors, cosine assignment, 1e-6-grid raw-member means),
    // then the exact d73 recall splice with the TRAINED quantizer at the
    // same nprobe=2 operating point. The oracle replays BOTH unrolled
    // training rounds and the probe/rank tail in SQL, pinning the full
    // train->assign->probe->rank->recall chain; its recall materially
    // above d73's untrained md5-quantizer number is part of the gated
    // hash.
    "d120_ivf_trained_recall" -> { (s, dir) =>
      val e = embs(s, dir)
      val queries = e.where(col("vec_id") < 10)
      val cents = VectorIVF.train(e, "vec_id", "embedding", k = 8, iters = 2)
      annRecall(queries, e,
        VectorIVF.annTopK(queries, e, "vec_id", "embedding", 5,
          cents, "cell_id", "cvec", nprobe = 2))
    },

    "d77_ann_recall_wide" -> { (s, dir) =>
      val e = embs(s, dir)
      val queries = e.where(col("vec_id") < 10)
      annRecall(queries, e,
        VectorLSH.annTopK(queries, e, "vec_id", "embedding", 5,
          m = 16, rb = 2))
    },

    // Johnson–Lindenstrauss random projection to 8 dims — embedding
    // compression before storage / a cheaper index; md5 plan-literal
    // projection matrix, native dot kernel, map-only, bit-replayable
    // (the oracle re-folds the same sequential sum).
    "d71_jl_project" -> { (s, dir) =>
      VectorLSH.randomProject(embs(s, dir), "vec_id", "embedding", k = 8)
    },

    // Decontamination-in-place: bench-contaminated ≥13-gram spans located
    // in the train split (contaminationSpans) and EXCISED (exciseSpans) —
    // remove the leaked text, keep the document. Contamination is organic
    // (exact-dup docs straddle the % 10 split).
    "d70_decontam_excise" -> { (s, dir) =>
      val d = docs(s, dir)
      // NO scan spread (r20, measured interleaved): the gram hashing is
      // already the native ShingleHashes kernel (~300 ms serial at bench
      // scale), and a 32-way spread of both splits costs 11-26 s of
      // per-task fixed overhead for a 0.8 -> 1.4 s wall LOSS.
      val train = d.where(col("doc_id") % 10 =!= 0)
      val bench = d.where(col("doc_id") % 10 === 0)
      val spans = TextAnalysis.contaminationSpans(train, bench, "doc_id", "text")
      TextAnalysis.exciseSpans(train, "doc_id", "text", spans)
        .select(col("doc_id"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
    },

    // Quality-audit one-rower — the curator's first quality report on a
    // new dump (the d53 dedup report's quality-side twin): doc/token
    // volume, grid-exact mean quality, language share, Gopher pass mass,
    // and grid-exact mean char entropy via the NATIVE graft_entropy
    // kernel — one codegen'd projection + one aggregate, no joins.
    "d69_quality_audit" -> { (s, dir) =>
      val per = docs(s, dir).select(
        TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.gopherKeep(TextAnalysis.gopherReport(col("text")),
          minWords = 30, minStopHits = 1).as("gk"),
        graft.plans.TextExpressions.entropyColumn(s, col("text")).as("ent"))
      per.agg(
        count(lit(1)).as("n_docs"),
        sum("nt").as("total_tokens"),
        round(sum(round(col("q") * 1e4, 0).cast("long")).cast("double")
          / 1e4 / count(lit(1)), 4).as("mean_quality"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("gk"), 1L).otherwise(0L)).as("n_gopher_pass"),
        round(sum(round(col("ent") * 1e6, 0).cast("long")).cast("double")
          / 1e6 / count(lit(1)), 6).as("mean_entropy"))
    },

    // Character-entropy signal: repeated-char spam ~0 nats, random blobs
    // ~log|alphabet|, prose mid-band — the char-level noise gate the
    // token-level quality columns miss. One doc-keyed partial-agg chain.
    "d67_char_entropy" -> { (s, dir) =>
      TextAnalysis.charEntropy(docs(s, dir), "doc_id", "text")
    },

    // CCNet paragraph-level keep-first dedup: each distinct 12-token
    // paragraph survives only at its first (doc, pos) occurrence, docs
    // rebuilt in order — the one-canonical-copy complement of d52's
    // drop-everywhere boilerplate rule. Duplicate paragraphs occur
    // organically (exact-dup docs share every paragraph).
    "d66_paragraph_dedup" -> { (s, dir) =>
      TextAnalysis.dedupParagraphs(
        docs(s, dir).select(col("doc_id"),
          TextAnalysis.reflowLines(col("text"), 12).as("lines")),
        "doc_id", "lines")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
    },

    // Dedup audit one-rower — the first report a curator runs on a new
    // dump: corpus size, exact-dup mass (fingerprint), near-dup pair and
    // cluster mass (MinHash >= 0.5), in ONE DAG. Every input is an
    // existing bounded-shuffle operator; the rollup adds three tiny
    // single-row aggs joined by literal crossJoins (1x1 — no data motion).
    "d53_dedup_audit" -> { (s, dir) =>
      val d = docs(s, dir)
      val fp = d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(TextAnalysis.fingerprintHex(col("text"))).as("n_uniq"))
      // the pair frame feeds both the count and the clustering loop —
      // persist it (S4), it is pair-sized, far below corpus-sized
      val pairs = graft.CacheRegistry.track(
        MinHashLSH.nearDupPairs(d, "doc_id", "text")
          .where(col("jaccard") >= 0.5)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val labels = MinHashLSH.clusters(pairs)
      val pc = pairs.agg(count(lit(1)).as("n_near_pairs"))
      val cl = labels.agg(count(lit(1)).as("n_near_docs"),
        countDistinct("cluster").as("n_clusters"))
      fp.crossJoin(pc).crossJoin(cl)
        .select(col("n_docs"), col("n_uniq"),
          (col("n_docs") - col("n_uniq")).as("n_exact_dup_docs"),
          col("n_near_pairs"), col("n_near_docs"), col("n_clusters"),
          (col("n_near_docs") - col("n_clusters")).as("n_near_removable"))
    },

    // Hash-ordered cross-doc packing — d41's composition with the
    // deterministic shuffle a sequence writer wants: chunks pack in
    // md5(id:start) order, spreading each doc's chunks across sequences
    // (batch decorrelation) while the layout stays fully oracle-checkable.
    "d55_pack_shuffled" -> { (s, dir) =>
      TextAnalysis.packSequencesAcross(
        TextAnalysis.chunk(docs(s, dir), "doc_id", "text",
          maxTokens = 40, overlap = 8), "doc_id", seqTokens = 96,
        numGroups = 8, hashOrder = true)
        .select(col("bin_group"), col("seq_idx"),
          col("n_chunks"), col("n_tokens"),
          concat_ws(",", transform(col("chunks"), c =>
            concat_ws(":", c("doc_id").cast("string"),
              c("start").cast("string"),
              c("n_tokens").cast("string")))).as("members"),
          md5(col("seq_text")).as("seq_md5"))
    },

    // Quality-classifier scoring (fastText/DCLM filter shape): sigmoid of
    // a plan-literal weight vector over engineered features — length
    // (capped), stopword ratio, punct ratio, alpha-word fraction. The
    // inference half of a trained filter; map-only, ordered summation so
    // the oracle replays the IEEE result exactly.
    "d54_classifier_score" -> { (s, dir) =>
      val t = col("text")
      val toksL = split(lower(t), " ")
      val features = array(
        least(size(toksL).cast("double") / lit(100.0), lit(1.0)),
        size(filter(toksL, w => w.isin(TextAnalysis.EnStopwords: _*)))
          .cast("double") / size(toksL).cast("double"),
        (length(t) - length(regexp_replace(t, "[!-/:-@\\[-`{-~]", "")))
          .cast("double") / length(t).cast("double"),
        size(filter(toksL, w => w.rlike("[a-z]"))).cast("double")
          / size(toksL).cast("double"))
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.linearScore(features, ClassifierWeights, -2.0)
          .as("score"))
        .withColumn("keep", (col("score") >= 0.5).cast("int"))
    })

  /** d54's weight vector — one table for the engine call and the oracle. */
  private val ClassifierWeights: Seq[Double] = Seq(1.2, 2.0, -3.0, 0.8)

  /** The 12-token "nav bar" line d52 plants on every 5th doc — exactly one
    * reflowed line wide, so it lands as a verbatim repeated line.
    */
  private val BoilerLine =
    "home about products pricing docs blog careers contact login signup terms privacy"

  /** d50's target shares — one table drives both the engine call and the
    * generated oracle CASE arms, so the mix cannot drift between sides.
    */
  private val MatchMixTargets: Map[String, Double] =
    Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2)

  /** The 20-word sentence d39 plants on every 17th doc (identical across
    * docs on purpose — its pure-tail 13-grams are verbatim duplicates).
    */
  private val PlantedSpan =
    "the quick brown fox jumps over the lazy dog while the slow red hen walks under the busy tall bridge"

  /** Deterministic PII injection for d28 (the documents table carries no
    * organic PII): doc_id-keyed suffixes so every class occurs, including
    * an email whose domain is a dotted quad — the case where redaction
    * order is observable (email first ⇒ one <EMAIL>; numeric first would
    * half-claim the domain).
    */
  private def piiInjected(docId: org.apache.spark.sql.Column,
                          text: org.apache.spark.sql.Column) = concat(
    text,
    when(docId % 3 === 0, lit(" contact bob.smith+x@example.com")).otherwise(lit("")),
    when(docId % 5 === 0, lit(" host 192.168.1.10 up")).otherwise(lit("")),
    when(docId % 7 === 0, lit(" call 555-123-4567 now")).otherwise(lit("")),
    when(docId % 11 === 0, lit(" admin root@10.0.0.99.com here")).otherwise(lit("")),
    when(docId % 13 === 0, lit(" ssn 123-45-6789 on file")).otherwise(lit("")))

  /** d47's stop-hit sum, generated from the same
    * [[TextAnalysis.GopherStopwords]] the engine folds over.
    */
  private lazy val GopherStopHitsSql: String =
    graft.functions.TextAnalysis.GopherStopwords
      .map(w => s"(CASE WHEN list_contains(toks, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")

  private val QualitySql =
    """round(0.4 * least((CAST(len(list_filter(string_split(lower(text), ' '),
      |  t -> t IN ('the','a','an','of','and','to','in','is','it','for','on','with'))) AS DOUBLE)
      |  / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) * 4.0, 1.0)
      |+ 0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
      |+ 0.2 * (1.0 - least((CAST(len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)
      |  / CAST(len(text) AS DOUBLE)) * 10.0, 1.0)), 4)""".stripMargin

  /** DuckDB replay of the within-doc trigram repetition ratio (d17 and the
    * d19 gate share this one fragment).
    */
  private val RepetitionSql =
    """round(CASE WHEN len(string_split(lower(text), ' ')) >= 3
      |THEN 1.0 - CAST(len(list_distinct(list_transform(
      |  range(0, len(string_split(lower(text), ' ')) - 2),
      |  i -> array_to_string((string_split(lower(text), ' '))[i+1:i+3], ' ')))) AS DOUBLE)
      |  / CAST(len(string_split(lower(text), ' ')) - 2 AS DOUBLE)
      |ELSE 0.0 END, 6)""".stripMargin

  /** The multi-language CASE argmax, generated from the SAME
    * TextAnalysis.Profiles table the engine uses (d16 + d19).
    */
  private lazy val LangIdCaseSql: String = {
    def ratio(words: Seq[String]) = {
      val in = words.map(w => s"'$w'").mkString(",")
      s"""(CAST(len(list_filter(string_split(lower(text), ' '),
         |  t -> t IN ($in))) AS DOUBLE)
         |  / CAST(len(string_split(lower(text), ' ')) AS DOUBLE))""".stripMargin
    }
    val rs = graft.functions.TextAnalysis.Profiles.map { case (lang, ws) =>
      lang -> ratio(ws) }
    val gmax = s"greatest(${rs.map(_._2).mkString(", ")})"
    val arms = rs.map { case (lang, r) => s"WHEN $r = $gmax THEN '$lang'" }
      .mkString(" ")
    s"CASE WHEN $gmax >= 0.08 THEN (CASE $arms END) ELSE 'und' END"
  }

  /** DuckDB replay of the SimHash sketch, parameterized by width and the
    * token-hash expression — one generator for both widths so the oracles
    * cannot drift. The 64-bit token hash assembles two 32-bit md5 chunks
    * sign-aware (every partial result stays in BIGINT — DuckDB checks
    * overflow on shifts/adds), matching `SimHash.tokenHash64` exactly.
    */
  private def simhashSqlFor(width: Int, hExpr: String): String = {
    val bitSums = (0 until width).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i").mkString(", ")
    val assemble = (0 until width).map(i =>
      s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM (
        SELECT doc_id, $bitSums FROM (
          SELECT doc_id, $hExpr AS h
          FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                FROM documents)) GROUP BY doc_id)"""
  }

  private lazy val SimhashSql: String =
    simhashSqlFor(32, "CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)")

  private lazy val Simhash64Sql: String = simhashSqlFor(64,
    """(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
      |  - CASE WHEN CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) >= 2147483648
      |    THEN 4294967296 ELSE 0 END) * 4294967296
      |+ CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT)""".stripMargin)

  /** The banding+verify oracle over a sketch CTE — shared by d20/d21. */
  private def simhashDupSqlFor(sketchSql: String, nBands: Int, bandBits: Int,
                               maxHamming: Int): String =
    s"""WITH shs AS ($sketchSql),
       bnd AS (SELECT doc_id, simhash, b AS band,
           (simhash >> CAST(b * $bandBits AS INT)) & ${(1L << bandBits) - 1} AS bkey
         FROM shs CROSS JOIN range($nBands) t(b)),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sa, b.simhash AS sb
         FROM bnd a JOIN bnd b ON a.band = b.band AND a.bkey = b.bkey
           AND a.doc_id < b.doc_id)
       SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming"""

  /** DuckDB replay of the d164 perceptual-hash sketch: the synthesized
    * 9×8 thumbnail pixels closed-form from (img, r, c) — base byte from
    * md5, one perturbed pixel on odd ids — then the dHash assembly
    * (bit r·8+c when pixel(r,c) < pixel(r,c+1); bit 63 is the BIGINT
    * sign bit, assembled as −2^63 exactly like the SimHash oracles'
    * top term). Ends as a `(doc_id, simhash)` SELECT so
    * [[simhashDupSqlFor]] bands it unchanged.
    */
  private lazy val PhashSketchSql: String = {
    val hxFull = (0 until 5).map(ch =>
      "md5(CAST(doc_id // 2 AS VARCHAR) || ':' || '" + ch + "')")
      .mkString(" || ")
    s"""WITH hx AS (SELECT doc_id, substr($hxFull, 1, 144) AS h
          FROM documents),
        px AS (SELECT doc_id, r, c,
          CASE WHEN doc_id % 2 = 1 AND (doc_id // 2) % 8 = r
                AND (doc_id // 2) % 9 = c
            THEN (CAST(('0x' || substr(h, CAST((r * 9 + c) * 2 + 1 AS INT), 2))
                    AS BIGINT) + 60) % 256
            ELSE CAST(('0x' || substr(h, CAST((r * 9 + c) * 2 + 1 AS INT), 2))
                   AS BIGINT) END AS p
        FROM hx CROSS JOIN range(8) t1(r) CROSS JOIN range(9) t2(c))
      SELECT a.doc_id,
        CAST(sum(CASE WHEN a.p < b.p THEN
            CASE WHEN a.r * 8 + a.c = 63 THEN -9223372036854775807 - 1
                 ELSE (CAST(1 AS BIGINT) << CAST(a.r * 8 + a.c AS INT)) END
            ELSE 0 END) AS BIGINT) AS simhash
      FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.r = a.r
        AND b.c = a.c + 1
      WHERE a.c < 8
      GROUP BY a.doc_id"""
  }

  /** The d167/d175 stream-static media-tag oracle: asymmetric banding of
    * the [[PhashSketchSql]] sketch (stream %10==0 side against the rest),
    * shared verbatim by the synthetic-thumbnail row (d167) and the
    * real-decode row (d175) — one definition, two deployment paths.
    */
  private lazy val PhashTagStreamSql: String =
    s"""WITH shs AS ($PhashSketchSql),
       bnd AS (SELECT doc_id, simhash, CAST(b AS INT) AS band,
           (simhash >> CAST(b * 16 AS INT)) & 65535 AS bkey
         FROM shs CROSS JOIN range(4) t(b))
       SELECT s.doc_id, r.doc_id AS ref_id, s.band,
         CAST(bit_count(xor(s.simhash, r.simhash)) AS INT) AS hamming
       FROM bnd s JOIN bnd r ON s.band = r.band AND s.bkey = r.bkey
       WHERE s.doc_id % 10 = 0 AND r.doc_id % 10 != 0
         AND bit_count(xor(s.simhash, r.simhash)) <= 3"""

  /** DuckDB replay of the 60-bit hashed 3-gram shingle sets — shared by the
    * MinHash (d05/d12) and exact-Jaccard (d22) oracles, so every
    * set-similarity oracle agrees on what "the shingle set" is.
    */
  /** The d157 verdict rows as a reusable CTE chain (ends with a
    * `verdicts(doc_id, verdict, n_containers)` CTE) — shared by the
    * d157 row itself and the d160/d161 census rollups so the three
    * oracles cannot drift. Mutual tie-break is lexicographic
    * (shingle-set size, id), matching
    * [[graft.functions.JaccardJoin.containmentDedupVerdicts]].
    */
  private lazy val ContainmentVerdictCtesSql: String =
    s"""$ShingleCtesSql,
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id != b.doc_id
         GROUP BY 1, 2),
       c AS (SELECT doc_a, doc_b FROM (
           SELECT i.doc_a, i.doc_b,
             round(CAST(ni AS DOUBLE) / na.n, 6) AS containment
           FROM inter i JOIN sizes na ON na.doc_id = i.doc_a)
         WHERE containment >= 0.6),
       dropped AS (SELECT DISTINCT x.doc_a AS doc_id
         FROM c x
         JOIN sizes sa ON sa.doc_id = x.doc_a
         JOIN sizes sb ON sb.doc_id = x.doc_b
         LEFT JOIN c y
           ON y.doc_a = x.doc_b AND y.doc_b = x.doc_a
         WHERE y.doc_a IS NULL OR sb.n > sa.n
           OR (sb.n = sa.n AND x.doc_b > x.doc_a)),
       cont AS (SELECT doc_a AS doc_id, CAST(count(*) AS BIGINT)
           AS n_containers
         FROM c GROUP BY 1),
       verdicts AS (SELECT d.doc_id,
           CASE WHEN dr.doc_id IS NOT NULL THEN 'drop' ELSE 'keep' END
             AS verdict,
           coalesce(cont.n_containers, 0) AS n_containers
         FROM documents d
         LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
         LEFT JOIN cont ON cont.doc_id = d.doc_id)"""

  /** The one-row containment-posture rollup over the d157 verdict rows —
    * shared verbatim by d160 (catalog path) and d161 (streaming path). */
  private lazy val ContainmentProfileSql: String =
    s"""WITH $ContainmentVerdictCtesSql
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_keep,
         CAST(sum(CASE WHEN verdict = 'drop' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_drop,
         CAST(sum(CASE WHEN n_containers > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contained,
         CAST(coalesce(max(n_containers), 0) AS BIGINT) AS max_containers,
         CAST(coalesce(sum(n_containers), 0) AS BIGINT) AS n_container_edges
       FROM verdicts"""

  private val ShingleCtesSql: String =
    """words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(sh_txt), 1, 15)) AS BIGINT) AS sh FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS sh_txt
           FROM words WHERE len(w) >= 3))"""

  /** DuckDB replay of the integer-grid PageRank recurrence (3 unrolled
    * iterations) over the jaccard >= 0.5 near-dup pair graph — shared by
    * the uniform-split (d126) and micro-jaccard-weighted (d130) oracles:
    * with w ≡ 1 the weighted recurrence reduces to `r // deg` exactly, so
    * one builder keeps the two forms in sync.
    */
  private def pageRankDupsSql(weighted: Boolean,
                              seeded: Boolean = false): String = {
    val wSel =
      if (weighted) ", CAST(round(jaccard * 1e6, 0) AS BIGINT) AS w" else ""
    val wCol = if (weighted) ", w" else ""
    val twExpr =
      if (weighted) "CAST(sum(w) AS BIGINT)" else "CAST(count(*) AS BIGINT)"
    val contrib = if (weighted) "(r.r * e.w) // t.tw" else "r.r // t.tw"
    // seeded: initial mass and teleport land only on seed∩nodes (fl.fs
    // flag, ns = seed-node count); unseeded: uniform over nn
    val (nodeTab, massTab, init, tele) =
      if (seeded) ("fl", "ns",
        ("CASE WHEN fs IS NOT NULL THEN CAST(1000000000 AS BIGINT) // ns" +
          " ELSE CAST(0 AS BIGINT) END"),
        ("CASE WHEN fs IS NOT NULL THEN CAST(150000000 AS BIGINT) // ns" +
          " ELSE CAST(0 AS BIGINT) END"))
      else ("nodes", "nn",
        "CAST(1000000000 AS BIGINT) // n",
        "CAST(150000000 AS BIGINT) // n")
    val seedCtes = if (seeded)
      s""",
       sd AS (SELECT DISTINCT doc_id AS id FROM documents WHERE lang = 'en'),
       fl AS (SELECT nodes.id, CASE WHEN sd.id IS NOT NULL THEN 1 END AS fs
              FROM nodes LEFT JOIN sd ON sd.id = nodes.id),
       ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM fl
              WHERE fs IS NOT NULL)""" else ""
    def iter(t: Int): String =
      s"""s$t AS (SELECT e.dst AS id, CAST(sum($contrib) AS BIGINT) AS s
           FROM edges e JOIN r${t - 1} r ON r.id = e.src
           JOIN tw t ON t.src = e.src GROUP BY e.dst),
         r$t AS MATERIALIZED (SELECT $nodeTab.id, $tele
             + CAST(85 * coalesce(s$t.s, 0) AS BIGINT) // 100 AS r
           FROM $nodeTab LEFT JOIN s$t ON s$t.id = $nodeTab.id
           CROSS JOIN $massTab)"""
    s"""WITH pairs AS ($MinhashPairsSql),
       thr AS (SELECT doc_a, doc_b$wSel FROM pairs WHERE jaccard >= 0.5),
       edges AS (SELECT doc_a AS src, doc_b AS dst$wCol FROM thr
                 UNION ALL SELECT doc_b, doc_a$wCol FROM thr),
       nodes AS (SELECT DISTINCT src AS id FROM edges),
       tw AS (SELECT src, $twExpr AS tw FROM edges GROUP BY src),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)$seedCtes,
       r0 AS (SELECT id, $init AS r
              FROM $nodeTab CROSS JOIN $massTab),
       ${iter(1)}, ${iter(2)}, ${iter(3)}
       SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_ppb FROM r3"""
  }

  /** DuckDB replay of the per-source −p·ln p grid terms summed as longs,
    * with the evenness division on grid longs — shared verbatim by the
    * batch meter (d134) and its streaming twin (d140), whose Spark sides
    * share the combine code ([[graft.functions.Sampling.mixtureEntropyFromCensus]]).
    */
  private val MixtureEntropySql: String =
    """WITH c AS (SELECT source AS d, CAST(count(*) AS BIGINT) AS c
           FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k FROM c),
         terms AS (SELECT CAST(round(-(CAST(c.c AS DOUBLE) / t.n)
               * ln(CAST(c.c AS DOUBLE) / t.n) * 1e6, 0) AS BIGINT) AS tm,
             t.n, t.k
           FROM c CROSS JOIN t)
         SELECT k AS n_sources, n AS n_docs,
           CAST(sum(tm) AS BIGINT) AS entropy_micro,
           CASE WHEN k <= 1 THEN CAST(1000000 AS BIGINT)
             ELSE CAST(sum(tm) AS BIGINT) * 1000000
               // CAST(round(ln(CAST(k AS DOUBLE)) * 1000000, 0) AS BIGINT)
             END AS evenness_micro
         FROM terms GROUP BY k, n"""

  /** DuckDB replay of the Jensen-Shannon grid math between the even-id
    * and odd-id halves' source censuses — guarded c/n halves, mixture
    * terms, `jsd2 = 2·H(M) − H(P) − H(Q)` in exact longs, the normalized
    * form dividing the clamped value by `2·round(ln 2·1e6)` — shared
    * verbatim by the batch meter (d141) and its streaming twin (d142),
    * whose Spark sides share the combine code
    * ([[graft.functions.Sampling.jensenShannonFromCensus]]).
    */
  private val JensenShannonSql: String =
    """WITH cp AS (SELECT source AS d, CAST(count(*) AS BIGINT) AS c
           FROM documents WHERE doc_id % 2 = 0 GROUP BY source),
         cq AS (SELECT source AS d, CAST(count(*) AS BIGINT) AS c
           FROM documents WHERE doc_id % 2 = 1 GROUP BY source),
         j AS (SELECT coalesce(cp.c, 0) AS cp, coalesce(cq.c, 0) AS cq
           FROM cp FULL OUTER JOIN cq ON cq.d = cp.d),
         t AS (SELECT CAST(coalesce(sum(cp), 0) AS BIGINT) AS np,
             CAST(coalesce(sum(cq), 0) AS BIGINT) AS nq,
             CAST(count(*) AS BIGINT) AS ku,
             CAST(coalesce(sum(CASE WHEN cp > 0 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS kp,
             CAST(coalesce(sum(CASE WHEN cq > 0 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS kq
           FROM j),
         terms AS (SELECT
             CASE WHEN cp > 0 THEN CAST(round(-(CAST(cp AS DOUBLE) / t.np)
               * ln(CAST(cp AS DOUBLE) / t.np) * 1e6, 0) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS tp,
             CASE WHEN cq > 0 THEN CAST(round(-(CAST(cq AS DOUBLE) / t.nq)
               * ln(CAST(cq AS DOUBLE) / t.nq) * 1e6, 0) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS tq,
             CAST(round(-((CASE WHEN cp > 0 THEN CAST(cp AS DOUBLE) / t.np
                 ELSE 0.0 END + CASE WHEN cq > 0 THEN
                 CAST(cq AS DOUBLE) / t.nq ELSE 0.0 END) / 2.0)
               * ln((CASE WHEN cp > 0 THEN CAST(cp AS DOUBLE) / t.np
                 ELSE 0.0 END + CASE WHEN cq > 0 THEN
                 CAST(cq AS DOUBLE) / t.nq ELSE 0.0 END) / 2.0)
               * 1e6, 0) AS BIGINT) AS tm
           FROM j CROSS JOIN t),
         h AS (SELECT CAST(coalesce(sum(tp), 0) AS BIGINT) AS hp,
             CAST(coalesce(sum(tq), 0) AS BIGINT) AS hq,
             CAST(coalesce(sum(tm), 0) AS BIGINT) AS hm
           FROM terms)
         SELECT t.np AS n_p, t.nq AS n_q, t.kp AS k_p, t.kq AS k_q,
           t.ku AS k_union, h.hp AS h_p_micro, h.hq AS h_q_micro,
           h.hm AS h_m_micro,
           2 * h.hm - h.hp - h.hq AS jsd2_micro,
           CASE WHEN 2 * h.hm - h.hp - h.hq <= 0 THEN CAST(0 AS BIGINT)
             ELSE (2 * h.hm - h.hp - h.hq) * 1000000
               // (2 * CAST(round(ln(CAST(2 AS DOUBLE)) * 1000000, 0)
               AS BIGINT)) END AS jsd_norm_micro
         FROM t CROSS JOIN h"""

  /** DuckDB replay of the per-dimension grid-moment censuses (signed mean
    * division, HUGEINT mean-square, raw variance terms) — shared verbatim
    * by the batch meter (d143) and its streaming twin (d145), whose Spark
    * sides share the combine code
    * ([[graft.functions.VectorOps.embeddingDriftFromCensus]]).
    */
  private val EmbeddingDriftSql: String =
    """WITH gp AS (SELECT i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6, 0) AS BIGINT) AS g
       FROM (SELECT embedding, unnest(range(1, len(embedding) + 1)) AS i
             FROM embeddings WHERE vec_id % 2 = 0)),
     gq AS (SELECT i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6, 0) AS BIGINT) AS g
       FROM (SELECT embedding, unnest(range(1, len(embedding) + 1)) AS i
             FROM embeddings WHERE vec_id % 2 = 1)),
     cp AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_p,
         CAST(sum(g) AS BIGINT) AS s, sum(CAST(g AS HUGEINT) * g) AS ss
       FROM gp GROUP BY dim),
     cq AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_q,
         CAST(sum(g) AS BIGINT) AS s, sum(CAST(g AS HUGEINT) * g) AS ss
       FROM gq GROUP BY dim),
     j AS (SELECT coalesce(cp.dim, cq.dim) AS dim,
         coalesce(n_p, 0) AS n_p, coalesce(n_q, 0) AS n_q,
         coalesce(cp.s, 0) AS sp, coalesce(cq.s, 0) AS sq,
         coalesce(cp.ss, 0) AS ssp, coalesce(cq.ss, 0) AS ssq
       FROM cp FULL OUTER JOIN cq ON cq.dim = cp.dim),
     m AS (SELECT dim, n_p, n_q,
         CASE WHEN n_p = 0 THEN CAST(0 AS BIGINT) WHEN sp >= 0
           THEN sp // n_p ELSE -((-sp) // n_p) END AS mean_p_micro,
         CASE WHEN n_q = 0 THEN CAST(0 AS BIGINT) WHEN sq >= 0
           THEN sq // n_q ELSE -((-sq) // n_q) END AS mean_q_micro,
         CASE WHEN n_p = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(ssp // n_p AS BIGINT) END AS msq_p,
         CASE WHEN n_q = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(ssq // n_q AS BIGINT) END AS msq_q
       FROM j)
     SELECT dim, n_p, n_q, mean_p_micro, mean_q_micro,
       mean_p_micro - mean_q_micro AS dmean_micro,
       msq_p - mean_p_micro * mean_p_micro AS var_p_micro2,
       msq_q - mean_q_micro * mean_q_micro AS var_q_micro2
     FROM m"""

  /** DuckDB replay of the 3-round synchronous label-propagation vote over
    * the jaccard >= 0.5 near-dup pair graph, ending at CTE `l3(id, lab)`
    * (with `thr`/`edges`/`nodes` in scope) — shared by the d135 community
    * oracle and the d139 modularity oracle, so the proposal chain and the
    * score chain replay the SAME communities.
    */
  private lazy val LpaCtesSql: String = lpaCtes()

  /** Parameterized form: `rounds` unrolled votes, counting edges or
    * (round 14) summing micro-jaccard weights — the weighted vote with
    * w ≡ 1 reduces to the count exactly, and the CONVERGED engine
    * variants (d148/d149) replay as the maxRounds unroll because rounds
    * past a synchronous fixpoint are identity.
    */
  private def lpaCtes(rounds: Int = 3, weighted: Boolean = false): String = {
    val wSel =
      if (weighted) ", CAST(round(jaccard * 1e6, 0) AS BIGINT) AS w" else ""
    val wCol = if (weighted) ", w" else ""
    val vExpr = if (weighted) "sum(e.w)" else "count(*)"
    // MATERIALIZED (DuckDB-only hint; oracles run only in DuckDB): each
    // l$t is referenced twice by round t+1 and DuckDB inlines plain CTEs
    // per reference, which would re-evaluate the whole MinHash chain
    // O(2^rounds) times at the d148/d149 8-round unrolls
    def round(t: Int): String =
      s"""v$t AS (SELECT e.dst AS id, l.lab, $vExpr AS v
           FROM edges e JOIN l${t - 1} l ON l.id = e.src GROUP BY 1, 2),
         w$t AS (SELECT id, lab FROM (SELECT id, lab, row_number()
             OVER (PARTITION BY id ORDER BY v DESC, lab ASC) AS rn
           FROM v$t) WHERE rn = 1),
         l$t AS MATERIALIZED (SELECT l.id, coalesce(w$t.lab, l.lab) AS lab
           FROM l${t - 1} l LEFT JOIN w$t ON w$t.id = l.id)"""
    s"""pairs AS ($MinhashPairsSql),
       thr AS (SELECT doc_a, doc_b$wSel FROM pairs WHERE jaccard >= 0.5),
       edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst$wCol FROM thr
                 UNION ALL SELECT doc_b, doc_a$wCol FROM thr),
       nodes AS (SELECT DISTINCT src AS id FROM edges),
       l0 AS (SELECT id, id AS lab FROM nodes),
       ${(1 to rounds).map(round).mkString(", ")}"""
  }

  /** DuckDB replay of the k=2 core peel over the dup graph, `rounds`
    * unrolled restrict-count rounds — shared by the fixed-round d136 and
    * (at a deeper unroll) the converged d148, whose engine-side early
    * exit is exact because peel rounds past the fixpoint are identity.
    */
  private def kCoreDupsSql(rounds: Int): String = {
    // MATERIALIZED: s$t is referenced twice per following round and e in
    // every round — plain CTEs re-inline the MinHash chain O(2^rounds)
    // times at the d148 8-round unroll (DuckDB-only hint)
    def peel(t: Int): String =
      s"""d$t AS MATERIALIZED (SELECT e.src AS id, CAST(count(*) AS BIGINT) AS d
           FROM e JOIN s${t - 1} a ON a.id = e.src
           JOIN s${t - 1} b ON b.id = e.dst GROUP BY e.src),
         s$t AS (SELECT id FROM d$t WHERE d >= 2)"""
    s"""WITH pairs AS ($MinhashPairsSql),
       thr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM thr
                 UNION ALL SELECT doc_b, doc_a FROM thr),
       e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src != dst),
       s0 AS (SELECT DISTINCT src AS id FROM e),
       ${(1 to rounds).map(peel).mkString(", ")}
       SELECT id AS doc_id, d AS degree FROM d$rounds WHERE d >= 2"""
  }

  /** DuckDB replay of the s-core strength peel over the micro-weighted
    * dup graph, `rounds` unrolled restrict-sum rounds — the weighted
    * [[kCoreDupsSql]]: per-(src,dst) weights summed once (the multigraph
    * convention), strength recomputed per round over surviving
    * endpoints.
    */
  private def kCoreWeightedDupsSql(rounds: Int, s: Long): String = {
    def peel(t: Int): String =
      s"""d$t AS MATERIALIZED (SELECT e.src AS id,
             CAST(sum(e.w) AS BIGINT) AS st
           FROM e JOIN s${t - 1} a ON a.id = e.src
           JOIN s${t - 1} b ON b.id = e.dst GROUP BY e.src),
         s$t AS (SELECT id FROM d$t WHERE st >= $s)"""
    s"""WITH pairs AS ($MinhashPairsSql),
       thr AS (SELECT doc_a, doc_b,
           CAST(round(jaccard * 1e6, 0) AS BIGINT) AS w
         FROM pairs WHERE jaccard >= 0.5),
       edges AS (SELECT doc_a AS src, doc_b AS dst, w FROM thr
                 UNION ALL SELECT doc_b, doc_a, w FROM thr),
       e AS MATERIALIZED (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
         FROM edges WHERE src != dst GROUP BY 1, 2),
       s0 AS (SELECT DISTINCT src AS id FROM e),
       ${(1 to rounds).map(peel).mkString(", ")}
       SELECT id AS doc_id, st AS strength FROM d$rounds WHERE st >= $s"""
  }

  /** DuckDB replay of the BM25 per-doc micro-score chain (terms 'spark
    * vector query', k1=1.2, b=0.75) — shared by the d125 ranked list and
    * the d127 fusion's lexical side, so both agree on what "the BM25
    * score" is. Ends at CTE `bm(doc_id, micro)`.
    */
  private val Bm25MicroCtesSql: String =
    """tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS total
           FROM documents),
         t AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
             unnest(string_split(lower(text), ' ')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, CAST(max(dl) AS BIGINT) AS dl,
             count(*) AS tf
           FROM t WHERE tok IN ('spark', 'vector', 'query') GROUP BY 1, 2),
         dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         term AS (SELECT doc_id, CAST(round(
             ln(1.0 + (nd - df + 0.5) / (df + 0.5)) * (tf * 2.2)
               / (tf + 1.2 * (0.25 + 0.75 * (dl * nd) / total)) * 1e6, 0)
             AS BIGINT) AS m
           FROM tf JOIN dfq USING (tok) CROSS JOIN tot),
         bm AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS micro FROM term GROUP BY 1)"""

  /** DuckDB replay of the JL projection: the 8×64 md5 plane matrix
    * rendered as a literal (Scala Double.toString and DuckDB both bind
    * the nearest double of the same decimal), embedding floats widened
    * to double, components folded left-to-right exactly as the native
    * kernel's loop.
    */
  private lazy val JlProjectSql: String = {
    val planes = graft.functions.VectorLSH.hyperplanes(8, 64)
    val lits = planes.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""WITH p AS (SELECT CAST($lits AS DOUBLE[][]) AS planes),
       js AS (SELECT unnest(range(0, 8)) AS j)
       SELECT e.vec_id, t.j,
         round(sqrt(3.0 / 8) * list_reduce(
           list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * p.planes[t.j + 1][i]),
           (a, b) -> a + b), 6) AS y
       FROM embeddings e CROSS JOIN p CROSS JOIN js t"""
  }

  /** DuckDB replay of the DSIR hashed-feature machinery — shared by the
    * d61 weight and d62 top-k oracles: 60-bit md5 uni+bigram hashes
    * bucketed mod 1024, per-doc bucket census, add-one smoothed
    * target('en')/raw distributions, per-bucket log ratio.
    */
  private val DsirCtesSql: String =
    """words AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
         g AS (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) % 1024 AS b FROM (
           SELECT doc_id, lang, unnest(list_concat(
               list_transform(range(0, len(w)), i -> w[i+1]),
               list_transform(range(0, len(w) - 1),
                 i -> array_to_string(w[i+1:i+2], ' ')))) AS gt
           FROM words)),
         fc AS (SELECT doc_id, b, count(*) AS f FROM g GROUP BY 1, 2),
         cr AS (SELECT b, CAST(sum(f) AS BIGINT) AS cr FROM fc GROUP BY 1),
         ct AS (SELECT b, count(*) AS ct FROM g WHERE lang = 'en' GROUP BY 1),
         tr AS (SELECT CAST(sum(cr) AS BIGINT) AS t FROM cr),
         tt AS (SELECT CAST(sum(ct) AS BIGINT) AS t FROM ct),
         ratio AS (SELECT cr.b,
             ln((coalesce(ct.ct, 0) + 1) / (tt.t + 1024)) -
               ln((cr.cr + 1) / (tr.t + 1024)) AS lnr
           FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN tr CROSS JOIN tt)"""

  /** DuckDB replay of the full MinHash pipeline — shared by the d05
    * pair check and the d12 clustering oracle.
    */
  /** DuckDB replay of exact near-dup connected components (recursive
    * transitive closure) — shared by d12 (min-label propagation) and d109
    * (alternating star contraction): the component labeling is a pure
    * function of the pair graph, independent of the distributed algorithm.
    */
  private lazy val DedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($MinhashPairsSql),
         thr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM thr
                   UNION ALL SELECT doc_b, doc_a FROM thr),
         reach(id, lab) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT DISTINCT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b)
         SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lab) AS BIGINT) AS cluster
         FROM reach GROUP BY id"""

  /** DuckDB replay of the duplication-concentration profile (Gini of the
    * component sizes via the size-histogram identity — ties make rank
    * assignment irrelevant, so Σi·x collapses onto (v, c_v, C_v) rows;
    * HUGEINT sums, exact even-product halving, one floor division at the
    * end, == Spark's truncating div on non-negatives since
    * 2Σi·x ≥ (n+1)Σx by Chebyshev). Shared by d153 (direct), d154 (the
    * catalog path — the stored histogram is lossless) and d155 (the
    * streaming twin — same clusters, shared combine).
    */
  private lazy val DupConcentrationSql: String =
    s"""WITH RECURSIVE pairs AS ($MinhashPairsSql),
         thr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM thr
                   UNION ALL SELECT doc_b, doc_a FROM thr),
         reach(id, lab) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT DISTINCT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
         cl AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
         szs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
           FROM cl GROUP BY cluster),
         hist AS (SELECT sz, CAST(count(*) AS BIGINT) AS cv
           FROM szs GROUP BY sz),
         cum AS (SELECT sz, cv, CAST(coalesce(sum(cv) OVER (ORDER BY sz
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cb FROM hist),
         t AS (SELECT
             CAST(coalesce(sum(CAST(sz AS HUGEINT) * (CAST(cv AS HUGEINT)
               * cb + (CAST(cv AS HUGEINT) * (cv + 1)) // 2)), 0)
               AS HUGEINT) AS six,
             CAST(coalesce(sum(CAST(sz AS HUGEINT) * cv), 0)
               AS HUGEINT) AS s,
             CAST(coalesce(sum(cv), 0) AS BIGINT) AS n,
             CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster
           FROM cum)
         SELECT n AS n_clusters, CAST(s AS BIGINT) AS n_members,
           max_cluster,
           CASE WHEN n = 0 OR s = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST((2 * six - (n + 1) * s) * 1000000
               // (CAST(n AS HUGEINT) * s) AS BIGINT) END AS gini_micro
         FROM t"""

  /** DuckDB replay of the per-language skyline census rules — shared by
    * the batch (d106) and streaming (d107) frontier oracles.
    */
  private lazy val SkylineByLangSql: String =
    s"""WITH pts AS (SELECT doc_id, lang, $QualitySql AS quality, n_chars
         FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
       c AS (SELECT lang, quality, max(n_chars) AS ymax FROM pts
         GROUP BY lang, quality),
       w AS (SELECT lang, quality, ymax, max(ymax) OVER (PARTITION BY lang
           ORDER BY quality DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre FROM c),
       sky AS (SELECT lang, quality, ymax FROM w
         WHERE pre IS NULL OR ymax > pre)
       SELECT p.doc_id, p.lang, p.quality, p.n_chars
       FROM pts p JOIN sky s ON p.lang = s.lang AND p.quality = s.quality
         AND p.n_chars = s.ymax"""

  /** DuckDB replay of d22's exact self-join at jaccard >= 0.8 — shared by
    * the d22 oracle and d103's exact-side audit baseline.
    */
  private lazy val JaccardPairsSql: String =
    s"""WITH $ShingleCtesSql,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT i.doc_a, i.doc_b,
             round(CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE), 6) AS jaccard
           FROM inter i
           JOIN sizes na ON na.doc_id = i.doc_a
           JOIN sizes nb ON nb.doc_id = i.doc_b)
         WHERE jaccard >= 0.8"""

  /** The MinHash chain up to the banded candidate set — shared by the
    * pair verify (d05/d12/d126/d130) and the edit-distance verify (d132),
    * so every banding consumer agrees on what "the candidates" are.
    */
  private lazy val MinhashCandCtesSql: String = {
      val seedRows = MinHashLSH.SeedA.take(8).zipWithIndex
        .map { case (a, j) => s"($j, $a)" }.mkString(", ")
      s"""$ShingleCtesSql,
         hx AS (SELECT doc_id, j,
             CAST(min(CAST(((sh % ${MinHashLSH.P}) * a + j) AS BIGINT) % ${MinHashLSH.P}) AS BIGINT) AS mh
           FROM sh CROSS JOIN (VALUES $seedRows) AS seeds(j, a) GROUP BY doc_id, j),
         bands AS (SELECT doc_id, j // 2 AS band,
             concat(CAST(min(CASE WHEN j % 2 = 0 THEN mh END) AS VARCHAR), ',',
                    CAST(min(CASE WHEN j % 2 = 1 THEN mh END) AS VARCHAR)) AS bkey
           FROM hx GROUP BY doc_id, j // 2),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id)"""
      }

  private lazy val MinhashPairsSql: String =
      s"""WITH $MinhashCandCtesSql,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
           FROM cand c
           JOIN sh sa ON sa.doc_id = c.doc_a
           JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
           GROUP BY c.doc_a, c.doc_b)
         SELECT i.doc_a, i.doc_b,
           round(CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE), 6) AS jaccard
         FROM inter i
         JOIN sizes na ON na.doc_id = i.doc_a
         JOIN sizes nb ON nb.doc_id = i.doc_b"""

  /** DuckDB replay of the d124 incremental dedup report: the same
    * signature/band CTEs as [[MinhashPairsSql]], candidates restricted to
    * batch (id%10=0) × corpus (id%10≠0), exact-Jaccard verification,
    * best match per batch doc (jaccard desc, corpus id asc), left-joined
    * back onto every batch id for the keep/drop verdict row.
    */
  private lazy val DedupIndexSql: String = {
      val seedRows = MinHashLSH.SeedA.take(8).zipWithIndex
        .map { case (a, j) => s"($j, $a)" }.mkString(", ")
      s"""WITH $ShingleCtesSql,
         hx AS (SELECT doc_id, j,
             CAST(min(CAST(((sh % ${MinHashLSH.P}) * a + j) AS BIGINT) % ${MinHashLSH.P}) AS BIGINT) AS mh
           FROM sh CROSS JOIN (VALUES $seedRows) AS seeds(j, a) GROUP BY doc_id, j),
         bands AS (SELECT doc_id, j // 2 AS band,
             concat(CAST(min(CASE WHEN j % 2 = 0 THEN mh END) AS VARCHAR), ',',
                    CAST(min(CASE WHEN j % 2 = 1 THEN mh END) AS VARCHAR)) AS bkey
           FROM hx GROUP BY doc_id, j // 2),
         cand AS (SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
           FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
           WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT c.bid, c.cid, count(*) AS ni
           FROM cand c
           JOIN sh sa ON sa.doc_id = c.bid
           JOIN sh sb ON sb.doc_id = c.cid AND sb.sh = sa.sh
           GROUP BY c.bid, c.cid),
         thr AS (SELECT i.bid, i.cid,
             round(CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE), 6) AS j
           FROM inter i
           JOIN sizes na ON na.doc_id = i.bid
           JOIN sizes nb ON nb.doc_id = i.cid),
         best AS (SELECT bid, cid, j,
             row_number() OVER (PARTITION BY bid ORDER BY j DESC, cid) AS rk
           FROM thr WHERE j >= 0.5)
         SELECT d.doc_id,
           CASE WHEN b.cid IS NULL THEN 'keep' ELSE 'drop' END AS verdict,
           CAST(coalesce(b.cid, -1) AS BIGINT) AS matched_doc,
           coalesce(b.j, 0.0) AS jaccard
         FROM documents d
         LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.bid = d.doc_id
         WHERE d.doc_id % 10 = 0"""
      }

  /** DuckDB replay of the d75 streaming near-dup edge emission: with
    * event time monotone in doc_id, each band bucket's canonical is its
    * min doc_id; every later bucket member with exact shingle-set Jaccard
    * >= 0.5 vs that canonical emits one edge per shared bucket.
    */
  private lazy val NearDupStreamEdgesSql: String = {
      val seedRows = MinHashLSH.SeedA.take(8).zipWithIndex
        .map { case (a, j) => s"($j, $a)" }.mkString(", ")
      s"""WITH $ShingleCtesSql,
         hx AS (SELECT doc_id, j,
             CAST(min(CAST(((sh % ${MinHashLSH.P}) * a + j) AS BIGINT) % ${MinHashLSH.P}) AS BIGINT) AS mh
           FROM sh CROSS JOIN (VALUES $seedRows) AS seeds(j, a) GROUP BY doc_id, j),
         bands AS (SELECT doc_id, j // 2 AS band,
             concat(CAST(min(CASE WHEN j % 2 = 0 THEN mh END) AS VARCHAR), ',',
                    CAST(min(CASE WHEN j % 2 = 1 THEN mh END) AS VARCHAR)) AS bkey
           FROM hx GROUP BY doc_id, j // 2),
         canon AS (SELECT band, bkey, min(doc_id) AS canon_id
           FROM bands GROUP BY 1, 2),
         cand AS (SELECT b.doc_id, c.canon_id, b.band
           FROM bands b JOIN canon c ON b.band = c.band AND b.bkey = c.bkey
             AND b.doc_id > c.canon_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT d.doc_id, d.canon_id, count(*) AS ni
           FROM (SELECT DISTINCT doc_id, canon_id FROM cand) d
           JOIN sh sa ON sa.doc_id = d.doc_id
           JOIN sh sb ON sb.doc_id = d.canon_id AND sb.sh = sa.sh
           GROUP BY 1, 2),
         jac AS (SELECT i.doc_id, i.canon_id,
             round(CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE), 6) AS jaccard
           FROM inter i
           JOIN sizes na ON na.doc_id = i.doc_id
           JOIN sizes nb ON nb.doc_id = i.canon_id)
         SELECT c.doc_id, c.canon_id, CAST(c.band AS INTEGER) AS band, j.jaccard
         FROM cand c
         JOIN jac j ON j.doc_id = c.doc_id AND j.canon_id = c.canon_id
         WHERE j.jaccard >= 0.5"""
      }

  val oracles: Map[String, String] = Map(
    "d01_text_stats" ->
      s"""SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_subwords,
          round(CAST(len(list_filter(string_split(lower(text), ' '),
            t -> t IN ('the','a','an','of','and','to','in','is','it','for','on','with'))) AS DOUBLE)
            / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 6) AS stop_ratio,
          round(CAST(len(text) - len(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
            / CAST(len(text) AS DOUBLE), 6) AS punct_ratio,
          round(CAST(list_sum(list_transform(string_split(text, ' '), t -> len(t))) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len,
          $QualitySql AS quality
          FROM documents""",
    "d02_lang_id" ->
      """SELECT doc_id,
         round(CAST(len(list_filter(string_split(lower(text), ' '),
           t -> t IN ('the','a','an','of','and','to','in','is','it','for','on','with'))) AS DOUBLE)
           / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 6) AS en_ratio,
         CASE WHEN (CAST(len(list_filter(string_split(lower(text), ' '),
           t -> t IN ('the','a','an','of','and','to','in','is','it','for','on','with'))) AS DOUBLE)
           / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) >= 0.08
           THEN 'en' ELSE 'und' END AS lang_pred
         FROM documents""",
    "d16_lang_id_multi" ->
      s"SELECT doc_id, $LangIdCaseSql AS lang_pred FROM documents",
    "d03_fingerprint" ->
      """SELECT doc_id, md5(lower(text)) AS fp_hex,
         CAST(('0x' || substr(md5(lower(text)), 1, 15)) AS BIGINT) AS fp60
         FROM documents""",
    "d04_dedup_exact" ->
      """SELECT md5(lower(text)) AS fp_hex,
         CAST(min(doc_id) AS BIGINT) AS canonical_doc,
         count(*) AS n_copies
         FROM documents GROUP BY 1""",
    "d05_minhash_pairs" -> MinhashPairsSql,
    // d124: the full incremental-dedup report replayed — band index,
    // cross-split candidates, exact verify, best-match window, verdicts.
    "d124_dedup_incremental" -> DedupIndexSql,
    "d75_neardup_stream_edges" -> NearDupStreamEdgesSql,
    // Stream-static band join + exact-Jaccard verify, bench split vs rest.
    "d80_neardup_tag_stream" -> {
      val seedRows = MinHashLSH.SeedA.take(8).zipWithIndex
        .map { case (a, j) => s"($j, $a)" }.mkString(", ")
      s"""WITH $ShingleCtesSql,
         hx AS (SELECT doc_id, j,
             CAST(min(CAST(((sh % ${MinHashLSH.P}) * a + j) AS BIGINT) % ${MinHashLSH.P}) AS BIGINT) AS mh
           FROM sh CROSS JOIN (VALUES $seedRows) AS seeds(j, a) GROUP BY doc_id, j),
         bands AS (SELECT doc_id, j // 2 AS band,
             concat(CAST(min(CASE WHEN j % 2 = 0 THEN mh END) AS VARCHAR), ',',
                    CAST(min(CASE WHEN j % 2 = 1 THEN mh END) AS VARCHAR)) AS bkey
           FROM hx GROUP BY doc_id, j // 2),
         cand AS (SELECT sb.doc_id, rb.doc_id AS ref_id, sb.band
           FROM bands sb JOIN bands rb ON sb.band = rb.band AND sb.bkey = rb.bkey
           WHERE sb.doc_id % 10 = 0 AND rb.doc_id % 10 != 0),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT d.doc_id, d.ref_id, count(*) AS ni
           FROM (SELECT DISTINCT doc_id, ref_id FROM cand) d
           JOIN sh sa ON sa.doc_id = d.doc_id
           JOIN sh sb ON sb.doc_id = d.ref_id AND sb.sh = sa.sh
           GROUP BY 1, 2),
         jac AS (SELECT i.doc_id, i.ref_id,
             round(CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE), 6) AS jaccard
           FROM inter i
           JOIN sizes na ON na.doc_id = i.doc_id
           JOIN sizes nb ON nb.doc_id = i.ref_id)
         SELECT c.doc_id, c.ref_id, CAST(c.band AS INTEGER) AS band, j.jaccard
         FROM cand c
         JOIN jac j ON j.doc_id = c.doc_id AND j.ref_id = c.ref_id
         WHERE j.jaccard >= 0.5"""
      },
    "d43_epoch_mix" ->
      """WITH w(source, wt) AS (VALUES
             ('src1', 2.5), ('src2', 3.0), ('src4', 0.25), ('src7', 0.0)),
         d AS (SELECT doc_id, dd.source, coalesce(wt, 1.0) AS wt
           FROM documents dd LEFT JOIN w USING (source)),
         e AS (SELECT doc_id, source, wt,
             unnest(range(0, CAST(ceil(wt) AS BIGINT))) AS epoch
           FROM d WHERE wt > 0)
         SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
         FROM e
         WHERE epoch < floor(wt)
            OR CAST(('0x' || substr(md5(doc_id || ':' || epoch), 1, 8)) AS BIGINT)
               < CAST(round((wt - floor(wt)) * 4294967296.0, 0) AS BIGINT)""",
    "d44_token_budget_mix" ->
      """WITH s(source, share) AS (VALUES
             ('src1', 0.4), ('src3', 0.3), ('src5', 0.2), ('src7', 0.1)),
         c AS (SELECT dd.source, share,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
           FROM documents dd JOIN s USING (source) GROUP BY 1, 2),
         w AS (SELECT source, CAST(30000 AS DOUBLE) * share / toks AS wt FROM c),
         j AS (SELECT doc_id, dd.source, wt
           FROM documents dd JOIN w USING (source) WHERE wt > 0),
         e AS (SELECT doc_id, source, wt,
             unnest(range(0, CAST(ceil(wt) AS BIGINT))) AS epoch FROM j)
         SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
         FROM e
         WHERE epoch < floor(wt)
            OR CAST(('0x' || substr(md5(doc_id || ':' || epoch), 1, 8)) AS BIGINT)
               < CAST(round((wt - floor(wt)) * 4294967296.0, 0) AS BIGINT)""",
    "d27_hash_split" ->
      s"""WITH d AS (SELECT doc_id, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS b
           FROM documents)
         SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           round(avg($QualitySql), 4) AS mean_quality
         FROM d GROUP BY 1""",
    "d63_group_split" ->
      """WITH d AS (SELECT doc_id, source,
             CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT) % 10 AS b
           FROM documents)
         SELECT doc_id, source,
           CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
         FROM d""",
    "d64_stratified_quota" ->
      """WITH r AS (SELECT doc_id, source, row_number() OVER (
             PARTITION BY source
             ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
               doc_id) AS rk
           FROM documents)
         SELECT doc_id, source, rk FROM r
         WHERE rk <= (CASE WHEN source IN ('src0', 'src1', 'src2') THEN 5 ELSE 2 END)""",
    // d121: the census plan must yield d64's EXACT output — one oracle.
    "d121_stratified_quota_census" ->
      """WITH r AS (SELECT doc_id, source, row_number() OVER (
             PARTITION BY source
             ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
               doc_id) AS rk
           FROM documents)
         SELECT doc_id, source, rk FROM r
         WHERE rk <= (CASE WHEN source IN ('src0', 'src1', 'src2') THEN 5 ELSE 2 END)""",
    // d98: every output column recomputed from the blob-synthesis
    // formulas — the decode must invert the synthesis exactly.
    "d98_png_gif_decode" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 1900
                ELSE 16 + doc_id % 600 END AS width,
           CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 1000
                ELSE 16 + doc_id % 400 END AS height,
           CASE WHEN doc_id % 2 = 0 THEN
             CASE (doc_id // 2) % 4 WHEN 0 THEN 1 WHEN 1 THEN 3
                                    WHEN 2 THEN 2 ELSE 4 END
           ELSE 1 END AS channels,
           CASE WHEN doc_id % 2 = 0 THEN 1
                ELSE doc_id % 3 + 1 END AS n_frames
         FROM documents""",
    // d122: the MP4 box synthesis inverted in closed form — dims from the
    // video tkhd formulas, channels = trak count (odd ids add an audio
    // trak), n_frames = mvhd duration/timescale = the seconds knob.
    "d122_mp4_decode" ->
      """SELECT doc_id,
           16 + doc_id % 1900 AS width,
           16 + doc_id % 1000 AS height,
           1 + doc_id % 2 AS channels,
           1 + doc_id % 300 AS n_frames
         FROM documents""",
    // d101: the synthesized JPEG headers inverted in closed form — the
    // Spark side must walk SOI -> APP0 -> COM -> SOFn to agree.
    "d101_jpeg_decode" ->
      """SELECT doc_id,
           16 + doc_id % 1900 AS width,
           16 + doc_id % 1000 AS height,
           CASE (doc_id // 2) % 2 WHEN 1 THEN 3 ELSE 1 END AS channels,
           1 AS n_frames
         FROM documents""",
    // d97: the stand-in scorer's formula recomputed per row.
    "d97_model_score" ->
      """SELECT doc_id,
           round(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) / 4294967296.0, 6)
             AS model_score
         FROM documents""",
    // d91: the census + top-k window replayed.
    "d91_heavy_hitters" -> HeavyHittersSql,
    // d99: the streamed twin of d92 — identical replay (one micro-batch
    // over the finite source, update mode emits each domain's final
    // sketch once).
    "d99_kmv_domain_stream" -> KmvByDomainSql,
    // d92: per-source bottom-64 distinct gram hashes + the shared
    // estimator, replayed.
    "d92_kmv_by_domain" -> KmvByDomainSql,
    // d90: the Efraimidis–Spirakis key replayed — same u, same ln, same
    // ordering, same tie-break.
    "d90_weighted_sample" ->
      """WITH r AS (SELECT doc_id, source, n_chars, row_number() OVER (
             PARTITION BY source
             ORDER BY ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
                 / 4294967296.0) / CAST(n_chars AS DOUBLE) DESC,
               doc_id) AS rk
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         SELECT doc_id, source, n_chars, rk FROM r WHERE rk <= 10""",
    "d65_score_percentile" ->
      s"""WITH q AS (SELECT doc_id, $QualitySql AS quality FROM documents)
         SELECT doc_id, quality,
           round(percent_rank() OVER (ORDER BY quality), 6) AS pct
         FROM q""",
    // d114: the grouped quantile summary replayed — per-(source, quality)
    // census, running count, integer-exact inverted-CDF picks.
    "d114_quantiles_by_domain" -> QuantilesByDomainSql,
    // d115: the streamed twin — census state per domain, update-mode
    // final emission over the finite replay equals the batch summary.
    "d115_quantiles_stream" -> QuantilesByDomainSql,
    // d105: the census skyline replayed — per-quality max length, prefix
    // max over strictly higher quality, equality join back.
    "d105_skyline" ->
      s"""WITH pts AS (SELECT doc_id, $QualitySql AS quality, n_chars
           FROM documents WHERE n_chars IS NOT NULL),
         c AS (SELECT quality, max(n_chars) AS ymax FROM pts GROUP BY quality),
         w AS (SELECT quality, ymax, max(ymax) OVER (ORDER BY quality DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre FROM c),
         sky AS (SELECT quality, ymax FROM w WHERE pre IS NULL OR ymax > pre)
         SELECT p.doc_id, p.quality, p.n_chars
         FROM pts p JOIN sky s ON p.quality = s.quality AND p.n_chars = s.ymax""",
    // d108: the same mixed-script synthesis + the same five \x{...}
    // character classes, length-diff counted; fractions on the 1e-6 grid.
    // Each fraction carries the Spark side's empty-input rule (zeros, not
    // NULL/div-by-zero) so the pair stays total-input equivalent — an
    // empty text with doc_id % 15 == 0 yields an empty tx.
    "d108_script_profile" ->
      """WITH t AS (SELECT doc_id,
           text || repeat('世', CAST(doc_id % 5 AS INT))
                || repeat('ж', CAST(doc_id % 3 AS INT)) AS tx
           FROM documents)
         SELECT doc_id, CAST(length(tx) AS BIGINT) AS n_chars,
           CASE WHEN length(tx) = 0 THEN 0.0 ELSE
             round((length(tx) - length(regexp_replace(tx, '[A-Za-z]', '', 'g')))
               / CAST(length(tx) AS DOUBLE), 6) END AS frac_latin,
           CASE WHEN length(tx) = 0 THEN 0.0 ELSE
             round((length(tx) - length(regexp_replace(tx, '[\x{4E00}-\x{9FFF}]', '', 'g')))
               / CAST(length(tx) AS DOUBLE), 6) END AS frac_cjk,
           CASE WHEN length(tx) = 0 THEN 0.0 ELSE
             round((length(tx) - length(regexp_replace(tx, '[\x{0400}-\x{04FF}]', '', 'g')))
               / CAST(length(tx) AS DOUBLE), 6) END AS frac_cyrillic,
           CASE WHEN length(tx) = 0 THEN 0.0 ELSE
             round((length(tx) - length(regexp_replace(tx, '[\x{0600}-\x{06FF}]', '', 'g')))
               / CAST(length(tx) AS DOUBLE), 6) END AS frac_arabic,
           CASE WHEN length(tx) = 0 THEN 0.0 ELSE
             round((length(tx) - length(regexp_replace(tx, '[0-9]', '', 'g')))
               / CAST(length(tx) AS DOUBLE), 6) END AS frac_digit
         FROM t""",
    // d106/d107: the same census rules keyed by language; the streaming
    // twin replays identically (one micro-batch over the finite source,
    // update mode emits each domain's final frontier once).
    "d106_skyline_by_lang" -> SkylineByLangSql,
    "d107_skyline_stream" -> SkylineByLangSql,
    "d37_ngram_repetition" ->
      """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (SELECT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS gram FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM words WHERE len(w) >= 3)),
         per AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_gram_frac,
           round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6)
             AS dup_gram_frac
         FROM per GROUP BY doc_id""",
    "d36_bigram_logprob" ->
      """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (SELECT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS gram FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 1),
             i -> array_to_string(w[i+1:i+2], ' '))) AS gt
           FROM words WHERE len(w) >= 2)),
         tf AS (SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY 1, 2),
         freq AS (SELECT gram, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS v FROM freq)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_grams,
           round(CAST(sum(CAST(round(tf * ln((cnt + 1) / (total + v)) * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / 1000000 / sum(tf), 6) AS logprob
         FROM tf JOIN freq USING (gram) CROSS JOIN tot
         GROUP BY doc_id""",
    "d35_ngram_decontam" ->
      """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS sh FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 12),
             i -> array_to_string(w[i+1:i+13], ' '))) AS gt
           FROM words WHERE len(w) >= 13)),
         bg AS (SELECT doc_id, sh FROM g WHERE doc_id % 10 = 0),
         tset AS (SELECT DISTINCT sh FROM g WHERE doc_id % 10 != 0),
         hits AS (SELECT b.doc_id, count(*) AS n_hits
           FROM bg b JOIN tset t ON b.sh = t.sh GROUP BY 1)
         SELECT b.doc_id, count(*) AS n_grams,
           CAST(coalesce(any_value(h.n_hits), 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(any_value(h.n_hits), 0) AS DOUBLE) / count(*), 6) AS hit_ratio
         FROM bg b LEFT JOIN hits h ON h.doc_id = b.doc_id
         GROUP BY b.doc_id""",
    // d35's gram CTEs + the deterministic Bloom replay: same md5 base
    // hash, same (h%P)*a+j universal probe positions mod 2^20, 32-bit
    // word payloads (bit 63 would overflow DuckDB's checked <<).
    "d78_bloom_decontam" -> BloomDecontamSql,
    // identical replay: the stream side is the same stateless projection
    // over the same standing bitmap (d85 pins batch/stream equivalence)
    "d85_bloom_tag_stream" -> BloomDecontamSql,

    "d26_contamination" ->
      s"""WITH $ShingleCtesSql,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b, jaccard FROM (
           SELECT i.doc_a, i.doc_b,
             round(CAST(ni AS DOUBLE) / CAST(na.n + nb.n - ni AS DOUBLE), 6) AS jaccard
           FROM inter i
           JOIN sizes na ON na.doc_id = i.doc_a
           JOIN sizes nb ON nb.doc_id = i.doc_b)
           WHERE jaccard >= 0.7 AND ((doc_a % 10 = 0) != (doc_b % 10 = 0)))
         SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS bench_id,
           count(*) AS n_contaminating, max(jaccard) AS max_jaccard
         FROM pairs GROUP BY 1""",
    "d25_chunk" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, w, unnest(list_filter(range(1, len(w) + 1, 32),
             st -> st = 1 OR st + 8 <= len(w))) AS start FROM w)
         SELECT doc_id, CAST(start AS INT) AS start,
           array_to_string(w[start:start+39], ' ') AS chunk_text,
           CAST(least(len(w) - start + 1, 40) AS INT) AS n_tokens
         FROM s""",
    "d32_pack" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, w, unnest(list_filter(range(1, len(w) + 1, 32),
             st -> st = 1 OR st + 8 <= len(w))) AS start FROM w),
         ch AS (SELECT doc_id, CAST(start AS INT) AS start,
             CAST(least(len(w) - start + 1, 40) AS INT) AS n_tokens FROM s),
         c AS (SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY doc_id ORDER BY start
               ROWS UNBOUNDED PRECEDING) AS cum FROM ch)
         SELECT doc_id, CAST((cum - n_tokens) // 96 AS INT) AS seq_idx,
           count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM c GROUP BY doc_id, seq_idx""",
    "d33_pack_compose" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, w, unnest(list_filter(range(1, len(w) + 1, 32),
             st -> st = 1 OR st + 8 <= len(w))) AS start FROM w),
         ch AS (SELECT doc_id, CAST(start AS INT) AS start,
             CAST(least(len(w) - start + 1, 40) AS INT) AS n_tokens,
             array_to_string(w[start:start+39], ' ') AS chunk_text FROM s),
         c AS (SELECT doc_id, start, n_tokens, chunk_text,
             sum(n_tokens) OVER (PARTITION BY doc_id ORDER BY start
               ROWS UNBOUNDED PRECEDING) AS cum FROM ch)
         SELECT doc_id, CAST((cum - n_tokens) // 96 AS INT) AS seq_idx,
           string_agg(start || ':' || n_tokens, ',' ORDER BY start) AS members,
           md5(string_agg(chunk_text, ' ' ORDER BY start)) AS seq_md5
         FROM c GROUP BY doc_id, seq_idx""",
    // d55: d41's CTEs with the md5(id:start) sort key driving the window,
    // the membership order, and the payload order.
    "d55_pack_shuffled" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, w, unnest(list_filter(range(1, len(w) + 1, 32),
             st -> st = 1 OR st + 8 <= len(w))) AS start FROM w),
         ch AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS bin_group,
             CAST(start AS INT) AS start,
             CAST(least(len(w) - start + 1, 40) AS INT) AS n_tokens,
             array_to_string(w[start:start+39], ' ') AS chunk_text,
             CAST(('0x' || substr(md5(doc_id || ':' || CAST(start AS INT)), 1, 8)) AS BIGINT) AS ord
           FROM s),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY bin_group
               ORDER BY ord, doc_id, start ROWS UNBOUNDED PRECEDING) AS cum FROM ch)
         SELECT bin_group, CAST((cum - n_tokens) // 96 AS INT) AS seq_idx,
           count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           string_agg(doc_id || ':' || start || ':' || n_tokens, ','
             ORDER BY ord, doc_id, start) AS members,
           md5(string_agg(chunk_text, ' ' ORDER BY ord, doc_id, start)) AS seq_md5
         FROM c GROUP BY bin_group, seq_idx""",
    "d41_pack_across" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, w, unnest(list_filter(range(1, len(w) + 1, 32),
             st -> st = 1 OR st + 8 <= len(w))) AS start FROM w),
         ch AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS bin_group,
             CAST(start AS INT) AS start,
             CAST(least(len(w) - start + 1, 40) AS INT) AS n_tokens,
             array_to_string(w[start:start+39], ' ') AS chunk_text FROM s),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY bin_group
               ORDER BY doc_id, start ROWS UNBOUNDED PRECEDING) AS cum FROM ch)
         SELECT bin_group, CAST((cum - n_tokens) // 96 AS INT) AS seq_idx,
           count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           string_agg(doc_id || ':' || start || ':' || n_tokens, ','
             ORDER BY doc_id, start) AS members,
           md5(string_agg(chunk_text, ' ' ORDER BY doc_id, start)) AS seq_md5
         FROM c GROUP BY bin_group, seq_idx""",
    "d24_corpus_audit" -> {
      val q = QualitySql
      s"""WITH d AS (SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens, $q AS q
           FROM documents),
         vocab AS (SELECT count(DISTINCT token) AS vocab_size FROM (
           SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents))
         SELECT count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS mean_tokens,
           round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
           round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
           round(quantile_cont(n_tokens, 0.99), 4) AS p99_tokens,
           round(quantile_cont(CAST(round(q * 10000, 0) AS BIGINT), 0.5) / 10000, 5) AS p50_quality,
           min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens,
           (SELECT vocab_size FROM vocab) AS vocab_size
         FROM d"""
    },
    "d23_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
         dfreq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token),
         n AS (SELECT count(*) AS nn FROM documents),
         scored AS (SELECT tf.doc_id, tf.token, tf.tf,
             round(tf.tf * (ln((n.nn + 1) / (dfreq.doc_freq + 1)) + 1), 6) AS score
           FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n)
         SELECT doc_id, token, tf, CAST(rank AS INT) AS rank, score FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, token ASC) AS rank
           FROM scored)
         WHERE rank <= 3""",
    // d125: the BM25 integer-grid replay — same expression tree (float ops
    // are order-sensitive), micro-score longs summed exactly, same
    // (micro desc, doc_id) ordering.
    "d125_bm25_topk" ->
      s"""WITH $Bm25MicroCtesSql,
         r AS (SELECT doc_id, micro,
             row_number() OVER (ORDER BY micro DESC, doc_id) AS rk FROM bm)
         SELECT doc_id, round(micro / 1e6, 6) AS bm25, rk FROM r WHERE rk <= 10""",
    // d127: both retrieval lists replayed (the d125 BM25 chain at k=20 and
    // the d07 cosine chain pinned to query id 0), fused by reciprocal rank
    // — integer micro-grid contributions, absent-from-a-list = 0.
    "d127_hybrid_rrf" ->
      s"""WITH $Bm25MicroCtesSql,
         lex AS (SELECT doc_id, rk FROM (SELECT doc_id,
             row_number() OVER (ORDER BY micro DESC, doc_id) AS rk FROM bm)
           WHERE rk <= 20),
         sem AS (SELECT doc_id, rank FROM (
             SELECT c.vec_id AS doc_id, row_number() OVER (ORDER BY
                 list_cosine_similarity(q.embedding::DOUBLE[],
                   c.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rank
             FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
             WHERE q.vec_id = 0)
           WHERE rank <= 20),
         fused AS (SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             l.rk AS rk_lex, s.rank AS rk_sem
           FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id),
         sc AS (SELECT doc_id, rk_lex, rk_sem,
             CAST(coalesce(CAST(1000000 AS BIGINT) // (60 + rk_lex), 0)
               + coalesce(CAST(1000000 AS BIGINT) // (60 + rk_sem), 0)
               AS BIGINT) AS rrf_micro
           FROM fused),
         rr AS (SELECT *, row_number() OVER (ORDER BY rrf_micro DESC,
             doc_id) AS rk FROM sc)
         SELECT doc_id, CAST(rk_lex AS BIGINT) AS rk_lex,
           CAST(rk_sem AS BIGINT) AS rk_sem, rrf_micro,
           CAST(rk AS INT) AS rk
         FROM rr WHERE rk <= 10""",
    // d128: the streamed per-doc score IS the batch micro-score — the
    // shared BM25 chain, un-truncated (every doc matching >= 1 term).
    "d128_bm25_stream" ->
      s"""WITH $Bm25MicroCtesSql
         SELECT doc_id, round(micro / 1e6, 6) AS bm25 FROM bm""",
    // d129: ordered-orientation triangle count (each u<v<w matched once),
    // wedge census from symmetrized degrees, gcc on the 1e-6 integer grid.
    "d129_triangle_census" ->
      s"""WITH pairs AS ($MinhashPairsSql),
         thr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
         e AS (SELECT DISTINCT least(doc_a, doc_b) AS a,
             greatest(doc_a, doc_b) AS b FROM thr WHERE doc_a != doc_b),
         tri AS (SELECT CAST(count(*) AS BIGINT) AS t FROM e e1
           JOIN e e2 ON e2.a = e1.b
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         dg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM
           (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
         w AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM dg),
         ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
         SELECT n_nodes, n_edges, t AS n_triangles, n_wedges,
           CASE WHEN n_wedges > 0
             THEN CAST(3 * t * 1000000 AS BIGINT) // n_wedges
             ELSE CAST(0 AS BIGINT) END AS gcc_micro
         FROM w CROSS JOIN ne CROSS JOIN tri""",
    // d131: exact directed containment over the shared shingle sets —
    // no prefix machinery to replay (the filters are lossless; only the
    // verified relation is observable).
    "d131_containment_join" ->
      s"""WITH $ShingleCtesSql,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id != b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, containment FROM (
           SELECT i.doc_a, i.doc_b,
             round(CAST(ni AS DOUBLE) / na.n, 6) AS containment
           FROM inter i JOIN sizes na ON na.doc_id = i.doc_a)
         WHERE containment >= 0.6""",
    // d156: the strength peel's 3-round unroll over the micro-weighted
    // dup graph.
    "d156_kcore_weighted" -> kCoreWeightedDupsSql(rounds = 3, s = 1200000L),
    // d157: the exact containment relation (the d131 chain) resolved to
    // per-doc verdicts — drop iff some container is not contained back
    // or is mutual and wins the lexicographic (shingle-set size, id)
    // tie-break (the acyclic ordering: at least one survivor per group).
    "d157_containment_dedup" ->
      s"""WITH $ContainmentVerdictCtesSql
         SELECT doc_id, verdict, n_containers FROM verdicts""",
    // d158: exact cross-set containment — the d131 chain with the two
    // parity sides; the prefix machinery is lossless so only the
    // verified relation is observable.
    "d158_containment_across" ->
      s"""WITH $ShingleCtesSql,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
           FROM sh a JOIN sh b ON a.sh = b.sh
           WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, containment FROM (
           SELECT i.doc_a, i.doc_b,
             round(CAST(ni AS DOUBLE) / na.n, 6) AS containment
           FROM inter i JOIN sizes na ON na.doc_id = i.doc_a)
         WHERE containment >= 0.6""",
    // d159: the d158 relation resolved to per-batch-doc verdicts with the
    // strongest container (ties: smallest container id).
    "d159_containment_tag_incremental" ->
      s"""WITH $ShingleCtesSql,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
           FROM sh a JOIN sh b ON a.sh = b.sh
           WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
           GROUP BY 1, 2),
         c AS (SELECT doc_a, doc_b, containment FROM (
             SELECT i.doc_a, i.doc_b,
               round(CAST(ni AS DOUBLE) / na.n, 6) AS containment
             FROM inter i JOIN sizes na ON na.doc_id = i.doc_a)
           WHERE containment >= 0.6),
         rk AS (SELECT doc_a, doc_b, containment, row_number() OVER (
             PARTITION BY doc_a ORDER BY containment DESC, doc_b ASC) AS rn
           FROM c),
         agg AS (SELECT doc_a AS doc_id,
             CAST(count(*) AS BIGINT) AS n_containers FROM c GROUP BY 1),
         top AS (SELECT doc_a AS doc_id, doc_b AS top_container, containment
           FROM rk WHERE rn = 1)
         SELECT d.doc_id,
           CASE WHEN agg.doc_id IS NOT NULL THEN 'drop' ELSE 'keep' END
             AS verdict,
           coalesce(agg.n_containers, 0) AS n_containers,
           CAST(coalesce(top.top_container, -1) AS BIGINT) AS top_container,
           coalesce(top.containment, 0.0) AS containment
         FROM documents d
         LEFT JOIN agg ON agg.doc_id = d.doc_id
         LEFT JOIN top ON top.doc_id = d.doc_id
         WHERE d.doc_id % 5 = 0""",
    // d160/d161: the d157 verdict rows rolled up to the one-row
    // containment-posture profile — identical SQL for the catalog path
    // (d160) and the streaming path (d161) because the Spark side
    // guarantees census/stream/batch share one combine.
    "d160_catalog_containment_census" -> ContainmentProfileSql,
    "d161_containment_verdict_stream" -> ContainmentProfileSql,
    // d162: the strength peel unrolled to the engine's maxRounds bound —
    // converged == unroll is the operator's own identity, so the
    // fixpoint exit needs no SQL analog.
    "d162_score_converged" -> kCoreWeightedDupsSql(rounds = 8, s = 1200000L),
    // d163: both parity releases' verdict rows replayed (the d157 chain
    // restricted to same-parity pairs), rolled to per-release profiles,
    // joined with signed deltas — the catalog math replayed directly.
    "d163_containment_drift_catalog" ->
      s"""WITH $ShingleCtesSql,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS ni
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id != b.doc_id
             AND a.doc_id % 2 = b.doc_id % 2
           GROUP BY 1, 2),
         c AS (SELECT doc_a, doc_b FROM (
             SELECT i.doc_a, i.doc_b,
               round(CAST(ni AS DOUBLE) / na.n, 6) AS containment
             FROM inter i JOIN sizes na ON na.doc_id = i.doc_a)
           WHERE containment >= 0.6),
         dropped AS (SELECT DISTINCT x.doc_a AS doc_id
           FROM c x
           JOIN sizes sa ON sa.doc_id = x.doc_a
           JOIN sizes sb ON sb.doc_id = x.doc_b
           LEFT JOIN c y
             ON y.doc_a = x.doc_b AND y.doc_b = x.doc_a
           WHERE y.doc_a IS NULL OR sb.n > sa.n
             OR (sb.n = sa.n AND x.doc_b > x.doc_a)),
         cont AS (SELECT doc_a AS doc_id, CAST(count(*) AS BIGINT)
             AS n_containers
           FROM c GROUP BY 1),
         verdicts AS (SELECT d.doc_id, d.doc_id % 2 AS par,
             CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dr,
             coalesce(cont.n_containers, 0) AS nc
           FROM documents d
           LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
           LEFT JOIN cont ON cont.doc_id = d.doc_id),
         pa AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_a,
             CAST(sum(dr) AS BIGINT) AS n_drop_a,
             CAST(sum(CASE WHEN nc > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contained_a,
             CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_container_edges_a
           FROM verdicts WHERE par = 0),
         pb AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_b,
             CAST(sum(dr) AS BIGINT) AS n_drop_b,
             CAST(sum(CASE WHEN nc > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contained_b,
             CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_container_edges_b
           FROM verdicts WHERE par = 1)
         SELECT pa.*, pb.*,
           n_drop_b - n_drop_a AS d_drop,
           n_contained_b - n_contained_a AS d_contained,
           n_container_edges_b - n_container_edges_a AS d_edges
         FROM pa, pb""",
    // d164: the thumbnail pixels closed-form from (img, r, c), the dHash
    // bit assembly, then the SAME banding+verify generator as d20/d21
    // over the resulting sketch CTE — one banding oracle for text and
    // image sketches, cannot drift.
    "d164_phash_neardup" -> simhashDupSqlFor(PhashSketchSql, 4, 16, 3),

    // d173: the SAME oracle as d164 — the real chain (PNG encode →
    // ImageIO decode → grayThumb → dHash64) must land on the identical
    // pair set as the synthetic closed form, because the synthesis
    // plants exactly the d164 grayscale bytes and lossless decode +
    // exact luma + identity resize recover them bit-for-bit.
    "d173_phash_real_chain" -> simhashDupSqlFor(PhashSketchSql, 4, 16, 3),
    // d165: per-parity-release gram streams, exact top-20 censuses, CMS
    // bucket tables, and the full-outer combine with min-over-rows CMS
    // point estimates for the missing side (absent buckets read as the
    // stored zeros they are).
    "d165_catalog_heavy_drift" -> HeavyGramDriftSql,
    // d166: the streamed census feeds the SAME top-5 window as d91, so
    // one oracle definition covers both paths by construction.
    "d166_heavy_hitters_stream" -> HeavyHittersSql,
    // d169: in the single-data-batch regime every above-N/cap token is
    // exact (and here the 31-token vocabulary < cap means no eviction
    // fires at all), so the top-5 matches the exact census oracle with
    // est = true count and err = 0 — the approximation regime is
    // property-pinned (SpaceSavingMergeSpec), not oracle-pinned.
    "d169_heavy_hitters_capped" ->
      """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
           FROM documents),
         c AS (SELECT source, tok, count(*) AS n FROM t GROUP BY 1, 2),
         r AS (SELECT source, tok, CAST(n AS BIGINT) AS est,
             CAST(0 AS BIGINT) AS err,
             row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rk
           FROM c)
         SELECT source, tok, est, err, rk FROM r WHERE rk <= 5""",
    // d174: the multi-batch SpaceSaving verdict — every output column is
    // an arrival-order-INVARIANT fact of the final synopsis, replayable
    // from the exact census alone: Σest = N (each occurrence increments
    // exactly one counter), |synopsis| = min(cap, vocab) (grows to cap,
    // then evict-replace), the est/err bounds never violate (n=0), and
    // the N/cap guarantee tracks every heavy token (tracked = heavy).
    "d174_heavy_hitters_twobatch" -> {
      val inject = " zzheavy" * 8
      s"""WITH t AS (SELECT source,
           unnest(string_split(lower(text) || '$inject', ' ')) AS tok
           FROM documents),
         c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
           FROM t GROUP BY 1, 2),
         tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_vocab
           FROM c GROUP BY 1),
         heavy AS (SELECT c.source, CAST(count(*) AS BIGINT) AS nh
           FROM c JOIN tot ON tot.source = c.source
           WHERE c.cnt * 16 > tot.n_tokens GROUP BY 1)
         SELECT tot.source, tot.n_tokens,
           CAST(least(tot.n_vocab, 16) AS BIGINT) AS n_synopsis,
           tot.n_tokens AS sum_est,
           CAST(coalesce(heavy.nh, 0) AS BIGINT) AS n_heavy,
           CAST(coalesce(heavy.nh, 0) AS BIGINT) AS n_heavy_tracked,
           CAST(0 AS BIGINT) AS n_violations
         FROM tot LEFT JOIN heavy ON heavy.source = tot.source"""
    },

    // d171: per-window exact top-5 over the doc_id-derived minute grid,
    // closed windows only (end <= max-event-time - 10 min, the q42
    // watermark rule); est = exact count, err = 0 in the single-batch
    // exact regime (the d169 contract, per window).
    "d171_trending_capped" ->
      """WITH t AS (SELECT 1500000000 + doc_id * 60 AS tsec,
             unnest(string_split(lower(text), ' ')) AS tok FROM documents),
         mx AS (SELECT max(1500000000 + doc_id * 60) - 600 AS wm
           FROM documents),
         w AS (SELECT tsec // 600 AS wbin, tok FROM t),
         c AS (SELECT wbin, tok, count(*) AS n FROM w GROUP BY 1, 2),
         r AS (SELECT wbin, tok, CAST(n AS BIGINT) AS est,
             CAST(0 AS BIGINT) AS err,
             row_number() OVER (PARTITION BY wbin ORDER BY n DESC, tok) AS rk
           FROM c)
         SELECT make_timestamp(wbin * 600 * 1000000) AS window_start,
           make_timestamp((wbin + 1) * 600 * 1000000) AS window_end,
           tok, est, err, rk
         FROM r, mx
         WHERE rk <= 5 AND (wbin + 1) * 600 <= wm""",
    // d172: the synthesis plants the waveform in closed form; the Spark
    // side must recover it through a REAL PCM16 decode — integer-exact
    // features (count, energy numerator, sign alternations), so the
    // oracle needs no audio library, only the planted arithmetic.
    "d172_wav_features" ->
      """WITH d AS (SELECT doc_id, 160 + doc_id % 100 AS n FROM documents),
         ix AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
         s AS (SELECT doc_id, n, i,
             ((doc_id * 31 + i * 17) % 2001) - 1000 AS v FROM ix),
         s2 AS (SELECT doc_id, n, i, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
         SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
           CAST(sum(v * v) AS BIGINT) AS sum_sq,
           CAST(sum(CASE WHEN pv IS NOT NULL AND v * pv < 0
             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
         FROM s2 GROUP BY doc_id""",
    // d170: the synthesis plants the dims in closed form; the Spark side
    // must recover them through a REAL javax.imageio decode — the oracle
    // needs no image library, only the planted arithmetic.
    "d170_imageio_decode" ->
      """SELECT doc_id,
           CAST(16 + doc_id % 50 AS INT) AS width,
           CAST(16 + (7 * doc_id) % 40 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(1 AS INT) AS n_frames
         FROM documents""",
    // d168: per-window KMV replay under the q42 watermark-emission rule —
    // ms-floored watermark (max event time − 10 min), closed windows
    // only, the d86 sketch/estimate splice per window.
    "d168_kmv_window_stream" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS h
           FROM events),
         mx AS (SELECT (max(tus) // 1000) - 600000 AS wm_ms FROM e),
         d AS (SELECT DISTINCT tus // 60000000 AS wmin, h FROM e),
         sk AS (SELECT wmin, list(h ORDER BY h) AS sketch FROM (
             SELECT wmin, h,
               row_number() OVER (PARTITION BY wmin ORDER BY h) AS rk
             FROM d)
           WHERE rk <= 64 GROUP BY wmin)
         SELECT make_timestamp(wmin * 60000000) AS window_start,
           make_timestamp((wmin + 1) * 60000000) AS window_end,
           array_to_string(sketch, ',') AS sketch_csv,
           len(sketch) AS n_sketch,
           CASE WHEN len(sketch) < 64 THEN CAST(len(sketch) AS DOUBLE)
                ELSE 63 * 1152921504606846976.0
                  / (CAST(sketch[64] AS DOUBLE) + 1.0)
           END AS est_distinct
         FROM sk, mx
         WHERE (wmin + 1) * 60000 <= wm_ms""",
    // d167: the shared phash sketch CTE banded asymmetrically (stream
    // side %10=0, reference side the rest), one row per band collision
    // clearing the hamming budget — the d80 oracle shape on bit sketches.
    "d167_phash_tag_stream" -> PhashTagStreamSql,

    // d175: d167's oracle VERBATIM — the stream-side and reference-side
    // hashes come from the real decode chain, which d173 gates as
    // bit-identical to the synthetic closed form this SQL replays.
    "d175_phash_real_tag_stream" -> PhashTagStreamSql,
    // d176: the four-batch dedup-state replay. The oracle rebuilds the
    // engineered cohorts from the same bounds arithmetic and applies the
    // measured outcome per class (DedupLagSpec): all real events emit
    // (unique texts), D emits once at its original time, the advancer G
    // emits, and E re-emits at its resend time (state evicted a batch
    // earlier); dupD (state live across the boundary) and F (under the
    // lagged late filter) never appear.
    "d176_dedup_boundary_stream" ->
      """WITH b AS (SELECT min(epoch_ns(ts)) // 1000 AS mn,
             max(epoch_ns(ts)) // 1000 AS mx,
             (min(epoch_ns(ts)) // 1000
              + max(epoch_ns(ts)) // 1000) // 2 AS mid FROM events)
         SELECT event_id AS k, epoch_ns(ts) // 1000000 AS tms FROM events
         UNION ALL
         SELECT 3000000000 + i, mid // 1000 FROM range(60) t(i), b
         UNION ALL
         SELECT 4600000000 + i, (mx + 1200000000) // 1000
         FROM range(5) t(i), b
         UNION ALL
         SELECT 5000000000 + i, (mx + 1500000000) // 1000
         FROM range(30) t(i), b""",
    // d132: the banded candidate set (shared CTEs) re-verified by
    // levenshtein on the 1e-6 integer grid.
    "d132_edit_verified" ->
      s"""WITH $MinhashCandCtesSql,
         t AS (SELECT c.doc_a, c.doc_b,
             levenshtein(da.text, db.text) AS dist,
             greatest(length(da.text), length(db.text)) AS ml
           FROM cand c
           JOIN documents da ON da.doc_id = c.doc_a
           JOIN documents db ON db.doc_id = c.doc_b)
         SELECT doc_a, doc_b, CAST(dist AS INT) AS dist,
           CAST(dist AS BIGINT) * 1000000 // ml AS norm_micro
         FROM t
         WHERE ml > 0 AND CAST(dist AS BIGINT) * 1000000 // ml <= 300000""",
    // d134: per-source -p*ln(p) terms on the 1e-6 grid summed as longs;
    // evenness divides grid longs, CASE-guarded for the 1-source corpus.
    "d134_mixture_entropy" -> MixtureEntropySql,
    // d140: the streamed census feeds the SAME shared combine as batch,
    // so one oracle definition covers both paths by construction.
    "d140_entropy_stream" -> MixtureEntropySql,
    // d141: guarded c/n halves, mixture terms, jsd2 in exact longs — the
    // whole grid chain replayed over the two parity-half censuses.
    "d141_jensen_shannon" -> JensenShannonSql,
    // d142: the live census feeds the SAME shared combine as d141's
    // batch side, so one oracle definition covers both drift paths.
    "d142_drift_stream" -> JensenShannonSql,
    // d150: the catalog-exploded censuses feed the SAME combine as d141,
    // and the census column is an exact groupBy count by construction —
    // one oracle definition covers the catalog path too.
    "d150_catalog_drift" -> JensenShannonSql,
    // d151: the tagged-union census table filters back to exactly the
    // d143 per-side censuses — same combine, same oracle.
    "d151_catalog_edrift" -> EmbeddingDriftSql,
    // d144: endpoint-degree Pearson over the same symmetrized pair graph
    // as d126 — HUGEINT moments, signed grid division, zero floats.
    "d144_assortativity" ->
      s"""WITH pairs AS ($MinhashPairsSql),
         thr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM thr
                   UNION ALL SELECT doc_b, doc_a FROM thr),
         deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
           FROM edges GROUP BY src),
         ed AS (SELECT da.d AS du, db.d AS dv FROM edges e
           JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst),
         s AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(coalesce(sum(CAST(du AS HUGEINT)), 0) AS HUGEINT) AS sx,
             CAST(coalesce(sum(CAST(du AS HUGEINT) * dv), 0) AS HUGEINT) AS sxy,
             CAST(coalesce(sum(CAST(du AS HUGEINT) * du), 0) AS HUGEINT) AS sxx,
             CAST(coalesce(max(du), 0) AS BIGINT) AS max_degree
           FROM ed),
         n AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_nodes
           FROM edges),
         nd AS (SELECT n.n_nodes, s.m, s.max_degree,
             s.m * s.sxy - s.sx * s.sx AS num,
             s.m * s.sxx - s.sx * s.sx AS den
           FROM s CROSS JOIN n),
         sh AS (SELECT n_nodes, m, max_degree, num, den,
             CASE WHEN den > CAST('10000000000000000000000000000000' AS HUGEINT)
               THEN den // CAST('1000000000000000000000000000000' AS HUGEINT)
               ELSE CAST(1 AS HUGEINT) END AS shift
           FROM nd)
         SELECT n_nodes, m AS n_edges, max_degree,
           CASE WHEN den <= 0 THEN CAST(0 AS BIGINT)
             WHEN num >= 0
             THEN CAST((num // shift) * 1000000 // (den // shift) AS BIGINT)
             ELSE -CAST(((-num) // shift) * 1000000 // (den // shift) AS BIGINT)
           END AS r_micro
         FROM sh""",
    // d143: per-dim grid censuses of the two parity halves — signed mean
    // division (the d133 form), mean-square in HUGEINT, raw var terms.
    "d143_embedding_drift" -> EmbeddingDriftSql,
    // d145: the live per-dim census feeds the SAME shared combine as
    // d143's batch side, so one oracle definition covers both paths.
    "d145_edrift_stream" -> EmbeddingDriftSql,
    // d135: the synchronous majority-vote recurrence unrolled 3 rounds
    // over the same symmetrized pair graph as d126 — per-round (node,
    // label) count + (count desc, label asc) argmax, no-in-edge nodes
    // keep their label.
    "d135_communities" ->
      s"""WITH $LpaCtesSql
         SELECT id AS doc_id, CAST(lab AS BIGINT) AS community FROM l3""",
    // d139: the d135 vote chain (shared CTEs — proposal and score cannot
    // drift) scored by Newman modularity: per-community add/sub terms
    // floor-divided SEPARATELY on non-negative values (so `//` == Spark's
    // truncating div), expectation term in HUGEINT (D² exceeds BIGINT at
    // web scale), exact long subtraction at the end.
    "d139_modularity" ->
      s"""WITH $LpaCtesSql,
         e AS (SELECT DISTINCT least(doc_a, doc_b) AS a,
             greatest(doc_a, doc_b) AS b FROM thr WHERE doc_a != doc_b),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         wc AS (SELECT e.a, e.b, coalesce(ca.lab, e.a) AS ca,
             coalesce(cb.lab, e.b) AS cb
           FROM e LEFT JOIN l3 ca ON ca.id = e.a
           LEFT JOIN l3 cb ON cb.id = e.b),
         intra AS (SELECT ca AS c, CAST(count(*) AS BIGINT) AS lc
           FROM wc WHERE ca = cb GROUP BY 1),
         dg AS (SELECT c, CAST(count(*) AS BIGINT) AS dc FROM
           (SELECT ca AS c FROM wc UNION ALL SELECT cb FROM wc) GROUP BY 1),
         terms AS (SELECT dg.c, coalesce(intra.lc, 0) AS lc,
             CAST(coalesce(intra.lc, 0) * 1000000 AS BIGINT) // m AS add_micro,
             CAST((CAST(dc AS HUGEINT) * dc * 1000000)
               // (CAST(4 AS HUGEINT) * m * m) AS BIGINT) AS sub_micro
           FROM dg LEFT JOIN intra ON intra.c = dg.c CROSS JOIN mm),
         tm AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
             CAST(coalesce(sum(lc), 0) AS BIGINT) AS intra_edges,
             CAST(coalesce(sum(add_micro), 0) - coalesce(sum(sub_micro), 0)
               AS BIGINT) AS q_micro
           FROM terms),
         nn AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS n_nodes FROM
           (SELECT a AS x FROM e UNION ALL SELECT b FROM e))
         SELECT n_nodes, m AS n_edges, n_communities, intra_edges, q_micro
         FROM tm CROSS JOIN nn CROSS JOIN mm""",
    // d133: Kendall pair census over the intersection of the d127 lists;
    // signed division computed as sign * (|C-D| // (C+D)) because floor
    // and truncate disagree on negative dividends.
    "d133_rank_agreement" ->
      s"""WITH $Bm25MicroCtesSql,
         lex AS (SELECT doc_id, rk FROM (SELECT doc_id,
             row_number() OVER (ORDER BY micro DESC, doc_id) AS rk FROM bm)
           WHERE rk <= 20),
         sem AS (SELECT doc_id, rank FROM (
             SELECT c.vec_id AS doc_id, row_number() OVER (ORDER BY
                 list_cosine_similarity(q.embedding::DOUBLE[],
                   c.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rank
             FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
             WHERE q.vec_id = 0)
           WHERE rank <= 20),
         j AS (SELECT l.doc_id, l.rk AS ra, s.rank AS rb
           FROM lex l JOIN sem s ON l.doc_id = s.doc_id),
         p AS (SELECT (x.ra - y.ra) * (x.rb - y.rb) AS prod
           FROM j x JOIN j y ON x.doc_id < y.doc_id),
         cd AS (SELECT
             CAST(coalesce(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS concordant,
             CAST(coalesce(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS discordant FROM p),
         nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM j)
         SELECT n_common, concordant, discordant,
           CASE WHEN concordant + discordant = 0 THEN CAST(0 AS BIGINT)
             WHEN concordant >= discordant
               THEN CAST((concordant - discordant) * 1000000 AS BIGINT)
                 // (concordant + discordant)
             ELSE -(CAST((discordant - concordant) * 1000000 AS BIGINT)
                 // (concordant + discordant)) END AS tau_micro
         FROM cd CROSS JOIN nc""",
    // d126/d130: the integer-grid PageRank recurrence unrolled 3
    // iterations over the d05/d12 near-dup pair graph (jaccard >= 0.5,
    // symmetrized; d130 splits mass by micro-jaccard edge weight). Every
    // step is BIGINT floor division over non-negative values — identical
    // to Spark's truncating `div` — so no float drift exists to replay;
    // DuckDB's HUGEINT sums are cast back to BIGINT at each use.
    "d126_pagerank_dups" -> pageRankDupsSql(weighted = false),
    "d130_pagerank_weighted" -> pageRankDupsSql(weighted = true),
    // d137: the same 3-iteration integer recurrence with initial mass and
    // teleport restricted to the English-doc seed set (ns = |seed∩nodes|).
    "d137_pagerank_seeded" -> pageRankDupsSql(weighted = false, seeded = true),
    // d136: 3 unrolled peel rounds — restrict edges to surviving
    // endpoints, recount degrees, keep >= k — over the same symmetrized
    // pair graph; output = round-3 degrees still >= k.
    "d136_kcore" -> kCoreDupsSql(rounds = 3),
    // d148: the CONVERGED engine peel replayed as the 8-round unroll —
    // exact whether the peel stabilizes early (later rounds are identity
    // on a fixpoint) or runs to the bound.
    "d148_kcore_converged" -> kCoreDupsSql(rounds = 8),
    // d147: the d135 vote chain with micro-jaccard weighted votes.
    "d147_communities_weighted" ->
      s"""WITH ${lpaCtes(rounds = 3, weighted = true)}
         SELECT id AS doc_id, CAST(lab AS BIGINT) AS community FROM l3""",
    // d149: the converged engine vote replayed as the 8-round unroll —
    // same fixpoint-identity argument as d148.
    "d149_lpa_converged" ->
      s"""WITH ${lpaCtes(rounds = 8)}
         SELECT id AS doc_id, CAST(lab AS BIGINT) AS community FROM l8""",
    // d152: the weighted d147 vote chain scored by WEIGHTED Newman
    // modularity — intra weight over total weight vs the strength-
    // squared expectation, every sum a long, both grid terms truncated
    // separately in HUGEINT (== Spark's decimal path bit-for-bit on
    // non-negatives).
    "d152_modularity_weighted" ->
      s"""WITH ${lpaCtes(rounds = 3, weighted = true)},
         e AS (SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b,
             CAST(sum(w) AS BIGINT) AS w
           FROM thr WHERE doc_a != doc_b GROUP BY 1, 2),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(coalesce(sum(w), 0) AS BIGINT) AS wt FROM e),
         wc AS (SELECT e.a, e.b, e.w, coalesce(ca.lab, e.a) AS ca,
             coalesce(cb.lab, e.b) AS cb
           FROM e LEFT JOIN l3 ca ON ca.id = e.a
           LEFT JOIN l3 cb ON cb.id = e.b),
         intra AS (SELECT ca AS c, CAST(count(*) AS BIGINT) AS lc,
             CAST(sum(w) AS BIGINT) AS lw
           FROM wc WHERE ca = cb GROUP BY 1),
         st AS (SELECT c, CAST(sum(w) AS BIGINT) AS sc FROM
           (SELECT ca AS c, w FROM wc UNION ALL SELECT cb, w FROM wc)
           GROUP BY 1),
         terms AS (SELECT st.c, coalesce(intra.lc, 0) AS lc,
             coalesce(intra.lw, 0) AS lw,
             CAST(CAST(coalesce(intra.lw, 0) AS HUGEINT) * 1000000
               // wt AS BIGINT) AS add_micro,
             CAST((CAST(sc AS HUGEINT) * sc * 1000000)
               // (CAST(4 AS HUGEINT) * wt * wt) AS BIGINT) AS sub_micro
           FROM st LEFT JOIN intra ON intra.c = st.c CROSS JOIN mm),
         tm AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
             CAST(coalesce(sum(lc), 0) AS BIGINT) AS intra_edges,
             CAST(coalesce(sum(lw), 0) AS BIGINT) AS intra_w,
             CAST(coalesce(sum(add_micro), 0) - coalesce(sum(sub_micro), 0)
               AS BIGINT) AS q_micro
           FROM terms),
         nn AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS n_nodes FROM
           (SELECT a AS x FROM e UNION ALL SELECT b FROM e))
         SELECT n_nodes, m AS n_edges, wt AS total_w, n_communities,
           intra_edges, intra_w, q_micro
         FROM tm CROSS JOIN nn CROSS JOIN mm""",
    // d146: the integer PageRank recurrence over the DIRECTED d131
    // containment graph with per-iteration dangling-mass redistribution:
    // dg = Σ rank of nodes with no out-edge, folded into the damped term
    // as dg // n — every step BIGINT floor-div on non-negatives, so
    // DuckDB's // replays Spark's div exactly.
    "d146_pagerank_dangling" -> {
      // r$t is read three times by round t+1 (dangle sum, contribs,
      // carry) — MATERIALIZED keeps the unroll linear (DuckDB-only hint)
      def iter(t: Int): String =
        s"""dg$t AS (SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dg
             FROM r${t - 1} r LEFT JOIN outs o ON o.id = r.id
             WHERE o.id IS NULL),
           s$t AS (SELECT e.dst AS id, CAST(sum(r.r // t.tw) AS BIGINT) AS s
             FROM edges e JOIN r${t - 1} r ON r.id = e.src
             JOIN tw t ON t.src = e.src GROUP BY e.dst),
           r$t AS MATERIALIZED (SELECT nodes.id,
               CAST(150000000 AS BIGINT) // nn.n
               + CAST(85 * (coalesce(s$t.s, 0) + dg$t.dg // nn.n)
                   AS BIGINT) // 100 AS r
             FROM nodes LEFT JOIN s$t ON s$t.id = nodes.id
             CROSS JOIN dg$t CROSS JOIN nn)"""
      s"""WITH $ShingleCtesSql,
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS ni
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id != b.doc_id
           GROUP BY 1, 2),
         cont AS (SELECT doc_a, doc_b FROM (
             SELECT i.doc_a, i.doc_b,
               round(CAST(ni AS DOUBLE) / na.n, 6) AS containment
             FROM inter i JOIN sizes na ON na.doc_id = i.doc_a)
           WHERE containment >= 0.6),
         edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cont
           WHERE doc_a < doc_b),
         nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges
                   UNION ALL SELECT dst FROM edges)),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         tw AS (SELECT src, CAST(count(*) AS BIGINT) AS tw
           FROM edges GROUP BY src),
         outs AS (SELECT DISTINCT src AS id FROM edges),
         r0 AS (SELECT id, CAST(1000000000 AS BIGINT) // nn.n AS r
           FROM nodes CROSS JOIN nn),
         ${iter(1)}, ${iter(2)}, ${iter(3)}
         SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_ppb FROM r3"""
    },
    // d138: the three entropies on the shared per-cell 1e-6 grid — joint
    // census once, marginals re-aggregated from it — combined in BIGINT.
    "d138_mutual_information" ->
      """WITH j AS (SELECT lang AS a, source AS b,
             CAST(count(*) AS BIGINT) AS c
           FROM documents GROUP BY 1, 2),
         t AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS cells FROM j),
         ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS c FROM j GROUP BY a),
         mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS c FROM j GROUP BY b),
         ha AS (SELECT CAST(coalesce(sum(CAST(round(-(CAST(c AS DOUBLE) / n)
               * ln(CAST(c AS DOUBLE) / n) * 1e6, 0) AS BIGINT)), 0)
             AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS k
           FROM ma CROSS JOIN t),
         hb AS (SELECT CAST(coalesce(sum(CAST(round(-(CAST(c AS DOUBLE) / n)
               * ln(CAST(c AS DOUBLE) / n) * 1e6, 0) AS BIGINT)), 0)
             AS BIGINT) AS h, CAST(count(*) AS BIGINT) AS k
           FROM mb CROSS JOIN t),
         hj AS (SELECT CAST(coalesce(sum(CAST(round(-(CAST(c AS DOUBLE) / n)
               * ln(CAST(c AS DOUBLE) / n) * 1e6, 0) AS BIGINT)), 0)
             AS BIGINT) AS h
           FROM j CROSS JOIN t)
         SELECT t.n AS n_rows, ha.k AS n_a, hb.k AS n_b, t.cells AS n_cells,
           ha.h AS h_a_micro, hb.h AS h_b_micro, hj.h AS h_ab_micro,
           ha.h + hb.h - hj.h AS mi_micro,
           CASE WHEN least(ha.h, hb.h) <= 0
               OR ha.h + hb.h - hj.h <= 0 THEN CAST(0 AS BIGINT)
             ELSE (ha.h + hb.h - hj.h) * 1000000 // least(ha.h, hb.h)
             END AS nmi_micro
         FROM ha CROSS JOIN hb CROSS JOIN hj CROSS JOIN t""",
    "d22_jaccard_join" -> JaccardPairsSql,
    // d103: both sides of the audit replayed — the exact >= 0.8 pair set
    // (d22's CTE chain) and the banded candidates verified at the same
    // threshold (d05's chain) — then the intersection counts. DuckDB
    // scopes each side's CTEs inside its own nested WITH.
    "d103_lsh_recall" ->
      s"""WITH ex AS ($JaccardPairsSql),
         lshp AS ($MinhashPairsSql),
         lsh AS (SELECT doc_a, doc_b FROM lshp WHERE jaccard >= 0.8),
         hit AS (SELECT e.doc_a, e.doc_b FROM ex e
           JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
         SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           CASE WHEN (SELECT count(*) FROM ex) = 0 THEN 1.0
                ELSE round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                       / (SELECT count(*) FROM ex), 6) END AS recall""",
    // d102: census -> cnt^(1/T) masses -> normalized shares -> N_out ->
    // grid-rounded rates -> md5 keep, replayed with the same pow.
    "d102_temperature_mix" ->
      """WITH census AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt
           FROM documents WHERE lang IS NOT NULL GROUP BY lang),
         mass AS (SELECT lang, cnt,
             CAST(round(pow(cnt, 0.5) * 1e6, 0) AS BIGINT) AS mg FROM census),
         s AS (SELECT CAST(sum(mg) AS BIGINT) AS msumg FROM mass),
         q AS (SELECT lang, cnt,
             CAST(mg AS DOUBLE) / CAST(msumg AS DOUBLE) AS q
           FROM mass CROSS JOIN s),
         nout AS (SELECT min(cnt / q) AS n FROM q),
         rates AS (SELECT lang, round(q * n / cnt, 6) AS rate
           FROM q CROSS JOIN nout)
         SELECT d.doc_id, d.lang, r.rate
         FROM documents d JOIN rates r USING (lang)
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           < round(r.rate * 4294967296.0)""",
    "d14_clean_corpus" ->
      s"""WITH RECURSIVE pairs AS ($MinhashPairsSql),
         thr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM thr
                   UNION ALL SELECT doc_b, doc_a FROM thr),
         reach(id, lab) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT DISTINCT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
         cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
         ex AS (SELECT doc_id, text,
             min(doc_id) OVER (PARTITION BY md5(lower(text))) AS exact_canon
           FROM documents)
         SELECT ex.doc_id,
           CASE WHEN (CAST(len(list_filter(string_split(lower(text), ' '),
             t -> t IN ('the','a','an','of','and','to','in','is','it','for','on','with'))) AS DOUBLE)
             / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) >= 0.08
             THEN 'en' ELSE 'und' END AS lang_pred,
           $QualitySql AS quality
         FROM ex LEFT JOIN cc ON cc.id = ex.doc_id
         WHERE ex.doc_id = ex.exact_canon
           AND (cc.cluster IS NULL OR cc.cluster = ex.doc_id)
           AND $QualitySql >= 0.3""",
    "d13_winnow" ->
      """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         hs AS (SELECT doc_id, list_transform(range(0, len(w) - 2),
             i -> CAST(('0x' || substr(md5(array_to_string(w[i+1:i+3], ' ')), 1, 15)) AS BIGINT)) AS h
           FROM words WHERE len(w) >= 3),
         wins AS (SELECT doc_id, list_distinct(list_transform(
             range(0, greatest(len(h) - 4, 0) + 1),
             i -> list_min(h[i+1:i+least(4, len(h))]))) AS fps FROM hs)
         SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
           CAST(list_min(fps) AS BIGINT) AS min_fp,
           CAST(list_max(fps) AS BIGINT) AS max_fp
         FROM wins""",
    "d12_dedup_clusters" -> DedupClustersSql,
    // d109: connected components are algorithm-independent — the star-
    // contraction result must hash-match the exact transitive closure the
    // min-label d12 row is gated on, so the SAME oracle serves both.
    "d109_dedup_clusters_star" -> DedupClustersSql,
    // d153: Gini of the component sizes via the size-histogram identity
    // (ties make rank assignment irrelevant, so Σi·x collapses onto
    // (v, c_v, C_v) rows) — HUGEINT sums, exact even-product halving,
    // one floor division at the end (== Spark's truncating div on
    // non-negatives; 2Σi·x ≥ (n+1)Σx by Chebyshev).
    "d153_dup_concentration" -> DupConcentrationSql,
    // d154 (catalog path): the catalog row stores the size histogram
    // LOSSLESSLY, so the catalog-answered profile is the same pure
    // function of the edge set — one oracle serves both. d155 (stream
    // twin): the streamed census counts the same clusters; shared
    // combine, same oracle.
    "d154_catalog_dup_concentration" -> DupConcentrationSql,
    "d155_dup_concentration_stream" -> DupConcentrationSql,
    "d06_simhash" -> SimhashSql,
    "d20_simhash_dup" -> simhashDupSqlFor(SimhashSql, 4, 8, 3),
    "d07_knn" ->
      """SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10)
         WHERE rank <= 5""",
    // d116: the d07 replay split by label side — positives rank within
    // same-label candidates, hard negatives within different-label ones.
    // Null-label rows are dropped from BOTH sides, stating the operator's
    // documented convention in the oracle too (a bare CASE WHEN label =
    // label would silently classify null-label rows as negatives, which
    // the Spark side's null-comparison semantics never would).
    "d116_contrastive_pairs" ->
      """SELECT anchor_id, cand_id, is_pos, CAST(rank AS INT) AS rank FROM (
           SELECT q.vec_id AS anchor_id, c.vec_id AS cand_id,
             CAST(CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS INT) AS is_pos,
             row_number() OVER (PARTITION BY q.vec_id, (c.label = q.label)
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM (SELECT * FROM embeddings WHERE label IS NOT NULL) q
           JOIN (SELECT * FROM embeddings WHERE label IS NOT NULL) c
             ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10)
         WHERE (is_pos = 1 AND rank <= 2) OR (is_pos = 0 AND rank <= 3)""",
    // d119: the d15 assignment/probe CTEs feeding the d116 label split —
    // candidates restricted to the anchors' 2 probed cells.
    "d119_contrastive_ivf" -> ContrastiveIvfSql,
    // d123: the d116 exact pair set vs the d119 routed pair set — one
    // audit row (the d103 shape) over the two CTE stacks.
    "d123_contrastive_ivf_recall" -> ContrastiveIvfRecallSql,
    "d08_vec_dup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label
         FROM embeddings a
         JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""",
    "d09_binary_meta" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         upper(substr(hex(encode(text)), 1, 16)) AS head_hex
         FROM documents""",
    "d17_repetition" ->
      s"SELECT doc_id, $RepetitionSql AS rep_ratio FROM documents",
    "d19_clean_corpus_v2" ->
      s"""WITH RECURSIVE pairs AS ($MinhashPairsSql),
         thr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM thr
                   UNION ALL SELECT doc_b, doc_a FROM thr),
         reach(id, lab) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT DISTINCT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
         cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
         ex AS (SELECT doc_id, text,
             min(doc_id) OVER (PARTITION BY md5(lower(text))) AS exact_canon
           FROM documents)
         SELECT ex.doc_id,
           $LangIdCaseSql AS lang_pred,
           $QualitySql AS quality,
           $RepetitionSql AS rep_ratio
         FROM ex LEFT JOIN cc ON cc.id = ex.doc_id
         WHERE ex.doc_id = ex.exact_canon
           AND (cc.cluster IS NULL OR cc.cluster = ex.doc_id)
           AND $QualitySql >= 0.3
           AND $RepetitionSql <= 0.05""",
    "d18_vec_dup_lsh" ->
      """WITH planes AS (SELECT p, d,
           (CAST(('0x' || substr(md5(p || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(16) t1(p) CROSS JOIN range(64) t2(d)),
         pl AS (SELECT p, list(v ORDER BY d) AS pv FROM planes GROUP BY p),
         bits AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.pv) >= 0
               THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bits
           FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id),
         bnd AS (SELECT vec_id, b AS band, (bits >> CAST(b * 4 AS INT)) & 15 AS bkey
           FROM bits CROSS JOIN range(4) t(b)),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM bnd a JOIN bnd b ON a.band = b.band AND a.bkey = b.bkey
             AND a.vec_id < b.vec_id)
         SELECT c.id_a, c.id_b
         FROM cand c
         JOIN embeddings x ON x.vec_id = c.id_a
         JOIN embeddings y ON y.vec_id = c.id_b
         WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.4""",
    "d21_simhash64_dup" -> simhashDupSqlFor(Simhash64Sql, 4, 16, 3),
    // d104: exact all-pairs hamming join vs the banded candidates — the
    // pigeonhole theorem says the three counts coincide and recall = 1.0;
    // the oracle proves the implementation honors it on this corpus.
    "d104_simhash_recall" ->
      s"""WITH shs AS ($SimhashSql),
         ex AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM shs a JOIN shs b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         band AS (SELECT id_a, id_b FROM (${simhashDupSqlFor(SimhashSql, 4, 8, 3)}) t),
         hit AS (SELECT e.id_a, e.id_b FROM ex e
           JOIN band b ON e.id_a = b.id_a AND e.id_b = b.id_b)
         SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM band) AS BIGINT) AS n_band,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           CASE WHEN (SELECT count(*) FROM ex) = 0 THEN 1.0
                ELSE round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                       / (SELECT count(*) FROM ex), 6) END AS recall""",
    "d31_vec_dup_across" ->
      """WITH planes AS (SELECT p, d,
           (CAST(('0x' || substr(md5(p || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(16) t1(p) CROSS JOIN range(64) t2(d)),
         pl AS (SELECT p, list(v ORDER BY d) AS pv FROM planes GROUP BY p),
         bits AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.pv) >= 0
               THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bits
           FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id),
         bnd AS (SELECT vec_id, b AS band, (bits >> CAST(b * 4 AS INT)) & 15 AS bkey
           FROM bits CROSS JOIN range(4) t(b)),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM bnd a JOIN bnd b ON a.band = b.band AND a.bkey = b.bkey
           WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 != 0)
         SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 4) AS cos
         FROM cand c
         JOIN embeddings x ON x.vec_id = c.id_a
         JOIN embeddings y ON y.vec_id = c.id_b
         WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.4""",
    "d11_ann_lsh" ->
      """WITH planes AS (SELECT p, d,
           (CAST(('0x' || substr(md5(p || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(16) t1(p) CROSS JOIN range(64) t2(d)),
         pl AS (SELECT p, list(v ORDER BY d) AS pv FROM planes GROUP BY p),
         bits AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.pv) >= 0
               THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bits
           FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id),
         bnd AS (SELECT vec_id, b AS band, (bits >> CAST(b * 4 AS INT)) & 15 AS bkey
           FROM bits CROSS JOIN range(4) t(b)),
         cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
           FROM bnd qb JOIN bnd cb ON qb.band = cb.band AND qb.bkey = cb.bkey
           WHERE qb.vec_id < 10 AND qb.vec_id != cb.vec_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                        c.neighbor_id ASC) AS rank
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
         WHERE rank <= 5""",
    "d15_ann_ivf" ->
      """WITH cents AS (SELECT c, d,
           (CAST(('0x' || substr(md5('c' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(c) CROSS JOIN range(64) t2(d)),
         cv AS (SELECT c, list(v ORDER BY d) AS cvec FROM cents GROUP BY c),
         asn AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv) WHERE rn = 1),
         prb AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv WHERE e.vec_id < 10) WHERE rn <= 2),
         cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
           FROM prb p JOIN asn a ON a.cell = p.cell WHERE p.vec_id != a.vec_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                        c.neighbor_id ASC) AS rank
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
         WHERE rank <= 5""",
    // d57: the d15 assignment CTE feeding the d50 census/rate/md5-keep
    // replay, with uniform 1/8 targets over the 8 quantizer cells.
    "d57_cluster_mix" ->
      """WITH cents AS (SELECT c, d,
           (CAST(('0x' || substr(md5('c' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(c) CROSS JOIN range(64) t2(d)),
         cv AS (SELECT c, list(v ORDER BY d) AS cvec FROM cents GROUP BY c),
         asn AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv) WHERE rn = 1),
         census AS (SELECT cell, CAST(count(*) AS DOUBLE) AS cnt
           FROM asn GROUP BY cell),
         nout AS (SELECT min(cnt / 0.125) AS n FROM census),
         rates AS (SELECT cell, 0.125 * n / cnt AS rate
           FROM census CROSS JOIN nout)
         SELECT a.vec_id, CAST(a.cell AS INT) AS cell, round(r.rate, 6) AS rate
         FROM asn a JOIN rates r USING (cell)
         WHERE CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
           < round(r.rate * 4294967296.0)""",
    "d34_semdedup" ->
      """WITH cents AS (SELECT c, d,
           (CAST(('0x' || substr(md5('c' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(c) CROSS JOIN range(64) t2(d)),
         cv AS (SELECT c, list(v ORDER BY d) AS cvec FROM cents GROUP BY c),
         asn AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv) WHERE rn = 1),
         dup AS (SELECT DISTINCT a.vec_id
           FROM asn a JOIN asn b ON a.cell = b.cell AND b.vec_id < a.vec_id
           JOIN embeddings ea ON ea.vec_id = a.vec_id
           JOIN embeddings eb ON eb.vec_id = b.vec_id
           WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) >= 0.4)
         SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
           (d.vec_id IS NOT NULL) AS is_dup
         FROM asn a LEFT JOIN dup d ON d.vec_id = a.vec_id""",
    "d10_media_decode" ->
      """WITH b AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN '\xFF\xD8\xFF\xE0'::BLOB || encode(text)
           WHEN 1 THEN '\x89\x50\x4E\x47\x0D\x0A\x1A\x0A'::BLOB || encode(text)
           WHEN 2 THEN 'RIFF\x24\x00\x00\x00WAVE'::BLOB || encode(text)
           ELSE encode(text) END AS blob FROM documents),
         m AS (SELECT doc_id, CAST(octet_length(blob) AS BIGINT) AS n_bytes,
           hex(blob) AS hx, md5(hex(blob)) AS h FROM b),
         d AS (SELECT doc_id, n_bytes,
           CASE WHEN starts_with(hx, 'FFD8FF') THEN 'image/jpeg'
                WHEN starts_with(hx, '89504E47') THEN 'image/png'
                WHEN starts_with(hx, '474946383') THEN 'image/gif'
                WHEN starts_with(hx, '52494646') AND substr(hx, 17, 8) = '57415645' THEN 'audio/wav'
                WHEN substr(hx, 9, 8) = '66747970' THEN 'video/mp4'
                ELSE 'application/octet-stream' END AS content_type,
           CAST(16 + (CAST(('0x' || substr(h, 1, 7)) AS BIGINT) % 1905) AS INT) AS width,
           CAST(16 + (CAST(('0x' || substr(h, 8, 7)) AS BIGINT) % 1065) AS INT) AS height,
           CAST(1 + (CAST(('0x' || substr(h, 22, 1)) AS BIGINT) % 4) AS INT) AS channels,
           CAST(1 + (CAST(('0x' || substr(h, 15, 7)) AS BIGINT) % 300) AS INT) AS n_frames
           FROM m)
         SELECT doc_id, n_bytes, content_type, width, height, channels, n_frames,
           CAST(CASE WHEN width <= 512 AND height <= 512 THEN width
                WHEN width * 512 >= height * 512 THEN 512
                ELSE greatest(1, (width * 512) // height) END AS INT) AS out_w,
           CAST(CASE WHEN width <= 512 AND height <= 512 THEN height
                WHEN width * 512 >= height * 512 THEN greatest(1, (height * 512) // width)
                ELSE 512 END AS INT) AS out_h,
           CAST((n_frames + 29) // 30 AS BIGINT) AS n_sampled
         FROM d""",
    "d28_pii" -> PiiSql,
    // d40: the BPE merge fold replayed rank by rank — chr(1)/chr(2)
    // sentinels, one replace per merge, count = sentinels remaining.
    "d40_bpe_count" -> BpeCountSql,
    // d56: the same fold with the tokens EXTRACTED and mapped to ids —
    // code point for single chars, 0x110000 + first-producing merge rank
    // for merge outputs; both generated from the same Scala merges table.
    "d56_bpe_tokens" -> BpeTokensSql,
    // d58: adjacent-pair census after the same fold — per-word token
    // lists, lateral index pairing, group by the pair.
    "d58_bpe_pair_census" -> BpePairCensusSql,
    // d59: the churn statuses replayed with a full outer join on the same
    // md5-of-lowercase fingerprint.
    "d59_corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents
           WHERE doc_id % 7 <> 0),
         n AS (SELECT doc_id, md5(lower(
             CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END)) AS fp
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.fp IS NULL THEN 'added'
                WHEN n.fp IS NULL THEN 'removed'
                WHEN o.fp = n.fp THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""",
    // d42: the bench-side grams that also occur train-side, one row per
    // (bench doc, shared gram) — the d35 CTEs minus the rollup.
    "d42_contamination_stream" ->
      """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS sh FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 12),
             i -> array_to_string(w[i+1:i+13], ' '))) AS gt
           FROM words WHERE len(w) >= 13)),
         bg AS (SELECT doc_id, sh FROM g WHERE doc_id % 10 = 0),
         tset AS (SELECT DISTINCT sh FROM g WHERE doc_id % 10 != 0)
         SELECT doc_id, sh FROM bg WHERE sh IN (SELECT sh FROM tset)""",
    // d39: gram-bucketed span dedup replayed in full — injection, per-
    // position 60-bit gram hashes, first-keep rule (row_number over
    // (doc, pos) = the engine's min-struct), island merge at distance n.
    "d39_dup_spans" ->
      s"""WITH inj AS (SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN text || ' $PlantedSpan'
                  ELSE text END AS text
           FROM documents),
         words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM inj),
         g AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 12),
                 i -> struct_pack(pos := i,
                   sh := CAST(('0x' || substr(md5(array_to_string(w[i+1:i+13], ' ')), 1, 15)) AS BIGINT)))) AS u
           FROM words WHERE len(w) >= 13),
         gg AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM g),
         r AS (SELECT doc_id, pos,
             row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY sh) AS cnt FROM gg),
         d AS (SELECT doc_id, pos FROM r WHERE cnt > 1 AND rn > 1),
         i AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 13
                  THEN 0 ELSE 1 END AS brk FROM d),
         s AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run FROM i)
         SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
           CAST(max(pos) + 12 AS INT) AS span_end, count(*) AS n_grams
         FROM s GROUP BY doc_id, run""",
    // d45: d39's span CTEs, then the rebuild — token list with positions,
    // NOT EXISTS extent anti-join, ordered string_agg; untouched docs
    // hash their ORIGINAL text (no split/join round trip).
    "d45_excise_spans" ->
      s"""WITH inj AS (SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN text || ' $PlantedSpan'
                  ELSE text END AS text
           FROM documents),
         words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM inj),
         g AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 12),
                 i -> struct_pack(pos := i,
                   sh := CAST(('0x' || substr(md5(array_to_string(w[i+1:i+13], ' ')), 1, 15)) AS BIGINT)))) AS u
           FROM words WHERE len(w) >= 13),
         gg AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM g),
         r AS (SELECT doc_id, pos,
             row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY sh) AS cnt FROM gg),
         d AS (SELECT doc_id, pos FROM r WHERE cnt > 1 AND rn > 1),
         i AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 13
                  THEN 0 ELSE 1 END AS brk FROM d),
         s AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run FROM i),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 12 AS e
           FROM s GROUP BY doc_id, run),
         tok AS (SELECT doc_id, unnest(list_transform(range(0, len(string_split(text, ' '))),
                 i2 -> struct_pack(pos := i2, w := string_split(text, ' ')[i2+1]))) AS u
           FROM inj WHERE text IS NOT NULL),
         tw AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM tok),
         kept AS (SELECT t.doc_id, t.pos, t.w FROM tw t
           WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id
             AND t.pos BETWEEN sp.s AND sp.e)),
         agg AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(w, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY 1),
         orig AS (SELECT doc_id, text, len(string_split(text, ' ')) AS n_orig FROM inj),
         spd AS (SELECT DISTINCT doc_id FROM sp)
         SELECT o.doc_id,
           CASE WHEN spd.doc_id IS NULL THEN md5(o.text)
                ELSE md5(coalesce(a.clean_text, '')) END AS clean_md5,
           CAST(CASE WHEN spd.doc_id IS NULL THEN 0
                ELSE o.n_orig - coalesce(a.n_kept, 0) END AS BIGINT) AS n_removed
         FROM orig o LEFT JOIN spd USING (doc_id) LEFT JOIN agg a USING (doc_id)""",
    // d46: d45's excision CTEs build `clean`, then d41's chunk/pack CTEs
    // run over it — the whole dedup-then-pack pipeline replayed to the
    // packed payload md5.
    "d46_dedup_pack" ->
      s"""WITH inj AS (SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN text || ' $PlantedSpan'
                  ELSE text END AS text
           FROM documents),
         words0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM inj),
         g AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 12),
                 i -> struct_pack(pos := i,
                   sh := CAST(('0x' || substr(md5(array_to_string(w[i+1:i+13], ' ')), 1, 15)) AS BIGINT)))) AS u
           FROM words0 WHERE len(w) >= 13),
         gg AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM g),
         r AS (SELECT doc_id, pos,
             row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY sh) AS cnt FROM gg),
         d AS (SELECT doc_id, pos FROM r WHERE cnt > 1 AND rn > 1),
         i AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 13
                  THEN 0 ELSE 1 END AS brk FROM d),
         s0 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run FROM i),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 12 AS e
           FROM s0 GROUP BY doc_id, run),
         tok AS (SELECT doc_id, unnest(list_transform(range(0, len(string_split(text, ' '))),
                 i2 -> struct_pack(pos := i2, wd := string_split(text, ' ')[i2+1]))) AS u
           FROM inj WHERE text IS NOT NULL),
         tw AS (SELECT doc_id, u.pos AS pos, u.wd AS wd FROM tok),
         kept AS (SELECT t.doc_id, t.pos, t.wd FROM tw t
           WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id
             AND t.pos BETWEEN sp.s AND sp.e)),
         agg AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY 1),
         spd AS (SELECT DISTINCT doc_id FROM sp),
         clean AS (SELECT o.doc_id,
             CASE WHEN spd.doc_id IS NULL THEN o.text
                  ELSE coalesce(agg.clean_text, '') END AS text
           FROM inj o LEFT JOIN spd USING (doc_id) LEFT JOIN agg USING (doc_id)),
         w AS (SELECT doc_id, string_split(text, ' ') AS w FROM clean WHERE text IS NOT NULL),
         st AS (SELECT doc_id, w, unnest(list_filter(range(1, len(w) + 1, 32),
             stp -> stp = 1 OR stp + 8 <= len(w))) AS start FROM w),
         ch AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS bin_group,
             CAST(start AS INT) AS start,
             CAST(least(len(w) - start + 1, 40) AS INT) AS n_tokens,
             array_to_string(w[start:start+39], ' ') AS chunk_text FROM st),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY bin_group
               ORDER BY doc_id, start ROWS UNBOUNDED PRECEDING) AS cum FROM ch)
         SELECT bin_group, CAST((cum - n_tokens) // 96 AS INT) AS seq_idx,
           count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           string_agg(doc_id || ':' || start || ':' || n_tokens, ','
             ORDER BY doc_id, start) AS members,
           md5(string_agg(chunk_text, ' ' ORDER BY doc_id, start)) AS seq_md5
         FROM c GROUP BY bin_group, seq_idx""",
    // d38: batch replay of the streaming cleaner. One representative per
    // fingerprint (rn=1 — any representative yields the same text-derived
    // columns, exactly why the Spark side projects duplicate-invariantly),
    // gated by the same quality/repetition thresholds, redaction chain
    // replayed over the raw text.
    "d38_clean_stream" ->
      s"""WITH ex AS (SELECT doc_id, text, md5(lower(text)) AS fp_hex,
             row_number() OVER (PARTITION BY md5(lower(text))
               ORDER BY doc_id) AS rn
           FROM documents)
         SELECT fp_hex,
           $LangIdCaseSql AS lang_pred,
           $RepetitionSql AS rep_ratio,
           md5(${redactSqlOver("text")}) AS clean_md5
         FROM ex
         WHERE rn = 1 AND $QualitySql >= 0.3 AND $RepetitionSql <= 0.05""",
    // Hashed-feature replay of DSIR: same 60-bit md5 grams bucketed mod
    // 1024, add-one smoothed target/raw distributions, integer-grid terms.
    "d61_dsir_weights" ->
      s"""WITH $DsirCtesSql
         SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_feats,
           round(CAST(sum(CAST(round(f * lnr * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / 1000000, 6) AS logw
         FROM fc JOIN ratio ON fc.b = ratio.b GROUP BY doc_id""",
    // The stream tag's per-OCCURRENCE grid: each gram occurrence adds its
    // bucket's pre-rounded term (vs d61's per-bucket f*lnr rounding).
    "d79_dsir_tag_stream" ->
      s"""WITH $DsirCtesSql
         SELECT g.doc_id,
           round(CAST(sum(CAST(round(lnr * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / 1000000, 6) AS dsir_logw
         FROM g JOIN ratio ON g.b = ratio.b GROUP BY 1""",
    "d84_ivf_assign_stream" ->
      """WITH cents AS (SELECT c, d,
           (CAST(('0x' || substr(md5('c' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(c) CROSS JOIN range(64) t2(d)),
         cv AS (SELECT c, list(v ORDER BY d) AS cvec FROM cents GROUP BY c),
         asn AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv) WHERE rn = 1)
         SELECT vec_id, CAST(cell AS INT) AS cell FROM asn""",
    "d81_semantic_decon" ->
      """SELECT t.vec_id, count(*) AS bench_hits
         FROM embeddings t JOIN embeddings b
           ON b.vec_id < 20 AND t.vec_id >= 20
          AND list_cosine_similarity(t.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
         GROUP BY 1""",
    "d82_centroid_outliers" ->
      """WITH cent AS (SELECT label, d, avg(embedding[d+1]::DOUBLE) AS v
           FROM embeddings CROSS JOIN range(64) r(d) GROUP BY 1, 2),
         cv AS (SELECT label, list(v ORDER BY d) AS cvec FROM cent GROUP BY 1)
         SELECT e.vec_id, e.label FROM embeddings e JOIN cv USING (label)
         WHERE list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) < 0.0""",
    "d83_semantic_tag_stream" ->
      """SELECT t.vec_id,
           CAST(count(*) FILTER (WHERE
             list_cosine_similarity(t.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35) AS INT)
             AS bench_hits
         FROM embeddings t CROSS JOIN embeddings b
         WHERE b.vec_id < 20
         GROUP BY 1""",
    // d61 + the deterministic md5-Gumbel key and top-k cut.
    "d62_dsir_topk" ->
      s"""WITH $DsirCtesSql,
         d61 AS (SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_feats,
             round(CAST(sum(CAST(round(f * lnr * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000, 6) AS logw
           FROM fc JOIN ratio ON fc.b = ratio.b GROUP BY doc_id)
         SELECT doc_id, n_feats, logw,
           round(logw - ln(-ln(
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
               / 4294967296.0)), 6) AS key
         FROM d61 ORDER BY key DESC, doc_id LIMIT 100""",
    // Full replay of the stupid-backoff chain: train-split censuses at the
    // three gram orders (same 60-bit md5 keys), per-position key tuples,
    // the α-backoff CASE with identical operator association, and the
    // 1e-6 integer-grid term sum.
    "d60_backoff_logprob" ->
      """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         c1 AS (SELECT h, count(*) AS c FROM (
             SELECT CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
               SELECT unnest(w) AS gt FROM words WHERE doc_id % 10 != 0)) GROUP BY 1),
         c2 AS (SELECT h, count(*) AS c FROM (
             SELECT CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
               SELECT unnest(list_transform(range(0, len(w) - 1),
                 i -> array_to_string(w[i+1:i+2], ' '))) AS gt
               FROM words WHERE doc_id % 10 != 0 AND len(w) >= 2)) GROUP BY 1),
         c3 AS (SELECT h, count(*) AS c FROM (
             SELECT CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
               SELECT unnest(list_transform(range(0, len(w) - 2),
                 i -> array_to_string(w[i+1:i+3], ' '))) AS gt
               FROM words WHERE doc_id % 10 != 0 AND len(w) >= 3)) GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM c1),
         pos AS (SELECT doc_id,
             CAST(('0x' || substr(md5(array_to_string(w[i+1:i+3], ' ')), 1, 15)) AS BIGINT) AS h3,
             CAST(('0x' || substr(md5(array_to_string(w[i+1:i+2], ' ')), 1, 15)) AS BIGINT) AS h2a,
             CAST(('0x' || substr(md5(array_to_string(w[i+2:i+3], ' ')), 1, 15)) AS BIGINT) AS h2b,
             CAST(('0x' || substr(md5(w[i+2]), 1, 15)) AS BIGINT) AS h1a,
             CAST(('0x' || substr(md5(w[i+3]), 1, 15)) AS BIGINT) AS h1b
           FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
                 FROM words WHERE len(w) >= 3)),
         tf AS (SELECT doc_id, h3, h2a, h2b, h1a, h1b, count(*) AS tf
           FROM pos GROUP BY 1, 2, 3, 4, 5, 6),
         t AS (SELECT DISTINCT h3, h2a, h2b, h1a, h1b FROM tf),
         sc AS (SELECT t.h3, t.h2a, t.h2b, t.h1a, t.h1b, ln(
             CASE WHEN c3.c IS NOT NULL THEN CAST(c3.c AS DOUBLE) / c2a.c
                  ELSE 0.4 * (CASE WHEN c2b.c IS NOT NULL
                                   THEN CAST(c2b.c AS DOUBLE) / c1a.c
                                   ELSE 0.4 * (coalesce(c1b.c, 0) + 1) / (tot.n + tot.v)
                              END)
             END) AS lns
           FROM t LEFT JOIN c3 ON t.h3 = c3.h
           LEFT JOIN c2 c2a ON t.h2a = c2a.h
           LEFT JOIN c2 c2b ON t.h2b = c2b.h
           LEFT JOIN c1 c1a ON t.h1a = c1a.h
           LEFT JOIN c1 c1b ON t.h1b = c1b.h
           CROSS JOIN tot)
         SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_grams,
           round(CAST(sum(CAST(round(tf.tf * sc.lns * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / 1000000 / sum(tf.tf), 6) AS logprob
         FROM tf JOIN sc ON tf.h3 = sc.h3 AND tf.h2a = sc.h2a AND tf.h2b = sc.h2b
           AND tf.h1a = sc.h1a AND tf.h1b = sc.h1b
         GROUP BY tf.doc_id""",
    "d30_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT count(*) AS total, count(DISTINCT token) AS vocab FROM toks)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(CAST(sum(CAST(round(tf * ln((cnt + 1) / (total + vocab)) * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / 1000000 / sum(tf), 6) AS logprob
         FROM tf JOIN freq USING (token) CROSS JOIN tot
         GROUP BY doc_id""",
    // Closed-form replay of d29's header fields (see the query comment for
    // why closed-form is a sound oracle here). The formulas mirror the
    // encode arms: BMP 16+id%1900 x 16+id%1000 at 24 bpp; WAV rate
    // 8000+id%40000, 16-bit, 1+(id//2)%2 channels, id%50 sample frames.
    "d29_header_decode" ->
      """SELECT doc_id,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 1900
              ELSE 8000 + doc_id % 40000 END AS INT) AS width,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 1000
              ELSE 16 END AS INT) AS height,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 3
              ELSE 1 + (doc_id // 2) % 2 END AS INT) AS channels,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 1
              ELSE doc_id % 50 END AS INT) AS n_frames
         FROM documents""",
    // d47: Gopher metric replay — the stop-hit arms are GENERATED from the
    // same TextAnalysis.GopherStopwords table the engine folds over, so
    // the word list cannot drift between the two sides.
    "d47_gopher_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
             string_split(lower(text), ' ') AS toks FROM documents),
         m AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(CAST(list_sum(list_transform(string_split(text, ' '),
               w -> len(w))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS mean_word_len,
           round((CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
             + CAST(len(text) - len(replace(text, '...', '')) AS DOUBLE) / 3)
             / CAST(len(toks) AS DOUBLE), 6) AS symbol_ratio,
           round(CAST(len(list_filter(toks,
               w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE), 6) AS frac_alpha,
           CAST($GopherStopHitsSql AS BIGINT) AS n_stop_hits
           FROM t)
         SELECT doc_id, n_words, mean_word_len, symbol_ratio, frac_alpha,
           n_stop_hits,
           CAST(CASE WHEN n_words BETWEEN 30 AND 100000
             AND mean_word_len BETWEEN 3.0 AND 10.0
             AND symbol_ratio <= 0.1 AND frac_alpha >= 0.8
             AND n_stop_hits >= 1 THEN 1 ELSE 0 END AS INT) AS keep
         FROM m""",
    // d48: re-flow + line-rule replay. Slice bounds: DuckDB list slices are
    // 1-based inclusive, so toks[i*12+1 : i*12+12] is exactly Spark's
    // slice(toks, i*12+1, 12) (both clip at the end).
    "d48_line_clean" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         l AS (SELECT doc_id, list_transform(
             range(0, CAST(ceil(CAST(len(toks) AS DOUBLE) / 12) AS INT)),
             i -> array_to_string(toks[i*12+1 : i*12+12], ' ')) AS lines
           FROM t),
         k AS (SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
           list_filter(lines, ln ->
             len(string_split(lower(ln), ' ')) >= 12
             AND (list_contains(string_split(lower(ln), ' '), 'the')
               OR list_contains(string_split(lower(ln), ' '), 'a')
               OR list_contains(string_split(lower(ln), ' '), 'and')
               OR list_contains(string_split(lower(ln), ' '), 'of'))
             AND NOT (contains(lower(ln), 'javascript')
               OR contains(lower(ln), 'lorem ipsum')
               OR contains(lower(ln), '{'))) AS kept
           FROM l)
         SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
           coalesce(array_to_string(kept, chr(10)), '') AS cleaned
         FROM k""",
    // The same md5 plane literals, the same sqrt(3/k) scale, and the same
    // LEFT-TO-RIGHT fold (list_reduce) as the native dot kernel — the
    // projection replays bit for bit, then lands on the 1e-6 grid.
    "d71_jl_project" -> JlProjectSql,
    // d59's dump split + distinct 3-gram sets: novelty = share of the new
    // doc's grams absent from the whole old dump.
    "d74_gram_novelty" ->
      """WITH oldd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
         curd AS (SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 5 != 0),
         og AS (SELECT DISTINCT CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS sh FROM (
           SELECT unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT string_split(lower(text), ' ') AS w FROM oldd)
           WHERE len(w) >= 3)),
         cg AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS sh FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM curd)
           WHERE len(w) >= 3)),
         seen AS (SELECT doc_id, count(*) AS n_seen FROM cg
           WHERE sh IN (SELECT sh FROM og) GROUP BY 1),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY 1)
         SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(t.n_grams - coalesce(s.n_seen, 0) AS BIGINT) AS n_new,
           round(CAST(t.n_grams - coalesce(s.n_seen, 0) AS DOUBLE) / t.n_grams, 6) AS novelty
         FROM tot t LEFT JOIN seen s ON t.doc_id = s.doc_id""",
    // d86: the KMV sketch replayed literally — the k=256 smallest distinct
    // 3-gram hashes ARE "SELECT DISTINCT h ORDER BY h LIMIT k", and the
    // estimate is the same (k−1)·2^60/(h_k+1) double arithmetic.
    "d86_kmv_distinct" -> KmvDistinctSql,
    // d88: the identical replay against the STREAMED sketch — stream state
    // is the sketch itself (k longs), so batch and stream must agree to
    // the last hash.
    "d88_kmv_stream" -> KmvDistinctSql,
    // d110: the CMS replayed from first principles — bucket counts as a
    // (row, bucket) census over the same gram stream, estimates as the
    // same min-over-rows splice, byte-identical double-hash arithmetic.
    "d110_cms_freq" -> CmsFreqSql,
    // d111: the grouped CMS — per-source bucket census, per-source top-1
    // gram by (count desc, hash), same splice.
    "d111_cms_by_domain" -> CmsByDomainSql,
    // d112: the streamed sketch must equal the batch-assembled DENSE
    // array to the last bucket (zeros included), plus the item total.
    "d112_cms_stream" -> CmsStreamSql,
    // d117: the grouped replay — each source's streamed sketch equals its
    // batch-assembled dense array (zeros included) plus the item total.
    "d117_cms_domain_stream" -> CmsDomainStreamSql,
    // d118: the SIGNED inner-product splice replayed — the unbiased AMS
    // estimator on d113's sparse split, whole sketch hash-compared.
    "d118_countsketch_join_size" -> CountSketchJoinSizeSql,
    // d113: the inner-product splice replayed — two bucket censuses,
    // per-row product sums (missing rows count 0), min over rows, vs the
    // exact census equijoin.
    "d113_cms_join_size" -> CmsJoinSizeSql,
    // d87: the theta-splice replayed — per-dump bottom-256 sketches, union
    // re-trimmed to 256, membership-in-both as the Jaccard sample.
    "d87_kmv_overlap" ->
      """WITH oldd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
         curd AS (SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 5 != 0),
         og AS (SELECT DISTINCT CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT string_split(lower(text), ' ') AS w FROM oldd)
           WHERE len(w) >= 3)),
         cg AS (SELECT DISTINCT CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT string_split(lower(text), ' ') AS w FROM curd)
           WHERE len(w) >= 3)),
         ska AS (SELECT list(h ORDER BY h) AS a
           FROM (SELECT h FROM og ORDER BY h LIMIT 256)),
         skb AS (SELECT list(h ORDER BY h) AS b
           FROM (SELECT h FROM cg ORDER BY h LIMIT 256)),
         m AS (SELECT a, b,
             list_sort(list_distinct(list_concat(a, b)))[1:256] AS mg
           FROM ska, skb),
         sc AS (SELECT len(a) AS n_a, len(b) AS n_b, len(mg) AS n_union_sketch,
             len(list_intersect(list_intersect(mg, a), b)) AS matches,
             CASE WHEN len(mg) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(list_intersect(mg, a), b)) AS DOUBLE)
                       / CAST(len(mg) AS DOUBLE) END AS jaccard_est,
             CASE WHEN len(mg) < 256 THEN CAST(len(mg) AS DOUBLE)
                  ELSE 255 * 1152921504606846976.0 / (CAST(mg[256] AS DOUBLE) + 1.0)
             END AS union_est
           FROM m)
         SELECT n_a, n_b, n_union_sketch, matches, jaccard_est, union_est,
           jaccard_est * union_est AS inter_est
         FROM sc""",
    // d89: the Morton interleave replayed term-for-term (32 shift-mask-or
    // terms, generated once here and once in Spark from the same loop).
    "d89_zorder_key" -> ZOrderSql,
    // d93: codebooks regenerated from the md5 formula, per-subspace
    // argmin with ties to the smallest code, the identical left-fold L2.
    "d93_pq_encode" ->
      """WITH cw AS (SELECT j, c, d,
           (CAST(('0x' || substr(md5('p' || j || ':' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(j) CROSS JOIN range(16) t2(c) CROSS JOIN range(8) t3(d)),
         cwv AS (SELECT j, c, list(v ORDER BY d) AS w FROM cw GROUP BY j, c),
         sub AS (SELECT e.vec_id, t.j, (e.embedding::DOUBLE[])[t.j*8+1 : t.j*8+8] AS x
           FROM embeddings e CROSS JOIN range(8) t(j)),
         dst AS (SELECT s.vec_id, s.j, cv.c,
             list_reduce(list_transform(range(1, 9),
               i -> (s.x[i] - cv.w[i]) * (s.x[i] - cv.w[i])), (a, b) -> a + b) AS dist
           FROM sub s JOIN cwv cv ON cv.j = s.j),
         best AS (SELECT vec_id, j, c FROM (SELECT vec_id, j, c,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
           FROM dst) WHERE rn = 1)
         SELECT vec_id, array_to_string(list(c ORDER BY j), ',') AS codes_csv
         FROM best GROUP BY vec_id""",
    // d94: d93's encode CTEs + reconstruction + the same left-fold
    // distance and (distance, id) tie-break.
    "d94_pq_topk" ->
      """WITH cw AS (SELECT j, c, d,
           (CAST(('0x' || substr(md5('p' || j || ':' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(j) CROSS JOIN range(16) t2(c) CROSS JOIN range(8) t3(d)),
         cwv AS (SELECT j, c, list(v ORDER BY d) AS w FROM cw GROUP BY j, c),
         sub AS (SELECT e.vec_id, t.j, (e.embedding::DOUBLE[])[t.j*8+1 : t.j*8+8] AS x
           FROM embeddings e CROSS JOIN range(8) t(j)),
         dst AS (SELECT s.vec_id, s.j, cv.c,
             list_reduce(list_transform(range(1, 9),
               i -> (s.x[i] - cv.w[i]) * (s.x[i] - cv.w[i])), (a, b) -> a + b) AS dist
           FROM sub s JOIN cwv cv ON cv.j = s.j),
         best AS (SELECT vec_id, j, c FROM (SELECT vec_id, j, c,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
           FROM dst) WHERE rn = 1),
         recon AS (SELECT b.vec_id, flatten(list(cv.w ORDER BY b.j)) AS rv
           FROM best b JOIN cwv cv ON cv.j = b.j AND cv.c = b.c
           GROUP BY b.vec_id),
         qd AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, 65),
               i -> ((q.embedding::DOUBLE[])[i] - r.rv[i]) * ((q.embedding::DOUBLE[])[i] - r.rv[i])),
               (a, b) -> a + b) AS d
           FROM embeddings q JOIN recon r
             ON q.vec_id < 10 AND r.vec_id != q.vec_id),
         rk AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rk
           FROM qd)
         SELECT query_id, neighbor_id, rk FROM rk WHERE rk <= 5""",
    // d95: d15's asn/prb CTEs (candidates) spliced with d93/d94's
    // encode + reconstruction + left-fold ADC distance.
    "d95_ivfadc_topk" ->
      """WITH cents AS (SELECT c, d,
           (CAST(('0x' || substr(md5('c' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(c) CROSS JOIN range(64) t2(d)),
         cv AS (SELECT c, list(v ORDER BY d) AS cvec FROM cents GROUP BY c),
         asn AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv) WHERE rn = 1),
         prb AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv WHERE e.vec_id < 10) WHERE rn <= 2),
         cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
           FROM prb p JOIN asn a ON a.cell = p.cell WHERE p.vec_id != a.vec_id),
         cw AS (SELECT j, c, d,
           (CAST(('0x' || substr(md5('p' || j || ':' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(j) CROSS JOIN range(16) t2(c) CROSS JOIN range(8) t3(d)),
         cwv AS (SELECT j, c, list(v ORDER BY d) AS w FROM cw GROUP BY j, c),
         sub AS (SELECT e.vec_id, t.j, (e.embedding::DOUBLE[])[t.j*8+1 : t.j*8+8] AS x
           FROM embeddings e CROSS JOIN range(8) t(j)),
         dst AS (SELECT s.vec_id, s.j, cv2.c,
             list_reduce(list_transform(range(1, 9),
               i -> (s.x[i] - cv2.w[i]) * (s.x[i] - cv2.w[i])), (a, b) -> a + b) AS dist
           FROM sub s JOIN cwv cv2 ON cv2.j = s.j),
         best AS (SELECT vec_id, j, c FROM (SELECT vec_id, j, c,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
           FROM dst) WHERE rn = 1),
         recon AS (SELECT b.vec_id, flatten(list(cv2.w ORDER BY b.j)) AS rv
           FROM best b JOIN cwv cv2 ON cv2.j = b.j AND cv2.c = b.c
           GROUP BY b.vec_id),
         qd AS (SELECT cd.query_id, cd.neighbor_id,
             list_reduce(list_transform(range(1, 65),
               i -> ((q.embedding::DOUBLE[])[i] - r.rv[i]) * ((q.embedding::DOUBLE[])[i] - r.rv[i])),
               (a, b) -> a + b) AS d
           FROM cand cd
           JOIN embeddings q ON q.vec_id = cd.query_id
           JOIN recon r ON r.vec_id = cd.neighbor_id),
         rk AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rk
           FROM qd)
         SELECT query_id, neighbor_id, rk FROM rk WHERE rk <= 5""",
    // d96: d94's ADC CTEs as `approx` + d73's brute-force CTE + the
    // per-query intersection.
    "d96_pq_recall" ->
      """WITH cw AS (SELECT j, c, d,
           (CAST(('0x' || substr(md5('p' || j || ':' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(j) CROSS JOIN range(16) t2(c) CROSS JOIN range(8) t3(d)),
         cwv AS (SELECT j, c, list(v ORDER BY d) AS w FROM cw GROUP BY j, c),
         sub AS (SELECT e.vec_id, t.j, (e.embedding::DOUBLE[])[t.j*8+1 : t.j*8+8] AS x
           FROM embeddings e CROSS JOIN range(8) t(j)),
         dst AS (SELECT s.vec_id, s.j, cv2.c,
             list_reduce(list_transform(range(1, 9),
               i -> (s.x[i] - cv2.w[i]) * (s.x[i] - cv2.w[i])), (a, b) -> a + b) AS dist
           FROM sub s JOIN cwv cv2 ON cv2.j = s.j),
         best AS (SELECT vec_id, j, c FROM (SELECT vec_id, j, c,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
           FROM dst) WHERE rn = 1),
         recon AS (SELECT b.vec_id, flatten(list(cv2.w ORDER BY b.j)) AS rv
           FROM best b JOIN cwv cv2 ON cv2.j = b.j AND cv2.c = b.c
           GROUP BY b.vec_id),
         qd AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, 65),
               i -> ((q.embedding::DOUBLE[])[i] - r.rv[i]) * ((q.embedding::DOUBLE[])[i] - r.rv[i])),
               (a, b) -> a + b) AS d
           FROM embeddings q JOIN recon r
             ON q.vec_id < 10 AND r.vec_id != q.vec_id),
         approx AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rk
           FROM qd) WHERE rk <= 5),
         exact AS (SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10)
           WHERE rank <= 5),
         hits AS (SELECT e.query_id, count(*) AS n_hit FROM exact e
           JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT q.vec_id AS query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / 5.0, 6) AS recall
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         LEFT JOIN hits h ON q.vec_id = h.query_id""",
    // d100: the FULL trained-PQ chain replayed — md5-ordered init sample,
    // two unrolled Lloyd rounds (left-fold distances, lowest-c ties,
    // 1e-6-grid long-sum cell means, empty-cell carry-forward), then the
    // d96 ADC scan + recall splice against the trained codebook.
    "d100_pq_trained_recall" ->
      """WITH ids AS (SELECT vec_id, CAST(vec_id AS VARCHAR) AS sid,
             embedding::DOUBLE[] AS v FROM embeddings),
         sub AS (SELECT vec_id, sid, t.j, v[t.j*8+1 : t.j*8+8] AS x
           FROM ids CROSS JOIN range(8) t(j)),
         cb0 AS (SELECT j, rn - 1 AS c, x AS w FROM (
             SELECT j, x, row_number() OVER (PARTITION BY j
               ORDER BY CAST(('0x' || substr(md5(sid), 1, 8)) AS BIGINT), sid) AS rn
             FROM sub) WHERE rn <= 16),
         a1 AS (SELECT s.vec_id, s.j, cb.c,
             list_reduce(list_transform(range(1, 9),
               i -> (s.x[i] - cb.w[i]) * (s.x[i] - cb.w[i])), (a, b) -> a + b) AS dist
           FROM sub s JOIN cb0 cb ON cb.j = s.j),
         b1 AS (SELECT vec_id, j, c FROM (SELECT vec_id, j, c,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
           FROM a1) WHERE rn = 1),
         m1 AS (SELECT b.j, b.c, dd.d,
             CAST(sum(CAST(round(s.x[dd.d + 1] * 1e6, 0) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e6 AS v
           FROM b1 b JOIN sub s ON s.vec_id = b.vec_id AND s.j = b.j
           CROSS JOIN range(8) dd(d)
           GROUP BY b.j, b.c, dd.d),
         cb1 AS (SELECT c0.j, c0.c,
             CASE WHEN count(m.v) = 0 THEN c0.w
                  ELSE list(m.v ORDER BY m.d) END AS w
           FROM cb0 c0 LEFT JOIN m1 m ON m.j = c0.j AND m.c = c0.c
           GROUP BY c0.j, c0.c, c0.w),
         a2 AS (SELECT s.vec_id, s.j, cb.c,
             list_reduce(list_transform(range(1, 9),
               i -> (s.x[i] - cb.w[i]) * (s.x[i] - cb.w[i])), (a, b) -> a + b) AS dist
           FROM sub s JOIN cb1 cb ON cb.j = s.j),
         b2 AS (SELECT vec_id, j, c FROM (SELECT vec_id, j, c,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
           FROM a2) WHERE rn = 1),
         m2 AS (SELECT b.j, b.c, dd.d,
             CAST(sum(CAST(round(s.x[dd.d + 1] * 1e6, 0) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e6 AS v
           FROM b2 b JOIN sub s ON s.vec_id = b.vec_id AND s.j = b.j
           CROSS JOIN range(8) dd(d)
           GROUP BY b.j, b.c, dd.d),
         cb2 AS (SELECT c1.j, c1.c,
             CASE WHEN count(m.v) = 0 THEN c1.w
                  ELSE list(m.v ORDER BY m.d) END AS w
           FROM cb1 c1 LEFT JOIN m2 m ON m.j = c1.j AND m.c = c1.c
           GROUP BY c1.j, c1.c, c1.w),
         enc AS (SELECT vec_id, j, c FROM (SELECT s.vec_id, s.j, cb.c,
             row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
               list_reduce(list_transform(range(1, 9),
                 i -> (s.x[i] - cb.w[i]) * (s.x[i] - cb.w[i])), (a, b) -> a + b),
               cb.c) AS rn
           FROM sub s JOIN cb2 cb ON cb.j = s.j) WHERE rn = 1),
         recon AS (SELECT e.vec_id, flatten(list(cb.w ORDER BY e.j)) AS rv
           FROM enc e JOIN cb2 cb ON cb.j = e.j AND cb.c = e.c
           GROUP BY e.vec_id),
         qd AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, 65),
               i -> ((q.embedding::DOUBLE[])[i] - r.rv[i]) * ((q.embedding::DOUBLE[])[i] - r.rv[i])),
               (a, b) -> a + b) AS d
           FROM embeddings q JOIN recon r
             ON q.vec_id < 10 AND r.vec_id != q.vec_id),
         approx AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rk
           FROM qd) WHERE rk <= 5),
         exact AS (SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10)
           WHERE rank <= 5),
         hits AS (SELECT e.query_id, count(*) AS n_hit FROM exact e
           JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT q.vec_id AS query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / 5.0, 6) AS recall
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         LEFT JOIN hits h ON q.vec_id = h.query_id""",
    // d15's IVF CTEs + d07's brute-force CTE + the per-query intersection.
    "d73_ivf_recall" ->
      """WITH cents AS (SELECT c, d,
           (CAST(('0x' || substr(md5('c' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(c) CROSS JOIN range(64) t2(d)),
         cv AS (SELECT c, list(v ORDER BY d) AS cvec FROM cents GROUP BY c),
         asn AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv) WHERE rn = 1),
         prb AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv WHERE e.vec_id < 10) WHERE rn <= 2),
         cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
           FROM prb p JOIN asn a ON a.cell = p.cell WHERE p.vec_id != a.vec_id),
         approx AS (SELECT query_id, neighbor_id FROM (
           SELECT c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                        c.neighbor_id ASC) AS rank
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
           WHERE rank <= 5),
         exact AS (SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10)
           WHERE rank <= 5),
         hits AS (SELECT e.query_id, count(*) AS n_hit FROM exact e
           JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT q.vec_id AS query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / 5.0, 6) AS recall
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         LEFT JOIN hits h ON q.vec_id = h.query_id""",
    // d120: the FULL trained-IVF chain replayed — two unrolled Lloyd
    // rounds, then d73's probe/rank tail with the trained quantizer.
    "d120_ivf_trained_recall" -> IvfTrainedRecallSql,
    // d73 at the second operating point: nprobe=4 (prb rn <= 4).
    "d76_ivf_recall_np4" ->
      """WITH cents AS (SELECT c, d,
           (CAST(('0x' || substr(md5('c' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(c) CROSS JOIN range(64) t2(d)),
         cv AS (SELECT c, list(v ORDER BY d) AS cvec FROM cents GROUP BY c),
         asn AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv) WHERE rn = 1),
         prb AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv WHERE e.vec_id < 10) WHERE rn <= 4),
         cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
           FROM prb p JOIN asn a ON a.cell = p.cell WHERE p.vec_id != a.vec_id),
         approx AS (SELECT query_id, neighbor_id FROM (
           SELECT c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                        c.neighbor_id ASC) AS rank
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
           WHERE rank <= 5),
         exact AS (SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10)
           WHERE rank <= 5),
         hits AS (SELECT e.query_id, count(*) AS n_hit FROM exact e
           JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT q.vec_id AS query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / 5.0, 6) AS recall
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         LEFT JOIN hits h ON q.vec_id = h.query_id""",
    // d72 at the second operating point: rb=2 — 8 bands of 2 bits.
    "d77_ann_recall_wide" ->
      """WITH planes AS (SELECT p, d,
           (CAST(('0x' || substr(md5(p || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(16) t1(p) CROSS JOIN range(64) t2(d)),
         pl AS (SELECT p, list(v ORDER BY d) AS pv FROM planes GROUP BY p),
         bits AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.pv) >= 0
               THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bits
           FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id),
         bnd AS (SELECT vec_id, b AS band, (bits >> CAST(b * 2 AS INT)) & 3 AS bkey
           FROM bits CROSS JOIN range(8) t(b)),
         cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
           FROM bnd qb JOIN bnd cb ON qb.band = cb.band AND qb.bkey = cb.bkey
           WHERE qb.vec_id < 10 AND qb.vec_id != cb.vec_id),
         approx AS (SELECT query_id, neighbor_id FROM (
           SELECT c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                        c.neighbor_id ASC) AS rank
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
           WHERE rank <= 5),
         exact AS (SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10)
           WHERE rank <= 5),
         hits AS (SELECT e.query_id, count(*) AS n_hit FROM exact e
           JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT q.vec_id AS query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / 5.0, 6) AS recall
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         LEFT JOIN hits h ON q.vec_id = h.query_id""",
    // d11's LSH CTEs + d07's brute-force CTE + the per-query intersection.
    "d72_ann_recall" ->
      """WITH planes AS (SELECT p, d,
           (CAST(('0x' || substr(md5(p || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(16) t1(p) CROSS JOIN range(64) t2(d)),
         pl AS (SELECT p, list(v ORDER BY d) AS pv FROM planes GROUP BY p),
         bits AS (SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.pv) >= 0
               THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bits
           FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id),
         bnd AS (SELECT vec_id, b AS band, (bits >> CAST(b * 4 AS INT)) & 15 AS bkey
           FROM bits CROSS JOIN range(4) t(b)),
         cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
           FROM bnd qb JOIN bnd cb ON qb.band = cb.band AND qb.bkey = cb.bkey
           WHERE qb.vec_id < 10 AND qb.vec_id != cb.vec_id),
         approx AS (SELECT query_id, neighbor_id FROM (
           SELECT c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                        c.neighbor_id ASC) AS rank
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
           WHERE rank <= 5),
         exact AS (SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10)
           WHERE rank <= 5),
         hits AS (SELECT e.query_id, count(*) AS n_hit FROM exact e
           JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT q.vec_id AS query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / 5.0, 6) AS recall
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         LEFT JOIN hits h ON q.vec_id = h.query_id""",
    // d45's excise replay with the dup-detection CTE swapped for the
    // bench-gram semi join: every train hit excises (no first-keep).
    "d70_decontam_excise" ->
      """WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w
           FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(0, len(w) - 12),
                 i -> struct_pack(pos := i,
                   sh := CAST(('0x' || substr(md5(array_to_string(w[i+1:i+13], ' ')), 1, 15)) AS BIGINT)))) AS u
           FROM words WHERE len(w) >= 13),
         gg AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM g),
         hits AS (SELECT doc_id, pos FROM gg WHERE doc_id % 10 != 0
           AND sh IN (SELECT DISTINCT sh FROM gg WHERE doc_id % 10 = 0)),
         i AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 13
                  THEN 0 ELSE 1 END AS brk FROM hits),
         s AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run FROM i),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 12 AS e
           FROM s GROUP BY doc_id, run),
         tok AS (SELECT doc_id, unnest(list_transform(range(0, len(string_split(text, ' '))),
                 i2 -> struct_pack(pos := i2, w := string_split(text, ' ')[i2+1]))) AS u
           FROM documents WHERE doc_id % 10 != 0 AND text IS NOT NULL),
         tw AS (SELECT doc_id, u.pos AS pos, u.w AS w FROM tok),
         kept AS (SELECT t.doc_id, t.pos, t.w FROM tw t
           WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id
             AND t.pos BETWEEN sp.s AND sp.e)),
         agg AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(w, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY 1),
         orig AS (SELECT doc_id, text, len(string_split(text, ' ')) AS n_orig
           FROM documents WHERE doc_id % 10 != 0),
         spd AS (SELECT DISTINCT doc_id FROM sp)
         SELECT o.doc_id,
           CAST(CASE WHEN spd.doc_id IS NULL THEN 0
                ELSE o.n_orig - coalesce(a.n_kept, 0) END AS BIGINT) AS n_removed,
           CASE WHEN spd.doc_id IS NULL THEN md5(o.text)
                ELSE md5(coalesce(a.clean_text, '')) END AS clean_md5
         FROM orig o LEFT JOIN spd USING (doc_id) LEFT JOIN agg a USING (doc_id)""",
    // Recomposes the d47 gopher gate, the d01 quality formula, the d16
    // lang argmax and the d67 entropy identity into one audit row; means
    // ride grid-rounded long sums so partition order cannot move them.
    "d69_quality_audit" ->
      s"""WITH t AS (SELECT doc_id, text,
             string_split(lower(text), ' ') AS toks FROM documents),
         m AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(CAST(list_sum(list_transform(string_split(text, ' '),
               w -> len(w))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS mean_word_len,
           round((CAST(len(text) - len(replace(text, '#', '')) AS DOUBLE)
             + CAST(len(text) - len(replace(text, '...', '')) AS DOUBLE) / 3)
             / CAST(len(toks) AS DOUBLE), 6) AS symbol_ratio,
           round(CAST(len(list_filter(toks,
               w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE), 6) AS frac_alpha,
           CAST($GopherStopHitsSql AS BIGINT) AS n_stop_hits
           FROM t),
         chars AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         cc AS (SELECT doc_id, ch, count(*) AS c FROM chars
           WHERE ch <> '' GROUP BY 1, 2),
         ent AS (SELECT doc_id, round(ln(sum(c)) -
             CAST(sum(CAST(round(c * ln(c) * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000 / sum(c), 6) AS entropy
           FROM cc GROUP BY doc_id),
         per AS (SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
             $QualitySql AS q,
             $LangIdCaseSql AS lang,
             CASE WHEN m.n_words BETWEEN 30 AND 100000
               AND m.mean_word_len BETWEEN 3.0 AND 10.0
               AND m.symbol_ratio <= 0.1 AND m.frac_alpha >= 0.8
               AND m.n_stop_hits >= 1 THEN 1 ELSE 0 END AS gk,
             e.entropy AS ent
           FROM documents d JOIN m ON d.doc_id = m.doc_id
           LEFT JOIN ent e ON d.doc_id = e.doc_id)
         SELECT count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens,
           round(CAST(sum(CAST(round(q * 10000, 0) AS BIGINT)) AS DOUBLE)
             / 10000 / count(*), 4) AS mean_quality,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           CAST(sum(gk) AS BIGINT) AS n_gopher_pass,
           round(CAST(sum(CAST(round(ent * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / 1000000 / count(*), 6) AS mean_entropy
         FROM per""",
    "d68_top_ngrams" ->
      """WITH words AS (SELECT string_split(lower(text), ' ') AS w FROM documents),
         g AS (SELECT unnest(list_transform(range(0, len(w) - 1),
             i -> array_to_string(w[i+1:i+2], ' '))) AS gram
           FROM words WHERE len(w) >= 2)
         SELECT gram, count(*) AS cnt FROM g GROUP BY 1
         ORDER BY cnt DESC, gram LIMIT 50""",
    // H = ln n − (Σ c·ln c)/n over per-char counts, grid terms — the
    // same identity/rounding as the Spark agg.
    "d67_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         c AS (SELECT doc_id, ch, count(*) AS c FROM ch
           WHERE ch <> '' GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
           count(*) AS n_distinct,
           round(ln(sum(c)) -
             CAST(sum(CAST(round(c * ln(c) * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000 / sum(c), 6) AS entropy
         FROM c GROUP BY doc_id""",
    // d48's reflow + keep-first window rule + ordered rebuild: rn=1 over
    // (doc_id, pos) per paragraph md5 is exactly min(struct(doc, pos)).
    "d66_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         l AS (SELECT doc_id, list_transform(
             range(0, CAST(ceil(CAST(len(toks) AS DOUBLE) / 12) AS INT)),
             i -> array_to_string(toks[i*12+1 : i*12+12], ' ')) AS lines
           FROM t),
         e AS (SELECT doc_id, i AS pos, lines[i+1] AS line FROM (
           SELECT doc_id, lines, unnest(range(0, len(lines))) AS i FROM l)),
         w AS (SELECT doc_id, pos, line, row_number() OVER (
             PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn FROM e),
         k AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text
           FROM w WHERE rn = 1 GROUP BY doc_id)
         SELECT l.doc_id, CAST(len(l.lines) AS BIGINT) AS n_lines,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           md5(coalesce(k.clean_text, '')) AS clean_md5
         FROM l LEFT JOIN k ON l.doc_id = k.doc_id""",
    // d49: d12's recursive-CTE components + the quality formula, canonical
    // elected per cluster by (quality DESC, doc_id ASC) — exactly the
    // engine's max_by(id, struct(q, -id)).
    "d49_cluster_canonical" ->
      s"""WITH RECURSIVE pairs AS ($MinhashPairsSql),
         thr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM thr
                   UNION ALL SELECT doc_b, doc_a FROM thr),
         reach(id, lab) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT DISTINCT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
         cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
         dq AS (SELECT doc_id, $QualitySql AS q FROM documents),
         canon AS (SELECT cc.cluster,
             first(dq.doc_id ORDER BY dq.q DESC, dq.doc_id ASC) AS canonical
           FROM dq JOIN cc ON cc.id = dq.doc_id GROUP BY cc.cluster)
         SELECT d.doc_id,
           CAST(COALESCE(cc.cluster, d.doc_id) AS BIGINT) AS cluster,
           CAST(CASE WHEN cc.cluster IS NULL OR d.doc_id = canon.canonical
             THEN 1 ELSE 0 END AS INT) AS keep
         FROM documents d
         LEFT JOIN cc ON cc.id = d.doc_id
         LEFT JOIN canon ON canon.cluster = cc.cluster""",
    // d50: census -> binding-domain min ratio -> per-domain rate -> md5
    // keep, operand order mirroring the engine exactly (tgt * nout / cnt;
    // round(rate * 2^32) half-up — both engines agree for positives).
    "d50_match_mix" ->
      s"""WITH census AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt
           FROM documents GROUP BY lang),
         t AS (SELECT lang, cnt,
             CAST($MatchMixTargetsSql AS DOUBLE) AS tgt FROM census),
         tt AS (SELECT * FROM t WHERE tgt IS NOT NULL),
         nout AS (SELECT min(cnt / tgt) AS n FROM tt),
         rates AS (SELECT lang, tgt * n / cnt AS rate
           FROM tt CROSS JOIN nout)
         SELECT d.doc_id, d.lang, round(r.rate, 6) AS rate
         FROM documents d JOIN rates r USING (lang)
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           < round(r.rate * 4294967296.0)""",
    // d51: the normalization chain replayed verbatim (lower -> ASCII punct
    // to space -> collapse runs -> trim), then d04's groupBy shape.
    "d51_norm_dedup" ->
      """WITH noisy AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN '  ' || upper(text) || ' !!! '
                ELSE text END AS text
           FROM documents)
         SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
             '[!-/:-@\[-`{-~]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc,
           CAST(count(*) AS BIGINT) AS n_copies
         FROM noisy GROUP BY 1""",
    // d52: plant -> reflow -> per-line doc frequency -> drop df>1 lines ->
    // rebuild in line order. The unnest is staged away from the join
    // (DuckDB binder bug — see d44/d45).
    "d52_boilerplate" ->
      s"""WITH planted AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN '$BoilerLine ' || text
                  ELSE text END AS text
           FROM documents),
         t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM planted),
         l AS (SELECT doc_id, list_transform(
             range(0, CAST(ceil(CAST(len(toks) AS DOUBLE) / 12) AS INT)),
             i -> array_to_string(toks[i*12+1 : i*12+12], ' ')) AS lines
           FROM t),
         e0 AS (SELECT doc_id, unnest(list_transform(range(0, len(lines)),
             p -> struct_pack(pos := p, ln := lines[p+1]))) AS u FROM l),
         e AS (SELECT doc_id, u.pos AS pos, u.ln AS ln FROM e0),
         cen AS (SELECT ln, count(DISTINCT doc_id) AS df FROM e GROUP BY ln),
         keptl AS (SELECT e.doc_id, e.pos, e.ln
           FROM e JOIN cen ON cen.ln = e.ln WHERE cen.df <= 1),
         agg AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(ln, chr(10) ORDER BY pos) AS ct FROM keptl GROUP BY 1)
         SELECT l.doc_id, CAST(len(l.lines) AS BIGINT) AS n_lines,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           md5(coalesce(a.ct, '')) AS clean_md5
         FROM l LEFT JOIN agg a USING (doc_id)""",
    // d53: the d04/d05/d12 fragments rolled into one report row.
    "d53_dedup_audit" ->
      s"""WITH RECURSIVE pairs AS ($MinhashPairsSql),
         thr AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM thr
                   UNION ALL SELECT doc_b, doc_a FROM thr),
         reach(id, lab) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT DISTINCT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
         cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
         fp AS (SELECT count(*) AS n_docs,
             count(DISTINCT md5(lower(text))) AS n_uniq FROM documents),
         pc AS (SELECT count(*) AS n_near_pairs FROM thr),
         cl AS (SELECT count(*) AS n_near_docs,
             count(DISTINCT cluster) AS n_clusters FROM cc)
         SELECT CAST(fp.n_docs AS BIGINT) AS n_docs,
           CAST(fp.n_uniq AS BIGINT) AS n_uniq,
           CAST(fp.n_docs - fp.n_uniq AS BIGINT) AS n_exact_dup_docs,
           CAST(pc.n_near_pairs AS BIGINT) AS n_near_pairs,
           CAST(cl.n_near_docs AS BIGINT) AS n_near_docs,
           CAST(cl.n_clusters AS BIGINT) AS n_clusters,
           CAST(cl.n_near_docs - cl.n_clusters AS BIGINT) AS n_near_removable
         FROM fp, pc, cl""",
    // d54: the same ordered fold (((bias + f1·w1) + f2·w2) + …) the
    // engine's aggregate() runs, weights generated from one table.
    "d54_classifier_score" ->
      s"""WITH m AS (SELECT doc_id, $ClassifierScoreSql AS score
           FROM documents)
         SELECT doc_id, score,
           CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS INT) AS keep
         FROM m""")

  /** d54 oracle score GENERATED from [[ClassifierWeights]] with the same
    * left-to-right summation order as the engine's aggregate fold.
    */
  private lazy val ClassifierScoreSql: String = {
    val toks = "string_split(lower(text), ' ')"
    val stopIn = graft.functions.TextAnalysis.EnStopwords
      .map(w => s"'$w'").mkString(",")
    val fs = Seq(
      s"least(CAST(len($toks) AS DOUBLE) / 100.0, 1.0)",
      s"""CAST(len(list_filter($toks, t -> t IN ($stopIn))) AS DOUBLE)
         | / CAST(len($toks) AS DOUBLE)""".stripMargin,
      s"""CAST(len(text) - len(regexp_replace(text,
         | '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
         | / CAST(len(text) AS DOUBLE)""".stripMargin,
      s"""CAST(len(list_filter($toks,
         | w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
         | / CAST(len($toks) AS DOUBLE)""".stripMargin)
    val dot = fs.zip(ClassifierWeights).foldLeft("(-2.0)") {
      case (acc, (f, w)) => s"($acc + ($f) * CAST($w AS DOUBLE))"
    }
    s"round(1.0 / (1.0 + exp(-$dot)), 6)"
  }

  /** d50 oracle CASE arms GENERATED from [[MatchMixTargets]]. */
  private lazy val MatchMixTargetsSql: String =
    "CASE lang " + MatchMixTargets.toSeq.sortBy(_._1)
      .map { case (d, s) => s"WHEN '$d' THEN $s" }.mkString(" ") + " END"

  /** d28 oracle GENERATED from the same [[TextAnalysis.PiiPatterns]] table
    * the engine applies — pattern text, replacement, and fold order cannot
    * drift between the two sides. DuckDB's RE2 and Spark's Java regex agree
    * on these patterns by construction (ASCII classes, \b, no lookaround /
    * backrefs — the RE2-compatibility claim PiiPatterns documents, which
    * this oracle is the executable check for). The injected suffixes must
    * mirror [[piiInjected]] exactly.
    */
  private def sqlQuote(s: String) = "'" + s.replace("'", "''") + "'"

  /** d40 oracle GENERATED from [[TextAnalysis.BpeMerges]] — the same
    * sentinel-wrap + rank-ordered replace fold the engine runs, so the
    * merges table cannot drift between the two sides. DuckDB `replace` is
    * left-to-right non-overlapping exactly like Spark's StringReplace.
    */
  private lazy val BpeCountSql: String = {
    def tok(t: String) = s"chr(1)||'$t'||chr(2)"
    val seeded =
      """regexp_replace(lower(text), '([^ ])', chr(1) || '\1' || chr(2), 'g')"""
    val merged = TextAnalysis.BpeMerges.foldLeft(seeded) { case (e, (a, b)) =>
      s"replace($e, ${tok(a)}||${tok(b)}, ${tok(a + b)})"
    }
    s"""SELECT doc_id,
         CAST(length(m) - length(replace(m, chr(1), '')) AS BIGINT) AS n_bpe,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
       FROM (SELECT doc_id, text, $merged AS m FROM documents)"""
  }

  /** d56 oracle — [[BpeCountSql]]'s fold with the sentinel-delimited tokens
    * extracted and mapped to ids exactly as
    * [[TextAnalysis.bpeTokenIds]] maps them: code point for single chars
    * (DuckDB `ascii` = Spark `ascii` = first code point), 0x110000 + rank
    * of the first merge producing the string otherwise. The CASE chain is
    * generated from the SAME first-wins LinkedHashMap walk, so the id
    * assignment cannot drift between the two sides.
    */
  private lazy val BpeTokensSql: String = {
    def tok(t: String) = s"chr(1)||'$t'||chr(2)"
    val seeded =
      """regexp_replace(lower(text), '([^ ])', chr(1) || '\1' || chr(2), 'g')"""
    val merged = TextAnalysis.BpeMerges.foldLeft(seeded) { case (e, (a, b)) =>
      s"replace($e, ${tok(a)}||${tok(b)}, ${tok(a + b)})"
    }
    val idByOut = scala.collection.mutable.LinkedHashMap[String, Int]()
    TextAnalysis.BpeMerges.zipWithIndex.foreach { case ((a, b), r) =>
      if (!idByOut.contains(a + b)) idByOut(a + b) = 0x110000 + r
    }
    val whens = idByOut.map { case (o, id) => s"WHEN '$o' THEN $id" }
      .mkString(" ")
    s"""WITH m AS (SELECT doc_id, $merged AS m FROM documents),
       t AS (SELECT doc_id, regexp_extract_all(m,
           chr(1) || '([^' || chr(2) || ']+)' || chr(2), 1) AS toks FROM m)
       SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe,
         array_to_string(list_transform(toks,
           x -> CAST(CASE WHEN length(x) = 1 THEN ascii(x)
                     ELSE CASE x $whens END END AS VARCHAR)), ',') AS ids_str
       FROM t"""
  }

  /** d58 oracle — the merge fold, then per-word sentinel-token extraction
    * and a lateral-index adjacent pairing (words never pair across the
    * space), grouped by the pair. Same generated `merged` expression as
    * [[BpeCountSql]]/[[BpeTokensSql]].
    */
  private lazy val BpePairCensusSql: String = {
    def tok(t: String) = s"chr(1)||'$t'||chr(2)"
    val seeded =
      """regexp_replace(lower(text), '([^ ])', chr(1) || '\1' || chr(2), 'g')"""
    val merged = TextAnalysis.BpeMerges.foldLeft(seeded) { case (e, (a, b)) =>
      s"replace($e, ${tok(a)}||${tok(b)}, ${tok(a + b)})"
    }
    s"""WITH m AS (SELECT $merged AS m FROM documents),
       w AS (SELECT unnest(string_split(m, ' ')) AS wd FROM m),
       t AS (SELECT regexp_extract_all(wd,
           chr(1) || '([^' || chr(2) || ']+)' || chr(2), 1) AS tk FROM w),
       p AS (SELECT unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS pr
         FROM t WHERE len(tk) >= 2)
       SELECT pr[1] AS left_tok, pr[2] AS right_tok, count(*) AS n
       FROM p GROUP BY 1, 2"""
  }

  /** The redaction regexp chain over an arbitrary SQL expression, generated
    * from the same [[TextAnalysis.PiiPatterns]] fold the engine applies
    * (shared by the d28 and d38 oracles).
    */
  private def redactSqlOver(expr: String): String =
    TextAnalysis.PiiPatterns.foldLeft(expr) { case (e, (_, p, r)) =>
      s"regexp_replace($e, ${sqlQuote(p)}, ${sqlQuote(r)}, 'g')"
    }

  private lazy val PiiSql: String = {
    def q(s: String) = sqlQuote(s)
    val counts = TextAnalysis.PiiPatterns.map { case (kind, p, _) =>
      s"CAST(len(regexp_extract_all(t, ${q(p)})) AS BIGINT) AS n_$kind"
    }.mkString(",\n           ")
    val redacted = redactSqlOver("t")
    s"""WITH inj AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 3 = 0 THEN ' contact bob.smith+x@example.com' ELSE '' END ||
           CASE WHEN doc_id % 5 = 0 THEN ' host 192.168.1.10 up' ELSE '' END ||
           CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567 now' ELSE '' END ||
           CASE WHEN doc_id % 11 = 0 THEN ' admin root@10.0.0.99.com here' ELSE '' END ||
           CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file' ELSE '' END AS t
         FROM documents)
       SELECT doc_id,
           $counts,
           md5($redacted) AS redacted_md5
         FROM inj"""
  }

  /** d35's gram CTEs + the deterministic Bloom replay (md5 base hash,
    * universal probe positions mod 2^20, 32-bit word payloads) — shared by
    * d78 (batch screen) and d85 (the same scan on a stream).
    */
  private lazy val ZOrderSql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((a >> $i) & 1) << ${2 * i})",
      s"(((b >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""WITH m AS (SELECT doc_id, doc_id % 65536 AS a,
           CAST(n_chars AS BIGINT) % 65536 AS b FROM documents)
       SELECT doc_id, ($terms) AS z FROM m"""
  }

  private lazy val KmvByDomainSql: String =
    """WITH g AS (SELECT DISTINCT source,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT source, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT source, string_split(lower(text), ' ') AS w FROM documents)
           WHERE len(w) >= 3)),
         rk AS (SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM g),
         sk AS (SELECT source, list(h ORDER BY h) AS sketch
           FROM rk WHERE rk <= 64 GROUP BY source)
         SELECT source, array_to_string(sketch, ',') AS sketch_csv,
           len(sketch) AS n_sketch,
           CASE WHEN len(sketch) < 64 THEN CAST(len(sketch) AS DOUBLE)
                ELSE 63 * 1152921504606846976.0 / (CAST(sketch[64] AS DOUBLE) + 1.0)
           END AS est_distinct
         FROM sk"""

  private lazy val KmvDistinctSql: String =
    """WITH g AS (SELECT DISTINCT CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)
           WHERE len(w) >= 3)),
         sk AS (SELECT list(h ORDER BY h) AS sketch
           FROM (SELECT h FROM g ORDER BY h LIMIT 256))
         SELECT array_to_string(sketch, ',') AS sketch_csv,
           len(sketch) AS n_sketch,
           CASE WHEN len(sketch) < 256 THEN CAST(len(sketch) AS DOUBLE)
                ELSE 255 * 1152921504606846976.0 / (CAST(sketch[256] AS DOUBLE) + 1.0)
           END AS est_distinct
         FROM sk"""

  /** The d114/d115 grouped quantile replay: per-(source, quality) census,
    * running count, integer-exact inverted-CDF picks — shared by the
    * batch operator and its streaming twin (finite replay, update-mode
    * final emission per domain).
    */
  private lazy val QuantilesByDomainSql: String =
    s"""WITH q AS (SELECT source, $QualitySql AS quality FROM documents),
         c AS (SELECT source, quality AS v, CAST(count(*) AS BIGINT) AS c
           FROM q WHERE source IS NOT NULL AND quality IS NOT NULL
           GROUP BY 1, 2),
         cum AS (SELECT source, v, c,
             SUM(c) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY source) AS n
           FROM c)
         SELECT source, CAST(max(cum) AS BIGINT) AS n_rows,
           min(CASE WHEN cum * 100 >= n * 50 THEN v END) AS p50,
           min(CASE WHEN cum * 100 >= n * 90 THEN v END) AS p90,
           min(CASE WHEN cum * 100 >= n * 99 THEN v END) AS p99
         FROM cum GROUP BY source"""

  /** The CMS row-r bucket of `h` in DuckDB — byte-identical arithmetic to
    * [[graft.plans.CmsSketch]]'s JVM loop and
    * [[graft.functions.Sketches.cmsBucket]] (Kirsch–Mitzenmacher double
    * hash over the 60-bit md5 space, M = P = 2^31−1).
    */
  private def cmsBucketSql(h: String, r: String, width: Int): String =
    s"(((($h & 2147483647) + $r * (1 + (($h >> 31) & 2147483647))) % 2147483647) % $width)"

  /** The Count-Sketch row-r ±1 sign in DuckDB — family row `depth + r` of
    * the same Kirsch–Mitzenmacher mix, byte-identical to
    * [[graft.plans.CountSketch]]'s JVM loop and
    * [[graft.functions.Sketches.csSign]].
    */
  private def csSignSql(h: String, r: String, depth: Int): String =
    s"(1 - 2 * (((($h & 2147483647) + ($r + $depth) * " +
      s"(1 + (($h >> 31) & 2147483647))) % 2147483647) & 1))"

  /** Per-doc-distinct 3-gram hashes — the d86/d110 item stream. (Lazy:
    * the oracle map above forces the lazy SQL vals during object init,
    * before a plain val this far down the file would be assigned.)
    */
  private lazy val CmsGramCte: String =
    """words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM words WHERE len(w) >= 3))"""

  /** The d91 heavy-hitter census + top-5 window — shared verbatim by the
    * batch row (d91) and its streaming twin (d166): the Spark sides share
    * the census semantics, so one oracle covers both by construction.
    */
  private lazy val HeavyHittersSql: String =
    """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
         FROM documents),
       c AS (SELECT source, tok, count(*) AS n FROM t GROUP BY 1, 2),
       r AS (SELECT source, tok, CAST(n AS BIGINT) AS cnt,
           row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rk
         FROM c)
       SELECT source, tok, cnt, rk FROM r WHERE rk <= 5"""

  /** DuckDB replay of the d165 catalog heavy-gram drift: per-parity-
    * release distinct-gram streams (the CmsGramCte derivation restricted
    * by parity), exact top-20 censuses, CMS bucket tables, and the
    * full-outer combine with min-over-rows CMS point estimates for the
    * side a gram's top set misses — absent bucket rows read as the
    * stored zeros they are (the engine's CMS array holds explicit 0s).
    */
  private lazy val HeavyGramDriftSql: String = {
    def gramCte(g: String, par: Int): String =
      s"""words_$g AS (SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents WHERE doc_id % 2 = $par),
         g_$g AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM words_$g WHERE len(w) >= 3))"""
    def cmsCte(g: String): String =
      s"""bc_$g AS (SELECT r, ${cmsBucketSql("h", "r", 2048)} AS b,
             CAST(count(*) AS BIGINT) AS c
           FROM g_$g CROSS JOIN range(4) t(r) GROUP BY 1, 2)"""
    def topCte(g: String): String =
      s"""top_$g AS (SELECT h, CAST(count(*) AS BIGINT) AS cnt
           FROM g_$g GROUP BY h ORDER BY cnt DESC, h LIMIT 20)"""
    def estCte(g: String): String =
      s"""ce_$g AS (SELECT sel.sh, MIN(COALESCE(bc.c, 0)) AS e
           FROM sel CROSS JOIN range(4) t(r)
           LEFT JOIN bc_$g bc ON bc.r = t.r
             AND bc.b = ${cmsBucketSql("sel.sh", "t.r", 2048)}
           GROUP BY sel.sh)"""
    s"""WITH ${gramCte("a", 0)},
       ${gramCte("b", 1)},
       ${cmsCte("a")},
       ${cmsCte("b")},
       ${topCte("a")},
       ${topCte("b")},
       sel AS (SELECT coalesce(ta.h, tb.h) AS sh, ta.cnt AS cnt_a,
           tb.cnt AS cnt_b
         FROM top_a ta FULL OUTER JOIN top_b tb ON ta.h = tb.h),
       ${estCte("a")},
       ${estCte("b")}
       SELECT sel.sh,
         CAST(CASE WHEN sel.cnt_a IS NOT NULL THEN 1 ELSE 0 END AS INT)
           AS in_top_a,
         CAST(CASE WHEN sel.cnt_b IS NOT NULL THEN 1 ELSE 0 END AS INT)
           AS in_top_b,
         CAST(coalesce(sel.cnt_a, ea.e) AS BIGINT) AS est_a,
         CAST(coalesce(sel.cnt_b, eb.e) AS BIGINT) AS est_b,
         CAST(coalesce(sel.cnt_b, eb.e) - coalesce(sel.cnt_a, ea.e)
           AS BIGINT) AS surge
       FROM sel
       JOIN ce_a ea ON ea.sh = sel.sh
       JOIN ce_b eb ON eb.sh = sel.sh"""
  }

  private lazy val CmsFreqSql: String =
    s"""WITH $CmsGramCte,
         bc AS (SELECT r, ${cmsBucketSql("h", "r", 2048)} AS b,
             CAST(count(*) AS BIGINT) AS c
           FROM g CROSS JOIN range(4) t(r) GROUP BY 1, 2),
         top AS (SELECT h, CAST(count(*) AS BIGINT) AS cnt_true FROM g
           GROUP BY h ORDER BY cnt_true DESC, h LIMIT 15),
         est AS (SELECT top.h, top.cnt_true, MIN(bc.c) AS cms_est
           FROM top CROSS JOIN range(4) t(r)
           JOIN bc ON bc.r = t.r AND bc.b = ${cmsBucketSql("top.h", "t.r", 2048)}
           GROUP BY 1, 2)
         SELECT h AS item_hash, cnt_true, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(CASE WHEN cms_est >= cnt_true THEN 1 ELSE 0 END AS INT)
             AS no_undercount
         FROM est"""

  private lazy val CmsByDomainSql: String =
    s"""WITH words AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w
           FROM documents),
         g AS (SELECT DISTINCT doc_id, source,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT doc_id, source, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM words WHERE len(w) >= 3)),
         bc AS (SELECT source, r, ${cmsBucketSql("h", "r", 256)} AS b,
             CAST(count(*) AS BIGINT) AS c
           FROM g CROSS JOIN range(4) t(r) GROUP BY 1, 2, 3),
         cen AS (SELECT source, h, CAST(count(*) AS BIGINT) AS cnt_true
           FROM g GROUP BY 1, 2),
         top AS (SELECT source, h, cnt_true FROM (
           SELECT source, h, cnt_true, row_number() OVER (
             PARTITION BY source ORDER BY cnt_true DESC, h) AS rk FROM cen)
           WHERE rk = 1),
         est AS (SELECT top.source, top.h, top.cnt_true, MIN(bc.c) AS cms_est
           FROM top CROSS JOIN range(4) t(r)
           JOIN bc ON bc.source = top.source AND bc.r = t.r
             AND bc.b = ${cmsBucketSql("top.h", "t.r", 256)}
           GROUP BY 1, 2, 3)
         SELECT source, h AS item_hash, cnt_true,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(CASE WHEN cms_est >= cnt_true THEN 1 ELSE 0 END AS INT)
             AS no_undercount
         FROM est"""

  private lazy val CmsJoinSizeSql: String =
    s"""WITH oldd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
         curd AS (SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 5 != 0),
         ga AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM oldd)
           WHERE len(w) >= 3)),
         gb AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM curd)
           WHERE len(w) >= 3)),
         bca AS (SELECT r, ${cmsBucketSql("h", "r", 2048)} AS b,
             CAST(count(*) AS BIGINT) AS c
           FROM ga CROSS JOIN range(4) t(r) GROUP BY 1, 2),
         bcb AS (SELECT r, ${cmsBucketSql("h", "r", 2048)} AS b,
             CAST(count(*) AS BIGINT) AS c
           FROM gb CROSS JOIN range(4) t(r) GROUP BY 1, 2),
         ip AS (SELECT t.r,
             CAST(COALESCE(SUM(bca.c * bcb.c), 0) AS BIGINT) AS v
           FROM range(4) t(r)
           LEFT JOIN bca ON bca.r = t.r
           LEFT JOIN bcb ON bcb.r = t.r AND bcb.b = bca.b
           GROUP BY 1),
         est AS (SELECT MIN(v) AS est_join FROM ip),
         tr AS (SELECT CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT) AS true_join
           FROM (SELECT h, count(*) AS c FROM ga GROUP BY h) ca
           JOIN (SELECT h, count(*) AS c FROM gb GROUP BY h) cb USING (h))
         SELECT CAST(est_join AS BIGINT) AS est_join, true_join,
           CAST(CASE WHEN est_join >= true_join THEN 1 ELSE 0 END AS INT)
             AS no_underestimate
         FROM est, tr"""

  /** d118: the signed sketch rebuilt from first principles — per-row
    * bucket Σsign censuses densified to the full row-major arrays (the
    * bit-for-bit compare), per-row inner products, exact middle element
    * via quantile_disc(0.5) over the odd depth, and the same exact-census
    * truth as d113.
    */
  private lazy val CountSketchJoinSizeSql: String = {
    val depth = 5; val width = 2048; val band = 0.1
    s"""WITH oldd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
         curd AS (SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 5 != 0),
         ga AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM oldd)
           WHERE len(w) >= 3)),
         gb AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM curd)
           WHERE len(w) >= 3)),
         bca AS (SELECT r, ${cmsBucketSql("h", "r", width)} AS b,
             CAST(SUM(${csSignSql("h", "r", depth)}) AS BIGINT) AS c
           FROM ga CROSS JOIN range($depth) t(r) GROUP BY 1, 2),
         bcb AS (SELECT r, ${cmsBucketSql("h", "r", width)} AS b,
             CAST(SUM(${csSignSql("h", "r", depth)}) AS BIGINT) AS c
           FROM gb CROSS JOIN range($depth) t(r) GROUP BY 1, 2),
         grid AS (SELECT t.r AS r, u.b AS b
           FROM range($depth) t(r) CROSS JOIN range($width) u(b)),
         da AS (SELECT grid.r, grid.b, COALESCE(bca.c, 0) AS c FROM grid
           LEFT JOIN bca ON bca.r = grid.r AND bca.b = grid.b),
         db AS (SELECT grid.r, grid.b, COALESCE(bcb.c, 0) AS c FROM grid
           LEFT JOIN bcb ON bcb.r = grid.r AND bcb.b = grid.b),
         csv AS (SELECT
             (SELECT array_to_string(list(c ORDER BY r, b), ',') FROM da)
               AS sketch_csv_a,
             (SELECT array_to_string(list(c ORDER BY r, b), ',') FROM db)
               AS sketch_csv_b),
         ip AS (SELECT t.r,
             CAST(COALESCE(SUM(bca.c * bcb.c), 0) AS BIGINT) AS v
           FROM range($depth) t(r)
           LEFT JOIN bca ON bca.r = t.r
           LEFT JOIN bcb ON bcb.r = t.r AND bcb.b = bca.b
           GROUP BY 1),
         est AS (SELECT CAST(quantile_disc(v, 0.5) AS BIGINT) AS est_join
           FROM ip),
         tr AS (SELECT CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT) AS true_join
           FROM (SELECT h, count(*) AS c FROM ga GROUP BY h) ca
           JOIN (SELECT h, count(*) AS c FROM gb GROUP BY h) cb USING (h)),
         ns AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ga) AS n_a,
                       (SELECT CAST(count(*) AS BIGINT) FROM gb) AS n_b)
         SELECT sketch_csv_a, sketch_csv_b, n_a, n_b, est_join, true_join,
           ROUND(CAST(est_join AS DOUBLE) / CAST(true_join AS DOUBLE), 6)
             AS est_over_true,
           CAST(CASE WHEN ABS(est_join - true_join)
             <= $band * CAST(true_join AS DOUBLE) THEN 1 ELSE 0 END AS INT)
             AS in_band
         FROM csv, est, tr, ns"""
  }

  /** Shared d119 CTE stack: md5 centroids (the d15 quantizer), null-label
    * guards (the d116 convention), nprobe=2 probes, and the label-split
    * ranking over cell-routed candidates only.
    */
  private lazy val ContrastiveIvfPairsCte: String =
    """cents AS (SELECT c, d,
           (CAST(('0x' || substr(md5('c' || c || ':' || d), 1, 7)) AS BIGINT) % 2001 - 1000) / 1000.0 AS v
           FROM range(8) t1(c) CROSS JOIN range(64) t2(d)),
         cv AS (SELECT c, list(v ORDER BY d) AS cvec FROM cents GROUP BY c),
         asn AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv WHERE e.label IS NOT NULL) WHERE rn = 1),
         prb AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cv.c AS cell, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cv.cvec) DESC, cv.c ASC) AS rn
           FROM embeddings e CROSS JOIN cv
           WHERE e.vec_id < 10 AND e.label IS NOT NULL) WHERE rn <= 2),
         ivfpairs AS (
           SELECT anchor_id, cand_id, is_pos, rank FROM (
             SELECT p.vec_id AS anchor_id, a.vec_id AS cand_id,
               CAST(CASE WHEN n.label = q.label THEN 1 ELSE 0 END AS INT) AS is_pos,
               row_number() OVER (PARTITION BY p.vec_id, (n.label = q.label)
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                          a.vec_id ASC) AS rank
             FROM prb p JOIN asn a ON a.cell = p.cell AND a.vec_id != p.vec_id
             JOIN embeddings q ON q.vec_id = p.vec_id
             JOIN embeddings n ON n.vec_id = a.vec_id)
           WHERE (is_pos = 1 AND rank <= 2) OR (is_pos = 0 AND rank <= 3))"""

  private lazy val ContrastiveIvfSql: String =
    s"""WITH $ContrastiveIvfPairsCte
         SELECT anchor_id, cand_id, is_pos, CAST(rank AS INT) AS rank
         FROM ivfpairs"""

  private lazy val ContrastiveIvfRecallSql: String =
    s"""WITH $ContrastiveIvfPairsCte,
         expairs AS (
           SELECT anchor_id, cand_id, is_pos FROM (
             SELECT q.vec_id AS anchor_id, c.vec_id AS cand_id,
               CAST(CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS INT) AS is_pos,
               row_number() OVER (PARTITION BY q.vec_id, (c.label = q.label)
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id ASC) AS rank
             FROM (SELECT * FROM embeddings WHERE label IS NOT NULL) q
             JOIN (SELECT * FROM embeddings WHERE label IS NOT NULL) c
               ON q.vec_id != c.vec_id
             WHERE q.vec_id < 10)
           WHERE (is_pos = 1 AND rank <= 2) OR (is_pos = 0 AND rank <= 3)),
         hit AS (SELECT e.* FROM expairs e
           JOIN ivfpairs i ON i.anchor_id = e.anchor_id
             AND i.cand_id = e.cand_id AND i.is_pos = e.is_pos),
         ns AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM expairs) AS n_exact,
             (SELECT CAST(count(*) AS BIGINT) FROM ivfpairs) AS n_ivf,
             (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit)
         SELECT n_exact, n_ivf, n_hit,
           CASE WHEN n_exact = 0 THEN 1.0
             ELSE ROUND(n_hit / CAST(n_exact AS DOUBLE), 6) END AS recall
         FROM ns"""

  /** d120: the trained-IVF chain replayed end to end — md5-ordered raw
    * init, two unrolled Lloyd rounds (cosine assignment, 1e-6-grid raw
    * means, lost cells keep their centroid), then the d73 probe/rank/
    * recall tail with the trained quantizer.
    */
  private lazy val IvfTrainedRecallSql: String =
    """WITH nrm AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ord AS (SELECT vec_id, v, row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) AS rn
           FROM nrm),
         cb0 AS (SELECT rn - 1 AS c, v AS w FROM ord WHERE rn <= 8),
         b1 AS (SELECT vec_id, c FROM (
           SELECT n.vec_id, cb.c, row_number() OVER (PARTITION BY n.vec_id
             ORDER BY list_cosine_similarity(n.v, cb.w) DESC, cb.c ASC) AS rn
           FROM nrm n CROSS JOIN cb0 cb) WHERE rn = 1),
         m1 AS (SELECT b.c, dd.d,
             CAST(sum(CAST(round(n.v[dd.d + 1] * 1e6, 0) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e6 AS mv
           FROM b1 b JOIN nrm n ON n.vec_id = b.vec_id
           CROSS JOIN range(64) dd(d)
           GROUP BY b.c, dd.d),
         cb1 AS (SELECT c0.c,
             CASE WHEN count(m.mv) = 0 THEN c0.w
                  ELSE list(m.mv ORDER BY m.d) END AS w
           FROM cb0 c0 LEFT JOIN m1 m ON m.c = c0.c
           GROUP BY c0.c, c0.w),
         b2 AS (SELECT vec_id, c FROM (
           SELECT n.vec_id, cb.c, row_number() OVER (PARTITION BY n.vec_id
             ORDER BY list_cosine_similarity(n.v, cb.w) DESC, cb.c ASC) AS rn
           FROM nrm n CROSS JOIN cb1 cb) WHERE rn = 1),
         m2 AS (SELECT b.c, dd.d,
             CAST(sum(CAST(round(n.v[dd.d + 1] * 1e6, 0) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e6 AS mv
           FROM b2 b JOIN nrm n ON n.vec_id = b.vec_id
           CROSS JOIN range(64) dd(d)
           GROUP BY b.c, dd.d),
         cb2 AS (SELECT c1.c,
             CASE WHEN count(m.mv) = 0 THEN c1.w
                  ELSE list(m.mv ORDER BY m.d) END AS w
           FROM cb1 c1 LEFT JOIN m2 m ON m.c = c1.c
           GROUP BY c1.c, c1.w),
         asn AS (SELECT vec_id, cell FROM (
           SELECT n.vec_id, cb.c AS cell, row_number() OVER (PARTITION BY n.vec_id
             ORDER BY list_cosine_similarity(n.v, cb.w) DESC, cb.c ASC) AS rn
           FROM nrm n CROSS JOIN cb2 cb) WHERE rn = 1),
         prb AS (SELECT vec_id, cell FROM (
           SELECT n.vec_id, cb.c AS cell, row_number() OVER (PARTITION BY n.vec_id
             ORDER BY list_cosine_similarity(n.v, cb.w) DESC, cb.c ASC) AS rn
           FROM nrm n CROSS JOIN cb2 cb WHERE n.vec_id < 10) WHERE rn <= 2),
         cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
           FROM prb p JOIN asn a ON a.cell = p.cell WHERE p.vec_id != a.vec_id),
         approx AS (SELECT query_id, neighbor_id FROM (
           SELECT c.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                        c.neighbor_id ASC) AS rank
           FROM cand c
           JOIN embeddings q ON q.vec_id = c.query_id
           JOIN embeddings n ON n.vec_id = c.neighbor_id)
           WHERE rank <= 5),
         exact AS (SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 10)
           WHERE rank <= 5),
         hits AS (SELECT e.query_id, count(*) AS n_hit FROM exact e
           JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT q.vec_id AS query_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / 5.0, 6) AS recall
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         LEFT JOIN hits h ON q.vec_id = h.query_id"""

  private lazy val CmsStreamSql: String =
    s"""WITH $CmsGramCte,
         bc AS (SELECT r, ${cmsBucketSql("h", "r", 256)} AS b,
             CAST(count(*) AS BIGINT) AS c
           FROM g CROSS JOIN range(4) t(r) GROUP BY 1, 2),
         grid AS (SELECT t.r AS r, u.b AS b
           FROM range(4) t(r) CROSS JOIN range(256) u(b)),
         dense AS (SELECT grid.r, grid.b, COALESCE(bc.c, 0) AS c
           FROM grid LEFT JOIN bc ON bc.r = grid.r AND bc.b = grid.b)
         SELECT array_to_string(list(c ORDER BY r, b), ',') AS sketch_csv,
           CAST((SELECT count(*) FROM g) AS BIGINT) AS n_items
         FROM dense"""

  private lazy val CmsDomainStreamSql: String =
    s"""WITH words AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w
           FROM documents),
         g AS (SELECT DISTINCT doc_id, source,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS h FROM (
           SELECT doc_id, source, unnest(list_transform(range(0, len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))) AS gt
           FROM words WHERE len(w) >= 3)),
         bc AS (SELECT source, r, ${cmsBucketSql("h", "r", 256)} AS b,
             CAST(count(*) AS BIGINT) AS c
           FROM g CROSS JOIN range(4) t(r) GROUP BY 1, 2, 3),
         srcs AS (SELECT DISTINCT source FROM g),
         grid AS (SELECT s.source, t.r AS r, u.b AS b
           FROM srcs s CROSS JOIN range(4) t(r) CROSS JOIN range(256) u(b)),
         dense AS (SELECT grid.source, grid.r, grid.b, COALESCE(bc.c, 0) AS c
           FROM grid LEFT JOIN bc ON bc.source = grid.source
             AND bc.r = grid.r AND bc.b = grid.b),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_items
           FROM g GROUP BY source)
         SELECT d.source,
           array_to_string(list(c ORDER BY r, b), ',') AS sketch_csv,
           any_value(n.n_items) AS n_items
         FROM dense d JOIN n ON d.source = n.source
         GROUP BY d.source"""

  private lazy val BloomDecontamSql: String =
    s"""WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         g AS (SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(gt), 1, 15)) AS BIGINT) AS sh FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(w) - 12),
             i -> array_to_string(w[i+1:i+13], ' '))) AS gt
           FROM words WHERE len(w) >= 13)),
         seeds(j, a) AS (VALUES (0, 1299709), (1, 15485863), (2, 32452843), (3, 49979687)),
         tpos AS (SELECT DISTINCT (((sh % ${MinHashLSH.P}) * a + j) % ${MinHashLSH.P}) % 1048576 AS p
           FROM (SELECT DISTINCT sh FROM g WHERE doc_id % 10 != 0) CROSS JOIN seeds),
         bmp AS (SELECT p // 32 AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS mask
           FROM tpos GROUP BY 1),
         bpos AS (SELECT doc_id, sh,
             (((sh % ${MinHashLSH.P}) * a + j) % ${MinHashLSH.P}) % 1048576 AS p
           FROM g CROSS JOIN seeds WHERE doc_id % 10 = 0),
         ghit AS (SELECT d.doc_id, d.sh,
             bool_and(coalesce(
               (b.mask & (CAST(1 AS BIGINT) << CAST(d.p % 32 AS INTEGER))) != 0,
               FALSE)) AS inb
           FROM bpos d LEFT JOIN bmp b ON b.w = d.p // 32 GROUP BY 1, 2)
         SELECT doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
         FROM ghit GROUP BY doc_id"""
}
