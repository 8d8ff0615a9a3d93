package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, GraftConf}
import graft.functions.{JaccardJoin, MinHashLSH, SimHash, TextAnalysis}

/** Scale-up probe (dev tool): runs the corpus-heavy operators on the sf0.1
  * documents table and on a 10× replicated variant, and prints the wall
  * ratio. Every token is prefixed with a replica tag, so replicas share
  * ZERO shingles with each other or the original — the 10× corpus is
  * genuinely 10× distinct content, outputs scale exactly linearly, and a
  * wall ratio far above ~10× flags a plan that would not survive a real
  * scale-up. (An earlier filler-suffix variant left cross-replica Jaccard
  * above the near-dup thresholds and measured replication artifacts.)
  *
  * `runMain graft.tools.ScaleStress across` runs the ASYMMETRIC probe
  * instead: a 1%-of-corpus benchmark set against the 10× corpus, the shape
  * a contamination audit has at scale. It measures
  * [[JaccardJoin.similarPairsAcross]] (r-prefix × s-prefix candidates
  * only) against what a user without the cross-set entry point would run —
  * self-joining bench ∪ corpus and post-filtering to cross pairs — and
  * prints the wall ratio. The probe corpus is 10× UNTAGGED replication
  * (real duplicate mass, distinct ids), so bench docs have true matches,
  * the verify path is exercised, and the self-join control pays the
  * train×train candidate volume the cross-set path is designed to avoid.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val spark = GraftConf.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    if (args.contains("semantic")) {
      runEmbeddingProbes(spark); spark.stop(); return
    }
    val docs1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val n1 = docs1.count()
    val docs10 = (0 until 10).map { r =>
      val tag = s"r${r}x"
      docs1.select((col("doc_id") + lit(r * 10_000_000L)).as("doc_id"),
        concat(lit(tag), regexp_replace(col("text"), " ", " " + tag)).as("text"))
    }.reduce(_ unionByName _)

    if (args.contains("across")) {
      // Corpus for the asymmetric probe: 10x UNTAGGED replication — pure
      // duplicate mass (each doc in 10 exact copies under distinct ids),
      // the realistic shape of a raw web/train corpus. This is what makes
      // the probe meaningful: the self-join control must generate and
      // verify every train x train duplicate pair (~45 per 10-clique x 5k
      // docs, plus near-dup families) only to discard them, while the
      // cross-set path never forms them. The tagged docs10 above would
      // hide exactly that cost (replicas share zero shingles).
      // Replication factor = second arg (default 10). Intra-corpus pair
      // volume grows as rep²: rep 10 → 45 pairs per clique, rep 30 → 435.
      val rep = args.drop(args.indexOf("across") + 1).headOption
        .map(_.toInt).getOrElse(10)
      val corpus = (0 until rep).map { r =>
        docs1.select((col("doc_id") + lit(r * 10_000_000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _)
      // Benchmark set: 1% of the original corpus, re-keyed so ids cannot
      // collide with any corpus id (similarPairsAcross tolerates shared ids
      // via the side tag, but distinct ids keep the self-join control
      // honest: cross pairs are then exactly the bench-id x corpus-id ones).
      // The offset is DERIVED from rep: a fixed 900M would collide with
      // replica ids once rep >= 90 (r * 10M reaches 900M) and silently
      // corrupt the straddle predicate below.
      val benchOffset = rep * 10_000_000L + 10_000_000L
      val bench = docs1.where(col("doc_id") % 100 === 0)
        .select((col("doc_id") + lit(benchOffset)).as("doc_id"), col("text"))
      val nb = bench.count(); val nc = corpus.count()
      println(s"--- asymmetric probe: |bench|=$nb x |corpus|=$nc ---")
      // Warm JIT/codegen on the small side before timing.
      t("warmup cross (bench x 1x)") {
        JaccardJoin.similarPairsAcross(bench, docs1, "doc_id", "text", 0.8).count()
      }
      Bench.dropCaches(spark)
      // Min-of-3 on BOTH arms (the same statistic Bench and BASELINE.md
      // use): the self-join arm's wall time swings several x run-to-run
      // under spill pressure, so a single sample is noise, and the spread
      // itself is part of the finding — print min and max.
      def minOf3(name: String)(f: => Long): (Double, Double) = {
        val ts = (1 to 3).map { i =>
          val s = t(s"$name #$i")(f); Bench.dropCaches(spark); s
        }
        (ts.min, ts.max)
      }
      val (tCross, tCrossMax) = minOf3(s"cross bench x ${rep}x corpus") {
        JaccardJoin.similarPairsAcross(bench, corpus, "doc_id", "text", 0.8).count()
      }
      // The no-cross-set-API alternative: self-join the union, keep pairs
      // that straddle the sets. Pays corpus x corpus candidate generation,
      // verification and the candidate-pair shuffle for pairs it then
      // throws away — count that discarded volume in the same pass.
      var intra = 0L
      val (tSelf, tSelfMax) = minOf3("self-join union, post-filter") {
        val straddle = (col("doc_a") >= benchOffset) =!= (col("doc_b") >= benchOffset)
        val r = JaccardJoin.similarPairs(corpus.unionByName(bench), "doc_id", "text", 0.8)
          .agg(count(lit(1)).as("all"),
            count(when(straddle, 1)).as("cross")).head()
        intra = r.getLong(0) - r.getLong(1)
        r.getLong(1)
      }
      println(f"asymmetric ratio self/cross (min-of-3) = ${tSelf / tCross}%5.2f " +
        f"(cross ${tCross}%.1f-${tCrossMax}%.1f s, self ${tSelf}%.1f-${tSelfMax}%.1f s); " +
        s"self-join verified+discarded $intra intra-corpus pairs " +
        "(the cross-set path never forms them)")
      spark.stop()
      return
    }
    def suite(tag: String, d: DataFrame): Map[String, Double] = {
      println(s"--- $tag (${d.count()} docs) ---")
      val r = Map(
        "exact_dedup" -> t(s"$tag exact_dedup") {
          d.groupBy(TextAnalysis.fingerprintHex(col("text")).as("fp"))
            .agg(min("doc_id")).count() },
        "minhash_pairs" -> t(s"$tag minhash_pairs") {
          MinHashLSH.nearDupPairs(d, "doc_id", "text").count() },
        "simhash64_pairs" -> t(s"$tag simhash64_pairs") {
          SimHash.nearDupPairs64(d, "doc_id", "text").count() },
        "jaccard_join" -> t(s"$tag jaccard_join") {
          JaccardJoin.similarPairs(d, "doc_id", "text", 0.8).count() },
        "tfidf" -> t(s"$tag tfidf") {
          TextAnalysis.tfidfTopK(d, "doc_id", "text", 3).count() },
        "chunk" -> t(s"$tag chunk") {
          TextAnalysis.chunk(d, "doc_id", "text", 40, 8).count() },
        "unigram_logprob" -> t(s"$tag unigram_logprob") {
          val n = TextAnalysis.unigramLogProb(d, "doc_id", "text").count()
          graft.CacheRegistry.releaseAll(); n },
        "pack" -> t(s"$tag pack") {
          TextAnalysis.packSequences(
            TextAnalysis.chunk(d, "doc_id", "text", 40, 8), "doc_id", 96).count() },
        "dup_spans" -> t(s"$tag dup_spans") {
          TextAnalysis.duplicateSpans(d, "doc_id", "text", 13).count() },
        "excise" -> t(s"$tag excise") {
          TextAnalysis.exciseSpans(d, "doc_id", "text",
            TextAnalysis.duplicateSpans(d, "doc_id", "text", 13)).count() },
        "epoch_mix" -> t(s"$tag epoch_mix") {
          graft.functions.Sampling.epochMix(
            d.withColumn("dom", pmod(col("doc_id"), lit(20)).cast("string")),
            "doc_id", "dom", Map("1" -> 2.5, "2" -> 0.25), 1.0).count() },
        "gopher_rules" -> t(s"$tag gopher_rules") {
          d.select(col("doc_id"),
              TextAnalysis.gopherKeep(
                TextAnalysis.gopherReport(col("text")), minStopHits = 1).as("k"))
            .where(col("k")).count() },
        "line_clean" -> t(s"$tag line_clean") {
          d.select(col("doc_id"),
              TextAnalysis.cleanLines(
                TextAnalysis.reflowLines(col("text"), 12), 12,
                Seq("the", "a", "and", "of"),
                Seq("javascript", "lorem ipsum", "{")).as("kept"))
            .where(size(col("kept")) > 0).count() },
        "match_mix" -> t(s"$tag match_mix") {
          graft.functions.Sampling.matchDistribution(
            d.withColumn("dom", pmod(col("doc_id"), lit(20)).cast("string")),
            "doc_id", "dom",
            Map("1" -> 0.3, "2" -> 0.3, "3" -> 0.4)).count() },
        "norm_dedup" -> t(s"$tag norm_dedup") {
          d.groupBy(md5(TextAnalysis.normalizeText(col("text"))).as("nm"))
            .agg(min("doc_id")).count() },
        "boilerplate" -> t(s"$tag boilerplate") {
          TextAnalysis.stripBoilerplate(
            d.select(col("doc_id"),
              TextAnalysis.reflowLines(col("text"), 12).as("lines")),
            "doc_id", "lines").count() },
        "ngram_decontam" -> t(s"$tag ngram_decontam") {
          // bench = 1% of docs; train = the rest — d35's asymmetric shape
          val n = TextAnalysis.ngramContamination(
            d.where(col("doc_id") % 100 === 0), d.where(col("doc_id") % 100 =!= 0),
            "doc_id", "text", 13).count()
          graft.CacheRegistry.releaseAll(); n },
        "bpe_tokens" -> t(s"$tag bpe_tokens") {
          d.select(TextAnalysis.bpeTokenIds(col("text")).as("i"))
            .where(size(col("i")) > 0).count() },
        "bpe_pair_census" -> t(s"$tag bpe_pair_census") {
          TextAnalysis.bpePairCensus(d, "text", TextAnalysis.BpeMerges).count() },
        "corpus_diff" -> t(s"$tag corpus_diff") {
          graft.functions.CorpusDiff.diff(
            d.where(col("doc_id") % 7 =!= 0),
            d.where(col("doc_id") % 5 =!= 0), "doc_id", "text").count() },
        "backoff_logprob" -> t(s"$tag backoff_logprob") {
          val n = TextAnalysis.backoffLogProb(
            d.where(col("doc_id") % 10 =!= 0), d, "doc_id", "text").count()
          graft.CacheRegistry.releaseAll(); n },
        "dsir_weights" -> t(s"$tag dsir_weights") {
          val n = TextAnalysis.dsirLogRatio(
            d, d.where(col("doc_id") % 5 === 0), "doc_id", "text").count()
          graft.CacheRegistry.releaseAll(); n },
        "paragraph_dedup" -> t(s"$tag paragraph_dedup") {
          val n = TextAnalysis.dedupParagraphs(
            d.select(col("doc_id"),
              TextAnalysis.reflowLines(col("text"), 12).as("lines")),
            "doc_id", "lines").count()
          graft.CacheRegistry.releaseAll(); n },
        "char_entropy" -> t(s"$tag char_entropy") {
          TextAnalysis.charEntropy(d, "doc_id", "text").count() })
      spark.sharedState.cacheManager.clearCache()
      r
    }
    suite("warmup", docs1) // JIT/codegen out of the comparison
    val s1 = suite("x1", docs1)
    val s10 = suite("x10", docs10)
    println(f"docs: $n1 -> ${n1 * 10}")
    s1.keys.toSeq.sorted.foreach { k =>
      println(f"$k%-18s x1=${s1(k)}%6.2f  x10=${s10(k)}%7.2f  ratio=${s10(k) / s1(k)}%5.1f") }

    runEmbeddingProbes(spark)
    spark.stop()
  }

  /** Run `f`, print its wall seconds and row count, return the seconds. */
  private def t(name: String)(f: => Long): Double = {
    val t0 = System.nanoTime()
    val rows = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"$name%-28s ${s}%7.2f s  rows=$rows")
    s
  }

  /** The embedding-side probes (semdedup, semantic decontamination,
    * centroid outliers) plus the exact-vs-Bloom release screen; run after
    * the text suite, or alone as `runMain graft.tools.ScaleStress semantic`.
    */
  private def runEmbeddingProbes(spark: SparkSession): Unit = {
    // Embedding-side probe: semDedup at 1x and 10x. Replicas are jittered
    // per replica index so every vector is distinct (no artificial exact
    // duplicates), while cell occupancy stays balanced — the within-cell
    // pair volume grows ~rep², which is exactly the Σ|cell|² bound the
    // operator's SCALE.md entry claims; the probe checks the wall follows.
    val emb1 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding")
    val emb10 = (0 until 10).map { r =>
      emb1.select((col("vec_id") + lit(r * 10_000_000L)).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(r.toFloat * 1e-3f)).as("embedding"))
    }.reduce(_ unionByName _)
    def semd(tag: String, e: DataFrame) = t(s"$tag semdedup") {
      val n = graft.functions.VectorIVF.semDedup(e, "vec_id", "embedding",
        graft.functions.VectorIVF.mdCentroids(spark, 8, 64),
        "cell_id", "cvec", 0.4).count()
      Bench.dropCaches(spark); n
    }
    semd("warmup", emb1)
    val e1 = semd("x1", emb1); val e10 = semd("x10", emb10)
    println(f"${"semdedup"}%-18s x1=$e1%6.2f  x10=$e10%7.2f  ratio=${e10 / e1}%5.1f")

    // Semantic-decontamination probe: a FIXED bench set (500 vectors — the
    // realistic shape: the bench does not grow with the corpus) against the
    // 1x and 10x train side. Map-only through the broadcast nested-loop +
    // an output-sized count exchange, so the wall must scale ~linearly in
    // train volume with the bench cost amortized.
    val bench = emb1.limit(500)
    def sdec(tag: String, e: DataFrame) = t(s"$tag semantic_decon") {
      graft.functions.VectorOps.semanticDecontaminate(
        e, bench, "vec_id", "embedding", 0.35).count()
    }
    sdec("warmup", emb1)
    val sd1 = sdec("x1", emb1); val sd10 = sdec("x10", emb10)
    println(f"${"semantic_decon"}%-18s x1=$sd1%6.2f  x10=$sd10%7.2f  ratio=${sd10 / sd1}%5.1f")

    // Centroid-outlier probe: one O(labels x dim) partial-agg exchange +
    // broadcast-back filter; 10x rows through the same 8-label census.
    val lab1 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val lab10 = (0 until 10).map { r =>
      lab1.select((col("vec_id") + lit(r * 10_000_000L)).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(r.toFloat * 1e-3f)).as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    def cout(tag: String, e: DataFrame) = t(s"$tag centroid_outliers") {
      graft.functions.VectorOps.centroidOutliers(
        e, "vec_id", "embedding", "label", 0.0).count()
    }
    cout("warmup", lab1)
    val co1 = cout("x1", lab1); val co10 = cout("x10", lab10)
    println(f"${"centroid_outliers"}%-18s x1=$co1%6.2f  x10=$co10%7.2f  ratio=${co10 / co1}%5.1f")

    // Standing-artifact probe: screening ONE bench release, exact 13-gram
    // join (pays a corpus gram pass EVERY release — cost grows with the
    // corpus) vs the Bloom bitmap probe (corpus pass paid ONCE at build;
    // each release is then bench-sized map-only work, corpus-independent).
    // The 10x corpus is 1x untagged (so bench docs still have true
    // matches) ∪ 9 replica-tagged copies (distinct gram content), i.e.
    // genuine ~10x distinct gram volume; the bitmap is sized 2^24 so FP
    // stays ~1% at ~1M grams (the `bits` knob scales with corpus grams —
    // O(corpus)/32 longs broadcast, still KBs→MBs).
    val docs1s = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val corpus10 = docs1s.unionByName((1 until 10).map { r =>
      val tag = s"r${r}x"
      docs1s.select((col("doc_id") + lit(r * 10_000_000L)).as("doc_id"),
        concat(lit(tag), regexp_replace(col("text"), " ", " " + tag)).as("text"))
    }.reduce(_ unionByName _))
    val benchDocs = docs1s.where(col("doc_id") % 100 === 0)
      .select((col("doc_id") + lit(900_000_000L)).as("doc_id"), col("text"))
    var bmp: Array[Long] = null
    val tBuild = t("bloom bitmap build (10x corpus, ONCE)") {
      bmp = TextAnalysis.bloomGramBitmap(corpus10, "text", n = 13,
        bits = 1 << 24)
      bmp.length.toLong
    }
    Bench.dropCaches(spark)
    t("warmup exact screen") {
      TextAnalysis.ngramContamination(benchDocs, docs1s, "doc_id", "text").count()
    }
    Bench.dropCaches(spark)
    def minOf3(name: String)(f: => Long): Double =
      (1 to 3).map { i =>
        val s = t(s"$name #$i")(f); Bench.dropCaches(spark); s
      }.min
    val tExact1 = minOf3("exact screen vs 1x corpus") {
      TextAnalysis.ngramContamination(
        benchDocs, docs1s, "doc_id", "text").count()
    }
    val tExact10 = minOf3("exact screen vs 10x corpus") {
      TextAnalysis.ngramContamination(
        benchDocs, corpus10, "doc_id", "text").count()
    }
    val tBloom = minOf3("bloom screen vs standing bitmap") {
      TextAnalysis.bloomContaminationScan(
        benchDocs, bmp, "doc_id", "text").count()
    }
    println(f"${"release_screen"}%-18s exact 1x=$tExact1%5.2f -> 10x=$tExact10%5.2f " +
      f"(grows with corpus); bloom=$tBloom%5.2f flat " +
      f"(bitmap build $tBuild%.2f s, once per corpus)")
    spark.stop()
  }
}
