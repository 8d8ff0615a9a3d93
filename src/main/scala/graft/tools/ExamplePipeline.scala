package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.{MinHashLSH, TextAnalysis}

/** The end-to-end corpus pipeline as ONE runnable main — the capstone a
  * new user starts from, composing the library the way a production
  * training-data job would:
  *
  *   raw documents
  *     → quality + repetition gates (map-only projections)
  *     → model-score gate (the batched classifier-filter seam)
  *     → exact-dedup canonical (one fingerprint partial-agg)
  *     → near-dup cluster canonical (LSH band join → connected components)
  *     → 13-gram benchmark decontamination, excised in place
  *     → length-weighted sampling to a per-source budget (ES draws)
  *     → fixed-window chunking → deterministic cross-doc packing
  *     → hash-sharded parquet write (rerun-identical shard assignment)
  *     + a corpus-catalog row appended (counts, quality, KMV gram sketch —
  *       the standing artifact later dump-overlap checks splice against)
  *
  * Everything is the same oracle-gated operators the driver suite runs
  * (d19 / d97 / d70 / d90 / d25 / d41 / d86 / the shard writer) — this
  * main just wires them into one DAG-per-stage job and prints the funnel.
  *
  *   runMain graft.tools.ExamplePipeline [sfDir] [outDir]
  */
object ExamplePipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_pipeline_out")
    val spark = graft.GraftConf.session(8)
    spark.sparkContext.setLogLevel("ERROR")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n0 = docs.count()

    // 1. map-only gates: quality floor, repetition ceiling, then the
    // model-score gate through the batched classifier seam (the shipped
    // scorer is the deterministic stand-in; a real deployment plugs its
    // classifier into the same TextScorer and nothing else changes).
    // `heuristic` is persisted (S4 rule): both sides of the score join
    // read it — without the persist the repetition-ratio subtree and the
    // docs scan run twice.
    val heuristic = graft.CacheRegistry.track(
      TextAnalysis.repetitionRatio(docs, "doc_id", "text")
        .where(TextAnalysis.qualityScore(col("text")) >= 0.3 &&
          col("rep_ratio") <= 0.05)
        .select("doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val gated = heuristic
      .join(graft.functions.ModelScore.score(heuristic, "doc_id", "text")
        .where(col("model_score") >= 0.05), "doc_id")
      .select("doc_id", "text")
    val n1 = gated.count()

    // 2. exact dedup: keep each fingerprint's min doc_id.
    val exactCanon = gated
      .groupBy(TextAnalysis.fingerprintHex(col("text")).as("fp_hex"))
      .agg(min("doc_id").as("exact_canon"))
    val exact = gated
      .withColumn("fp_hex", TextAnalysis.fingerprintHex(col("text")))
      .join(exactCanon, "fp_hex")
      .where(col("doc_id") === col("exact_canon"))
      .select("doc_id", "text")
    val n2 = exact.count()

    // 3. near-dup dedup: LSH pairs -> connected components -> keep each
    // cluster's min-id member (untouched docs have no cluster row).
    // `deduped` is persisted: three downstream consumers (the count, the
    // contamination-span join's BOTH sides via `clean`, and the final
    // chunk/pack/write) would otherwise re-run the LSH pair join and the
    // iterative closure per action — the repo's S4 persist-where-reused
    // rule, applied where it actually pays.
    val pairs = MinHashLSH.nearDupPairs(exact, "doc_id", "text")
      .where(col("jaccard") >= 0.5)
    val clusterOf = MinHashLSH.clusters(pairs)
      .select(col("id").as("doc_id"), col("cluster"))
    val deduped = graft.CacheRegistry.track(
      exact.join(clusterOf, Seq("doc_id"), "left_outer")
        .where(col("cluster").isNull || col("cluster") === col("doc_id"))
        .select("doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val n3 = deduped.count()

    // 3b. structural audit of the pair set itself (round 14): is the
    // near-dup graph duplicate-dense (triangle-heavy, positive
    // modularity on its vote communities) or band-collision noise? One
    // row each — the gates a production dedup run logs per release.
    val sym = pairs.select("doc_a", "doc_b")
      .union(pairs.select(col("doc_b"), col("doc_a")))
    val tri = graft.functions.GraphOps
      .triangleStats(pairs.toDF(), "doc_a", "doc_b").head()
    val comm = graft.functions.GraphOps
      .labelPropagationConverged(sym, "doc_a", "doc_b", maxRounds = 8)
    val q = graft.functions.GraphOps
      .modularity(pairs.toDF(), "doc_a", "doc_b", comm, "id", "community")
      .head()

    // 4. decontamination-in-place: excise spans carrying any benchmark
    // 13-gram (bench split = every 10th doc, standing in for a real
    // eval-suite table), keep the rest of each document.
    val bench = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      .select("doc_id", "text")
    val spans = TextAnalysis.contaminationSpans(
      deduped, bench, "doc_id", "text", n = 13)
    // localCheckpoint, not persist: by this stage the analyzed plan nests
    // the gate + dedup + excision lineages, and the downstream mix/sample
    // branches each re-reference it — a persist caches the DATA but the
    // PLAN TEXT still duplicates per branch, and Spark's AQE plan-update
    // rendering OOMed on exactly that growth when the temperature stage
    // landed. The eager checkpoint truncates lineage to the materialized
    // partitions (single-JVM demo; a cluster run sets a checkpoint dir
    // and uses checkpoint(), the MinHashLSH.clusters pattern).
    val clean = TextAnalysis.exciseSpans(deduped, "doc_id", "text", spans)
      .withColumnRenamed("clean_text", "text")
      .select("doc_id", "text")
      .localCheckpoint()
    val n4 = clean.count()

    // 5. temperature-flatten the language mix (the mT5/XLM-R knob: T=2
    // halves the head language's dominance without a hard uniform floor),
    // then a length-weighted sample to a budget: inclusion ∝ doc length
    // (token mass), Efraimidis–Spirakis without replacement —
    // deterministic, so a rerun draws the identical corpus. The SALTED
    // two-phase form, because the single constant domain here is exactly
    // the mega-domain case the plain window would sort on one task.
    val balanced = graft.functions.Sampling.temperatureMix(
        clean.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        "doc_id", "lang", temperature = 2.0)
    val n5a = balanced.count()
    val sampled = graft.functions.Sampling.weightedSampleSalted(
        balanced.withColumn("n_chars", length(col("text")))
          .withColumn("source", lit("corpus")),
        "doc_id", "n_chars", "source", n = 100000, salts = 32)
      .select("doc_id", "text")
    val n5 = sampled.count()

    // 6. chunk to the context window, pack chunks across docs into fixed
    // token budgets (deterministic hash order), shard-write the result.
    val chunks = TextAnalysis.chunk(sampled, "doc_id", "text",
      maxTokens = 40, overlap = 8)
    val packed = TextAnalysis.packSequencesAcross(chunks, "doc_id",
        seqTokens = 96, numGroups = 8)
      .withColumn("seq_key",
        concat_ws(":", col("bin_group"), col("seq_idx")))
    val n6 = packed.count()
    graft.io.TableWriter.writeShards(packed, outDir, "seq_key", nShards = 8)

    // 7. append this run's catalog row — counts, grid quality, the KMV
    // gram sketch, and (round 14) the language census: the standing
    // artifact any later dump-overlap OR mixture-drift question splices
    // against without re-reading this corpus
    // (CorpusCatalog.domainDrift(path, thisRun, nextRun)).
    graft.functions.CorpusCatalog.append(
      sampled.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
      "doc_id", "text", s"$outDir/_catalog", dumpId = "this_run",
      domainCol = Some("lang"))
    val audit = spark.read.parquet(s"$outDir/_catalog")
      .where(col("dump_id") === "this_run").head()

    println(f"docs $n0%6d -> gated $n1%6d -> exact $n2%6d -> " +
      f"neardup $n3%6d -> decontaminated $n4%6d -> T-balanced $n5a%6d -> " +
      f"sampled $n5%6d -> packed seqs $n6%6d")
    println(f"dup-graph audit: gcc=${tri.getAs[Long]("gcc_micro") / 1e6}%.3f " +
      f"(${tri.getAs[Long]("n_triangles")} triangles / " +
      f"${tri.getAs[Long]("n_wedges")} wedges), " +
      f"modularity q=${q.getAs[Long]("q_micro") / 1e6}%.3f over " +
      f"${q.getAs[Long]("n_communities")} communities")
    println(f"shipped distinct-3-gram estimate: " +
      f"${audit.getAs[Double]("est_distinct_grams")}%.0f " +
      f"(catalog row at $outDir/_catalog)")
    println(s"sharded parquet at $outDir (8 md5-stable shards)")
    graft.CacheRegistry.releaseAll()
    spark.stop()
  }
}
