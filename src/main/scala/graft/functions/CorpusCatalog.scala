package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-dump corpus catalog — the STANDING ARTIFACT the sketch family
  * exists for: one tiny row per ingested dump (counts, token volume,
  * mean quality, and the distinct-gram KMV sketch), appended at ingest
  * time and consulted forever after WITHOUT re-reading any dump.
  *
  * The payoff is [[overlaps]]: any pairwise dump overlap
  * (jaccard/union/intersection of gram SETS) is pure array math over the
  * catalog — at 100 TB per dump, the question "how much does this
  * re-crawl overlap last month's?" costs a read of N catalog rows (k
  * longs each), not a corpus pass. d87 proves the splice against the
  * oracle with in-query sketches; this is the same math
  * ([[Sketches.overlapColumns]] — one definition, cannot drift) over
  * PERSISTED sketches, which `CorpusCatalogSpec` pins equal to the
  * direct computation.
  *
  * Catalog build cost: one PERSISTED corpus projection feeding two
  * bounded aggregates (doc-level stats; gram-level sketch) combined on
  * a 1-row × 1-row broadcast join; release via CacheRegistry after the
  * consuming action (append does the write immediately, so the standard
  * releaseAll discipline applies).
  */
object CorpusCatalog {

  /** The catalog row for one dump: (dump_id, n_docs, n_tokens,
    * mean_quality on the 1e-4 grid, the KMV distinct-gram sketch, and
    * the CMS frequency sketch over the same gram stream, so
    * the catalog answers "how much do two dumps' gram SETS overlap"
    * (KMV splice) AND "how big is their gram EQUIJOIN" (CMS
    * inner-product splice) without re-reading any dump).
    */
  def summarize(docs: DataFrame, idCol: String, textCol: String,
                dumpId: String, k: Int = 256,
                cmsDepth: Int = 4, cmsWidth: Int = 2048,
                csDepth: Int = 5, csWidth: Int = 2048,
                domainCol: Option[String] = None,
                clusterLabels: Option[DataFrame] = None,
                containmentVerdicts: Option[DataFrame] = None,
                topGrams: Option[Int] = None,
                gramRows: Option[DataFrame] = None): DataFrame = {
    // the S4 persist-where-reused rule: the doc-stats branch and the
    // gram-sketch branch both read the same projection; without the
    // persist, Spark scans the dump TWICE (aggregate branches don't
    // share a scan)
    val base = graft.CacheRegistry.track(
      docs.select(col(idCol) +: col(textCol) +:
          domainCol.map(col).toSeq: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(TextAnalysis.tokenCount(col(textCol))), lit(0L)).as("n_tokens"),
      round(avg(TextAnalysis.qualityScore(col(textCol))), 4).as("mean_quality"))
    // gramRows (reuse over recompute): a caller that ALREADY holds this
    // dump's (idCol, sh) gram rows — e.g. d163, whose containment
    // derivation persists the corpus-wide shingle-array table — passes
    // them here instead of paying a second full shingle-hash pass (one
    // md5 per gram position) for the sketch/top-k branch. Must be
    // row-identical to MinHashLSH.shingles(docs, idCol, textCol, 3);
    // exploding the persisted shingleArrays frame is exactly that.
    val grams = gramRows.getOrElse(
      MinHashLSH.shingles(base, idCol, textCol, n = 3))
    // ONE gram pass builds all three sketches (the TypedImperativeAggregates
    // share the ObjectHashAggregate) — the shingle hashing never repeats
    val sketch = grams.agg(
      Sketches.kmvAgg(grams, col("sh"), k).as("sketch"),
      Sketches.cmsAgg(grams, col("sh"), cmsDepth, cmsWidth).as("cms"),
      Sketches.csAgg(grams, col("sh"), csDepth, csWidth).as("cs"))
    // The per-release DOMAIN CENSUS rides the catalog row too —
    // domain cardinality is census-sized, so the sorted (domain, cnt)
    // array is a few KB and release-over-release mixture drift
    // ([[domainDrift]]) becomes pure catalog math, the d87 pattern
    // applied to the d141 meter. sort_array pins a deterministic layout.
    val census = domainCol match {
      case Some(dc) => base
        .groupBy(col(dc).cast("string").as("domain"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .agg(sort_array(collect_list(struct(col("domain"), col("cnt"))))
          .as("domain_census"))
      case None => docs.sparkSession.sql("SELECT CAST(NULL AS " +
        "ARRAY<STRUCT<domain: STRING, cnt: BIGINT>>) AS domain_census")
    }
    // The near-dup CLUSTER-SIZE HISTOGRAM rides the row too —
    // the histogram (distinct size values × counts) is census-sized, so
    // the sorted (sz, cnt) array is a few KB and release-over-release
    // duplication CONCENTRATION ([[MinHashLSH
    // .clusterSizeProfileFromHistogram]]) becomes pure catalog math:
    // the d150/d151 pattern applied to the d153 meter. `clusterLabels`
    // is a [[MinHashLSH.clusters]] labeling of this dump (one row per
    // clustered doc, column `cluster`).
    val clusterCensus = clusterLabels match {
      case Some(lab) => lab
        .groupBy(col("cluster")).agg(count(lit(1)).cast("long").as("__s"))
        .groupBy(col("__s").as("sz")).agg(count(lit(1)).cast("long").as("cnt"))
        .agg(sort_array(collect_list(struct(col("sz"), col("cnt"))))
          .as("cluster_census"))
      case None => docs.sparkSession.sql("SELECT CAST(NULL AS " +
        "ARRAY<STRUCT<sz: BIGINT, cnt: BIGINT>>) AS cluster_census")
    }
    // The CONTAINMENT-VERDICT CENSUS rides the row too — one
    // (verdict, n_containers, cnt) row per distinct value pair, so
    // release-over-release containment posture (keep/drop split, fan-in
    // distribution, total containment edges) is pure catalog math via
    // [[JaccardJoin.containmentProfileFromCensus]]: the d154 pattern
    // applied to the d157 gate. `containmentVerdicts` is a
    // [[JaccardJoin.containmentDedupVerdicts]] frame for this dump.
    val containCensus = containmentVerdicts match {
      case Some(v) => v
        .groupBy(col("verdict").cast("string").as("verdict"),
          col("n_containers").cast("long").as("nc"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .agg(sort_array(collect_list(
          struct(col("verdict"), col("nc"), col("cnt"))))
          .as("containment_census"))
      case None => docs.sparkSession.sql("SELECT CAST(NULL AS " +
        "ARRAY<STRUCT<verdict: STRING, nc: BIGINT, cnt: BIGINT>>) " +
        "AS containment_census")
    }
    // The TOP-K GRAM CENSUS rides the row too — the exact
    // (gram-hash, doc-frequency) rows of the dump's K most widespread
    // 3-gram shingles (ties to the smaller hash), K rows of two longs.
    // Together with the CMS already on the row it makes gram-level
    // heavy-hitter DRIFT ([[heavyGramDriftFromRows]]) pure catalog math:
    // exact counts for each release's own top set, CMS point estimates
    // for the other release's counts of grams outside its top set —
    // "which boilerplate surged between releases" with zero corpus
    // passes at question time. The census is a second gram-level
    // aggregate (the top-k runs over the census, never the corpus);
    // the gram stream re-derives from the PERSISTED base projection, so
    // the scan never repeats (the shingle hashing does, once — cheaper
    // than persisting the corpus-sized exploded gram frame).
    val gramTop = topGrams match {
      case Some(kk) => grams
        .groupBy(col("sh")).agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("sh")).limit(kk)
        .agg(sort_array(collect_list(struct(col("sh"), col("cnt"))))
          .as("gram_topk"))
      case None => docs.sparkSession.sql("SELECT CAST(NULL AS " +
        "ARRAY<STRUCT<sh: BIGINT, cnt: BIGINT>>) AS gram_topk")
    }
    stats.crossJoin(broadcast(sketch)).crossJoin(broadcast(census))
      .crossJoin(broadcast(clusterCensus)).crossJoin(broadcast(containCensus))
      .crossJoin(broadcast(gramTop))
      .select(lit(dumpId).as("dump_id"), col("n_docs"), col("n_tokens"),
        col("mean_quality"), col("sketch"), lit(k).as("k"),
        Sketches.kmvEstimate(col("sketch"), k).as("est_distinct_grams"),
        col("cms"), lit(cmsDepth).as("cms_depth"), lit(cmsWidth).as("cms_width"),
        col("cs"), lit(csDepth).as("cs_depth"), lit(csWidth).as("cs_width"),
        col("domain_census"), col("cluster_census"),
        col("containment_census"), col("gram_topk"))
  }

  /** Append one dump's catalog row. */
  def append(docs: DataFrame, idCol: String, textCol: String,
             path: String, dumpId: String, k: Int = 256,
             cmsDepth: Int = 4, cmsWidth: Int = 2048,
             csDepth: Int = 5, csWidth: Int = 2048,
             domainCol: Option[String] = None,
             clusterLabels: Option[DataFrame] = None,
             containmentVerdicts: Option[DataFrame] = None,
             topGrams: Option[Int] = None,
             gramRows: Option[DataFrame] = None): Unit =
    summarize(docs, idCol, textCol, dumpId, k, cmsDepth, cmsWidth,
        csDepth, csWidth, domainCol, clusterLabels, containmentVerdicts,
        topGrams, gramRows)
      .write.mode("append").parquet(path)

  /** All pairwise dump overlaps from the persisted catalog alone — no
    * corpus is touched. Output one row per unordered dump pair with the
    * d87 columns plus `inter_est`.
    */
  def overlaps(spark: SparkSession, path: String, k: Int = 256): DataFrame = {
    // mergeSchema: a catalog appended to across library versions holds
    // BOTH pre-`k`-column and post-`k`-column files; without the merge a
    // single sampled footer decides whether `k` is visible at all, and a
    // pre-`k` file would silently fall back to the caller's default — the
    // exact skew the stored k exists to prevent.
    val cat = spark.read.option("mergeSchema", "true").parquet(path)
    // The sketch size k is part of the estimator: splicing a k=64 sketch
    // under k=256 treats it as an exact set and skews union/inter
    // estimates silently. Rows written since the `k` column exists carry
    // it; use the stored value (and require one uniform k across the
    // catalog — rows from pre-`k` files read as null and are rejected
    // LOUDLY rather than guessed at). Catalogs with no `k` column at all
    // fall back to the caller's parameter.
    val effK =
      if (cat.columns.contains("k")) {
        val ks = cat.select(col("k")).distinct().collect()
          .map(r => Option(r.getAs[Integer](0)).map(_.toInt))
        require(!ks.contains(None),
          s"catalog at $path mixes rows with and without a stored sketch " +
            "size k (older appends); re-append those dumps or " +
            "rebuild the catalog before splicing")
        val vals = ks.flatten
        require(vals.length == 1,
          s"catalog at $path mixes sketch sizes k=${vals.sorted.mkString(",")}; " +
            "overlaps() needs one uniform k")
        vals.head
      } else k
    val a = cat.select(col("dump_id").as("dump_a"), col("sketch").as("sk_a"))
    val b = cat.select(col("dump_id").as("dump_b"), col("sketch").as("sk_b"))
    a.join(b, col("dump_a") < col("dump_b"))
      .select(col("dump_a") +: col("dump_b") +:
        Sketches.overlapColumns(col("sk_a"), col("sk_b"), effK): _*)
  }

  /** One release's (domain, cnt) census exploded back out of its catalog
    * row — the input shape [[Sampling.jensenShannonFromCensus]] and
    * [[Sampling.mixtureEntropyFromCensus]] consume. Fails loudly on a
    * missing/duplicated dump or a row appended without `domainCol`
    * (splicing an empty census would silently report total drift).
    */
  def domainCensus(spark: SparkSession, path: String,
                   dumpId: String): DataFrame = {
    val cat = spark.read.option("mergeSchema", "true").parquet(path)
    require(cat.columns.contains("domain_census"),
      s"catalog at $path predates the domain_census column (current " +
        "appends carry it); re-append the dumps before splicing drift")
    val rows = cat.where(col("dump_id") === dumpId)
    val n = rows.count()
    require(n == 1, s"catalog at $path has $n rows for dump '$dumpId'; " +
      "domainCensus needs exactly one")
    require(rows.where(col("domain_census").isNotNull).count() == 1,
      s"catalog row for dump '$dumpId' at $path carries no domain census " +
        "(appended without domainCol); splicing an empty census would " +
        "read as total drift - re-append the dump with domainCol set")
    explodeDomainCensus(rows)
  }

  /** The explode half of [[domainCensus]], usable on an in-memory
    * [[summarize]] row too (the d150 query path). */
  def explodeDomainCensus(row: DataFrame): DataFrame =
    row.select(explode(col("domain_census")).as("dc"))
      .select(col("dc.domain").as("domain"), col("dc.cnt").as("cnt"))

  /** One release's near-dup cluster-SIZE histogram exploded back out of
    * its catalog row — the input shape
    * [[MinHashLSH.clusterSizeProfileFromHistogram]] consumes, so
    * duplication concentration (n_clusters, max_cluster, Gini) is
    * answerable release-over-release from the catalog with zero corpus
    * passes. Fails loudly on a missing/duplicated dump or a row appended
    * without `clusterLabels` (profiling an empty histogram would
    * silently read as "no duplication").
    */
  def clusterCensus(spark: SparkSession, path: String,
                    dumpId: String): DataFrame = {
    val cat = spark.read.option("mergeSchema", "true").parquet(path)
    require(cat.columns.contains("cluster_census"),
      s"catalog at $path predates the cluster_census column (current " +
        "appends carry it); re-append the dumps before profiling " +
        "duplication concentration")
    val rows = cat.where(col("dump_id") === dumpId)
    val n = rows.count()
    require(n == 1, s"catalog at $path has $n rows for dump '$dumpId'; " +
      "clusterCensus needs exactly one")
    require(rows.where(col("cluster_census").isNotNull).count() == 1,
      s"catalog row for dump '$dumpId' at $path carries no cluster census " +
        "(appended without clusterLabels); profiling an empty histogram " +
        "would silently read as zero duplication - re-append the dump " +
        "with clusterLabels set")
    explodeClusterCensus(rows)
  }

  /** The explode half of [[clusterCensus]], usable on an in-memory
    * [[summarize]] row too (the d154 query path). */
  def explodeClusterCensus(row: DataFrame): DataFrame =
    row.select(explode(col("cluster_census")).as("cc"))
      .select(col("cc.sz").as("sz"), col("cc.cnt").as("cnt"))

  /** One release's containment-verdict census exploded back out of its
    * catalog row — the input shape
    * [[JaccardJoin.containmentProfileFromCensus]] consumes, so the
    * containment posture (keep/drop split, container fan-in, total
    * containment edges) is answerable release-over-release from the
    * catalog with zero corpus passes. Fails loudly on a
    * missing/duplicated dump or a row appended without
    * `containmentVerdicts` (profiling an empty census would silently
    * read as "no containment").
    */
  def containmentCensus(spark: SparkSession, path: String,
                        dumpId: String): DataFrame = {
    val cat = spark.read.option("mergeSchema", "true").parquet(path)
    require(cat.columns.contains("containment_census"),
      s"catalog at $path predates the containment_census column " +
        "(current appends carry it); re-append the dumps before " +
        "profiling containment posture")
    val rows = cat.where(col("dump_id") === dumpId)
    val n = rows.count()
    require(n == 1, s"catalog at $path has $n rows for dump '$dumpId'; " +
      "containmentCensus needs exactly one")
    require(rows.where(col("containment_census").isNotNull).count() == 1,
      s"catalog row for dump '$dumpId' at $path carries no containment " +
        "census (appended without containmentVerdicts); profiling an " +
        "empty census would silently read as zero containment - " +
        "re-append the dump with containmentVerdicts set")
    explodeContainmentCensus(rows)
  }

  /** The explode half of [[containmentCensus]], usable on an in-memory
    * [[summarize]] row too (the d160 query path). */
  def explodeContainmentCensus(row: DataFrame): DataFrame =
    row.select(explode(col("containment_census")).as("vc"))
      .select(col("vc.verdict").as("verdict"), col("vc.nc").as("nc"),
        col("vc.cnt").as("cnt"))

  /** Release-over-release containment-posture DRIFT answered from the
    * CATALOG ALONE — the [[domainDrift]] promise extended to the
    * contamination gate: both releases' verdict censuses explode out of
    * their catalog rows, each feeds the SHARED one-row profile combine
    * ([[JaccardJoin.containmentProfileFromCensus]]), and the two 1-row
    * frames join on nothing (a broadcast 1×1) into side-by-side columns
    * plus signed deltas. Zero corpus passes; the heavy verdict
    * computation happened once per release at append time.
    *
    * Returns ONE row: `(n_docs_a, n_drop_a, n_contained_a,
    * n_container_edges_a, same *_b, d_drop, d_contained, d_edges)` —
    * "did this release get more contaminated/duplicated than the last"
    * as pure catalog math.
    */
  def containmentDrift(spark: SparkSession, path: String,
                       dumpA: String, dumpB: String): DataFrame = {
    def side(id: String, tag: String): DataFrame =
      graft.functions.JaccardJoin.containmentProfileFromCensus(
          containmentCensus(spark, path, id))
        .select(col("n_docs").as(s"n_docs_$tag"),
          col("n_drop").as(s"n_drop_$tag"),
          col("n_contained").as(s"n_contained_$tag"),
          col("n_container_edges").as(s"n_container_edges_$tag"))
    side(dumpA, "a").crossJoin(broadcast(side(dumpB, "b")))
      .withColumn("d_drop", col("n_drop_b") - col("n_drop_a"))
      .withColumn("d_contained",
        col("n_contained_b") - col("n_contained_a"))
      .withColumn("d_edges",
        col("n_container_edges_b") - col("n_container_edges_a"))
  }

  /** One release's top-K gram census exploded back out of its catalog
    * row — (sh, cnt) rows, the input shape [[heavyGramDriftFromRows]]
    * consumes. Fails loudly on a missing/duplicated dump or a row
    * appended without `topGrams` (splicing an empty top set would
    * silently read every gram of the other release as a total surge).
    */
  def gramTopk(spark: SparkSession, path: String,
               dumpId: String): DataFrame = {
    val cat = spark.read.option("mergeSchema", "true").parquet(path)
    require(cat.columns.contains("gram_topk"),
      s"catalog at $path predates the gram_topk column (current " +
        "appends carry it); re-append the dumps before splicing " +
        "heavy-gram drift")
    val rows = cat.where(col("dump_id") === dumpId)
    val n = rows.count()
    require(n == 1, s"catalog at $path has $n rows for dump '$dumpId'; " +
      "gramTopk needs exactly one")
    require(rows.where(col("gram_topk").isNotNull).count() == 1,
      s"catalog row for dump '$dumpId' at $path carries no top-gram " +
        "census (appended without topGrams); splicing an empty top set " +
        "would read as a total surge - re-append the dump with topGrams " +
        "set")
    explodeGramTopk(rows)
  }

  /** The explode half of [[gramTopk]], usable on an in-memory
    * [[summarize]] row too (the d165 query path). */
  def explodeGramTopk(row: DataFrame): DataFrame =
    row.select(explode(col("gram_topk")).as("gt"))
      .select(col("gt.sh").as("sh"), col("gt.cnt").as("cnt"))

  /** Gram-level heavy-hitter DRIFT between two releases from their
    * catalog rows alone — "which boilerplate/slop grams surged
    * release-over-release" with ZERO corpus passes at question time
    * (the [[overlaps]] promise applied to the d91 heavy-hitter signal).
    *
    * For every gram hash in EITHER release's stored top-K census:
    * exact doc-frequency where the gram made that release's top set,
    * the release's stored-CMS point estimate where it did not (the
    * sketch was built over the same gram stream at append time). Output
    * one row per candidate gram: `(sh, in_top_a, in_top_b, est_a,
    * est_b, surge = est_b − est_a)`.
    *
    * Estimate direction is CONSERVATIVE for surge detection: the CMS
    * never undercounts, so a gram new to release B's top set has its
    * A-side count OVERestimated and its surge UNDERestimated — no false
    * surges from sketch error (misses need the true surge to sit within
    * CMS error, ≈ e/width of the gram stream). Both frames are K rows;
    * the join is broadcast-sized by construction.
    */
  def heavyGramDriftFromRows(rowA: DataFrame, rowB: DataFrame,
                             cmsDepth: Int = 4,
                             cmsWidth: Int = 2048): DataFrame = {
    // the S4 persist-where-reused rule: each 1-row input feeds TWO
    // branches (the top-set explode and the CMS attach), and Spark has
    // no common-subtree reuse across DataFrame references — un-persisted,
    // an in-memory summarize row would re-run its whole gram/sketch
    // aggregation once per branch (the catalog path only dodges that by
    // round-tripping through parquet). One row each: the cache is bytes.
    val ra = graft.CacheRegistry.track(rowA.persist())
    val rb = graft.CacheRegistry.track(rowB.persist())
    // loud-contract parity with the catalog loaders (gramTopk /
    // heavyGramDrift): a summarize row built without topGrams has a NULL
    // gram_topk, which explodeGramTopk silently turns into zero rows —
    // the drift would come back empty or one-sided with no hint why. An
    // EMPTY array stays allowed (the EmptyInputSpec contract: a release
    // with no grams drifts against everything in the other top set).
    Seq("A" -> ra, "B" -> rb).foreach { case (side, r) =>
      require(r.where(col("gram_topk").isNotNull).count() == 1,
        s"summarize row $side has a null gram_topk (built without " +
          "topGrams?); heavy-gram drift needs both rows' top sets")
    }
    val ta = explodeGramTopk(ra).select(col("sh"), col("cnt").as("cnt_a"))
    val tb = explodeGramTopk(rb).select(col("sh"), col("cnt").as("cnt_b"))
    val skA = ra.select(col("cms").as("cms_a"))
    val skB = rb.select(col("cms").as("cms_b"))
    ta.join(tb, Seq("sh"), "full_outer")
      .crossJoin(broadcast(skA)).crossJoin(broadcast(skB))
      .select(col("sh"),
        col("cnt_a").isNotNull.cast("int").as("in_top_a"),
        col("cnt_b").isNotNull.cast("int").as("in_top_b"),
        coalesce(col("cnt_a"),
          Sketches.cmsEstimate(col("cms_a"), col("sh"), cmsDepth, cmsWidth))
          .as("est_a"),
        coalesce(col("cnt_b"),
          Sketches.cmsEstimate(col("cms_b"), col("sh"), cmsDepth, cmsWidth))
          .as("est_b"))
      .withColumn("surge", col("est_b") - col("est_a"))
  }

  /** [[heavyGramDriftFromRows]] against the PERSISTED catalog: reads the
    * two dumps' rows, validates uniform CMS dimensions (they parameterize
    * the estimator the same way k does for [[overlaps]]), and runs the
    * shared combine — one definition with the in-memory path, cannot
    * drift.
    */
  def heavyGramDrift(spark: SparkSession, path: String,
                     dumpA: String, dumpB: String): DataFrame = {
    val cat = spark.read.option("mergeSchema", "true").parquet(path)
    require(cat.columns.contains("gram_topk") && cat.columns.contains("cms"),
      s"catalog at $path predates the gram_topk/cms columns; re-append " +
        "the dumps before splicing heavy-gram drift")
    def row(id: String): DataFrame = {
      val r = cat.where(col("dump_id") === id)
      val n = r.count()
      require(n == 1, s"catalog at $path has $n rows for dump '$id'; " +
        "heavyGramDrift needs exactly one")
      require(r.where(col("gram_topk").isNotNull && col("cms").isNotNull)
          .count() == 1,
        s"catalog row for dump '$id' at $path carries no top-gram census " +
          "or no CMS (appended without topGrams, or before the CMS column); " +
          "re-append the dump before splicing heavy-gram drift")
      r
    }
    val (ra, rb) = (row(dumpA), row(dumpB))
    val dims = ra.unionByName(rb)
      .select(col("cms_depth"), col("cms_width")).distinct().collect()
      .map(x => (Option(x.getAs[Integer](0)).map(_.toInt),
        Option(x.getAs[Integer](1)).map(_.toInt)))
    require(dims.length == 1 && dims.head._1.isDefined && dims.head._2.isDefined,
      s"catalog at $path mixes CMS dimensions ${dims.mkString(",")} " +
        "across the two dumps; heavyGramDrift needs one uniform " +
        "(depth, width)")
    heavyGramDriftFromRows(ra, rb, dims.head._1.get, dims.head._2.get)
  }

  /** Release-over-release source-mixture drift answered from the CATALOG
    * ALONE — two census explodes and the shared d141 grid combine; zero
    * corpus passes (the [[overlaps]] promise, extended to the
    * distribution meters).
    */
  def domainDrift(spark: SparkSession, path: String,
                  dumpA: String, dumpB: String): DataFrame =
    Sampling.jensenShannonFromCensus(
      domainCensus(spark, path, dumpA),
      domainCensus(spark, path, dumpB), "domain", "cnt")

  /** Append one release's per-dimension embedding-moment census
    * ([[VectorOps.embeddingCensus]] schema + dump_id) — dim-sized rows,
    * the standing artifact that answers embedding drift (d143) without
    * re-reading any vectors. A separate table from the text catalog
    * because it censuses a different source (the embeddings table) at a
    * different grain (one row per dimension, not per dump).
    */
  def appendEmbeddingCensus(embs: DataFrame, vecCol: String,
                            path: String, dumpId: String): Unit =
    VectorOps.embeddingCensus(embs, vecCol)
      .withColumn("dump_id", lit(dumpId))
      .write.mode("append").parquet(path)

  /** Embedding drift between two releases from the persisted census
    * table alone — the [[VectorOps.embeddingDriftFromCensus]] combine
    * over stored moments (one definition with d143's in-query path).
    */
  def embeddingDriftFromCatalog(spark: SparkSession, path: String,
                                dumpA: String, dumpB: String): DataFrame = {
    val cat = spark.read.parquet(path)
    def side(id: String): DataFrame = {
      val c = cat.where(col("dump_id") === id)
        .select("dim", "n", "s", "ss")
      // a re-appended dump would double every moment silently — the
      // census table is dim-sized, so the uniqueness probe is two tiny
      // counts, not a corpus pass
      val rows = c.count()
      val dims = c.select("dim").distinct().count()
      require(rows > 0, s"census at $path has no rows for dump '$id'")
      require(rows == dims, s"census at $path has duplicate dim rows for " +
        s"dump '$id' ($rows rows, $dims dims) - re-appended? rebuild it")
      c
    }
    VectorOps.embeddingDriftFromCensus(side(dumpA), side(dumpB))
  }

  /** All pairwise gram-EQUIJOIN-size estimates from the persisted catalog
    * alone — the [[Sketches.cmsInnerProduct]] splice over stored CMS
    * sketches (one definition with d113's in-query path, cannot drift).
    * Output one row per unordered dump pair: (dump_a, dump_b, est_join),
    * with est_join as exact `decimal(38,0)` — the deployed surface keeps
    * the full-precision estimate ([[Sketches.cmsInnerProduct]]'s overflow
    * note; a long would wrap past 2^63 at ~1e11-item streams).
    * Structurally never an underestimate; accuracy regime documented on
    * [[Sketches.cmsJoinSize]].
    *
    * The CMS dimensions are part of the estimator the same way k is for
    * [[overlaps]]: rows from pre-CMS catalog files (null cms) or mixed
    * (depth, width) are rejected LOUDLY rather than spliced wrongly.
    */
  def joinSizes(spark: SparkSession, path: String): DataFrame = {
    val cat = spark.read.option("mergeSchema", "true").parquet(path)
    require(cat.columns.contains("cms"),
      s"catalog at $path predates the CMS column (current appends carry " +
        "it); re-append the dumps or rebuild the catalog before splicing " +
        "join sizes")
    val dims = cat.select(col("cms_depth"), col("cms_width")).distinct()
      .collect()
      .map(r => (Option(r.getAs[Integer](0)).map(_.toInt),
        Option(r.getAs[Integer](1)).map(_.toInt)))
    require(dims.forall(d => d._1.isDefined && d._2.isDefined),
      s"catalog at $path mixes rows with and without CMS dimensions; " +
        "re-append those dumps before splicing join sizes")
    require(dims.length == 1,
      s"catalog at $path mixes CMS dimensions ${dims.mkString(",")}; " +
        "joinSizes() needs one uniform (depth, width)")
    val (depth, width) = (dims.head._1.get, dims.head._2.get)
    val hasCs = cat.columns.contains("cs")
    val csDims: Option[(Int, Int)] = if (hasCs) {
      val ds = cat.select(col("cs_depth"), col("cs_width")).distinct()
        .collect()
        .map(r => (Option(r.getAs[Integer](0)).map(_.toInt),
          Option(r.getAs[Integer](1)).map(_.toInt)))
      require(ds.forall(d => d._1.isDefined && d._2.isDefined),
        s"catalog at $path mixes rows with and without Count-Sketch " +
          "dimensions; re-append those dumps before splicing join sizes")
      require(ds.length == 1,
        s"catalog at $path mixes Count-Sketch dimensions ${ds.mkString(",")}; " +
          "joinSizes() needs one uniform (cs_depth, cs_width)")
      Some((ds.head._1.get, ds.head._2.get))
    } else None
    val csCols = if (hasCs) Seq(col("cs").as("cs_a")) else Nil
    val csColsB = if (hasCs) Seq(col("cs").as("cs_b")) else Nil
    val a = cat.select(col("dump_id").as("dump_a") +:
      col("cms").as("cms_a") +: csCols: _*)
    val b = cat.select(col("dump_id").as("dump_b") +:
      col("cms").as("cms_b") +: csColsB: _*)
    val joined = a.join(b, col("dump_a") < col("dump_b"))
    // est_join: the CMS min-over-rows — a structural UPPER BOUND, tight
    // on heavy-hitter streams. est_join_cs (when the catalog carries
    // Count-Sketches; current appends do): the AMS median-of-rows —
    // UNBIASED, the number to plan with in the sparse wide-domain regime
    // where the CMS bound is loose. Pre-CS catalogs get est_join only.
    val base = joined.select(col("dump_a"), col("dump_b"),
      Sketches.cmsInnerProduct(col("cms_a"), col("cms_b"), depth, width)
        .as("est_join"))
    csDims.fold(base) { case (csD, csW) =>
      joined.select(col("dump_a"), col("dump_b"),
        Sketches.cmsInnerProduct(col("cms_a"), col("cms_b"), depth, width)
          .as("est_join"),
        Sketches.csInnerProduct(col("cs_a"), col("cs_b"), csD, csW)
          .as("est_join_cs"))
    }
  }
}
