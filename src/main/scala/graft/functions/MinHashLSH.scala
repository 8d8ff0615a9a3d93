package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Superstep

/** MinHash + LSH near-duplicate detection for document corpora.
  *
  * Scale design (the point of LSH): everything up to the band-key join is
  * MAP-ONLY — shingling, hashing, per-doc dedup (`array_distinct`), the
  * k-seed signature (`transform` + `array_min` over the hashed-shingle
  * array), and band-key assembly all happen inside one projection with no
  * exchange. The only shuffles in the whole pipeline are the band-key
  * equijoin that produces candidates and the two id-equijoins that attach
  * hashed-shingle arrays for exact Jaccard — the minimal shuffle set for LSH
  * at any data size. Candidate pairs come from equality joins on band keys,
  * never an O(n²) cross join.
  *
  * Hashing: each shingle is md5'd ONCE to a 60-bit long; the k seeded
  * values are derived from it with `(a_j * x + j) mod p` universal hashing —
  * 8× less md5 than hashing per (seed, shingle), and an external SQL engine
  * can replay the exact signature (no JVM-private hash functions).
  */
object MinHashLSH {

  /** Modulus for the seeded-hash family: a prime just under 2^28, so
    * `(x % P) * a + j` stays far below 2^63 in both Spark and DuckDB
    * (whose BIGINT multiply errors on overflow rather than wrapping).
    */
  val P = 268435399L

  /** Per-seed multipliers (odd primes < 2^27): (x % P) * a < 2^55. */
  val SeedA: Seq[Long] = Seq(
    1299709L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)

  /** 60-bit base hash of a shingle: first 15 hex chars of md5. */
  def baseHash(sh: Column): Column =
    conv(substring(md5(sh), 1, 15), 16, 10).cast("long")

  /** Seed-j hash derived from the base hash: ((h % P) * a_j + j) % P. */
  def seededFromBase(h: Column, j: Int): Column =
    ((h % P) * SeedA(j) + j) % P

  /** Distinct hashed n-word shingles per doc as ONE array row:
    * (id, sh_arr: array&lt;long&gt;). Map-only — one md5 per shingle
    * position, per-doc dedup is `array_distinct`, not a shuffle.
    * Docs shorter than n words produce no rows (matching `range()`
    * semantics in SQL oracles).
    */
  def shingleArrays(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // Materialize the word array as its own projection first: higher-order
    // lambdas are interpreted, so a `split` captured inside the transform
    // would re-run per element. As a named attribute it runs once per row
    // (CollapseProject keeps non-cheap multiply-referenced aliases apart).
    val w = col("__words")
    // Native gram hashing (graft.plans.ShingleHashes): same 60-bit value
    // as `baseHash(concat_ws(" ", element_at(w, i+1..i+n)))` per 0-based
    // start 0..size-n (property-pinned in NativeShingleSpec), computed in
    // one codegen'd JVM loop instead of an interpreted per-gram HOF
    // lambda. Arrays shorter than n yield an EMPTY array inside the
    // expression itself — InferFiltersFromGenerate may duplicate it into a
    // pre-filter, but it can never see an out-of-range index there.
    val sh = graft.plans.TextExpressions
      .shinglesColumn(df.sparkSession, w, n)
    // SORTED at the source (one O(k log k) pass per DOC, map-side): every
    // downstream pair verify then runs the zero-allocation two-pointer
    // merge of graft_intersect_count instead of array_intersect's
    // per-CANDIDATE hash set + materialized result array. Order is
    // semantically free — every consumer is a set operation (minhash,
    // jaccard, containment, prefix ranks) — and the sorted-distinct
    // contract is property-pinned in SortedIntersectSpec.
    // NO operator-internal spread here: a guarded spread at this seam
    // measured d05 0.69 → 3.94 s at the canonical
    // local[32] (driver-measured, plan 8 → 13 Exchange — the added
    // REPARTITION_BY_NUM also pins AQE's partition count for every
    // downstream stage of all 17 shingle call sites). The single-row-group
    // pathology is handled at the few call sites where the downstream
    // stage is provably CPU-dominant (Spread.toCores, guide §2.5).
    df
      .select(col(idCol), split(lower(col(textCol)), " ").as("__words"))
      .where(size(w) >= n)
      .select(col(idCol), sort_array(array_distinct(sh)).as("sh_arr"))
  }

  /** Row form of [[shingleArrays]]: (id, sh) rows, one per distinct hashed
    * shingle.
    *
    * `explode_outer`, deliberately: plain `explode` lets
    * InferFiltersFromGenerate copy `size(sh_arr) > 0` / `isnotnull(sh_arr)`
    * into a pre-Generate Filter, where CollapseProject inlines the whole
    * per-gram md5 transform — the hash work then runs 3× per row inside an
    * interpreted Filter (measured 6–11 s vs 0.6–1 s on the sf0.1 corpus).
    * Outer generates get no inferred filter, and [[shingleArrays]] never
    * yields an empty or null array (rows shorter than n are filtered, the
    * rest have ≥ 1 gram), so the null-padding difference cannot fire.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shingleArrays(df, idCol, textCol, n)
      .select(col(idCol), explode_outer(col("sh_arr")).as("sh"))

  /** The signature COLUMN for a hashed-shingle-array column — the single
    * definition both the batch path ([[signatureArray]]) and the streaming
    * path ([[graft.streaming.DocStream.nearDupTag]]) build from, so the
    * two sides of a stream-static band join can never drift.
    */
  def signatureCol(shArr: Column, k: Int): Column = {
    require(k <= SeedA.length, s"k=$k exceeds the ${SeedA.length} defined seeds")
    array((0 until k).map(j =>
      array_min(transform(shArr, h => seededFromBase(h, j)))): _*)
  }

  /** The band-key ARRAY column for a signature column (key b = ","-join of
    * signature values [b*r, (b+1)*r)) — shared single definition, see
    * [[signatureCol]].
    */
  def bandKeysCol(sig: Column, k: Int, r: Int): Column = {
    require(k % r == 0, s"k=$k must be a multiple of r=$r")
    transform(
      sequence(lit(0), lit(k / r - 1)),
      b => array_join(transform(slice(sig, b * r + 1, lit(r)), v => v.cast("string")), ","))
  }

  /** MinHash signature as an array column: sig[j] = min seeded hash over the
    * doc's shingles, j in [0,k). Pure projection — no explode, no shuffle;
    * the per-(doc,seed) min becomes `array_min(transform(...))` evaluated
    * inside codegen, and the seed mix is 3 integer ops (no md5).
    */
  def signatureArray(shArr: DataFrame, idCol: String, k: Int = 8): DataFrame =
    shArr.select(col(idCol), signatureCol(col("sh_arr"), k).as("sig"))

  /** LSH banding with rows-per-band r: each band key is the ","-join of r
    * consecutive signature values. Returns (id, band, bkey) — one posexplode,
    * still map-only.
    */
  def bands(sig: DataFrame, idCol: String, k: Int = 8, r: Int = 2): DataFrame =
    sig.select(col(idCol), posexplode(bandKeysCol(col("sig"), k, r)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")

  /** Candidate pairs (a < b) sharing at least one band key — the ONLY join
    * that scales: equality on (band, bkey), never a cross product.
    */
  def candidates(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col(idCol).as("doc_a"), col("band"), col("bkey"))
    val b = bands.select(col(idCol).as("doc_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** |a ∩ b| of two [[shingleArrays]]-derived columns — the native
    * two-pointer merge ([[graft.plans.SortedLongIntersectCount]]): zero
    * allocation per pair vs `array_intersect`'s hash set + materialized
    * result array. INPUT CONTRACT: ascending-sorted distinct arrays,
    * which is what [[shingleArrays]] emits; any other derivation must
    * `sort_array` first (silent undercount otherwise).
    *
    * Pass the owning DataFrame's session where one is in hand: the
    * function registration is per-session, and the no-arg overload's
    * `SparkSession.active` can be a DIFFERENT session in a multi-session
    * JVM — the Column would then fail resolution with an
    * unresolved-function error far from the cause.
    */
  def intersectCountCol(spark: org.apache.spark.sql.SparkSession,
                        a: Column, b: Column): Column =
    graft.plans.ArrayExpressions.intersectCountColumn(spark, a, b)

  /** [[intersectCountCol]] against the thread's active session — only for
    * call sites with no DataFrame in scope. */
  def intersectCountCol(a: Column, b: Column): Column =
    intersectCountCol(org.apache.spark.sql.SparkSession.active, a, b)

  /** Exact Jaccard of two hashed-shingle-array columns, on the shared 1e-6
    * output grid — the one similarity definition every consumer (batch
    * verify, exact join, stream-static tagger) computes with. Inputs are
    * [[shingleArrays]]-sorted (the [[intersectCountCol]] contract).
    */
  def jaccardCol(spark: org.apache.spark.sql.SparkSession,
                 a: Column, b: Column): Column = {
    val ni = intersectCountCol(spark, a, b)
    // graft_round_ratio = round(ni / union, 6) bit-for-bit (RoundRatioSpec)
    // without Round(double)'s per-row Double.toString -> BigDecimal parse,
    // which this pays once per CANDIDATE in every verify
    graft.plans.ArrayExpressions.roundRatioColumn(spark,
      ni, (size(a) + size(b)).cast("long") - ni)
  }

  /** [[jaccardCol]] against the thread's active session. */
  def jaccardCol(a: Column, b: Column): Column =
    jaccardCol(org.apache.spark.sql.SparkSession.active, a, b)

  /** Exact hashed-shingle-set Jaccard for candidate pairs only: two
    * id-equijoins to attach the (deduped, sorted) long arrays, then the
    * native merge count — the per-pair work never re-explodes shingles,
    * and the intersection compares longs, not strings. Pairs sharing no
    * shingle drop out (they were band-collision candidates).
    */
  def jaccard(cand: DataFrame, shArr: DataFrame, idCol: String): DataFrame =
    cand
      .join(shArr.select(col(idCol).as("doc_a"), col("sh_arr").as("sa")), Seq("doc_a"))
      .join(shArr.select(col(idCol).as("doc_b"), col("sh_arr").as("sb")), Seq("doc_b"))
      .where(intersectCountCol(cand.sparkSession, col("sa"), col("sb")) > 0)
      .select(col("doc_a"), col("doc_b"),
        jaccardCol(cand.sparkSession, col("sa"), col("sb")).as("jaccard"))

  /** Connected components over near-dup pairs: each doc labeled with the
    * smallest doc id reachable through the pair graph — the "pick one
    * canonical per duplicate cluster" step after LSH.
    *
    * Distributed min-label propagation: each iteration joins the current
    * labels across the edge list and keeps the per-node min; converges in
    * O(diameter) rounds ≤ `maxIter` (near-dup clusters are shallow — dup
    * groups are near-cliques, so 2-3 rounds typically suffice). Each round
    * is one join + one agg; nothing ever collects to the driver.
    * Returns (id, cluster) for every id appearing in `pairs`.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .persist(disk)
    // Labels only ever decrease, so the label sum is strictly monotone until
    // the fixpoint: sum unchanged ⟺ converged. One tiny agg per round — no
    // join-based change detection. Decimal keeps the sum exact at any scale.
    def labelSum(l: DataFrame): BigInt =
      Option(l.agg(sum(col("cluster").cast("decimal(38,0)"))).head().getDecimal(0))
        .fold(BigInt(0))(d => BigInt(d.toBigInteger)) // zero rows sum to null
    val init = edges.groupBy(col("a").as("id"))
      .agg(least(min("b"), first("a")).as("cluster")).persist(disk)
    // One hop per round: min label over the 1-hop neighborhood. Near-dup
    // components are near-cliques, so depth is small. Two rejected
    // variants, both MEASURED slower: pointer jumping (label(label(id)) —
    // an extra join per round) and two hops per materialization (the
    // inner hop feeds both the union and the join of the outer hop, so
    // its shuffles recompute — exchange reuse does not reliably kick in).
    // Every round is persisted for the sum probe; every 5th is truncated
    // as well, because each round's plan nests the previous one and after
    // many rounds analysis on the driver becomes the cost even with the
    // data persisted. Near-dup graphs converge in 2-3 rounds, so the
    // cadence only fires on adversarially deep components. The returned
    // labels root in the last persist (CacheRegistry) and, after five
    // rounds, the last truncation (Checkpoints) — drain both registries
    // only once the result is consumed.
    val labels = Superstep.iterate("clusters()", init, maxIter,
      truncateEvery = 5,
      probe = Some(Superstep.unchanged(labelSum(init))(labelSum)),
      // silent non-convergence would return wrong clusters
      mustConverge = Some("component diameter exceeds maxIter; raise " +
        "maxIter (rounds needed ≈ graph diameter)")) { labels =>
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "b"), "b")
        .select(col("a").as("id"), col("cluster"))
      labels.unionByName(viaNeighbor)
        .groupBy("id").agg(min("cluster").as("cluster"))
    }.frame
    edges.unpersist(false)
    labels
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond" — the two-phase
    * large-star/small-star algorithm): converges in O(log n) rounds on ANY
    * graph, vs [[clusters]]' O(diameter) min-label rounds. Same output
    * contract as [[clusters]] — (id, cluster = smallest reachable id) for
    * every id appearing in `pairs` — and spec-pinned equivalent on random
    * graphs, so callers pick by graph shape: near-dup clusters are
    * near-cliques (diameter 2-3, [[clusters]] is fine and cheaper per
    * round); link-chain-shaped graphs (URL redirects, citation chains,
    * adversarial dup chains) have large diameters where label propagation
    * needs thousands of rounds and this needs ~log.
    *
    * Each round is two star operations; each star is one groupBy(min) on
    * the edge list plus one join back — the same bounded shuffle family
    * as a label-propagation round, no driver data, no collects. Edges
    * only ever point toward smaller ids, so Σ(a+b) over the edge list is
    * strictly monotone decreasing until the fixpoint — the same exact
    * decimal convergence test [[clusters]] uses, no join-based change
    * detection.
    *
    * Reliable-checkpoint retention: each round's frame is EDGE-LIST-sized
    * (not label-sized like [[clusters]]'), so superseded rounds are
    * released as the loop advances ([[graft.Checkpoints.release]] deletes
    * their files) — only the final round's file-set remains (it backs the
    * returned labels' lineage), whether or not the deployment enables
    * spark.cleaner.referenceTracking.cleanCheckpoints.
    */
  def clustersStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // normalized undirected edge list as (hi, lo) with hi > lo; self
    // loops drop. Node labels are read off the contracted edges at the
    // end; nodes whose edges contract away entirely label themselves.
    // pairs is scanned through ONE persisted projection: both the initial
    // edge list and the node set derive from it, so an expensive pairs
    // lineage (d109's full LSH pipeline) computes once, not once per
    // consumer. Released with the result via CacheRegistry.
    val pp = graft.CacheRegistry.track(pairs
      .select(col("doc_a").as("pa"), col("doc_b").as("pb"))
      .persist(disk))
    val edges0 = graft.CacheRegistry.track(pp
      .select(greatest(col("pa"), col("pb")).as("a"),
        least(col("pa"), col("pb")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .persist(disk))
    val nodes = pp
      .select(col("pa").as("id"))
      .unionByName(pp.select(col("pb").as("id")))
      .distinct()
    // cast each endpoint to decimal BEFORE the addition: ids near 2^63
    // (hash-derived node ids) would wrap a long a+b and a wrapped sum
    // colliding across rounds would declare convergence on a non-fixpoint
    def edgeSum(e: DataFrame): BigInt =
      Option(e.agg(sum(col("a").cast("decimal(38,0)") +
          col("b").cast("decimal(38,0)")))
        .head().getDecimal(0)).fold(BigInt(0))(d => BigInt(d.toBigInteger))
    // the two star operations, exactly per the paper: each center u links
    // a side of its neighborhood to a local minimum.
    //  - large-star(u): m = min(Γ(u) ∪ {u}) over the FULL neighborhood;
    //    emit (v, m) for every strictly larger neighbor v > u — shrinks
    //    long chains while preserving connectivity.
    //  - small-star(u): restricted to the ≤ side — m = min(Γ≤(u) ∪ {u});
    //    emit (v, m) for v ∈ Γ≤(u) and (u, m) — stars the small side.
    // Each undirected edge participates in exactly one orientation per
    // star (as (u, v>u) in large, as (u, v≤u) in small).
    def star(e: DataFrame, large: Boolean): DataFrame = {
      // neighborhood as directed (center, other) in BOTH directions
      val nbrs = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val linked =
        if (large) {
          val m = nbrs.groupBy("u")
            .agg(least(min(col("v")), first(col("u"))).as("m"))
          nbrs.where(col("v") > col("u"))
            .join(m, "u").select(col("v").as("x"), col("m"))
        } else {
          val smallN = nbrs.where(col("v") <= col("u"))
          val m = smallN.groupBy("u")
            .agg(least(min(col("v")), first(col("u"))).as("m"))
          smallN.join(m, "u").select(col("v").as("x"), col("m"))
            .unionByName(m.select(col("u").as("x"), col("m")))
        }
      linked.where(col("x") =!= col("m"))
        .select(greatest(col("x"), col("m")).as("a"),
          least(col("x"), col("m")).as("b"))
        .distinct()
    }
    // Every round is truncated: one round stacks ~6 plan operators (two
    // stars of groupBy+join+union+distinct), so untruncated lineage makes
    // driver-side analysis the dominant cost within 2-3 rounds (an
    // 11-node chain measured 75 s on a 5-round cadence, 3 s truncating
    // each round); rounds are O(log n), so the truncation is the cheap
    // side everywhere. Superseded rounds are released as the loop
    // advances — with a checkpoint dir that deletes their files — so only
    // the last round's edge-list-sized frame, which backs the returned
    // labels, outlives the call.
    val edges = Superstep.iterate("clustersStar()", edges0, maxIter,
      probe = Some(Superstep.unchanged(edgeSum(edges0))(edgeSum)),
      mustConverge = Some("~log2(n) rounds expected")) { e =>
      star(star(e, large = true), large = false)
    }.frame
    // at the fixpoint every component is a star centered at its min, so a
    // non-root node's single edge is (member, root); group-min defensively
    // (a duplicate edge could only over-report, never change the min) and
    // nodes whose edges contracted away label themselves
    val roots = edges.groupBy(col("a").as("id")).agg(min(col("b")).as("cluster"))
    val labels = nodes
      .join(roots, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    graft.CacheRegistry.track(labels)
    labels
  }

  /** Quality-aware canonical selection: given per-doc cluster labels from
    * [[clusters]], keep the HIGHEST-quality member of each near-dup cluster
    * (ties broken by smallest id) instead of [[clusters]]' min-id label —
    * what production corpus pipelines actually ship (cf. SemDeDup keeping
    * one representative per semantic cluster).
    *
    * Returns (idCol, cluster, keep) for EVERY doc: docs outside any
    * near-dup pair are their own singleton cluster and always kept.
    *
    * Scale shape: `clusterLabels` holds only docs that appear in a
    * near-dup pair — typically a small fraction of the corpus — so the
    * canonical election groups a SMALL frame, and the two corpus-side
    * joins are broadcastable when the dup set is small (left to AQE, which
    * sees the label frame's real size at runtime). The full corpus is
    * never shuffled by cluster id.
    */
  def canonicalByQuality(docs: DataFrame, idCol: String, quality: Column,
                         clusterLabels: DataFrame): DataFrame = {
    val labels = clusterLabels.select(col("id").as(idCol), col("cluster"))
    val canon = docs.select(col(idCol), quality.as("__q"))
      .join(labels, Seq(idCol))
      .groupBy("cluster")
      .agg(max_by(col(idCol), struct(col("__q"), -col(idCol))).as("__canonical"))
    docs.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .join(canon, Seq("cluster"), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster"),
        (col("cluster").isNull || col(idCol) === col("__canonical")).as("keep"))
  }

  /** End-to-end: candidate near-dup pairs with exact Jaccard attached.
    *
    * Two compact intermediates are cached (SURVEY.md §2.1 S4: cache only
    * what is reused ≥2×): the per-doc hashed-shingle array (feeds the
    * signature and both sides of the Jaccard join) and the tiny band table
    * (docs × k/r rows) — without the latter the candidates self-join would
    * recompute the whole signature once per side.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 8, r: Int = 2): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = graft.CacheRegistry.track(
      shingleArrays(df, idCol, textCol, n).persist(disk))
    val b = graft.CacheRegistry.track(
      bands(signatureArray(sh, idCol, k), idCol, k, r).persist(disk))
    jaccard(candidates(b, idCol), sh, idCol)
  }

  /** Near-dup pairs verified by CHARACTER edit distance instead of shingle
    * Jaccard: the same LSH banding prunes candidates, but the verdict is
    * `levenshtein(text_a, text_b)` normalized by the longer text on the
    * 1e-6 integer grid — the right verifier when "duplicate" means
    * character-level revision (typo fixes, template fills, small edits),
    * where shingle sets can diverge fast while the edit span stays tiny.
    *
    * Plan shape: candidates are the banding equijoin (never a cross
    * product); the O(len²) Levenshtein runs ONLY on banded candidates —
    * the d124 principle (expensive verify on a pruned set). `dist` is an
    * int and `norm_micro = dist·10^6 div max(len)` a long, so the result
    * is engine-exact; zero-length-on-both-sides pairs are excluded (the
    * normalization is undefined). At 100 TB, cap verify cost with Spark's
    * thresholded `levenshtein(l, r, max)` (returns −1 past `max`, so the
    * DP row aborts early) — kept un-thresholded here for oracle parity.
    *
    * Returns (doc_a, doc_b, dist, norm_micro), doc_a < doc_b,
    * norm_micro ≤ maxNorm·10^6.
    */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 8, r: Int = 2,
                        maxNorm: Double = 0.3): DataFrame = {
    require(maxNorm > 0.0 && maxNorm <= 1.0, s"maxNorm=$maxNorm out of (0,1]")
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val b = graft.CacheRegistry.track(
      bands(signatureArray(shingleArrays(df, idCol, textCol, n), idCol, k),
        idCol, k, r).persist(disk))
    val texts = df.select(col(idCol), col(textCol))
    candidates(b, idCol)
      .join(texts.select(col(idCol).as("doc_a"), col(textCol).as("__ta")),
        Seq("doc_a"))
      .join(texts.select(col(idCol).as("doc_b"), col(textCol).as("__tb")),
        Seq("doc_b"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")))
      .where(greatest(length(col("__ta")), length(col("__tb"))) > 0)
      .withColumn("norm_micro", expr(
        "CAST(dist AS BIGINT) * 1000000 div " +
          "greatest(length(__ta), length(__tb))"))
      .where(col("norm_micro") <= (maxNorm * 1e6).toLong)
      .select(col("doc_a"), col("doc_b"), col("dist"), col("norm_micro"))
  }

  /** Standing near-dup band index — the per-corpus-release ARTIFACT: one
    * (id, band, bkey) row per doc × k/r bands, from the same
    * [[signatureCol]]/[[bandKeysCol]] definitions every other consumer
    * uses. At 100 TB this is computed once per release, written as a
    * (band, bkey)-bucketed table ([[graft.io.TableWriter]]), and reused by
    * every incremental batch — the corpus is never re-shingled for dedup
    * again; the only later corpus touches are the candidate-pruned
    * verification scans inside [[dedupAgainstIndex]].
    */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 3, k: Int = 8, r: Int = 2): DataFrame =
    bands(signatureArray(shingleArrays(docs, idCol, textCol, n), idCol, k),
      idCol, k, r)

  /** Incremental dedup decision report: every doc of a NEW batch judged
    * against a standing corpus through its precomputed [[bandIndex]] — the
    * production shape of near-dup dedup at 100 TB, where re-banding the
    * whole corpus per crawl increment (what [[nearDupPairs]] over
    * `corpus ∪ batch` amounts to) is corpus-sized work for batch-sized
    * questions.
    *
    * Plan shape — batch-sized except one pruned corpus scan:
    *  1. batch shingles + bands: map-only over the batch;
    *  2. candidates: (band, bkey) equijoin against the index — batch ×
    *     collision-multiplier rows, never corpus × corpus;
    *  3. the ONLY corpus touch: a left-semi join prunes the corpus to
    *     candidate ids, then re-shingles JUST those docs for exact
    *     verification. The index deliberately stores band keys, not
    *     shingle sets — the arrays are corpus-sized, and recomputing a
    *     candidate-pruned subset beats storing and shuffling them;
    *  4. per-batch-doc verdict: best verified match (highest jaccard,
    *     ties to the smallest corpus id — deterministic), else keep.
    *
    * Returns ONE ROW PER BATCH DOC (the report a dedup gate consumes):
    * (idCol, matched_doc, jaccard, verdict) — `drop` with the match when
    * some corpus doc verifies at `>= threshold`, else `keep` with the
    * repo's −1 sentinel and jaccard 0.0. Streaming twin:
    * [[graft.streaming.DocStream.nearDupTag]] (same band-key derivation
    * as a stream-static join, per-band emission).
    */
  def dedupAgainstIndex(batch: DataFrame, corpus: DataFrame, index: DataFrame,
                        idCol: String, textCol: String, n: Int = 3,
                        k: Int = 8, r: Int = 2,
                        threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0, // 0 would keep zero-overlap band collisions
      s"threshold=$threshold must be positive")
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bSh = graft.CacheRegistry.track( // feeds bands AND verification
      shingleArrays(batch, idCol, textCol, n).persist(disk))
    val bBands = bands(signatureArray(bSh, idCol, k), idCol, k, r)
    // Reused 2× (the id-prune branch AND the verify join — the S4 rule);
    // unpersisted, each consumer replays the index scan + band equijoin.
    val cand = graft.CacheRegistry.track(bBands
      .join(index.select(col(idCol).as("__corpus_doc"),
        col("band"), col("bkey")), Seq("band", "bkey"))
      .where(col(idCol) =!= col("__corpus_doc")) // shared-id spaces: no self-match
      .select(col(idCol), col("__corpus_doc")).distinct()
      .persist(disk))
    val candIds = cand.select(col("__corpus_doc").as(idCol)).distinct()
    val cSh = shingleArrays(
      corpus.join(candIds, Seq(idCol), "left_semi"), idCol, textCol, n)
    val verified = cand
      .join(bSh.select(col(idCol), col("sh_arr").as("__sa")), Seq(idCol))
      .join(cSh.select(col(idCol).as("__corpus_doc"),
        col("sh_arr").as("__sb")), Seq("__corpus_doc"))
      .select(col(idCol), col("__corpus_doc"),
        jaccardCol(col("__sa"), col("__sb")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("jaccard").desc, col("__corpus_doc").asc)
    val best = verified
      .withColumn("__rk", row_number().over(w)).where(col("__rk") === 1)
      .select(col(idCol), col("__corpus_doc").as("matched_doc"),
        col("jaccard"))
    batch.select(col(idCol))
      .join(best, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col("matched_doc").isNotNull, lit("drop"))
          .otherwise(lit("keep")).as("verdict"),
        coalesce(col("matched_doc"), lit(-1L)).as("matched_doc"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
  }

  /** Duplication-CONCENTRATION census over a [[clusters]] labeling: is the
    * dup mass one mega-cluster (cap the component, one canonical survives
    * a million drops) or spread thin (per-cluster election barely
    * matters)? One row — cluster count, total clustered docs, the largest
    * cluster, and the GINI of cluster sizes on the 1e-6 grid (0 = all
    * clusters equal, →1 = one cluster holds everything).
    *
    * Integer-exact via the sorted-rank identity
    * `G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)` — but computed WITHOUT a
    * global sort of the cluster table: ranks collapse onto the SIZE
    * HISTOGRAM (ties contribute independently of rank assignment, so
    * only (size v, count c_v, cumulative-below C_v) matter:
    * `Σ i·x = Σ_v v·(c_v·C_v + c_v(c_v+1)/2)`). The histogram is
    * census-sized (distinct size VALUES — the quantile-grid argument),
    * so the one orderBy window runs over it, never over the billions of
    * clusters a 100 TB corpus can hold; everything upstream is two keyed
    * partial aggs. All arithmetic in decimal(38,0)-exact sums (the
    * c(c+1)/2 term divides an even product — exact), one truncating
    * division at the very end; `Σi·x ≤ n·Σx`, so every intermediate is
    * ≤ 10^6·(n·Σx) — inside decimal's 10^38 for any physical corpus.
    *
    * Returns ONE row: (n_clusters, n_members, max_cluster, gini_micro).
    */
  def clusterSizeProfile(labels: DataFrame,
                         clusterCol: String = "cluster"): DataFrame =
    clusterSizeProfileFromSizes(
      labels.groupBy(col(clusterCol).as("__c"))
        .agg(count(lit(1)).cast("long").as("__sz")), "__sz")

  /** [[clusterSizeProfile]] from an already-computed per-cluster SIZE
    * frame (one row per cluster) — the seam the streaming twin enters
    * through: an update-mode cluster census is exactly this shape, so
    * streamed and batch concentration share every line of the combine.
    */
  def clusterSizeProfileFromSizes(sizes: DataFrame,
                                  sizeCol: String): DataFrame =
    clusterSizeProfileFromHistogram(
      sizes.groupBy(col(sizeCol).cast("long").as("__sz"))
        .agg(count(lit(1)).cast("long").as("__cv")), "__sz", "__cv")

  /** [[clusterSizeProfile]] from the (size, count) HISTOGRAM itself —
    * the seam the corpus catalog enters through ([[CorpusCatalog]]
    * stores the histogram as a census column, so release-over-release
    * duplication concentration is answerable with ZERO corpus passes,
    * the d150/d151 pattern). The histogram is census-sized by
    * construction (distinct size values), so the one orderBy window
    * below never sees more rows than that.
    */
  def clusterSizeProfileFromHistogram(histogram: DataFrame,
                                      sizeCol: String,
                                      countCol: String): DataFrame = {
    // defensive combine: the cumulative-base window below assumes ONE row
    // per distinct size — a caller handing an un-aggregated census (the
    // public seam accepts any frame) would otherwise get silently wrong
    // cumulative bases, i.e. a corrupt gini. The groupBy is census-sized,
    // a no-op shuffle-wise when the input is already a true histogram.
    val hist = histogram.select(col(sizeCol).cast("long").as("__sz"),
        col(countCol).cast("long").as("__cv"))
      .groupBy("__sz").agg(sum("__cv").cast("long").as("__cv"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__sz")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = hist.withColumn("__cb", coalesce(sum("__cv").over(w), lit(0L)))
    cum.selectExpr(
        ("CAST(__sz AS DECIMAL(38,0)) * (CAST(__cv AS DECIMAL(38,0)) * __cb" +
          " + CAST(CAST(__cv AS DECIMAL(38,0)) * (__cv + 1) / 2" +
          " AS DECIMAL(38,0))) AS __ix"),
        "CAST(__sz AS DECIMAL(38,0)) * __cv AS __sx",
        "__cv", "__sz")
      .agg(
        coalesce(sum("__ix"), lit(0L).cast("decimal(38,0)")).as("__six"),
        coalesce(sum("__sx"), lit(0L).cast("decimal(38,0)")).as("__s"),
        coalesce(sum("__cv"), lit(0L)).cast("long").as("n_clusters"),
        coalesce(max("__sz"), lit(0L)).cast("long").as("max_cluster"))
      .selectExpr("n_clusters", "CAST(__s AS BIGINT) AS n_members",
        "max_cluster",
        ("CASE WHEN n_clusters = 0 OR __s = 0 THEN CAST(0 AS BIGINT)" +
          " ELSE CAST((2 * __six - (n_clusters + 1) * __s) * 1000000" +
          " div (CAST(n_clusters AS DECIMAL(38,0)) * __s) AS BIGINT)" +
          " END AS gini_micro"))
  }
}
