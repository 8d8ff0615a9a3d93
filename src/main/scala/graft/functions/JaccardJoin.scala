package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheRegistry

/** Exact n-gram Jaccard set-similarity join via prefix filtering —
  * the AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al.,
  * WWW'08), the exact counterpart to [[MinHashLSH]]'s approximate banding.
  *
  * Guarantee: returns EVERY pair with shingle-set Jaccard ≥ `threshold`
  * (no false negatives, unlike LSH banding) with the exact similarity
  * attached, yet never forms the all-pairs product.
  *
  * How it scales: under any global total order over shingles, a pair with
  * J(a,b) ≥ t must share a shingle within the first
  * |x| − ⌈t·|x|⌉ + 1 shingles of BOTH docs (the prefix-filtering lemma:
  * J ≥ t ⟹ |a∩b| ≥ t·max(|a|,|b|), and skipping a full prefix leaves a
  * suffix too short to hold that intersection). So candidates come from an
  * EQUIJOIN on prefix shingles only — at t = 0.8 that is 20% of each doc —
  * and the exact Jaccard verify runs on candidates alone. With the
  * rarest-first global order (ascending document frequency) the join keys
  * are skew-free by construction: frequent shingles land in suffixes and
  * never become join keys, which is what keeps bucket sizes bounded on a
  * power-law vocabulary at corpus scale.
  *
  * Candidates are pruned twice more before the verify, both classic:
  * the length filter (J ≥ t ⟹ t·|a| ≤ |b| ≤ |a|/t) and PPJoin's
  * positional filter — for the FIRST shared prefix shingle, at global-order
  * ranks (ra, rb), no common shingle can precede it in either doc, so
  * |a∩b| ≤ 1 + min(|a|−ra, |b|−rb); pairs whose bound misses the required
  * overlap ⌈t/(1+t)·(|a|+|b|)⌉ never reach the verify join.
  *
  * Shuffle inventory (all equijoins/aggs, nothing quadratic): document
  * frequency agg + freq join + per-doc rank window (the rarest-first
  * order), candidate equijoin on prefix shingles, two id-joins for the
  * verify. `freqOrder = false` drops the first three — the global order
  * becomes the hash value itself, map-only prefix emission — for corpora
  * where the vocabulary is known to be flat.
  *
  * Two entry points: [[similarPairs]] (self-join, R×R with a &lt; b) and
  * [[similarPairsAcross]] (cross-set, R×S) — the latter is the shape a
  * benchmark-contamination audit needs, where generating and discarding
  * train×train candidates would dominate the work.
  */
object JaccardJoin {

  private val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** ⌈x⌉ with a one-sided guard against float ulp inflation: the exact
    * product t·|x| can land on an integer the double rounds a hair above
    * (0.7 × 30 = 21.000000000000004), and a plain ceil would then demand
    * one element too many — a silent false NEGATIVE. The epsilon only ever
    * admits an extra candidate (false positives are fine: the exact verify
    * decides), never drops one.
    */
  private def safeCeil(x: Column): Column = ceil(x - 1e-6)

  /** Prefix rows (…grp, sz, sh, r) for a shingle frame: r is the shingle's
    * 1-based rank under the global order, kept for the positional filter;
    * prefix length p(x) = |x| − ⌈t·|x|⌉ + 1. `grpCols` identifies a doc
    * (id alone for the self-join; (side, id) for the cross-set join where
    * the two inputs may share ids). The global order is rarest-first
    * (ascending df, ties by hash) when `freq` is given, the hash value
    * itself otherwise — either is total, which is all the lemma needs, but
    * both SIDES of one join must rank under the SAME order, which is why
    * the cross-set path computes one freq table over the union.
    */
  private def prefixRows(sh: DataFrame, grpCols: Seq[String],
                         threshold: Double, freq: Option[DataFrame]): DataFrame = {
    val grp = grpCols.map(col)
    freq match {
      case Some(f) =>
        val toks = sh.select(grp :+ size(col("sh_arr")).as("sz") :+
          explode(col("sh_arr")).as("sh"): _*)
        toks.join(f, "sh")
          .withColumn("r", row_number().over(
            Window.partitionBy(grp: _*).orderBy(col("df"), col("sh"))))
          .where(col("r") <= col("sz") - safeCeil(col("sz") * threshold) + 1)
          .select(grp :+ col("sz") :+ col("sh") :+ col("r"): _*)
      case None =>
        val sz = size(col("sh_arr"))
        val p = (sz - safeCeil(sz * threshold) + 1).cast("int")
        sh.select(grp :+ sz.as("sz") :+
            posexplode(slice(sort_array(col("sh_arr")), lit(1), p)): _*)
          .select(grp :+ col("sz") :+ col("col").as("sh") :+
            (col("pos") + 1).as("r"): _*)
    }
  }

  /** Document-frequency table (sh, df) over one or more shingle frames. */
  private def docFreq(shs: DataFrame*): DataFrame =
    shs.map(_.select(explode(col("sh_arr")).as("sh"))).reduce(_ unionByName _)
      .groupBy("sh").agg(count(lit(1)).as("df"))

  /** PPJoin candidate filter chain shared by both entry points: length
    * filter before the aggregation; min(ra)/min(rb) land on the SAME row
    * (ranks are consistent with one global order), giving the first shared
    * shingle for the positional filter.
    */
  private def candidateFilter(joined: DataFrame, threshold: Double): DataFrame =
    joined
      .where(col("sz_b") >= safeCeil(col("sz_a") * threshold) &&
        col("sz_a") >= safeCeil(col("sz_b") * threshold))
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(min("ra").as("ra"), min("rb").as("rb"))
      .where(lit(1) + least(col("sz_a") - col("ra"), col("sz_b") - col("rb")) >=
        safeCeil((col("sz_a") + col("sz_b")) * (threshold / (1.0 + threshold))))
      .select("doc_a", "doc_b")

  /** All pairs (doc_a < doc_b) with n-gram Jaccard ≥ `threshold`, as
    * (doc_a, doc_b, jaccard) with jaccard rounded to 1e-6 (the grid the
    * [[MinHashLSH.jaccard]] verify uses). Shingles are the same 60-bit
    * md5-hashed n-word grams as the MinHash pipeline, so the two operators
    * agree on what "the shingle set" is.
    *
    * Caching note: the shingle and prefix frames are persisted for the
    * lifetime of the returned plan (each is read by ≥2 subplans) and
    * registered with [[graft.CacheRegistry]]; a long-running driver should
    * call `CacheRegistry.releaseAll()` once results are consumed — a
    * targeted release that does not evict caches the caller created.
    */
  def similarPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, n: Int = 3,
                   freqOrder: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold out of (0,1]")
    // Reused ≥2×: prefix emission + both sides of the verify (S4 rule).
    val sh = CacheRegistry.track(
      MinHashLSH.shingleArrays(df, idCol, textCol, n).persist(disk))

    // Persisted (S4 rule): BOTH sides of the candidate self-join read the
    // prefix frame, and in the freq-order path the df agg + freq join +
    // rank window behind it would otherwise run once per side.
    val freq = if (freqOrder) Some(docFreq(sh)) else None
    val prefix = CacheRegistry.track(
      prefixRows(sh, Seq(idCol), threshold, freq).persist(disk))

    val cand = candidateFilter(
      prefix.select(col(idCol).as("doc_a"), col("sz").as("sz_a"),
          col("sh"), col("r").as("ra"))
        .join(prefix.select(col(idCol).as("doc_b"), col("sz").as("sz_b"),
          col("sh"), col("r").as("rb")), Seq("sh"))
        .where(col("doc_a") < col("doc_b")),
      threshold)

    MinHashLSH.jaccard(cand, sh, idCol).where(col("jaccard") >= threshold)
  }

  /** Cross-set variant: every pair (a ∈ `r`, b ∈ `s`) with n-gram Jaccard
    * ≥ `threshold`, as (doc_a from `r`, doc_b from `s`, jaccard). Same
    * prefix kernel and filters as [[similarPairs]], but the candidate
    * equijoin is r-prefix × s-prefix — when `r` is a small benchmark set
    * probed against a huge training corpus, none of the corpus×corpus
    * candidate generation and verification ever happens, which is the
    * difference between "join a tiny prefix table against the corpus
    * prefix table" and "self-join the corpus" at 100 TB.
    *
    * The global rarest-first order is computed over r ∪ s so both sides
    * rank identically (a requirement of the prefix lemma, and what makes
    * the returned pairs exactly the cross-set subset of the self-join over
    * r ∪ s when r and s partition a corpus). Within-r and within-s pairs
    * are not returned — by design.
    */
  def similarPairsAcross(r: DataFrame, s: DataFrame, idCol: String,
                         textCol: String, threshold: Double, n: Int = 3,
                         freqOrder: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold out of (0,1]")
    // One union frame with a side tag instead of two separate shingle
    // frames: the df agg, freq join and rank window then run ONCE over the
    // union (the same cost the self-join pays), and one persist serves the
    // prefix emission and both verify joins.
    val shU = CacheRegistry.track(
      MinHashLSH.shingleArrays(r, idCol, textCol, n).withColumn("__side", lit("r"))
        .unionByName(
          MinHashLSH.shingleArrays(s, idCol, textCol, n).withColumn("__side", lit("s")))
        .persist(disk))

    val freq = if (freqOrder) Some(docFreq(shU)) else None
    val prefix = CacheRegistry.track(
      prefixRows(shU, Seq("__side", idCol), threshold, freq).persist(disk))

    val cand = candidateFilter(
      prefix.where(col("__side") === "r")
        .select(col(idCol).as("doc_a"), col("sz").as("sz_a"),
          col("sh"), col("r").as("ra"))
        .join(prefix.where(col("__side") === "s")
          .select(col(idCol).as("doc_b"), col("sz").as("sz_b"),
            col("sh"), col("r").as("rb")), Seq("sh")),
      threshold)

    cand
      .join(shU.where(col("__side") === "r")
        .select(col(idCol).as("doc_a"), col("sh_arr").as("sa")), Seq("doc_a"))
      .join(shU.where(col("__side") === "s")
        .select(col(idCol).as("doc_b"), col("sh_arr").as("sb")), Seq("doc_b"))
      .where(MinHashLSH.intersectCountCol(cand.sparkSession,
        col("sa"), col("sb")) > 0)
      .select(col("doc_a"), col("doc_b"),
        MinHashLSH.jaccardCol(cand.sparkSession,
          col("sa"), col("sb")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** DIRECTED containment pairs: every (doc_a, doc_b, containment) with
    * `|A∩B| / |A| ≥ threshold` (Broder 1997's containment) — the
    * ASYMMETRIC near-dup relation Jaccard cannot see: a page quoting
    * another verbatim, boilerplate wrapping a shared body, a subset dump —
    * |A∩B|/|A| ≈ 1 while Jaccard stays low because |B| dominates the
    * union. A dedup gate keeps the superset doc and drops the contained
    * one; a contamination gate flags benchmark items contained in
    * training docs regardless of how much padding surrounds them.
    *
    * Prefix lemma, containment form: if B covers ≥ t·|A| of A's shingles,
    * B must hit one of A's first `|A| − ⌈t·|A|⌉ + 1` rarest-first shingles
    * — so only the PROBE side (A) emits a prefix; the candidate side (B)
    * exposes all its shingles (ranked under the SAME global order, which
    * is [[prefixRows]] at threshold 0). Length filter `|B| ≥ ⌈t·|A|⌉`
    * (containment needs that many shared elements) and the positional
    * bound `1 + min(|A|−ra, |B|−rb) ≥ ⌈t·|A|⌉` prune before the exact
    * verify — no false negatives at any scale, same as [[similarPairs]].
    * Pairs are returned in BOTH directions when both contain each other.
    *
    * Output: (doc_a, doc_b, containment, sz_a, sz_b) — the shingle-set
    * sizes ride along (computed anyway for the verify) so
    * [[containmentDedupVerdicts]] can tie-break mutual pairs on
    * (size, id), the ordering that makes its drop relation acyclic.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, n: Int = 3,
                       freqOrder: Boolean = true): DataFrame = {
    val (sh, full) = rankedShingles(df, idCol, textCol, n, freqOrder)
    containmentPairsFromRanked(sh, full, idCol, threshold)
  }

  /** The persisted (shingle-array, ranked-row) tables behind the
    * containment family, exposed as a seam for reuse: a
    * caller comparing several SUB-CORPORA of one dump (d163's per-release
    * drift) derives the corpus-wide tables ONCE and hands parity-filtered
    * views to [[containmentPairsFromRanked]], instead of re-running the
    * explode + document-frequency join + per-doc rank window per release.
    * Ranks computed under the corpus-wide rarest-first order stay a valid
    * global total order for any subset — the prefix lemma needs only
    * SOME total order shared by both sides of a join, and the rank is a
    * per-doc row_number, so filtering docs never perturbs other docs'
    * ranks. The exact verify makes the emitted pair set identical under
    * either order (candidate sets may differ; results cannot).
    */
  def rankedShingles(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, freqOrder: Boolean = true)
      : (DataFrame, DataFrame) = {
    val sh = CacheRegistry.track(
      MinHashLSH.shingleArrays(df, idCol, textCol, n).persist(disk))
    val freq = if (freqOrder) Some(docFreq(sh)) else None
    // threshold 0 keeps every ranked row: the candidate side of a
    // containment probe cannot be prefix-pruned (B may be arbitrarily
    // larger than the A it contains)
    val full = CacheRegistry.track(
      prefixRows(sh, Seq(idCol), 0.0, freq).persist(disk))
    (sh, full)
  }

  /** Candidate generation + exact verify of [[containmentPairs]] over
    * prebuilt [[rankedShingles]] tables (optionally filtered to a
    * sub-corpus — see rankedShingles on why ranks survive filtering).
    * Runs `containmentCore`, shared with [[containmentPairsAcross]]; the
    * one difference is the self-pair rule: a doc never pairs with itself.
    */
  def containmentPairsFromRanked(sh: DataFrame, full: DataFrame,
                                 idCol: String,
                                 threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold out of (0,1]")
    // the probe prefix is BY DEFINITION the rank-filtered head of the
    // full ranked table (same global order, same ranks — prefixRows at
    // threshold t only adds the r ≤ |x| − ⌈t·|x|⌉ + 1 cut), so derive it
    // from the persisted `full` instead of re-running the explode +
    // df-join + rank window a second time; the filter reads cached blocks
    val prefix = full.where(col("r") <=
      col("sz") - safeCeil(col("sz") * threshold) + 1)
    containmentCore(prefix, full, sh, sh, idCol, threshold,
      _.where(col("doc_a") =!= col("doc_b")))
  }

  /** Cross-set DIRECTED containment: every (doc_a ∈ probe, doc_b ∈ corpus,
    * containment) with `|A∩B| / |A| ≥ threshold` — the CONTAMINATION
    * shape of [[containmentPairs]]: "which benchmark/eval items are
    * contained in which training docs, regardless of how much padding
    * surrounds them" (the gate n-gram decontamination misses when the
    * leaked span is reworded at the edges but the shingle SET survives).
    * Only probe→corpus containment is computed; corpus×corpus pairs are
    * never formed (the [[similarPairsAcross]] asymmetry, here for free —
    * containment's prefix lemma is already one-sided).
    *
    * Runs `containmentCore`, shared with [[containmentPairsFromRanked]];
    * the one difference is the self-pair rule: none. Shared id spaces are
    * fine (sides are tagged by frame, never unioned); a probe doc that
    * also exists in the corpus reports its own copy at containment 1.0,
    * the correct answer for a contamination audit.
    *
    * Ranking correctness: prefix(A) and full(B) must be ranked under ONE
    * global order for the positional filter's min(ra)/min(rb) to land on
    * the same shared shingle — the document-frequency order is computed
    * over BOTH sides' shingles. The probe side is typically tiny (a
    * benchmark) and its prefix table broadcasts; the corpus side is
    * scanned once into its ranked-rows table.
    */
  def containmentPairsAcross(probe: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double, n: Int = 3,
                             freqOrder: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold out of (0,1]")
    val shA = CacheRegistry.track(
      MinHashLSH.shingleArrays(probe, idCol, textCol, n).persist(disk))
    val shB = CacheRegistry.track(
      MinHashLSH.shingleArrays(corpus, idCol, textCol, n).persist(disk))
    val freq = if (freqOrder) Some(docFreq(shA, shB)) else None
    val prefix = CacheRegistry.track(
      prefixRows(shA, Seq(idCol), threshold, freq).persist(disk))
    val full = CacheRegistry.track(
      prefixRows(shB, Seq(idCol), 0.0, freq).persist(disk))
    containmentCore(prefix, full, shA, shB, idCol, threshold, identity)
  }

  /** The containment candidate filter and exact verify shared by
    * [[containmentPairsFromRanked]] and [[containmentPairsAcross]]:
    * probe-prefix × candidate-full equijoin on shared shingles,
    * `pairRule` (the caller's self-pair rule), the length filter
    * `|B| ≥ ⌈t·|A|⌉`, the positional bound on the first shared shingle,
    * then the exact `|A∩B| / |A|` over the shingle arrays (`shA` for the
    * probe side, `shB` for the candidate side).
    */
  private def containmentCore(prefix: DataFrame, full: DataFrame,
                              shA: DataFrame, shB: DataFrame, idCol: String,
                              threshold: Double,
                              pairRule: DataFrame => DataFrame): DataFrame = {
    val cand = pairRule(prefix
      .select(col(idCol).as("doc_a"), col("sz").as("sz_a"),
        col("sh"), col("r").as("ra"))
      .join(full.select(col(idCol).as("doc_b"), col("sz").as("sz_b"),
        col("sh"), col("r").as("rb")), Seq("sh")))
      .where(col("sz_b") >= safeCeil(col("sz_a") * threshold))
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(min("ra").as("ra"), min("rb").as("rb"))
      .where(lit(1) + least(col("sz_a") - col("ra"), col("sz_b") - col("rb")) >=
        safeCeil(col("sz_a") * threshold))
      .select("doc_a", "doc_b")
    cand
      .join(shA.select(col(idCol).as("doc_a"), col("sh_arr").as("sa")), Seq("doc_a"))
      .join(shB.select(col(idCol).as("doc_b"), col("sh_arr").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        // round(|A∩B| / |A|, 6) via the native ratio kernel — identical
        // values, no per-candidate BigDecimal round-trip
        graft.plans.ArrayExpressions.roundRatioColumn(cand.sparkSession,
          MinHashLSH.intersectCountCol(cand.sparkSession,
            col("sa"), col("sb")),
          size(col("sa")).cast("long")).as("containment"),
        size(col("sa")).cast("long").as("sz_a"),
        size(col("sb")).cast("long").as("sz_b"))
      .where(col("containment") >= threshold)
  }

  /** Containment-dedup verdicts — the GATE [[containmentPairs]]' scaladoc
    * promises ("keep the superset doc, drop the contained one"), as a
    * per-doc keep/drop column over the full corpus: a doc is DROPPED iff
    * some doc contains it that it does not contain back (a strict subset
    * situation: quotes, boilerplate wrapping, partial dumps), or that it
    * mutually contains and wins the LEXICOGRAPHIC (shingle-set size, id)
    * tie-break — so a clique of mutually-containing near-identical docs
    * keeps exactly its max-(size,id) member. The rule is deliberately
    * PAIRWISE-LOCAL (the d04/d124 verdict convention): no transitive
    * closure, no connected components — a billion-doc corpus cannot
    * afford either per release.
    *
    * Survivor guarantee (when `pairs` carries `sz_a`/`sz_b`, which
    * [[containmentPairs]] emits): every drop points at a container with
    * strictly greater (size, id) — a strict (non-mutual) container is
    * strictly larger whenever the relation is threshold-complete in both
    * directions (t·|A| ≤ |A∩B| and |A∩B| < t·|B| force |B| > |A|), and
    * the mutual tie-break is strictly-greater by construction — so the
    * drop relation is ACYCLIC and the max-(size,id) doc of every
    * connected group survives. (The previous id-only mutual tie-break
    * could, on mixed mutual/strict cycles, drop every member of a group:
    * a mutual hop may point at a SMALLER doc with a larger id while a
    * strict hop points size-upward, closing a cycle.) When the size
    * columns are absent (a bare (doc_a, doc_b) relation), the id-only
    * rule applies and NO cross-cycle survivor guarantee is made — each
    * drop still certifies a containing doc existed.
    *
    * `pairs` is the [[containmentPairs]] output (or any directed
    * (doc_a contained-in doc_b) relation) — pass a PERSISTED frame when
    * it feeds other consumers too (the d131/d146/d157 share).
    *
    * Scale shape: the pair relation is persisted by the caller and read
    * three times here (mutuality anti/semi join + the container census);
    * all three are keyed on pair columns, the corpus-side join is a left
    * join against the pair-sized verdict frames (broadcastable when the
    * dup set is small — left to AQE), and the corpus is never shuffled.
    *
    * Returns (idCol, verdict keep|drop, n_containers) for EVERY doc.
    */
  def containmentDedupVerdicts(docs: DataFrame, idCol: String,
                               pairs: DataFrame): DataFrame = {
    val hasSizes = pairs.columns.contains("sz_a") &&
      pairs.columns.contains("sz_b")
    val c =
      if (hasSizes) pairs.select(col("doc_a"), col("doc_b"),
        col("sz_a"), col("sz_b"))
      else pairs.select(col("doc_a"), col("doc_b"))
    val rev = c.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))
    // drop a: some container b is not contained back...
    val nonMutual = c.join(rev, Seq("doc_a", "doc_b"), "left_anti")
      .select("doc_a")
    // ...or is mutual and b wins the tie-break: lexicographic (size, id)
    // when sizes are known (acyclic — see scaladoc), id alone otherwise
    val bWins =
      if (hasSizes) col("sz_b") > col("sz_a") ||
        (col("sz_b") === col("sz_a") && col("doc_b") > col("doc_a"))
      else col("doc_b") > col("doc_a")
    val mutualSmaller = c.join(rev, Seq("doc_a", "doc_b"), "left_semi")
      .where(bWins)
      .select("doc_a")
    val dropped = nonMutual.union(mutualSmaller).distinct()
      .select(col("doc_a").as(idCol)).withColumn("__drop", lit(1))
    val containers = c.groupBy(col("doc_a").as(idCol))
      .agg(count(lit(1)).cast("long").as("__nc"))
    docs.select(col(idCol))
      .join(dropped, Seq(idCol), "left")
      .join(containers, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__drop").isNotNull, lit("drop")).otherwise(lit("keep"))
          .as("verdict"),
        coalesce(col("__nc"), lit(0L)).as("n_containers"))
  }

  /** One-row containment-posture profile from the (verdict,
    * n_containers) CENSUS — the combine shared by the batch path
    * ([[containmentProfile]]), the corpus-catalog path
    * ([[CorpusCatalog.explodeContainmentCensus]]) and the streaming twin,
    * so all three agree bit-for-bit by construction (the d154/d155
    * discipline applied to the containment family). The census is tiny
    * by construction — one row per distinct (verdict, n_containers)
    * value, bounded by the container-count support, not the corpus.
    *
    * Returns (n_docs, n_keep, n_drop, n_contained, max_containers,
    * n_container_edges): docs under the gate, keep/drop split, docs with
    * ≥1 container, the heaviest containment fan-in, and the total
    * directed containment edge count (Σ n_containers).
    */
  def containmentProfileFromCensus(census: DataFrame,
                                   verdictCol: String = "verdict",
                                   ncCol: String = "nc",
                                   cntCol: String = "cnt"): DataFrame = {
    // same defensive combine as the histogram profile: the aggregate
    // below is correct on any (verdict, nc) multiplicity, but max() over
    // nc and the sums must see consistent rows — group first (census
    // sized, free) so an un-aggregated census cannot corrupt anything
    val c = census.select(col(verdictCol).cast("string").as("__v"),
        col(ncCol).cast("long").as("__nc"),
        col(cntCol).cast("long").as("__cnt"))
      .groupBy("__v", "__nc").agg(sum("__cnt").cast("long").as("__cnt"))
    c.agg(
      coalesce(sum("__cnt"), lit(0L)).cast("long").as("n_docs"),
      coalesce(sum(when(col("__v") === "keep", col("__cnt"))
        .otherwise(0L)), lit(0L)).cast("long").as("n_keep"),
      coalesce(sum(when(col("__v") === "drop", col("__cnt"))
        .otherwise(0L)), lit(0L)).cast("long").as("n_drop"),
      coalesce(sum(when(col("__nc") > 0, col("__cnt"))
        .otherwise(0L)), lit(0L)).cast("long").as("n_contained"),
      coalesce(max(col("__nc")), lit(0L)).cast("long").as("max_containers"),
      coalesce(sum(col("__nc") * col("__cnt")), lit(0L)).cast("long")
        .as("n_container_edges"))
  }

  /** [[containmentProfileFromCensus]] over a [[containmentDedupVerdicts]]
    * frame directly — the batch entry point. */
  def containmentProfile(verdicts: DataFrame): DataFrame =
    containmentProfileFromCensus(
      verdicts.groupBy(col("verdict"), col("n_containers").as("nc"))
        .agg(count(lit(1)).cast("long").as("cnt")))
}
