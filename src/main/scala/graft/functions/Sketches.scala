package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.SketchExpressions

/** Deterministic cardinality/overlap sketches over the repo's shared
  * 60-bit md5 hash space — the sub-linear answers a 100 TB corpus needs
  * for "how many distinct n-grams" and "how much do two dumps overlap"
  * without shuffling the distinct sets themselves.
  *
  * The primitive is the KMV bottom-k sketch ([[graft.plans.KmvSketch]],
  * SQL `graft_kmv`): the k smallest DISTINCT hash values. Three properties
  * make it the right artifact here:
  *
  *  - '''bounded shuffle''': the exchange carries ≤ partitions×k longs —
  *    an exact `COUNT(DISTINCT)` carries every distinct value;
  *  - '''mergeable''': union of sketches re-trimmed to k IS the sketch of
  *    the union, so per-dump sketches (k longs each) answer any
  *    cross-dump cardinality later without re-reading a dump;
  *  - '''engine-replayable''': the sketch value is just
  *    `SELECT DISTINCT h ORDER BY h LIMIT k` — an oracle hash-compares
  *    the whole sketch AND the estimate, so approximation quality is
  *    itself gate-checked (unlike HLL registers, which no second engine
  *    reproduces bit-for-bit).
  *
  * Estimator: `(k−1)/U(k)` with `U(k) = (h_k+1)/2^60` (Bar-Yossef et al.
  * 2002); exact (= sketch size) when fewer than k distinct values exist.
  * Overlap: the theta-sketch splice — trim the union of two sketches to
  * its k smallest; every retained hash is below the implied sampling
  * threshold of BOTH inputs, so membership in both sketches is an
  * unbiased Jaccard sample.
  */
object Sketches {

  /** 2^60 as an exact double — the normalizing constant of the 60-bit
    * hash space (15 hex digits of md5, [[graft.plans.ShingleHashes]]).
    */
  val Pow60: Double = 1.152921504606846976e18

  /** Repo-standard 60-bit hash of any value (cast to string first for
    * non-strings) — matches every DuckDB oracle's
    * `CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)`.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** The KMV aggregate column over an already-hashed 60-bit column. */
  def kmvAgg(df: DataFrame, h: Column, k: Int): Column =
    SketchExpressions.kmvColumn(df.sparkSession, h, k)

  /** Distinct-count estimate from a sketch column: exact below k, else
    * `(k−1) · 2^60 / (h_k + 1)`. Pure IEEE double ops in an order a
    * DuckDB oracle replays bit-for-bit.
    */
  def kmvEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(Pow60) /
        (element_at(sketch, k).cast("double") + lit(1.0)))

  /** One-row distinct-cardinality summary of a hashed column: the sketch
    * itself (ascending `array<long>`, oracle-comparable in full), its
    * size, and the estimate. ONE bounded partial-agg — nothing else
    * shuffles.
    */
  def kmvDistinct(df: DataFrame, h: Column, k: Int = 256): DataFrame =
    df.select(h.cast("long").as("h"))
      .agg(kmvAgg(df, col("h"), k).as("sketch"))
      .select(col("sketch"), size(col("sketch")).as("n_sketch"),
        kmvEstimate(col("sketch"), k).as("est_distinct"))

  /** The splice math on two SKETCH COLUMNS (already-built bottom-k
    * arrays): the columns `n_a, n_b, n_union_sketch, matches,
    * jaccard_est, union_est, inter_est` — the ONE definition shared by
    * [[kmvOverlap]] (in-query sketches) and [[CorpusCatalog.overlaps]]
    * (sketches read back from a persisted catalog), so the two answer
    * paths cannot drift.
    */
  def overlapColumns(skA: Column, skB: Column, k: Int): Seq[Column] = {
    val merged = slice(array_sort(array_distinct(concat(skA, skB))), 1, k)
    val matches = size(array_intersect(array_intersect(merged, skA), skB))
    val jaccard = when(size(merged) === 0, lit(0.0))
      .otherwise(matches.cast("double") / size(merged).cast("double"))
    val union = kmvEstimate(merged, k)
    Seq(
      size(skA).as("n_a"),
      size(skB).as("n_b"),
      size(merged).as("n_union_sketch"),
      matches.as("matches"),
      jaccard.as("jaccard_est"),
      union.as("union_est"),
      (jaccard * union).as("inter_est"))
  }

  /** Cross-set overlap from two KMV sketches (theta-sketch splice): trim
    * the union of the sketches to its k smallest (`mg` — the sketch of
    * A∪B, since each side's sketch retains everything below its own kth
    * minimum), count retained hashes present in BOTH sides, and scale:
    * `jaccard ≈ matches/|mg|`, `|A∪B| ≈ kmvEstimate(mg)`,
    * `|A∩B| ≈ jaccard · |A∪B|`.
    *
    * Each side is ONE bounded partial-agg; the splice is array math on a
    * broadcast single-row-×-single-row join (the EventQueries:636 plan
    * class — no data moves). Per-dump sketches can be persisted and
    * spliced later without touching either corpus again.
    */
  def kmvOverlap(a: DataFrame, b: DataFrame, ha: Column, hb: Column,
                 k: Int = 256): DataFrame = {
    val sa = a.select(ha.cast("long").as("h"))
      .agg(kmvAgg(a, col("h"), k).as("sk_a"))
    val sb = b.select(hb.cast("long").as("h"))
      .agg(kmvAgg(b, col("h"), k).as("sk_b"))
    // 1-row × 1-row: a broadcast of one sketch, not a data cross product
    sa.crossJoin(broadcast(sb))
      .select(overlapColumns(col("sk_a"), col("sk_b"), k): _*)
  }

  // ——— Count-Min: bounded-state FREQUENCY, the dual of KMV's distinct ———

  /** The CMS mixing modulus / low-bit mask (2^31−1) — see
    * [[graft.plans.CmsSketch]].
    */
  val CmsP: Long = graft.plans.CmsSketch.P

  /** Row-r bucket of hash `h` in a width-`width` CMS row — the
    * Kirsch–Mitzenmacher double-hash in exact integer arithmetic, the
    * SAME closed form the aggregate's JVM loop and every DuckDB oracle
    * evaluate: `((h & M) + r·(1 + ((h >>> 31) & M))) % P % width`.
    *
    * The second-hash shift is LOGICAL (`shiftrightunsigned`), matching
    * the aggregate's `h >>> 31` ([[graft.plans.CmsSketch]]) for every
    * long — an arithmetic shift would sign-extend a negative hash and
    * probe different buckets than the sketch incremented, silently
    * breaking the no-undercount invariant. (The oracles' `h >> 31` is
    * unaffected: their hashes are 60-bit md5 prefixes, always ≥ 0,
    * where the two shifts agree.)
    */
  def cmsBucket(h: Column, r: Column, width: Int): Column =
    pmod(pmod(h.bitwiseAND(lit(CmsP)) +
      r.cast("long") * (lit(1L) +
        shiftrightunsigned(h, 31).bitwiseAND(lit(CmsP))),
      lit(CmsP)), lit(width.toLong))

  /** The CMS aggregate column over an already-hashed 60-bit column:
    * row-major `depth × width` bucket counts as `array<long>`. State per
    * group = depth·width longs; merge = element-wise add.
    */
  def cmsAgg(df: DataFrame, h: Column, depth: Int, width: Int): Column =
    graft.plans.SketchExpressions.cmsColumn(df.sparkSession, h, depth, width)

  /** Point-frequency estimate from a sketch column: min over the rows'
    * buckets — never an undercount; overcount ≈ e/width · N with
    * probability 1−e^−depth. Closed-form array math (no UDF), replayed by
    * the oracle as the identical min-over-rows splice.
    */
  def cmsEstimate(sketch: Column, h: Column, depth: Int, width: Int): Column =
    array_min(transform(sequence(lit(0), lit(depth - 1)), r =>
      element_at(sketch,
        (r.cast("long") * width + cmsBucket(h, r, width) + lit(1L)).cast("int"))))

  /** Heavy-key frequency gate: the CMS estimate vs the EXACT count for
    * the `topK` most frequent hashes (ties to the smaller hash). The
    * census here is the gate's truth source, not part of the deployed CMS
    * path — in production the sketch answers point queries WITHOUT it;
    * this shape exists so the driver oracle checks the no-undercount
    * invariant and the estimates themselves on every run.
    *
    * Plan: one bounded partial-agg for the sketch (≤ partitions·depth·
    * width longs through the exchange), one census shuffle for the truth,
    * a driver-bounded top-k, and the one-row sketch broadcast onto it.
    * The two branches re-read `items` DELIBERATELY unpersisted (an S4
    * exception): this query shape exists only as a gate — the deployed
    * path is the sketch branch alone, and a persist here would trade a
    * cache fill for halving work no production run performs.
    */
  def cmsTopFreq(items: DataFrame, h: Column, depth: Int, width: Int,
                 topK: Int): DataFrame = {
    val hashed = items.select(h.cast("long").as("h"))
    val sk = hashed.agg(cmsAgg(hashed, col("h"), depth, width).as("sk"))
    val top = hashed.groupBy("h").agg(count(lit(1)).as("cnt_true"))
      .orderBy(col("cnt_true").desc, col("h")).limit(topK)
    top.crossJoin(broadcast(sk))
      .select(col("h").as("item_hash"), col("cnt_true"),
        cmsEstimate(col("sk"), col("h"), depth, width).as("cms_est"))
      .withColumn("no_undercount",
        (col("cms_est") >= col("cnt_true")).cast("int"))
  }

  /** Grouped CMS: one sketch per domain (state depth·width longs per
    * group), gated on each domain's single most frequent hash. The shape
    * a per-dump/per-domain catalog maintains continuously next to its KMV
    * sketch: KMV answers "how many distinct", this answers "how often is
    * x" — both mergeable, both tiny, both engine-replayable.
    */
  def cmsByDomain(items: DataFrame, domCol: String, h: Column, depth: Int,
                  width: Int): DataFrame = {
    val hashed = items.select(col(domCol).as("dom"), h.cast("long").as("h"))
    val sk = hashed.groupBy("dom")
      .agg(cmsAgg(hashed, col("h"), depth, width).as("sk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dom").orderBy(col("cnt_true").desc, col("h"))
    val top = hashed.groupBy("dom", "h").agg(count(lit(1)).as("cnt_true"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1).drop("__rk")
    top.join(sk, "dom")
      .select(col("dom").as(domCol), col("h").as("item_hash"),
        col("cnt_true"),
        cmsEstimate(col("sk"), col("h"), depth, width).as("cms_est"))
      .withColumn("no_undercount",
        (col("cms_est") >= col("cnt_true")).cast("int"))
  }

  /** Inner-product (equijoin-size) estimate from two sketches built with
    * the SAME (depth, width): `min over rows r of Σ_b a[r,b]·b[r,b]`.
    * Each row's bucket-wise product sum includes every diagonal term
    * `fA(x)·fB(x)` (same x lands in the same bucket), so the estimate is
    * structurally never an UNDERestimate of `Σ_x fA(x)·fB(x)` — the size
    * of the equijoin between the two item streams, the quantity a join
    * planner wants before running the join (Cormode & Muthukrishnan 2005,
    * §4.2). Closed-form array math over two broadcast-sized sketches.
    *
    * Reads `rowDots`, shared with [[csInnerProduct]]; the one difference
    * is the combine: the min over rows.
    */
  def cmsInnerProduct(skA: Column, skB: Column, depth: Int, width: Int): Column =
    array_min(rowDots(skA, skB, depth, width))

  /** The per-row dot products `Σ_b a[r,b]·b[r,b]` of two row-major
    * `depth × width` sketches, as `array<decimal(38,0)>` — the array
    * [[cmsInnerProduct]] takes the min of and [[csInnerProduct]] the
    * median of. Decimal, NOT long: a row's product sum is ~N_A·N_B/width,
    * which wraps past 2^63 once the streams reach ~1e11 items at width
    * 2048 — squarely inside the 100 TB regime — and a silently wrapped
    * (possibly negative) estimate would void both estimators' guarantees.
    * Bucket counts are cast to decimal BEFORE the multiply, so the whole
    * product-sum is exact up to 1e38.
    */
  private def rowDots(skA: Column, skB: Column, depth: Int, width: Int): Column =
    transform(sequence(lit(0), lit(depth - 1)), r =>
      aggregate(
        zip_with(
          slice(skA, r.cast("int") * width + 1, lit(width)),
          slice(skB, r.cast("int") * width + 1, lit(width)),
          (x, y) => x.cast("decimal(38,0)") * y.cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)"), (acc, v) => acc + v))

  /** The exact equijoin size `Σ_x fA(x)·fB(x)` of two hashed streams
    * (column `h`) as a one-row `true_join` decimal(38,0): two censuses
    * and one equijoin — the truth side of [[cmsJoinSize]] and
    * [[csJoinSize]], never part of a deployed sketch path.
    */
  private def exactJoinSize(sa: DataFrame, sb: DataFrame): DataFrame =
    sa.groupBy("h").agg(count(lit(1)).as("ca"))
      .join(sb.groupBy("h").agg(count(lit(1)).as("cb")), "h")
      .agg(coalesce(sum(col("ca").cast("decimal(38,0)") * col("cb")),
        lit(0L).cast("decimal(38,0)")).as("true_join"))

  /** Join-size gate (the d113 shape): the CMS estimate of the gram-
    * equijoin size between two corpora vs the exact value, plus the
    * structural no-underestimate flag. The truth side is
    * `exactJoinSize`, shared with [[csJoinSize]]; the difference is the
    * estimator (Count-Min, [[cmsInnerProduct]]) and the row it emits. The
    * truth exists ONLY as the gate's truth source — the deployed path
    * answers from two persisted sketches (depth·width longs each) without
    * touching either corpus again, the same standing-artifact contract as
    * [[kmvOverlap]] for set overlap.
    *
    * Accuracy regime (measured, SCALE.md "Count-Min frequency sketch"):
    * relative error ≈ distinct-keys/width, so the estimate is TIGHT for
    * heavy-hitter-dominated streams (100 keys at width 2048 → 1.04× the
    * true 1.25e13 on 50M×75M rows) and a LOOSE-but-sound upper bound on
    * sparse wide-domain joins (20M keys → collision mass dominates).
    * d113's gram streams are the sparse case — its estimate is honestly
    * a conservative bound (≈7× true at sf0.01), gated as such.
    */
  def cmsJoinSize(a: DataFrame, b: DataFrame, ha: Column, hb: Column,
                  depth: Int, width: Int): DataFrame = {
    val sa = a.select(ha.cast("long").as("h"))
    val sb = b.select(hb.cast("long").as("h"))
    val skA = sa.agg(cmsAgg(sa, col("h"), depth, width).as("sk_a"))
    val skB = sb.agg(cmsAgg(sb, col("h"), depth, width).as("sk_b"))
    val truth = exactJoinSize(sa, sb)
    // the GATE emits longs (the oracle's BIGINT surface); both values are
    // exact decimals first, so an out-of-long-range estimate fails the
    // ANSI cast LOUDLY instead of wrapping — the deployed decimal path is
    // [[CorpusCatalog.joinSizes]]
    skA.crossJoin(broadcast(skB)).crossJoin(broadcast(truth))
      .select(
        cmsInnerProduct(col("sk_a"), col("sk_b"), depth, width)
          .cast("long").as("est_join"),
        col("true_join").cast("long").as("true_join"))
      .withColumn("no_underestimate",
        (col("est_join") >= col("true_join")).cast("int"))
  }

  /** The full sketch as one oracle-comparable row: CSV of all depth·width
    * counts plus the item total (row 0's sum — every row sums to N).
    * This is the streaming twin's emission shape (the d88/d99 convention:
    * update-mode final emission over a finite replay must equal the batch
    * sketch to the last bucket).
    */
  def cmsSummary(sketch: Column, depth: Int, width: Int): Seq[Column] = Seq(
    array_join(sketch.cast("array<string>"), ",").as("sketch_csv"),
    aggregate(slice(sketch, 1, width), lit(0L), (acc, c) => acc + c)
      .as("n_items"))

  // ——— Count-Sketch (AMS): UNBIASED inner product for the sparse regime ———

  /** Row-r ±1 sign of hash `h` in a depth-`depth` Count-Sketch — family
    * row `depth + r` of the same Kirsch–Mitzenmacher mix the bucket uses
    * (see [[graft.plans.CountSketch]]):
    * `1 − 2·(((h & M) + (depth+r)·(1 + ((h >>> 31) & M))) % P & 1)`.
    */
  def csSign(h: Column, r: Column, depth: Int): Column =
    lit(1L) - lit(2L) * pmod(h.bitwiseAND(lit(CmsP)) +
      (r.cast("long") + depth) *
        (lit(1L) + shiftrightunsigned(h, 31).bitwiseAND(lit(CmsP))),
      lit(CmsP)).bitwiseAND(lit(1L))

  /** The Count-Sketch aggregate column over an already-hashed 60-bit
    * column: row-major `depth × width` SIGNED bucket counts as
    * `array<long>`. Same state/merge contract as [[cmsAgg]].
    */
  def csAgg(df: DataFrame, h: Column, depth: Int, width: Int): Column =
    graft.plans.SketchExpressions.csColumn(df.sparkSession, h, depth, width)

  /** UNBIASED inner-product (equijoin-size) estimate from two
    * Count-Sketches built with the SAME (depth, width): the MEDIAN over
    * rows of `Σ_b a[r,b]·b[r,b]`. Per row, diagonal terms contribute
    * exactly `fA(x)·fB(x)` (same bucket, sign² = 1); collision terms
    * carry independent ±1 signs and cancel in expectation, so — unlike
    * [[cmsInnerProduct]]'s min-over-rows, which stacks all-positive
    * collision mass — the estimate has no systematic bias in the sparse
    * wide-domain regime. Std per row ≈ √(F2_A·F2_B/width); the median of
    * `depth` rows concentrates it. `depth` must be ODD so the median is
    * an exact middle element both engines pick identically
    * (`element_at(array_sort(...), (depth+1)/2)` here,
    * `quantile_disc(v, 0.5)` in DuckDB).
    *
    * Reads `rowDots`, shared with [[cmsInnerProduct]]; the one difference
    * is the combine: the exact median over rows.
    */
  def csInnerProduct(skA: Column, skB: Column, depth: Int, width: Int): Column = {
    require(depth % 2 == 1,
      s"csInnerProduct depth=$depth must be odd (exact median element)")
    element_at(array_sort(rowDots(skA, skB, depth, width)), (depth + 1) / 2)
  }

  /** The d118 gate (the d113 shape, unbiased estimator): Count-Sketch
    * join-size estimate vs the exact census equijoin, with the WHOLE
    * signed sketch emitted (row-major CSV, both sides) so the oracle's
    * bit-for-bit rebuild is itself hash-compared — approximation quality
    * AND sketch construction gated in one row. Summary columns make
    * silent failure impossible: both item totals, the estimate, the
    * truth, the signed ratio, and the band flag.
    *
    * `band`: |est − true| ≤ band·true ⇒ in_band = 1. The truth side is
    * `exactJoinSize`, shared with [[cmsJoinSize]]; the difference is the
    * estimator (Count-Sketch, [[csInnerProduct]]) and the row it emits.
    */
  def csJoinSize(a: DataFrame, b: DataFrame, ha: Column, hb: Column,
                 depth: Int, width: Int, band: Double): DataFrame = {
    val sa = a.select(ha.cast("long").as("h"))
    val sb = b.select(hb.cast("long").as("h"))
    val skA = sa.agg(csAgg(sa, col("h"), depth, width).as("sk_a"),
      count(lit(1)).as("n_a"))
    val skB = sb.agg(csAgg(sb, col("h"), depth, width).as("sk_b"),
      count(lit(1)).as("n_b"))
    val truth = exactJoinSize(sa, sb)
    val est = csInnerProduct(col("sk_a"), col("sk_b"), depth, width)
    skA.crossJoin(broadcast(skB)).crossJoin(broadcast(truth))
      .select(
        array_join(col("sk_a").cast("array<string>"), ",").as("sketch_csv_a"),
        array_join(col("sk_b").cast("array<string>"), ",").as("sketch_csv_b"),
        col("n_a"), col("n_b"),
        est.cast("long").as("est_join"),
        col("true_join").cast("long").as("true_join"),
        when(col("true_join") === 0, lit(null).cast("double"))
          .otherwise(round(est.cast("double") /
            col("true_join").cast("double"), 6)).as("est_over_true"),
        when(col("true_join") === 0, (est === 0).cast("int"))
          .otherwise((abs(est - col("true_join")) <=
            lit(band) * col("true_join").cast("double")).cast("int"))
          .as("in_band"))
  }
}
