package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.Superstep

/** Distributed graph centrality over edge DataFrames.
  *
  * A training-data pipeline meets graphs twice: the near-dup similarity
  * graph (whose central nodes are the natural canonical representatives of
  * a duplicate cluster — the complement of [[MinHashLSH]]'s min-label
  * pick), and the hyperlink graph of a web crawl (where PageRank is the
  * classic quality prior — Page et al. 1999, and Common-Crawl-derived
  * corpora routinely carry a centrality-based quality signal).
  *
  * Everything here is DataFrame-first — one equijoin + one keyed
  * aggregation per iteration, exactly the shuffle a 1000-executor cluster
  * can do at 100 TB — and *integer-exact*: ranks live on a
  * parts-per-billion long grid and every step is BIGINT `div`, so the
  * result is a pure function of the edge set, independent of partitioning,
  * summation order, or float association — replayable bit-for-bit by any
  * engine with 64-bit integer division (the
  * [[TextAnalysis.unigramLogProb]] determinism discipline, applied to an
  * iterative fixpoint instead of a single aggregate).
  */
object GraphOps {

  /** PageRank on the parts-per-billion integer grid, fixed iteration count.
    *
    * Recurrence (all BIGINT, N = |nodes|, deg = out-degree):
    * {{{
    *   r0(v)     = 10^9 div N
    *   r_t+1(v)  = (15*10^7) div N  +  (85 * Σ_{u→v} (r_t(u)·w_uv div W_u)) div 100
    * }}}
    * where `w_uv` is the edge weight (1 when `weightCol` is absent — then
    * `W_u = deg(u)` and the split is uniform; weights must be POSITIVE
    * longs, e.g. micro-scaled similarities) —
    * i.e. damping 0.85 with truncating integer division at every step —
    * deterministic across engines and partitionings because long `div` and
    * long `sum` are exact and order-free, unlike a double recurrence whose
    * reduction order differs per shuffle.
    *
    * Dangling nodes (no out-edges): with `danglingMass = false` their
    * mass is dropped, the common simplification — harmless on a
    * symmetrized similarity graph where every node has out-edges, but on
    * a DIRECTED graph (hyperlink crawls, containment DAGs — where
    * dangling pages are routinely 20-30% of the node set) dropped mass
    * deflates every rank and breaks the Σrank ≈ 10^9 invariant. With
    * `danglingMass = true` each iteration folds the dangling nodes' total
    * rank into the teleport distribution — uniformly (`dangle div N`), or
    * onto the seed set when personalized (`dangle div ns`, the standard
    * PPR convention) — inside the damping factor:
    * {{{
    *   r_t+1(v) = tele(v) + (85 * (Σcontrib(v) + dangle_t div den)) div 100
    * }}}
    * still pure BIGINT, still engine-replayable. The per-iteration cost
    * is one 1-row scan-agg over the rank vector's fused dangling flag
    * (computed once at node-table build; never a data collect), plus an
    * eager node-sized materialization of each round's rank vector — the
    * rank frame is read twice per round in this mode (contrib join +
    * dangle sum), so a lazy lineage would double the recompute tree per
    * round (the Pregel superstep rule).
    *
    * Plan shape, per iteration: ONE equijoin of the rank vector against
    * the degree-fused edge table (hash-partitioned on src) + ONE keyed sum
    * (shuffle on dst) + a left join back onto the node set for in-degree-0
    * nodes. The degree-fused edge table and the node set are computed once
    * and persisted (the S4 reuse rule — every iteration reads both); the
    * scalar N rides along as a broadcast 1-row crossJoin, never a driver
    * collect. The rounds run through [[graft.ops.Superstep]], which
    * truncates lineage every `checkpointEvery` rounds — at deep iteration
    * counts the accumulated join-over-join plan otherwise grows without
    * bound, the cliff [[MinHashLSH.clustersStar]] measured (75 s of
    * analysis for an 11-node chain). With `danglingMass = true` the rank
    * vector is read twice per round (contrib join + dangle sum), so EVERY
    * round but the last MATERIALIZES: in local mode by a localCheckpoint
    * (the cheap materialization there, see the inline measurement), and
    * under RELIABLE checkpoints ([[graft.GraftConf]]) by a cache-only
    * persist, with only the `checkpointEvery` cadence writing a file-set
    * — O(iters/cadence) file-sets, not one per round. Superseded rounds
    * are released as soon as their successor materializes — live state is
    * O(1) rounds either way.
    *
    * Returns one row per node: (id, rank_ppb) — rank scaled by 10^9,
    * summing to ≤ 10^9 (truncation loses ≤ 1 ppb per edge per round).
    *
    * `seeds` (personalized PageRank, Haveliwala 2002): when given (first
    * column = node id), BOTH the initial mass and the per-iteration
    * teleport land only on seed nodes — `10^9 div |S∩nodes|` and
    * `(15·10^7) div |S∩nodes|` respectively, 0 elsewhere — so rank
    * measures proximity to the seed set through the graph, the "expand a
    * trusted subset" primitive (seed = curated docs, rank = crawl-quality
    * prior). With `seeds = None` the uniform recurrence above is computed
    * bit-for-bit unchanged. The seed set must intersect the node set —
    * an empty intersection makes the teleport division fail loudly
    * rather than silently returning the zero vector.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, checkpointEvery: Int = 8,
               weightCol: Option[String] = None,
               seeds: Option[DataFrame] = None,
               danglingMass: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters=$iters out of [1,100]")
    require(checkpointEvery >= 1, s"checkpointEvery=$checkpointEvery")
    val disk = StorageLevel.MEMORY_AND_DISK
    // Weighted form: an out-edge receives mass ∝ its positive integer
    // weight, `(r·w) div Σw` — with w ≡ 1 this is IDENTICAL (bit-for-bit)
    // to the uniform `r div deg` split, so one loop serves both. Weights
    // must fit the product bound r·w < 2^63: r ≤ 10^9, so w ≤ ~9·10^9 —
    // micro-scaled similarities (≤ 10^6) are far inside it.
    val e = weightedEnds(edges, srcCol, dstCol, weightCol)
    // Out-weight fused onto each edge ONCE — re-deriving it per iteration
    // would re-shuffle the full edge table every round. A whole-partition
    // window sum (no orderBy → full-frame), NOT groupBy+self-join: the
    // join form scans the caller's edge pipeline twice (agg branch +
    // probe branch — d146's containment join ran 2× before this), the
    // window scans it once with one exchange on __src and no join at all.
    val ed = graft.CacheRegistry.track(
      e.withColumn("__tw", sum("__w").over(
        org.apache.spark.sql.expressions.Window.partitionBy("__src")))
        .persist(disk))
    if (weightCol.isDefined)
      requirePositiveWeights(ed, "__w", "pageRank(weighted)")
    // (__id, __init, __tele) — initial mass and per-iteration teleport,
    // fused once (uniform or seed-restricted) and persisted: every
    // iteration's rebuild joins against it. Derived from the PERSISTED ed
    // (row-equivalent to e — the window sum adds a column, drops nothing),
    // not from e: deriving from e would re-run the caller's edge
    // pipeline once per union branch (the d146 containment join ran 3×
    // extra before this; the S4 rule applied to the operator's own
    // internals).
    val nodesRaw = ed.select(col("__src").as("__id"))
      .union(ed.select(col("__dst").as("__id")))
      .distinct()
    val nt = seeds match {
      case None =>
        val nRow = broadcast(nodesRaw.agg(count(lit(1)).cast("long").as("__n")))
        nodesRaw.crossJoin(nRow).selectExpr("__id",
          "CAST(1000000000 AS BIGINT) div __n AS __init",
          "CAST(150000000 AS BIGINT) div __n AS __tele",
          "__n AS __dden")
      case Some(sd) =>
        // seed list is a broadcast-sized id set; flag + count ∩ nodes in
        // one left join (never a collect)
        val s = sd.select(col(sd.columns.head).cast("long").as("__id"))
          .distinct().withColumn("__sd", lit(1))
        val flagged = nodesRaw.join(broadcast(s), Seq("__id"), "left")
        val nsRow = broadcast(flagged.agg(
          sum(when(col("__sd").isNotNull, 1L).otherwise(0L))
            .cast("long").as("__ns")))
        flagged.crossJoin(nsRow).selectExpr("__id",
          ("CASE WHEN __sd IS NOT NULL THEN CAST(1000000000 AS BIGINT)" +
            " div __ns ELSE CAST(0 AS BIGINT) END AS __init"),
          ("CASE WHEN __sd IS NOT NULL THEN CAST(150000000 AS BIGINT)" +
            " div __ns ELSE CAST(0 AS BIGINT) END AS __tele"),
          // dangling mass teleports by the personalization vector (the
          // standard PPR convention): onto seeds only
          ("CASE WHEN __sd IS NOT NULL THEN __ns" +
            " ELSE CAST(0 AS BIGINT) END AS __dden"))
    }
    // Dangling FLAG fused onto the node table, which removes a shuffle per
    // round: a per-round dangle sum that SEMI-JOINS the rank vector
    // against a separately persisted dangling-node set pays one join (+ its
    // exchange and broadcast build) inside every round's scalar subtree.
    // "No out-edges" is a pure function of the edge set, so it is computed
    // ONCE here (one left join at node-table build) and carried as a 0/1
    // column through every round's rank vector; the round's dangle sum
    // becomes a scan-agg over the already-materialized r. Σ __r over
    // __dang=1 rows ≡ Σ __r semi-joined against (nodes ∖ out-edge
    // sources) — the exact same node set.
    val ntd = if (danglingMass) {
      val srcs = ed.select(col("__src").as("__id")).distinct()
        .withColumn("__hasout", lit(1))
      nt.join(srcs, Seq("__id"), "left")
        .withColumn("__dang",
          when(col("__hasout").isNull, 1L).otherwise(0L))
        .drop("__hasout")
    } else nt
    val nodes = graft.CacheRegistry.track(ntd.persist(disk))
    val init =
      if (danglingMass)
        nodes.select(col("__id"), col("__init").as("__r"), col("__dang"))
      else nodes.select(col("__id"), col("__init").as("__r"))
    def step(r: DataFrame): DataFrame = {
      val sums = ed.join(r, col("__src") === col("__id"))
        .selectExpr("__dst", "(__r * __w) div __tw AS __c")
        .groupBy("__dst").agg(sum("__c").as("__s"))
      if (danglingMass) {
        // dangle sum: scan-agg over the materialized rank vector via the
        // fused flag — no join
        val dRow = broadcast(r.agg(
          coalesce(sum(when(col("__dang") === 1L, col("__r"))), lit(0L))
            .cast("long").as("__dangle")))
        nodes.join(sums, nodes("__id") === sums("__dst"), "left")
          .crossJoin(dRow)
          .selectExpr("__id",
            ("__tele + (85 * (coalesce(__s, CAST(0 AS BIGINT))" +
              " + CASE WHEN __dden > 0 THEN __dangle div __dden" +
              " ELSE CAST(0 AS BIGINT) END)) div 100 AS __r"),
            "__dang")
      } else {
        nodes.join(sums, nodes("__id") === sums("__dst"), "left")
          .selectExpr("__id",
            "__tele + (85 * coalesce(__s, CAST(0 AS BIGINT))) div 100 AS __r")
      }
    }
    // Dangling mode reads r twice per round (contrib join + dangle sum),
    // so every round but the last is materialized. Locally a
    // localCheckpoint is the cheap materialization (a persist + count
    // measured d146 2.7x slower at bench scale: columnar cache encode
    // plus full-tree re-planning per round, vs a raw block write), so
    // every round truncates; under reliable checkpoints a file-set write
    // per round is the cost to avoid, so rounds persist and only the
    // `checkpointEvery` cadence writes files. The last round stays lazy:
    // the caller's action computes it.
    val reliable = graft.GraftConf.reliableCheckpointsEnabled(edges.sparkSession)
    val every = if (danglingMass && !reliable) 1 else checkpointEvery
    val r = Superstep.iterate("pageRank", init, iters - 1,
      truncateEvery = every, readsTwice = danglingMass)(step).frame
    step(r).selectExpr("__id AS id", "__r AS rank_ppb")
  }

  /** Fixed-round k-core peel (Seidman 1983) of an undirected graph — the
    * density audit of a near-dup neighborhood: the k-core is the maximal
    * subgraph where every node keeps ≥ k neighbors, so core membership
    * separates genuinely duplicate-dense regions (which survive peeling)
    * from band-collision fringe (degree-1/2 tendrils peel off in the
    * first rounds) — a sharper structural gate than [[triangleStats]]'
    * one-row census, per node instead of global.
    *
    * Rounds are FIXED like [[labelPropagation]]: the output after R
    * rounds is the R-round peel (a superset of the true k-core that
    * equals it once peeling stabilizes) and a pure integer function of
    * the edge set, replayable by any engine as R unrolled restrict-count
    * rounds. Duplicate (src, dst) rows count once; self loops drop. Pass
    * a symmetrized edge list. The round plan is [[peel]]'s; for
    * peel-to-fixpoint semantics see [[kCoreConverged]].
    *
    * Returns (id, degree) for nodes surviving round R — degree counted
    * in the round-R restricted graph.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int = 3): DataFrame =
    peel("kCore", edges, srcCol, dstCol, None, k, rounds, converge = false)

  /** [[kCore]] peeled until the survivor set STABILIZES — the true
    * k-core, Matula & Beck 1983's algorithm distributed — or `maxRounds`
    * is reached. Peeling is monotone (each round's survivors are a subset
    * of the previous round's), so "survivor count unchanged" is an EXACT
    * fixpoint test: count equality on nested sets is set equality, one
    * 1-row driver scalar per round. Rounds past the fixpoint are
    * identity, so the result ALWAYS equals the `maxRounds`-unrolled
    * [[kCore]]: the early exit buys wall clock and never changes the
    * answer, which keeps the data-dependent stop oracle-replayable.
    *
    * Returns (id, degree), as [[kCore]].
    */
  def kCoreConverged(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int, maxRounds: Int = 10): DataFrame =
    peel("kCoreConverged", edges, srcCol, dstCol, None, k, maxRounds,
      converge = true)

  /** STRENGTH-threshold core peel — [[kCore]] in the weighted regime
    * (Eidsaa & Almaas 2013's s-core): per round, keep nodes whose
    * STRENGTH (sum of incident edge weights, e.g. micro-scaled jaccard)
    * stays ≥ s in the restricted graph. A node with ONE certain duplicate
    * (w ≈ 10^6) can out-survive a node with three marginal band matches
    * (w ≈ 5·10^5 each) under the count peel's inversion — the s-core
    * ranks by duplicate MASS, which is what a canonical-election cap
    * wants ([[labelPropagation]]'s weighted vote, applied to the density
    * gate).
    *
    * Same fixed-round replayability as [[kCore]]. Duplicate (src, dst)
    * rows SUM their weights (the [[modularityWeighted]] multigraph
    * convention); weights must be POSITIVE longs — enforced loudly. With
    * w ≡ 1 and s = k this is [[kCore]] bit-for-bit (strength = degree),
    * which the spec pins.
    *
    * Returns (id, strength) for nodes surviving round R — strength
    * summed in the round-R restricted graph. Pass a symmetrized edge
    * list.
    */
  def kCoreWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, s: Long,
                    rounds: Int = 3): DataFrame =
    peel("kCoreWeighted", edges, srcCol, dstCol, Some(weightCol), s, rounds,
      converge = false)

  /** [[kCoreWeighted]] peeled to the TRUE s-core fixpoint (or
    * `maxRounds`) — the weighted twin of [[kCoreConverged]] with the same
    * exact probe: restricting edges to survivors can only lower
    * strengths, so survivor sets only shrink and an unchanged count is an
    * unchanged set. The result always equals the `maxRounds`-unrolled
    * [[kCoreWeighted]].
    *
    * Returns (id, strength), as [[kCoreWeighted]].
    */
  def kCoreWeightedConverged(edges: DataFrame, srcCol: String,
                             dstCol: String, weightCol: String, s: Long,
                             maxRounds: Int = 10): DataFrame =
    peel("kCoreWeightedConverged", edges, srcCol, dstCol, Some(weightCol), s,
      maxRounds, converge = true)

  /** The one core peel behind the four `kCore*` entry points: the count
    * peel is the strength peel over the deduped edge set with unit
    * weight.
    *
    * One round: restrict edges to pairs whose BOTH endpoints survived the
    * previous round (two semi joins on the persisted edge table), sum
    * strengths (one keyed agg), keep nodes with strength ≥ s. The
    * surviving edge set only shrinks, so the shuffle budget falls round
    * by round. Each round's node-sized strength table is truncated
    * ([[graft.ops.Superstep]] every round) because the next round reads it twice
    * (both semi joins): lazy, the recompute tree would double per round.
    * With `converge` the survivor count is the fixpoint probe.
    */
  private def peel(op: String, edges: DataFrame, srcCol: String,
                   dstCol: String, weightCol: Option[String], s: Long,
                   rounds: Int, converge: Boolean): DataFrame = {
    require(s >= 1,
      s"${if (weightCol.isEmpty) "k" else "s"}=$s must be >= 1")
    require(rounds >= 1 && rounds <= 100,
      s"${if (converge) "maxRounds" else "rounds"}=$rounds out of [1,100]")
    val disk = StorageLevel.MEMORY_AND_DISK
    // a duplicate edge counts once in the count peel (unit weight on the
    // deduped set) and sums its weights in the strength peel
    val ends = weightedEnds(edges, srcCol, dstCol, weightCol)
      .where(col("__src") =!= col("__dst"))
    val e = graft.CacheRegistry.track((
      if (weightCol.isEmpty) ends.distinct()
      else ends.groupBy("__src", "__dst").agg(sum("__w").as("__w"))
    ).persist(disk))
    if (weightCol.isDefined) requirePositiveWeights(e, "__w", op)
    def survivors(st: DataFrame): DataFrame =
      st.where(col("__st") >= s).select(col("__src").as("__id"))
    // peeling only shrinks the survivor set, so an unchanged count is an
    // unchanged set; -1 makes the first round a non-fixpoint
    val probe = Option.when(converge)(
      Superstep.unchanged(-1L)(st => survivors(st).count()))
    // before the first round every edge source survives (strength s
    // passes the filter)
    val init = e.select(col("__src")).distinct().withColumn("__st", lit(s))
    val st = Superstep.iterate(op, init, rounds, probe = probe) { prev =>
      val surv = survivors(prev)
      val rs = e.join(surv, e("__src") === surv("__id"), "left_semi")
      val rd = rs.join(surv, rs("__dst") === surv("__id"), "left_semi")
      rd.groupBy("__src").agg(sum("__w").cast("long").as("__st"))
    }.frame
    st.where(col("__st") >= s).select(col("__src").as("id"),
      col("__st").as(if (weightCol.isEmpty) "degree" else "strength"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), fixed rounds —
    * community detection over a similarity graph: where connected
    * components ([[MinHashLSH.clusters]]) answer "transitively linked at
    * all?", LPA's majority vote splits a component into its densely-linked
    * cores, the granularity diversity-aware sampling wants (cap per
    * community, not per giant component).
    *
    * Determinism: labels start as own ids; each round every node takes the
    * label most frequent among its IN-neighbors, ties broken by smallest
    * label, nodes with no in-edges keep their label — a pure integer
    * argmax, so fixed-round output is a pure function of the edge set
    * (asynchronous/randomized LPA is not, which is why rounds are fixed
    * and synchronous). Per round: ONE equijoin + a (node, label) count agg
    * + a per-node argmax window — all keyed on node id, no cross product.
    * Each round's node-sized label table is truncated
    * ([[graft.ops.Superstep]]): the next round reads it twice (vote join +
    * carry-forward), so a lazy lineage doubles the recompute tree per
    * round — the Pregel superstep shape. Pass a symmetrized edge list
    * for undirected semantics.
    *
    * `weightCol` (must be POSITIVE longs, e.g. micro-scaled jaccard
    * similarities): the vote sums edge weights instead of counting
    * edges, so a node joins the community its STRONGEST duplicates
    * vote for, not its most numerous marginal band matches — the same
    * sharpening [[pageRank]]'s weighted form gives centrality. With
    * `weightCol = None` every edge weighs 1 and the recurrence is the
    * classic count vote, bit-for-bit. For vote-until-stable semantics
    * see [[labelPropagationConverged]].
    *
    * Returns (id, community) for every node in the edge set.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3,
                       weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters=$iters out of [1,100]")
    lpa("labelPropagation", edges, srcCol, dstCol, iters, weightCol,
      converge = false)
  }

  /** [[labelPropagation]] that votes until the labels STABILIZE (no node
    * changes its label between rounds) or `maxRounds` is reached —
    * whichever comes first. Once a round leaves every label unchanged,
    * every later synchronous round reproduces it verbatim (the vote is a
    * pure function of the incoming labels), so the early exit is
    * semantics-free: the result ALWAYS equals the `maxRounds`-unrolled
    * fixed-round recurrence, which is what makes the variant
    * oracle-replayable despite the data-dependent stop.
    *
    * Synchronous LPA routinely settles into a period-2 OSCILLATION
    * instead of a fixpoint (bipartite cores — and symmetric near-dup
    * graphs hit this constantly), which would burn every round to the
    * bound. Detected and fast-forwarded: when `lab_t == lab_{t-2}`, the
    * vote's determinism pins the whole future orbit
    * (`lab_s = lab_t` for s ≡ t, `lab_{t-1}` otherwise, mod 2), so the
    * round-`maxRounds` labels are selected by PARITY without running the
    * remaining rounds — still exactly the unrolled recurrence. Both
    * probes (fixpoint + cycle) come from ONE 1-row scan-agg over the
    * round's materialized label table — a driver scalar, never a data
    * collect.
    */
  def labelPropagationConverged(edges: DataFrame, srcCol: String,
                                dstCol: String, maxRounds: Int = 10,
                                weightCol: Option[String] = None): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 100,
      s"maxRounds=$maxRounds out of [1,100]")
    lpa("labelPropagationConverged", edges, srcCol, dstCol, maxRounds,
      weightCol, converge = true)
  }

  /** The one LPA loop: `rounds` synchronous vote rounds ([[lpaRound]]),
    * each truncated because the next round reads it twice (vote join +
    * carry-forward). With `converge` one scan-agg over each round counts
    * both the changed labels and the labels that differ from two rounds
    * back, so the fixpoint and the period-2 probes cost one 1-row job
    * together; a period-2 stop picks the round-`rounds` labels by parity
    * from the carried previous-label column.
    */
  private def lpa(op: String, edges: DataFrame, srcCol: String,
                  dstCol: String, rounds: Int, weightCol: Option[String],
                  converge: Boolean): DataFrame = {
    val (e, nodes) = lpaInputs(edges, srcCol, dstCol, weightCol)
    var cycled = false
    val probe = Option.when(converge) { (lab: DataFrame) =>
      val r = lab.agg(coalesce(sum(col("__chg")), lit(0L)),
        coalesce(sum(col("__cyc")), lit(0L))).head()
      cycled = r.getLong(0) != 0L && r.getLong(1) == 0L
      r.getLong(0) == 0L || cycled
    }
    // the initial labels have no previous label: the null makes the first
    // round a non-cycle
    val init = nodes.select(col("__id"), col("__id").as("__lab"),
      lit(null).cast("long").as("__prev"))
    val res = Superstep.iterate(op, init, rounds, probe = probe)(lpaRound(e, _))
    // period-2 orbit from round t: round `rounds` holds round t's labels
    // when rounds − t is even, round t−1's otherwise
    val pick = if (cycled && (rounds - res.rounds) % 2 != 0) "__prev" else "__lab"
    res.frame.select(col("__id").as("id"), col(pick).as("community"))
  }

  /** Loud-failure guard for the weighted operators' POSITIVE-weight
    * precondition (the repo's require discipline, previously doc-only
    * here): one tiny agg over an ALREADY-PERSISTED weight-fused edge
    * table, so it never re-runs the caller's edge pipeline — it
    * materializes the persist the first iteration needed anyway. Checked
    * on the fused table, so for [[modularityWeighted]] it validates the
    * summed multigraph weights (negative raws that cancel to a positive
    * sum are not detectable without rescanning the caller's pipeline —
    * the documented precondition remains on the raw weights).
    */
  private def requirePositiveWeights(e: DataFrame, wCol: String,
                                     op: String): Unit = {
    val r = e.agg(min(col(wCol))).head()
    if (!r.isNullAt(0))
      require(r.getLong(0) > 0L,
        s"$op: weight column must contain POSITIVE longs " +
          s"(micro-scaled similarities); found min weight ${r.getLong(0)}")
  }

  /** The edge list as long (__src, __dst, __w); __w ≡ 1 without a
    * weight column. */
  private def weightedEnds(edges: DataFrame, srcCol: String, dstCol: String,
                           weightCol: Option[String]): DataFrame =
    edges.select(col(srcCol).cast("long").as("__src"),
      col(dstCol).cast("long").as("__dst"),
      weightCol.fold(lit(1L))(w => col(w).cast("long")).as("__w"))

  /** Shared LPA inputs: weight-fused persisted edge table + node set. */
  private def lpaInputs(edges: DataFrame, srcCol: String, dstCol: String,
                        weightCol: Option[String]): (DataFrame, DataFrame) = {
    val disk = StorageLevel.MEMORY_AND_DISK
    val e = graft.CacheRegistry.track(
      weightedEnds(edges, srcCol, dstCol, weightCol).persist(disk))
    if (weightCol.isDefined)
      requirePositiveWeights(e, "__w", "labelPropagation(weighted)")
    val nodes = graft.CacheRegistry.track(
      e.select(col("__src").as("__id"))
        .union(e.select(col("__dst").as("__id")))
        .distinct().persist(disk))
    (e, nodes)
  }

  /** One synchronous vote round over `lab` (__id, __lab, __prev): every
    * node takes the heaviest label among its in-neighbors (ties to the
    * smallest label), or keeps its own without in-edges. The weighted
    * vote `sum(__w)` reduces to the classic count with __w ≡ 1
    * bit-for-bit (long sums are exact), so one round serves both forms.
    *
    * The carry-forward join sees the old and the new label side by side,
    * so the round also emits its probe inputs for free: `__prev` (the
    * old label), `__chg` (new ≠ old, the fixpoint test) and `__cyc`
    * (new ≠ the label two rounds back, the period-2 test; 1 while no
    * such round exists).
    */
  private def lpaRound(e: DataFrame, lab: DataFrame): DataFrame = {
    // The window stays: the declarative argmax
    // `groupBy(__dst).agg(min(struct(-__v, __lab)))` picks the same
    // winner but measured slower on d149 (5-rep A/B: 3.70-4.20 s vs
    // 3.27-3.57 s) — struct aggregation buffers are not hash-aggregable,
    // so Spark plans a partial+final SortAggregate pair, two sorts around
    // the exchange where the window pays one after it.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__dst").orderBy(col("__v").desc, col("__lab").asc)
    val win = e.join(lab, col("__src") === col("__id"))
      .groupBy(col("__dst"), col("__lab"))
      .agg(sum("__w").as("__v"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("__dst"), col("__lab").as("__newlab"))
    val newLab = coalesce(col("__newlab"), lab("__lab"))
    lab.join(win, lab("__id") === win("__dst"), "left")
      .select(col("__id"), newLab.as("__lab"), lab("__lab").as("__prev"),
        when(newLab =!= lab("__lab"), 1L).otherwise(0L).as("__chg"),
        when(lab("__prev").isNull || newLab =!= lab("__prev"), 1L)
          .otherwise(0L).as("__cyc"))
  }

  /** Newman modularity of a community assignment on the 1e-6 integer
    * grid — the closure of the [[labelPropagation]] loop: LPA proposes
    * communities, modularity SCORES them (`Q = Σ_c [L_c/m − (D_c/2m)²]`,
    * Newman & Girvan 2004 — intra-community edge mass vs the degree-
    * preserving random expectation), so a pipeline can gate "cap
    * sampling per community" on the partition actually being denser than
    * chance (Q > 0) instead of trusting the fixed-round vote blindly.
    *
    * Integer discipline: per community the positive term
    * `(L_c·10^6) div m` and the expectation term
    * `(D_c²·10^6) div (4m²)` are each computed in decimal(38,0) (D_c² at
    * web scale exceeds long range) and truncated to a long SEPARATELY —
    * both non-negative, so truncating `div` and the oracle's floor `//`
    * agree — then summed exactly: `q_micro = Σadd − Σsub`. No float
    * enters, so the score is a pure function of (edges, assignment).
    *
    * Plan: orient + dedup edges once (persisted, read twice — the
    * [[triangleStats]] S4 shape); TWO broadcast-or-keyed joins hang the
    * community id on each endpoint; intra-edge count and community
    * degree are keyed aggs; the scalar m rides a broadcast 1-row
    * crossJoin. Nodes missing from `assign` keep their own id as a
    * singleton community (coalesce), so the score is total.
    *
    * Returns ONE row: (n_nodes, n_edges, n_communities, intra_edges,
    * q_micro).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 assign: DataFrame, idCol: String,
                 commCol: String): DataFrame = {
    val disk = StorageLevel.MEMORY_AND_DISK
    val e = graft.CacheRegistry.track(
      edges.select(
          least(col(srcCol), col(dstCol)).cast("long").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
        .where(col("a") =!= col("b"))
        .distinct().persist(disk))
    // persisted: BOTH endpoint joins read the assignment, and the caller
    // may hand over an expensive unmaterialized proposal (d139 feeds the
    // 3-round LPA output here — unpersisted, every vote round would
    // recompute once per endpoint side). Deduplicated to ONE community
    // per id (smallest, a deterministic tie-break) — duplicate (id,comm)
    // rows would otherwise fan out both endpoint joins and silently
    // inflate lc/dc past n_edges.
    val cm = graft.CacheRegistry.track(
      assign.select(col(idCol).cast("long").as("__id"),
          col(commCol).cast("long").as("__cm"))
        .groupBy("__id").agg(min("__cm").as("__cm"))
        .persist(disk))
    val mRow = broadcast(e.agg(count(lit(1)).cast("long").as("m")))
    // community on each endpoint; unassigned nodes become singletons
    val cma = cm.select(col("__id").as("__ida"), col("__cm").as("__ca"))
    val cmb = cm.select(col("__id").as("__idb"), col("__cm").as("__cb"))
    val withC = e
      .join(cma, e("a") === col("__ida"), "left")
      .join(cmb, e("b") === col("__idb"), "left")
      .select(col("a"), col("b"),
        coalesce(col("__ca"), col("a")).as("ca"),
        coalesce(col("__cb"), col("b")).as("cb"))
    val intra = withC.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).cast("long").as("lc"))
    val deg = withC.select(col("ca").as("c"))
      .union(withC.select(col("cb").as("c")))
      .groupBy("c").agg(count(lit(1)).cast("long").as("dc"))
    val terms = deg.join(intra, Seq("c"), "left")
      .select(col("c"), coalesce(col("lc"), lit(0L)).as("lc"), col("dc"))
      .crossJoin(mRow)
      .selectExpr("c", "lc",
        "lc * CAST(1000000 AS BIGINT) div m AS add_micro",
        ("CAST(dc AS DECIMAL(38,0)) * dc * 1000000" +
          " div (CAST(4 AS DECIMAL(38,0)) * m * m) AS sub_micro"))
    val nn = broadcast(e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
      .agg(count(lit(1)).cast("long").as("n_nodes")))
    terms.agg(
        count(lit(1)).cast("long").as("n_communities"),
        coalesce(sum("lc"), lit(0L)).cast("long").as("intra_edges"),
        (coalesce(sum("add_micro"), lit(0L)) -
          coalesce(sum("sub_micro"), lit(0L))).cast("long").as("q_micro"))
      .crossJoin(nn).crossJoin(mRow)
      .selectExpr("n_nodes", "m AS n_edges", "n_communities",
        "intra_edges", "q_micro")
  }

  /** WEIGHTED Newman modularity (Newman 2004, "Analysis of weighted
    * networks"): `Q_w = Σ_c [W_c/W − (S_c/2W)²]` with W the total edge
    * weight, W_c the intra-community weight and S_c the community
    * strength (sum of incident weights) — the scorer that matches the
    * weighted LPA vote ([[labelPropagation]] with `weightCol`): strong
    * duplicate edges count proportionally in BOTH the proposal and the
    * gate, so a community of few-but-certain duplicates scores above a
    * blob of marginal band matches. With w ≡ 1 on a duplicate-free edge
    * list this reduces to [[modularity]] exactly.
    *
    * Same integer discipline: weights are POSITIVE longs (micro-scaled
    * similarities), every sum a long, both grid terms truncated
    * SEPARATELY in decimal(38,0). Capacity bound (loud ANSI overflow,
    * never silent): the expectation term needs `S_c²·10^6 < 10^38`, i.e.
    * total weight `W < 5·10^15` — ~5·10^9 edges at full micro (10^6)
    * weights; at larger scales coarsen the weight grid (each 10× buys
    * 10× the edges, an exact and documented trade). Duplicate (a, b)
    * rows SUM their weights (multigraph convention — the unweighted
    * form's `distinct` has no weighted analog that keeps w ≡ 1 parity
    * on clean inputs, which the spec pins).
    *
    * Plan: one orient + weight-sum agg (persisted, read twice), two
    * endpoint joins against the deduped assignment, keyed aggs, 1-row
    * broadcast totals — the [[modularity]] shape with weight columns
    * riding along.
    *
    * Returns ONE row: (n_nodes, n_edges, total_w, n_communities,
    * intra_edges, intra_w, q_micro).
    */
  def modularityWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                         weightCol: String, assign: DataFrame,
                         idCol: String, commCol: String): DataFrame = {
    val disk = StorageLevel.MEMORY_AND_DISK
    val e = graft.CacheRegistry.track(
      edges.select(
          least(col(srcCol), col(dstCol)).cast("long").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("b"),
          col(weightCol).cast("long").as("w"))
        .where(col("a") =!= col("b"))
        .groupBy("a", "b").agg(sum("w").as("w"))
        .persist(disk))
    requirePositiveWeights(e, "w", "modularityWeighted")
    val cm = graft.CacheRegistry.track(
      assign.select(col(idCol).cast("long").as("__id"),
          col(commCol).cast("long").as("__cm"))
        .groupBy("__id").agg(min("__cm").as("__cm"))
        .persist(disk))
    val mRow = broadcast(e.agg(count(lit(1)).cast("long").as("m"),
      coalesce(sum("w"), lit(0L)).cast("long").as("wt")))
    val cma = cm.select(col("__id").as("__ida"), col("__cm").as("__ca"))
    val cmb = cm.select(col("__id").as("__idb"), col("__cm").as("__cb"))
    val withC = e
      .join(cma, e("a") === col("__ida"), "left")
      .join(cmb, e("b") === col("__idb"), "left")
      .select(col("a"), col("b"), col("w"),
        coalesce(col("__ca"), col("a")).as("ca"),
        coalesce(col("__cb"), col("b")).as("cb"))
    val intra = withC.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("c"))
      .agg(count(lit(1)).cast("long").as("lc"),
        sum("w").cast("long").as("lw"))
    val strength = withC.select(col("ca").as("c"), col("w"))
      .union(withC.select(col("cb").as("c"), col("w")))
      .groupBy("c").agg(sum("w").cast("long").as("sc"))
    val terms = strength.join(intra, Seq("c"), "left")
      .select(col("c"), coalesce(col("lc"), lit(0L)).as("lc"),
        coalesce(col("lw"), lit(0L)).as("lw"), col("sc"))
      .crossJoin(mRow)
      .selectExpr("c", "lc", "lw",
        // decimal, not long: lw·10^6 would cross 2^63 past ~9·10^12
        // total weight, far under the documented 5·10^15 bound
        "CAST(lw AS DECIMAL(38,0)) * 1000000 div wt AS add_micro",
        ("CAST(sc AS DECIMAL(38,0)) * sc * 1000000" +
          " div (CAST(4 AS DECIMAL(38,0)) * wt * wt) AS sub_micro"))
    val nn = broadcast(e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
      .agg(count(lit(1)).cast("long").as("n_nodes")))
    terms.agg(
        count(lit(1)).cast("long").as("n_communities"),
        coalesce(sum("lc"), lit(0L)).cast("long").as("intra_edges"),
        coalesce(sum("lw"), lit(0L)).cast("long").as("intra_w"),
        (coalesce(sum("add_micro"), lit(0L)) -
          coalesce(sum("sub_micro"), lit(0L))).cast("long").as("q_micro"))
      .crossJoin(nn).crossJoin(mRow)
      .selectExpr("n_nodes", "m AS n_edges", "wt AS total_w",
        "n_communities", "intra_edges", "intra_w", "q_micro")
  }

  /** Triangle census of an undirected graph — the structure audit of a
    * similarity graph: a near-dup graph whose edges are real duplicates is
    * triangle-dense (duplicates of a duplicate are duplicates), while
    * band-collision noise shows up as open wedges, so the global
    * clustering coefficient is a one-row quality gate on the LSH pair set
    * itself (the d103 recall gate's structural complement).
    *
    * Counting uses the ordered-orientation identity: orient every edge
    * along a TOTAL order on vertices, then each triangle `u < v < w` is
    * exactly ONE match of `(u,v) ⋈ (v,w) ⋈ (u,w)` — two equijoins over
    * the oriented edge table, no permutation double-count, no DISTINCT.
    * The order used is **(degree, id)** — the Chiba–Nishizeki/degree
    * orientation: every vertex's OUT-degree in the oriented table is
    * O(√|E|) (a vertex only keeps edges toward higher-degree endpoints,
    * and at most 2√|E| vertices have degree ≥ √|E|), so a template-farm
    * hub of raw degree D contributes O(min(D,√|E|)²) join candidates on
    * its key instead of O(D²) — the skew bound that keeps the two
    * equijoins partitionable at 100 TB without leaning on AQE skew
    * splitting. Costs one degree pre-join over the undirected table; the
    * triangle count itself is orientation-invariant, so the census is
    * bit-identical to the raw-id orientation. The oriented table is
    * persisted once and read three times (S4). Wedges are a pure degree
    * aggregate: `Σ d(d−1)/2` over the symmetrized degree — all BIGINT, and
    * the coefficient is emitted on the 1e-6 integer grid
    * (`3·T·10^6 div wedges`), engine-replayable like [[pageRank]].
    *
    * Returns ONE row: (n_nodes, n_edges, n_triangles, n_wedges, gcc_micro).
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val disk = StorageLevel.MEMORY_AND_DISK
    val und = graft.CacheRegistry.track(
      edges.select(
          least(col(srcCol), col(dstCol)).cast("long").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
        .where(col("a") =!= col("b"))
        .distinct().persist(disk))
    // symmetrized degree — read by the wedge census AND both orientation
    // joins (node-sized, broadcast-eligible)
    val dg = graft.CacheRegistry.track(
      und.select(col("a").as("id"))
        .union(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).cast("long").as("d"))
        .persist(disk))
    val ori = graft.CacheRegistry.track(
      orientByDegree(und, dg).persist(disk))
    val tri = ori.as("e1")
      .join(ori.as("e2"), col("e2.x") === col("e1.y"))
      .join(ori.as("e3"), col("e3.x") === col("e1.x") && col("e3.y") === col("e2.y"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val wedge = dg.agg(count(lit(1)).cast("long").as("n_nodes"),
      // coalesce: sum over ZERO nodes (empty edge input) is null, and the
      // census must stay total on empty frames (EmptyInputSpec)
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L))
        .cast("long").as("n_wedges"))
    val ne = und.agg(count(lit(1)).cast("long").as("n_edges"))
    wedge.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .selectExpr("n_nodes", "n_edges", "n_triangles", "n_wedges",
        ("CASE WHEN n_wedges > 0 THEN (3 * n_triangles * CAST(1000000 AS" +
          " BIGINT)) div n_wedges ELSE CAST(0 AS BIGINT) END AS gcc_micro"))
  }

  /** (degree, id)-orientation of a deduped undirected edge table
    * `und(a, b)` given its symmetrized degree table `dg(id, d)`: each
    * edge points from its (degree, id)-smaller endpoint to the larger,
    * a total acyclic order under which every vertex's out-degree is
    * O(√|E|) — the [[triangleStats]] skew bound, exposed for the spec
    * that pins it on a power-law fixture. No broadcast hint: the degree
    * table is node-sized — AQE broadcasts it at bench scale and keys the
    * join at corpus scale.
    */
  private[graft] def orientByDegree(und: DataFrame, dg: DataFrame): DataFrame = {
    val da = dg.select(col("id").as("__ia"), col("d").as("__da"))
    val db = dg.select(col("id").as("__ib"), col("d").as("__db"))
    und.join(da, col("a") === col("__ia"))
      .join(db, col("b") === col("__ib"))
      .select(
        when(col("__da") < col("__db") ||
            (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("x"), col("b").as("y")))
          .otherwise(struct(col("b").as("x"), col("a").as("y"))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
  }

  /** Degree assortativity of an undirected graph on the 1e-6 integer
    * grid (Newman 2002): the Pearson correlation of endpoint degrees
    * across edges — positive means dup hubs link to other hubs (template
    * farms, mirror rings: one component worth capping as a unit),
    * negative means hub-and-spoke (one canonical page quoted everywhere:
    * per-node election is the right dedup). The structural complement of
    * [[triangleStats]]' closure census and [[kCore]]'s per-node density.
    *
    * PURE integer arithmetic end to end — degrees are counts, every sum
    * runs in decimal(38,0) (Σdeg² at web scale exceeds long), and the
    * correlation lands by signed grid division `sign·(|num·10^6| div den)`
    * (num < 0 on disassortative graphs — the d133 truncate-vs-floor
    * lesson), with a common-shift rescale guarding the ×10^6 layer (see
    * the inline note). Unlike the entropy meters there is NO shared-libm
    * dependency at all: any engine replays the row from the edge set
    * bit-for-bit. On the symmetrized list the two endpoint-degree
    * marginals coincide, so `r = (m·Σxy − (Σx)²) div (m·Σx² − (Σx)²)`;
    * a degree-regular graph (den = 0, r undefined) reports 0.
    *
    * Capacity bound (exact, fails LOUDLY via ANSI decimal overflow, never
    * silently): the moments `m·Σdeg²` must fit decimal(38,0), i.e.
    * `E²·D² < 10^38` ⇒ `E·D < 10^19` for E symmetrized edges and max
    * degree D — e.g. 10^12 edges with hub degree up to 10^7, which covers
    * any banding-capped near-dup graph; a pathological star at 10^12
    * edges (D ≈ E) exceeds it and errors rather than returning a wrong
    * correlation.
    *
    * Plan: one degree agg (keyed), two equijoins hanging the degree on
    * each endpoint, one 1-row total agg — no iteration, no float, and
    * the only corpus-sized exchanges key on node id. Pass a symmetrized
    * edge list ([[kCore]]'s contract).
    *
    * Returns ONE row: (n_nodes, n_edges, max_degree, r_micro) —
    * n_edges counts directed (symmetrized) edges.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val disk = StorageLevel.MEMORY_AND_DISK
    val e = graft.CacheRegistry.track(
      edges.select(col(srcCol).cast("long").as("__src"),
          col(dstCol).cast("long").as("__dst"))
        .where(col("__src") =!= col("__dst"))
        .distinct().persist(disk))
    val deg = e.groupBy(col("__src").as("__id"))
      .agg(count(lit(1)).cast("long").as("__d"))
    val da = deg.select(col("__id").as("__ida"), col("__d").as("__du"))
    val db = deg.select(col("__id").as("__idb"), col("__d").as("__dv"))
    val s = e.join(da, e("__src") === col("__ida"))
      .join(db, e("__dst") === col("__idb"))
      .selectExpr("CAST(__du AS DECIMAL(38,0)) AS du",
        "CAST(__dv AS DECIMAL(38,0)) AS dv")
      .agg(count(lit(1)).cast("long").as("m"),
        coalesce(sum(col("du")), lit(0L).cast("decimal(38,0)")).as("sx"),
        coalesce(sum(col("du") * col("dv")),
          lit(0L).cast("decimal(38,0)")).as("sxy"),
        coalesce(sum(col("du") * col("du")),
          lit(0L).cast("decimal(38,0)")).as("sxx"),
        coalesce(max(col("du")), lit(0L).cast("decimal(38,0)"))
          .cast("long").as("max_degree"))
    val nn = broadcast(e.select(col("__src")).distinct()
      .agg(count(lit(1)).cast("long").as("n_nodes")))
    // Grid division with an overflow guard: num and den are bounded by
    // m·sxx ≲ 10^37 (see scaladoc), but num·10^6 would cross decimal's
    // 10^38 ceiling once den exceeds ~10^31 — so when it does, BOTH num
    // and den are pre-divided by the SAME shift (den div 10^30, making
    // den' ≈ 10^30-10^31). The shift is a pure integer function of the
    // edge set (replayable), and its relative error is ≤ 2·shift/den ≈
    // 10^-30 — twenty-four orders below the 1e-6 grid, so the emitted
    // micro value is unchanged anywhere the unshifted form is computable.
    s.crossJoin(nn)
      .selectExpr("n_nodes", "m", "max_degree",
        "m * sxy - sx * sx AS num", "m * sxx - sx * sx AS den")
      .selectExpr("n_nodes", "m", "max_degree", "den",
        ("CASE WHEN den > 10000000000000000000000000000000" +
          " THEN den div 1000000000000000000000000000000" +
          " ELSE CAST(1 AS DECIMAL(38,0)) END AS shift"), "num")
      .selectExpr("n_nodes", "m", "max_degree", "num", "shift",
        // exact decimal floor-div (x - x%s)/s — `div` itself returns
        // LONG and the ~10^30 shifted values exceed it; the subtraction
        // makes the decimal `/` land on an exact integer, so the
        // round-half-up cast back to decimal(38,0) is lossless
        "CAST((den - den % shift) / shift AS DECIMAL(38,0)) AS dens",
        "den")
      .selectExpr("n_nodes", "m AS n_edges", "max_degree",
        ("CASE WHEN den <= 0 THEN CAST(0 AS BIGINT)" +
          " WHEN num >= 0" +
          " THEN CAST(CAST((num - num % shift) / shift AS DECIMAL(38,0))" +
          " * 1000000 div dens AS BIGINT)" +
          " ELSE -CAST(CAST((-num - (-num) % shift) / shift AS DECIMAL(38,0))" +
          " * 1000000 div dens AS BIGINT) END AS r_micro"))
  }
}
