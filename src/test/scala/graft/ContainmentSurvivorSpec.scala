package graft

import org.apache.spark.sql.functions._

import graft.functions.{JaccardJoin, MinHashLSH}

/** Containment-dedup survivors, cluster-size histograms, the converged
  * s-core and StreamRunner's conf restore, pinned.
  *
  * 1. Containment-dedup survivor guarantee: the mutual tie-break is
  *    lexicographic (shingle-set size, id) when the pair frame carries
  *    sizes — every drop then points at a strictly-(size,id)-greater
  *    container, the drop relation is acyclic, and every connected group
  *    keeps at least one member. The previous id-only rule could drop a
  *    whole group on a mixed mutual/strict cycle (the counterexample is
  *    reproduced below).
  * 2. [[MinHashLSH.clusterSizeProfileFromHistogram]] combines duplicate
  *    size rows instead of silently mis-assigning cumulative bases.
  * 3. [[graft.streaming.StreamRunner]] restores its session-global conf
  *    overrides even when start() throws.
  */
class R16InfraSpec extends SparkSpec {

  private def drain(): Unit = {
    CacheRegistry.releaseAll(); Checkpoints.releaseAll()
  }

  // the sequential reference model of the (size, id) rule
  private def szModel(ids: Seq[Long], sz: Map[Long, Long],
                      pairs: Set[(Long, Long)]): Map[Long, (String, Long)] =
    ids.map { a =>
      val conts = pairs.collect { case (x, b) if x == a => b }
      val drop = conts.exists { b =>
        val mutual = pairs((b, a))
        !mutual || sz(b) > sz(a) || (sz(b) == sz(a) && b > a)
      }
      a -> ((if (drop) "drop" else "keep", conts.size.toLong))
    }.toMap

  private def verdicts(ids: Seq[Long], sz: Map[Long, Long],
                       pairs: Set[(Long, Long)]): Map[Long, (String, Long)] = {
    import spark.implicits._
    val docs = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pdf = pairs.toSeq
      .map { case (a, b) => (a, b, sz(a), sz(b)) }
      .toDF("doc_a", "doc_b", "sz_a", "sz_b")
    val out = JaccardJoin.containmentDedupVerdicts(docs, "doc_id", pdf)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    drain()
    out
  }

  test("mutual tie-break is lexicographic (size, id) when sizes are present") {
    // sizes force the opposite outcome from the id-only rule: the mutual
    // pair (1,2) has sz(1)=20 > sz(2)=5, so 2 drops and 1 keeps — id-only
    // would have dropped 1
    val ids = Seq(1L, 2L)
    val sz = Map(1L -> 20L, 2L -> 5L)
    val pairs = Set((1L, 2L), (2L, 1L))
    val got = verdicts(ids, sz, pairs)
    assert(got(1L) === (("keep", 1L)))
    assert(got(2L) === (("drop", 1L)))
  }

  test("round-15 ADVICE counterexample: the (size,id) rule keeps a survivor") {
    // A(sz10,id1) mutual B(sz9,id2); B strictly contained in C(sz12,id0);
    // C mutual A. Under the id-only rule A, B and C ALL drop (a dedup
    // gate deleting every copy of the content); under (size,id) the
    // maximal element C must survive.
    val ids = Seq(0L, 1L, 2L) // C=0, A=1, B=2
    val sz = Map(0L -> 12L, 1L -> 10L, 2L -> 9L)
    val pairs = Set(
      (1L, 2L), (2L, 1L), // A mutual B
      (2L, 0L), // B strictly contained in C
      (0L, 1L), (1L, 0L)) // C mutual A
    val got = verdicts(ids, sz, pairs)
    assert(got(0L) === (("keep", 1L)), s"max-(size,id) doc must survive: $got")
    assert(got(1L)._1 === "drop") // mutual with the larger C
    assert(got(2L)._1 === "drop") // strict subset of C
    // and the id-only fallback (no size columns) indeed drops all three —
    // the documented weaker property this fix exists for
    import spark.implicits._
    val docs = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val bare = pairs.toSeq.toDF("doc_a", "doc_b")
    val fb = JaccardJoin.containmentDedupVerdicts(docs, "doc_id", bare)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    drain()
    assert(fb.values.forall(_ == "drop"), s"fallback shape changed: $fb")
  }

  test("verdicts equal the (size,id) model on random relations") {
    val rnd = new scala.util.Random(16L)
    for (trial <- 1 to 8) {
      val n = 3 + rnd.nextInt(8)
      val ids = (1L to n.toLong)
      val sz = ids.map(i => i -> (1L + rnd.nextInt(30).toLong)).toMap
      val pairs = Seq.fill(2 + rnd.nextInt(12))(
        (1L + rnd.nextInt(n).toLong, 1L + rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).toSet
      assert(verdicts(ids, sz, pairs) === szModel(ids, sz, pairs),
        s"trial=$trial sz=$sz pairs=$pairs")
    }
  }

  test("threshold-consistent relations always keep a survivor per group") {
    // threshold-consistent = what containmentPairs emits: a strict
    // (one-directional) edge implies a strictly larger container. Mutual
    // edges may connect any sizes. Property: every connected component of
    // the pair graph keeps at least one member — the acyclicity claim.
    val rnd = new scala.util.Random(1616L)
    for (trial <- 1 to 10) {
      val n = 4 + rnd.nextInt(8)
      val ids = (1L to n.toLong)
      val sz = ids.map(i => i -> (1L + rnd.nextInt(12).toLong)).toMap
      val raw = Seq.fill(3 + rnd.nextInt(12))(
        (1L + rnd.nextInt(n).toLong, 1L + rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      // coerce to threshold consistency: same-size or "wrong-way" raw
      // edges become mutual; strictly-up edges stay strict or mutual
      val pairs: Set[(Long, Long)] = raw.flatMap { case (a, b) =>
        if (sz(a) < sz(b)) {
          if (rnd.nextBoolean()) Seq((a, b)) else Seq((a, b), (b, a))
        } else Seq((a, b), (b, a))
      }.toSet
      val got = verdicts(ids, sz, pairs)
      // connected components of the undirected pair graph
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      val groups = ids.groupBy(find).values.filter(_.size > 1)
      groups.foreach { g =>
        assert(g.exists(i => got(i)._1 == "keep"),
          s"trial=$trial group $g all dropped: sz=$sz pairs=$pairs got=$got")
      }
    }
  }

  test("end-to-end: verdicts over real containmentPairs keep a survivor") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      1L -> base,
      2L -> base, // exact copy: mutual clique with 1
      3L -> (base + " lambda mu nu xi"), // strict superset of 1 and 2
      4L -> "totally unrelated words about nothing shared at all here"
    ).toDF("doc_id", "text")
    val pairs = JaccardJoin.containmentPairs(docs, "doc_id", "text", 0.6)
    assert(pairs.columns.toSeq ===
      Seq("doc_a", "doc_b", "containment", "sz_a", "sz_b"))
    val got = JaccardJoin.containmentDedupVerdicts(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    drain()
    assert(got(3L) === "keep", s"maximal superset must survive: $got")
    assert(got(1L) === "drop")
    assert(got(2L) === "drop")
    assert(got(4L) === "keep")
  }

  test("histogram profile combines duplicate size rows instead of corrupting") {
    import spark.implicits._
    // an un-aggregated census: size 3 appears twice (2 + 1 clusters) and
    // size 5 twice (1 + 1) — must equal the true histogram {3:3, 5:2}
    val dup = Seq((3L, 2L), (5L, 1L), (3L, 1L), (5L, 1L)).toDF("sz", "cnt")
    val agg = Seq((3L, 3L), (5L, 2L)).toDF("sz", "cnt")
    val a = MinHashLSH.clusterSizeProfileFromHistogram(dup, "sz", "cnt")
      .collect().head
    val b = MinHashLSH.clusterSizeProfileFromHistogram(agg, "sz", "cnt")
      .collect().head
    drain()
    assert(a === b, s"duplicate-size histogram diverged: $a vs $b")
    // and the values are the true census: 5 clusters, 19 members, max 5
    assert(a.getLong(0) == 5L && a.getLong(1) == 19L && a.getLong(2) == 5L)
  }

  test("kCoreWeightedConverged equals the maxRounds unroll on random graphs") {
    import spark.implicits._
    import graft.functions.GraphOps
    val rnd = new scala.util.Random(162L)
    for (trial <- 1 to 5) {
      val n = 4 + rnd.nextInt(8)
      val es = Seq.fill(6 + rnd.nextInt(20))(
        (1L + rnd.nextInt(n).toLong, 1L + rnd.nextInt(n).toLong,
          1L + rnd.nextInt(5).toLong))
        .filter(e => e._1 != e._2)
      val sym = (es ++ es.map(e => (e._2, e._1, e._3)))
        .toDF("src", "dst", "w")
      val s = 2L + rnd.nextInt(8).toLong
      val conv = GraphOps.kCoreWeightedConverged(sym, "src", "dst", "w",
          s = s, maxRounds = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      drain()
      val unroll = GraphOps.kCoreWeighted(sym, "src", "dst", "w",
          s = s, rounds = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      drain()
      assert(conv === unroll, s"trial=$trial s=$s edges=$es")
    }
  }

  test("kCoreWeightedConverged reaches the s-core fixpoint early") {
    import spark.implicits._
    import graft.functions.GraphOps
    // triangle of weight-3 edges survives s=5 (strength 6 inside the
    // core); the pendant (4) and its anchor-boost die in round 1-2; a
    // fixpoint well before maxRounds=10
    val es = Seq((1L, 2L, 3L), (2L, 3L, 3L), (3L, 1L, 3L), (1L, 4L, 3L))
    val sym = (es ++ es.map(e => (e._2, e._1, e._3))).toDF("src", "dst", "w")
    val got = GraphOps.kCoreWeightedConverged(sym, "src", "dst", "w",
        s = 5L, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    drain()
    assert(got === Map(1L -> 6L, 2L -> 6L, 3L -> 6L))
  }

  test("StreamRunner restores session confs when start() throws") {
    import spark.implicits._
    val retKey = "spark.sql.streaming.numRecentProgressUpdates"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevRet = spark.conf.getOption(retKey)
    val prevNd = spark.conf.getOption(ndKey)
    // a batch frame: writeStream throws AnalysisException before any
    // query starts — the overrides must not leak into the session
    val batch = Seq((1L, "x")).toDF("k", "v")
    intercept[Throwable] {
      graft.streaming.StreamRunner.runToBatch(batch, "r16_conf_leak",
        mode = "update", noDataBatches = false)
    }
    assert(spark.conf.getOption(retKey) === prevRet,
      "progress-retention override leaked after a failed start")
    assert(spark.conf.getOption(ndKey) === prevNd,
      "noDataMicroBatches override leaked after a failed start")
  }
}
