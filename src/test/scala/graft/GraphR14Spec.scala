package graft

import org.scalacheck.{Gen, Prop}
import org.apache.spark.sql.functions._

import graft.functions.GraphOps

/** Round-14 graph features: dangling-mass PageRank, weighted LPA, the
  * converged (fixpoint) kCore/LPA variants, degree-ordered triangle
  * orientation, and the modularity duplicate-assignment guard.
  */
class GraphR14Spec extends SparkSpec {

  private def checkProp(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  private def ranksDangling(edges: Seq[(Long, Long)], iters: Int,
                            seeds: Option[Seq[Long]] = None): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.pageRank(edges.toDF("src", "dst"), "src", "dst", iters,
        seeds = seeds.map(_.toDF("id")), danglingMass = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("dangling pagerank: single sink, exact hand-computed fixture") {
    // 1 -> 2, node 2 dangling. N=2, r0 = (5e8, 5e8).
    // dangle = 5e8, share = 5e8 div 2 = 25e7.
    // r(1) = 75e6 + 85*(0 + 25e7) div 100    = 287_500_000
    // r(2) = 75e6 + 85*(5e8 + 25e7) div 100  = 712_500_000
    val r = ranksDangling(Seq((1L, 2L)), 1)
    assert(r === Map(1L -> 287500000L, 2L -> 712500000L))
    assert(r.values.sum === 1000000000L) // no mass dropped
  }

  test("r20 probe helper columns never leak into operator output") {
    import spark.implicits._
    // the fused dangling flag (__dang) and the converged vote's change
    // flag (__chg) are internal to the r20 probe shortcuts — the public
    // schemas must stay exactly (id, rank_ppb) / (id, community)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    assert(GraphOps.pageRank(edges, "src", "dst", 2, danglingMass = true)
      .columns.toSeq === Seq("id", "rank_ppb"))
    assert(GraphOps.labelPropagationConverged(edges, "src", "dst", 4)
      .columns.toSeq === Seq("id", "community"))
  }

  test("dangling pagerank: no-sink graph equals the plain recurrence") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L), (2L, 1L), (1L, 3L))
    val plain = GraphOps.pageRank(edges.toDF("src", "dst"), "src", "dst", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranksDangling(edges, 3) === plain)
  }

  test("dangling pagerank preserves total mass; dropping it leaks") {
    import spark.implicits._
    // chain with a deep sink: 1->2->3->4 (4 dangling), plus 4 has no out
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 1L))
    val kept = ranksDangling(edges, 5).values.sum
    val dropped = GraphOps.pageRank(edges.toDF("src", "dst"), "src", "dst", 5)
      .collect().map(_.getLong(1)).sum
    // truncating div loses < 1 ppb per node/edge per round
    assert(kept > 999999900L && kept <= 1000000000L, s"kept=$kept")
    assert(dropped < 900000000L, s"dropped=$dropped") // visibly deflated
  }

  test("dangling pagerank equals the sequential integer replay") {
    val edgeGen = Gen.nonEmptyListOf(for {
      u <- Gen.chooseNum(1L, 6L); v <- Gen.chooseNum(1L, 6L)
    } yield (u, v))
    def model(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val n = nodes.size.toLong
      val deg = edges.groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
      var r = nodes.map(v => v -> 1000000000L / n).toMap
      for (_ <- 1 to iters) {
        val dangle = nodes.filterNot(deg.contains).map(r).sum
        val s = edges.groupBy(_._2).map { case (v, es) =>
          v -> es.map { case (u, _) => r(u) / deg(u) }.sum }
        r = nodes.map(v => v -> (150000000L / n +
          85L * (s.getOrElse(v, 0L) + dangle / n) / 100L)).toMap
      }
      r
    }
    checkProp(Prop.forAllNoShrink(edgeGen, Gen.chooseNum(1, 4)) {
      (edges, iters) => ranksDangling(edges, iters) == model(edges, iters)
    })
  }

  test("dangling + seeded: sink mass teleports onto the seed set only") {
    // 1 -> 2 (2 dangling), seed = {1}. ns=1: r0 = (1e9, 0).
    // iter 1: dangle = r(2) = 0; r(1) = 15e7, r(2) = 85e7.
    // iter 2: dangle = 85e7, share(1) = 85e7 div 1 (seeds only).
    //   r(1) = 15e7 + 85*(0 + 85e7) div 100 = 872_500_000
    //   r(2) = 0    + 85*(15e7 + 0) div 100 = 127_500_000
    val r = ranksDangling(Seq((1L, 2L)), 2, seeds = Some(Seq(1L)))
    assert(r === Map(1L -> 872500000L, 2L -> 127500000L))
    assert(r.values.sum === 1000000000L)
  }

  // ---- weighted LPA ----

  private def commW(edges: Seq[(Long, Long, Long)],
                    iters: Int): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.labelPropagation(edges.toDF("src", "dst", "w"), "src", "dst",
        iters, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("weighted LPA: one strong edge outvotes two weak ones") {
    // node 3 hears label 1 (w=1) and label 2 twice (w=1 each) -> 2 wins
    // unweighted; with w(1->3)=5 label 1 wins.
    val weak = Seq((1L, 3L, 5L), (2L, 3L, 1L), (4L, 3L, 1L),
      (3L, 1L, 1L), (3L, 2L, 1L), (3L, 4L, 1L),
      (2L, 4L, 1L), (4L, 2L, 1L))
    val got = commW(weak, 1)
    assert(got(3L) === 1L) // strong duplicate wins the vote
  }

  test("weighted LPA with w=1 equals the unweighted vote") {
    val edgeGen = Gen.nonEmptyListOf(for {
      u <- Gen.chooseNum(1L, 7L); v <- Gen.chooseNum(1L, 7L)
    } yield (u, v))
    checkProp(Prop.forAllNoShrink(edgeGen, Gen.chooseNum(1, 3)) {
      (edges, iters) =>
        import spark.implicits._
        val unw = GraphOps.labelPropagation(edges.toDF("src", "dst"),
            "src", "dst", iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        commW(edges.map(e => (e._1, e._2, 1L)), iters) == unw
    })
  }

  test("weighted LPA equals the sequential weighted replay") {
    val edgeGen = Gen.nonEmptyListOf(for {
      u <- Gen.chooseNum(1L, 6L); v <- Gen.chooseNum(1L, 6L)
      w <- Gen.chooseNum(1L, 9L)
    } yield (u, v, w))
    def model(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      var lab = nodes.map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        lab = nodes.map { v =>
          val votes = edges.filter(_._2 == v)
            .groupBy(e => lab(e._1))
            .map { case (l, g) => (l, g.map(_._3).sum) }
          v -> (if (votes.isEmpty) lab(v)
                else votes.toSeq.maxBy { case (l, c) => (c, -l) }._1)
        }.toMap
      }
      lab
    }
    checkProp(Prop.forAllNoShrink(edgeGen, Gen.chooseNum(1, 3)) {
      (edges, iters) => commW(edges, iters) == model(edges, iters)
    })
  }

  // ---- converged variants ----

  test("lpaConverged fast-forwards a period-2 oscillation by parity") {
    import spark.implicits._
    // symmetric single edge: labels swap every round, forever — the
    // cycle detector must stop early AND still return the exact
    // round-maxRounds labels for both parities
    val sym = Seq((1L, 2L), (2L, 1L))
    for (mr <- 1 to 6) {
      val fixed = GraphOps.labelPropagation(sym.toDF("src", "dst"),
          "src", "dst", iters = mr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val conv = GraphOps.labelPropagationConverged(sym.toDF("src", "dst"),
          "src", "dst", maxRounds = mr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(conv === fixed, s"maxRounds=$mr")
    }
  }

  test("lpaConverged equals the maxRounds unroll (identity theorem)") {
    val edgeGen = Gen.nonEmptyListOf(for {
      u <- Gen.chooseNum(1L, 8L); v <- Gen.chooseNum(1L, 8L)
    } yield (u, v))
    checkProp(Prop.forAllNoShrink(edgeGen, Gen.chooseNum(1, 5)) {
      (edges, mr) =>
        import spark.implicits._
        val fixed = GraphOps.labelPropagation(edges.toDF("src", "dst"),
            "src", "dst", iters = mr)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val conv = GraphOps.labelPropagationConverged(edges.toDF("src", "dst"),
            "src", "dst", maxRounds = mr)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        conv == fixed
    })
  }

  private def coreConv(edges: Seq[(Long, Long)], k: Int,
                       maxRounds: Int): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val sym = df.union(df.select(df("dst"), df("src")))
    GraphOps.kCoreConverged(sym, "src", "dst", k, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def coreFixed(edges: Seq[(Long, Long)], k: Int,
                        rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val sym = df.union(df.select(df("dst"), df("src")))
    GraphOps.kCore(sym, "src", "dst", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("kCoreConverged: deep path where 3 fixed rounds over-approximate") {
    // 9-node path: the true 2-core is EMPTY but peeling needs 5 rounds;
    // the round-3 peel still holds the middle — the divergence the
    // converged variant exists to close.
    val path = (1L to 8L).map(i => (i, i + 1))
    assert(coreFixed(path, 2, 3).nonEmpty)
    assert(coreConv(path, 2, 8) === Map())
  }

  test("kCoreConverged equals the maxRounds unroll on random graphs") {
    val edgeGen = Gen.nonEmptyListOf(for {
      u <- Gen.chooseNum(1L, 8L); v <- Gen.chooseNum(1L, 8L)
    } yield (u, v))
    checkProp(Prop.forAllNoShrink(edgeGen, Gen.chooseNum(1, 4),
      Gen.chooseNum(1, 3)) { (edges, mr, k) =>
      val e = edges.filter(x => x._1 != x._2)
      e.isEmpty || coreConv(e, k, mr) == coreFixed(e, k, mr)
    })
  }

  test("kCoreConverged early exit returns the true core on a clique+tail") {
    val k4 = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)) ++
      Seq((4L, 5L), (5L, 6L))
    // true 3-core = the K4; converges in 3 rounds, bound is 10
    assert(coreConv(k4, 3, 10) === (1L to 4L).map(_ -> 3L).toMap)
  }

  // ---- modularity duplicate-assignment guard ----

  test("modularity: duplicate assign rows neither fan out nor inflate") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val clean = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
    val dup = clean ++ clean ++ Seq((2L, 9L)) // exact dups + a conflict
    val run1 = GraphOps.modularity(tri.toDF("src", "dst"), "src", "dst",
      clean.toDF("id", "c"), "id", "c").collect().head
    val run2 = GraphOps.modularity(tri.toDF("src", "dst"), "src", "dst",
      dup.toDF("id", "c"), "id", "c").collect().head
    // conflict resolves to min community (1 < 9) -> identical rows
    assert(run1 === run2)
    assert(run1.getAs[Long]("intra_edges") <= run1.getAs[Long]("n_edges"))
  }

  // ---- weighted modularity ----

  test("weighted modularity with w=1 equals the unweighted score") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "c")
    val unw = GraphOps.modularity(edges.toDF("src", "dst"), "src", "dst",
      assign, "id", "c").collect().head
    val w = GraphOps.modularityWeighted(
      edges.map(e => (e._1, e._2, 1L)).toDF("src", "dst", "w"),
      "src", "dst", "w", assign, "id", "c").collect().head
    assert(w.getAs[Long]("q_micro") === unw.getAs[Long]("q_micro"))
    assert(w.getAs[Long]("intra_edges") === unw.getAs[Long]("intra_edges"))
    assert(w.getAs[Long]("total_w") === unw.getAs[Long]("n_edges"))
  }

  test("weighted modularity equals the exact BigInt replay on random graphs") {
    val caseGen = for {
      edges <- Gen.nonEmptyListOf(for {
        u <- Gen.chooseNum(1L, 6L); v <- Gen.chooseNum(1L, 6L)
        w <- Gen.chooseNum(1L, 9L)
      } yield (u, v, w))
      comm <- Gen.listOfN(6, Gen.chooseNum(1L, 3L))
    } yield (edges, (1L to 6L).zip(comm))
    def model(edges: Seq[(Long, Long, Long)],
              assign: Map[Long, Long]): (Long, Long) = {
      // orient + weight-sum dedup, then the exact integer recurrence
      val ew = edges.filter(e => e._1 != e._2)
        .groupBy(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .map { case (k, g) => (k._1, k._2, g.map(_._3).sum) }.toSeq
      if (ew.isEmpty) return (0L, 0L)
      val wt = BigInt(ew.map(_._3).sum)
      def c(v: Long) = assign.getOrElse(v, v)
      val cs = (ew.map(e => c(e._1)) ++ ew.map(e => c(e._2))).distinct
      val lw = cs.map(cc => cc -> BigInt(ew.filter(e =>
        c(e._1) == cc && c(e._2) == cc).map(_._3).sum)).toMap
      val sc = cs.map(cc => cc -> BigInt(ew.filter(e => c(e._1) == cc)
        .map(_._3).sum + ew.filter(e => c(e._2) == cc).map(_._3).sum)).toMap
      val q = cs.map(cc => lw(cc) * 1000000 / wt -
        sc(cc) * sc(cc) * 1000000 / (4 * wt * wt)).sum
      (q.toLong, lw.values.sum.toLong)
    }
    checkProp(Prop.forAllNoShrink(caseGen) { case (edges, ac) =>
      import spark.implicits._
      val e = edges.filter(x => x._1 != x._2)
      e.isEmpty || {
        val got = GraphOps.modularityWeighted(e.toDF("src", "dst", "w"),
            "src", "dst", "w", ac.toDF("id", "c"), "id", "c")
          .collect().head
        val (q, iw) = model(e, ac.toMap)
        got.getAs[Long]("q_micro") == q && got.getAs[Long]("intra_w") == iw
      }
    })
  }

  // ---- degree-ordered triangle orientation ----

  test("orientByDegree: every out-degree is <= sqrt(2E)") {
    val edgeGen = Gen.nonEmptyListOf(for {
      u <- Gen.chooseNum(1L, 12L); v <- Gen.chooseNum(1L, 12L)
    } yield (u, v))
    checkProp(Prop.forAllNoShrink(edgeGen) { edges =>
      val norm = edges.map { case (u, v) => (math.min(u, v), math.max(u, v)) }
        .filter(e => e._1 != e._2).distinct
      norm.isEmpty || {
        import spark.implicits._
        val und = norm.toDF("a", "b")
        val dg = und.select(col("a").as("id"))
          .union(und.select(col("b").as("id")))
          .groupBy("id").agg(count(lit(1)).cast("long").as("d"))
        val outMax = GraphOps.orientByDegree(und, dg)
          .groupBy("x").agg(count(lit(1)).as("od"))
          .agg(max("od")).collect().head.getLong(0)
        outMax * outMax <= 2L * norm.size
      }
    })
  }

  test("orientByDegree: a star hub keeps zero out-edges") {
    import spark.implicits._
    val star = (2L to 40L).map(i => (1L, i))
    val und = star.toDF("a", "b")
    val dg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).cast("long").as("d"))
    val hubOut = GraphOps.orientByDegree(und, dg)
      .where(col("x") === 1L).count()
    assert(hubOut === 0L) // all edges point INTO the hub
  }

  test("triangle census is orientation-invariant on a skewed hub graph") {
    import spark.implicits._
    // hub 1 linked to 30 leaves; leaves 2-3, 4-5 closed into triangles
    val edges = (2L to 31L).map(i => (1L, i)) ++ Seq((2L, 3L), (4L, 5L))
    val row = GraphOps.triangleStats(edges.toDF("src", "dst"), "src", "dst")
      .collect().head
    assert(row.getAs[Long]("n_triangles") === 2L)
    assert(row.getAs[Long]("n_edges") === 32L)
  }

  test("plans: dangling pagerank keeps edge work equijoin-only") {
    import spark.implicits._
    val edges = (1L to 50L).map(i => (i, i % 25 + 1)).toDF("src", "dst")
    // the dangle scalar rides a broadcast 1-row crossJoin like N — the
    // only tolerated nested-loop shape; edge-sized work must stay keyed
    val pr = GraphOps.pageRank(edges, "src", "dst", iters = 2,
        danglingMass = true)
      .queryExecution.executedPlan.toString
    assert(!pr.contains("CartesianProduct"), pr)
  }

  // ---- duplication-concentration census ----

  test("cluster-size Gini: closed forms") {
    import spark.implicits._
    import graft.functions.MinHashLSH
    // equal sizes -> 0
    val eq = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("id", "cluster")
    val r1 = MinHashLSH.clusterSizeProfile(eq).collect().head
    assert(r1.getAs[Long]("gini_micro") === 0L)
    assert(r1.getAs[Long]("n_clusters") === 2L)
    assert(r1.getAs[Long]("n_members") === 4L)
    // sizes 1 and 3: G = (2*(1*1+2*3) - 3*4) / (2*4) = 2/8 = 0.25
    val sk = Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 20L))
      .toDF("id", "cluster")
    val r2 = MinHashLSH.clusterSizeProfile(sk).collect().head
    assert(r2.getAs[Long]("gini_micro") === 250000L)
    assert(r2.getAs[Long]("max_cluster") === 3L)
    // empty labels -> total zero row
    val r3 = MinHashLSH.clusterSizeProfile(
      Seq.empty[(Long, Long)].toDF("id", "cluster")).collect().head
    assert(r3.getAs[Long]("n_clusters") === 0L)
    assert(r3.getAs[Long]("gini_micro") === 0L)
  }

  test("cluster-size Gini equals the sorted-rank BigInt model") {
    val labGen = Gen.nonEmptyListOf(for {
      id <- Gen.chooseNum(1L, 60L); c <- Gen.chooseNum(1L, 12L)
    } yield (id, c))
    checkProp(Prop.forAllNoShrink(labGen) { labs =>
      import spark.implicits._
      val uniq = labs.toMap.toSeq // one cluster per id
      val sizes = uniq.groupBy(_._2).values.map(_.size.toLong).toSeq.sorted
      val n = BigInt(sizes.size); val s = BigInt(sizes.sum)
      val six = sizes.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
      val expect =
        if (n == 0 || s == 0) 0L
        else ((2 * six - (n + 1) * s) * 1000000 / (n * s)).toLong
      val got = graft.functions.MinHashLSH
        .clusterSizeProfile(uniq.toDF("id", "cluster"))
        .collect().head.getAs[Long]("gini_micro")
      got == expect
    })
  }

  // ---- round-14 SQL views ----

  test("round-14 graph views answer plain SQL") {
    import spark.implicits._
    // dangling PageRank view: 1 -> 2 sink fixture, mass conserved
    GraphOps.pageRank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
        iters = 1, danglingMass = true)
      .createOrReplaceTempView("pr14")
    assert(spark.sql("SELECT sum(rank_ppb) AS s FROM pr14").head()
      .getLong(0) === 1000000000L)
    // weighted + converged community views: strong edge wins, and the
    // converged view matches the fixed-round one on a stable clique
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("src", "dst")
    val sym = tri.union(tri.select(tri("dst"), tri("src")))
      .withColumn("w", lit(1L))
    GraphOps.labelPropagationConverged(sym, "src", "dst", maxRounds = 5,
        weightCol = Some("w"))
      .createOrReplaceTempView("comm14")
    assert(spark.sql(
      "SELECT count(DISTINCT community) AS k FROM comm14").head()
      .getLong(0) === 1L)
    // true-k-core view: 9-node path has an EMPTY 2-core
    val path = (1L to 8L).map(i => (i, i + 1)).toDF("src", "dst")
    GraphOps.kCoreConverged(path.union(path.select(path("dst"), path("src"))),
        "src", "dst", k = 2, maxRounds = 10)
      .createOrReplaceTempView("core14")
    assert(spark.sql("SELECT count(*) AS n FROM core14").head()
      .getLong(0) === 0L)
    // weighted modularity view over the converged communities
    GraphOps.modularityWeighted(tri.withColumn("w", lit(2L)), "src", "dst",
        "w", spark.table("comm14"), "id", "community")
      .createOrReplaceTempView("mq14")
    val mq = spark.sql(
      "SELECT total_w, intra_w, q_micro FROM mq14").head()
    // one community holding every edge: q = 1 - 1 = 0 exactly
    assert(mq.getLong(0) === 6L && mq.getLong(1) === 6L &&
      mq.getLong(2) === 0L)
    // catalog drift view: two identical releases -> zero drift
    val d = Seq((1L, "a b", "web"), (2L, "c d", "book"))
      .toDF("doc_id", "text", "source")
    // WorkDirs, not createTempDirectory (the d163 lesson, test-side)
    val cdir = graft.WorkDirs.acquire("test_cat14")
    graft.functions.CorpusCatalog.append(d, "doc_id", "text",
      cdir.toString, "rA", domainCol = Some("source"))
    graft.functions.CorpusCatalog.append(d, "doc_id", "text",
      cdir.toString, "rB", domainCol = Some("source"))
    graft.functions.CorpusCatalog.domainDrift(spark, cdir.toString, "rA", "rB")
      .createOrReplaceTempView("drift14")
    assert(spark.sql("SELECT jsd2_micro FROM drift14").head()
      .getLong(0) === 0L)
  }

  // ---- assortativity overflow guard ----

  test("assortativity grid shift: exact at 10^36-scale moments") {
    // replay the shifted division on literals the size the scaladoc
    // bounds promise: den ~ 9.6e35 forces shift = den div 1e30, and the
    // result must match the BigInt ground truth on the micro grid
    val num = BigInt("123456789012345678901234567890123456")  // ~1.2e35
    val den = BigInt("967456789012345678901234567890123456")  // ~9.7e35
    val expect = (num * 1000000 / den).toLong // BigInt: no overflow
    val shift = den / BigInt(10).pow(30)
    val got = ((num / shift) * 1000000 / (den / shift)).toLong
    assert(math.abs(got - expect) <= 1L) // shift error far below the grid
    // the engine's exact decimal floor-div form: (x - x%s)/s stays in
    // decimal (a bare `div` would overflow LONG at these magnitudes)
    val sqlGot = spark.sql(
      s"""SELECT CAST(
           CAST((num - num % shift) / shift AS DECIMAL(38,0)) * 1000000
           div CAST((den - den % shift) / shift AS DECIMAL(38,0))
           AS BIGINT) AS r
         FROM (SELECT CAST('$num' AS DECIMAL(38,0)) AS num,
             CAST('$den' AS DECIMAL(38,0)) AS den,
             CAST('$den' AS DECIMAL(38,0))
               div 1000000000000000000000000000000 AS shift)"""
    ).collect().head.getLong(0)
    assert(sqlGot === got) // Spark decimal div replays the BigInt model
  }
}
