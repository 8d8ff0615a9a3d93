package graft

import org.apache.spark.sql.functions._

/** The s-core strength peel and the containment dedup gate. */
class R15OperatorSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame
  import graft.functions.{GraphOps, JaccardJoin}

  private def drain(): Unit = {
    CacheRegistry.releaseAll(); Checkpoints.releaseAll()
  }

  private def symW(edges: DataFrame): DataFrame =
    edges.unionByName(edges.select(col("dst").as("src"),
      col("src").as("dst"), col("w")))

  test("kCoreWeighted with w=1 and s=k equals kCore bit-for-bit") {
    import spark.implicits._
    // a ring with tendrils: core survives, degree-1 fringe peels
    val ring = (0L until 8L).map(i => (i, (i + 1) % 8, 1L))
    val tendrils = (0L until 4L).map(i => (i, 100L + i, 1L))
    val e = symW((ring ++ tendrils).toDF("src", "dst", "w"))
    val sCore = GraphOps.kCoreWeighted(e, "src", "dst", "w", s = 2L,
      rounds = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kCore = GraphOps.kCore(e.drop("w"), "src", "dst", k = 2,
      rounds = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sCore === kCore) // strength == degree when w == 1
    assert(sCore.keySet === (0L until 8L).toSet)
    drain()
  }

  test("strength peel ranks by duplicate MASS where the count peel inverts") {
    import spark.implicits._
    // X-Y one CERTAIN duplicate edge (w=3); Z with three MARGINAL edges
    // (w=1 each) to degree-1 spokes. The count peel (k=2) keeps only the
    // marginal hub for a round and ends EMPTY; the strength peel (s=3)
    // keeps the certain pair - the documented inversion.
    val e = symW(Seq((1L, 2L, 3L),
      (10L, 21L, 1L), (10L, 22L, 1L), (10L, 23L, 1L)).toDF("src", "dst", "w"))
    val sCore = GraphOps.kCoreWeighted(e, "src", "dst", "w", s = 3L,
      rounds = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sCore === Map(1L -> 3L, 2L -> 3L))
    val cCore = GraphOps.kCore(e.drop("w"), "src", "dst", k = 2, rounds = 2)
      .collect()
    assert(cCore.isEmpty)
    drain()
  }

  test("kCoreWeighted sums duplicate (src,dst) weights and rejects w<=0") {
    import spark.implicits._
    // the same pair twice at w=2 -> one multigraph edge of w=4
    val e = symW(Seq((1L, 2L, 2L), (1L, 2L, 2L)).toDF("src", "dst", "w"))
    val got = GraphOps.kCoreWeighted(e, "src", "dst", "w", s = 4L, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 4L, 2L -> 4L))
    drain()
    val bad = symW(Seq((1L, 2L, 0L)).toDF("src", "dst", "w"))
    val ex = intercept[IllegalArgumentException] {
      GraphOps.kCoreWeighted(bad, "src", "dst", "w", s = 1L, rounds = 1)
        .count()
    }
    assert(ex.getMessage.contains("POSITIVE"))
    drain()
  }

  test("kCoreWeighted equals a sequential exact model on random multigraphs") {
    import spark.implicits._
    // the operator's semantics replayed in plain Scala: multigraph
    // weight-sum, then `rounds` restrict-and-sum rounds over survivors
    def model(edges: Seq[(Long, Long, Long)], s: Long,
              rounds: Int): Map[Long, Long] = {
      val em = edges.filter(e => e._1 != e._2)
        .groupBy(e => (e._1, e._2))
        .map { case (k, v) => k -> v.map(_._3).sum }
      var surv = em.keys.map(_._1).toSet
      var st = Map.empty[Long, Long]
      for (_ <- 1 to rounds) {
        val re = em.filter { case ((a, b), _) => surv(a) && surv(b) }
        st = re.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
        surv = st.filter(_._2 >= s).keySet
      }
      st.filter(_._2 >= s)
    }
    val rnd = new scala.util.Random(1515L)
    for (trial <- 1 to 8) {
      val n = 4 + rnd.nextInt(8)
      val raw = Seq.fill(8 + rnd.nextInt(20))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
          1L + rnd.nextInt(5).toLong))
      // symmetrize like every caller does (undirected contract)
      val es = raw ++ raw.map(e => (e._2, e._1, e._3))
      val s = 2L + rnd.nextInt(8)
      val rounds = 1 + rnd.nextInt(4)
      val got = GraphOps.kCoreWeighted(es.toDF("src", "dst", "w"),
          "src", "dst", "w", s = s, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === model(es, s, rounds),
        s"trial=$trial n=$n s=$s rounds=$rounds edges=$es")
      drain()
    }
  }

  test("containment verdicts equal the pairwise-rule model on random relations") {
    import spark.implicits._
    def model(ids: Seq[Long],
              pairs: Set[(Long, Long)]): Map[Long, (String, Long)] =
      ids.map { a =>
        val conts = pairs.collect { case (x, b) if x == a => b }
        val drop = conts.exists(b => !pairs((b, a)) || b > a)
        a -> ((if (drop) "drop" else "keep", conts.size.toLong))
      }.toMap
    val rnd = new scala.util.Random(157L)
    for (trial <- 1 to 8) {
      val n = 3 + rnd.nextInt(8)
      val ids = (1L to n.toLong)
      val pairs = Seq.fill(2 + rnd.nextInt(12))(
        (1L + rnd.nextInt(n).toLong, 1L + rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).toSet
      val docs = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
      val got = JaccardJoin.containmentDedupVerdicts(docs, "doc_id",
          pairs.toSeq.toDF("doc_a", "doc_b"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(got === model(ids, pairs), s"trial=$trial pairs=$pairs")
      drain()
    }
  }

  test("cross-set containment equals the self-join restricted to cross pairs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      1L -> "quick brown fox jumps over the lazy dog", // contained in 4
      2L -> base, // equal to 5 -> mutual containment
      3L -> "completely different tokens about spark catalyst tungsten engines",
      4L -> (base + " and then some extra trailing words pad this document out"),
      5L -> base,
      6L -> "another unrelated training document about vector quantization"
    ).map { case (i, t) => (i, t) }.toDF("doc_id", "text")
    val probe = docs.where(col("doc_id") <= 3)
    val corpus = docs.where(col("doc_id") > 3)
    val got = graft.functions.JaccardJoin
      .containmentPairsAcross(probe, corpus, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    drain()
    // model: the already-verified single-frame operator over the union,
    // restricted to (probe, corpus) pairs — ids are disjoint so the
    // restriction is exact
    val expect = graft.functions.JaccardJoin
      .containmentPairs(docs, "doc_id", "text", 0.5)
      .where(col("doc_a") <= 3 && col("doc_b") > 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    drain()
    assert(got === expect)
    assert(got.exists { case (a, b, c) => a == 1L && b == 4L && c >= 0.5 },
      s"subset probe must be caught: $got")
    assert(got.exists { case (a, b, c) => a == 2L && b == 5L && c == 1.0 },
      "an exact copy in the corpus must report containment 1.0")
    assert(!got.exists(_._1 == 3L), "unrelated probe doc must not match")
  }

  test("containment verdicts: strict subsets drop, mutual cliques keep max id") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 1 contained in 2 (strict); 3 and 4 mutually contained; 5 alone;
    // chain 6 -> 1 (6 contained in 1, strict)
    val pairs = Seq((1L, 2L), (3L, 4L), (4L, 3L), (6L, 1L))
      .toDF("doc_a", "doc_b")
    val got = JaccardJoin.containmentDedupVerdicts(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got(1L) === (("drop", 1L))) // strict subset of 2
    assert(got(2L) === (("keep", 0L))) // maximal superset
    assert(got(3L) === (("drop", 1L))) // mutual, smaller id
    assert(got(4L) === (("keep", 1L))) // mutual survivor (max id)
    assert(got(5L) === (("keep", 0L))) // no containment at all
    assert(got(6L) === (("drop", 1L))) // chain tail: a container existed
    drain()
  }
}
