package graft

import org.apache.spark.sql.functions._

import graft.functions._

class TextAnalysisSpec extends SparkSpec {

  test("token and stopword accounting") {
    import spark.implicits._
    val df = Seq("the cat sat on the mat").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")),
      TextAnalysis.stopwordRatio(col("text")),
      TextAnalysis.avgTokenLen(col("text"))).head()
    assert(r.getInt(0) === 6)
    assert(r.getDouble(1) === 3.0 / 6.0) // the, on, the
    assert(math.abs(r.getDouble(2) - 17.0 / 6.0) < 1e-12)
  }

  test("subword count segments letter/digit/punct runs") {
    import spark.implicits._
    val df = Seq("abc123 def!").toDF("text")
    // runs: abc, 123, def, !
    assert(df.select(TextAnalysis.subwordCount(col("text"))).head().getInt(0) === 4)
  }

  test("fingerprint is stable and case-insensitive") {
    import spark.implicits._
    val df = Seq(("Hello World", "hello world")).toDF("a", "b")
    val r = df.select(TextAnalysis.fingerprint(col("a")),
      TextAnalysis.fingerprint(col("b"))).head()
    assert(r.getLong(0) === r.getLong(1))
  }

  test("quality score stays in [0,1]") {
    import spark.implicits._
    val df = Seq("the of and to in a", "xxxxx", "!!!!!").toDF("text")
    val vals = df.select(TextAnalysis.qualityScore(col("text"))).collect().map(_.getDouble(0))
    assert(vals.forall(v => v >= 0.0 && v <= 1.0))
  }
}

class LangIdSpec extends SparkSpec {

  test("multi-language langId picks the dominant profile; floor yields und") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "le chat est dans la maison et il est content"),
      (3L, "der hund ist in dem haus und er ist nicht traurig"),
      (4L, "el perro es un animal y no es grande"),
      (5L, "zzz qqq xxx yyy www")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "fr", 3L -> "de", 4L -> "es", 5L -> "und"))
  }
}

class RepetitionSpec extends SparkSpec {

  test("repetition ratio: repeated trigrams score high, unique text and short docs 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b c a b c"),       // 7 grams, 3 distinct -> 1 - 3/7
      (2L, "one two three four five"), // all distinct -> 0.0
      (3L, "hi there"))                // < 3 words -> 0.0
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionRatio(df, "doc_id", "text")
      .select("doc_id", "rep_ratio")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 0.571429)
    assert(got(2L) === 0.0)
    assert(got(3L) === 0.0)
  }
}

class MinHashLSHSpec extends SparkSpec {

  test("identical docs collide in every band and get jaccard 1.0") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq((1L, text), (2L, text), (3L, "totally different words entirely here now"))
      .toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDupPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("near-identical docs are candidates with high jaccard") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val variant = base + " extra"
    val df = Seq((1L, base), (2L, variant)).toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDupPairs(df, "doc_id", "text").collect()
    assert(pairs.length === 1)
    assert(pairs.head.getDouble(2) > 0.9)
  }

  test("editVerifiedPairs: levenshtein verdict on banded candidates") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val edited = base.replace("tok5 ", "tokX ") // one char substituted
    val df = Seq((1L, base), (2L, edited),
      (3L, "entirely different words " * 4)).toDF("doc_id", "text")
    val got = MinHashLSH.editVerifiedPairs(df, "doc_id", "text",
        maxNorm = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1, 1000000L / base.length))) // exact grid value; 3 absent
    // a tight budget excludes the same verified candidate
    assert(MinHashLSH.editVerifiedPairs(df, "doc_id", "text",
      maxNorm = 1.0 / (2 * base.length)).count() === 0)
  }

  test("shingles: docs shorter than n emit nothing") {
    import spark.implicits._
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = MinHashLSH.shingles(df, "doc_id", "text", 3)
    assert(sh.where(col("doc_id") === 1).count() === 0)
    assert(sh.where(col("doc_id") === 2).count() === 2)
  }

  test("dedupAgainstIndex: per-batch-doc verdicts with deterministic best match") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (11L, text),                                      // exact dup of batch 1
      (12L, text),                                      // second exact dup: tie -> min id
      (13L, "totally different words entirely here now"),
      (14L, text + " iota")).toDF("doc_id", "text")     // near dup, lower jaccard
    val batch = Seq(
      (1L, text),                                       // should drop vs 11 (tie-break)
      (2L, "nothing in common with anything at all"),   // keep
      (3L, "xy")).toDF("doc_id", "text")                // < n words: keep
    val index = MinHashLSH.bandIndex(corpus, "doc_id", "text")
    val got = MinHashLSH.dedupAgainstIndex(batch, corpus, index, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) === (("drop", 11L, 1.0))) // jaccard 1.0 twice -> smallest corpus id
    assert(got(2L) === (("keep", -1L, 0.0)))
    assert(got(3L) === (("keep", -1L, 0.0)))
    assert(got.size === 3) // exactly one row per batch doc
  }

  test("shingles survive inferred filters on a file scan (short docs, big n)") {
    import spark.implicits._
    // regression: InferFiltersFromGenerate copies size(sh_arr) > 0 into the
    // pre-explode Filter; codegen subexpression elimination then evaluates
    // the gram transform BEFORE the size(words) >= n conjunct can
    // short-circuit. With a descending start sequence that fed ANSI
    // element_at out-of-range indices — threw on every file-backed corpus
    // whose shortest doc had fewer than n words (LocalRelation plans do
    // not reproduce it, hence the parquet round-trip here).
    val dir = graft.WorkDirs.acquire("test_graft_sh").toString
    try {
      Seq((1L, "too short"), (2L, (1 to 20).map(i => s"w$i").mkString(" ")))
        .toDF("doc_id", "text").write.parquet(s"$dir/docs.parquet")
      val docs = spark.read.parquet(s"$dir/docs.parquet")
      val sh = MinHashLSH.shingles(docs, "doc_id", "text", 13)
      assert(sh.count() === 8) // doc 2 only: 20 - 13 + 1 starts
      assert(TextAnalysis.winnowFingerprints(docs, "doc_id", "text", n = 13, w = 2)
        .count() === 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

class TfIdfSpec extends SparkSpec {

  test("tf-idf top-k matches the closed form on a hand corpus") {
    import spark.implicits._
    // "apple" only in doc 1; "common" in all 3; doc 1 repeats "apple" twice
    val df = Seq(
      (1L, "apple apple common"),
      (2L, "banana common cherry"),
      (3L, "cherry common date")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    def score(tf: Long, dfq: Long) =
      BigDecimal(tf * (math.log(4.0 / (dfq + 1)) + 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = got.filter(_._1 == 1L).sortBy(_._4)
    assert(d1.map(t => (t._2, t._3, t._4)).toSeq ===
      Seq(("apple", 2L, 1), ("common", 1L, 2)))
    assert(d1.head._5 === score(2, 1))
    // rank is dense per doc and bounded by k
    assert(got.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._4).sorted.toSeq === (1 to rows.length) && rows.length <= 2 })
  }

  test("ties break on token order deterministically") {
    import spark.implicits._
    val df = Seq((1L, "bb aa"), (2L, "aa bb")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(df, "doc_id", "text", k = 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet === Set((1L, "aa"), (2L, "aa")))
  }

  test("bm25: tf saturates, length norm discounts, non-matching docs drop") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark spark spark pad"),          // tf 3, dl 4
      (2L, "spark pad pad pad"),              // tf 1, dl 4
      (3L, "spark pad pad pad pad pad pad pad"), // tf 1, dl 8: longer -> below 2
      (4L, "pad pad pad pad")).toDF("doc_id", "text") // no term: absent
    val got = TextAnalysis.bm25TopK(df, "doc_id", "text", Seq("spark"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L)) // rk order, doc 4 absent
    assert(got.map(_._3).toSeq === Seq(1, 2, 3))
    val s = got.map(t => t._1 -> t._2).toMap
    assert(s(1L) > s(2L) && s(2L) > s(3L))
    // closed form for doc 2: N=4, df=3, dl=4, Σdl=20
    val idf = math.log(1.0 + (4 - 3 + 0.5) / 3.5)
    val norm = 1 + 1.2 * (0.25 + 0.75 * (4.0 * 4) / 20)
    val expect = math.round(idf * 2.2 / norm * 1e6) / 1e6
    assert(math.abs(s(2L) - expect) < 1e-9)
  }

  test("bm25: topK truncates on the (score, id) total order") {
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, "hit word")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(df, "doc_id", "text", Seq("hit"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(got.toSeq === (1 to 5).map(i => (i.toLong, i))) // equal scores: id asc
  }
}

class SamplingSpec extends SparkSpec {

  test("quantilesByDomain: exact inverted-CDF picks incl. ties, nulls out") {
    import spark.implicits._
    // domain a: values 1..10 → p50=5, p90=9, p99=10 (cum*100 >= n*p rule);
    // domain b: heavy ties — 1 x8, 9 x2 → p50=1 (cum 8*100 >= 10*50),
    // p90=9 (cum 8 < 9), p99=9; null values and null domains drop
    val rows = (1 to 10).map(v => ("a", Option(v.toDouble))) ++
      (Seq.fill(8)(1.0) ++ Seq.fill(2)(9.0)).map(v => ("b", Option(v))) ++
      Seq(("a", Option.empty[Double]), (null.asInstanceOf[String], Option(3.0)))
    val got = Sampling.quantilesByDomain(rows.toDF("dom", "v"), "dom", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got === Map(
      "a" -> ((10L, 5.0, 9.0, 10.0)),
      "b" -> ((10L, 1.0, 9.0, 9.0))))
    // brute-force parity on the same definition for every pct
    for (p <- Seq(50, 90, 99); (dom, vs) <- Seq(
        "a" -> (1 to 10).map(_.toDouble), "b" -> (Seq.fill(8)(1.0) ++ Seq.fill(2)(9.0)))) {
      val sorted = vs.sorted
      val expect = sorted(sorted.indices.find(i => (i + 1) * 100 >= sorted.size * p).get)
      val gotP = Sampling.quantilesByDomain(rows.toDF("dom", "v"), "dom", "v", Seq(p))
        .where(col("dom") === dom).head().getDouble(2)
      assert(gotP === expect, s"dom=$dom p=$p")
    }
    // plan: the window's input subtree is the census aggregate, never raw rows
    val plan = Sampling.quantilesByDomain(rows.toDF("dom", "v"), "dom", "v")
      .queryExecution.executedPlan.toString
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 && plan.indexOf("HashAggregate", winIdx) >= 0, plan)
  }

  test("groupSplit co-assigns every member of a group") {
    import spark.implicits._
    val df = (1L to 60L).map(i => (i, s"site${i % 6}")).toDF("id", "domain")
    val got = Sampling.groupSplit(df, "domain",
      Seq("train" -> 8, "val" -> 1, "test" -> 1))
    val perDomain = got.groupBy("domain")
      .agg(countDistinct("split").as("k")).collect()
    assert(perDomain.forall(_.getLong(1) == 1L))
    // same assignment as hashing the key directly
    val direct = df.select(col("domain"),
      Sampling.hashSplit(col("domain"), Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .as("s")).distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    got.select("domain", "split").distinct().collect()
      .foreach(r => assert(direct(r.getString(0)) === r.getString(1)))
  }

  test("stratifiedQuota: exact k per stratum, short strata keep all, stable") {
    import spark.implicits._
    val df = ((1L to 20L).map(i => (i, "big")) ++ Seq((100L, "small"), (101L, "small")))
      .toDF("id", "domain")
    val got = Sampling.stratifiedQuota(df, "id", "domain",
      Map("big" -> 7), default = 5)
    val byDomain = got.collect().groupBy(_.getString(1))
    assert(byDomain("big").length === 7)
    assert(byDomain("small").length === 2) // short of default=5: keeps all
    assert(byDomain("big").map(_.getInt(2)).sorted.toSeq === (1 to 7))
    // md5-stable: rerun picks the identical ids
    val again = Sampling.stratifiedQuota(df, "id", "domain",
      Map("big" -> 7), default = 5).collect().map(_.getLong(0)).toSet
    assert(again === got.collect().map(_.getLong(0)).toSet)
  }

  test("stratifiedQuotaCensus == stratifiedQuota (rows AND ranks) on skew") {
    import spark.implicits._
    // one mega-stratum (5000 rows, quota 40), one short of its quota, one
    // at quota 0, plus an unlisted default stratum — every threshold edge
    val df = ((1L to 5000L).map(i => (i, "mega")) ++
      (1L to 3L).map(i => (9000L + i, "short")) ++
      (1L to 50L).map(i => (20000L + i, "none")) ++
      (1L to 30L).map(i => (30000L + i, "dflt")))
      .toDF("id", "domain")
    val quotas = Map("mega" -> 40, "short" -> 10, "none" -> 0)
    val direct = Sampling.stratifiedQuota(df, "id", "domain", quotas,
      default = 5).select("id", "domain", "rk").collect().toSet
    val census = Sampling.stratifiedQuotaCensus(df, "id", "domain", quotas,
      default = 5)
    assert(census.select("id", "domain", "rk").collect().toSet === direct)
    // a COARSE bucket grid (4 buckets) forces big boundary candidate sets
    // — the fix-up must still land on identical rows and ranks
    val coarse = Sampling.stratifiedQuotaCensus(df, "id", "domain", quotas,
        default = 5, bucketBits = 2)
      .select("id", "domain", "rk").collect().toSet
    assert(coarse === direct)
  }

  test("stratifiedQuotaCensus plan: the sort runs over threshold-filtered candidates") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, s"d${i % 3}")).toDF("id", "domain")
    val out = Sampling.stratifiedQuotaCensus(df, "id", "domain",
      Map("d0" -> 10), default = 10)
    val plan = out.queryExecution.executedPlan.toString
    // the window's sort must sit ABOVE the broadcast threshold join (its
    // input is the candidate set, never the raw stratum), and the
    // threshold itself must come from the census aggregate
    val sortIdx = plan.indexOf("Sort ")
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    assert(sortIdx >= 0 && joinIdx >= 0, plan)
    assert(sortIdx < joinIdx, // printed top-down: sort consumes the join
      s"window sort must consume the threshold join:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
    // and the behavior bound: with 2^12 buckets over 1000 uniform rows,
    // candidates per stratum stay ~quota-sized, far under the stratum
    val candRows = out.count()
    assert(candRows === 30) // 10 per stratum, 3 strata
  }

  test("weightedSample: n per domain, no replacement, stable, w<=0 excluded") {
    import spark.implicits._
    val df = ((1L to 40L).map(i => (i, "a", 1.0)) ++
      Seq((100L, "b", 5.0), (101L, "b", 0.0), (102L, "b", -3.0),
        (103L, "b", Double.NaN))) // NaN passed RAW: the library must drop it
      .toDF("id", "domain", "wt")
    val got = Sampling.weightedSample(df, "id", "wt", "domain", n = 5)
    val byDomain = got.collect().groupBy(_.getString(1))
    assert(byDomain("a").length === 5)
    assert(byDomain("a").map(_.getInt(3)).sorted.toSeq === (1 to 5))
    assert(byDomain("a").map(_.getLong(0)).distinct.length === 5) // no repl.
    assert(byDomain("b").map(_.getLong(0)).toSeq === Seq(100L)) // only w>0
    val again = Sampling.weightedSample(df, "id", "wt", "domain", n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(again === got.collect().map(_.getLong(0)).toSet)
  }

  test("weightedSampleSalted == weightedSample (rows AND ranks), 2 exchanges") {
    import spark.implicits._
    // skewed: one mega-domain, one small
    val df = ((1L to 2000L).map(i => (i, "mega", (i % 13 + 1).toDouble)) ++
      (1L to 20L).map(i => (10000L + i, "small", 2.0)))
      .toDF("id", "domain", "wt")
    val direct = Sampling.weightedSample(df, "id", "wt", "domain", n = 25)
      .select("id", "domain", "rk").collect().toSet
    val salted = Sampling.weightedSampleSalted(df, "id", "wt", "domain",
      n = 25, salts = 8)
    assert(salted.select("id", "domain", "rk").collect().toSet === direct)
    val plan = salted.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size === 2, plan)
  }

  test("weightedSample inclusion tracks weight (ES key distribution)") {
    import spark.implicits._
    // 500 ids at weight 1 vs 500 at weight 9: P(include) for a heavy id is
    // ~9x a light one's while samples are few relative to mass; in a
    // 100-draw sample expect heavy count near 90, light near 10
    val df = (1L to 1000L).map(i => (i, "d", if (i <= 500) 1.0 else 9.0))
      .toDF("id", "domain", "wt")
    val got = Sampling.weightedSample(df, "id", "wt", "domain", n = 100)
      .select("id").as[Long].collect()
    val heavy = got.count(_ > 500)
    assert(heavy >= 75 && heavy <= 99, s"heavy=$heavy of 100")
  }

  test("percentileCalibrate equals percent_rank incl. ties and N=1") {
    import spark.implicits._
    val df = Seq((1L, 0.2), (2L, 0.5), (3L, 0.5), (4L, 0.9), (5L, 0.1))
      .toDF("id", "score")
    val got = Sampling.percentileCalibrate(df, "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // percent_rank over (0.1, 0.2, 0.5, 0.5, 0.9): below counts 1,0,2,2,4 of N-1=4
    assert(got(5L) === 0.0)
    assert(got(1L) === 0.25)
    assert(got(2L) === 0.5 && got(3L) === 0.5)
    assert(got(4L) === 1.0)
    val single = Sampling.percentileCalibrate(
      Seq((1L, 3.0)).toDF("id", "score"), "score").collect()
    assert(single.head.getDouble(2) === 0.0)
  }

  test("percentileCalibrate keeps NULL-score rows with pct NULL, out of N") {
    import spark.implicits._
    val df = Seq((1L, Some(0.2)), (2L, None), (3L, Some(0.8)), (4L, None))
      .toDF("id", "score")
    val got = Sampling.percentileCalibrate(df, "score")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // unscored rows survive, tagged NULL; scored rows rank over N=2 alone
    assert(got === Map(1L -> Some(0.0), 2L -> None, 3L -> Some(1.0), 4L -> None))
  }
  import graft.functions.Sampling

  test("hashSplit is exhaustive, disjoint, stable, and roughly proportional") {
    import spark.implicits._
    val ids = (1L to 2000L).toDF("id")
    val w = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    val got = ids.select(col("id"), Sampling.hashSplit(col("id"), w).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.length === 2000)                      // exhaustive, one row each
    assert(got.forall(t => Set("train", "val", "test")(t._2)))
    val counts = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(counts("train") > 1400 && counts("train") < 1800) // ~1600
    assert(counts("val") > 100 && counts("val") < 300)
    // stability: recomputation gives the identical assignment
    val again = ids.select(col("id"), Sampling.hashSplit(col("id"), w).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(again.toSeq === got.toSeq)
  }

  test("hashSample keeps a stable subset; lower rates nest inside higher") {
    import spark.implicits._
    val ids = (1L to 2000L).toDF("id")
    def keep(rate: Double) = ids.where(Sampling.hashSample(col("id"), rate))
      .collect().map(_.getLong(0)).toSet
    val s10 = keep(0.1); val s30 = keep(0.3)
    assert(s10.subsetOf(s30))                         // threshold nesting
    assert(s10.size > 120 && s10.size < 280)          // ~200
    assert(keep(0.0).isEmpty && keep(1.0).size === 2000)
  }

  test("epochMix: integer weights replicate exactly, fractions sample, 0 drops") {
    import spark.implicits._
    val df = (1L to 300L).map(i =>
      (i, if (i <= 100) "a" else if (i <= 200) "b" else "c")).toDF("id", "dom")
    val got = Sampling.epochMix(df, "id", "dom",
        Map("a" -> 2.0, "b" -> 0.5, "c" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byDom = got.groupBy(_._2).view.mapValues(_.toSeq).toMap
    // integer weight: every doc exactly twice, epochs 0 and 1
    assert(byDom("a").length === 200)
    assert(byDom("a").groupBy(_._1).values.forall(_.map(_._3).sorted == Seq(0, 1)))
    // fractional weight: roughly half, all epoch 0
    assert(byDom("b").length > 25 && byDom("b").length < 75)
    assert(byDom("b").forall(_._3 == 0))
    assert(!byDom.contains("c"))                       // weight 0 drops
    // default weight covers unlisted domains
    val withDefault = Sampling.epochMix(df, "id", "dom", Map("a" -> 1.0))
      .collect()
    assert(withDefault.length === 300)                 // 1 epoch everywhere
    // determinism: identical multiset on rerun
    val again = Sampling.epochMix(df, "id", "dom",
        Map("a" -> 2.0, "b" -> 0.5, "c" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(again.sorted.toSeq === got.sorted.toSeq)
  }

  test("tokenBudgetMix derives weights from the census; unlisted domains drop") {
    import spark.implicits._
    // dom a: 10 docs x 10 tokens = 100; dom b: 10 docs x 30 tokens = 300
    val df = (1L to 20L).map { i =>
      val (dom, n) = if (i <= 10) ("a", 10) else ("b", 30)
      (i, dom, Seq.fill(n)("w").mkString(" "))
    }.toDF("id", "dom", "text")
    // budget 200, shares a=0.5 b=0.5 → w_a = 100/100 = 1.0, w_b = 100/300 = 1/3
    val got = Sampling.tokenBudgetMix(df, "id", "dom", "text", 200L,
        Map("a" -> 0.5, "b" -> 0.5))
      .select("id", "dom", "epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byDom = got.groupBy(_._2).view.mapValues(_.toSeq).toMap
    assert(byDom("a").length === 10)                   // w=1: every doc once
    assert(byDom("a").forall(_._3 == 0))
    assert(byDom("b").length < 10)                     // w=1/3: downsampled
    // upsampling regime: budget 400 → w_a = 2.0 exactly
    val up = Sampling.tokenBudgetMix(df, "id", "dom", "text", 400L,
        Map("a" -> 0.5, "b" -> 0.5))
      .select("id", "dom", "epoch")
      .collect().filter(_.getString(1) == "a")
    assert(up.length === 20)
    // unlisted domain drops entirely
    val only = Sampling.tokenBudgetMix(df, "id", "dom", "text", 200L,
        Map("a" -> 1.0)).select("id", "dom", "epoch").collect()
    assert(only.forall(_.getString(1) == "a"))
  }

  test("matchDistribution: binding domain keeps all, others downsample to the mix") {
    import spark.implicits._
    // a: 400 docs, b: 100, c: 100. Targets a=0.5, b=0.25 → c unlisted drops.
    // ratios: a 400/0.5=800, b 100/0.25=400 (binding) → Nout=400;
    // rate_a = 0.5*400/400 = 0.5, rate_b = 0.25*400/100 = 1.0.
    val df = (1L to 600L).map(i =>
      (i, if (i <= 400) "a" else if (i <= 500) "b" else "c")).toDF("id", "dom")
    val got = Sampling.matchDistribution(df, "id", "dom",
        Map("a" -> 0.5, "b" -> 0.25))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byDom = got.groupBy(_._2).view.mapValues(_.toSeq).toMap
    assert(byDom("b").length === 100)                  // binding: rate 1.0
    assert(byDom("b").forall(_._3 === 1.0))
    assert(byDom("a").forall(_._3 === 0.5))
    assert(byDom("a").length > 140 && byDom("a").length < 260) // ~200
    assert(!byDom.contains("c"))                       // unlisted drops
    // kept set is a hashSample subset: stable and nested in the full domain
    val again = Sampling.matchDistribution(df, "id", "dom",
        Map("a" -> 0.5, "b" -> 0.25)).collect().map(_.getLong(0)).toSet
    assert(again === got.map(_._1).toSet)
  }

  test("temperatureMix: tail up-weighted by p^(1/T), binding domain keeps all") {
    import spark.implicits._
    // a: 400 docs, b: 100. T=2: masses sqrt(400)=20, sqrt(100)=10 ->
    // q_a=2/3, q_b=1/3; ratios a 400/(2/3)=600, b 100/(1/3)=300 (binding)
    // -> Nout=300; rate_a = (2/3)*300/400 = 0.5, rate_b = 1.0.
    val df = (1L to 500L).map(i => (i, if (i <= 400) "a" else "b"))
      .toDF("id", "dom")
    val got = Sampling.temperatureMix(df, "id", "dom", temperature = 2.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byDom = got.groupBy(_._2).view.mapValues(_.toSeq).toMap
    assert(byDom("b").length === 100) // binding tail keeps everything
    assert(byDom("b").forall(_._3 === 1.0))
    assert(byDom("a").forall(_._3 === 0.5))
    assert(byDom("a").length > 140 && byDom("a").length < 260) // ~200
    // T=1 is the identity mix: every domain rate 1, nothing dropped
    val id1 = Sampling.temperatureMix(df, "id", "dom", temperature = 1.0)
      .collect()
    assert(id1.length === 500 && id1.forall(_.getDouble(2) === 1.0))
    // deterministic: same kept set on rerun
    val again = Sampling.temperatureMix(df, "id", "dom", temperature = 2.0)
      .collect().map(_.getLong(0)).toSet
    assert(again === got.map(_._1).toSet)
  }

  test("mixtureEntropy: closed forms on balanced, single and skewed mixes") {
    import spark.implicits._
    def ent(doms: Seq[String]) = {
      val r = Sampling.mixtureEntropy(
        doms.zipWithIndex.map { case (d, i) => (i.toLong, d) }
          .toDF("id", "dom"), "dom").head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // 50/50: H = ln 2 on the grid, term-wise rounded then summed
    val half = math.round(0.5 * math.log(2) * 1e6)
    val ln2 = math.round(math.log(2) * 1e6)
    assert(ent(Seq("a", "a", "b", "b")) ===
      ((2L, 4L, 2 * half, 2 * half * 1000000L / ln2)))
    // single source: zero entropy, evenness pinned to 1
    assert(ent(Seq("a", "a", "a")) === ((1L, 3L, 0L, 1000000L)))
    // skew lowers both entropy and evenness below the balanced mix
    val (k, n, h, ev) = ent(Seq("a", "a", "a", "b"))
    assert(k === 2L && n === 4L && h < 2 * half && ev < 1000000L && h > 0L)
  }

  test("mutualInformation: closed forms on independent, equal and constant") {
    import spark.implicits._
    def mi(rows: Seq[(String, String)]) = {
      val r = Sampling.mutualInformation(
        rows.toDF("a", "b"), "a", "b").head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))
    }
    val half = math.round(0.5 * math.log(2) * 1e6)   // -p ln p at p=1/2
    val quart = math.round(0.25 * math.log(4) * 1e6) // -p ln p at p=1/4
    // independent uniform 2x2: H_a = H_b = ln 2, H_ab = ln 4 -> MI = 0
    val indep = for (a <- Seq("x", "y"); b <- Seq("u", "v");
                     _ <- 1 to 5) yield (a, b)
    assert(mi(indep) === ((20L, 2L, 2L, 4L, 2 * half, 2 * half, 4 * quart,
      2 * half + 2 * half - 4 * quart, 0L)))
    // perfectly dependent (b = a): H_ab = H_a -> MI = H, NMI = 1
    val dep = Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y"))
    assert(mi(dep) === ((4L, 2L, 2L, 2L, 2 * half, 2 * half, 2 * half,
      2 * half, 1000000L)))
    // constant column: zero marginal entropy pins MI and NMI to 0
    val const = Seq(("x", "u"), ("x", "v"), ("x", "u"), ("x", "v"))
    val (_, na, _, _, ha2, _, _, m, nm) = mi(const)
    assert(na === 1L && ha2 === 0L && m === 0L && nm === 0L)
  }

  test("mutualInformation: one total row on empty input") {
    import spark.implicits._
    val r = Sampling.mutualInformation(
      Seq.empty[(String, String)].toDF("a", "b"), "a", "b").collect()
    assert(r.length === 1 && r.head.getLong(0) === 0L &&
      r.head.getLong(7) === 0L && r.head.getLong(8) === 0L)
  }

  test("jensenShannon: closed forms on identical, disjoint and one-sided") {
    import spark.implicits._
    def js(p: Seq[String], q: Seq[String]) = {
      val r = Sampling.jensenShannon(
        p.toDF("source"), q.toDF("source"), "source").head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9))
    }
    // identical distributions: mixture == each side bit-for-bit -> 0 drift
    val same = Seq("a", "a", "b")
    assert(js(same, same)._9 === 0L)
    assert(js(same, same)._10 === 0L)
    // disjoint supports: hp = hq = 0 (point masses), hm = 2 half-terms,
    // jsd2 = 2*2*round(0.5*ln2*1e6); norm overshoots 1e6 by rounding (doc'd)
    val half = math.round(0.5 * math.log(2) * 1e6)
    assert(js(Seq("a", "a"), Seq("b")) ===
      ((2L, 1L, 1L, 1L, 2L, 0L, 0L, 2 * half, 4 * half,
        4 * half * 1000000L / (2 * math.round(math.log(2) * 1e6)))))
    // one side empty: its total/domain counts are 0, the mixture halves
    // the other side's masses, and the row still comes out in one piece
    def t(p: Double) = math.round(-p * math.log(p) * 1e6)
    val (np, nq, kp, kq, ku, hp, hq, hm, j2, _) =
      js(Seq("a", "a", "b"), Seq.empty)
    assert((np, nq, kp, kq, ku, hq) === ((3L, 0L, 2L, 0L, 2L, 0L)))
    assert(hp === t(2.0 / 3) + t(1.0 / 3))
    assert(hm === t((2.0 / 3) / 2) + t((1.0 / 3) / 2))
    assert(j2 === 2 * hm - hp)
  }

  test("jensenShannon: one total row of zeros on two empty inputs") {
    import spark.implicits._
    val e = Seq.empty[String].toDF("source")
    val r = Sampling.jensenShannon(e, e, "source").collect()
    assert(r.length === 1 && r.head.toSeq === Seq.fill(10)(0L))
  }

  test("plan: epochMix is map-only; tokenBudgetMix broadcasts its census") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, "a", "w w w")).toDF("id", "dom", "text")
    // weights ship as a plan literal: no exchange of any kind
    val p1 = Sampling.epochMix(df, "id", "dom", Map("a" -> 1.5))
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"))
    // census joins back as a broadcast, never a shuffled join
    val p2 = Sampling.tokenBudgetMix(df, "id", "dom", "text", 100L, Map("a" -> 1.0))
      .queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastExchange") || p2.contains("BroadcastHashJoin"))
    assert(!p2.contains("SortMergeJoin"))
    // matchDistribution: rates come back as a broadcast, never a shuffle join
    val p3 = Sampling.matchDistribution(df, "id", "dom", Map("a" -> 1.0))
      .queryExecution.executedPlan.toString
    assert(p3.contains("BroadcastExchange") || p3.contains("BroadcastHashJoin"))
    assert(!p3.contains("SortMergeJoin"))
  }
}

class ChunkSpec extends SparkSpec {

  test("short doc → one chunk; windows advance by stride with overlap") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 5).map(i => s"w$i").mkString(" ")),   // < maxTokens
      (2L, (1 to 25).map(i => s"w$i").mkString(" "))). // 3 windows at stride 8
      toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, "doc_id", "text", maxTokens = 10, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.filter(_._1 == 1L).toSeq ===
      Seq((1L, 1, "w1 w2 w3 w4 w5", 5)))
    val d2 = got.filter(_._1 == 2L)
    assert(d2.map(_._2).toSeq === Seq(1, 9, 17))
    assert(d2.head._3 === (1 to 10).map(i => s"w$i").mkString(" "))
    // consecutive chunks share exactly `overlap` tokens
    assert(d2(1)._3.split(" ").take(2).toSeq === Seq("w9", "w10"))
  }

  test("tail start adding no new content is suppressed") {
    import spark.implicits._
    // len 17, maxTokens 10, overlap 2, stride 8: start 17 would cover only
    // w17 — already inside chunk [9,18) — so it must not be emitted
    val df = Seq((1L, (1 to 17).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val starts = TextAnalysis.chunk(df, "doc_id", "text", 10, 2)
      .collect().map(_.getInt(1)).sorted
    assert(starts.toSeq === Seq(1, 9))
  }

  test("null text emits zero chunks (no phantom rows)") {
    import spark.implicits._
    val df = Seq((1L, Option("a b c")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, "doc_id", "text", 10, 2)
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L))
  }

  test("invariant: dropping each chunk's overlap prefix reconstructs the doc") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1L to 10L).map { id =>
      (id, (1 to (1 + rnd.nextInt(60))).map(i => s"t$i").mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    val (mt, ov) = (12, 4)
    val chunks = TextAnalysis.chunk(df, "doc_id", "text", mt, ov)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    docs.foreach { case (id, text) =>
      val parts = chunks(id).zipWithIndex.map { case ((_, _, t), i) =>
        if (i == 0) t.split(" ").toSeq else t.split(" ").drop(ov).toSeq }
      assert(parts.flatten.mkString(" ") === text, s"doc $id")
    }
  }
}

class JaccardJoinSpec extends SparkSpec {

  /** Brute-force all-pairs Jaccard over the same hashed shingle sets —
    * the ground truth prefix filtering must reproduce exactly.
    */
  private def bruteForce(df: org.apache.spark.sql.DataFrame,
                         threshold: Double): Set[(Long, Long, Double)] = {
    val sh = MinHashLSH.shingleArrays(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq if a < b
      ni = (sa & sb).size if ni > 0
      j = BigDecimal(ni.toDouble / (sa.size + sb.size - ni))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= threshold
    } yield (a, b, j)).toSet
  }

  private def mixedCorpus = {
    import spark.implicits._
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    // exact dup, near dup (1 extra word), half-overlap, disjoint, short doc
    Seq(
      (1L, base), (2L, base), (3L, base + " extra"),
      (4L, (11 to 30).map(i => s"tok$i").mkString(" ")),
      (5L, (100 to 130).map(i => s"tok$i").mkString(" ")),
      (6L, "too short")).toDF("doc_id", "text")
  }

  test("prefix filtering reproduces brute force exactly (no false negatives)") {
    val df = mixedCorpus
    for (t <- Seq(0.3, 0.5, 0.7, 0.8, 1.0)) {
      val got = JaccardJoin.similarPairs(df, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === bruteForce(df, t), s"threshold $t")
    }
  }

  test("float-ulp ceiling edge: J exactly at threshold 0.7 is kept") {
    import spark.implicits._
    // |a| = 30 shingles, |b| = 21, b's shingles ⊂ a's → J = 21/30 = 0.7;
    // a naive ceil(0.7·30)=22 length filter would drop the pair.
    val wordsA = (1 to 32).map(i => s"w$i").mkString(" ")
    val wordsB = (1 to 23).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, wordsA), (2L, wordsB)).toDF("doc_id", "text")
    for (fo <- Seq(true, false)) {
      val got = JaccardJoin.similarPairs(df, "doc_id", "text", 0.7, freqOrder = fo)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq === Seq((1L, 2L, 0.7)), s"freqOrder=$fo")
    }
  }

  test("hash-order (map-only) prefix variant agrees with freq-order") {
    val df = mixedCorpus
    val a = JaccardJoin.similarPairs(df, "doc_id", "text", 0.4, freqOrder = true)
      .collect().map(_.toSeq).toSet
    val b = JaccardJoin.similarPairs(df, "doc_id", "text", 0.4, freqOrder = false)
      .collect().map(_.toSeq).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  /** Brute-force DIRECTED containment over the same shingle sets. */
  private def bruteForceContainment(df: org.apache.spark.sql.DataFrame,
                                    threshold: Double): Set[(Long, Long, Double)] = {
    val sh = MinHashLSH.shingleArrays(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq if a != b
      ni = (sa & sb).size
      c = BigDecimal(ni.toDouble / sa.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= threshold
    } yield (a, b, c)).toSet
  }

  test("containment: prefix filtering reproduces brute force, both orders") {
    val df = mixedCorpus
    for (t <- Seq(0.4, 0.6, 0.8, 1.0); fo <- Seq(true, false)) {
      val got = JaccardJoin.containmentPairs(df, "doc_id", "text", t,
          freqOrder = fo)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === bruteForceContainment(df, t), s"t=$t freqOrder=$fo")
    }
  }

  test("containmentPairsAcross(df, df) minus self pairs equals containmentPairs(df)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"w$i")
    val base = Seq.fill(12)(vocab(rnd.nextInt(vocab.size)))
    // shared-body docs with random edits, plus independent ones
    val docs = (0 until 24).map { i =>
      val words =
        if (i % 3 == 0) Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        else base.take(6 + rnd.nextInt(7)) ++
          Seq.fill(rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, words.mkString(" "))
    } :+ (99L, "too short")
    val df = (docs ++ mixedCorpus.as[(Long, String)].collect()
      .map { case (id, t) => (id + 1000L, t) }).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_a", "doc_b", "containment", "sz_a", "sz_b")
        .collect().map(_.toSeq).toSet
    for (t <- Seq(0.4, 0.7, 1.0); fo <- Seq(true, false)) {
      val self = rows(JaccardJoin.containmentPairs(df, "doc_id", "text", t,
        freqOrder = fo))
      val across = rows(JaccardJoin.containmentPairsAcross(df, df, "doc_id",
          "text", t, freqOrder = fo).where(col("doc_a") =!= col("doc_b")))
      assert(self.nonEmpty, s"t=$t freqOrder=$fo")
      assert(across === self, s"t=$t freqOrder=$fo")
    }
    graft.CacheRegistry.releaseAll()
  }

  test("containment and edit-verify plans never contain a cross product") {
    val cp = JaccardJoin.containmentPairs(mixedCorpus, "doc_id", "text", 0.7)
      .queryExecution.executedPlan.toString
    assert(!cp.contains("CartesianProduct"), cp)
    assert(!cp.contains("BroadcastNestedLoopJoin"), cp)
    val ev = MinHashLSH.editVerifiedPairs(mixedCorpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!ev.contains("CartesianProduct"), ev)
    assert(!ev.contains("BroadcastNestedLoopJoin"), ev)
  }

  test("containment is asymmetric where jaccard is blind") {
    import spark.implicits._
    // shingles(1) ⊂ shingles(3) (doc 3 = doc 1 + one word): 1→3 contains
    // fully, 3→1 only partially — and BOTH beat the symmetric jaccard
    val df = mixedCorpus
    val got = JaccardJoin.containmentPairs(df, "doc_id", "text", 0.96)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got((1L, 3L)) === 1.0) // subset side scores full containment
    assert(!got.contains((3L, 1L))) // 18/19 = 0.947 < 0.96: direction matters
  }

  test("threshold 1.0 keeps only exact shingle-set duplicates") {
    val got = JaccardJoin.similarPairs(mixedCorpus, "doc_id", "text", 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("empty input yields empty output") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(JaccardJoin.similarPairs(empty, "doc_id", "text", 0.5).count() === 0)
  }

  test("randomized corpora: both order variants equal brute force") {
    import spark.implicits._
    // small vocabulary forces heavy shingle overlap — the adversarial case
    // for prefix/positional/length filter bugs (false negatives)
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val docs = (1L to 12L).map { id =>
        val len = 5 + rnd.nextInt(20)
        (id, (1 to len).map(_ => s"v${rnd.nextInt(8)}").mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val t = Seq(0.3, 0.5, 0.7, 0.9)(rnd.nextInt(4))
      val expect = bruteForce(df, t)
      for (fo <- Seq(true, false)) {
        val got = JaccardJoin.similarPairs(df, "doc_id", "text", t, freqOrder = fo)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(got === expect, s"trial $trial threshold $t freqOrder $fo")
      }
    }
  }

  test("plan never contains a cross product") {
    val plan = JaccardJoin.similarPairs(mixedCorpus, "doc_id", "text", 0.7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("cross-set join equals the cross-set subset of the self-join") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val df = mixedCorpus
      val isR = pmod(col("doc_id"), lit(2)) === 0
      val got = JaccardJoin.similarPairsAcross(
          df.where(isR), df.where(!isR), "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // self-join pairs are (a<b); cross pairs are (r-side, s-side)
      val expect = bruteForce(df, t)
        .filter { case (a, b, _) => (a % 2 == 0) != (b % 2 == 0) }
        .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }
      assert(got === expect, s"threshold $t")
    }
  }

  test("cross-set randomized corpora equal cross-filtered brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val docs = (1L to 12L).map { id =>
        val len = 5 + rnd.nextInt(20)
        (id, (1 to len).map(_ => s"v${rnd.nextInt(8)}").mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val t = Seq(0.3, 0.5, 0.7)(rnd.nextInt(3))
      val r = df.where("doc_id <= 4")
      val s = df.where("doc_id > 4")
      for (fo <- Seq(true, false)) {
        val got = JaccardJoin.similarPairsAcross(r, s, "doc_id", "text", t,
            freqOrder = fo)
          .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
        val expect = bruteForce(df, t)
          .filter { case (a, b, _) => a <= 4 && b > 4 }
        assert(got === expect, s"trial $trial threshold $t freqOrder $fo")
      }
    }
  }

  test("cross-set join with an empty probe side is empty, plan join-only") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val q = JaccardJoin.similarPairsAcross(empty, mixedCorpus, "doc_id", "text", 0.5)
    assert(q.count() === 0)
    val plan = JaccardJoin.similarPairsAcross(
        mixedCorpus.where("doc_id <= 2"), mixedCorpus.where("doc_id > 2"),
        "doc_id", "text", 0.7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("ngram decontamination counts exact shared spans, semi-join plan") {
    import spark.implicits._
    val span = (1 to 13).map(i => s"s$i").mkString(" ") // 13-word span
    val bench = Seq(
      (10L, s"alpha beta $span gamma"),           // 1 hit window? see below
      (20L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (30L, "short doc")                          // < 13 words: no row
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"prefix words here $span and a tail"), // carries the span
      (2L, "totally unrelated training text that goes on for quite a while longer")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramContamination(bench, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 10 has 16 words -> 4 distinct 13-grams; only the exact span gram
    // (positions 3..15) also occurs in train doc 1
    assert(got(10L) === (4L, 1L))
    assert(got(20L) === (1L, 0L)) // 13 words, 1 gram, no collision
    assert(!got.contains(30L))
    graft.CacheRegistry.releaseAll()
    // skew contract: the hit count joins bench grams LEFT SEMI against the
    // deduped train gram set — train-side gram frequency never multiplies
    val plan = TextAnalysis.ngramContamination(bench, train, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a left-semi hit probe:\n$plan")
    assert(!plan.contains("Cartesian"))
    graft.CacheRegistry.releaseAll()
  }

  test("bloom decontamination screen: no false negatives vs the exact join") {
    import spark.implicits._
    val span = (1 to 13).map(i => s"s$i").mkString(" ")
    val bench = Seq(
      (10L, s"alpha beta $span gamma"),
      (20L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (30L, "short doc") // < 13 words: no row, matching d35 semantics
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"prefix words here $span and a tail"),
      (2L, "totally unrelated training text that goes on for quite a while longer")
    ).toDF("doc_id", "text")
    val bmp = TextAnalysis.bloomGramBitmap(train, "text", n = 13)
    assert(bmp.length === (1 << 20) / 32)
    assert(bmp.forall(w => (w & 0xFFFFFFFF00000000L) === 0L),
      "words must carry 32-bit payloads (DuckDB checked-shift parity)")
    val exact = TextAnalysis.ngramContamination(bench, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.CacheRegistry.releaseAll()
    val bloom = TextAnalysis
      .bloomContaminationScan(bench, bmp, "doc_id", "text", n = 13)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the Bloom guarantee: every exact hit is a bloom hit (>=, per doc)
    exact.foreach { case (id, nHits) => assert(bloom(id)._2 >= nHits,
      s"doc $id: bloom ${bloom(id)._2} < exact $nHits — false negative") }
    // with this tiny fixture the FP probability is ~(4*9*4/2^20)^4 ~ 0:
    // the screen's counts equal the exact join's here, deterministically
    assert(bloom(10L) === (4L, 1L))
    assert(bloom(20L) === (1L, 0L))
    assert(!bloom.contains(30L))
    // determinism: rebuilt bitmap is bit-identical
    assert(java.util.Arrays.equals(bmp,
      TextAnalysis.bloomGramBitmap(train, "text", n = 13)))
    // empty corpus: all-zero bitmap, every probe misses
    val empty = TextAnalysis.bloomGramBitmap(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", n = 13)
    assert(empty.forall(_ === 0L))
    val none = TextAnalysis
      .bloomContaminationScan(bench, empty, "doc_id", "text", n = 13)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(none === Map(10L -> 0L, 20L -> 0L))
  }

  test("CacheRegistry releases exactly the internally persisted frames") {
    val spark2 = spark
    import spark2.implicits._
    graft.CacheRegistry.releaseAll() // drain anything earlier tests tracked
    val mine = mixedCorpus.persist() // caller-owned cache must survive
    mine.count()
    val before = graft.CacheRegistry.trackedCount
    JaccardJoin.similarPairs(mixedCorpus, "doc_id", "text", 0.7).count()
    assert(graft.CacheRegistry.trackedCount > before)
    graft.CacheRegistry.releaseAll()
    assert(graft.CacheRegistry.trackedCount === 0)
    assert(mine.storageLevel.useMemory, "caller cache must not be evicted")
    mine.unpersist()
  }
}

class SimHashSpec extends SparkSpec {

  test("identical docs share a sketch; hamming detects similarity ordering") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val aNear = a + " tail"
    val far = "completely unrelated vocabulary covering other topics entirely now ok"
    val df = Seq((1L, a), (2L, a), (3L, aNear), (4L, far)).toDF("doc_id", "text")
    val sk = SimHash.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk(1L) === sk(2L))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sk(1L), sk(3L)) < ham(sk(1L), sk(4L)))
  }
}

class SimHashDupSpec extends SparkSpec {

  test("identical docs pair at hamming 0; disjoint-vocab docs do not pair") {
    import spark.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp aaa"
    val df = Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text")
    val got = SimHash.nearDupPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === Seq((1L, 2L, 0)))
    val got64 = SimHash.nearDupPairs64(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got64.toSeq === Seq((1L, 2L, 0)))
  }

  test("maxHamming=0 on the 64-bit sketch keys on the FULL sketch (no mask wrap)") {
    import spark.implicits._
    // (1L << 64) wraps to 1 on the JVM; an unguarded mask would zero every
    // band key and put all docs in one bucket — exact dups must still pair,
    // and distinct docs must get distinct keys (checked via pair count)
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp aaa"
    val df = Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text")
    val got = SimHash.nearDupPairs64(df, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }
}

/** The d164 perceptual-hash chain: blob → grayscale pixels → dHash →
  * generic hamming banding.
  */
class PHashSpec extends SparkSpec {

  import graft.functions.{Multimodal, SimHash}

  private def dhashOf(pixelRows: Seq[(Long, Seq[Int])]): Map[Long, Long] = {
    import spark.implicits._
    pixelRows.toDF("id", "px")
      .select(col("id"), Multimodal.dHash64(col("px")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  // the sequential dHash reference model
  private def dhashModel(px: Seq[Int]): Long =
    (0 until 64).map { k =>
      val r = k / 8; val c = k % 8
      if (px(r * 9 + c) < px(r * 9 + c + 1)) 1L << k else 0L
    }.sum

  test("grayPixels round-trips blob bytes as 0-255 ints (incl. 0x00/0x0F/0xFF)") {
    import spark.implicits._
    val bytes = (Seq(0x00, 0x0F, 0xFF, 0x80, 0x01) ++
      (5 until 72).map(i => (i * 7) % 256)).map(_.toByte).toArray
    val got = Seq((1L, bytes)).toDF("id", "blob")
      .select(Multimodal.grayPixels(col("blob"), 72).as("px"))
      .head().getSeq[Int](0)
    assert(got === bytes.map(b => b & 0xFF).toSeq)
  }

  test("dHash64 matches the sequential model and flips <= 2 bits per pixel perturbation") {
    val rnd = new scala.util.Random(42)
    val bases = (0 until 20).map(i =>
      i.toLong -> Seq.fill(72)(rnd.nextInt(256)))
    val got = dhashOf(bases)
    bases.foreach { case (id, px) => assert(got(id) === dhashModel(px), id) }
    // single-pixel perturbation: a pixel participates in at most 2
    // comparisons, so hamming(base, perturbed) <= 2 — the locality the
    // d164 banding budget (maxHamming=3) rides on
    val perturbed = bases.map { case (id, px) =>
      val at = rnd.nextInt(72)
      (id + 1000L, px.updated(at, (px(at) + 60) % 256))
    }
    val got2 = dhashOf(bases ++ perturbed)
    bases.foreach { case (id, _) =>
      val h = java.lang.Long.bitCount(got2(id) ^ got2(id + 1000L))
      assert(h <= 2, s"perturbation flipped $h bits")
    }
  }

  test("dHash64 is invariant under any monotone per-image tone curve") {
    val rnd = new scala.util.Random(7)
    val px = Seq.fill(72)(rnd.nextInt(200))
    val toned = px.map(p => p / 2 + 28) // monotone NON-strict is not safe;
    // p/2 merges adjacent values and may flip < into ==, so use a strictly
    // monotone curve instead for the invariance claim:
    val strict = px.map(p => math.min(255, p + 55))
    val got = dhashOf(Seq((1L, px), (2L, strict)))
    assert(got(1L) === got(2L))
    // and the non-strict curve is allowed to differ — no assertion on
    // `toned` beyond it computing at all
    dhashOf(Seq((3L, toned)))
  }

  test("hammingPairs equals brute force over planted near-dups and random sketches") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0 until 30).map(i => i.toLong -> rnd.nextLong())
    // plant near-dups at hamming 1..3 and one exact dup
    def flip(h: Long, n: Int): Long = {
      var x = h
      rnd.shuffle((0 until 64).toList).take(n).foreach(b => x ^= (1L << b))
      x
    }
    val planted = Seq(
      100L -> base(0)._2, // hamming 0
      101L -> flip(base(1)._2, 1),
      102L -> flip(base(2)._2, 3),
      103L -> flip(base(3)._2, 4)) // just over budget: must NOT pair via verify
    val all = base ++ planted
    val df = all.toDF("id", "sk")
    val got = SimHash.hammingPairs(df, "id", "sk", 64, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(got === want)
    assert(want.exists(_._3 == 0) && want.exists(_._3 == 1) &&
      want.exists(_._3 == 3)) // non-vacuous: the planted pairs are in
    CacheRegistry.releaseAll()
  }

  test("mediaDupTag equals the asymmetric brute force (batch-static run)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val probe = (0 until 12).map(i => (i.toLong, rnd.nextLong()))
    val ref = (100 until 130).map(i => (i.toLong, rnd.nextLong())) ++
      probe.take(4).map { case (id, h) => (id + 500, h ^ 3L) } // hamming 2
    // mediaDupTag is pure projections + a band equijoin, so it runs
    // identically on batch frames — the asymmetric (probe x ref only,
    // never ref x ref) brute force is the model; pigeonhole says every
    // within-budget pair collides in >= 1 band, so distinct-by-pair
    // equality is exact
    val got = graft.streaming.DocStream.mediaDupTag(
        probe.toDF("doc_id", "phash"), ref.toDF("doc_id", "phash"))
      .select("doc_id", "ref_id", "hamming").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (a, ha) <- probe; (b, hb) <- ref
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (a, b, h)).toSet
    assert(got === want)
    assert(want.size >= 4) // the planted near-dups are in
    // a reference catalog with ITS OWN schema passes its column names
    // explicitly and must produce the identical tag set (the round-17
    // refIdCol/refSketchCol parameters — before them this was an
    // unresolved-column error)
    val got2 = graft.streaming.DocStream.mediaDupTag(
        probe.toDF("doc_id", "phash"), ref.toDF("media_key", "sketch"),
        refIdCol = "media_key", refSketchCol = "sketch")
      .select("doc_id", "ref_id", "hamming").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got2 === want)
  }

  test("d164: the md5 blob chain never inlines into the dHash compare tree") {
    // The d164/d167 floors are priced on the three-projection phash plan
    // (blob → px → hash kept apart by CollapseProject's non-cheap
    // multiply-referenced-alias rule). If a refactor or optimizer change
    // ever inlines the pixel derivation into the hash's 128 element_at
    // references, the chain re-evaluates per reference and the measured
    // 8.4 s → 1.2 s win silently reverts. The pathology's signature in
    // the OPTIMIZED plan: one projection expression containing BOTH an
    // Md5 node (the blob derivation) and an ElementAt node (the hash
    // compare).
    import org.apache.spark.sql.catalyst.expressions.{ElementAt, Md5}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val df = SparkEntry.queries("d164_phash_neardup")(
      spark, "/root/testdata/sf0.001")
    val offenders = df.queryExecution.optimizedPlan.collect {
      case p: Project => p.projectList.filter(e =>
        e.exists(_.isInstanceOf[Md5]) && e.exists(_.isInstanceOf[ElementAt]))
    }.flatten
    CacheRegistry.releaseAll()
    assert(offenders.isEmpty,
      s"the phash pixel/blob derivation inlined into the hash compare: " +
        s"${offenders.map(_.sql).mkString("; ").take(500)}")
  }

  test("grayThumb is the identity on native-size gray-content PNGs") {
    // the exactness fact d173 rides on: lossless encode + exact BT.601
    // luma of (v,v,v) + one-pixel blocks ⇒ decode→thumb recovers the
    // planted bytes bit-for-bit (incl. 0x00 and 0xFF extremes)
    val planted = (Seq(0, 255, 128, 1, 254) ++
      (5 until 72).map(i => (i * 37) % 256)).toArray
    val im = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (r <- 0 until 8; c <- 0 until 9)
      im.setRGB(c, r, planted(r * 9 + c) * 0x010101)
    val out = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    try { javax.imageio.ImageIO.write(im, "png", ios); ios.flush() }
    finally ios.close()
    val got = Multimodal.ImageIoCodec.grayThumb(out.toByteArray, 9, 8)
    assert(got.map(_ & 0xFF).toSeq === planted.toSeq)
  }

  test("d173: the pixel extraction never inlines into the dHash compare tree") {
    // the d164 plan guard applied to the real chain: dHash64 references
    // the pixel array 128 times, so if CollapseProject ever folds the
    // grayPixels extraction (72 conv/substring/hex nodes over the thumb
    // bytes) into the hash projection, the extraction re-evaluates per
    // element_at reference. Signature of the pathology in the OPTIMIZED
    // plan: one projection expression containing BOTH a Conv node (the
    // extraction) and an ElementAt node (the hash compare).
    import org.apache.spark.sql.catalyst.expressions.{Conv, ElementAt}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val df = SparkEntry.queries("d173_phash_real_chain")(
      spark, "/root/testdata/sf0.001")
    val offenders = df.queryExecution.optimizedPlan.collect {
      case p: Project => p.projectList.filter(e =>
        e.exists(_.isInstanceOf[Conv]) && e.exists(_.isInstanceOf[ElementAt]))
    }.flatten
    CacheRegistry.releaseAll()
    assert(offenders.isEmpty,
      s"the d173 pixel extraction inlined into the hash compare: " +
        s"${offenders.map(_.sql).mkString("; ").take(500)}")
  }

  test("d175 (real decode chain, STREAMING side) lands on d167's exact tag set") {
    // the typed mapPartitions decode stages run inside a genuine
    // readStream micro-batch; the tag set must equal the synthetic
    // chain's because the hashes are bit-identical (d173's gate)
    def tags(name: String) = SparkEntry.queries(name)(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    val real = tags("d175_phash_real_tag_stream")
    val synth = tags("d167_phash_tag_stream")
    CacheRegistry.releaseAll()
    assert(real === synth)
    assert(real.nonEmpty)
  }

  test("d173 (real decode chain) lands on d164's exact pair set") {
    // the end-to-end seam: PNG encode → ImageIO decode → grayThumb →
    // dHash64 → band join must equal the synthetic closed form that the
    // shared DuckDB oracle replays
    def pairs(name: String) = SparkEntry.queries(name)(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val real = pairs("d173_phash_real_chain")
    val synth = pairs("d164_phash_neardup")
    CacheRegistry.releaseAll()
    assert(real === synth)
    assert(real.nonEmpty) // non-vacuous: the planted near-dups pair up
  }
}

class VectorOpsSpec extends SparkSpec {

  test("cosine matches hand computation") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val got = df.select(VectorOps.cosine(col("a").cast("array<double>"),
      col("b").cast("array<double>"))).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 0.0) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("kNN brute force returns k nearest, excluding self, matching naive") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(4)(d => math.sin(i * 2.0 + d).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = VectorOps.knnBruteForce(df.where(col("vec_id") === 0), df, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val naive = vecs.tail.map { case (id, v) => id -> cos(vecs.head._2, v) }
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSet
    assert(got.keySet === naive)
  }

  test("blocked near-dup pairs respect the threshold and the block") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.99f, 0.01f), 0),
      (3L, Array(1.0f, 0.0f), 1), // same vector, different block -> no pair
      (4L, Array(0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = VectorOps.nearDupPairs(df, "vec_id", "embedding", "label", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }

  test("contrastive pairs: positives rank within label, negatives across") {
    import spark.implicits._
    // anchor 0 (label 0) against: 1,2 same label; 3,4,5 other label.
    // cosines to the anchor: 1→0.95, 2→0.0, 3→0.99, 4→0.5, 5→−1.0
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.95f, 0.3124f), 0),
      (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(0.99f, 0.141f), 1),
      (4L, Array(0.5f, 0.866f), 1),
      (5L, Array(-1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = VectorOps.contrastivePairs(df.where(col("vec_id") === 0), df,
      "vec_id", "embedding", "label", kPos = 2, kNeg = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    // positives: 1 (cos .95) then 2 (cos 0); hard negatives: 3 (cos .99,
    // the high-similarity wrong-label row) then 4; 5 falls outside kNeg
    assert(got === Set((1L, 1, 1), (2L, 1, 2), (3L, 0, 1), (4L, 0, 2)))
    // the anchor set broadcasts — no shuffled join of the candidate side
    val plan = VectorOps.contrastivePairs(df.where(col("vec_id") === 0), df,
      "vec_id", "embedding", "label", 2, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("contrastive pairs: null-label rows drop from both sides explicitly") {
    import spark.implicits._
    // candidate 9 has the highest cosine to the anchor but a NULL label:
    // under the documented convention it is neither positive nor negative
    // (and a null-label anchor mines nothing)
    val df = Seq(
      (0L, Array(1.0f, 0.0f), Integer.valueOf(0)),
      (1L, Array(0.95f, 0.3124f), Integer.valueOf(0)),
      (3L, Array(0.5f, 0.866f), Integer.valueOf(1)),
      (9L, Array(0.999f, 0.04f), null.asInstanceOf[Integer]))
      .toDF("vec_id", "embedding", "label")
    val got = VectorOps.contrastivePairs(df.where(col("vec_id") === 0), df,
      "vec_id", "embedding", "label", kPos = 2, kNeg = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(got === Set((1L, 1, 1), (3L, 0, 1)))
    val anchorNull = VectorOps.contrastivePairs(
      df.where(col("vec_id") === 9), df,
      "vec_id", "embedding", "label", kPos = 2, kNeg = 2).count()
    assert(anchorNull === 0L)
  }

  test("contrastivePairsIVF == contrastivePairs when every cell is probed") {
    import spark.implicits._
    val df = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(4)(d => math.sin(i * 2.0 + d).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val anchors = df.where(col("vec_id") < 5)
    val cents = graft.functions.VectorIVF.mdCentroids(spark, 4, 4)
    val exact = VectorOps.contrastivePairs(anchors, df,
        "vec_id", "embedding", "label", kPos = 2, kNeg = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    // nprobe = K: all cells probed -> the candidate set is every labeled
    // pair, so the routed output must equal the exact one bit-for-bit
    val all = VectorOps.contrastivePairsIVF(anchors, df,
        "vec_id", "embedding", "label", kPos = 2, kNeg = 3,
        cents, "cell_id", "cvec", nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(all === exact)
    // nprobe = 1: a subset of the candidate pairs — never an invention
    val routed = VectorOps.contrastivePairsIVF(anchors, df,
        "vec_id", "embedding", "label", kPos = 2, kNeg = 3,
        cents, "cell_id", "cvec", nprobe = 1)
      .select("anchor_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val allPairs = exact.map(t => (t._1, t._2)) ++
      VectorOps.contrastivePairsIVF(anchors, df, "vec_id", "embedding",
          "label", 30, 30, cents, "cell_id", "cvec", nprobe = 4)
        .select("anchor_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed.subsetOf(allPairs))
  }

  test("contrastivePairsIVF plan: candidates join by cell, never anchors × corpus") {
    import spark.implicits._
    val df = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(4)(d => math.sin(i * 2.0 + d).toFloat), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val plan = VectorOps.contrastivePairsIVF(df.where(col("vec_id") < 5), df,
        "vec_id", "embedding", "label", 2, 3,
        graft.functions.VectorIVF.mdCentroids(spark, 4, 4),
        "cell_id", "cvec", nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop joins are the two tiny centroid broadcasts
    // (corpus assign + anchor probes); anchors meet the corpus ONLY
    // through the cell/id equality joins
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2, plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("semantic decontamination flags train rows near any bench vector, with hit counts") {
    import spark.implicits._
    val bench = Seq(
      (100L, Array(1.0f, 0.0f)), (101L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Array(0.999f, 0.01f)),   // near bench 100 only
      (2L, Array(0.8f, 0.8f)),      // cos ~0.707 to BOTH
      (3L, Array(-1.0f, 0.0f)))     // near nothing
      .toDF("vec_id", "embedding")
    val got = VectorOps.semanticDecontaminate(
      train, bench, "vec_id", "embedding", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L))
  }

  test("semantic decontamination broadcasts the bench side (no shuffle of train)") {
    import spark.implicits._
    val bench = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val plan = VectorOps.semanticDecontaminate(
      train, bench, "vec_id", "embedding", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.toLowerCase.contains("sortmergejoin"))
  }

  test("centroid outliers flag vectors below minCos to their label centroid") {
    import spark.implicits._
    // label 0 centroid = avg((1,0),(0.8,0.2),(-1,0)) = (0.266..,0.066..)
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.8f, 0.2f), 0),
      (3L, Array(-1.0f, 0.0f), 0),   // points away from its centroid
      (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(0.0f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = VectorOps.centroidOutliers(df, "vec_id", "embedding", "label", 0.0)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSeq === Seq((3L, 0)))
  }

  test("centroid outliers on empty input return an empty, well-typed frame") {
    import spark.implicits._
    val df = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val got = VectorOps.centroidOutliers(df, "vec_id", "embedding", "label", 0.0)
    assert(got.columns.toSeq === Seq("vec_id", "label"))
    assert(got.count() === 0)
  }

  test("embeddingDrift: closed forms incl. signed means and raw variance") {
    import spark.implicits._
    def drift(p: Seq[Array[Float]], q: Seq[Array[Float]]) =
      VectorOps.embeddingDrift(
        p.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("vec_id", "embedding"),
        q.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("vec_id", "embedding"), "embedding")
        .orderBy("dim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // identical sides: zero shift, equal variance
    val same = Seq(Array(1.0f, -0.5f), Array(0.5f, 0.5f))
    drift(same, same).foreach { case (_, np, nq, mp, mq, dm, vp, vq) =>
      assert(np === 2L && nq === 2L && mp === mq && dm === 0L && vp === vq)
    }
    // signed mean: dim0 sums to -500000 over 2 rows -> -(500000 div 2);
    // variance = E[g^2] - E[g]^2 exactly on the grid
    val got = drift(Seq(Array(-1.0f), Array(0.5f)), Seq(Array(0.25f)))
    val (d0, np, nq, mp, mq, dm, vp, vq) = got.head
    assert((d0, np, nq) === ((0L, 2L, 1L)))
    assert(mp === -250000L && mq === 250000L && dm === -500000L)
    assert(vp === (1000000L * 1000000L + 500000L * 500000L) / 2
      - 250000L * 250000L)
    assert(vq === 0L)
    // ragged dims: the extra dimension reports n=0 moments for the short side
    val rag = drift(Seq(Array(1.0f, 1.0f)), Seq(Array(1.0f)))
    assert(rag.length === 2)
    assert(rag(1) === ((1L, 1L, 0L, 1000000L, 0L, 1000000L, 0L, 0L)))
    // empty sides: no rows at all
    assert(drift(Seq.empty, Seq.empty).length === 0)
  }
}

class MultimodalSpec extends SparkSpec {

  private def blobDf = {
    import spark.implicits._
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte) ++ "pay".getBytes
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++ "pay".getBytes
    val wav = "RIFF".getBytes ++ Array[Byte](0x24, 0, 0, 0) ++ "WAVE".getBytes ++ "pay".getBytes
    val mp4 = Array[Byte](0, 0, 0, 0x18) ++ "ftyp".getBytes ++ "pay".getBytes
    val gif = "GIF89a".getBytes ++ "pay".getBytes
    val raw = "plain bytes".getBytes
    Seq((1L, jpeg), (2L, png), (3L, wav), (4L, mp4), (5L, gif), (6L, raw))
      .toDF("id", "blob")
  }

  test("content-type sniffing dispatches on magic bytes") {
    val got = Multimodal.metadata(blobDf, "id", "blob")
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(got === Map(
      1L -> "image/jpeg", 2L -> "image/png", 3L -> "audio/wav",
      4L -> "video/mp4", 5L -> "image/gif", 6L -> "application/octet-stream"))
  }

  test("decode is deterministic, bounded, and matches analyze's single pass") {
    val d1 = Multimodal.decode(blobDf, "id", "blob").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    val d2 = Multimodal.analyze(blobDf, "id", "blob").collect()
      .map(r => (r.getLong(0), (r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))).toMap
    assert(d1 === d2)
    d1.values.foreach { case (w, h, c, f) =>
      assert(w >= 16 && w <= 1920); assert(h >= 16 && h <= 1080)
      assert(c >= 1 && c <= 4); assert(f >= 1 && f <= 300)
    }
  }

  test("resize plan fits the box, preserves aspect by integer ratio, never upscales") {
    import spark.implicits._
    val df = Seq((1920, 1080), (100, 50), (512, 512), (200, 1000), (1, 1))
      .toDF("width", "height")
    val (ow, oh) = Multimodal.resizePlan(col("width"), col("height"), 512, 512)
    val got = df.select(col("width"), col("height"), ow.as("ow"), oh.as("oh"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getInt(2), r.getInt(3))).toMap
    assert(got((1920, 1080)) === (512, 288)) // 1080*512/1920 = 288
    assert(got((100, 50)) === (100, 50))     // already fits — no upscale
    assert(got((512, 512)) === (512, 512))
    assert(got((200, 1000)) === (102, 512))  // 200*512/1000 = 102.4 -> 102
    assert(got((1, 1)) === (1, 1))
  }

  test("frame sampling: 0 frames yields 0 sampled and an empty index array") {
    import spark.implicits._
    val df = Seq(0).toDF("n_frames")
    val r = df.select(Multimodal.frameSampleCount(col("n_frames"), 30).as("n"),
      size(Multimodal.frameSampleIndices(col("n_frames"), 30)).as("sz")).head()
    assert(r.getLong(0) === 0L && r.getInt(1) === 0)
  }

  test("frame sampling: UNKNOWN (null) frame count stays null, not 0") {
    import spark.implicits._
    val df = Seq(Option.empty[Int]).toDF("n_frames")
    val r = df.select(Multimodal.frameSampleCount(col("n_frames"), 30).as("n"),
      Multimodal.frameSampleIndices(col("n_frames"), 30).as("idx")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("frame sampling: ceil count and stride indices agree") {
    import spark.implicits._
    val df = Seq(1, 29, 30, 31, 300).toDF("n_frames")
    val got = df.select(col("n_frames"),
      Multimodal.frameSampleCount(col("n_frames"), 30).as("n"),
      size(Multimodal.frameSampleIndices(col("n_frames"), 30)).as("sz"))
      .collect()
    got.foreach { r => assert(r.getLong(1) === r.getInt(2).toLong) }
    assert(got.map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      Map(1 -> 1L, 29 -> 1L, 30 -> 1L, 31 -> 2L, 300 -> 10L))
  }
}

class VectorLSHSpec extends SparkSpec {

  test("hyperplanes are deterministic and bounded") {
    val p = VectorLSH.hyperplanes(4, 8)
    assert(p === VectorLSH.hyperplanes(4, 8))
    assert(p.flatten.forall(v => v >= -1.0 && v <= 1.0))
    assert(p(0)(0) === 0.882) // md5("0:0")[0:7] % 2001 -> cross-checked vs DuckDB
  }

  test("identical vectors share every band; ANN finds them rank 1") {
    import spark.implicits._
    val v = Array.tabulate(8)(d => math.sin(d + 1.0).toFloat)
    val other = Array.tabulate(8)(d => math.cos(3.0 * d + 1.0).toFloat)
    val df = Seq((1L, v), (2L, v), (3L, other)).toDF("vec_id", "embedding")
    val b = VectorLSH.bands(df, "vec_id", "embedding", 16, 4)
    val byId = b.collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(r => (r.getInt(1), r.getLong(2))).toSet }
    assert(byId(1L) === byId(2L))
    val ann = VectorLSH.annTopK(df.where(col("vec_id") === 1), df, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(ann.contains((2L, 1))) // the duplicate vector is the top neighbor
  }

  test("ANN candidates are a subset of brute-force and ranks agree on them") {
    import spark.implicits._
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 1.7 + d * 0.9).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 3)
    val ann = VectorLSH.annTopK(q, df, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = VectorOps.knnBruteForce(q, df, "vec_id", "embedding", 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(brute)) // never invents neighbors
  }
}

class VectorNearDupLshSpec extends SparkSpec {

  test("unblocked near-dup pairs: identical vectors pair, orthogonal do not") {
    import spark.implicits._
    val v1 = Array(1f, 0f, 0f, 0f); val v2 = Array(0f, 1f, 0f, 0f)
    val df = Seq((1L, v1), (2L, v1), (3L, v2)).toDF("vec_id", "embedding")
    val got = VectorLSH.nearDupPairs(df, "vec_id", "embedding", minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
  }
}

class NativeShingleSpec extends SparkSpec {

  test("graft_shingles matches the column md5 formula bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Seq("alpha", "beta", "?!", "", "héllo", "世界", "x")
    val docs = (1L to 60L).map { id =>
      val len = rnd.nextInt(10) // 0..9 words — includes sub-n docs
      (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))))
    }.toDF("doc_id", "words")
    for (n <- Seq(1, 3, 5)) {
      val w = col("words")
      val gram = (i: org.apache.spark.sql.Column) => concat_ws(" ",
        (0 until n).map(o => element_at(w, i + o + 1)): _*)
      val reference = transform(
        when(size(w) >= n, sequence(lit(0), size(w) - n))
          .otherwise(lit(Array.empty[Int])),
        i => MinHashLSH.baseHash(gram(i)))
      val rows = docs.select(
        graft.plans.TextExpressions.shinglesColumn(spark, w, n).as("fast"),
        reference.as("ref")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"n=$n")
      }
    }
  }

  test("graft_shingles skips null elements exactly like concat_ws") {
    graft.plans.GraftFunctions.register(spark)
    val fast = spark.sql(
      "SELECT graft_shingles(array('a', CAST(NULL AS STRING), 'b'), 3)").head().getSeq[Long](0)
    val ref = spark.sql(
      "SELECT CAST(conv(substring(md5('a b'), 1, 15), 16, 10) AS BIGINT)").head().getLong(0)
    assert(fast === Seq(ref))
    // null input array -> null out; sub-n array -> empty
    assert(spark.sql(
      "SELECT graft_shingles(CAST(NULL AS ARRAY<STRING>), 3)").head().isNullAt(0))
    assert(spark.sql(
      "SELECT graft_shingles(array('one'), 3)").head().getSeq[Long](0).isEmpty)
  }
}

class DotProductExprSpec extends SparkSpec {

  test("native graft_dot matches the HOF dot bit-for-bit") {
    import spark.implicits._
    val df = (0 until 50).map(i =>
      (Array.tabulate(16)(d => math.sin(i + d * 0.7)),
       Array.tabulate(16)(d => math.cos(i * 0.3 + d))))
      .toDF("a", "b")
    val r = df.select(
      graft.plans.VectorExpressions.dotColumn(spark, col("a"), col("b")).as("fast"),
      VectorOps.dot(col("a"), col("b")).as("hof"))
      .collect()
    r.foreach(row => assert(row.getDouble(0) === row.getDouble(1)))
  }

  test("graft_dot nulls out on null arrays and null elements; casts floats") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val r1 = spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))").head()
    assert(r1.isNullAt(0))
    val r2 = spark.sql("SELECT graft_dot(array(1.0d, NULL), array(2.0d, 3.0d))").head()
    assert(r2.isNullAt(0))
    val r3 = spark.sql("SELECT graft_dot(array(CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT)))").head()
    assert(r3.getDouble(0) === 6.0)
  }

  test("graft_dot nulls out on ragged lengths, agreeing with zip_with") {
    graft.plans.GraftFunctions.register(spark)
    val native = spark.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d)) AS d").head()
    assert(native.isNullAt(0))
    val hof = spark.sql(
      """SELECT aggregate(zip_with(array(1.0d,2.0d), array(3.0d), (x,y) -> x*y),
        |0.0d, (a,x) -> a+x) AS d""".stripMargin).head()
    assert(hof.isNullAt(0))
  }

  test("graft_dot is usable from SQL text after registration") {
    graft.plans.GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
      .head().getDouble(0) === 11.0)
  }
}

class VectorIVFSpec extends SparkSpec {

  test("IVF finds cluster-mates; candidates never leave probed cells") {
    import spark.implicits._
    // two tight clusters around orthogonal axes + their centroids
    def jitter(base: Array[Float], i: Int) =
      base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i + d) % 3) }
    val ax = Array(1f, 0f, 0f, 0f); val ay = Array(0f, 1f, 0f, 0f)
    val corpus = ((0 until 10).map(i => (i.toLong, jitter(ax, i))) ++
      (10 until 20).map(i => (i.toLong, jitter(ay, i)))).toDF("vec_id", "embedding")
    val centroids = Seq((0, ax), (1, ay)).toDF("cell_id", "cvec")
    val got = VectorIVF.annTopK(
      corpus.where(col("vec_id") === 0), corpus, "vec_id", "embedding",
      k = 3, centroids, "cell_id", "cvec", nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(got.size === 3)
    assert(got.forall(_ < 10)) // nprobe=1: only the x-cluster cell searched
  }

  test("semDedup prunes smaller-id near-dups within a cell only") {
    import spark.implicits._
    val centroids = Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
      .toDF("cell_id", "cvec")
    val vecs = Seq(
      (1L, Array(1f, 0.01f, 0f, 0f)),   // cell 0, canonical of {1,2}
      (2L, Array(1f, 0.02f, 0f, 0f)),   // cell 0, near-dup of 1 -> pruned
      (3L, Array(0.9f, -0.3f, 0f, 0f)), // cell 0, below threshold -> kept
      (4L, Array(0f, 1f, 0f, 0f)),      // cell 1, canonical of {4,5}
      (5L, Array(0.01f, 1f, 0f, 0f)),   // cell 1, near-dup of 4 -> pruned
      // near-identical pair STRADDLING the cell boundary: the IVF bound
      // deliberately misses it (the SemDeDup trade) — both kept
      (6L, Array(0.708f, 0.706f, 0f, 0f)), // cell 0
      (7L, Array(0.706f, 0.708f, 0f, 0f))  // cell 1
    ).toDF("vec_id", "embedding")
    val got = VectorIVF.semDedup(vecs, "vec_id", "embedding",
        centroids, "cell_id", "cvec", minCos = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(got === Map(
      1L -> (0, false), 2L -> (0, true), 3L -> (0, false),
      4L -> (1, false), 5L -> (1, true),
      6L -> (0, false), 7L -> (1, false)))
    graft.CacheRegistry.releaseAll()
  }

  test("semDedup plan: cell-equijoin over one cached assignment, no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val vecs = (0 until 8).map(i => (i.toLong, Array.fill(4)(i.toFloat + 1)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
      .toDF("cell_id", "cvec")
    val qe = VectorIVF.semDedup(vecs, "vec_id", "embedding",
      cents, "cell_id", "cvec", 0.9).queryExecution
    // within-cell pairs only: the pair join is an equijoin on `cell`; the
    // only nested-loop join is the broadcast K-centroid assign INSIDE the
    // cached assignment — nothing downstream may open a cross product
    assert(!qe.optimizedPlan.toString.contains("Cartesian"),
      s"no cartesian in:\n${qe.optimizedPlan}")
    // both pair-join sides + the output row set read ONE cached assignment
    val cacheReads = qe.optimizedPlan.collect { case r: InMemoryRelation => r }.length
    assert(cacheReads === 3,
      s"expected 3 reads of the cached assignment, got $cacheReads:\n${qe.optimizedPlan}")
    graft.CacheRegistry.releaseAll()
  }

  test("assign plan: candidates collapse map-side (partial agg), no window") {
    import spark.implicits._
    val df = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1f, 0f)), (1, Array(0f, 1f))).toDF("cell_id", "cvec")
    val plan = VectorIVF.assign(df, "vec_id", "embedding", cents, "cell_id", "cvec")
      .queryExecution.executedPlan.toString
    // the scale contract: the N×K candidate rows must reduce BEFORE any
    // exchange (partial max_by), and never via a row_number window
    assert(plan.contains("partial_max_by"))
    assert(!plan.contains("Window"))
  }

  test("assign puts every vector in its nearest centroid cell") {
    import spark.implicits._
    val ax = Array(1f, 0f); val ay = Array(0f, 1f)
    val df = Seq((1L, Array(0.9f, 0.1f)), (2L, Array(0.2f, 0.8f))).toDF("vec_id", "embedding")
    val centroids = Seq((7, ax), (8, ay)).toDF("cell_id", "cvec")
    val cells = VectorIVF.assign(df, "vec_id", "embedding", centroids, "cell_id", "cvec")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(cells === Map(1L -> 7, 2L -> 8))
  }

  test("train plans never nest across Lloyd rounds (constant depth)") {
    import spark.implicits._
    val corpus = (0 until 6).map(i =>
      (i.toLong, Array(1f + i * 0.01f, 0f, i * 0.02f, 0f))).toDF("vec_id", "embedding")
    // 30 rounds: an implementation that chained DataFrames across rounds
    // would return a 30-deep plan here; the collect-per-round design must
    // return a driver-literal LocalRelation regardless of iters.
    val trained = VectorIVF.train(corpus, "vec_id", "embedding", k = 2, iters = 30)
    val leaves = trained.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode => l
    }
    assert(leaves.nonEmpty)
    assert(leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"train result must stay a literal LocalRelation, got:\n${trained.queryExecution.analyzed}")
    assert(trained.count() === 2)
  }

  test("Lloyd's trainer separates clusters, is deterministic, beats md5 recall") {
    import spark.implicits._
    def jitter(base: Array[Float], i: Int) =
      base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i + d) % 3) }
    val ax = Array(1f, 0f, 0f, 0f); val ay = Array(0f, 1f, 0f, 0f)
    val corpus = ((0 until 10).map(i => (i.toLong, jitter(ax, i))) ++
      (10 until 20).map(i => (i.toLong, jitter(ay, i)))).toDF("vec_id", "embedding")

    val trained = VectorIVF.train(corpus, "vec_id", "embedding", k = 2, iters = 3)
    val rows = trained.collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getSeq[Double](1).length === 4))

    // trained quantizer puts each tight cluster wholly in one cell
    val cells = VectorIVF.assign(corpus, "vec_id", "embedding",
        trained, "cell_id", "cvec")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(cells.filter(_._1 < 10).values.toSet.size === 1)
    assert(cells.filter(_._1 >= 10).values.toSet.size === 1)
    assert(cells(0L) !== cells(10L))

    // deterministic: identical centroid values on a re-run
    val again = VectorIVF.train(corpus, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(again.toSeq === rows.map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq)

    // recall@5 vs brute force: trained quantizer >= the md5 fixed one
    def recall(cents: org.apache.spark.sql.DataFrame): Double = {
      val q = corpus.where(col("vec_id") === 0)
      val truth = VectorOps.knnBruteForce(q, corpus, "vec_id", "embedding", 5)
        .collect().map(_.getLong(1)).toSet
      val got = VectorIVF.annTopK(q, corpus, "vec_id", "embedding", 5,
          cents, "cell_id", "cvec", nprobe = 1)
        .collect().map(_.getLong(1)).toSet
      (truth & got).size.toDouble / truth.size
    }
    val rT = recall(trained)
    val rM = recall(VectorIVF.mdCentroids(spark, 2, 4))
    assert(rT >= rM, s"trained recall $rT < md5 recall $rM")
    assert(rT === 1.0) // tight clusters + aligned quantizer: exact recall
  }

  test("train rejects k larger than the corpus row count") {
    import spark.implicits._
    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      VectorIVF.train(corpus, "vec_id", "embedding", k = 5, iters = 0)
    }
    assert(ex.getMessage.contains("exceeds the corpus row count"))
    // at the boundary (k == rows) every row seeds its own cell: fine
    val ok = VectorIVF.train(corpus, "vec_id", "embedding", k = 2, iters = 1)
    assert(ok.count() === 2)
  }

  test("standing IVF index: save/load round-trips and probes identically; " +
    "corrupt indexes rejected loudly") {
    import spark.implicits._
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 1.3 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val trained = VectorIVF.train(corpus, "vec_id", "embedding", k = 4,
      iters = 2)
    val path = graft.WorkDirs.acquire("test_ivf_idx").toString
    VectorIVF.saveIndex(trained, path)
    val loaded = VectorIVF.loadIndex(spark, path)
    def cents(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cents(loaded) === cents(trained)) // bit-exact round trip
    // probing through the artifact equals probing the in-session quantizer
    val q = corpus.where(col("vec_id") < 2)
    def topk(c: org.apache.spark.sql.DataFrame) =
      VectorIVF.annTopK(q, corpus, "vec_id", "embedding", 3, c,
          "cell_id", "cvec")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(topk(loaded) === topk(trained))
    // duplicate cell ids double-route probes: refused, never guessed at
    val dup = graft.WorkDirs.acquire("test_ivf_dup").toString
    VectorIVF.saveIndex(trained.union(trained.limit(1)), dup)
    val ex2 = intercept[IllegalArgumentException] {
      VectorIVF.loadIndex(spark, dup)
    }
    assert(ex2.getMessage.contains("duplicate cell ids"))
  }

  test("index corpus fingerprint: stale artifacts fail loudly at load, " +
    "matching ones round-trip") {
    import spark.implicits._
    def corpusOf(seed: Double) = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * seed + d).toFloat)))
      .toDF("vec_id", "embedding")
    val corpus = corpusOf(1.3)
    val fp = VectorIVF.corpusFingerprint(corpus, "vec_id", "embedding")
    // order/partitioning-independent: same rows, different layout
    assert(VectorIVF.corpusFingerprint(
      corpus.repartition(7).orderBy(col("vec_id").desc),
      "vec_id", "embedding") === fp)
    val trained = VectorIVF.train(corpus, "vec_id", "embedding", k = 4,
      iters = 1)
    val path = graft.WorkDirs.acquire("test_ivf_fp").toString
    VectorIVF.saveIndex(trained, path, corpusFp = Some(fp))
    // matching fingerprint loads and strips the stamp column
    val loaded = VectorIVF.loadIndex(spark, path, expectCorpusFp = Some(fp))
    assert(loaded.columns.toSet === Set("cell_id", "cvec"))
    // a DIFFERENT corpus (one row perturbed) refuses the artifact
    val other = VectorIVF.corpusFingerprint(corpusOf(1.7), "vec_id", "embedding")
    assert(other !== fp)
    // even-multiplicity PAIR substitution: {A,A,X,X} vs {A,A,Y,Y} have
    // equal count and equal xor (duplicate pairs cancel under xor) — the
    // modular-sum term must still tell them apart
    def dupPairCorpus(second: Long) = {
      def v(seed: Long) = Array.tabulate(8)(d => math.sin(seed + d).toFloat)
      Seq((1L, v(10)), (1L, v(10)), (second, v(second * 100)),
        (second, v(second * 100))).toDF("vec_id", "embedding")
    }
    assert(VectorIVF.corpusFingerprint(dupPairCorpus(2L), "vec_id", "embedding")
      !== VectorIVF.corpusFingerprint(dupPairCorpus(3L), "vec_id", "embedding"))
    val ex = intercept[IllegalArgumentException] {
      VectorIVF.loadIndex(spark, path, expectCorpusFp = Some(other))
    }
    assert(ex.getMessage.contains("DIFFERENT corpus"))
    // a stamp in an OLDER FORMAT (v1 carried no version prefix) must be
    // reported as a format mismatch with the re-save fix, never as
    // "different corpus" — the corpus may well match (advisor, round 18)
    val legacy = graft.WorkDirs.acquire("test_ivf_fp_v1").toString
    VectorIVF.saveIndex(trained, legacy,
      corpusFp = Some(fp.stripPrefix(VectorIVF.FingerprintVersion + ",")))
    val exFmt = intercept[IllegalArgumentException] {
      VectorIVF.loadIndex(spark, legacy, expectCorpusFp = Some(fp))
    }
    assert(exFmt.getMessage.contains("FORMAT"))
    assert(exFmt.getMessage.contains("re-save"))
    assert(!exFmt.getMessage.contains("DIFFERENT corpus"))
    // an UNSTAMPED artifact cannot prove anything: loud, not assumed
    val bare = graft.WorkDirs.acquire("test_ivf_bare").toString
    VectorIVF.saveIndex(trained, bare)
    val ex2 = intercept[IllegalArgumentException] {
      VectorIVF.loadIndex(spark, bare, expectCorpusFp = Some(fp))
    }
    assert(ex2.getMessage.contains("no corpus fingerprint"))
    // and with no expectation, both artifacts load as before (back-compat)
    assert(VectorIVF.loadIndex(spark, path).count() === 4)
    assert(VectorIVF.loadIndex(spark, bare).count() === 4)
    // the PQ codebook carries the same discipline
    val cb = graft.functions.VectorPQ.train(corpus, "vec_id", "embedding",
      dim = 8, m = 2, ksub = 4, iters = 1)
    val cbPath = graft.WorkDirs.acquire("test_pq_fp").toString
    graft.functions.VectorPQ.saveCodebook(spark, cb, cbPath, corpusFp = Some(fp))
    val cbLoaded = graft.functions.VectorPQ.loadCodebook(spark, cbPath,
      expectCorpusFp = Some(fp))
    assert(cbLoaded.map(_.map(_.toSeq).toSeq).toSeq ===
      cb.map(_.map(_.toSeq).toSeq).toSeq)
    val ex3 = intercept[IllegalArgumentException] {
      graft.functions.VectorPQ.loadCodebook(spark, cbPath,
        expectCorpusFp = Some(other))
    }
    assert(ex3.getMessage.contains("DIFFERENT corpus"))
    CacheRegistry.releaseAll()
  }

  test("standing PQ codebook: save/load round-trips; holes rejected loudly") {
    import spark.implicits._
    val corpus = (0 until 24).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 0.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val cb = graft.functions.VectorPQ.train(corpus, "vec_id", "embedding",
      dim = 8, m = 2, ksub = 4, iters = 1)
    val path = graft.WorkDirs.acquire("test_pq_cb").toString
    graft.functions.VectorPQ.saveCodebook(spark, cb, path)
    val loaded = graft.functions.VectorPQ.loadCodebook(spark, path)
    assert(loaded.map(_.map(_.toSeq).toSeq).toSeq ===
      cb.map(_.map(_.toSeq).toSeq).toSeq) // bit-exact round trip
    // encoding through the artifact equals encoding with the in-session
    // codebook — the whole point of persisting it
    def codes(c: Array[Array[Array[Double]]]) =
      graft.functions.VectorPQ.encode(corpus, "vec_id", "embedding",
          dim = 8, m = 2, ksub = 4, Some(c))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(loaded) === codes(cb))
    // a hole in the (sub, code) grid shifts every later codeword: refused
    val holey = graft.WorkDirs.acquire("test_pq_hole").toString
    spark.read.parquet(path).where(!(col("sub") === 1 && col("code") === 2))
      .write.mode("overwrite").parquet(holey)
    val ex = intercept[IllegalArgumentException] {
      graft.functions.VectorPQ.loadCodebook(spark, holey)
    }
    assert(ex.getMessage.contains("dense"))
    CacheRegistry.releaseAll()
  }
}

class DedupClusterSpec extends SparkSpec {

  test("label propagation finds connected components incl. chains") {
    import spark.implicits._
    // components: {1,2,3,9} via chain 9-3-2-1, {5,6}, pairs always a<b
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = MinHashLSH.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("clusters of identical docs collapse to the smallest doc id") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq((7L, text), (3L, text), (11L, text),
      (20L, "unrelated totally different words entirely here"))
      .toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDupPairs(df, "doc_id", "text")
    val got = MinHashLSH.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(3L -> 3L, 7L -> 3L, 11L -> 3L)) // 20 has no pairs
  }
}

class ByteFeaturesSpec extends SparkSpec {

  test("entropy: constant bytes 0, two equiprobable bytes 1 bit; top byte right") {
    import spark.implicits._
    val const = Array.fill[Byte](64)(7)
    val twoVal = (Array.fill[Byte](32)(1) ++ Array.fill[Byte](32)(2))
    val skew = (Array.fill[Byte](48)(9) ++ Array.fill[Byte](16)(3))
    val df = Seq((1L, const), (2L, twoVal), (3L, skew)).toDF("id", "blob")
    val got = Multimodal.byteFeatures(df, "id", "blob")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getInt(3))).toMap
    assert(got(1L) === ((64L, 0.0, 7)))
    assert(got(2L) === ((64L, 1.0, 1)))
    assert(got(3L)._3 === 9)
    assert(got(3L)._2 > 0.0 && got(3L)._2 < 1.0)
  }
}

class GraftSqlSpec extends SparkSpec {

  test("registered views + native function answer plain SQL") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    val n = spark.sql("SELECT count(*) FROM supplier").head().getLong(0)
    assert(n > 0)
    val d = spark.sql(
      "SELECT graft_dot(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>)) AS d FROM embeddings LIMIT 1")
      .head().getDouble(0)
    assert(d > 0.0)
    // SQL-level time predicate against the storage-typed ts column (µs
    // TIMESTAMP_NTZ in current testdata) — TIMESTAMP literals coerce
    val pushable = spark.sql(
      "SELECT count(*) FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'")
      .head().getLong(0)
    assert(pushable > 0)
  }

  test("graft_kmv in SQL + gram-cardinality and weighted-sample views") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    // the aggregate by its SQL name, over ad-hoc hashes
    val sk = spark.sql(
      """SELECT graft_kmv(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT), 8) AS s
         FROM documents""").head().getSeq[Long](0)
    assert(sk.length === 8 && sk === sk.sorted)
    val docs = graft.io.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sh3 = MinHashLSH.shingles(docs, "doc_id", "text", 3)
    Sketches.kmvDistinct(sh3, col("sh"), 64)
      .createOrReplaceTempView("gram_card")
    val est = spark.sql("SELECT est_distinct, n_sketch FROM gram_card").head()
    assert(est.getDouble(0) > 0.0 && est.getInt(1) === 64)
    Sampling.weightedSample(docs, "doc_id", "n_chars", "source", n = 3)
      .createOrReplaceTempView("wsample")
    val per = spark.sql(
      "SELECT source, count(*) AS n FROM wsample GROUP BY source").collect()
    assert(per.nonEmpty && per.forall(_.getLong(1) <= 3))
    // graft_cms by its SQL name + the gram-frequency gate view (d110)
    val cms = spark.sql(
      """SELECT graft_cms(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT), 2, 8) AS s
         FROM documents""").head().getSeq[Long](0)
    assert(cms.length === 16 && cms.sum > 0)
    Sketches.cmsTopFreq(sh3, col("sh"), depth = 4, width = 2048, topK = 5)
      .createOrReplaceTempView("gram_freq")
    val gf = spark.sql(
      "SELECT count(*) AS n, min(no_undercount) AS ok FROM gram_freq").head()
    assert(gf.getLong(0) === 5L && gf.getInt(1) === 1)
    // per-domain quantile summary view (d114)
    Sampling.quantilesByDomain(
        docs.select(col("source"), col("n_chars")), "source", "n_chars")
      .createOrReplaceTempView("qtiles")
    val qt = spark.sql(
      "SELECT count(*) AS n FROM qtiles WHERE p50 <= p90 AND p90 <= p99").head()
    assert(qt.getLong(0) > 0)
    // BM25 retrieval view (d125): ranked, rk dense from 1
    TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("spark", "table"),
        topK = 5)
      .createOrReplaceTempView("bm25_hits")
    val bm = spark.sql(
      "SELECT count(*) AS n, min(rk) AS lo, max(rk) AS hi FROM bm25_hits").head()
    assert(bm.getLong(0) === 5L && bm.getInt(1) === 1 && bm.getInt(2) === 5)
    // PageRank view (d126): symmetric 2-cycle fixpoint through plain SQL
    import spark.implicits._
    GraphOps.pageRank(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), "src", "dst")
      .createOrReplaceTempView("pr")
    val pr = spark.sql(
      "SELECT count(*) AS n, min(rank_ppb) AS lo, max(rank_ppb) AS hi FROM pr")
      .head()
    assert(pr.getLong(0) === 2L && pr.getLong(1) === 500000000L &&
      pr.getLong(2) === 500000000L)
    // RRF view (d127): single-list fusion preserves rank order
    val lst = Seq((7L, 1), (8L, 2)).toDF("id", "rank")
    Retrieval.rrfFuse(Seq("a" -> lst), "id", "rank")
      .createOrReplaceTempView("rrf_hits")
    val rf = spark.sql(
      "SELECT id FROM rrf_hits WHERE rk = 1").head()
    assert(rf.getLong(0) === 7L)
  }

  test("round-13 graph and meter views answer plain SQL") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val sym = tri.union(tri.select(tri("dst"), tri("src")))
    // k-core view (d136): triangle survives k=2, tail peels
    GraphOps.kCore(sym, "src", "dst", k = 2).createOrReplaceTempView("core")
    assert(spark.sql("SELECT count(*) AS n FROM core").head().getLong(0) === 3L)
    // communities view (d135): one clique collapses to one label
    GraphOps.labelPropagation(sym, "src", "dst").createOrReplaceTempView("comm")
    assert(spark.sql(
      "SELECT count(DISTINCT community) AS k FROM comm WHERE id <= 3")
      .head().getLong(0) === 1L)
    // modularity view (d139) over those communities
    GraphOps.modularity(tri, "src", "dst", spark.table("comm"), "id",
        "community")
      .createOrReplaceTempView("mq")
    assert(spark.sql("SELECT n_edges FROM mq").head().getLong(0) === 4L)
    // assortativity view (d144): star is exactly -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    GraphOps.degreeAssortativity(
        star.union(star.select(star("dst"), star("src"))), "src", "dst")
      .createOrReplaceTempView("ast")
    assert(spark.sql("SELECT r_micro FROM ast").head().getLong(0) === -1000000L)
    // entropy + MI + drift meters (d134/d138/d141)
    val df = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("dom", "other")
    Sampling.mixtureEntropy(df, "dom").createOrReplaceTempView("ent")
    // balanced 2-source mix: 2*round(0.5*ln2*1e6) = 693148 over the ln2
    // grid 693147 -> the documented 1-micro-nat overshoot
    assert(spark.sql("SELECT evenness_micro FROM ent").head()
      .getLong(0) === 1000001L)
    Sampling.mutualInformation(df, "dom", "other").createOrReplaceTempView("mi")
    assert(spark.sql("SELECT nmi_micro FROM mi").head().getLong(0) === 1000000L)
    Sampling.jensenShannon(df, df, "dom").createOrReplaceTempView("drift")
    assert(spark.sql("SELECT jsd2_micro FROM drift").head().getLong(0) === 0L)
    // embedding drift view (d143): identical sides -> zero shift
    val vecs = Seq((1L, Array(1.0f, -0.5f))).toDF("vec_id", "embedding")
    VectorOps.embeddingDrift(vecs, vecs, "embedding")
      .createOrReplaceTempView("edrift")
    assert(spark.sql(
      "SELECT max(abs(dmean_micro)) AS s FROM edrift").head().getLong(0) === 0L)
  }

  test("round-16 media-dedup and heavy-gram views answer plain SQL") {
    import spark.implicits._
    // phash dups view (d164): identical sketches pair at hamming 0, the
    // all-bits-differ sketch stays out
    val media = Seq((1L, 0L), (2L, 0L), (3L, -1L)).toDF("id", "ph")
    SimHash.hammingPairs(media, "id", "ph", width = 64)
      .createOrReplaceTempView("pdups")
    val pd = spark.sql("SELECT id_a, id_b, hamming FROM pdups").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pd === Seq((1L, 2L, 0)))
    CacheRegistry.releaseAll()
    // heavy-gram drift view (d165) from a real two-dump catalog: the
    // gram owned by every release-B doc surges by exactly B's doc count
    // (its A-side CMS estimate is 0 — eight distinct grams cannot
    // collide across all four sketch rows)
    val a = (0 until 4).map(i => (i.toLong, s"a b c p$i"))
      .toDF("doc_id", "text")
    val b = (0 until 4).map(i => (10L + i, s"x y z p$i"))
      .toDF("doc_id", "text")
    val path = graft.WorkDirs.acquire("test_sql_heavy").toString
    graft.functions.CorpusCatalog.append(a, "doc_id", "text", path, "ra",
      topGrams = Some(2))
    graft.functions.CorpusCatalog.append(b, "doc_id", "text", path, "rb",
      topGrams = Some(2))
    CorpusCatalog.heavyGramDrift(spark, path, "ra", "rb")
      .createOrReplaceTempView("hsurge")
    assert(spark.sql("SELECT max(surge) AS s FROM hsurge").head()
      .getLong(0) === 4L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM hsurge WHERE in_top_a = 1 AND in_top_b = 1")
      .head().getLong(0) === 0L) // disjoint vocabularies share no top gram
  }

  test("scd2 + funnel views answer plain SQL") {
    import spark.implicits._
    val log = Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (2L, 5L, 3L, "x"))
      .toDF("k", "t", "o", "v")
    // default openEnd is NULL (type-correct for any ts type); numeric
    // epochs can opt into the -1 sentinel explicitly
    graft.ops.Scd2.fromLog(log, "k", "t", "o", "v")
      .createOrReplaceTempView("hist")
    val ivNull = spark.sql(
      "SELECT count(*) FROM hist WHERE eff_to IS NULL").head().getLong(0)
    assert(ivNull === 2) // one open tail per key
    graft.ops.Scd2.fromLog(log, "k", "t", "o", "v", openEnd = lit(-1L))
      .createOrReplaceTempView("hist")
    val iv = spark.sql(
      "SELECT count(*) FROM hist WHERE eff_to = -1").head().getLong(0)
    assert(iv === 2)
    val ev = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"), (2L, 5L, "b"))
      .toDF("u", "t", "ty")
    graft.ops.Funnel.conversion(ev, "u", "t", "ty", Seq("a", "b", "c"))
      .createOrReplaceTempView("funnel")
    val conv = spark.sql(
      "SELECT u, steps_reached FROM funnel ORDER BY u").collect()
    assert(conv.map(r => (r.getLong(0), r.getInt(1))).toSeq ===
      Seq((1L, 3), (2L, 0)))
  }

  test("temperature-mix and skyline views answer plain SQL") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, if (i <= 400) "a" else "b"))
      .toDF("id", "dom")
    Sampling.temperatureMix(df, "id", "dom", temperature = 2.0)
      .createOrReplaceTempView("tmix")
    val rates = spark.sql(
      "SELECT dom, max(rate) AS r FROM tmix GROUP BY dom ORDER BY dom")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rates.toSeq === Seq(("a", 0.5), ("b", 1.0)))
    val pts = Seq((1L, 1.0, 10L), (2L, 2.0, 8L), (3L, 0.5, 9L))
      .toDF("id", "x", "y")
    graft.ops.Skyline.skyline2D(pts, "x", "y").createOrReplaceTempView("sky")
    val ids = spark.sql("SELECT id FROM sky ORDER BY id").collect()
      .map(_.getLong(0))
    assert(ids.toSeq === Seq(1L, 2L)) // (0.5, 9) dominated by (1, 10)
    val dpts = Seq((1L, "a", 1.0, 10L), (2L, "a", 2.0, 8L),
      (3L, "b", 0.5, 9L)).toDF("id", "dom", "x", "y")
    graft.ops.Skyline.skylineByDomain(dpts, "dom", "x", "y")
      .createOrReplaceTempView("skyd")
    val perDom = spark.sql("SELECT id FROM skyd ORDER BY id").collect()
      .map(_.getLong(0))
    assert(perDom.toSeq === Seq(1L, 2L, 3L)) // b's lone point survives
  }

  test("enrich-as-of view answers plain SQL against the scd2 view's shape") {
    import spark.implicits._
    val log = Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (2L, 5L, 3L, "x"))
      .toDF("k", "t", "o", "v")
    val hist = graft.ops.Scd2.fromLog(log, "k", "t", "o", "v")
      .select(col("k").as("dim_k"), col("v").as("dim_v"),
        col("eff_from"), col("eff_to"))
    val ev = Seq((1L, 15L), (1L, 25L), (2L, 7L), (2L, 1L)).toDF("k", "ts")
    graft.streaming.IntervalStream.enrichAsOf(ev, hist,
        col("k") === col("dim_k"), "ts")
      .createOrReplaceTempView("enriched")
    val got = spark.sql(
      "SELECT k, ts, dim_v FROM enriched ORDER BY k, ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // t=15 falls in [10,20) -> "a"; t=25 in the open tail -> "b";
    // t=7 in key 2's open tail -> "x"; t=1 precedes every interval -> no row
    assert(got === Seq((1L, 15L, "a"), (1L, 25L, "b"), (2L, 7L, "x")))
  }

  test("dsir_weights + documents_calibrated views answer plain SQL") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    val w = spark.sql(
      "SELECT count(*) FROM dsir_weights WHERE logw IS NOT NULL")
      .head().getLong(0)
    assert(w > 0)
    val c = spark.sql("SELECT min(pct), max(pct) FROM documents_calibrated").head()
    assert(c.getDouble(0) === 0.0 && c.getDouble(1) === 1.0)
    graft.CacheRegistry.releaseAll()
  }

  test("documents_scored view serves the pipeline columns to plain SQL") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    val rows = spark.sql(
      """SELECT split, count(*) AS n, round(avg(quality), 4) AS q
         FROM documents_scored
         WHERE n_tokens > 0 AND lang_pred IN ('en', 'und')
         GROUP BY split""").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // the view is a lazy projection: the doc_id filter still prunes the scan
    val plan = spark.sql("SELECT fingerprint FROM documents_scored WHERE doc_id = 3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"))
  }

  test("contamination_pairs view reaches similarPairsAcross from plain SQL") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    val df = spark.sql(
      "SELECT doc_a, doc_b, jaccard FROM contamination_pairs WHERE jaccard >= 0.8")
    assert(df.columns.toSeq === Seq("doc_a", "doc_b", "jaccard"))
    val rows = df.collect() // sf0.001 has few (possibly zero) cross-split dups
    assert(rows.forall(_.getDouble(2) >= 0.8))
    graft.CacheRegistry.releaseAll()
  }

  test("round-8 views: decontam_ngram_hits and semdedup_flags from SQL") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    val hits = spark.sql(
      "SELECT doc_id, n_grams, n_hits, hit_ratio FROM decontam_ngram_hits")
      .collect()
    assert(hits.nonEmpty) // every held-out doc with >= 13 words reports
    assert(hits.forall(r => r.getLong(2) <= r.getLong(1)))
    val kept = spark.sql(
      "SELECT count(*) FROM semdedup_flags WHERE NOT is_dup").head().getLong(0)
    val all = spark.sql("SELECT count(*) FROM semdedup_flags").head().getLong(0)
    assert(kept > 0 && kept <= all)
    graft.CacheRegistry.releaseAll()
  }

  test("round-9 views: n_bpe, dup_spans, packed_sequences from SQL") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    // BPE counts ride documents_scored; every token merges, so n_bpe <=
    // non-space char count and >= whitespace token count
    val bpe = spark.sql(
      "SELECT n_tokens, n_bpe, CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars FROM documents_scored WHERE text IS NOT NULL")
      .collect()
    assert(bpe.nonEmpty)
    assert(bpe.forall(r => r.getLong(1) <= r.getLong(2) && r.getLong(1) >= r.getInt(0)))
    // dup_spans: well-formed extents only (sf0.001 may have zero dups)
    val spans = spark.sql(
      """SELECT doc_id, CAST(span_start AS BIGINT) AS s, CAST(span_end AS BIGINT) AS e, n_grams
         FROM dup_spans""").collect()
    assert(spans.forall(r => r.getLong(1) <= r.getLong(2) && r.getLong(3) >= 1L))
    // packed_sequences: the d41 composition reachable from plain SQL,
    // with token mass conserved across the packing
    val chunks = TextAnalysis.chunk(spark.table("documents"), "doc_id", "text",
      maxTokens = 32)
    TextAnalysis.packSequencesAcross(chunks, "doc_id", seqTokens = 128,
        numGroups = 8)
      .createOrReplaceTempView("packed_sequences")
    val packed = spark.sql(
      """SELECT sum(n_tokens) AS mass, count(*) AS n,
           min(size(chunks)) AS minc, min(length(seq_text)) AS minlen
         FROM packed_sequences""").head()
    val docMass = spark.sql(
      "SELECT sum(size(split(text, ' '))) FROM documents WHERE text IS NOT NULL AND size(split(text, ' ')) >= 1")
      .head().getLong(0)
    assert(packed.getLong(1) > 0 && packed.getInt(2) >= 1 && packed.getInt(3) > 0)
    assert(packed.getLong(0) === docMass)
  }

  test("mixing views: epoch_mix and budget_mix from plain SQL") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    Sampling.epochMix(spark.table("documents"), "doc_id", "source",
        Map("src1" -> 2.0, "src2" -> 0.0))
      .createOrReplaceTempView("train_mix")
    val mix = spark.sql(
      """SELECT source, count(*) AS n, count(DISTINCT doc_id) AS d
         FROM train_mix GROUP BY source""").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(mix("src1")._1 === 2 * mix("src1")._2)   // weight 2: every doc twice
    assert(!mix.contains("src2"))                   // weight 0 drops
    Sampling.tokenBudgetMix(spark.table("documents"), "doc_id", "source",
        "text", 10000L, Map("src1" -> 0.5, "src3" -> 0.5))
      .createOrReplaceTempView("budget_mix")
    val doms = spark.sql("SELECT DISTINCT source FROM budget_mix").collect()
      .map(_.getString(0)).toSet
    assert(doms.subsetOf(Set("src1", "src3")) && doms.nonEmpty)
  }

  test("round-9b views: gopher_keep column, matched mix, canonical docs") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    // gopher_keep rides documents_scored as a lazy boolean column
    val g = spark.sql(
      "SELECT count(*) AS n, count(CASE WHEN gopher_keep THEN 1 END) AS k FROM documents_scored")
      .head()
    assert(g.getLong(0) > 0 && g.getLong(1) <= g.getLong(0))
    // matched mix: only listed domains survive, rate attached
    Sampling.matchDistribution(spark.table("documents"), "doc_id", "lang",
        Map("en" -> 0.6, "de" -> 0.4))
      .createOrReplaceTempView("matched_mix")
    val doms = spark.sql(
      "SELECT DISTINCT lang FROM matched_mix").collect().map(_.getString(0)).toSet
    assert(doms.subsetOf(Set("en", "de")) && doms.nonEmpty)
    assert(spark.sql("SELECT min(rate) FROM matched_mix").head().getDouble(0) > 0.0)
    // canonical docs: every doc labeled, keeps form a per-cluster argmax
    val docs = spark.table("documents")
    val pairs = MinHashLSH.nearDupPairs(docs, "doc_id", "text")
      .where(col("jaccard") >= 0.5)
    MinHashLSH.canonicalByQuality(docs, "doc_id",
        TextAnalysis.qualityScore(col("text")), MinHashLSH.clusters(pairs))
      .createOrReplaceTempView("canonical_docs")
    val c = spark.sql(
      """SELECT count(*) AS n, count(CASE WHEN keep THEN 1 END) AS k,
           count(DISTINCT cluster) AS cl FROM canonical_docs""").head()
    val total = spark.sql("SELECT count(*) FROM documents").head().getLong(0)
    assert(c.getLong(0) === total)
    assert(c.getLong(1) === c.getLong(2)) // exactly one keeper per cluster
    graft.CacheRegistry.releaseAll()
  }

  test("registerClusterMix and registerBpeTokens serve the d57/d56 shapes") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    val cells = VectorIVF.assign(spark.table("embeddings"), "vec_id",
        "embedding", VectorIVF.mdCentroids(spark, 8, 64), "cell_id", "cvec")
      .withColumn("cell", col("cell").cast("string"))
    Sampling.matchDistribution(cells, "vec_id", "cell",
        (0 until 8).map(c => c.toString -> 1.0 / 8).toMap)
      .createOrReplaceTempView("cluster_mix")
    val cm = spark.sql(
      """SELECT count(DISTINCT cell) AS cells, count(*) AS n, min(rate) AS r
         FROM cluster_mix""").head()
    assert(cm.getLong(0) >= 1L && cm.getLong(1) >= cm.getLong(0))
    assert(cm.getDouble(2) > 0.0)
    spark.table("documents").select(col("doc_id"),
        TextAnalysis.bpeTokenIds(col("text")).as("token_ids"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
      .createOrReplaceTempView("bpe_tokens")
    val bt = spark.sql(
      """SELECT count(*) AS n,
           count(CASE WHEN size(token_ids) = n_bpe THEN 1 END) AS agree
         FROM bpe_tokens""").head()
    // the extraction path and the count path agree on every doc
    assert(bt.getLong(0) > 0 && bt.getLong(1) === bt.getLong(0))
    // lazy projection: id filters still prune the scan
    val plan = spark.sql("SELECT n_bpe FROM bpe_tokens WHERE doc_id = 3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"))
  }

  test("registerSemanticDecon and registerIvfCells serve the d81/d84 shapes") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions.col
    val e = spark.table("embeddings")
    VectorOps.semanticDecontaminate(e.where(col("vec_id") >= 20),
        e.where(col("vec_id") < 20), "vec_id", "embedding", threshold = 0.35)
      .createOrReplaceTempView("semantic_decon")
    val sd = spark.sql(
      "SELECT count(*) AS n, min(bench_hits) AS mn FROM semantic_decon").head()
    // every flagged row carries at least one hit; no bench ids leak in
    if (sd.getLong(0) > 0) assert(sd.getLong(1) >= 1L)
    assert(spark.sql(
      "SELECT count(*) FROM semantic_decon WHERE vec_id < 20").head().getLong(0) === 0L)
    VectorIVF.assign(e, "vec_id", "embedding",
        VectorIVF.mdCentroids(spark, 8, 64), "cell_id", "cvec")
      .createOrReplaceTempView("ivf_cells")
    val ic = spark.sql(
      """SELECT count(*) AS n, count(DISTINCT cell) AS cells,
           min(cell) AS lo, max(cell) AS hi FROM ivf_cells""").head()
    assert(ic.getLong(0) === e.count())
    assert(ic.getLong(1) >= 1L && ic.getInt(2) >= 0 && ic.getInt(3) <= 7)
    // contrastive pairs view (d116): per anchor at most kPos positives
    // and kNeg negatives, ranks contiguous from 1 per (anchor, side)
    VectorOps.contrastivePairs(e.where(col("vec_id") < 5), e, "vec_id",
        "embedding", "label", kPos = 2, kNeg = 3)
      .createOrReplaceTempView("cpairs")
    val cp = spark.sql(
      """SELECT max(CASE WHEN is_pos = 1 THEN rank ELSE 0 END) AS maxp,
           max(CASE WHEN is_pos = 0 THEN rank ELSE 0 END) AS maxn,
           count(DISTINCT anchor_id) AS anchors FROM cpairs""").head()
    assert(cp.getInt(0) <= 2 && cp.getInt(1) <= 3 && cp.getLong(2) === 5L)
  }

  test("registerSessions serves the q39 rollup to plain SQL") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    graft.ops.Sessionize.rollup(spark.table("events"), gapMinutes = 30)
      .createOrReplaceTempView("sessions")
    val rows = spark.sql(
      """SELECT user_id, count(*) AS n_sessions, max(n_events) AS biggest
         FROM sessions GROUP BY user_id ORDER BY user_id""").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) >= 1L))
    // a tighter gap can only split sessions further
    val n30 = spark.sql("SELECT count(*) FROM sessions").head().getLong(0)
    graft.ops.Sessionize.rollup(spark.table("events"), gapMinutes = 5)
      .createOrReplaceTempView("sessions")
    val n5 = spark.sql("SELECT count(*) FROM sessions").head().getLong(0)
    assert(n5 >= n30)
  }

  test("contamination_pairs threshold and held-out split are parameters") {
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001")
    val nDefault = spark.sql("SELECT count(*) FROM contamination_pairs")
      .head().getLong(0)
    // re-register at a looser threshold: the pair set can only grow
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001",
      contaminationThreshold = 0.5)
    val loose = spark.sql("SELECT jaccard FROM contamination_pairs").collect()
    assert(loose.length >= nDefault)
    assert(loose.forall(_.getDouble(0) >= 0.5))
    // held-out split is selectable too — the view still answers SQL
    graft.sql.GraftSql.register(spark, "/root/testdata/sf0.001",
      contaminationThreshold = 0.5, heldOutSplit = "val")
    val cols = spark.sql("SELECT * FROM contamination_pairs").columns.toSeq
    assert(cols === Seq("doc_a", "doc_b", "jaccard"))
    graft.CacheRegistry.releaseAll()
  }

  test("registerUpdateHistory serves the composed history to plain SQL") {
    import spark.implicits._
    val args = Seq((1, Fixtures.Src, Fixtures.Dst, ""), (6, Fixtures.Src, Fixtures.Dst, ""))
      .toDF("uevol_field_id", "src_id", "dst_id", "filter")
    graft.queries.UpdateHistory.updateHistoryFromLog(
        Fixtures.instanceField(spark), Fixtures.uevolField(spark),
        Some(Fixtures.snapshotCatalog(spark)), Fixtures.snapshots(spark)(_),
        args, 100L, 150L)
      .createOrReplaceTempView("field_history")
    val got = spark.sql(
      """SELECT instance_message_id, id1_src10_dst20 AS f1, id6_src10_dst20 AS f6
         FROM field_history WHERE instance_message_id >= 120""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((120L, 12L, 8L), (130L, 12L, 62L)))
  }
}

class ExtensionsSpec extends SparkSpec {

  private val graftFunctions = Seq("graft_dot", "graft_l2", "graft_pq_encode",
    "graft_shingles", "graft_entropy", "graft_grams", "graft_char_census",
    "graft_intersect_count", "graft_round_ratio", "graft_kmv", "graft_cms",
    "graft_countsketch")

  test("GraftExtensions applies cleanly; imperative registration covers SQL") {
    // spark.sql.extensions is a STATIC conf — it only takes effect on a
    // fresh JVM/SparkContext, so the config path can't run inside the
    // shared test session. Verify the extension object itself applies
    // without error, and that the equivalent imperative registration makes
    // the function resolvable from SQL (the path the library actually uses
    // under the harness-owned session).
    new graft.plans.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    graft.plans.GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
      .head().getDouble(0) === 11.0)
  }

  test("GraftSql.register resolves every graft_* function on a fresh session") {
    val fresh = spark.newSession()
    graft.sql.GraftSql.register(fresh, "/root/testdata/sf0.001")
    val missing = graftFunctions.filterNot(n => fresh.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered: $missing")
  }

  test("GraftExtensions injects every graft_* function") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val registry = org.apache.spark.sql.ExtensionsProbe.injectedFunctions(ext)
    val missing = graftFunctions.filterNot(n => registry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected: $missing")
  }

  test("builders reject bad arity / non-literal n with a clear message") {
    // Both registration paths (runtime registry and GraftExtensions) read
    // the one GraftFunctions table of guarded builders, so pinning the
    // registry path pins the extensions path too: a one-arg call or a
    // non-literal n must die with the require message, not
    // IndexOutOfBounds or an eval error.
    graft.plans.GraftFunctions.register(spark)
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_shingles(array('a','b'))").collect()
    }
    assert(e1.getMessage.contains("expects 2 arguments"), e1.getMessage)
    // foldable-but-not-literal n (e.g. length('xy')) is fine — the guard
    // rejects only a genuinely non-foldable n, i.e. a column reference
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_shingles(array('a'), id) FROM range(1)").collect()
    }
    assert(e3.getMessage.contains("must be a literal"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0d))").collect()
    }
    assert(e4.getMessage.contains("expects 2 arguments"), e4.getMessage)
  }
}

class ClusterGuardSpec extends SparkSpec {

  test("clusters throws instead of returning unconverged labels") {
    import spark.implicits._
    // chain 1-2-3-4-5: needs more than 1 propagation round
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      MinHashLSH.clusters(pairs, maxIter = 1).collect()
    }
    // and with enough rounds it converges to the component min
    val ok = MinHashLSH.clusters(pairs, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet === Set(1L))
  }

  test("clusters on an empty pair set returns empty, not NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(MinHashLSH.clusters(empty).count() === 0)
  }

  test("deep chain converges across localCheckpoint rounds (bounded lineage)") {
    import spark.implicits._
    // path graph 0-1-2-...-14: diameter 14, so propagation runs well past
    // the checkpoint cadence (every 5 rounds) — exercises the truncated-
    // lineage path end to end and proves labels survive the checkpoint.
    val pairs = (0L until 14L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = MinHashLSH.clusters(pairs, maxIter = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 15)
    assert(got.values.toSet === Set(0L))
  }
}

class HeaderCodecSpec extends SparkSpec {

  private def bmp(width: Int, height: Int, bitCount: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54) // file header
    b.putInt(40).putInt(width).putInt(height)                        // BITMAPINFOHEADER
    b.putShort(1).putShort(bitCount.toShort)
    b.array()
  }

  private def wav(channels: Int, rate: Int, bits: Int, dataSize: Int): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
      .putShort(channels.toShort).putInt(rate).putInt(rate * blockAlign)
      .putShort(blockAlign.toShort).putShort(bits.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    b.array()
  }

  private def png(width: Int, height: Int, colorType: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(29) // big-endian by default
    b.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    b.putInt(13).put("IHDR".getBytes("US-ASCII"))
    b.putInt(width).putInt(height).put(8.toByte).put(colorType.toByte)
    b.put(0.toByte).put(0.toByte).put(0.toByte)
    b.array()
  }

  private def gif(width: Int, height: Int, frames: Int,
                  withExtension: Boolean = false): Array[Byte] = {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(bytes(width & 0xFF, width >> 8, height & 0xFF, height >> 8,
      0, 0, 0))
    if (withExtension) // graphic-control extension with one 4-byte block
      out.write(bytes(0x21, 0xF9, 0x04, 0, 0, 0, 0, 0))
    (0 until frames).foreach { _ =>
      // descriptor (1x1, no local table) + LZW min + 1-byte sub-block
      out.write(bytes(0x2C, 0, 0, 0, 0, 1, 0, 1, 0, 0, 2, 1, 0x44, 0))
    }
    out.write(0x3B)
    out.toByteArray
  }

  test("PNG IHDR and GIF block walk decode through the same seam") {
    import spark.implicits._
    val df = Seq(
      (1L, png(800, 600, 2)),                    // truecolor -> 3 channels
      (2L, png(32, 32, 6)),                      // RGBA -> 4
      (3L, gif(100, 50, frames = 3)),
      (4L, gif(10, 10, frames = 1, withExtension = true)))
      .toDF("id", "blob")
    val got = Multimodal.decode(df, "id", "blob", Multimodal.HeaderCodec)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got(1L) === ((800, 600, 3, 1)))
    assert(got(2L) === ((32, 32, 4, 1)))
    assert(got(3L) === ((100, 50, 1, 3)))
    assert(got(4L) === ((10, 10, 1, 1))) // the extension is not a frame
  }

  test("malformed PNG/GIF throw IllegalArgumentException") {
    def iae(b: Array[Byte]): Unit = {
      val e = intercept[IllegalArgumentException](
        Multimodal.HeaderCodec.decode(b))
      assert(e.isInstanceOf[IllegalArgumentException])
    }
    iae(png(8, 8, 5))                       // invalid color type
    iae(png(8, 8, 2).take(20))              // truncated IHDR
    iae(gif(4, 4, 1).dropRight(2))          // missing terminator -> truncated
    iae(gif(4, 4, 0))                       // no image frames
    val badBlock = gif(4, 4, 1)
    badBlock(13) = 0x7E.toByte              // unknown block introducer
    iae(badBlock)
  }

  private def jpeg(width: Int, height: Int, nComp: Int, sofMarker: Int = 0xC0,
                   fillBytes: Int = 0, comPayload: Int = 0): Array[Byte] = {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(bytes(0xFF, 0xD8)) // SOI
    out.write(bytes(0xFF, 0xE0, 0x00, 0x10)) // APP0 "JFIF"
    out.write("JFIF".getBytes("US-ASCII")); out.write(bytes(0, 1, 2, 0, 0, 1, 0, 1, 0, 0))
    out.write(bytes(0xFF, 0xFE)) // COM with comPayload bytes
    out.write(bytes((comPayload + 2) >> 8, (comPayload + 2) & 0xFF))
    (0 until comPayload).foreach(_ => out.write('A'))
    (0 until fillBytes).foreach(_ => out.write(0xFF)) // legal marker padding
    val len = 8 + 3 * nComp
    out.write(bytes(0xFF, sofMarker, len >> 8, len & 0xFF, 8,
      height >> 8, height & 0xFF, width >> 8, width & 0xFF, nComp))
    (1 to nComp).foreach(c => out.write(bytes(c, 0x11, 0)))
    out.toByteArray
  }

  test("JPEG SOF walk decodes baseline and progressive through the seam") {
    import spark.implicits._
    val df = Seq(
      (1L, jpeg(1024, 768, 3)),                          // SOF0 YCbCr
      (2L, jpeg(640, 480, 1, sofMarker = 0xC2)),         // SOF2 grayscale
      (3L, jpeg(65535, 1, 4, sofMarker = 0xC1)),         // SOF1, CMYK, max dim
      (4L, jpeg(12, 34, 3, fillBytes = 3, comPayload = 7))) // padding + COM skip
      .toDF("id", "blob")
    val got = Multimodal.decode(df, "id", "blob", Multimodal.HeaderCodec)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got(1L) === ((1024, 768, 3, 1)))
    assert(got(2L) === ((640, 480, 1, 1)))
    assert(got(3L) === ((65535, 1, 4, 1)))
    assert(got(4L) === ((12, 34, 3, 1)))
  }

  test("malformed JPEG throws IllegalArgumentException, never index errors") {
    def iae(b: Array[Byte]): Unit =
      intercept[IllegalArgumentException](Multimodal.HeaderCodec.decode(b))
    iae(jpeg(8, 8, 3).dropRight(4))         // truncated SOF payload
    iae(jpeg(8, 8, 3).take(20))             // truncated inside APP0
    iae(Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte))       // EOI before SOF
    iae(Array(0xFF, 0xD8, 0xFF, 0xDA, 0x00, 0x04).map(_.toByte)) // SOS first
    iae(Array(0xFF, 0xD8, 0xFF, 0xFE, 0x00, 0x01).map(_.toByte)) // length < 2
    iae(Array(0xFF, 0xD8, 0xFF, 0xFE, 0x40, 0x00).map(_.toByte)) // overrun
    iae(Array(0xFF, 0xD8, 0xFF, 0x00, 0x12).map(_.toByte))  // stuffed FF00
    iae(jpeg(0, 8, 3))                      // degenerate zero width
    // DHT (0xC4) is in the 0xC0..0xCF range but is NOT a frame header: it
    // must be skipped, and this stream then ends with no SOF.
    iae(Array(0xFF, 0xD8, 0xFF, 0xC4, 0x00, 0x02).map(_.toByte))
  }

  test("real header codec decodes BMP and WAV through the mapPartitions seam") {
    import spark.implicits._
    val df = Seq(
      (1L, bmp(640, 480, 24)),
      (2L, bmp(1920, -1080, 32)),            // top-down BMP: negative height
      (3L, wav(2, 44100, 16, dataSize = 400)))
      .toDF("id", "blob")
    val got = Multimodal.decode(df, "id", "blob", Multimodal.HeaderCodec)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got(1L) === ((640, 480, 3, 1)))
    assert(got(2L) === ((1920, 1080, 4, 1)))
    // 400 data bytes / 4-byte frames = 100 sample frames
    assert(got(3L) === ((44100, 16, 2, 100)))
  }

  test("malformed blobs throw IllegalArgumentException, never index errors") {
    // RIFF chunk size near 2^31: unsigned in the spec, would flip the walk
    // offset negative if read signed — must surface as the decoder's
    // documented IllegalArgumentException, not ArrayIndexOutOfBounds.
    val evil = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes("US-ASCII")).putInt(56)
      .put("WAVE".getBytes("US-ASCII"))
    evil.put("junk".getBytes("US-ASCII")).putInt(0x80000010) // "size" 2^31+16
    intercept[IllegalArgumentException] {
      Multimodal.HeaderCodec.decode(evil.array())
    }
    // A chunk whose (sane) size overruns the blob is also a require, not
    // a truncated-read crash on the next iteration.
    val overrun = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    overrun.put("RIFF".getBytes("US-ASCII")).putInt(16)
      .put("WAVE".getBytes("US-ASCII"))
    overrun.put("fmt ".getBytes("US-ASCII")).putInt(1000)
    intercept[IllegalArgumentException] {
      Multimodal.HeaderCodec.decode(overrun.array())
    }
    // OS/2 BITMAPCOREHEADER (header size 12, 16-bit dims): 'BM' magic
    // passes but the INFOHEADER field offsets don't apply — reject rather
    // than decode garbage dimensions.
    val core = java.nio.ByteBuffer.allocate(26)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    core.put('B'.toByte).put('M'.toByte).putInt(26).putInt(0).putInt(26)
    core.putInt(12).putShort(640).putShort(480).putShort(1).putShort(24)
    intercept[IllegalArgumentException] {
      Multimodal.HeaderCodec.decode(core.array())
    }
  }

  // --- MP4 / ISO-BMFF -------------------------------------------------

  private def mp4Box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + payload.length)
    b.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
    b.array()
  }

  private def mvhd(timescale: Int, duration: Long, v1: Boolean = false): Array[Byte] =
    if (v1) {
      val b = java.nio.ByteBuffer.allocate(32)
      b.putInt(0x01000000)          // version 1, zero flags
      b.putLong(0L).putLong(0L)     // creation/modification (64-bit)
      b.putInt(timescale).putLong(duration)
      mp4Box("mvhd", b.array())
    } else {
      val b = java.nio.ByteBuffer.allocate(20)
      b.putInt(0)                   // version 0, zero flags
      b.putInt(0).putInt(0)         // creation/modification
      b.putInt(timescale).putInt(duration.toInt)
      mp4Box("mvhd", b.array())
    }

  private def trak(width: Int, height: Int, v1: Boolean = false): Array[Byte] = {
    val payloadLen = if (v1) 96 else 84
    val b = java.nio.ByteBuffer.allocate(payloadLen)
    b.putInt(if (v1) 0x01000000 else 0) // version byte drives the dim offset
    b.position(payloadLen - 8)
    b.putInt(width << 16).putInt(height << 16) // 16.16 fixed point
    mp4Box("trak", mp4Box("tkhd", b.array()))
  }

  private val ftyp = mp4Box("ftyp", "isom   ".getBytes("US-ASCII"))

  test("MP4 box walk: v0/v1 headers, largesize, size-0 box, audio trak") {
    import spark.implicits._
    // m1: plain v0 — ftyp, a skipped free box, moov{mvhd, video trak}
    val m1 = ftyp ++ mp4Box("free", Array.emptyByteArray) ++
      mp4Box("moov", mvhd(1000, 5000) ++ trak(1280, 720))
    // m2: v1 mvhd + v1 tkhd, audio trak (0x0 dims) BEFORE the video trak —
    // dims must come from the first NONZERO track, channels = trak count
    val m2 = ftyp ++ mp4Box("moov",
      mvhd(600, 600L * 42, v1 = true) ++ trak(0, 0) ++ trak(320, 240, v1 = true))
    // m3: a 16-byte largesize free box (size32 == 1, 64-bit size follows)
    // and a size-0 moov that runs to the end of the blob
    val large = {
      val b = java.nio.ByteBuffer.allocate(16)
      b.putInt(1).put("free".getBytes("US-ASCII")).putLong(16L)
      b.array()
    }
    val moovZero = {
      val inner = mvhd(10, 70) ++ trak(64, 48)
      val b = java.nio.ByteBuffer.allocate(8 + inner.length)
      b.putInt(0).put("moov".getBytes("US-ASCII")).put(inner)
      b.array()
    }
    val m3 = ftyp ++ large ++ moovZero
    val df = Seq((1L, m1), (2L, m2), (3L, m3)).toDF("id", "blob")
    val got = Multimodal.decode(df, "id", "blob", Multimodal.HeaderCodec)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(got(1L) === ((1280, 720, 1, 5)))
    assert(got(2L) === ((320, 240, 2, 42)))
    assert(got(3L) === ((64, 48, 1, 7)))
  }

  test("malformed MP4 throws IllegalArgumentException, never index errors") {
    def iae(b: Array[Byte]): Unit =
      intercept[IllegalArgumentException](Multimodal.HeaderCodec.decode(b))
    iae(ftyp)                                           // no moov at all
    iae(ftyp ++ mp4Box("moov", trak(8, 8)))             // moov without mvhd
    iae(ftyp ++ mp4Box("moov", mvhd(1000, 1000)))       // moov without trak
    iae(ftyp ++ mp4Box("moov", mvhd(0, 1000) ++ trak(8, 8))) // zero timescale
    // box size overruns its container
    val overrun = ftyp.clone(); overrun(3) = 0x7F.toByte
    iae(overrun)
    // box size smaller than its own 8-byte header
    val tiny = ftyp.clone(); tiny(3) = 4.toByte
    iae(tiny)
    // truncated v1 tkhd: version byte says 96-byte layout, payload is 84
    val badTkhd = {
      val b = java.nio.ByteBuffer.allocate(84); b.putInt(0x01000000)
      mp4Box("trak", mp4Box("tkhd", b.array()))
    }
    iae(ftyp ++ mp4Box("moov", mvhd(1000, 1000) ++ badTkhd))
    // truncated largesize: size32 == 1 but fewer than 16 header bytes
    iae(ftyp ++ Array[Byte](0, 0, 0, 1, 'f', 'r', 'e', 'e'))
  }

  test("header codec agrees with the magic-byte sniffer; strict on junk") {
    import spark.implicits._
    val df = Seq((1L, wav(1, 8000, 8, 16))).toDF("id", "blob")
    val ct = Multimodal.metadata(df, "id", "blob").head().getAs[String]("content_type")
    assert(ct === "audio/wav")
    intercept[IllegalArgumentException] {
      Multimodal.HeaderCodec.decode("not media at all".getBytes("US-ASCII"))
    }
  }
}

class DecodeEarlyStopSpec extends SparkSpec {

  test("decode survives an early-stopping consumer (limit)") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, s"payload $i".getBytes)).toDF("id", "blob")
    val one = Multimodal.decode(df, "id", "blob").limit(1).collect()
    assert(one.length === 1)
  }
}

class PiiSpec extends SparkSpec {

  test("per-class counts over raw text; unknown class throws") {
    import spark.implicits._
    val df = Seq((1L,
      "mail a@b.co and c@d.org, ip 10.0.0.1, call 555-123-4567 or " +
        "555.123.4567, ssn 123-45-6789"))
      .toDF("id", "text")
    val r = df.select(
      TextAnalysis.piiCount(col("text"), "email").as("e"),
      TextAnalysis.piiCount(col("text"), "ipv4").as("i"),
      TextAnalysis.piiCount(col("text"), "phone").as("p"),
      TextAnalysis.piiCount(col("text"), "ssn").as("s")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 1L, 2L, 1L)))
    intercept[IllegalArgumentException] {
      TextAnalysis.piiCount(col("text"), "iban")
    }
  }

  test("redaction order is load-bearing: email claims a dotted-quad domain whole") {
    import spark.implicits._
    val df = Seq((1L, "admin root@10.0.0.99.com here, ping 10.0.0.7"))
      .toDF("id", "text")
    val got = df.select(TextAnalysis.redactPii(col("text")).as("r"))
      .head().getString(0)
    assert(got === "admin <EMAIL> here, ping <IP>")
    // the REVERSED order half-claims the email's domain — the documented
    // reason PiiPatterns applies emails before the numeric classes
    val reversed = TextAnalysis.PiiPatterns.reverse.foldLeft(col("text")) {
      case (t, (_, p, repl)) => regexp_replace(t, p, repl)
    }
    val bad = df.select(reversed.as("r")).head().getString(0)
    assert(bad.contains("root@<IP>.com"))
  }
}

class UnigramLogProbSpec extends SparkSpec {

  test("closed-form smoothed log-likelihood on a tiny corpus") {
    import spark.implicits._
    // tokens: a a b -> total=3, vocab=2; P(a)=(2+1)/5, P(b)=(1+1)/5
    val df = Seq((1L, "a a"), (2L, "b")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._1 === 2L)
    assert(math.abs(got(1L)._2 - math.log(3.0 / 5)) < 1e-5)
    assert(math.abs(got(2L)._2 - math.log(2.0 / 5)) < 1e-5)
    // the corpus-frequent doc scores strictly higher (the filter signal)
    assert(got(1L)._2 > got(2L)._2)
    graft.CacheRegistry.releaseAll()
  }

  test("plan: token join is an equijoin, totals broadcast, no cartesian") {
    import spark.implicits._
    val df = Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text")
    val qe = TextAnalysis.unigramLogProb(df, "doc_id", "text").queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
    // ONE corpus explode: the tf join side, the freq branch AND the totals
    // branch must all read the persisted tf. Assert on optimized-plan TREE
    // nodes (stable across Spark's string rendering / AQE reuse): every
    // explode lives inside the cached relation, which is read 3 times.
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val explodesOutsideCache = qe.optimizedPlan.collect { case g: Generate => g }.length
    val cacheReads = qe.optimizedPlan.collect { case r: InMemoryRelation => r }.length
    assert(explodesOutsideCache === 0,
      s"expected the single explode to live inside the persisted tf, got $explodesOutsideCache outside:\n$plan")
    assert(cacheReads === 3,
      s"expected all 3 branches to read the persisted tf, got $cacheReads:\n$plan")
    graft.CacheRegistry.releaseAll()
  }
}

class NgramRepetitionSpec extends SparkSpec {

  test("closed-form repetition fractions on a hand-built doc") {
    import spark.implicits._
    // "a b c a b c a b c" -> 7 3-gram occurrences: (a b c) x3, (b c a) x2,
    // (c a b) x2 -> top 3/7, dup 7/7. "u v w x" -> 2 distinct grams ->
    // top 1/2, dup 0. "x y" -> sub-n, no row.
    val df = Seq((1L, "a b c a b c a b c"), (2L, "u v w x"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramRepetition(df, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got(1L) === (7L, math.round(3.0 / 7 * 1e6) / 1e6, 1.0))
    assert(got(2L) === (2L, 0.5, 0.0))
    assert(!got.contains(3L))
  }
}

class NgramLogProbSpec extends SparkSpec {

  test("closed-form smoothed bigram log-likelihood on a tiny corpus") {
    import spark.implicits._
    // doc1 bigrams: (x y) x2, (y x) x1; doc2: (y z) x1
    // freq: xy=2, yx=1, yz=1; total=4, distinct=3
    val df = Seq((1L, "x y x y"), (2L, "y z"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramLogProb(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._1 === 3L)
    assert(math.abs(got(1L)._2 -
      (2 * math.log(3.0 / 7) + math.log(2.0 / 7)) / 3) < 1e-5)
    assert(math.abs(got(2L)._2 - math.log(2.0 / 7)) < 1e-5)
    // the repeated collocation scores strictly higher (the filter signal)
    assert(got(1L)._2 > got(2L)._2)
    // a sub-n doc emits no row, exactly like the gram extraction
    assert(!got.contains(3L))
    graft.CacheRegistry.releaseAll()
  }

  test("word order moves the score: collocations beat shuffled salad") {
    import spark.implicits._
    val fluent = Seq.fill(6)("of the").mkString(" ")   // "of the" x11 window
    val salad = ("of " + Seq.fill(5)("of of the the").mkString(" ")).take(fluent.length)
    val df = Seq((1L, fluent), (2L, salad), (3L, "of the of the"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.ngramLogProb(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // same unigram mass, different bigram structure: the doc made of the
    // frequent collocation outscores the shuffled one
    assert(got(1L) > got(2L))
    graft.CacheRegistry.releaseAll()
  }
}

class BackoffLogProbSpec extends SparkSpec {

  test("hand-replayed backoff chain: seen trigram, bigram backoff, unigram floor") {
    import spark.implicits._
    // train censuses: uni a:2 b:2 c:1 d:1 (N=6, V=4); bi "a b":2 "b c":1
    // "b d":1; tri "a b c":1 "a b d":1
    val train = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val score = Seq(
      (11L, "a b c"), // trigram seen: 1/2
      (12L, "x b c"), // bigram backoff: 0.4 * (1/2)
      (13L, "a b e"), // unigram floor: 0.4 * ((0.4 * (0+1)) / (6+4))
      (14L, "a b")    // sub-n: no row
    ).toDF("doc_id", "text")
    val got = TextAnalysis.backoffLogProb(train, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(11L)._1 === 1L)
    assert(math.abs(got(11L)._2 - math.log(0.5)) < 1e-5)
    assert(math.abs(got(12L)._2 - math.log(0.4 * (1.0 / 2))) < 1e-5)
    assert(math.abs(got(13L)._2 - math.log(0.4 * ((0.4 * 1) / 10.0))) < 1e-5)
    assert(!got.contains(14L))
    // each backoff level costs: attested > bigram-backoff > unigram floor
    assert(got(11L)._2 > got(12L)._2 && got(12L)._2 > got(13L)._2)
    graft.CacheRegistry.releaseAll()
  }

  test("repeated trigrams weight the mean by occurrence count") {
    import spark.implicits._
    val train = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    // trigrams: (a b c) tf=2 seen with c3=2, c2("a b")=2 -> s=1;
    // (b c a) and (c a b) unseen, bigrams (c a)/(a b.. wait (c a) unseen,
    // (a b) seen -> per-position keys decide; just pin the count and that
    // the doc scores strictly below a pure-attested doc
    val score = Seq((21L, "a b c a b c"), (22L, "a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.backoffLogProb(train, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(21L)._1 === 4L) // 6 words -> 4 trigram positions
    assert(got(22L)._1 === 1L)
    assert(got(22L)._2 > got(21L)._2)
    // the fully attested trigram scores ln(c3/c2) = ln(2/2) = 0
    assert(math.abs(got(22L)._2 - 0.0) < 1e-9)
    graft.CacheRegistry.releaseAll()
  }
}

class DsirSpec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def bucket(gram: String, buckets: Int): Long =
    java.lang.Long.parseLong(md5hex(gram).substring(0, 15), 16) % buckets

  private def grams(text: String): Seq[String] = {
    val w = text.toLowerCase.split(" ", -1).toSeq
    w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  test("logw replays the smoothed bucket log-ratio bit for bit") {
    import spark.implicits._
    val B = 64
    val raw = Seq((1L, "aa bb aa"), (2L, "zz yy"), (3L, "aa bb"))
      .toDF("doc_id", "text")
    val tgt = raw.where(col("doc_id") =!= 2)
    val got = TextAnalysis.dsirLogRatio(raw, tgt, "doc_id", "text", buckets = B)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // JVM replay of the exact formula over the same md5 buckets
    val rawG = Map(1L -> grams("aa bb aa"), 2L -> grams("zz yy"), 3L -> grams("aa bb"))
    val fc = rawG.map { case (id, gs) =>
      id -> gs.groupBy(bucket(_, B)).view.mapValues(_.size.toLong).toMap }
    val cr = fc.values.flatten.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ct = (rawG - 2L).values.flatten.groupBy(bucket(_, B))
      .view.mapValues(_.size.toLong).toMap
    val (tr, tt) = (cr.values.sum, ct.values.sum)
    def lnr(b: Long) = math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tt + B)) -
      math.log((cr(b) + 1).toDouble / (tr + B))
    fc.foreach { case (id, m) =>
      val expect = BigDecimal(m.map { case (b, f) =>
        BigDecimal(f * lnr(b) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong }.sum.toDouble / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 === m.values.sum)
      assert(got(id)._2 === expect, s"doc $id")
    }
    // the off-target doc scores below both target-like docs
    assert(got(2L)._2 < got(1L)._2 && got(2L)._2 < got(3L)._2)
    graft.CacheRegistry.releaseAll()
  }

  test("gumbel top-k: deterministic md5 key, TakeOrderedAndProject plan") {
    import spark.implicits._
    val raw = (1L to 20L).map(i =>
      (i, if (i % 4 == 0) "aa bb aa bb" else "zz yy xx ww")).toDF("doc_id", "text")
    val tgt = raw.where(col("doc_id") % 4 === 0)
    val sel = TextAnalysis.dsirTopK(raw, tgt, "doc_id", "text", k = 5, buckets = 64)
    assert(sel.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    val a = sel.collect().map(_.getLong(0)).toSet
    graft.CacheRegistry.releaseAll()
    val b = TextAnalysis.dsirTopK(raw, tgt, "doc_id", "text", k = 5, buckets = 64)
      .collect().map(_.getLong(0)).toSet
    assert(a.size === 5 && a === b)
    graft.CacheRegistry.releaseAll()
  }
}

class VectorDupAcrossSpec extends SparkSpec {

  test("cross-set pairs equal the self-join restricted to straddling pairs") {
    import spark.implicits._
    def jitter(base: Array[Float], i: Int) =
      base.zipWithIndex.map { case (v, d) => v + 0.01f * ((i + d) % 3) }
    val ax = Array(1f, 0f, 0f, 0f); val ay = Array(0f, 1f, 0f, 0f)
    val all = ((0 until 8).map(i => (i.toLong, jitter(ax, i))) ++
      (8 until 16).map(i => (i.toLong, jitter(ay, i))))
      .toDF("vec_id", "embedding")
    val r = all.where(col("vec_id") % 4 === 0)
    val s = all.where(col("vec_id") % 4 =!= 0)
    val got = VectorLSH.nearDupPairsAcross(r, s, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    // band assignment is per-vector (md5 planes), so the cross-set
    // candidates are exactly the self-join candidates that straddle the
    // sets; the exact-cosine gate is shared — results must agree
    val self = VectorLSH.nearDupPairs(all, "vec_id", "embedding", 0.9)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val straddle = self.flatMap { case (a, b) =>
      Seq((a, b), (b, a)).filter { case (x, y) => x % 4 == 0 && y % 4 != 0 }
    }
    assert(got.nonEmpty)
    assert(got === straddle)
    graft.CacheRegistry.releaseAll()
  }

  test("plan: every read of the inputs goes through ONE cached preparation") {
    import spark.implicits._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val all = (0 until 8)
      .map(i => (i.toLong, Array.fill(4)(i.toFloat + 1)))
      .toDF("vec_id", "embedding")
    val qe = VectorLSH.nearDupPairsAcross(
      all.where(col("vec_id") % 2 === 0), all.where(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", 0.5).queryExecution
    // the two band splits + the two verify sides all read the persisted
    // (id, side, bits, nv) frame; neither input is rescanned downstream —
    // banding + normalization cost the parent ONE pass, not four
    val cacheReads = qe.optimizedPlan.collect { case r: InMemoryRelation => r }.length
    val rawReads = qe.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.length
    assert(cacheReads === 4,
      s"expected band×2 + verify×2 reads of the cached preparation, got $cacheReads:\n${qe.optimizedPlan}")
    assert(rawReads === 0,
      s"expected no direct input rescans outside the cache, got $rawReads:\n${qe.optimizedPlan}")
    graft.CacheRegistry.releaseAll()
  }
}

class PackSequencesSpec extends SparkSpec {

  test("linear packing assigns chunks by cumulative start offset") {
    import spark.implicits._
    // 100 tokens, chunk(40, overlap 8) -> starts 1/33/65, sizes 40/40/36;
    // offsets 0/40/80 at budget 64 -> bins 0/0/1
    val df = Seq((1L, (1 to 100).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ch = TextAnalysis.chunk(df, "doc_id", "text", maxTokens = 40, overlap = 8)
    val got = TextAnalysis.packSequences(ch, "doc_id", seqTokens = 64)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).sorted
    assert(got.toSeq === Seq((0, 2L, 80L), (1, 1L, 36L)))
    // token mass is conserved across packing
    val chTotal = ch.agg(sum("n_tokens")).head().getLong(0)
    assert(got.map(_._3).sum === chTotal)
  }

  test("composition: ordered membership and the packed payload") {
    import spark.implicits._
    val df = Seq((1L, (1 to 100).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ch = TextAnalysis.chunk(df, "doc_id", "text", maxTokens = 40, overlap = 8)
    val rows = TextAnalysis.packSequences(ch, "doc_id", seqTokens = 64)
      .orderBy("seq_idx").collect()
    // seq 0 holds chunks at starts 1 and 33 IN ORDER; seq 1 the tail chunk
    val members = rows.map(_.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("chunks")
      .map(m => (m.getInt(0), m.getInt(1))).toSeq)
    assert(members(0) === Seq((1, 40), (33, 40)))
    assert(members(1) === Seq((65, 36)))
    // the payload is the chunk texts joined in chunk order — w33 onward
    // appears twice across seq 0's two overlapping chunks
    val seq0 = rows(0).getAs[String]("seq_text")
    assert(seq0.startsWith("w1 w2 ") && seq0.split(" ").length === 80)
    assert(seq0.split(" ").slice(40, 43).toSeq === Seq("w33", "w34", "w35"))
    assert(rows(1).getAs[String]("seq_text") ===
      (65 to 100).map(i => s"w$i").mkString(" "))
    // membership-free input (no chunk_text) still returns ordered chunks
    val bare = TextAnalysis.packSequences(
      ch.drop("chunk_text"), "doc_id", seqTokens = 64)
    assert(bare.columns.contains("chunks") && !bare.columns.contains("seq_text"))
  }
}

class DuplicateSpansSpec extends SparkSpec {

  test("cross-doc and within-doc duplicate spans, first occurrence kept") {
    import spark.implicits._
    // doc 2 embeds doc 1's whole text: its 4 duplicated 3-gram starts
    // (positions 1..4) merge into one excise extent [1, 6]. doc 3 repeats
    // its own first 4 words: the second occurrence (gram starts 4, 5)
    // merges into [4, 7]. doc 1 is every span's first occurrence -> no row.
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d e f y"),
      (3L, "p q r s p q r s"),
      (4L, "too short")).toDF("doc_id", "text")
    val got = TextAnalysis.duplicateSpans(df, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got === Set((2L, 1, 6, 4L), (3L, 4, 7, 2L)))
  }

  test("occurrences further apart than n stay separate extents") {
    import spark.implicits._
    // the shared gram "a b c" appears in doc 2 at starts 0 and 8 (gap 8 > 3)
    // -> two extents, not one glued span
    val df = Seq(
      (1L, "a b c"),
      (2L, "a b c u v w x y a b c")).toDF("doc_id", "text")
    val got = TextAnalysis.duplicateSpans(df, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got === Set((2L, 0, 2, 1L), (2L, 8, 10, 1L)))
  }

  test("a corpus with no duplicated grams emits nothing") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    assert(TextAnalysis.duplicateSpans(df, "doc_id", "text", n = 3).count() === 0)
  }

  test("exciseSpans rebuilds affected docs and passes the rest through") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d e f y"),          // extent [1,6] excised -> "x y"
      (3L, "p q r s p q r s"),          // extent [4,7] excised -> "p q r s"
      (4L, "un  touched")).toDF("doc_id", "text") // double space survives
    val spans = TextAnalysis.duplicateSpans(df, "doc_id", "text", n = 3)
    val got = TextAnalysis.exciseSpans(df, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === (("a b c d e f", 0L)))     // first occurrence kept
    assert(got(2L) === (("x y", 6L)))
    assert(got(3L) === (("p q r s", 4L)))
    assert(got(4L) === (("un  touched", 0L)))     // byte-identical passthrough
  }

  test("exciseSpans: a fully-excised doc leaves empty text, not a lost row") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b c d")).toDF("doc_id", "text")
    val spans = TextAnalysis.duplicateSpans(df, "doc_id", "text", n = 4)
    val got = TextAnalysis.exciseSpans(df, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) === (("a b c d", 0L)))
    assert(got(2L) === (("", 4L)))
  }
}

class BpeTokenCountSpec extends SparkSpec {

  private def count(s: String): Long = {
    import spark.implicits._
    Seq((1L, s)).toDF("id", "text")
      .select(TextAnalysis.bpeTokenCount(org.apache.spark.sql.functions.col("text")).as("n"))
      .head().getLong(0)
  }

  test("hand-replayed merges: multi-level tokens collapse correctly") {
    // "the": t+h -> th, th+e -> the        => 1 token
    assert(count("the") === 1L)
    // "thin": t+h -> th, i+n -> in         => th|in = 2
    assert(count("thin") === 2L)
    // "and": a+n -> an, an+d -> and        => 1
    assert(count("and") === 1L)
    // "sing": i+n -> in, in+g -> ing       => s|ing = 2
    assert(count("sing") === 2L)
    // "zzz": no merges fire                => 3 chars
    assert(count("zzz") === 3L)
    // spaces split words; merges never span them
    assert(count("the and") === 2L)
    // case-folded before merging
    assert(count("THE") === 1L)
  }

  test("left-to-right non-overlap inside one rank, like BPE's merge pass") {
    // "ttt" with t+h only: nothing fires   => 3
    assert(count("ttt") === 3L)
    // "ththth" -> th th th (t+h globally) -> the fires on (th, e)? no e.
    assert(count("ththth") === 3L)
    // "tho": t+h -> th, th+e no, t+a no    => th|o = 2... but o+w,o+r,o+n no partner
    assert(count("tho") === 2L)
  }

  test("counts are whitespace-stable and null-safe") {
    import spark.implicits._
    val df = Seq((1L, Option("in the end")), (2L, Option.empty[String]))
      .toDF("id", "text")
    val got = df.select(org.apache.spark.sql.functions.col("id"),
        TextAnalysis.bpeTokenCount(org.apache.spark.sql.functions.col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // "in the end": in=1, the=1, end: e+n -> en, en+d? not in table => en|d = 2
    assert(got(1L) === 4L)
    assert(got(2L) === -1L)
  }
}

class GramNoveltySpec extends SparkSpec {

  test("novelty: survivors 0, edits fractional, new docs 1, sub-n absent") {
    import spark.implicits._
    val old = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val cur = Seq(
      (1L, "a b c d e"),    // unchanged: every gram seen
      (2L, "a b c d e f"),  // one new trailing gram of four
      (3L, "x y z w"),      // genuinely new writing
      (4L, "a b")           // sub-n: no row, like the extraction
    ).toDF("doc_id", "text")
    val got = graft.functions.CorpusDiff.gramNovelty(old, cur, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) === ((3L, 0L, 0.0)))
    assert(got(2L) === ((4L, 1L, 0.25)))
    assert(got(3L) === ((2L, 2L, 1.0)))
    assert(!got.contains(4L))
    graft.CacheRegistry.releaseAll()
  }
}

class CorpusDiffSpec extends SparkSpec {

  import org.apache.spark.sql.functions.col

  test("all four statuses, by id + fingerprint") {
    import spark.implicits._
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "goes away"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = graft.functions.CorpusDiff.diff(old, cur, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    val sum = graft.functions.CorpusDiff.summary(old, cur, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum === Map("unchanged" -> 1L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("fingerprint is case-insensitive md5 by default; custom fp plugs in") {
    import spark.implicits._
    val old = Seq((1L, "Same Text")).toDF("doc_id", "text")
    val cur = Seq((1L, "same text")).toDF("doc_id", "text")
    assert(graft.functions.CorpusDiff.diff(old, cur, "doc_id", "text")
      .head().getString(1) === "unchanged")
    // byte-exact fingerprint sees the case change
    assert(graft.functions.CorpusDiff.diff(old, cur, "doc_id", "text",
        fp = org.apache.spark.sql.functions.md5(_))
      .head().getString(1) === "changed")
  }

  test("text never reaches the join: both inputs reduce to (id, fp)") {
    import spark.implicits._
    val old = Seq((1L, "a")).toDF("doc_id", "text")
    val cur = Seq((1L, "a")).toDF("doc_id", "text")
    val plan = graft.functions.CorpusDiff.diff(old, cur, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    // the join node's children project only id + fingerprint
    assert(!plan.contains("text#") ||
      plan.indexOf("Join") < plan.indexOf("text#"))
  }
}

class BpePairCensusSpec extends SparkSpec {

  import org.apache.spark.sql.functions.col

  private def census(corpus: Seq[String],
                     merges: Seq[(String, String)]): Map[(String, String), Long] = {
    import spark.implicits._
    TextAnalysis.bpePairCensus(
        corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), "text", merges)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  test("raw-char census counts adjacent pairs within words only") {
    assert(census(Seq("the the"), Nil) ===
      Map(("t", "h") -> 2L, ("h", "e") -> 2L))
    // one-char and empty words (double space) contribute nothing and don't crash
    assert(census(Seq("a  b c"), Nil) === Map.empty)
  }

  test("census after k merges counts merged-token pairs") {
    assert(census(Seq("the the"), Seq("t" -> "h")) ===
      Map(("th", "e") -> 2L))
  }

  test("trainer replays the Sennrich loop with deterministic ties") {
    import spark.implicits._
    val df = Seq((1L, "aaab aaab aaab")).toDF("doc_id", "text")
    // round 1: (a,a)=6 beats (a,b)=3 -> learn (a,a)
    // round 2: tokens aa|a|b -> (aa,a)=3 ties (a,b)=3; "a" < "aa" -> (a,b)
    val learned = TextAnalysis.trainBpeMerges(df, "text", 2)
    assert(learned === Seq("a" -> "a", "a" -> "b"))
    // trained merges can only shrink the token count
    val before = df.select(TextAnalysis.bpeTokenCount(col("text"), Nil).as("n"))
      .head().getLong(0)
    val after = df.select(TextAnalysis.bpeTokenCount(col("text"), learned).as("n"))
      .head().getLong(0)
    assert(after < before)
  }

  test("trainer stops early when no pair remains") {
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(TextAnalysis.trainBpeMerges(df, "text", 3) === Seq.empty)
  }

  test("census is one partial-agg exchange, no UDFs") {
    import spark.implicits._
    val df = Seq((1L, "the end")).toDF("doc_id", "text")
    val plan = TextAnalysis.bpePairCensus(df, "text", TextAnalysis.BpeMerges)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 === 1)
    assert(!plan.contains("ScalaUDF"))
  }
}

class BpeTokensSpec extends SparkSpec {

  import org.apache.spark.sql.functions.col

  private def run(s: String): (Seq[String], Seq[Int]) = {
    import spark.implicits._
    val r = Seq((1L, s)).toDF("id", "text")
      .select(TextAnalysis.bpeTokens(col("text")).as("t"),
        TextAnalysis.bpeTokenIds(col("text")).as("i"))
      .head()
    (r.getSeq[String](0), r.getSeq[Int](1))
  }

  test("hand-replayed tokenization: surface forms in document order") {
    assert(run("the thin zzz")._1 === Seq("the", "th", "in", "z", "z", "z"))
    // extraction agrees with the count path on every doc shape
    assert(run("in the end")._1 === Seq("in", "the", "en", "d"))
  }

  test("id scheme: code point for chars, 0x110000 + first rank for merges") {
    val (toks, ids) = run("the and z")
    assert(toks === Seq("the", "and", "z"))
    // "the" = rank 1 (t,h=0; th,e=1), "and" = rank 14, 'z' = 122
    assert(ids === Seq(0x110000 + 1, 0x110000 + 14, 'z'.toInt))
  }

  test("ids are injective across tiers and decode 1:1 from the vocab") {
    // every multi-char output id sits above all code points
    val (_, ids) = run("the thin sing and or en ar")
    val (merged, chars) = ids.partition(_ >= 0x110000)
    assert(merged.forall(_ < 0x110000 + TextAnalysis.BpeMerges.size))
    assert(chars.forall(i => i >= 0 && i <= Character.MAX_CODE_POINT))
  }

  test("tokenization is a map-only projection (no shuffle, no UDF)") {
    import spark.implicits._
    val df = Seq((1L, "the end")).toDF("id", "text")
      .select(TextAnalysis.bpeTokenIds(col("text")).as("i"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    assert(!plan.toLowerCase.contains("batchevalpython"))
    assert(!plan.contains("ScalaUDF"))
  }
}

class BpeBudgetSpec extends SparkSpec {

  test("chunk with the BPE counter makes packSequences budgets tokenizer-true") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "the thin sing and the end zzz the quick"),
      (2L, "in the and")).toDF("doc_id", "text")
    val ch = TextAnalysis.chunk(df, "doc_id", "text", maxTokens = 3,
      tokenCounter = Some(TextAnalysis.bpeTokenCount(_)))
    // merges never span words and overlap=0 chunks split at word
    // boundaries, so per-chunk BPE counts sum exactly to the doc count
    val sums = ch.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = df.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums === whole)
    // and the packed sequences inherit the re-priced budget column
    val packed = TextAnalysis.packSequences(ch, "doc_id", seqTokens = 4)
    val packSum = packed.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packSum === whole)
  }

  test("default counter unchanged: whitespace pricing") {
    import spark.implicits._
    val ch = TextAnalysis.chunk(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text",
      maxTokens = 2)
    val got = ch.collect().map(r => (r.getInt(1), r.getInt(3))).toSet
    assert(got === Set((1, 2), (3, 2), (5, 1)))
  }
}

class PackAcrossSpec extends SparkSpec {

  test("cross-doc packing mixes docs inside a bin group, deterministically") {
    import spark.implicits._
    // two docs in group 1 (ids 1, 3 with numGroups=2), one in group 0.
    // group 1 chunk order: (1,1,3),(1,4,2),(3,1,3) -> cum 3,5,8 with
    // budget 5 -> seq 0: first two (cum-n= 0,3 -> 0,0), seq 1: third (5)
    val ch = Seq(
      (1L, 1, "a b c", 3), (1L, 4, "d e", 2),
      (3L, 1, "x y z", 3),
      (2L, 1, "p q", 2))
      .toDF("doc_id", "start", "chunk_text", "n_tokens")
    val got = TextAnalysis.packSequencesAcross(ch, "doc_id", seqTokens = 5,
        numGroups = 2)
      .select("bin_group", "seq_idx", "n_chunks", "n_tokens", "seq_text")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSet
    assert(got === Set(
      (1, 0, 2L, 5L, "a b c d e"),
      (1, 1, 1L, 3L, "x y z"),
      (0, 0, 1L, 2L, "p q")))
  }

  test("every chunk lands in exactly one sequence; token totals conserve") {
    import spark.implicits._
    val docs = Seq.tabulate(20)(i => (i.toLong, Seq.fill(30 + i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val ch = TextAnalysis.chunk(docs, "doc_id", "text", maxTokens = 7)
    val packed = TextAnalysis.packSequencesAcross(ch, "doc_id",
      seqTokens = 16, numGroups = 4)
    val chunkCount = ch.count()
    val packedChunks = packed.agg(org.apache.spark.sql.functions.sum("n_chunks"))
      .head().getLong(0)
    assert(packedChunks === chunkCount)
    val tokTotal = ch.agg(org.apache.spark.sql.functions.sum("n_tokens")).head().getLong(0)
    val packTotal = packed.agg(org.apache.spark.sql.functions.sum("n_tokens")).head().getLong(0)
    assert(packTotal === tokTotal)
    // groups really mix docs: some sequence holds chunks from >1 doc
    import org.apache.spark.sql.functions.{size => asize, array_distinct, transform => atransform}
    val mixed = packed.where(asize(array_distinct(
      atransform(org.apache.spark.sql.functions.col("chunks"),
        c => c("doc_id")))) > 1).count()
    assert(mixed > 0)
  }
}

class GopherQualitySpec extends SparkSpec {

  test("metrics: word count, mean length, symbols, alpha fraction, stop hits") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat with the dog and that hat"), // 9 words, stopwords
      (2L, "### ... ### ... zz"),                    // symbol-heavy
      (3L, "12 34 56 78")                            // no alpha words
    ).toDF("doc_id", "text")
    val r = df.select(col("doc_id"),
        TextAnalysis.gopherReport(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_words"), col("r.symbol_ratio"),
        col("r.frac_alpha"), col("r.n_stop_hits"))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4))).toMap
    assert(r(1L)._1 === 9L)
    assert(r(1L)._3 === 1.0)            // every word has a letter
    assert(r(1L)._4 === 4L)             // the, with, and, that
    assert(r(2L)._2 > 1.0)              // 6 '#' + 2 '...' over 5 words
    assert(r(2L)._3 === 0.2)            // only "zz" is alphabetic
    assert(r(3L)._3 === 0.0 && r(3L)._4 === 0L)
  }

  test("keep gate applies every threshold") {
    import spark.implicits._
    val prose = Seq.fill(6)("the quick brown fox jumps and that dog have fun with it").mkString(" ")
    val df = Seq((1L, prose), (2L, "short text"), (3L, prose + " ###########################")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.gopherKeep(TextAnalysis.gopherReport(col("text"))).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(1L))      // long prose with >=2 gopher stopwords
    assert(!got(2L))     // too few words
    assert(!got(3L))     // symbol ratio blown
  }
}

class LineCleanSpec extends SparkSpec {

  test("plan: gopher report and line cleaning are shuffle-free projections") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox and that dog")).toDF("doc_id", "text")
    val p1 = df.select(TextAnalysis.gopherKeep(
        TextAnalysis.gopherReport(col("text"))).as("k"))
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"))
    val p2 = df.select(TextAnalysis.cleanLines(
        TextAnalysis.reflowLines(col("text"), 4), 2, Seq("the"), Seq("{")).as("kept"))
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"))
  }

  test("reflow splits into fixed token lines with a ragged tail") {
    import spark.implicits._
    val df = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val lines = df.select(TextAnalysis.reflowLines(col("text"), 4).as("l"))
      .head().getSeq[String](0)
    assert(lines === Seq("w1 w2 w3 w4", "w5 w6 w7 w8", "w9 w10"))
  }

  test("line rules: min words, required stopword, banned substrings") {
    import spark.implicits._
    val lines = Seq(
      "the alpha beta gamma",     // keep
      "alpha beta gamma delta",   // no required word
      "the a",                    // too short
      "the javascript alpha beta" // banned
    )
    val df = Seq(Tuple1(lines)).toDF("lines")
    val kept = df.select(TextAnalysis.cleanLines(col("lines"), minWords = 3,
        requiredAny = Seq("the", "a"), banned = Seq("javascript")).as("k"))
      .head().getSeq[String](0)
    assert(kept === Seq("the alpha beta gamma"))
  }
}

class CanonicalByQualitySpec extends SparkSpec {

  test("highest-quality member wins its cluster; singletons always keep") {
    import spark.implicits._
    // One near-dup cluster {1,2,3} (labels say cluster=1), doc 9 untouched.
    // Quality is injected directly so the election rule is isolated.
    val docs = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (9L, 0.1))
      .toDF("doc_id", "q")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cluster")
    val got = MinHashLSH.canonicalByQuality(docs, "doc_id", col("q"), labels)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(2L) === (1L, true))   // 0.9 tie broken by smaller id
    assert(got(3L) === (1L, false))
    assert(got(1L) === (1L, false))
    assert(got(9L) === (9L, true))   // singleton: own cluster, kept
  }
}

class NormalizeTextSpec extends SparkSpec {

  test("normalization collapses case/punctuation/whitespace variants") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello,  World!  How are you?"),
      (2L, "hello world how are you"),
      (3L, "HELLO WORLD -- how are you..."),
      (4L, "different text entirely")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "hello world how are you")
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(4L) !== got(1L))
  }
}

class RandomProjectSpec extends SparkSpec {

  test("components are the scaled md5-plane dots; map-only plan") {
    import spark.implicits._
    val dim = 16
    val basis = (0 until 3).map(i =>
      (i.toLong, Array.tabulate(dim)(d => if (d == i) 1.0f else 0.0f)))
    val df = basis.toDF("vec_id", "embedding")
    val q = VectorLSH.randomProject(df, "vec_id", "embedding", k = 4, dim = dim)
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = q.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size === 12)
    val scale = math.sqrt(3.0 / 4)
    // projecting basis vector e_i reads out column i of each plane
    for (i <- 0 until 3; j <- 0 until 4) {
      val want = BigDecimal(scale * VectorLSH.planeValue(j, i))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got((i.toLong, j)) - want) < 1e-9, s"e_$i comp $j")
    }
  }
}

class ContaminationSpansSpec extends SparkSpec {

  test("bench extents located in train and excised; clean docs pass through") {
    import spark.implicits._
    val span = (1 to 13).map(i => s"b$i").mkString(" ")
    val train = Seq(
      (1L, s"t1 t2 $span t3 t4"),
      (2L, (1 to 20).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val bench = Seq((10L, span)).toDF("doc_id", "text")
    val spans = TextAnalysis.contaminationSpans(train, bench, "doc_id", "text")
    val got = spans.collect()
      .map(r => (r.getLong(0), r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
    assert(got.toList === List((1L, 2, 14))) // tokens 2..14 = the planted span
    val clean = TextAnalysis.exciseSpans(train, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_removed")))).toMap
    assert(clean(1L) === (("t1 t2 t3 t4", 13L)))
    assert(clean(2L)._2 === 0L) // untouched doc: byte-identical passthrough
    graft.CacheRegistry.releaseAll()
  }
}

class NativeEntropySpec extends SparkSpec {

  /** The d67 EXPLODE+AGGREGATION formulation, kept here verbatim as the
    * reference semantics: charEntropy itself is map-only since r20 (the
    * native census kernel), so the pin must compare against the original
    * shuffle-shaped definition, not against itself.
    */
  private def aggCharEntropy(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val chars = df
      .select(col("doc_id"), explode_outer(split(col("text"), "")).as("ch"))
      .where(col("ch").isNotNull && col("ch") =!= "")
    val term = round(col("c") * log(col("c")) * 1e6, 0).cast("long")
    chars.groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum("c").cast("long").as("n_chars"),
        count(lit(1)).as("n_distinct"),
        round(log(sum("c")) -
          sum(term).cast("double") / 1e6 / sum("c"), 6).as("entropy"))
  }

  test("graft_entropy equals the d67 aggregation on a varied corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "ab c!0xy"
    val docs = (1L to 60L).map(i => (i,
      (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(8))).mkString))
    val df = docs.toDF("doc_id", "text")
    val agg = aggCharEntropy(df)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val native = df.select(col("doc_id"),
        graft.plans.TextExpressions.entropyColumn(spark, col("text")).as("h"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    docs.foreach { case (id, text) =>
      if (text.isEmpty) assert(native(id).isEmpty && !agg.contains(id))
      else assert(native(id).contains(agg(id)), s"doc $id '$text'")
    }
  }

  test("map-only charEntropy equals the aggregation formulation (r20)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "ab c!0xyé世" // incl. multi-byte code points
    val docs = (1L to 80L).map(i => (i,
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString)) :+ (99L, "")
    val df = docs.toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val expect = rows(aggCharEntropy(df))
    val got = rows(TextAnalysis.charEntropy(df, "doc_id", "text"))
    assert(got === expect) // same rows (empty docs absent), same values
    // zero exchanges: the r20 point of the rewrite
    assert(!TextAnalysis.charEntropy(df, "doc_id", "text")
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("SQL name, null for empty, and the entropy gate band") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val h = spark.sql("SELECT graft_entropy('aabb') AS h").head().getDouble(0)
    assert(math.abs(h - math.log(2)) < 1e-5)
    assert(spark.sql("SELECT graft_entropy('') AS h").head().isNullAt(0))
    val df = Seq((1L, "aaaaaaaaaa"), (2L, "the quick brown fox jumps"),
      (3L, "")).toDF("doc_id", "text")
    val kept = graft.streaming.DocStream.entropyGate(df, minNats = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L)) // spam below the band, empty drops, prose stays
  }
}

class TopNgramsSpec extends SparkSpec {

  test("graft_grams equals the array_join/slice column formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Seq("the", "a", "é世", "x!", "", "longword")
    val docs = (1L to 60L).map { i =>
      (i, (0 until rnd.nextInt(8)).map(_ => words(rnd.nextInt(words.length))))
    }
    val df = docs.toDF("doc_id", "w")
    (1 to 3).foreach { n =>
      val colForm = transform(
        sequence(lit(1), greatest(size(col("w")) - (n - 1), lit(0)), lit(1)),
        i => array_join(slice(col("w"), i, lit(n)), " "))
      val rows = df.where(size(col("w")) >= n).select(col("doc_id"),
          colForm.as("expect"),
          graft.plans.TextExpressions.gramsColumn(spark, col("w"), n).as("got"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](2),
          s"n=$n doc ${r.getLong(0)}")
      }
    }
    // shorter-than-n arrays yield the empty array (never null / OOB)
    val short = Seq((1L, Seq("only"))).toDF("doc_id", "w")
      .select(graft.plans.TextExpressions.gramsColumn(spark, col("w"), 2))
      .head().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("counts, deterministic tie order, top-k cut, TakeOrdered plan") {
    import spark.implicits._
    val df = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    // bigrams: doc1 "a b","b a","a b","b c"; doc2 "a b","b x"
    val q = TextAnalysis.topNgrams(df, "text", n = 2, k = 3)
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }
}

class CharEntropySpec extends SparkSpec {

  test("closed forms: balanced, constant, uniform; empty text emits no row") {
    import spark.implicits._
    val df = Seq((1L, "aabb"), (2L, "aaaa"), (3L, "abcd"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L)._1 === 4L && got(1L)._2 === 2L)
    assert(math.abs(got(1L)._3 - math.log(2)) < 1e-5)   // two fair symbols
    assert(math.abs(got(2L)._3) < 1e-5)                 // constant -> 0 nats
    assert(math.abs(got(3L)._3 - math.log(4)) < 1e-5)   // uniform over 4
    assert(!got.contains(4L))
    assert(got(3L)._3 > got(1L)._3 && got(1L)._3 > got(2L)._3)
  }
}

class DedupParagraphsSpec extends SparkSpec {

  test("first (doc, pos) occurrence survives; later repeats drop; order kept") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("aa", "bb")),
      (2L, Seq("bb", "cc")),   // bb already seen in doc 1
      (3L, Seq("aa")),         // fully duplicate -> empty
      (4L, Seq("dd", "dd", "ee")), // within-doc repeat keeps the first
      (5L, Seq.empty[String])
    ).toDF("doc_id", "lines")
    val got = TextAnalysis.dedupParagraphs(df, "doc_id", "lines")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) === ((2L, 2L, "aa\nbb")))
    assert(got(2L) === ((2L, 1L, "cc")))
    assert(got(3L) === ((1L, 0L, "")))
    assert(got(4L) === ((3L, 2L, "dd\nee")))
    assert(got(5L) === ((0L, 0L, "")))
    graft.CacheRegistry.releaseAll()
  }
}

class BoilerplateSpec extends SparkSpec {

  test("lines shared across docs drop everywhere; unique lines survive in order") {
    import spark.implicits._
    val nav = "home about contact"
    val df = Seq(
      (1L, Seq(nav, "alpha beta", "gamma delta")),
      (2L, Seq(nav, "epsilon zeta")),
      (3L, Seq("eta theta", nav, "iota kappa"))
    ).toDF("doc_id", "lines")
    val got = TextAnalysis.stripBoilerplate(df, "doc_id", "lines")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((3L, 2L, "alpha beta\ngamma delta")))
    assert(got(2L) === ((2L, 1L, "epsilon zeta")))
    assert(got(3L) === ((3L, 2L, "eta theta\niota kappa"))) // order kept around the cut
  }

  test("within-doc repeats survive (df counts DISTINCT docs); full-boiler docs come back empty") {
    import spark.implicits._
    val dup = "repeated inside one doc"
    val shared = "shared across docs"
    val df = Seq(
      (1L, Seq(dup, dup, "unique line")),
      (2L, Seq(shared)),
      (3L, Seq(shared))
    ).toDF("doc_id", "lines")
    val got = TextAnalysis.stripBoilerplate(df, "doc_id", "lines")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((3L, 3L, s"$dup\n$dup\nunique line"))) // df=1: kept
    assert(got(2L) === ((1L, 0L, "")))                         // fully boilerplate
    assert(got(3L) === ((1L, 0L, "")))
  }
}

class LinearScoreSpec extends SparkSpec {

  test("sigmoid of the ordered weighted fold, hand-replayed") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.5, 1.0)), (2L, Seq(0.0, 0.0))).toDF("id", "f")
    val got = df.select(col("id"),
        TextAnalysis.linearScore(col("f"), Seq(2.0, -1.0), 0.5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    assert(got(1L) === math.rint(sig(0.5 + 0.5 * 2.0 + 1.0 * -1.0) * 1e6) / 1e6)
    assert(got(2L) === math.rint(sig(0.5) * 1e6) / 1e6)
    // plan: pure projection, no shuffle, no UDF
    val p = df.select(TextAnalysis.linearScore(col("f"), Seq(1.0, 1.0), 0.0))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("BatchEvalPython"))
  }
}

class PackShuffledSpec extends SparkSpec {

  test("hashOrder: token mass conserves, membership reorders deterministically") {
    import spark.implicits._
    val docs = Seq.tabulate(12)(i => (i.toLong, Seq.fill(40 + i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val ch = TextAnalysis.chunk(docs, "doc_id", "text", maxTokens = 7)
    def run(hash: Boolean) = TextAnalysis.packSequencesAcross(
      ch, "doc_id", seqTokens = 16, numGroups = 2, hashOrder = hash)
    val plain = run(false); val hashed = run(true)
    // conservation holds in both orders
    val massP = plain.agg(sum("n_tokens")).head().getLong(0)
    val massH = hashed.agg(sum("n_tokens")).head().getLong(0)
    assert(massP === massH)
    assert(hashed.agg(sum("n_chunks")).head().getLong(0) === ch.count())
    // the orders genuinely differ...
    def layout(df: org.apache.spark.sql.DataFrame) = df
      .select(col("bin_group"), col("seq_idx"),
        transform(col("chunks"), c => c("doc_id")).as("ids"))
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Long](2).toList)).toSet
    assert(layout(plain) !== layout(hashed))
    // ...but the hashed one is deterministic across reruns
    assert(layout(run(true)) === layout(hashed))
    // chunks schema stays (doc_id, start, n_tokens) — no leaked sort key
    assert(hashed.select(col("chunks")(0)).schema.head.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("doc_id", "start", "n_tokens"))
  }
}

class StarContractionSpec extends SparkSpec {

  import graft.functions.MinHashLSH

  test("clustersStar == clusters on random graphs (incl. heavy merging)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 20 + trial * 10
      val pairs = (1 to n).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val df = pairs.toDF("doc_a", "doc_b")
      val a = MinHashLSH.clusters(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = MinHashLSH.clustersStar(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b, s"trial $trial: star labels diverge from min-label")
      graft.CacheRegistry.releaseAll()
    }
  }

  test("deep chain: star contraction needs ~log rounds where min-label needs diameter") {
    import spark.implicits._
    // path graph 0-1-...-30: diameter 30. min-label with maxIter=8 CANNOT
    // converge (throws); star contraction converges comfortably within 8
    // alternating rounds (~log2(31) + constant).
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      MinHashLSH.clusters(pairs, maxIter = 8).collect()
    }
    val got = MinHashLSH.clustersStar(pairs, maxIter = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 31 && got.values.toSet === Set(0L))
    graft.CacheRegistry.releaseAll()
  }

  test("reliable-checkpoint path keeps only the final round's file") {
    import spark.implicits._
    val sc = spark.sparkContext
    // WorkDirs, not createTempDirectory: a fresh random-suffix dir per
    // suite run leaks into tmpdir forever (the d163 lesson, test-side)
    val dir = graft.WorkDirs.acquire("test_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      // path graph: converges in several alternating rounds, so without
      // the explicit per-round deletion the checkpoint dir would hold one
      // edge-list-sized rdd-* directory PER ROUND for the app's lifetime
      val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val got = MinHashLSH.clustersStar(pairs, maxIter = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size === 31 && got.values.toSet === Set(0L))
      val ckpt = new java.io.File(new java.net.URI(sc.getCheckpointDir.get).getPath)
      val rdds = Option(ckpt.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("rdd-"))
      assert(rdds.length <= 1, rdds.map(_.getName).mkString(","))
      graft.CacheRegistry.releaseAll()
    } finally {
      // restore the shared session's localCheckpoint default (checkpointDir
      // is private[spark] — public at bytecode level, reachable reflectively)
      classOf[org.apache.spark.SparkContext]
        .getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(sc, None)
    }
  }

  test("clustersStar: empty input, self-pairs, two components") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(MinHashLSH.clustersStar(empty).count() === 0)
    val mixed = Seq((5L, 5L), (1L, 2L), (8L, 9L)).toDF("doc_a", "doc_b")
    val got = MinHashLSH.clustersStar(mixed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 8L -> 8L, 9L -> 8L))
    graft.CacheRegistry.releaseAll()
  }
}

class ScriptProfileSpec extends SparkSpec {

  test("script fractions exact on known mixed strings; empty reports zeros") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "abcd"),             // pure latin
      (2L, "ab12"),             // half latin, half digit
      (3L, "a世世ж"),           // mixed: 1 latin, 2 cjk, 1 cyrillic
      (4L, "سلام"),             // pure arabic (4 chars)
      (5L, ""))                 // empty: zeros, no div-by-zero
      .toDF("id", "t")
    val got = df.select(col("id"),
        graft.functions.TextAnalysis.scriptProfile(col("t")).as("sp"))
      .select(col("id"), col("sp.*"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(got(1L) === ((4L, 1.0, 0.0, 0.0, 0.0, 0.0)))
    assert(got(2L) === ((4L, 0.5, 0.0, 0.0, 0.0, 0.5)))
    assert(got(3L) === ((4L, 0.25, 0.5, 0.25, 0.0, 0.0)))
    assert(got(4L) === ((4L, 0.0, 0.0, 0.0, 1.0, 0.0)))
    assert(got(5L) === ((0L, 0.0, 0.0, 0.0, 0.0, 0.0)))
  }
}
