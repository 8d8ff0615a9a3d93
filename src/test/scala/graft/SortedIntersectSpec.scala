package graft

import org.apache.spark.sql.functions._

import graft.functions.MinHashLSH

/** Pins the [[graft.plans.SortedLongIntersectCount]] contract: the
  * zero-allocation merge count equals `size(array_intersect)` on
  * sorted-distinct inputs, and [[MinHashLSH.shingleArrays]] — the one
  * producer every pair-verify call site derives from — actually emits
  * sorted-distinct arrays, so the contract holds at the call sites.
  */
class SortedIntersectSpec extends SparkSpec {

  test("graft_intersect_count equals size(array_intersect) on sorted-distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1 to 200).map { _ =>
      def arr() = Array.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong)
        .distinct.sorted
      (arr(), arr())
    }.toDF("a", "b")
    val got = rows.select(
      MinHashLSH.intersectCountCol(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("graft_intersect_count: empty and null edges") {
    graft.plans.GraftFunctions.register(spark)
    assert(spark.sql(
      "SELECT graft_intersect_count(array(), array(1L,2L))").head().getLong(0) === 0L)
    assert(spark.sql(
      "SELECT graft_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L))")
      .head().isNullAt(0))
    assert(spark.sql(
      "SELECT graft_intersect_count(array(1L,3L,9L), array(3L,4L,9L))")
      .head().getLong(0) === 2L)
    // null ELEMENTS are a contract violation, refused loudly — getLong
    // on a null slot would otherwise read garbage and miscount silently
    val ex = intercept[Exception] {
      spark.sql(
        "SELECT graft_intersect_count(array(CAST(NULL AS BIGINT), 1L), array(1L))")
        .head()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(ex).contains("null array element"))
  }

  test("intersectCountCol resolves against an explicitly-passed session") {
    import spark.implicits._
    // the overload the DataFrame-in-hand call sites use: registration
    // must land in the session the frame belongs to, not whichever
    // session happens to be thread-active
    val df = Seq((Array(1L, 2L, 3L), Array(2L, 3L, 9L))).toDF("a", "b")
    val n = df.select(
      MinHashLSH.intersectCountCol(df.sparkSession, col("a"), col("b")))
      .head().getLong(0)
    assert(n === 2L)
  }

  test("shingleArrays emits ascending-sorted distinct arrays (the call-site contract)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the quick brown fox again"),
      (2L, "a a a a a a"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val arrs = MinHashLSH.shingleArrays(docs, "doc_id", "text", 3)
      .select("sh_arr").collect().map(_.getSeq[Long](0))
    arrs.foreach { a =>
      assert(a === a.distinct.sorted, "sh_arr must be sorted-distinct")
      assert(a.nonEmpty)
    }
  }

  test("the pair-verify plans run the merge-count kernel, not array_intersect") {
    import spark.implicits._
    // the d131 GC fix is a PLAN property: if a refactor reintroduces
    // array_intersect into any verify, the per-candidate allocation
    // silently returns — pin the kernel's presence in the optimized plan
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val plans = Seq(
      graft.functions.JaccardJoin.similarPairs(docs, "doc_id", "text", 0.5),
      graft.functions.JaccardJoin.containmentPairs(docs, "doc_id", "text", 0.6),
      graft.functions.JaccardJoin.containmentPairsAcross(
        docs, docs.withColumnRenamed("doc_id", "doc_id"), "doc_id", "text", 0.6))
      .map(_.queryExecution.optimizedPlan.toString)
    plans.foreach { p =>
      assert(p.contains("graft_intersect_count"),
        "verify must run the zero-allocation merge count")
      assert(!p.contains("array_intersect"),
        "array_intersect back in a verify plan: per-candidate allocation returns")
    }
    CacheRegistry.releaseAll()
  }

  test("jaccardCol on shingle arrays matches the array_intersect formula") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "beta gamma delta epsilon zeta eta"),
      (3L, "totally different words here now then"))
      .toDF("doc_id", "text")
    val sh = MinHashLSH.shingleArrays(docs, "doc_id", "text", 2)
    val pairs = sh.select(col("doc_id").as("ida"), col("sh_arr").as("sa"))
      .crossJoin(sh.select(col("doc_id").as("idb"), col("sh_arr").as("sb")))
      .where(col("ida") < col("idb"))
    val ni = size(array_intersect(col("sa"), col("sb"))).cast("long")
    val ref = round(ni.cast("double") /
      (size(col("sa")) + size(col("sb")) - ni).cast("double"), 6)
    pairs.select(MinHashLSH.jaccardCol(col("sa"), col("sb")).as("fast"),
        ref.as("ref")).collect()
      .foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }
}
