package graft

import org.apache.spark.sql.functions._

import graft.functions.{Spread, TextAnalysis}

/** [[graft.functions.Spread]] — the narrow-scan parallelism guard (r19
  * optimization, r20 hardening): spreads a below-cores FILE scan
  * round-robin, is the identity at or above the session's parallelism and
  * on every non-file-scan plan shape (the r20 guard: checkpointed /
  * in-memory / range leaves must never be re-spread inside iterative
  * loops), and never changes what a set-oriented consumer computes.
  */
class SpreadSpec extends SparkSpec {

  /** A single-row-group parquet scan — the one plan shape the spread
    * exists for. */
  private def narrowScan(n: Int): org.apache.spark.sql.DataFrame = {
    val dir = WorkDirs.acquire("spread_spec").toString
    val path = s"$dir/narrow_$n"
    spark.range(n).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("narrow file scan spreads to the session's default parallelism") {
    val one = narrowScan(100)
    assert(one.rdd.getNumPartitions == 1)
    val spread = Spread.toCores(one)
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("projections/filters over the scan still spread; results equal") {
    val df = narrowScan(100).where(col("id") > 1).select(col("id"))
    val spread = Spread.toCores(df)
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(spread.collect().map(_.getLong(0)).sorted.toSeq ==
      df.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("non-file leaves pass through untouched (r20 guard)") {
    // Range leaf: parallelism is the engine's to decide
    val range = spark.range(0, 100, 1, 1).toDF("id")
    assert(Spread.toCores(range) eq range)
    // localCheckpoint leaf (LogicalRDD) — the iterative-superstep shape
    // whose re-spread bloated d12's plan 194 -> 676 Exchanges in r19
    val cp = narrowScan(50).localCheckpoint(true)
    assert(Spread.toCores(cp) eq cp)
    // in-memory local relation
    import spark.implicits._
    val local = Seq((1L, "a")).toDF("id", "t")
    assert(Spread.toCores(local) eq local)
  }

  test("exchange-rooted frames pass through untouched (same instance)") {
    // probing these would materialize their AQE stages at plan time
    val joined = narrowScan(50).join(narrowScan(50), "id").coalesce(1)
    assert(Spread.toCores(joined) eq joined)
    // an input the caller already repartitioned fails the narrow test too
    val wide = narrowScan(100)
      .repartition(spark.sparkContext.defaultParallelism + 2)
    assert(Spread.toCores(wide) eq wide)
  }

  test("set-oriented results are identical with and without the spread") {
    val dir = WorkDirs.acquire("spread_spec").toString
    val path = s"$dir/census_docs"
    import spark.implicits._
    Seq((1L, "aa bb aa"), (2L, "bb cc"), (3L, "aa bb aa"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(path)
    val docs = spark.read.parquet(path)
    def census(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bpePairCensus(df, "text")
        .orderBy("left_tok", "right_tok")
        .collect().toSeq
    assert(census(Spread.toCores(docs)) == census(docs))
  }
}
