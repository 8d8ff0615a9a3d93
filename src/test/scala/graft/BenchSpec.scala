package graft

import org.apache.spark.sql.functions.col

/** [[Bench.measure]] — the per-query measurement Bench and
  * `tools.Profile` share — and the [[Json]] path their artifacts and
  * Verify's `oracle_sql.json` are written through.
  */
class BenchSpec extends SparkSpec {

  private def withAcct[T](body: Bench.Acct => T): T = {
    val acct = new Bench.Acct
    spark.sparkContext.addSparkListener(acct)
    try body(acct) finally spark.sparkContext.removeSparkListener(acct)
  }

  test("a query that throws times -1 in every sample and is reported failed") {
    val q = withAcct(acct => Bench.measure(spark, "unused", acct, "boom",
      (_, _) => throw new IllegalStateException("boom")))
    assert(q.runs === Seq.fill(1 + Bench.warmRuns)(-1.0))
    assert(q.cold === -1.0)
    assert(q.steady === -1.0)
    assert(q.failed)
    assert(q.error === Some("java.lang.IllegalStateException: boom"))
  }

  test("a passing query's steady time is the min of its 4 samples, with jobs") {
    val q = withAcct(acct => Bench.measure(spark, "unused", acct, "ok",
      (s, _) => s.range(0, 2000, 1, 4).groupBy(col("id") % 7).count()))
    assert(q.runs.size === 4)
    assert(q.runs.forall(_ > 0))
    assert(q.cold === q.runs.head)
    assert(q.steady === q.runs.min)
    assert(!q.failed)
    assert(q.acctDelta.size === Bench.Acct.cols.size)
    assert(q.acctDelta.head > 0, s"jobs delta: ${q.acctDelta}")
    assert(q.sampleTOff.size === 4)
  }

  test("strings written by Json parse back equal, control characters included") {
    val nasty = Seq("say \"hi\"", "back\\slash", "tab\there", "cr\rlf\nend",
      "soh\u0001x", "\"\\\t\r\n\u0001")
    val written = Json.write(Json.fields(nasty.zipWithIndex.map {
      case (s, i) => s"k$i$s" -> Json.strings(Seq(s, s))
    }))
    assert(!written.exists(c => c < ' '), s"raw control char in: $written")
    val back = Json.mapper.readTree(written)
    nasty.zipWithIndex.foreach { case (s, i) =>
      val arr = back.get(s"k$i$s")
      assert(arr != null && arr.size == 2)
      assert(arr.get(0).asText === s)
    }
  }

  test("num3 writes three decimals rounded HALF_UP, like %.3f") {
    val vs = Seq(1.5, -1.0, 0.0, 0.0005, 2.0004999, 123456.789, 1e-7)
    val written = Json.write(Json.nums3(vs))
    assert(written === vs.map(v =>
      "%.3f".formatLocal(java.util.Locale.ROOT, v)).mkString("[", ",", "]"))
    assert(Json.write(Json.nums3(Seq(Double.NaN))) === "[null]")
  }
}
