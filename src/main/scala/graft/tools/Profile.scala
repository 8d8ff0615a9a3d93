package graft.tools

import graft.{Bench, GraftConf, SparkEntry}

/** Times named SparkEntry queries exactly as [[graft.Bench]] does — the
  * same session ([[GraftConf.session]], `SPARK_GRAFT_CPUS` or 32 cores),
  * the same warm-up and the same per-query measurement
  * ([[Bench.measure]]: cold + 3 warm runs, caches dropped after each) —
  * and prints, per query, the steady and cold seconds, the four samples
  * and the Spark accounting delta over them. Use it to price a new
  * query's floor or to re-time a flagged one without running the suite.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query> [query...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [query...]")
    val sfDir = args.head
    val names = args.tail.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftConf.session(GraftConf.envCpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    val acct = new Bench.Acct
    spark.sparkContext.addSparkListener(acct)
    Bench.warmUp(spark)
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    names.foreach { name =>
      val q = Bench.measure(spark, sfDir, acct, name, SparkEntry.queries(name))
      val accounting = Bench.Acct.cols.zip(q.acctDelta)
        .map { case (c, v) => s"$c=$v" }.mkString(" ")
      println(s"[profile] $name steady=${f3(q.steady)} cold=${f3(q.cold)} " +
        s"samples=${q.runs.map(f3).mkString("[", ",", "]")} $accounting" +
        (if (q.failed) " FAILED" else "") + q.error.fold("")(e => s" ($e)"))
      q.stream.foreach(l => println(s"[profile]   $l"))
    }
    spark.stop()
  }
}
