package graft.tools

import graft.{GraftConf, SparkEntry}

/** Dev tool: print the formatted physical plan of one or more SparkEntry
  * queries — used to audit pushdown (PushedFilters/ReadSchema), broadcast
  * choices, and WholeStageCodegen coverage after every operator lands.
  *
  * Usage: runMain graft.tools.Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // SPARK_GRAFT_CPUS so plan dumps can be taken at the canonical
    // parallelism: a local[4] dump hides the spread/AQE behavior a
    // local[32] run executes
    val spark = GraftConf.session(GraftConf.envCpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
