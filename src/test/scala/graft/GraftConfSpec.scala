package graft

import org.apache.spark.sql.DataFrame

import graft.functions.{GraphOps, MinHashLSH}

/** Reliable-checkpoint selection: with a checkpoint dir set, every
  * superstep materialization writes real checkpoint files (survives
  * executor loss on a cluster); without one, localCheckpoint. The spec
  * flips the session's global checkpoint dir and restores it afterwards
  * so later suites keep the local-mode default.
  */
class GraftConfSpec extends SparkSpec {

  private def resetCheckpointDir(): Unit = {
    // SparkContext has no public unset; restore the local-mode default
    // via the private field so the shared session's later suites are
    // unaffected
    val f = spark.sparkContext.getClass.getDeclaredField("checkpointDir")
    f.setAccessible(true)
    f.set(spark.sparkContext, None)
  }

  test("Checkpoints.eager takes the reliable path when a dir is set") {
    import spark.implicits._
    assert(!GraftConf.reliableCheckpointsEnabled(spark))
    val dir = graft.WorkDirs.acquire("test_graft_ckpt")
    try {
      GraftConf.enableReliableCheckpoints(spark, dir.toString)
      assert(GraftConf.reliableCheckpointsEnabled(spark))
      val out = Checkpoints.eager(
        Seq((1L, 2L), (3L, 4L)).toDF("a", "b"))
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 2L), (3L, 4L)))
      // real checkpoint files landed under the dir
      def anyFile(p: java.io.File): Boolean =
        p.isFile || Option(p.listFiles).exists(_.exists(anyFile))
      assert(anyFile(dir), "no reliable checkpoint files written")
    } finally resetCheckpointDir()
    assert(!GraftConf.reliableCheckpointsEnabled(spark))
  }

  test("graph supersteps are identical under the reliable path") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L), (7L, 8L), (8L, 7L))
    def runAll(): Seq[Map[Long, Long]] = {
      val df = edges.toDF("src", "dst")
      def pairs(out: DataFrame) =
        out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Seq(
        pairs(GraphOps.labelPropagationConverged(df, "src", "dst", maxRounds = 5)),
        pairs(MinHashLSH.clustersStar(df.toDF("doc_a", "doc_b"))),
        pairs(GraphOps.kCoreConverged(df, "src", "dst", k = 2)))
    }
    val local = runAll()
    val dir = graft.WorkDirs.acquire("test_graft_ckpt_lpa")
    val reliable = try {
      GraftConf.enableReliableCheckpoints(spark, dir.toString)
      runAll()
    } finally resetCheckpointDir()
    assert(reliable === local)
  }

  test("reliable clustersStar keeps one checkpoint file-set, for its result") {
    import spark.implicits._
    // a 16-node chain contracts over several rounds, each one truncated
    val chain = (1L until 16L).map(a => (a, a + 1)).toDF("doc_a", "doc_b")
    val dir = graft.WorkDirs.acquire("test_graft_ckpt_star")
    try {
      GraftConf.enableReliableCheckpoints(spark, dir.toString)
      val labels = MinHashLSH.clustersStar(chain)
      def rddDirs(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles).toSeq.flatten.flatMap(c =>
          if (c.isDirectory && c.getName.startsWith("rdd-")) Seq(c)
          else if (c.isDirectory) rddDirs(c) else Nil)
      assert(rddDirs(dir).size === 1,
        s"superseded rounds' files must be deleted: ${rddDirs(dir).mkString(", ")}")
      // the surviving file-set backs the returned labels
      assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        (1L to 16L).map(_ -> 1L).toMap)
    } finally {
      resetCheckpointDir()
      CacheRegistry.releaseAll()
      Checkpoints.releaseAll()
    }
  }

  test("builderConf carries the checkpoint-file cleaner flag") {
    assert(GraftConf.builderConf(
      "spark.cleaner.referenceTracking.cleanCheckpoints") === "true")
  }
}
