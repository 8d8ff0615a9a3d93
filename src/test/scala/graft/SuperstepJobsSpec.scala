package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraphOps, MinHashLSH}

/** Spark jobs per iterative operator, pinned: every operator runs its
  * rounds through [[graft.ops.Superstep]], and the count for each must
  * not rise above what the hand-rolled loop it replaced launched on the
  * same fixture (each case's second field, measured on those loops).
  *
  * Fixture, symmetrized: a K4, a 10-node chain (clusters needs 9 rounds,
  * crossing its truncation cadence; the 2-core peel strips it over 5
  * rounds), an isolated edge (synchronous LPA oscillates on it with
  * period 2) and a triangle with a 2-edge tail.
  */
class SuperstepJobsSpec extends SparkSpec {

  private lazy val pairs: DataFrame = {
    import spark.implicits._
    val clique = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    val chain = (10L until 19L).map(a => (a, a + 1))
    val tail = Seq((40L, 41L), (41L, 42L), (40L, 42L), (42L, 43L), (43L, 44L))
    (clique ++ chain ++ Seq((30L, 31L)) ++ tail).toDF("doc_a", "doc_b")
  }

  private lazy val sym: DataFrame = pairs
    .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    .withColumn("w", (lit(1L) + (col("doc_a") + col("doc_b")) % 3) * 1000L)

  /** The jobs started while `body` builds and collects its result. */
  private def jobsOf(body: => DataFrame): Int = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    CacheRegistry.releaseAll()
    Checkpoints.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    sc.addSparkListener(listener)
    try { assert(body.collect().nonEmpty); drain(); jobs.get }
    finally {
      sc.removeSparkListener(listener)
      CacheRegistry.releaseAll()
      Checkpoints.releaseAll()
    }
  }

  private val cases: Seq[(String, Int, () => DataFrame)] = Seq(
    ("pageRank(dangling)", 44, () => GraphOps.pageRank(sym, "doc_a", "doc_b",
      iters = 5, danglingMass = true)),
    ("kCore", 17, () => GraphOps.kCore(sym, "doc_a", "doc_b", k = 2)),
    ("kCoreConverged", 38, () => GraphOps.kCoreConverged(sym, "doc_a", "doc_b", k = 2)),
    ("kCoreWeighted", 17, () => GraphOps.kCoreWeighted(sym, "doc_a", "doc_b", "w",
      s = 2000L)),
    ("kCoreWeightedConverged", 18, () => GraphOps.kCoreWeightedConverged(sym,
      "doc_a", "doc_b", "w", s = 2000L)),
    ("labelPropagation", 22, () => GraphOps.labelPropagation(sym, "doc_a", "doc_b")),
    ("labelPropagationConverged", 127, () => GraphOps.labelPropagationConverged(sym,
      "doc_a", "doc_b")),
    ("clusters", 52, () => MinHashLSH.clusters(pairs)),
    ("clustersStar", 74, () => MinHashLSH.clustersStar(pairs)))

  cases.foreach { case (name, before, run) =>
    test(s"$name launches no more jobs than the loop it replaced") {
      val jobs = jobsOf(run())
      assert(jobs <= before, s"$name: $jobs jobs, the hand-rolled loop launched $before")
    }
  }
}
