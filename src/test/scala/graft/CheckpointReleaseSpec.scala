package graft

import org.apache.spark.sql.functions._

import graft.functions.GraphOps

/** Explicit release of the localCheckpoint blocks behind
  * [[Checkpoints.eager]] frames. Dead superstep blocks, freed only at JVM
  * GC via the ContextCleaner, were measured pressuring the storage pool
  * mid-bench (BASELINE.md); these specs pin the fix — frames are tracked,
  * releasable one-by-one (the superstep loop drops superseded rounds) and
  * drainable wholesale (Bench/Verify between queries).
  */
class CheckpointReleaseSpec extends SparkSpec {

  private def cachedRddBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def drainAll(): Unit = {
    CacheRegistry.releaseAll()
    Checkpoints.releaseAll()
    spark.sharedState.cacheManager.clearCache()
  }

  test("eager (local path) tracks the frame and releaseAll frees its blocks") {
    import spark.implicits._
    drainAll()
    val before = Checkpoints.trackedCount
    val cp = Checkpoints.eager((1 to 1000).toDF("x"))
    // the reflection on LogicalRDD found the block-holding RDD: if this
    // ever breaks on a Spark upgrade we want a failing spec, not a silent
    // regression to GC-driven release
    assert(Checkpoints.trackedCount == before + 1,
      "eager's localCheckpoint frame was not tracked - LogicalRDD reflection broke")
    assert(cp.count() == 1000)
    assert(cachedRddBytes() > 0, "localCheckpoint should hold blocks")
    Checkpoints.releaseAll()
    assert(Checkpoints.trackedCount == 0)
    assert(cachedRddBytes() == 0,
      "releaseAll must free every localCheckpoint block")
  }

  test("release frees one frame now; a released frame fails loudly on reuse") {
    import spark.implicits._
    drainAll()
    val a = Checkpoints.eager((1 to 500).toDF("x"))
    val b = Checkpoints.eager((1 to 500).toDF("y"))
    val withBoth = cachedRddBytes()
    Checkpoints.release(a)
    assert(Checkpoints.trackedCount == 1)
    assert(cachedRddBytes() < withBoth, "release(a) must drop a's blocks")
    assert(b.count() == 500, "unreleased frame keeps working")
    // the documented contract: released = dead; truncated lineage cannot
    // recompute, so reuse is an error, not a silent recompute
    intercept[Exception] { a.count() }
    Checkpoints.releaseAll()
    assert(cachedRddBytes() == 0)
  }

  test("release is a no-op on a plain (non-checkpointed) frame") {
    import spark.implicits._
    val df = (1 to 10).toDF("x")
    Checkpoints.release(df) // must not throw
    assert(df.count() == 10)
  }

  test("iterative operators keep live checkpoint blocks O(1) per query") {
    import spark.implicits._
    drainAll()
    // a path graph: LPA runs its full fixed rounds, one eager per round
    val edges = (1L until 40L).map(i => (i - 1, i)).toDF("src", "dst")
    val sym = edges.unionByName(edges.select(col("dst").as("src"),
      col("src").as("dst")))
    val lab = GraphOps.labelPropagation(sym, "src", "dst", iters = 6)
    assert(lab.count() == 40)
    // 6 rounds ran 6 eagers; superseded rounds were released in-loop, so
    // only the FINAL round's frame may remain tracked
    assert(Checkpoints.trackedCount <= 1,
      s"expected <=1 live checkpoint frame, got ${Checkpoints.trackedCount}")
    drainAll()
    assert(cachedRddBytes() == 0,
      "after consume + drain, no blocks may survive the query")
  }

  test("dangling pageRank is identical under reliable checkpoints " +
    "(cache-persist intermediates, cadence truncation)") {
    import spark.implicits._
    drainAll()
    val edges = (1L until 25L).map(i => (i - 1, i)).toDF("src", "dst")
    val local = GraphOps.pageRank(edges, "src", "dst", iters = 5,
      danglingMass = true).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    drainAll()
    val dir = graft.WorkDirs.acquire("test_graft_ckpt_dang")
    try {
      GraftConf.enableReliableCheckpoints(spark, dir.toString)
      // iters=5 < checkpointEvery=8: every intermediate round takes the
      // NEW reliable-mode branch (cache persist + count, no file write)
      val reliable = GraphOps.pageRank(edges, "src", "dst", iters = 5,
        danglingMass = true).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable === local,
        "materialization strategy must never change the recurrence")
    } finally {
      val f = spark.sparkContext.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(spark.sparkContext, None)
      drainAll()
    }
  }

  test("kCore and pageRank(dangling) release superseded supersteps too") {
    import spark.implicits._
    drainAll()
    val edges = (1L until 30L).map(i => (i - 1, i)).toDF("src", "dst")
    val sym = edges.unionByName(edges.select(col("dst").as("src"),
      col("src").as("dst")))
    assert(GraphOps.kCore(sym, "src", "dst", k = 1, rounds = 5).count() > 0)
    assert(Checkpoints.trackedCount <= 1)
    drainAll()
    assert(GraphOps.pageRank(edges, "src", "dst", iters = 5,
      danglingMass = true).count() == 30)
    assert(Checkpoints.trackedCount <= 1)
    drainAll()
    assert(cachedRddBytes() == 0)
  }
}
