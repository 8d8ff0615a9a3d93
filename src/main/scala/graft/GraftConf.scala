package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cluster-deployment configuration for the iterative operators.
  *
  * The graph/clustering fixpoints ([[functions.GraphOps]],
  * [[functions.MinHashLSH.clusters]]) truncate lineage each superstep.
  * Without a checkpoint directory they fall back to `localCheckpoint`,
  * whose truncated lineage roots in partitions held by the executors'
  * block managers — on a REAL cluster a lost executor then fails the job
  * instead of recomputing (single-JVM local mode cannot lose one, which
  * is why the fallback exists at all). This object turns that scaladoc
  * warning into enforced configuration: apply it once at session setup
  * and every superstep materialization in the library selects the
  * reliable-checkpoint path automatically.
  */
object GraftConf {

  /** Settings that must be present BEFORE the SparkContext exists —
    * pass to the session builder's `config(...)` (or spark-submit
    * --conf). `cleanCheckpoints` makes superseded reliable checkpoint
    * files eligible for deletion when their RDD is GC'd; without it a
    * long-running driver accumulates one file set per superstep for the
    * app's lifetime.
    */
  val builderConf: Map[String, String] = Map(
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  /** `file:` scheme served by [[graft.io.NioLocalFileSystem]] — the
    * shell-fork-free local filesystem (see that class's scaladoc for the
    * measured fork cost it removes). Apply wherever the session touches
    * local scratch (checkpoints, WorkDirs fixtures, catalog artifacts) on
    * a JVM without the Hadoop native library; deployments whose `file:`
    * access is negligible (HDFS/S3 checkpoints) can skip it — results
    * are identical either way.
    */
  val localFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> "graft.io.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.io.NioLocalFs")

  /** The one local-mode session recipe every main builds through, so a
    * profile measures the configuration the bench it adjudicates runs:
    * `local[cpus]` with as many shuffle partitions, AQE on, UTC, no UI,
    * and [[localFsConf]].
    *
    * The bench's stdout contract line must be its only stdout line: a
    * raised `maxToStringFields` keeps the "Truncated the string
    * representation of a plan" WARN from ever firing (10k covers every
    * plan here; the widest, the q24 pivot, is far under 1k fields).
    * `maxPlanStringLength` caps the plan description AQE renders on every
    * plan update even with the UI off — uncapped, that rendering measured
    * 4-9% of the deep composed queries' wall (d14/d19/d38; BASELINE.md,
    * "Plan-description rendering is capped"); no query result depends on
    * it.
    */
  def session(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "10000")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config(localFsConf)
      .getOrCreate()

  /** `SPARK_GRAFT_CPUS` when set, else the caller's default. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** Point the session at a reliable (HDFS/S3/shared-FS) checkpoint
    * directory. After this, [[Checkpoints.eager]] — the materialization
    * seam every iterative operator goes through — writes real checkpoint
    * files instead of localCheckpoint blocks.
    */
  def enableReliableCheckpoints(spark: SparkSession, dir: String): Unit =
    spark.sparkContext.setCheckpointDir(dir)

  /** True when the session will take the reliable path. */
  def reliableCheckpointsEnabled(spark: SparkSession): Boolean =
    spark.sparkContext.getCheckpointDir.isDefined

  private val StateProviderKey =
    "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider = "org.apache.spark.sql.execution." +
    "streaming.state.RocksDBStateStoreProvider"

  /** Select the RocksDB state store for streaming queries whose state is
    * CENSUS- rather than O(1)-sized — the heavy-hitter vocabulary census
    * (d166) or a windowed sketch under a very long watermark horizon
    * (d168). The default HDFS-backed provider holds every state row in
    * executor-heap hash maps, so a vocabulary that outgrows the heap is
    * an OOM; RocksDB keeps state in native memory + local disk and
    * degrades to spill instead. Results are IDENTICAL — the provider
    * changes where state lives, never what it holds (spec-pinned in
    * `StreamingSpec`). Read at STREAM START: set it before `start()`,
    * and existing checkpointed streams must not switch providers
    * mid-checkpoint (Spark refuses the mixed checkpoint loudly).
    */
  // the provider each session ran before enableRocksDbStateStore, so
  // disable RESTORES rather than clobbers a custom provider (the
  // StreamRunner prevConf discipline). WEAK keys: a session that enables
  // but never disables must not be pinned for the JVM lifetime by this
  // registry (the entry dies with the session, and its stale prior value
  // is meaningless once the session is unreachable anyway). WeakHashMap
  // is not thread-safe, so all access goes through its own lock.
  private val priorProvider =
    new java.util.WeakHashMap[SparkSession, Option[String]]()

  def enableRocksDbStateStore(spark: SparkSession): Unit = {
    priorProvider.synchronized {
      if (!priorProvider.containsKey(spark))
        priorProvider.put(spark, spark.conf.getOption(StateProviderKey))
    }
    spark.conf.set(StateProviderKey, RocksDbProvider)
  }

  /** True when streaming queries started now will keep state in RocksDB. */
  def rocksDbStateStoreEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(StateProviderKey).contains(RocksDbProvider)

  /** Restore the provider that was configured before
    * [[enableRocksDbStateStore]] (the session default if none was) for
    * streams started after this call — a session running a custom
    * third-party provider gets it back, not the HDFS default.
    */
  def disableRocksDbStateStore(spark: SparkSession): Unit =
    priorProvider.synchronized {
      Option(priorProvider.remove(spark))
    }.flatten match {
      case Some(prev) => spark.conf.set(StateProviderKey, prev)
      case None => spark.conf.unset(StateProviderKey)
    }
}

/** The one materialization seam for per-superstep lineage truncation
  * ([[graft.ops.Superstep]] truncates through it).
  */
object Checkpoints {

  // Block-holding RDDs behind localCheckpoint'd frames. localCheckpoint
  // blocks are freed neither by Dataset.unpersist (they are not a SQL
  // cache entry) nor by CacheRegistry/CacheManager — absent this registry
  // they die only when the ContextCleaner notices the RDD object was
  // GC'd, which on a large-heap driver can be tens of minutes after the
  // frame is dead (spark.cleaner.periodicGC.interval defaults to 30 min).
  // The bench measured exactly that: graph queries early in the run
  // parked GB of dead superstep blocks in the block manager, and later
  // queries paid for them in storage eviction churn (BASELINE.md). Tracking
  // here makes the blocks explicitly releasable.
  private val localFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  // Reliable-checkpoint file-sets by the frame's row RDD: without
  // spark.cleaner.referenceTracking.cleanCheckpoints their files live for
  // the app's lifetime, one copy per superstep; [[release]] deletes them.
  private val reliableFiles =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.rdd.RDD[_], String]()

  /** The row RDD behind a frame produced by [[eager]]: its analyzed plan
    * is a `LogicalRDD` whose `rdd` field is the localCheckpoint'd RDD (or,
    * on the reliable path, the row conversion over the checkpointed RDD).
    * Accessed reflectively — `LogicalRDD` lives in
    * `org.apache.spark.sql.execution` and is not API — with a None
    * fallback (tracking is then skipped and behavior degrades to
    * GC-driven release, never an error).
    */
  private def blockRdd(cp: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    try {
      val plan = cp.queryExecution.analyzed
      if (plan.getClass.getSimpleName == "LogicalRDD")
        Some(plan.getClass.getMethod("rdd").invoke(plan)
          .asInstanceOf[org.apache.spark.rdd.RDD[_]])
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Eagerly materialize `df` with truncated lineage: a reliable
    * `checkpoint` when the session has a checkpoint dir (cluster
    * deployments — survives executor loss and unpersist), a
    * `localCheckpoint` otherwise (single-JVM local mode, where block
    * loss cannot happen).
    *
    * The reliable path persists the physical RDD BEFORE materializing:
    * `RDD.checkpoint` writes its files in a SEPARATE job after the first
    * action, which would otherwise re-run the superstep's whole plan a
    * second time — the cached blocks feed the write job, then free.
    *
    * Every frame is tracked: release one explicitly with [[release]]
    * (the superstep loop calls it on the superseded round as soon as the
    * next one materializes, bounding live state per query to ~2 rounds),
    * and drain the rest with [[releaseAll]] once the query's result is
    * consumed (Bench and Verify do, between queries).
    */
  def eager(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.sparkContext.getCheckpointDir.isDefined) {
      val rdd = df.rdd
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
      rdd.count() // one job computes + feeds the checkpoint write
      rdd.unpersist(false)
      val cp = spark.createDataFrame(rdd, df.schema)
      for (f <- rdd.getCheckpointFile; r <- blockRdd(cp)) reliableFiles.put(r, f)
      cp
    } else {
      val cp = df.localCheckpoint(true)
      blockRdd(cp).foreach(localFrames.add)
      cp
    }
  }

  /** Free what backs a frame [[eager]] produced, now — not at the next
    * JVM GC: localCheckpoint blocks, or a reliable checkpoint's files.
    * ONLY for frames that are fully dead: a released frame (and anything
    * lazily derived from it) fails on its next action, because the
    * truncated lineage cannot recompute. The superstep loop calls this on
    * round t once round t+1 has materialized; t+1's plan roots in its OWN
    * blocks or files, so t is unreferenced by construction. No-op for a
    * frame [[eager]] did not produce.
    */
  def release(cp: DataFrame): Unit =
    blockRdd(cp).foreach { r =>
      localFrames.remove(r)
      try r.unpersist(true)
      catch { case scala.util.control.NonFatal(_) => () }
      Option(reliableFiles.remove(r)).foreach(deleteFiles(r, _))
    }

  private def deleteFiles(r: org.apache.spark.rdd.RDD[_], dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(r.sparkContext.hadoopConfiguration).delete(p, true)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Release every tracked frame — unpersist each localCheckpoint RDD,
    * delete each reliable checkpoint's files — and empty the registry.
    * Call once per query AFTER its result is fully consumed (the
    * [[CacheRegistry.releaseAll]] contract — and the same caveat: not
    * safe while a graft query is mid-execution). Blocking, for the same
    * reason CacheRegistry's release is.
    */
  def releaseAll(): Unit = {
    var r = localFrames.poll()
    while (r != null) {
      try r.unpersist(true)
      catch { case scala.util.control.NonFatal(_) => () }
      r = localFrames.poll()
    }
    reliableFiles.keySet.forEach { r =>
      Option(reliableFiles.remove(r)).foreach(deleteFiles(r, _))
    }
  }

  /** Number of currently tracked local-checkpoint RDDs (for specs and
    * the Bench storage accounting). */
  def trackedCount: Int = localFrames.size()
}
