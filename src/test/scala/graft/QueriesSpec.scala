package graft

import org.apache.spark.sql.functions._

import graft.queries._

class FieldFilterSpec extends SparkSpec {

  private lazy val iF = Fixtures.instanceField(spark)
  private lazy val iM = Fixtures.instanceMessage(spark)

  test("seq_nb path pins one exact instance") {
    val got = FieldFilter.fieldFilter(iF, iM, FieldFilter.Args(seqNb = 120))
    assert(got.collect().map(_.getAs[Long]("instance_message_id")).toSeq === Seq(120L))
  }

  test("log_time bounds resolve to instance-id bounds") {
    val got = FieldFilter.fieldFilter(iF, iM,
      FieldFilter.Args(startLogTime = 100000L, endLogTime = 130000L))
    assert(got.collect().map(_.getAs[Long]("instance_message_id")).sorted.toSeq ===
      Seq(110L, 115L, 120L, 130L))
  }

  test("duration derives the missing end bound (end = start + duration)") {
    val got = FieldFilter.fieldFilter(iF, iM,
      FieldFilter.Args(startLogTime = 100000L, duration = 30000L))
    assert(got.collect().map(_.getAs[Long]("instance_message_id")).sorted.toSeq ===
      Seq(110L, 115L, 120L, 130L))
  }

  test("all-absent args return the whole log") {
    val got = FieldFilter.fieldFilter(iF, iM, FieldFilter.Args())
    assert(got.count() === iF.count())
  }

  test("unresolvable bound returns empty instead of throwing") {
    val got = FieldFilter.fieldFilter(iF, iM, FieldFilter.Args(startLogTime = 999999999L))
    assert(got.count() === 0)
  }

  test("field/src/dst equality filters compose") {
    val got = FieldFilter.fieldFilter(iF, iM,
      FieldFilter.Args(uevolFieldId = 6, srcId = Fixtures.Src))
    assert(got.count() === 3)
  }

  test("boundary padding echoes window-edge values at the window bounds") {
    import spark.implicits._
    val updates = Seq(
      (5L, 100L, 110L), (9L, 110L, 120L), (15L, 120L, 130L))
      .toDF("log_time", "previous_value", "new_value")
    val got = FieldFilter.updatesWithBoundaries(updates, lit(true), 4L, 20L)
      .orderBy("log_time")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // synthetic first row at t=4 valued prev(first)=100; synthetic last at t=20 valued new(last)=130
    assert(got.head === (4L, 100L))
    assert(got.last === (20L, 130L))
    assert(got.length === 5)
  }
}

class MessageReconstructSpec extends SparkSpec {

  private lazy val snaps = Fixtures.snapshots(spark)

  private def run(target: Long) =
    MessageReconstruct.getMessage(
      Fixtures.instanceField(spark),
      Fixtures.instanceMessage(spark),
      Fixtures.uevolField(spark),
      Some(Fixtures.snapshotCatalog(spark)),
      snaps(_),
      target)

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getAs[Int]("uevol_field_id"), r.getAs[String]("relative_path")) ->
        (r.getAs[Double]("value"), r.getAs[Long]("instance_message_id"))
    }.toMap

  test("reconstruction at target 150 matches brute-force replay") {
    assert(asMap(run(150L)) === Fixtures.replayExpected(150L))
  }

  test("reconstruction at target 60 (first epoch) matches replay") {
    assert(asMap(run(60L)) === Fixtures.replayExpected(60L))
  }

  test("reconstruction exactly on a snapshot start") {
    assert(asMap(run(100L)) === Fixtures.replayExpected(100L))
  }

  test("unknown target instance yields empty result (reference NULL branch)") {
    assert(run(9999L).count() === 0)
  }

  test("result is ordered by (field, path) and decorated with names") {
    val rows = run(150L).collect()
    val keys = rows.map(r => (r.getAs[Int]("uevol_field_id"), r.getAs[String]("relative_path")))
    assert(keys.toSeq === keys.sortBy(identity).toSeq)
    assert(rows.map(_.getAs[String]("name")).toSet === (1 to 6).map(i => s"f$i").toSet)
  }

  test("A->B->A oscillation: lattice replays B, snapshot-diff parity keeps A") {
    import spark.implicits._
    // one field; snapshots at 100 and 200 both carry A=1.0; inside the
    // epoch the value goes to B=2.0 (id 110 <= target 150) and back to A
    // after the target (id 160 <= snap_max). The replay-consistent lattice
    // must report B; the reference's same/diff shortcut reports A.
    val instField = Seq(
      (1, 1, 110L, 7, 0, "000", 2.0),
      (1, 1, 160L, 7, 0, "000", 1.0))
      .toDF("uevol_field_id", "uevol_message_id", "instance_message_id",
        "src_id", "dst_id", "relative_path", "new_value")
    val instMsg = Seq((150L, 1, 7, 0))
      .toDF("id", "uevol_message_id", "src_id", "dst_id")
    val fields = Seq((1, 1, "f1", 0)).toDF("id", "uevol_message_id", "name", "type")
    val catalog = Seq(("s100", 100L), ("s200", 200L))
      .toDF("name", "start_instance_message_id")
    val snap: String => org.apache.spark.sql.DataFrame = n =>
      Seq((1, 7, 0, if (n == "s100") 100L else 200L, "{\"000\":1.0}"))
        .toDF("uevol_field_id", "src_id", "dst_id", "instance_message_id", "json_value")
    val lattice = MessageReconstruct.getMessage(
      instField, instMsg, fields, Some(catalog), snap, 150L)
    assert(lattice.select("value").head().getDouble(0) === 2.0)
    val parity = MessageReconstruct.getMessageSnapshotDiff(
      instField, instMsg, fields, Some(catalog), snap, 150L)
    assert(parity.select("value").head().getDouble(0) === 1.0)
    // parity keeps the snapshot instant (min of the bracket)
    assert(parity.select("instance_message_id").head().getLong(0) === 100L)
  }

  test("snapshot-diff on a degenerate bracket falls back to the lattice") {
    // target 150 is beyond the last snapshot start: snap_max == snap_min,
    // change detection is skipped (GetMessage.sql:611-990)
    val got = MessageReconstruct.getMessageSnapshotDiff(
      Fixtures.instanceField(spark), Fixtures.instanceMessage(spark),
      Fixtures.uevolField(spark), Some(Fixtures.snapshotCatalog(spark)),
      snaps(_), 150L)
    assert(asMap(got) === Fixtures.replayExpected(150L))
  }

  test("log-only messageContent: argmax value, -1 for never-updated") {
    val got = MessageReconstruct.messageContent(
      Fixtures.instanceField(spark), Fixtures.uevolField(spark),
      Fixtures.MsgType, Fixtures.Src, Fixtures.Dst, 150L)
      .collect().map(r => r.getAs[Int]("id") -> r.getAs[Long]("value")).toMap
    assert(got(1) === 12L)  // update at 120
    assert(got(2) === -1L)  // f2's only update (160) is beyond target; no snapshot in log-only mode
    assert(got(4) === -1L)  // never updated
    assert(got(6) === 62L)  // argmax of 110,130
  }
}

class MultipleFieldsSpec extends SparkSpec {

  private lazy val snaps = Fixtures.snapshots(spark)

  test("argument triples reconstruct like getMessage, limited to args") {
    val args = MultipleFields.parseArgs(spark,
      "(1),(4),(6)", s"(${Fixtures.Src}),(${Fixtures.Src}),(${Fixtures.Src})",
      s"(${Fixtures.Dst}),(${Fixtures.Dst}),(${Fixtures.Dst})")
    val got = MultipleFields.getMultipleFields(
      Fixtures.instanceField(spark), Fixtures.uevolField(spark),
      Some(Fixtures.snapshotCatalog(spark)), snaps(_), args, 150L)
      .collect().map { r =>
        (r.getAs[Int]("uevol_field_id"), r.getAs[String]("relative_path")) -> r.getAs[Double]("value")
      }.toMap
    val want = Fixtures.replayExpected(150L)
      .filter { case ((f, _), _) => Set(1, 4, 6)(f) }
      .map { case (k, (v, _)) => k -> v }
    assert(got === want)
  }

  test("parseArgs zips positionally, dedups, carries filters") {
    val args = MultipleFields.parseArgs(spark, "(1),(2),(1)", "(7),(8),(7)", "(9),(9),(9)",
      "(value > 5),(),(value > 5)")
    val rows = args.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(rows === Set((1, 7, 9, "value > 5"), (2, 8, 9, "")))
  }
}

class UpdateHistorySpec extends SparkSpec {

  test("LOCF carries non-updated columns; seed row present; filters rewrite") {
    import spark.implicits._
    val args = Seq((1, 10, 20, ""), (6, 10, 20, ""))
      .toDF("uevol_field_id", "src_id", "dst_id", "filter")
    val start = Seq((1, 10, 20, 11.0), (6, 10, 20, 60.0))
      .toDF("uevol_field_id", "src_id", "dst_id", "value")
    val got = UpdateHistory.updateHistory(
      Fixtures.instanceField(spark), args, start, 100L, 150L)
    val rows = got.collect().map(r =>
      r.getAs[Long]("instance_message_id") ->
        (r.getAs[Long]("id1_src10_dst20"), r.getAs[Long]("id6_src10_dst20"))).toMap
    // events in window touching args: 110 (f6->61), 115 (f6 path 000.001 -> 8,
    // which the history pivot tracks like the reference: latest new_value per
    // triple regardless of path), 120 (f1->12), 130 (f6->62)
    assert(rows(100L) === (11L, 60L))  // seed
    assert(rows(110L) === (11L, 61L))  // f1 carried
    assert(rows(115L) === (11L, 8L))   // f6 path update lands on the triple
    assert(rows(120L) === (12L, 8L))   // f6 carried
    assert(rows(130L) === (12L, 62L))
    assert(rows.keySet === Set(100L, 110L, 115L, 120L, 130L))
  }

  test("filter strings with value placeholder AND-compose") {
    import spark.implicits._
    val args = Seq((1, 10, 20, "value >= 12"), (6, 10, 20, ""))
      .toDF("uevol_field_id", "src_id", "dst_id", "filter")
    val start = Seq((1, 10, 20, 11.0), (6, 10, 20, 60.0))
      .toDF("uevol_field_id", "src_id", "dst_id", "value")
    val got = UpdateHistory.updateHistory(
      Fixtures.instanceField(spark), args, start, 100L, 150L)
    assert(got.collect().map(_.getAs[Long]("instance_message_id")).sorted.toSeq ===
      Seq(120L, 130L))
  }

  test("long format matches the wide pivot cell-for-cell, incl. filters") {
    import spark.implicits._
    val args = Seq((1, 10, 20, "value >= 12"), (6, 10, 20, ""))
      .toDF("uevol_field_id", "src_id", "dst_id", "filter")
    val start = Seq((1, 10, 20, 11.0), (6, 10, 20, 60.0))
      .toDF("uevol_field_id", "src_id", "dst_id", "value")
    val wide = UpdateHistory.updateHistory(
      Fixtures.instanceField(spark), args, start, 100L, 150L)
    val long = UpdateHistory.updateHistoryLong(
      Fixtures.instanceField(spark), args, start, 100L, 150L)
    val wideCells = wide.collect().flatMap { r =>
      Seq((r.getAs[Long]("instance_message_id"), 1) -> r.getAs[Long]("id1_src10_dst20"),
        (r.getAs[Long]("instance_message_id"), 6) -> r.getAs[Long]("id6_src10_dst20"))
    }.toMap
    val longCells = long.collect().map { r =>
      (r.getAs[Long]("instance_message_id"), r.getAs[Int]("uevol_field_id")) ->
        r.getAs[Long]("value")
    }.toMap
    assert(longCells === wideCells)
  }

  test("fromLog seeds nested-only triples from their smallest leaf path") {
    import spark.implicits._
    // f3's state at startId=100 exists ONLY at nested paths (000.001 -> 1,
    // 000.002 -> 2; no "000" row). The documented seed rule picks the
    // smallest relative_path — so f3 seeds 1, not NULL. f1 has a scalar
    // row ("000" sorts before any leaf), so its seed is unchanged by the
    // rule. NOTE: this asserts graft's DOCUMENTED multi-leaf semantics, a
    // deliberate divergence from the reference's order-dependent seed
    // cursor (see updateHistoryFromLog's Scaladoc) — not reference parity.
    val args = Seq((3, 10, 20, ""), (1, 10, 20, ""))
      .toDF("uevol_field_id", "src_id", "dst_id", "filter")
    val got = UpdateHistory.updateHistoryFromLog(
      Fixtures.instanceField(spark), Fixtures.uevolField(spark),
      Some(Fixtures.snapshotCatalog(spark)), Fixtures.snapshots(spark)(_),
      args, 100L, 150L)
    val byId = got.collect().map(r =>
      r.getAs[Long]("instance_message_id") ->
        (r.getAs[Long]("id3_src10_dst20"), r.getAs[Long]("id1_src10_dst20"))).toMap
    assert(byId(100L) === (1L, 11L)) // seed: f3 smallest-path, f1 scalar
    assert(byId(120L) === (1L, 12L)) // f3 LOCF-carried across f1's update
  }

  test("fromLog auto-routes wide requests past maxWideTriples to the long form") {
    import spark.implicits._
    // 257 triples > maxWideTriples=256: even with wide=true the call must
    // return the fixed 5-column long schema, never a 257-column pivot
    assert(UpdateHistory.maxWideTriples === 256)
    val manyArgs = Seq.tabulate(UpdateHistory.maxWideTriples + 1)(i =>
        (i + 1, 10, 20, ""))
      .toDF("uevol_field_id", "src_id", "dst_id", "filter")
    val routed = UpdateHistory.updateHistoryFromLog(
      Fixtures.instanceField(spark), Fixtures.uevolField(spark),
      Some(Fixtures.snapshotCatalog(spark)), Fixtures.snapshots(spark)(_),
      manyArgs, 100L, 150L, wide = true)
    assert(routed.columns.toSeq === Seq("instance_message_id",
      "uevol_field_id", "src_id", "dst_id", "value"))
    // at or below the ceiling the wide pivot still comes back wide
    val fewArgs = Seq((1, 10, 20, "")).toDF(
      "uevol_field_id", "src_id", "dst_id", "filter")
    val wideOut = UpdateHistory.updateHistoryFromLog(
      Fixtures.instanceField(spark), Fixtures.uevolField(spark),
      Some(Fixtures.snapshotCatalog(spark)), Fixtures.snapshots(spark)(_),
      fewArgs, 100L, 150L, wide = true)
    assert(wideOut.columns.contains("id1_src10_dst20"))
  }

  test("value placeholder rewrite is whole-word only") {
    import spark.implicits._
    // 'evalue'/'value2' must NOT be rewritten — the expression below parses
    // only if the single whole-word `value` becomes the pivot column.
    val args = Seq((1, 10, 20, "value + length('evalue') >= 18"), (6, 10, 20, ""))
      .toDF("uevol_field_id", "src_id", "dst_id", "filter")
    val start = Seq((1, 10, 20, 11.0), (6, 10, 20, 60.0))
      .toDF("uevol_field_id", "src_id", "dst_id", "value")
    val got = UpdateHistory.updateHistory(
      Fixtures.instanceField(spark), args, start, 100L, 150L)
    // 11 + 6 = 17 < 18 until f1 updates to 12 at id 120
    assert(got.collect().map(_.getAs[Long]("instance_message_id")).sorted.toSeq ===
      Seq(120L, 130L))
  }
}

class SnapshotDumpSpec extends SparkSpec {

  test("dump -> flatten round-trips the state at the instant, all depths") {
    import spark.implicits._
    // scalar, dotted degree-1, and deep degree-2 paths; later updates win
    val log = Seq(
      (1, 1, 10L, 7, 0, "000", 1.5),
      (1, 1, 20L, 7, 0, "000", 2.5),            // supersedes 1.5
      (1, 1, 15L, 7, 0, "000.001.001", 3.0),
      (1, 1, 16L, 7, 0, "000.001.002", 4.0),
      (2, 1, 12L, 7, 0, "000.002", 5.0),
      (2, 1, 30L, 7, 0, "000.002", 9.0),        // beyond the dump instant
      (1, 1, 14L, 9, 0, "000", 6.0))
      .toDF("uevol_field_id", "uevol_message_id", "instance_message_id",
        "src_id", "dst_id", "relative_path", "new_value")
    val dumped = SnapshotDump.dump(log, at = 25L)
    assert(dumped.select("instance_message_id").distinct().head().getLong(0) === 25L)
    val back = graft.ops.JsonExplode.flatten(dumped, "json_value",
      Seq("uevol_field_id", "src_id"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    assert(back === Map(
      (1, 7, "000") -> 2.5,
      (1, 7, "000.001.001") -> 3.0,
      (1, 7, "000.001.002") -> 4.0,
      (2, 7, "000.002") -> 5.0,
      (1, 9, "000") -> 6.0))
  }

  test("rendered json nests deep leaves under the 2-segment parent, sorted") {
    import spark.implicits._
    val rows = Seq((1, "000", 1.0), (1, "000.001.002", 3.0), (1, "000.001.001", 2.0))
      .toDF("uevol_field_id", "relative_path", "value")
    val js = graft.ops.SnapshotJson.render(rows, Seq("uevol_field_id"))
      .head().getAs[String]("json_value")
    assert(js ===
      """{"000":1.0,"000.001":{"000.001.001":2.0,"000.001.002":3.0}}""")
  }
}

class BackupSpec extends SparkSpec {

  test("compaction = latest-per-unchanged-field union recent deltas") {
    // cutoff at log_time 112000 -> id limit 112 -> recent = updates at 115,120,130,160
    val got = Backup.compact(
      Fixtures.instanceField(spark), Fixtures.instanceMessage(spark),
      Fixtures.uevolField(spark), 112000L)
    val byId = got.collect().map(r =>
      (r.getAs[Int]("uevol_field_id"), r.getAs[Long]("instance_message_id"))).toSet
    // recent rows kept verbatim:
    assert(byId.contains((6, 115L)) && byId.contains((1, 120L)) &&
      byId.contains((6, 130L)) && byId.contains((2, 160L)))
    // f1,f2,f6 changed recently; no other field has pre-cutoff updates except f1@50,f6@110
    // unchanged fields with history: none (3,4,5 never updated) -> nothing older
    assert(byId.size === 4)
  }

  test("cutoff after all activity compacts to one row per updated field") {
    val got = Backup.compact(
      Fixtures.instanceField(spark), Fixtures.instanceMessage(spark),
      Fixtures.uevolField(spark), 999999999L)
    val rows = got.collect().map(r =>
      (r.getAs[Int]("uevol_field_id"), r.getAs[Long]("instance_message_id"))).toSet
    assert(rows === Set((1, 120L), (2, 160L), (6, 130L)))
  }
}

/** Cross-family invariant: compaction bounds the log WITHOUT losing
  * current-state reconstructability (Backup.java's purpose) — and the
  * round-trip through the partitioned parquet layout preserves it too.
  */
class CompactionInvariantSpec extends SparkSpec {

  private def currentState(log: org.apache.spark.sql.DataFrame) =
    MessageReconstruct.messageContent(log, Fixtures.uevolField(spark),
      Fixtures.MsgType, Fixtures.Src, Fixtures.Dst, Long.MaxValue)
      .collect().map(r => r.getAs[Int]("id") -> r.getAs[Long]("value")).toMap

  test("compact -> write layout -> read -> reconstruct equals the full log") {
    val full = Fixtures.instanceField(spark)
    val compacted = queries.Backup.compact(full, Fixtures.instanceMessage(spark),
      Fixtures.uevolField(spark), 112000L)
    assert(currentState(compacted) === currentState(full))
    // per-suite family name (advisor, round 18): StreamingSpec's
    // compaction-sink test acquires its own family, so neither suite can
    // wipe the other's dir mid-test under a parallel-suite runner
    val dir = graft.WorkDirs.acquire("test_graft_compact_queries").toString
    try {
      graft.io.TableWriter.writeDeltaLog(compacted, dir)
      assert(currentState(spark.read.parquet(dir)) === currentState(full))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

/** SURVEY.md §5.3 cross-family invariant: the updateHistory wide row at
  * event id i must equal getMultipleFields(i) — the reference itself relies
  * on this (GetUpdateHistory.sql:29 seeds the history from
  * GetMultipleFieldsHistory). Checked for a scalar-path triple across every
  * row the history emits, including the seed.
  */
class HistoryReconstructionConsistencySpec extends SparkSpec {

  test("updateHistory rows match point-in-time reconstruction at each event id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val snaps = Fixtures.snapshots(spark)
    val args = Seq((1, Fixtures.Src, Fixtures.Dst, ""))
      .toDF("uevol_field_id", "src_id", "dst_id", "filter")
    def reconstructAt(target: Long): Double =
      MultipleFields.getMultipleFields(
        Fixtures.instanceField(spark), Fixtures.uevolField(spark),
        Some(Fixtures.snapshotCatalog(spark)), snaps(_), args, target)
        .where(col("relative_path") === "000")
        .collect().map(_.getAs[Double]("value")).head
    val startState = Seq((1, Fixtures.Src, Fixtures.Dst, reconstructAt(100L)))
      .toDF("uevol_field_id", "src_id", "dst_id", "value")
    val hist = UpdateHistory.updateHistory(
      Fixtures.instanceField(spark), args, startState, 100L, 150L)
      .collect()
      .map(r => r.getAs[Long]("instance_message_id") ->
        r.getAs[Long]("id1_src10_dst20")).toMap
    assert(hist.nonEmpty)
    hist.foreach { case (id, histValue) =>
      assert(histValue.toDouble === reconstructAt(id),
        s"history row at $id diverges from reconstruction")
    }
  }
}

class DriverQueryPlanSpec extends SparkSpec {

  test("q17 reconstruction grid broadcasts the tiny type dim explicitly") {
    val df = SparkEntry.queries("q17_reconstruct_state")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the cross join against the ~5-row distinct type dim must be a
    // broadcast nested loop, not AQE's best-effort local conversion
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected explicit broadcast cross join, got:\n$plan")
    assert(df.limit(1).count() === 1)
  }

  test("q39 sessionize: per-session agg reuses the window's distribution") {
    val df = SparkEntry.queries("q39_sessionize")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // one hash exchange for the per-user window; the (user_id, session_idx)
    // grouping must NOT add a second one (partitioning on user_id already
    // satisfies the clustered distribution)
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).length
    assert(exchanges === 1,
      s"expected a single hash exchange, got $exchanges:\n$plan")
    assert(df.limit(1).count() === 1)
  }

  test("q29 boundary padding: one scan of the slice, no global sort-limit") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, Sort}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = SparkEntry.queries("q29_field_updates_pad")(
      spark, "/root/testdata/sf0.001")
    val opt = df.queryExecution.optimizedPlan
    // the boundary rows come from one min_by/max_by aggregate, not the old
    // pair of global orderBy(...).limit(1)s — no Sort/Limit nodes anywhere
    val sorts = opt.collect { case s: Sort => s }.length
    val limits = opt.collect { case l: LocalLimit => l }.length
    assert(sorts === 0 && limits === 0,
      s"expected no global sort-limit boundary probes, got $sorts sorts / $limits limits:\n$opt")
    // the update slice (events scan + lag window) is persisted and read by
    // exactly the two consumers (core + the boundary agg); every file read
    // goes through that cache, so the slice computes once
    val cacheReads = opt.collect { case r: InMemoryRelation => r }.length
    val fileReads = opt.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.length
    assert(cacheReads === 2,
      s"expected core + boundary agg to read the cached slice, got $cacheReads:\n$opt")
    assert(fileReads === 0,
      s"expected all reads through the cached slice, got $fileReads file reads:\n$opt")
    assert(df.limit(1).count() === 1)
    graft.CacheRegistry.releaseAll()
  }

  test("q44 trailing window: event_type filter pushes into the scan, one exchange") {
    val df = SparkEntry.queries("q44_trailing_window")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]"),
      s"expected the type filter in the parquet scan:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).length
    assert(exchanges === 1,
      s"expected one hash exchange for the keyed range window, got $exchanges:\n$plan")
    assert(df.limit(1).count() === 1)
  }

  test("q43 LOCF grid: no persist; bounds branch prunes the max_by dedup") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = SparkEntry.queries("q43_locf_grid")(
      spark, "/root/testdata/sf0.001")
    val opt = df.queryExecution.optimizedPlan
    // measured (BASELINE.md, "q43 LOCF grid ships unpersisted"):
    // unpersisted wins 2.3-2.8x at sf0.1 AND 10x, because the bounds
    // branch only reads dedup's group keys and Catalyst prunes its max_by
    // away — assert both halves so a regression reopens the question loudly
    assert(opt.collect { case r: InMemoryRelation => r }.isEmpty,
      s"locfGrid must not persist (recompute measured 2.3-2.8x faster):\n$opt")
    val maxBys = opt.toString.sliding("max_by".length).count(_ == "max_by")
    assert(maxBys === 1,
      s"expected the bounds branch to prune the max_by dedup (1 max_by in plan), got $maxBys:\n$opt")
    assert(df.limit(1).count() === 1)
  }
}

/** Plan shape of the two point lookups on the fixture store written as
  * parquet: the tiered candidate union resolves in ONE hash exchange with
  * the map-side `partial_max_by` combine below it, the log is scanned
  * once, the final (field, path) order adds no range exchange, and a call
  * costs at most five Spark jobs including its driver-side collects.
  */
class PointLookupPlanSpec extends SparkSpec {

  private lazy val dir = graft.WorkDirs.acquire("test_graft_point_lookup_plan").toString

  private lazy val store: Map[String, org.apache.spark.sql.DataFrame] = {
    val tables = Map(
      "instance_field" -> Fixtures.instanceField(spark),
      "instance_message" -> Fixtures.instanceMessage(spark),
      "uevol_field" -> Fixtures.uevolField(spark)) ++ Fixtures.snapshots(spark)
    tables.map { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
      name -> spark.read.parquet(s"$dir/$name")
    }
  }

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  /** `body`'s result and the jobs started while it ran, counted by a
    * listener; the bus is drained on both sides so no other call's events
    * leak in.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    sc.addSparkListener(listener)
    try { val result = body; drain(); (result, jobs.get) }
    finally sc.removeSparkListener(listener)
  }

  private def checkShape(call: => org.apache.spark.sql.DataFrame): Unit = {
    assert(store.nonEmpty) // write the store before counting
    val (df, jobs) = jobsOf { val df = call; assert(df.collect().nonEmpty); df }
    assert(jobs <= 5, s"expected at most 5 jobs per lookup, got $jobs")
    // the plan AQE ran (the string also carries the initial plan after it)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).toSeq
    assert(exchanges.length === 1,
      s"expected one hash exchange, got ${exchanges.length}:\n$plan")
    assert(plan.indexOf("partial_max_by") > exchanges.head.start,
      s"expected the partial_max_by combine below the exchange:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"expected no range exchange for the final order:\n$plan")
    val opt = df.queryExecution.optimizedPlan
    val logScans = opt.collectLeaves().count(_.output.exists(_.name == "new_value"))
    assert(logScans === 1, s"expected one scan of the log, got $logScans:\n$opt")
  }

  test("getMessage: one hash exchange over partial_max_by, one log scan, <= 5 jobs") {
    checkShape(MessageReconstruct.getMessage(store("instance_field"),
      store("instance_message"), store("uevol_field"),
      Some(Fixtures.snapshotCatalog(spark)), store, 150L))
  }

  test("getMultipleFields: one hash exchange over partial_max_by, one log scan, <= 5 jobs") {
    val args = MultipleFields.parseArgs(spark, "(1),(4),(6)",
      s"(${Fixtures.Src}),(${Fixtures.Src}),(${Fixtures.Src})",
      s"(${Fixtures.Dst}),(${Fixtures.Dst}),(${Fixtures.Dst})")
    checkShape(MultipleFields.getMultipleFields(store("instance_field"),
      store("uevol_field"), Some(Fixtures.snapshotCatalog(spark)), store, args, 150L))
  }
}

class DriverContractSpec extends SparkSpec {

  test("every declared query has an oracle; no orphan oracle SQL") {
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    // a query without an oracle silently downgrades to the driver's
    // weaker rows-only check — surface it as a failing contract instead
    assert((q -- o).isEmpty, s"queries missing oracles: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles with no query: ${(o -- q).toSeq.sorted}")
    assert(graft.SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
    // oracle SQL must never reference the Spark-side temp-view namespace
    assert(!graft.SparkEntry.oracleSql.values.exists(_.contains("graft_")),
      "oracle SQL must be pure DuckDB (no graft_ UDF references)")
  }
}
