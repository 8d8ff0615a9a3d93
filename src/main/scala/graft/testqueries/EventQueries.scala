package graft.testqueries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{ArgmaxLatest, ArgsTable, Locf}

/** The reference's real query families (SURVEY.md §2.10) re-expressed over
  * the driver's `events` table, which is shape-isomorphic to the reference's
  * update log: (user_id, event_type) plays (src/dst, uevol_field_id),
  * `ts`/`event_id` play `log_time`/`instance_message_id`, `value` plays
  * `new_value`.
  *
  * - point-in-time reconstruction  = GetMessage / RetrieveMessage
  * - LOCF wide history             = GetUpdateHistory
  * - compaction                    = Backup.java
  * - argument-list expansion       = CreateArgumentsTable
  */
object EventQueries {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val AsOf = "2024-01-15 00:00:00"
  private val Cutoff = "2024-01-25 00:00:00"

  // Raw storage-typed `ts` (ns long legacy / µs TIMESTAMP_NTZ current):
  // predicates and sorts on it reach the parquet scan (PushedFilters +
  // row-group skipping); bounds adapt via Tables.tsLit, never the column.
  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.loadEventsRaw(s, dir)

  /** Bound literal for `ts` comparisons, matched to the loaded storage
    * type so the predicate stays pushable.
    */
  private def tsBound(e: DataFrame, utc: String) =
    Tables.tsLit(e.schema("ts").dataType, Tables.nanos(utc))

  // ---- shared telemetry mapping for the q23-q27 family queries ----

  /** event_type -> field id (alphabetical: click=1 .. view=5). */
  private def fieldMapDF(s: SparkSession): DataFrame = {
    import s.implicits._
    EventTypes.zipWithIndex.map { case (t, i) => (i + 1, t) }
      .toDF("fid", "event_type")
  }

  /** q42/q50's oracle: minute buckets per field id, closed windows only —
    * a window [start, end) is emitted iff end <= watermark, where the
    * final watermark is the max event time floored to the millisecond
    * minus the 10-minute delay (Spark floors the event-time stats to ms;
    * window bounds are exact minutes in microseconds). One definition for
    * both rows: the state-store provider cannot change output.
    */
  private lazy val UpdateRatesSql: String = {
    val fieldVals = EventTypes.zipWithIndex
      .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
    s"""WITH f(fid, et) AS (VALUES $fieldVals),
       e AS (SELECT epoch_ns(ts) // 1000 AS tus, f.fid
         FROM events JOIN f ON events.event_type = f.et),
       mx AS (SELECT (max(tus) // 1000) - 600000 AS wm_ms FROM e),
       w AS (SELECT tus // 60000000 AS wmin, fid FROM e)
       SELECT make_timestamp(wmin * 60000000) AS window_start,
         make_timestamp((wmin + 1) * 60000000) AS window_end,
         fid AS uevol_field_id, count(*) AS n_updates
       FROM w, mx
       WHERE (wmin + 1) * 60000 <= wm_ms
       GROUP BY wmin, fid"""
  }

  /** q52/q54's oracle: the three-batch session-boundary fixture replayed
    * batch-side (q40's ms-floored session rule over events ∪ the
    * closed-form bridge cohort, no open-tail exclusion — see the q52 map
    * entry for the full regime rationale). One definition for both rows:
    * the state-store provider cannot change output.
    */
  private val SessionBoundarySql: String =
    """WITH bounds AS (SELECT (min(epoch_ns(ts)) // 1000
           + max(epoch_ns(ts)) // 1000) // 2 AS mid FROM events),
       syn AS (
         SELECT 2000000000 + i AS user_id, 1000000000 + i AS event_id,
           1.0 AS value, (mid - 18000000000 + i * 7000000) // 1000 AS tms
         FROM range(50) t(i), bounds
         UNION ALL
         SELECT 2000000000 + i, 1000000100 + i, 1.0,
           (mid - 600000000 + i * 7000000) // 1000
         FROM range(50) t(i), bounds
         UNION ALL
         SELECT 2000000000 + i, 1000000200 + i, 1.0,
           (mid + 600000000 + i * 7000000) // 1000
         FROM range(50) t(i), bounds),
       o AS (SELECT user_id, event_id, value,
           epoch_ns(ts) // 1000000 AS tms FROM events
         UNION ALL SELECT user_id, event_id, value, tms FROM syn),
       g AS (SELECT *, CASE WHEN lag(tms) OVER w IS NULL
             OR tms - lag(tms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
         FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
       s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
             ORDER BY tms, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
         FROM g)
       SELECT user_id, count(*) AS n_events,
         CAST((max(tms) - min(tms)) // 1000 AS BIGINT) AS duration_s,
         round(CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS DOUBLE)
           / 1000000, 2) AS sum_value
       FROM s GROUP BY user_id, session_idx"""

  /** q51's oracle: [[lateDataStream]]'s three-batch late-data replay in
    * batch SQL. Mirrors the query's construction term for term — the
    * merge/tail/drop/advance classes are the same `event_id` arithmetic
    * over the same µs grid — and replays the measured two-watermark
    * rule: files 1 and 2 are admitted wholesale (the late filter lags a
    * batch, so it is still 0 when each arrives), file 3 survives iff the
    * window end clears wm1 (the watermark batch 2 RAN with, from file
    * 1's ms-floored max event time), and a window is reported iff its
    * end <= wm3 (the final eviction watermark, from file 3's ADVANCE2
    * row). Both boundaries are the pinned `end <= watermark` predicate.
    * wm2 never appears: it only schedules WHEN windows emit, and no
    * window emitted under wm2 receives later rows (DROP is discarded,
    * MERGE2/TAIL windows stay open past it) — so emission timing cannot
    * change the final multiset.
    */
  private lazy val LateDataSql: String = {
    val fieldVals = EventTypes.zipWithIndex
      .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
    s"""WITH f(fid, et) AS (VALUES $fieldVals),
       e AS (SELECT epoch_ns(ts) // 1000 AS tus, f.fid, events.event_id
         FROM events JOIN f ON events.event_type = f.et),
       mx AS (SELECT max(tus) AS mx_us FROM e),
       f2 AS (
         SELECT fid, mx_us - 300000000 + (event_id % 240) * 1000000 AS tus
           FROM e, mx WHERE event_id % 17 = 0
         UNION ALL
         SELECT fid, mx_us + 840000000 + (event_id % 240) * 1000000 AS tus
           FROM e, mx WHERE event_id % 17 = 5
         UNION ALL
         SELECT 1 AS fid, mx_us + 1200000000 AS tus FROM mx),
       f3 AS (
         SELECT fid, mx_us - 1800000000 + (event_id % 600) * 1000000 AS tus
           FROM e, mx WHERE event_id % 17 = 1
         UNION ALL
         SELECT fid, mx_us + 840000000 + (event_id % 240) * 1000000 AS tus
           FROM e, mx WHERE event_id % 17 = 2
         UNION ALL
         SELECT 1 AS fid, mx_us + 2400000000 AS tus FROM mx),
       wm1 AS (SELECT (mx_us // 1000) - 600000 AS wm_ms FROM mx),
       surv AS (
         SELECT fid, tus FROM e
         UNION ALL
         SELECT fid, tus FROM f2
         UNION ALL
         SELECT fid, tus FROM f3, wm1
          WHERE ((tus // 60000000) + 1) * 60000 > wm_ms),
       wmf AS (SELECT ((mx_us + 2400000000) // 1000) - 600000 AS wm_ms
         FROM mx)
       SELECT make_timestamp((tus // 60000000) * 60000000) AS window_start,
         make_timestamp(((tus // 60000000) + 1) * 60000000) AS window_end,
         fid AS uevol_field_id, count(*) AS n_updates
       FROM surv, wmf
       WHERE ((tus // 60000000) + 1) * 60000 <= wm_ms
       GROUP BY 1, 2, 3"""
  }

  /** The q42 windowed-rates stream, shared verbatim by q42 (default
    * HDFS-backed state store) and q50 (RocksDB provider) — one body, so
    * the two rows can only differ in where the state lives.
    */
  private def updateRatesStream(s: SparkSession, dir: String,
                                runName: String): DataFrame = {
    val schema = ev(s, dir).schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ets", Tables.asTimestamp(schema("ts").dataType, "ts"))
      .join(broadcast(fieldMapDF(s)), "event_type")
      .select(col("fid").as("uevol_field_id"), col("ets"))
    graft.streaming.StreamRunner.runToBatch(
      graft.streaming.UpdateStream.updateRates(
        stream, "ets", watermark = "10 minutes", window = "1 minute",
        keyCol = "uevol_field_id"),
      runName)
  }

  /** The multi-batch LATE-DATA watermark regime for the q42 windowed
    * aggregation (round 19) — the one streaming state machine d174's
    * merge row does not cover: window state surviving micro-batch
    * boundaries under late arrivals, including genuinely DROPPED rows.
    * The source is three mtime-pinned single-file parquet datasets
    * ([[graft.streaming.FileSource]] + `maxFilesPerTrigger=1`, the d174
    * fixture shape; `StreamRunner.runToBatchMulti` FAILS unless all
    * three data batches actually ran).
    *
    * Why THREE batches: Spark's late-event filter does not use the same
    * watermark as state eviction — it lags one batch (the SPARK-40925
    * two-watermark design: batch N evicts with the watermark computed
    * from batch N-1's event-time stats, but admits input against the
    * watermark batch N-1 ITSELF ran with, so chained stateful operators
    * see consistent values). Measured here before designing the oracle
    * (`WatermarkLagSpec` pins it): in a two-batch run the late filter is
    * still at the initial 0 when batch 2 arrives, so NOTHING is ever
    * dropped — the drop regime needs batch 3, whose late filter is the
    * watermark batch 2 ran with (wm1, from file 1's stats).
    *
    *  - file 1: every event on its real timestamp; max event time `mx`.
    *    Establishes wm1 = floor_ms(mx) - 10 min.
    *  - file 2: MERGE (id%17==0) re-timed into [mx-5min, mx-1min) —
    *    folds into batch-1 window state (admitted trivially: batch 2's
    *    late filter is still 0); TAIL (id%17==5) re-timed into
    *    [mx+14min, mx+18min) — opens future windows that stay in state
    *    through batch 3; ADVANCE at mx+20min → wm2 = floor_ms(mx) +
    *    10 min (+220 µs-truncation; the oracle computes it exactly).
    *  - file 3 (late filter now wm1, eviction wm2): DROP (id%17==1)
    *    re-timed into [mx-30min, mx-20min) — window end <= wm1, every
    *    row must be DISCARDED (admitting them would resurrect windows
    *    already emitted in batch 2 and double-emit); MERGE2 (id%17==2)
    *    re-timed into file 2's TAIL window range — admitted (end > wm1)
    *    and folded into OPEN cross-batch state; ADVANCE2 at mx+40min →
    *    wm3 = floor_ms(mx) + 30 min closes every tail window in the
    *    final no-data batch.
    *
    * All classes are deterministic in `event_id`, so the DuckDB oracle
    * rebuilds them exactly and replays the two rules: a file-3 row
    * survives iff its window end > wm1 (the lagged late filter); a
    * window is reported iff its end <= wm3 (final eviction). Both
    * boundaries are the `end <= watermark` predicate StreamingSpec
    * pins. A wrong drop (dropped rows counted or double-emitted
    * windows), a wrong merge (batch-N rows opening fresh state instead
    * of folding into batch-N-1's), or wrong finalization (windows
    * emitted early with partial counts) each change the output
    * multiset, so the hash gate catches all three.
    */
  private def lateDataStream(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val dt = e.schema("ts").dataType
    val base = e.join(broadcast(fieldMapDF(s)), "event_type")
      .select(col("fid").as("uevol_field_id"),
        unix_micros(Tables.asTimestamp(dt, "ts")).as("tus"),
        col("event_id"))
    // one O(1) driver scalar (the windowBounds discipline), mirrored by
    // the oracle's mx CTE
    val mxUs = base.agg(max("tus")).head().getLong(0)
    def retimed(idMod17: Int, offsetUs: Long, spreadS: Int): DataFrame =
      base.where(pmod(col("event_id"), lit(17)) === idMod17)
        .select(col("uevol_field_id"),
          (lit(mxUs + offsetUs) +
            pmod(col("event_id"), lit(spreadS)) * lit(1000000L)).as("tus"))
    def advanceRow(offsetUs: Long): DataFrame =
      s.range(1).select(lit(1).as("uevol_field_id"),
        lit(mxUs + offsetUs).as("tus"))
    val file1 = base.select(col("uevol_field_id"), col("tus"))
    val file2 = retimed(0, -300000000L, 240)       // MERGE
      .union(retimed(5, 840000000L, 240))          // TAIL
      .union(advanceRow(1200000000L))              // ADVANCE (mx+20min)
    val file3 = retimed(1, -1800000000L, 600)      // DROP
      .union(retimed(2, 840000000L, 240))          // MERGE2 (tail windows)
      .union(advanceRow(2400000000L))              // ADVANCE2 (mx+40min)
    val srcDir = graft.WorkDirs.acquire("q51_latedata")
    graft.streaming.FileSource.writePinned(file1, srcDir, "f0.parquet",
      1500000000000L)
    graft.streaming.FileSource.writePinned(file2, srcDir, "f1.parquet",
      1500000001000L)
    graft.streaming.FileSource.writePinned(file3, srcDir, "f2.parquet",
      1500000002000L)
    val stream = s.readStream.schema(file1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(srcDir.toString)
      .withColumn("ets", timestamp_micros(col("tus")))
    graft.streaming.StreamRunner.runToBatchMulti(
      graft.streaming.UpdateStream.updateRates(
        stream, "ets", watermark = "10 minutes", window = "1 minute",
        keyCol = "uevol_field_id"),
      "q51_late_data", minDataBatches = 3)
  }

  /** The q52/q54 three-batch session fixture: sessionization state across
    * real micro-batch boundaries (continuation, late drop, timeout
    * eviction — see the q52 map entry for the full regime rationale).
    * `name` keys the memory sink and the WorkDirs family so the heap
    * (q52) and RocksDB (q54) runs never share scratch state.
    */
  private def sessionBoundaryStream(s: SparkSession, dir: String,
                                    name: String): DataFrame = {
    val e = ev(s, dir)
    val dt = e.schema("ts").dataType
    val base = e.select(col("user_id"),
      unix_micros(Tables.asTimestamp(dt, "ts")).as("tus"),
      col("value"), col("event_id"))
    // two O(1) driver scalars (the windowBounds discipline), mirrored
    // by the oracle's bounds CTE
    val r = base.agg(min("tus"), max("tus")).head()
    val (mnUs, mxUs) = (r.getLong(0), r.getLong(1))
    val midUs = (mnUs + mxUs) / 2
    // Bridge cohort: real sessions are short against the month-long
    // corpus span, so at sf<=0.01 NO natural session happens to
    // straddle one fixed instant (measured) — the continuation claim
    // would be vacuous exactly where the driver gates correctness.
    // 50 closed-form users (ids disjoint from real user_ids) each
    // carry an early lone session (T-5h, so continuation must
    // DISTINGUISH sessions, not just glue everything) and a two-event
    // session spanning T with a 20-min internal gap (< the 30-min
    // rule): first event in file 1, second in file 2 — batch 2 must
    // fold it into batch-1 state or the pair reports as two sessions.
    def bridge(offUs: Long, n: Int): DataFrame =
      s.range(n).select((lit(2000000000L) + col("id")).as("user_id"),
        (lit(midUs + offUs) + col("id") * lit(7000000L)).as("tus"),
        lit(1.0).as("value"))
    val file1 = base.where(col("tus") <= midUs)
      .select("user_id", "tus", "value")
      .union(bridge(-18000000000L, 50))  // T-5h: the lone sessions
      .union(bridge(-600000000L, 50))    // T-10min: straddle, 1st half
    val file2 = base.where(col("tus") > midUs)
      .select("user_id", "tus", "value")
      .union(bridge(600000000L, 50))     // T+10min: straddle, 2nd half
    val dropRows = base.where(pmod(col("event_id"), lit(17)) === 3)
      .select(col("user_id"),
        (lit(mnUs) + pmod(col("event_id"), lit(240)) * lit(1000000L))
          .as("tus"),
        col("value"))
    val pusher = s.range(1).select(
      lit(1000000007L).as("user_id"), lit(mxUs + 2460000000L).as("tus"),
      lit(0.0).as("value"))
    val srcDir = graft.WorkDirs.acquire(name)
    graft.streaming.FileSource.writePinned(file1, srcDir, "f0.parquet",
      1500000000000L)
    graft.streaming.FileSource.writePinned(file2, srcDir, "f1.parquet",
      1500000001000L)
    graft.streaming.FileSource.writePinned(dropRows.union(pusher), srcDir,
      "f2.parquet", 1500000002000L)
    val stream = s.readStream.schema(file1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(srcDir.toString)
      .withColumn("ts", timestamp_micros(col("tus")))
    val closed = graft.streaming.SessionStream
      .sessionize(stream, gapMinutes = 30, watermark = "10 minutes")
    graft.streaming.StreamRunner.runToBatchMulti(closed.toDF(),
        name, minDataBatches = 3)
      .select("user_id", "n_events", "duration_s", "sum_value")
  }

  /** events mapped onto the reference's instance_field schema.
    *
    * Pushdown note: `user_id` is int64 in the driver's parquet while the
    * telemetry schema's `src_id` is int32, so this mapping's narrowing cast
    * keeps src_id equality filters from reaching the scan (the event_id
    * range still pushes — that is the load-bearing prune). A real
    * instance_field table stores src_id as int32 (DataLoader.java:62), no
    * cast exists, and the src filter pushes too; harness artifact only.
    */
  private def asInstanceField(e: DataFrame, fm: DataFrame): DataFrame =
    e.join(broadcast(fm), "event_type")
      .select(col("fid").as("uevol_field_id"), lit(1).as("uevol_message_id"),
        col("event_id").as("instance_message_id"),
        col("user_id").cast("int").as("src_id"), lit(0).as("dst_id"),
        lit("000").as("relative_path"), col("value").as("new_value"))

  /** The 5-field catalog in the uevol_field shape. */
  private def asUevolField(s: SparkSession): DataFrame = {
    import s.implicits._
    EventTypes.zipWithIndex.map { case (t, i) => (i + 1, 1, t, 0) }
      .toDF("id", "uevol_message_id", "name", "type")
  }

  /** Equipment catalog rows for q37 (ssty, ssid, name, sector_id,
    * playback_activated, online_activated) — ssid range 0..14 stays inside
    * the smallest scale factor's user_id range, so the rollup is
    * non-degenerate at every sf. Shared with the oracle's VALUES list.
    */
  private val EquipRows: Seq[(Int, Int, String, Int, Boolean, Boolean)] =
    (0 until 15).map(i => (i % 3 + 1, i, s"eq_$i", i % 4, i % 2 == 0, i != 3))

  private val SubsystemRows: Seq[(Int, String)] =
    Seq((1, "signalling"), (2, "traction"), (3, "doors"))

  /** (S, T) = (max_id/2, 3*max_id/4) — the snapshot instant and the
    * reconstruction target; one O(1) driver scalar, mirrored by the
    * oracles' `bounds` CTE.
    */
  private def windowBounds(e: DataFrame): (Long, Long) = {
    val maxId = e.agg(max("event_id")).head().getLong(0)
    (maxId / 2, 3 * maxId / 4)
  }

  /** Update log whose relative_path splits between the scalar path and a
    * nested leaf (event_id % 3 picks), so epoch updates shadow snapshot
    * values at BOTH JSON depths — the q28 lattice exercise.
    */
  private def asInstanceFieldNested(e: DataFrame, fm: DataFrame): DataFrame =
    e.join(broadcast(fm), "event_type")
      .select(col("fid").as("uevol_field_id"), lit(1).as("uevol_message_id"),
        col("event_id").as("instance_message_id"),
        col("user_id").cast("int").as("src_id"), lit(0).as("dst_id"),
        when(pmod(col("event_id"), lit(3)) === 0, lit("000.001.001"))
          .otherwise(lit("000")).as("relative_path"),
        col("value").as("new_value"))

  /** Degree-2 snapshot at S: the scalar state plus a nested object per
    * (field, user) — {"000":latest,"000.001":{"000.001.001":min,
    * "000.001.002":max}} — dotted keys included, the reference's nested
    * json_value shape (SQL/GetMessage.sql:282-355,464-565).
    */
  private def nestedSnapshotAt(e: DataFrame, fm: DataFrame, snapAt: Long,
                               users: Seq[Int]): DataFrame =
    e.where(col("user_id").isin(users.map(Integer.valueOf): _*) &&
        col("event_id") <= snapAt)
      .join(broadcast(fm), "event_type")
      .groupBy("fid", "user_id")
      .agg(max_by(col("value"), col("event_id")).as("v0"),
        min("value").as("v1"), max("value").as("v2"))
      .select(col("fid").as("uevol_field_id"),
        col("user_id").cast("int").as("src_id"), lit(0).as("dst_id"),
        lit(snapAt).as("instance_message_id"),
        concat(lit("{\"000\":"), col("v0").cast("string"),
          lit(",\"000.001\":{\"000.001.001\":"), col("v1").cast("string"),
          lit(",\"000.001.002\":"), col("v2").cast("string"),
          lit("}}")).as("json_value"))

  /** "End" snapshot for the q31 same/diff exercise: even fields carry the
    * SAME json as the S snapshot (quiescent between snapshots — the
    * shortcut must skip their log scan), odd fields the state at `endAt`
    * (changed — the log decides them).
    */
  private def mixedSnapshotAt(e: DataFrame, fm: DataFrame, snapAt: Long,
                              endAt: Long, users: Seq[Int]): DataFrame =
    snapshotAt(e, fm, snapAt, users)
      .where(pmod(col("uevol_field_id"), lit(2)) === 0)
      .withColumn("instance_message_id", lit(endAt))
      .unionByName(snapshotAt(e, fm, endAt, users)
        .where(pmod(col("uevol_field_id"), lit(2)) === 1))

  /** Synthesized snapshot rows at S for the given users: per-(field, user)
    * argmax state rendered as the reference's JSON values.
    */
  private def snapshotAt(e: DataFrame, fm: DataFrame, snapAt: Long,
                         users: Seq[Int]): DataFrame =
    e.where(col("user_id").isin(users.map(Integer.valueOf): _*) &&
        col("event_id") <= snapAt)
      .join(broadcast(fm), "event_type")
      .groupBy("fid", "user_id")
      .agg(max_by(col("value"), col("event_id")).as("v"))
      .select(col("fid").as("uevol_field_id"),
        col("user_id").cast("int").as("src_id"), lit(0).as("dst_id"),
        lit(snapAt).as("instance_message_id"),
        concat(lit("{\"000\":"), col("v").cast("string"), lit("}")).as("json_value"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GetUpdateHistory's dynamic pivot (SQL/GetUpdateHistory.sql:36-78) with
    // explicit pivot values so the schema is static and plannable.
    "q13_pivot" -> { (s, dir) =>
      val wide = ev(s, dir)
        .groupBy("user_id")
        .pivot("event_type", EventTypes)
        .agg(sum("value"))
      wide.select(
        col("user_id") +:
          EventTypes.map(tp => coalesce(round(col(tp), 2), lit(0.0)).as(tp)): _*)
    },

    // §2.7 F1: JSON leaf extraction + numeric cast (the reference's
    // JSON_EXTRACT(json,'$.k')+0, SQL/GetMessage.sql:289).
    "q14_json_extract" -> { (s, dir) =>
      ev(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
    },

    // The flagship GetMessage path END TO END under the oracle: events are
    // mapped onto the telemetry schema (event_type -> field id, user ->
    // src), a snapshot of user 7's state at S = max_id/2 is synthesized as
    // the reference's JSON rows, and MessageReconstruct.getMessage
    // reconstructs at T = 3·max_id/4 — snapshot bracket, epoch slice,
    // dot-safe JSON explode and -1 sentinels resolved by one tiered
    // aggregate. The oracle recomputes the value lattice directly.
    "q23_snapshot_reconstruct" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val (snapAt, target) = windowBounds(e)
      val fm = fieldMapDF(s)
      val instanceMessage = Seq((target, 1, 7, 0))
        .toDF("id", "uevol_message_id", "src_id", "dst_id")
      val catalog = Seq(("snap_s", snapAt)).toDF("name", "start_instance_message_id")
      graft.queries.MessageReconstruct.getMessage(
          asInstanceField(e, fm), instanceMessage, asUevolField(s), Some(catalog),
          _ => snapshotAt(e, fm, snapAt, Seq(7)), target)
        .withColumn("value", round(col("value"), 4))
    },

    // q23's flagship DAG with a DEGREE-2 dotted-key snapshot (SURVEY §7.5
    // risk 2): the synthesized json_value nests an object under "000.001",
    // and the update log writes both the scalar path and the nested leaf —
    // so JsonExplode.flatten's second-level explode AND the per-path
    // update-over-snapshot resolution run inside getMessage under the oracle.
    "q28_nested_reconstruct" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val (snapAt, target) = windowBounds(e)
      val fm = fieldMapDF(s)
      val instanceMessage = Seq((target, 1, 7, 0))
        .toDF("id", "uevol_message_id", "src_id", "dst_id")
      val catalog = Seq(("snap_s", snapAt)).toDF("name", "start_instance_message_id")
      graft.queries.MessageReconstruct.getMessage(
          asInstanceFieldNested(e, fm), instanceMessage, asUevolField(s), Some(catalog),
          _ => nestedSnapshotAt(e, fm, snapAt, Seq(7)), target)
        .withColumn("value", round(col("value"), 4))
    },

    // The GetUpdateHistory path END TO END under the oracle: same telemetry
    // mapping as q23, three argument triples, seed state at S from the
    // pre-window argmax, then UpdateHistory.updateHistory — wide pivot
    // (one column per triple), LOCF forward-fill, seed row — at sf scale.
    "q24_update_history_args" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val (snapAt, target) = windowBounds(e)
      val fm = fieldMapDF(s)
      val args = Seq((1, 7, 0, ""), (2, 7, 0, ""), (3, 7, 0, ""))
        .toDF("uevol_field_id", "src_id", "dst_id", "filter")
      val startState = e
        .where(col("user_id") === 7 && col("event_id") <= snapAt)
        .join(broadcast(fm), "event_type")
        .groupBy("fid")
        .agg(max_by(col("value"), col("event_id")).as("value"))
        .select(col("fid").as("uevol_field_id"), lit(7).as("src_id"),
          lit(0).as("dst_id"), col("value"))
      val names = Seq(1, 2, 3).map(f => graft.queries.UpdateHistory.colName(f, 7, 0))
      val hist = graft.queries.UpdateHistory.updateHistory(
        asInstanceField(e, fm), args, startState, snapAt, target)
      hist.select(col("instance_message_id") +:
        names.map(n => coalesce(col(n), lit(-1L)).as(n)): _*)
    },

    // q24's history in LONG format — updateHistoryLong: same seed/LOCF/
    // filter semantics with a fixed 5-column schema however many triples
    // are asked for (the 100 TB path past the wide pivot's unbounded-width
    // DDL). All five fields plus a real filter on field 2, so the
    // anti-join instant-drop path runs under the oracle too.
    "q30_update_history_long" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val (snapAt, target) = windowBounds(e)
      val fm = fieldMapDF(s)
      val args = (1 to 5).map(f => (f, 7, 0, if (f == 2) "value % 2 = 0" else ""))
        .toDF("uevol_field_id", "src_id", "dst_id", "filter")
      val startState = e
        .where(col("user_id") === 7 && col("event_id") <= snapAt)
        .join(broadcast(fm), "event_type")
        .groupBy("fid")
        .agg(max_by(col("value"), col("event_id")).as("value"))
        .select(col("fid").as("uevol_field_id"), lit(7).as("src_id"),
          lit(0).as("dst_id"), col("value"))
      graft.queries.UpdateHistory.updateHistoryLong(
          asInstanceField(e, fm), args, startState, snapAt, target)
        .select(col("instance_message_id"), col("uevol_field_id"),
          col("src_id"), col("dst_id"),
          coalesce(col("value"), lit(-1L)).as("value"))
    },

    // The reference's FULL GetUpdateHistory composition END TO END —
    // updateHistoryFromLog derives the window-start seed INTERNALLY via
    // getMultipleFields (snapshot at S/2 bracket + epoch argmax + sentinel
    // defaults), matching SQL/GetUpdateHistory.sql:29's CALL into
    // GetMultipleFieldsHistory, then runs the wide LOCF pivot. Triple
    // (5,7,1) matches no event and no snapshot row, so the -1 sentinel
    // flows from the lattice into the seed and LOCFs across the window.
    "q38_update_history_composed" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val (snapAt, target) = windowBounds(e)
      val snapEarly = snapAt / 2
      val fm = fieldMapDF(s)
      val catalog = Seq(("snap_q", snapEarly))
        .toDF("name", "start_instance_message_id")
      val args = graft.queries.MultipleFields.parseArgs(s,
        "(1),(2),(5)", "(7),(7),(7)", "(0),(0),(1)")
      val names = Seq((1, 7, 0), (2, 7, 0), (5, 7, 1))
        .map { case (f, sr, d) => graft.queries.UpdateHistory.colName(f, sr, d) }
      graft.queries.UpdateHistory.updateHistoryFromLog(
          asInstanceField(e, fm), asUevolField(s), Some(catalog),
          _ => snapshotAt(e, fm, snapEarly, Seq(7)), args, snapAt, target)
        .select(col("instance_message_id") +:
          names.map(n => coalesce(col(n), lit(-1L)).as(n)): _*)
    },

    // The getMultipleFields family END TO END: the reference's '(a),(b)'
    // list literals parsed and positionally zipped into argument triples
    // (CreateArgumentsTable semantics), then multi-triple point-in-time
    // reconstruction with the synthesized snapshot — argument semi-joins,
    // epoch argmax, JSON explode, sentinel defaults.
    "q27_multiple_fields" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val (snapAt, target) = windowBounds(e)
      val fm = fieldMapDF(s)
      val catalog = Seq(("snap_s", snapAt)).toDF("name", "start_instance_message_id")
      val args = graft.queries.MultipleFields.parseArgs(s, "(1),(3)", "(7),(9)", "(0),(0)")
      graft.queries.MultipleFields.getMultipleFields(
          asInstanceField(e, fm), asUevolField(s), Some(catalog),
          _ => snapshotAt(e, fm, snapAt, Seq(7, 9)), args, target)
        .withColumn("value", round(col("value"), 4))
    },

    // The fieldFilter family END TO END: dynamic sentinel args (field +
    // src set, rest absent), a start bound given in event time, and the
    // end bound DERIVED from a duration (RetrieveField.java:85-90) — both
    // resolved to instance-id bounds via O(1) scalar aggregates before
    // pruning the fact scan.
    "q25_field_filter" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val instanceMessage = e.select(col("event_id").as("id"),
        lit(1).as("uevol_message_id"), lit(1).as("src_ty"),
        col("user_id").cast("int").as("src_id"), lit(2).as("dst_ty"),
        lit(0).as("dst_id"), col("event_id").cast("int").as("seq_nb"),
        col("ts").as("log_time"), col("ts").as("sync_time"))
      val dayNs = 24L * 3600 * 1000000000L
      graft.queries.FieldFilter.fieldFilter(asInstanceField(e, fieldMapDF(s)), instanceMessage,
          graft.queries.FieldFilter.Args(
            uevolFieldId = 2, srcId = 7,
            startLogTime = Tables.nanos("2024-01-10 00:00:00"),
            duration = 10 * dayNs))
        .select(col("uevol_field_id"), col("instance_message_id"),
          col("src_id"), round(col("new_value"), 4).as("value"))
    },

    // The gen-1 getFieldUpdates boundary padding END TO END
    // (Retrieve_field.scala:66-75): the window's first row is echoed at the
    // window start carrying its previous_value (the value in effect when
    // the window opens), the last row at the window end carrying its
    // new_value — synthetic edge rows framing the in-window updates.
    "q29_field_updates_pad" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = ev(s, dir)
      val lo = Tables.nanos("2024-01-10 00:00:00")
      val hi = Tables.nanos("2024-01-20 00:00:00")
      val upd = e.where(col("user_id") === 7 && col("event_type") === "error")
        .select(col("user_id"), col("event_type"), col("ts").as("log_time"),
          col("event_id"), col("value").as("new_value"))
        .withColumn("previous_value", lag("new_value", 1, -1.0)
          .over(Window.partitionBy("user_id", "event_type")
            .orderBy("log_time", "event_id")))
      graft.queries.FieldFilter.updatesWithBoundaries(upd, lit(true), lo, hi)
        // µs grid for the compare: epoch_ns(ts)//1000 on the oracle side
        .withColumn("__ltns", Tables.epochNs(e.schema("ts").dataType, col("log_time")))
        .select(expr("__ltns div 1000").as("log_time_us"), col("event_id"),
          round(col("field_value"), 4).as("field_value"))
    },

    // The reference's same/diff snapshot-compare shortcut END TO END
    // (getMessageSnapshotDiff over ChangeSplit, SQL/GetMessage.sql:127-176):
    // two bracketing snapshots where even fields are quiescent (identical
    // json in both — their epoch log scan is SKIPPED and the snapshot state
    // kept) and odd fields changed (the epoch argmax decides them).
    "q31_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val maxId = e.agg(max("event_id")).head().getLong(0)
      val (snapAt, target) = (maxId / 2, 3 * maxId / 4)
      val fm = fieldMapDF(s)
      val instanceMessage = Seq((target, 1, 7, 0))
        .toDF("id", "uevol_message_id", "src_id", "dst_id")
      val catalog = Seq(("snap_s", snapAt), ("snap_e", maxId))
        .toDF("name", "start_instance_message_id")
      // The stored-snapshot-table analog: a real deployment READS snapshots,
      // it does not recompute them per consumer. Persisting the S frame
      // once lets the catalog load AND the end-snapshot's quiescent half
      // (mixedSnapshotAt embeds the same subplan — CacheManager substitutes
      // it) reuse one computation.
      val snapS = snapshotAt(e, fm, snapAt, Seq(7))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val loader: String => DataFrame = {
        case "snap_s" => snapS
        case _ => mixedSnapshotAt(e, fm, snapAt, maxId, Seq(7))
      }
      graft.queries.MessageReconstruct.getMessageSnapshotDiff(
          asInstanceField(e, fm), instanceMessage, asUevolField(s),
          Some(catalog), loader, target)
        .withColumn("value", round(col("value"), 4))
    },

    // The Backup compaction family END TO END via queries/Backup.compact:
    // cutoff resolved to an id bound, untouched fields collapse to their
    // latest pre-cutoff row (anti-join + argmax), recent rows verbatim.
    "q26_backup_compact" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val instanceMessage = e.select(col("event_id").as("id"), col("ts").as("log_time"))
      graft.queries.Backup.compact(asInstanceField(e, fieldMapDF(s)), instanceMessage, asUevolField(s),
          Tables.nanos(Cutoff))
        .select(col("uevol_field_id"), col("instance_message_id"),
          col("src_id"), round(col("new_value"), 4).as("value"))
    },

    // The snapshot WRITE side END TO END: SnapshotDump.dump renders the
    // per-path argmax state at S into the reference's nested json_value
    // rows, and flatten(dump) must round-trip to exactly that state — the
    // oracle recomputes the state directly, so the dump+flatten inverse
    // pair is verified without trusting either side's JSON.
    "q33_snapshot_dump" -> { (s, dir) =>
      val e = ev(s, dir)
      val (snapAt, _) = windowBounds(e)
      val fm = fieldMapDF(s)
      val dumped = graft.queries.SnapshotDump.dump(
        asInstanceFieldNested(e.where(col("user_id").isin(7, 9)), fm), snapAt)
      graft.ops.JsonExplode.flatten(dumped, "json_value",
          Seq("uevol_field_id", "src_id", "dst_id"))
        .select(col("uevol_field_id"), col("src_id"), col("relative_path"),
          round(col("value"), 4).as("value"))
    },

    // Gap-based sessionization — the classic telemetry/clickstream rollup
    // (30-min inactivity splits a user's events into sessions); see
    // ops/Sessionize for the single-exchange plan shape.
    "q39_sessionize" -> { (s, dir) =>
      graft.ops.Sessionize.rollup(ev(s, dir))
    },

    // q39's STREAMING twin, oracle-gated end to end: a real readStream file
    // source over the same events parquet, flatMapGroupsWithState keyed
    // state (streaming/SessionStream), memory sink holding only the closed
    // sessions. The finite source arrives as ONE micro-batch and the
    // watermark is set far past the corpus span, so no event-time timeout
    // fires and the output is exactly the deterministic closed-session set:
    // every session except each user's open tail (SessionParitySpec proves
    // the fold; this row proves it against the DuckDB oracle). The fold
    // works on Timestamp.getTime milliseconds (ns-parquet -> us timestamp
    // -> ms floor), so the oracle floors to ms too — q39 stays the
    // ns-precision batch check, q40 pins the streaming path's own grid.
    "q40_sessionize_stream" -> { (s, dir) =>
      val schema = ev(s, dir).schema // also sets nanosAsLong for the stream
      // the testdata table is a single file and the file stream source
      // lists a DIRECTORY — stream the parent dir filtered to this table
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts", Tables.asTimestamp(schema("ts").dataType, "ts"))
      val closed = graft.streaming.SessionStream
        .sessionize(stream, gapMinutes = 30, watermark = "36500 days")
      graft.streaming.StreamRunner.runToBatch(closed.toDF(), "q40_sessions")
        .select("user_id", "n_events", "duration_s", "sum_value")
    },

    // Sessionization state across REAL micro-batch boundaries (round 19)
    // — the q40 regime the round-18 verdict named untested: q40 runs as
    // one micro-batch, so the flatMapGroupsWithState state never
    // survives a boundary and no event-time timeout ever fires. Here
    // the corpus arrives as three mtime-pinned batches split ON EVENT
    // TIME at the corpus midpoint T, so every session straddling T must
    // CONTINUE from batch-1 state into batch 2 (merge, not re-open);
    // batch 3 carries (a) rows retimed to the corpus start — beyond the
    // lagged late filter (wm1 = file 1's ms-floored max - 10 min; see
    // q51/WatermarkLagSpec for the lag rule), every one must be DROPPED
    // before the operator (admitted, they would extend early sessions
    // or resurrect emitted ones) — and (b) one pusher row at max+41min,
    // driving the final eviction watermark to max+31min so every real
    // session's event-time TIMEOUT (last + 30-min gap <= max+30min,
    // strictly under the watermark — no boundary-convention ambiguity)
    // fires and emits. Output = ALL sessions of the original events
    // plus a 50-user closed-form bridge cohort (built in the body —
    // natural sessions are too short to straddle one fixed instant at
    // sf<=0.01, measured) under the batch gap rule (no open tails —
    // unlike q40, which excludes each user's last session), making
    // emission-by-timeout itself oracle-gated, batch-split-invariantly:
    // rows arrive in event-time order, so no session can be
    // silence-closed between two of its own arrivals (the one regime
    // where stream and batch legitimately diverge).
    "q52_session_boundary_stream" -> { (s, dir) =>
      sessionBoundaryStream(s, dir, "q52_session_boundary")
    },

    // q52's regime under the RocksDB state-store provider (round 19):
    // the SAME three-batch session fixture — continuation, late drop,
    // timeout eviction — with flatMapGroupsWithState state living in
    // native memory + local disk instead of executor-heap objects. This
    // is the serde regime q50 cannot reach: the heap provider keeps
    // state as live JVM objects between batches, while RocksDB
    // round-trips EVERY state row through the encoder per batch — a
    // session-state encoder bug (field order, nullability, timestamp
    // grid) would corrupt exactly the cross-batch continuation this
    // fixture gates, and q50's single-batch windowed shape would never
    // see it. Output is bit-identical by the provider contract, so the
    // oracle is SHARED with q52.
    "q54_session_rocksdb_boundary" -> { (s, dir) =>
      graft.GraftConf.enableRocksDbStateStore(s)
      try sessionBoundaryStream(s, dir, "q54_session_rocksdb")
      finally graft.GraftConf.disableRocksDbStateStore(s)
    },

    // UpdateStream.latestState oracle-gated — the reference's core argmax
    // (J6) computed as a STREAMING update-mode aggregation over the
    // telemetry-mapped event stream. The finite source arrives as one
    // micro-batch, so update mode emits each (field, src, dst) key exactly
    // once with its final state — directly comparable to the batch argmax
    // the DuckDB oracle computes.
    "q41_latest_state_stream" -> { (s, dir) =>
      val schema = ev(s, dir).schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val mapped = asInstanceField(stream, fieldMapDF(s))
      graft.streaming.StreamRunner.runToBatch(
        graft.streaming.UpdateStream.latestState(mapped),
        "q41_latest_state", mode = "update")
    },

    // UpdateStream.updateRates oracle-gated — the canonical watermark +
    // tumbling-window streaming aggregation, APPEND mode with a REAL
    // lateness horizon (not q40's everything-counts watermark): a window
    // emits exactly when the event-time watermark (max event time floored
    // to the ms, minus 10 minutes) reaches its end (end <= watermark —
    // boundary pinned by StreamingSpec), so the trailing 10-minutes-plus-
    // one-window tail of per-field rate windows stays in state and every
    // earlier window is reported once. The oracle replays the same rule
    // batch-side: minute buckets, closed windows only.
    "q42_update_rates_stream" -> { (s, dir) =>
      updateRatesStream(s, dir, "q42_update_rates")
    },

    // q42 under the RocksDB state-store provider (round 17): the SAME
    // windowed-rates aggregation, state-heavy (one state row per live
    // (window, field) pair — the largest streaming state in the suite),
    // run end-to-end with state in native memory + local disk instead of
    // executor-heap hash maps. Output is bit-identical by contract (the
    // provider changes WHERE state lives, never what it holds) — this
    // row pins that end-to-end against the same oracle q42 runs, so the
    // "census outgrows the heap-backed store" deployment path is
    // exercised in-suite, not just in a unit spec.
    "q50_update_rates_rocksdb" -> { (s, dir) =>
      graft.GraftConf.enableRocksDbStateStore(s)
      try updateRatesStream(s, dir, "q50_update_rates_rocksdb")
      finally graft.GraftConf.disableRocksDbStateStore(s)
    },

    // q42's windowed aggregation across REAL micro-batch boundaries with
    // LATE data crossing them (round 19): three pinned data batches
    // exercising the two-watermark rule — rows late-but-inside-open-
    // windows MERGE into prior-batch state (twice, across both
    // boundaries), rows whose windows closed under the lagged late
    // filter are DROPPED, and advance rows close the merged windows so
    // every fold is visible in append output. See [[lateDataStream]]
    // for why the drop regime needs batch 3 (the late filter lags
    // eviction by one batch — measured, pinned by WatermarkLagSpec).
    "q51_late_data_stream" -> { (s, dir) =>
      lateDataStream(s, dir)
    },

    // Stream-STREAM interval join (round 10): click→purchase attribution
    // where BOTH sides arrive continuously — every purchase joins the
    // same user's clicks in the trailing two hours. Watermarks + the
    // two-sided time-range predicate bound the join state to
    // watermark+lookback per side (a time window, not history). Both
    // sides branch off one file-source stream (a genuine stream-stream
    // self-join through Spark's symmetric hash join state store); the
    // oracle replays the identical interval join in batch SQL.
    "q45_attribution_stream" -> { (s, dir) =>
      val schema = ev(s, dir).schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ets", Tables.asTimestamp(schema("ts").dataType, "ts"))
      val purchases = stream.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ets").as("p_ts"))
      val clicks = stream.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("value").as("click_value"), col("ets").as("c_ts"))
      val joined = graft.streaming.IntervalStream.intervalJoin(
          purchases, clicks, col("user_id") === col("c_user"),
          "p_ts", "c_ts", lookback = "2 hours", watermark = "1 day")
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          col("click_value"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
      // INNER stream-stream join: every match emits in the data batch
      // itself; the trailing no-data micro-batch only advances the
      // watermark to evict state — pure lifecycle on a finite replay
      // (~2.2 s of the 5.1 s row), skipped. The oracle row still gates
      // the full output, so the skip is provably result-neutral.
      graft.streaming.StreamRunner.runToBatch(joined, "q45_attribution",
        noDataBatches = false)
    },

    // Stream-STREAM join state across a REAL micro-batch boundary
    // (round 19) — the last stateful operator class never run
    // multi-batch: q45's symmetric-hash join state, with a click stored
    // in batch-1 state matching a purchase that arrives in batch 2. The
    // corpus splits ON EVENT TIME at the midpoint T into two
    // mtime-pinned files (runToBatchMulti enforces the split), plus a
    // 40-pair closed-form straddle cohort (distinct synthetic users, so
    // each pair matches exactly once and never touches real rows —
    // natural matches straddling a fixed instant are 0 at sf<=0.01,
    // measured). Eviction cannot lose a legitimate match under the
    // time-ordered split: a click is evicted at batch 2 only when
    // c_ts + 2h < wm1 = T - 1 day, and any purchase matching it has
    // p_ts <= c_ts + 2h < T — i.e. it arrived in batch 1 and already
    // joined. No drop class, deliberately: for a stream-stream join a
    // row late beyond the watermark can never produce OBSERVABLE output
    // on a finite replay — the partner rows it would join are
    // necessarily already evicted (state holds ~delay+lookback of
    // history, lateness is >= delay) — so a late-drop gate would be
    // vacuous-by-construction; the droppable regime is q51/q52's.
    "q53_join_boundary_stream" -> { (s, dir) =>
      val e = ev(s, dir)
      val dt = e.schema("ts").dataType
      val base = e.select(col("event_id"), col("user_id"),
        col("event_type"), col("value"),
        unix_micros(Tables.asTimestamp(dt, "ts")).as("tus"))
      val r = base.agg(min("tus"), max("tus")).head()
      val midUs = (r.getLong(0) + r.getLong(1)) / 2
      // cohort pair i: click at T-30min+7i s, purchase at T+30min+7i s
      // (lag exactly 3600 s, inside the 2 h lookback)
      def cohort(kind: String, idBase: Long, offUs: Long): DataFrame =
        s.range(40).select((lit(idBase) + col("id")).as("event_id"),
          (lit(3000000000L) + col("id")).as("user_id"),
          lit(kind).as("event_type"), lit(2.5).as("value"),
          (lit(midUs + offUs) + col("id") * lit(7000000L)).as("tus"))
      val file1 = base.where(col("tus") <= midUs)
        .union(cohort("click", 1100000000L, -1800000000L))
      val file2 = base.where(col("tus") > midUs)
        .union(cohort("purchase", 1200000000L, 1800000000L))
      val srcDir = graft.WorkDirs.acquire("q53_joinboundary")
      graft.streaming.FileSource.writePinned(file1, srcDir, "f0.parquet",
        1500000000000L)
      graft.streaming.FileSource.writePinned(file2, srcDir, "f1.parquet",
        1500000001000L)
      val stream = s.readStream.schema(file1.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(srcDir.toString)
        .withColumn("ets", timestamp_micros(col("tus")))
      val purchases = stream.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ets").as("p_ts"))
      val clicks = stream.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("value").as("click_value"), col("ets").as("c_ts"))
      val joined = graft.streaming.IntervalStream.intervalJoin(
          purchases, clicks, col("user_id") === col("c_user"),
          "p_ts", "c_ts", lookback = "2 hours", watermark = "1 day")
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          col("click_value"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
      // INNER stream-stream join: every match emits in the data batch
      // itself, so the trailing no-data micro-batches are pure
      // watermark/eviction lifecycle — skipped, exactly q45's measured
      // and oracle-proven skip (the oracle row still gates full output)
      graft.streaming.StreamRunner.runToBatchMulti(joined,
        "q53_join_boundary", minDataBatches = 2, noDataBatches = false)
    },

    // SCD2 interval history (round 10): the change log pivoted into the
    // [eff_from, eff_to) interval table — the dual of updateHistory's
    // "value AT t" and the shape as-of/interval joins consume. Runs of
    // unchanged values collapse (null-safe); per-user final state is an
    // open interval (-1 sentinel). µs epochs on the shared UTC grid.
    "q46_scd2_history" -> { (s, dir) =>
      val e = ev(s, dir)
      val dt = e.schema("ts").dataType
      graft.ops.Scd2.fromLog(
          e.withColumn("ets", Tables.asTimestamp(dt, "ts")),
          "user_id", "ets", "event_id", "event_type")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("eff_from")).as("eff_from_us"),
          coalesce(unix_micros(col("eff_to")), lit(-1L)).as("eff_to_us"))
    },

    // q46's streaming twin (round 10): change events stream in, CLOSED
    // SCD2 intervals stream out the moment the closing change is seen;
    // the open interval per key lives in state (one small case class per
    // live key) and is the ONLY difference from batch fromLog — this row
    // pins stream == batch-minus-open-tails against the q46 oracle
    // restricted to closed rows.
    "q47_scd2_stream" -> { (s, dir) =>
      import s.implicits._
      val schema = ev(s, dir).schema
      val dt = schema("ts").dataType
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .select(col("user_id").as("key"),
          unix_micros(Tables.asTimestamp(dt, "ts")).as("t"),
          col("event_id").as("ord"), col("event_type").as("v"))
        .as[graft.streaming.Scd2Stream.Change]
      val closed = graft.streaming.Scd2Stream.intervals(stream)
      graft.streaming.StreamRunner.runToBatch(closed.toDF(), "q47_scd2")
        .select(col("key").as("user_id"), col("v").as("event_type"),
          col("eff_from").as("eff_from_us"), col("eff_to").as("eff_to_us"))
    },

    // Ordered-funnel conversion (round 10): view → click → purchase per
    // user, earliest-completion semantics (each step at or after the
    // previous step's first valid instant). One key exchange, three
    // window passes over the same partitioning; sequential-gate replay
    // in the oracle's chained window CTEs.
    "q48_funnel" -> { (s, dir) =>
      val e = ev(s, dir)
      val dt = e.schema("ts").dataType
      graft.ops.Funnel.conversion(
        e.withColumn("t_us", unix_micros(Tables.asTimestamp(dt, "ts"))),
        "user_id", "t_us", "event_type", Seq("view", "click", "purchase"))
    },

    // Stream-static temporal enrichment (round 10): purchases ARRIVE on a
    // stream and pick up the user's activity state in effect at purchase
    // time from the STATIC SCD2 table built over the non-purchase log
    // (q46's builder) — the lookup half of dimension history. Stateless
    // on the stream side: one broadcast interval join, no watermark, no
    // state store.
    "q49_enrich_stream" -> { (s, dir) =>
      val e = ev(s, dir)
      val dt = e.schema("ts").dataType
      val nonP = e.where(col("event_type") =!= "purchase")
        .withColumn("t_us", unix_micros(Tables.asTimestamp(dt, "ts")))
      val iv = graft.ops.Scd2.fromLog(nonP, "user_id", "t_us", "event_id",
          "event_type", openEnd = lit(-1L))
        .select(col("user_id").as("iv_user"), col("event_type").as("state"),
          col("eff_from"), col("eff_to"))
      val stream = s.readStream.schema(e.schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(Tables.asTimestamp(dt, "ts")).as("t_us"))
      val joined = graft.streaming.IntervalStream.enrichAsOf(
          stream, iv, col("user_id") === col("iv_user"), "t_us")
        .select("purchase_id", "user_id", "state", "eff_from")
      graft.streaming.StreamRunner.runToBatch(joined, "q49_enrich")
    },

    // The generic as-of join (ops/AsOfJoin) against DuckDB's NATIVE
    // ASOF LEFT JOIN as the oracle: every purchase picks up the latest
    // prior click value per user — tag + union + one keyed window, never a
    // range cross join. -1 where no click precedes the purchase.
    "q35_asof_join" -> { (s, dir) =>
      val e = ev(s, dir)
      val left = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val right = e.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("value").as("click_value"))
      graft.ops.AsOfJoin.asOf(left, right, Seq("user_id"), "ts", Seq("click_value"))
        .select(col("event_id"), col("user_id"),
          round(coalesce(col("click_value"), lit(-1.0)), 4).as("click_value"))
    },

    // The uevol_equipment / uevol_subsystem / uevol_project catalog END TO
    // END (DataLoader.java:215-497): per-equipment fact rollup decorated
    // through the equipment -> subsystem dimension chain, equipment gated by
    // its online_activated flag (DataLoader.java:225-226), and the
    // project's site row attached as a constant. One partial-agg shuffle on
    // the fact; every dimension broadcast.
    "q37_equipment_rollup" -> { (s, dir) =>
      import s.implicits._
      val equipment = EquipRows.toDF(
        "ssty", "ssid", "name", "sector_id", "playback_activated", "online_activated")
      val subsystem = SubsystemRows.toDF("ssty", "ssname")
      val project = Seq(graft.model.Telemetry.UevolProject(1, 0, "site_lille"),
        graft.model.Telemetry.UevolProject(2, 0, "schema_v2")).toDF()
      val act = graft.io.AcquisitionMode.activated(equipment, graft.io.Online)
      ev(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .join(broadcast(act), col("user_id") === col("ssid"))
        .join(broadcast(subsystem), "ssty")
        .crossJoin(broadcast(
          project.where(col("key") === 1).select(col("value").as("site"))))
        .select(col("ssid"), col("name").as("equipment"),
          col("ssname").as("subsystem"), col("sector_id"),
          col("n_events"), col("sum_value"), col("site"))
    },

    // The bucketed range join (ops/RangeJoin): each user's first-2000-ids
    // interval joined to its events via the (key, bin) equijoin + exact
    // containment — never a BroadcastNestedLoop over intervals × points.
    "q36_range_join" -> { (s, dir) =>
      val e = ev(s, dir)
      val iv = e.groupBy("user_id").agg(min("event_id").as("lo"))
        .withColumn("hi", col("lo") + lit(2000L))
      graft.ops.RangeJoin.intervalPoint(iv,
          e.select("user_id", "event_id", "value"),
          Seq("user_id"), "lo", "hi", "event_id", binWidth = 500L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    },

    // The full produce -> consume loop: getMessage reconstructs against a
    // snapshot the ENGINE ITSELF dumped (SnapshotDump at S), not a
    // synthesized one — epoch updates shadow the dumped state per path,
    // paths last-updated before S keep the snapshot instant, untouched
    // fields fall to the -1 sentinel.
    "q34_dump_reconstruct" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val (snapAt, target) = windowBounds(e)
      val fm = fieldMapDF(s)
      val fact = asInstanceFieldNested(e, fm)
      val instanceMessage = Seq((target, 1, 7, 0))
        .toDF("id", "uevol_message_id", "src_id", "dst_id")
      val catalog = Seq(("snap_s", snapAt)).toDF("name", "start_instance_message_id")
      graft.queries.MessageReconstruct.getMessage(
          fact, instanceMessage, asUevolField(s), Some(catalog),
          _ => graft.queries.SnapshotDump.dump(fact, snapAt), target)
        .withColumn("value", round(col("value"), 4))
    },

    // The replay-mode surface END TO END (GetMessage.sql:17-23,
    // DataLoader.java:57,143,225-226): the mode picks the *_replay fact
    // table (here a deterministic even-event_id subset) and the catalog's
    // playback_activated flag gates which fields participate — table
    // switch + flag filter + per-field aggregate, all under the oracle.
    "q32_replay_mode" -> { (s, dir) =>
      import s.implicits._
      val e = ev(s, dir)
      val fm = fieldMapDF(s)
      val loader = new graft.io.MapLoader(Map(
        "instance_field" -> asInstanceField(e, fm),
        "instance_field_replay" ->
          asInstanceField(e.where(pmod(col("event_id"), lit(2)) === 0), fm)))
      val catalog = EventTypes.zipWithIndex.map { case (t, i) =>
        (i + 1, 1, t, 0, (i + 1) % 2 == 1, i + 1 != 4) }
        .toDF("id", "uevol_message_id", "name", "type",
          "playback_activated", "online_activated")
      val mode: graft.io.AcquisitionMode = graft.io.Replay
      val fields = graft.io.AcquisitionMode.activated(catalog, mode)
        .select(col("id").as("uevol_field_id"))
      loader.instanceField(mode)
        .join(broadcast(fields), Seq("uevol_field_id"), "left_semi")
        .groupBy("uevol_field_id")
        .agg(count(lit(1)).as("n"), round(sum("new_value"), 2).as("sum_value"))
    },

    // Skew-safe aggregation: the salted two-phase groupBy must produce
    // exactly what the direct groupBy produces — verified against the
    // plain-SQL oracle. (Salting spreads a reducer-dominating key over
    // `buckets` partitions; here it runs on a uniform key to pin equality.)
    "q22_salted_agg" -> { (s, dir) =>
      graft.ops.SkewSalt.aggregate(
          ev(s, dir).select("user_id", "value"), Seq("user_id"), "value", buckets = 8)
        .select(col("user_id"), col("n"),
          round(col("sum"), 2).as("sum_value"),
          round(col("min"), 4).as("min_value"),
          round(col("max"), 4).as("max_value"))
    },

    // §2.7 F4/§2.8 UD5 at scale: degree-2 dotted-key JSON flattened to
    // (relative_path, value) rows in one pass — the GetMessage JSON
    // machinery (SQL/GetMessage.sql:282-355) with no per-key loops. The
    // JSON is synthesized from event_id arithmetic so the oracle derives
    // the expected rows independently, without trusting any JSON parser.
    "q15_json_flatten" -> { (s, dir) =>
      val js = format_string(
        """{"000":%d,"000.001":{"000.001.001":%d,"000.001.002":%d}}""",
        pmod(col("event_id"), lit(100)), pmod(col("event_id"), lit(7)),
        pmod(col("event_id"), lit(13)))
      // JSON synth + parse + two generators are per-row CPU on a
      // one-row-group scan — spread before them (r19, guide §2.5;
      // identity at scale)
      val withJson = graft.functions.Spread.toCores(
        ev(s, dir).select(col("event_id")))
        .select(col("event_id"), js.as("js"))
      graft.ops.JsonExplode.flatten(withJson, "js", Seq("event_id"))
        .groupBy("relative_path")
        .agg(count(lit(1)).as("n"), sum("value").cast("long").as("sum_value"))
    },

    // Point-in-time full-state reconstruction (GetMessage semantics,
    // SQL/GetMessage.sql:8-998): latest update ≤ T per key via one partial-agg
    // shuffle, grid of all keys via cross join with the 5-row type dim,
    // never-updated keys get the reference's -1 sentinel defaults
    // (SQL/GetMessage.sql:435,973). No per-field loops, no self-join.
    "q17_reconstruct_state" -> { (s, dir) =>
      val e = ev(s, dir)
      // prune to the argmax payload before the shuffle — props/extra columns
      // must not ride through the exchange
      val latest = ArgmaxLatest.latestRows(
        e.where(col("ts") <= tsBound(e, AsOf))
          .select("user_id", "event_type", "ts", "event_id", "value"),
        Seq("user_id", "event_type"),
        struct(col("ts"), col("event_id")))
      // explicit broadcast: the distinct type dim is ~5 rows, and at 100x
      // an unhinted cross join against a shuffled distinct is a
      // plan-stability risk (AQE converting it locally is not a contract)
      val grid = e.select("user_id").distinct()
        .crossJoin(broadcast(e.select("event_type").distinct()))
      grid.join(latest, Seq("user_id", "event_type"), "left_outer")
        .select(
          col("user_id"), col("event_type"),
          coalesce(col("value"), lit(-1.0)).as("value"),
          coalesce(col("event_id"), lit(-1L)).as("last_event_id"))
    },

    // GetUpdateHistory's per-event wide table with LOCF forward-fill
    // (SQL/GetUpdateHistory.sql:80-177): pivot each event onto its type
    // column, then last(ignoreNulls) over the per-user ordered window —
    // one shuffle + one sort replaces the reference's per-row cursor loop.
    "q18_update_history" -> { (s, dir) =>
      val base = ev(s, dir).select("user_id", "event_id", "ts", "event_type", "value")
      val wide = base.groupBy("user_id", "event_id", "ts")
        .pivot("event_type", EventTypes)
        .agg(first("value"))
      val filled = Locf.fill(wide, Seq("user_id"), Seq(col("ts"), col("event_id")), EventTypes)
      filled.select(
        col("user_id") +: col("event_id") +:
          EventTypes.map(tp => coalesce(col(tp), lit(-1.0)).as(tp)): _*)
    },

    // Backup.java:40-61 compaction: latest state per key before the cutoff ∪
    // raw deltas after it — bounds the log without losing reconstructability.
    "q19_backup_compact" -> { (s, dir) =>
      val e = ev(s, dir)
      val cut = tsBound(e, Cutoff)
      val compacted = ArgmaxLatest.latestRows(
        e.where(col("ts") < cut)
          .select("user_id", "event_type", "ts", "event_id", "value"),
        Seq("user_id", "event_type"),
        struct(col("ts"), col("event_id")))
      val recent = e.where(col("ts") >= cut)
      compacted.select("event_id", "user_id", "event_type", "value")
        .unionByName(recent.select("event_id", "user_id", "event_type", "value"))
    },

    // LOCF grid resampling: each user's irregular update log resampled to
    // a 1-day grid over their own observed span, carrying the last value
    // written at-or-before each instant — checked against DuckDB's native
    // ASOF join over generate_series. One key-partitioned exchange.
    "q43_locf_grid" -> { (s, dir) =>
      val e = ev(s, dir)
      val staged = e.select(col("user_id"),
        Tables.epochNs(e.schema("ts").dataType, col("ts")).as("tns"),
        col("value"), col("event_id"))
      graft.ops.Resample.locfGrid(staged, Seq("user_id"), "tns", "value",
          "event_id", stepNs = 24L * 3600 * 1000000000L)
        .select(col("user_id"), col("t"), round(col("value"), 4).as("value"))
    },

    // Trailing range-window aggregates: per error event, count and
    // grid-exact value sum over the trailing hour — the SQL RANGE frame,
    // value-based so same-instant ties see identical frames everywhere.
    "q44_trailing_window" -> { (s, dir) =>
      val e = ev(s, dir)
      val staged = e.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"),
          Tables.epochNs(e.schema("ts").dataType, col("ts")).as("tns"),
          col("value"))
      graft.ops.Resample.trailingAgg(staged, Seq("user_id"), "tns", "value",
          windowNs = 3600L * 1000000000L)
        .select(col("user_id"), col("event_id"), col("n_win"), col("sum_win"))
    },

    // CreateArgumentsTable.sql:8-123: parse '(v),(v)' list literals, expand
    // to concrete (user, type) pairs, then aggregate the matching events.
    // The argument lists are tiny → parsed on the driver, broadcast-joined.
    "q20_args_expand" -> { (s, dir) =>
      val args = ArgsTable.expand(s,
        userList = "(1),(3),(5),(7)",
        typeList = "(click),(error),(purchase)")
      ev(s, dir)
        .join(broadcast(args), Seq("user_id", "event_type"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    })

  val oracles: Map[String, String] = Map(
    "q13_pivot" -> {
      val cols = EventTypes.map(tp =>
        s"coalesce(round(sum(CASE WHEN event_type = '$tp' THEN value END), 2), 0.0) AS $tp")
        .mkString(", ")
      s"SELECT user_id, $cols FROM events GROUP BY user_id"
    },
    "q14_json_extract" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
         CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
         FROM events GROUP BY event_type""",
    "q27_multiple_fields" -> {
      val fmVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH bounds AS (SELECT max(event_id) // 2 AS s, 3 * max(event_id) // 4 AS t
           FROM events),
         fm(fid, et) AS (VALUES $fmVals),
         trip(fid, uid) AS (VALUES (1, 7), (3, 9)),
         upd AS (SELECT fid, uid, value, event_id FROM (
           SELECT tr.fid, tr.uid, e.value, e.event_id,
             row_number() OVER (PARTITION BY tr.fid, tr.uid
               ORDER BY e.event_id DESC) AS rn
           FROM events e
           JOIN fm ON e.event_type = fm.et
           JOIN trip tr ON tr.fid = fm.fid AND e.user_id = tr.uid
           CROSS JOIN bounds b
           WHERE e.event_id BETWEEN b.s AND b.t) WHERE rn = 1),
         snap AS (SELECT fid, uid, value FROM (
           SELECT tr.fid, tr.uid, e.value,
             row_number() OVER (PARTITION BY tr.fid, tr.uid
               ORDER BY e.event_id DESC) AS rn
           FROM events e
           JOIN fm ON e.event_type = fm.et
           JOIN trip tr ON tr.fid = fm.fid AND e.user_id = tr.uid
           CROSS JOIN bounds b
           WHERE e.event_id <= b.s) WHERE rn = 1)
         SELECT tr.fid AS uevol_field_id, tr.uid AS src_id, 0 AS dst_id,
           fm.et AS name,
           CAST(coalesce(u.event_id,
             CASE WHEN sn.value IS NOT NULL THEN b.s END, -1) AS BIGINT)
             AS instance_message_id,
           '000' AS relative_path, 0 AS type,
           round(coalesce(u.value, sn.value, -1.0), 4) AS value
         FROM trip tr
         JOIN fm ON fm.fid = tr.fid
         CROSS JOIN bounds b
         LEFT JOIN upd u ON u.fid = tr.fid AND u.uid = tr.uid
         LEFT JOIN snap sn ON sn.fid = tr.fid AND sn.uid = tr.uid"""
    },
    "q25_field_filter" ->
      """WITH lo AS (SELECT min(event_id) AS l FROM events
           WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'),
         hi AS (SELECT max(event_id) AS h FROM events
           WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
         SELECT 2 AS uevol_field_id, e.event_id AS instance_message_id,
           CAST(e.user_id AS INT) AS src_id, round(e.value, 4) AS value
         FROM events e, lo, hi
         WHERE e.event_type = 'error' AND e.user_id = 7
           AND e.event_id BETWEEN lo.l AND hi.h""",
    "q26_backup_compact" -> {
      val fmVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH fm(fid, et) AS (VALUES $fmVals),
         idl AS (SELECT coalesce(min(event_id), 9223372036854775807) AS i
           FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'),
         mapped AS (SELECT fm.fid, e.event_id, CAST(e.user_id AS INT) AS src_id,
             round(e.value, 4) AS value
           FROM events e JOIN fm ON e.event_type = fm.et),
         recent AS (SELECT * FROM mapped, idl WHERE event_id >= idl.i),
         older AS (SELECT fid, event_id, src_id, value FROM (
           SELECT m.*, row_number() OVER (PARTITION BY m.fid ORDER BY m.event_id DESC) AS rn
           FROM mapped m, idl
           WHERE m.event_id < idl.i
             AND m.fid NOT IN (SELECT DISTINCT fid FROM recent)) WHERE rn = 1)
         SELECT fid AS uevol_field_id, event_id AS instance_message_id, src_id, value
         FROM older
         UNION ALL
         SELECT fid, event_id, src_id, value FROM recent"""
    },
    "q24_update_history_args" -> {
      val fmVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH bounds AS (SELECT max(event_id) // 2 AS s, 3 * max(event_id) // 4 AS t
           FROM events),
         f(fid) AS (VALUES (1), (2), (3)),
         fm(fid, et) AS (VALUES $fmVals),
         evw AS (SELECT e.event_id, fm.fid, CAST(trunc(e.value) AS BIGINT) AS v
           FROM events e JOIN fm ON e.event_type = fm.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND fm.fid <= 3 AND e.event_id BETWEEN b.s AND b.t),
         seed AS (SELECT fid, v FROM (
           SELECT fm.fid, CAST(trunc(e.value) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY fm.fid ORDER BY e.event_id DESC) AS rn
           FROM events e JOIN fm ON e.event_type = fm.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND fm.fid <= 3 AND e.event_id <= b.s) WHERE rn = 1),
         ids AS (SELECT DISTINCT event_id FROM evw UNION SELECT s FROM bounds),
         pts AS (SELECT event_id, fid, v FROM evw
           UNION ALL SELECT b.s, fid, v FROM seed CROSS JOIN bounds b),
         ptsm AS (SELECT event_id, fid, max(v) AS v FROM pts GROUP BY 1, 2),
         grid AS (SELECT i.event_id, f.fid FROM ids i CROSS JOIN f),
         filled AS (SELECT g.event_id, g.fid,
             last_value(p.v IGNORE NULLS) OVER (PARTITION BY g.fid ORDER BY g.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
           FROM grid g LEFT JOIN ptsm p ON p.event_id = g.event_id AND p.fid = g.fid)
         SELECT event_id AS instance_message_id,
           CAST(coalesce(max(CASE WHEN fid = 1 THEN v END), -1) AS BIGINT) AS id1_src7_dst0,
           CAST(coalesce(max(CASE WHEN fid = 2 THEN v END), -1) AS BIGINT) AS id2_src7_dst0,
           CAST(coalesce(max(CASE WHEN fid = 3 THEN v END), -1) AS BIGINT) AS id3_src7_dst0
         FROM filled GROUP BY event_id"""
    },
    "q23_snapshot_reconstruct" -> {
      val fieldVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH bounds AS (SELECT max(event_id) // 2 AS s, 3 * max(event_id) // 4 AS t
           FROM events),
         f(fid, et) AS (VALUES $fieldVals),
         upd AS (SELECT fid, value, event_id FROM (
           SELECT f.fid, e.value, e.event_id,
             row_number() OVER (PARTITION BY f.fid ORDER BY e.event_id DESC) AS rn
           FROM events e JOIN f ON e.event_type = f.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND e.event_id BETWEEN b.s AND b.t) WHERE rn = 1),
         snap AS (SELECT fid, value FROM (
           SELECT f.fid, e.value,
             row_number() OVER (PARTITION BY f.fid ORDER BY e.event_id DESC) AS rn
           FROM events e JOIN f ON e.event_type = f.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND e.event_id <= b.s) WHERE rn = 1)
         SELECT f.fid AS uevol_field_id, 7 AS src_id, 0 AS dst_id, f.et AS name,
           CAST(coalesce(u.event_id,
             CASE WHEN sn.value IS NOT NULL THEN b.s END, -1) AS BIGINT)
             AS instance_message_id,
           '000' AS relative_path, 0 AS type,
           round(coalesce(u.value, sn.value, -1.0), 4) AS value
         FROM f
         CROSS JOIN bounds b
         LEFT JOIN upd u ON u.fid = f.fid
         LEFT JOIN snap sn ON sn.fid = f.fid"""
    },
    "q37_equipment_rollup" -> {
      val eqVals = EquipRows.map { case (ssty, ssid, nm, sec, pb, on) =>
        s"($ssty, $ssid, '$nm', $sec, $pb, $on)" }.mkString(", ")
      val subVals = SubsystemRows.map { case (ssty, nm) => s"($ssty, '$nm')" }
        .mkString(", ")
      s"""WITH eq(ssty, ssid, name, sector_id, pb, onl) AS (VALUES $eqVals),
         sub(ssty, ssname) AS (VALUES $subVals),
         agg AS (SELECT user_id, count(*) AS n_events,
             round(sum(value), 2) AS sum_value
           FROM events GROUP BY user_id)
         SELECT eq.ssid, eq.name AS equipment, sub.ssname AS subsystem,
           eq.sector_id, agg.n_events, agg.sum_value, 'site_lille' AS site
         FROM agg
         JOIN eq ON eq.ssid = agg.user_id AND eq.onl
         JOIN sub ON sub.ssty = eq.ssty"""
    },
    "q36_range_join" ->
      """WITH iv AS (SELECT user_id, min(event_id) AS lo,
           min(event_id) + 2000 AS hi FROM events GROUP BY user_id)
         SELECT e.user_id, count(*) AS n, round(sum(e.value), 2) AS sum_value
         FROM events e
         JOIN iv ON e.user_id = iv.user_id AND e.event_id BETWEEN iv.lo AND iv.hi
         GROUP BY e.user_id""",
    "q39_sessionize" ->
      """WITH o AS (SELECT user_id, event_id, value, epoch_ns(ts) AS tns
           FROM events),
         g AS (SELECT *, CASE WHEN lag(tns) OVER w IS NULL
               OR tns - lag(tns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS new_s
           FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
         s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
               ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
           FROM g)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           count(*) AS n_events,
           CAST((max(tns) - min(tns)) // 1000000000 AS BIGINT) AS duration_s,
           round(CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS DOUBLE)
             / 1000000, 2) AS sum_value
         FROM s GROUP BY user_id, session_idx""",
    // Streaming twin: same session rule on MILLISECOND-floored times (the
    // stream folds on Timestamp.getTime after the ns->us->ms chain), closed
    // sessions only — every session except each user's last (open tail).
    "q40_sessionize_stream" ->
      """WITH o AS (SELECT user_id, event_id, value,
           epoch_ns(ts) // 1000000 AS tms FROM events),
         g AS (SELECT *, CASE WHEN lag(tms) OVER w IS NULL
               OR tms - lag(tms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
           FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
         s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
               ORDER BY tms, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
           FROM g),
         sess AS (SELECT user_id, session_idx, count(*) AS n_events,
             CAST((max(tms) - min(tms)) // 1000 AS BIGINT) AS duration_s,
             round(CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000, 2) AS sum_value
           FROM s GROUP BY user_id, session_idx),
         tails AS (SELECT user_id, max(session_idx) AS mx FROM sess GROUP BY user_id)
         SELECT sess.user_id, n_events, duration_s, sum_value
         FROM sess JOIN tails ON sess.user_id = tails.user_id
         WHERE sess.session_idx < tails.mx""",
    // q52: sessions across micro-batch boundaries. The oracle is q40's
    // ms-floored session rule over events ∪ the closed-form bridge
    // cohort (the syn CTE rebuilds the query body's 50 synthetic users
    // exactly: one lone session at T-5h, one two-event session
    // straddling T with a 20-min internal gap), WITHOUT the open-tail
    // exclusion — the pusher row drives the final eviction watermark to
    // max+31min, so every real session's timeout (last + 30-min gap <=
    // max+30min) fires strictly below it and emits; the engineered
    // batch-3 rows are excluded because the lagged late filter (wm1,
    // half a corpus span above their retimed position) must drop them,
    // and the pusher's own session stays open. Wrong continuation (a
    // straddling session re-opened instead of merged: 50 pairs split),
    // wrong drop (early sessions extended), or wrong timeout (open
    // tails never emitted, or the pusher emitted) each change the
    // multiset.
    "q52_session_boundary_stream" -> SessionBoundarySql,
    // q54: the identical fixture under the RocksDB provider — oracle
    // SHARED with q52 because the state-store provider must not change
    // a single output bit.
    "q54_session_rocksdb_boundary" -> SessionBoundarySql,
    // Streaming latest-state: the batch argmax per telemetry key.
    "q41_latest_state_stream" -> {
      val fieldVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH f(fid, et) AS (VALUES $fieldVals),
         u AS (SELECT f.fid AS uevol_field_id,
             CAST(e.user_id AS INT) AS src_id, 0 AS dst_id,
             e.event_id AS instance_message_id, e.value
           FROM events e JOIN f ON e.event_type = f.et)
         SELECT uevol_field_id, src_id, CAST(dst_id AS INT) AS dst_id,
           CAST(max(instance_message_id) AS BIGINT) AS instance_message_id,
           arg_max(value, instance_message_id) AS value
         FROM u GROUP BY uevol_field_id, src_id, dst_id"""
    },
    // Streaming windowed rates: minute buckets per field id, CLOSED windows
    // only — a window [start, end) is emitted iff end <= watermark, where
    // the final watermark is the max event time floored to the millisecond
    // minus the 10-minute delay (Spark floors the event-time stats to ms;
    // window bounds are exact minutes in microseconds).
    "q42_update_rates_stream" -> UpdateRatesSql,
    // q50: the identical aggregation under the RocksDB provider — the
    // oracle is SHARED with q42 because the state-store provider must not
    // change a single output bit.
    "q50_update_rates_rocksdb" -> UpdateRatesSql,
    // q51: the three-batch late-data regime. The oracle rebuilds the
    // engineered classes from the same event_id arithmetic, then replays
    // Spark's MEASURED two-watermark rule (see LateDataSql's scaladoc):
    // batch-3 rows survive iff their window end > wm1 (the late filter
    // lags eviction by one batch), and a window is reported iff its
    // end <= the final eviction watermark.
    "q51_late_data_stream" -> LateDataSql,
    // q53: q45's interval join over events ∪ the rebuilt straddle
    // cohort (one click/purchase pair per synthetic user, lag exactly
    // 3600 s). The oracle knows nothing of the batch split: under the
    // time-ordered split no legitimate match can be lost to eviction
    // (argued at the query body), so stream output == the plain batch
    // interval join — 40 cohort rows present iff batch-1 click state
    // survived into batch 2, duplicates absent iff nothing re-emits.
    "q53_join_boundary_stream" ->
      """WITH b AS (SELECT (min(epoch_ns(ts)) // 1000
             + max(epoch_ns(ts)) // 1000) // 2 AS mid FROM events),
         syn AS (
           SELECT 1100000000 + i AS event_id, 3000000000 + i AS user_id,
             'click' AS event_type, 2.5 AS value,
             mid - 1800000000 + i * 7000000 AS tus
           FROM range(40) t(i), b
           UNION ALL
           SELECT 1200000000 + i, 3000000000 + i, 'purchase', 2.5,
             mid + 1800000000 + i * 7000000
           FROM range(40) t(i), b),
         u AS (SELECT event_id, user_id, event_type, value,
             epoch_ns(ts) // 1000 AS tus FROM events
           UNION ALL SELECT * FROM syn)
         SELECT p.event_id AS purchase_id, p.user_id,
           c.event_id AS click_id, c.value AS click_value,
           p.tus - c.tus AS lag_us
         FROM (SELECT * FROM u WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM u WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND c.tus >= p.tus - 7200000000 AND c.tus <= p.tus""",
    // q45: the identical trailing-window join in batch SQL; lag in µs on
    // the shared UTC µs grid.
    "q45_attribution_stream" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
           c.value AS click_value,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts""",
    // q49: q46's SCD2 CTEs over the non-purchase log + the half-open
    // interval join per purchase.
    "q49_enrich_stream" ->
      """WITH np AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
           FROM events WHERE event_type != 'purchase'),
         o AS (SELECT user_id, event_type, t, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev,
             row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn
           FROM np),
         c AS (SELECT user_id, event_type, t, event_id FROM o
           WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
         iv AS (SELECT user_id, event_type AS state, t AS eff_from,
             coalesce(lead(t) OVER (
               PARTITION BY user_id ORDER BY t, event_id), -1) AS eff_to
           FROM c),
         p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS t_us
           FROM events WHERE event_type = 'purchase')
         SELECT p.purchase_id, p.user_id, iv.state, iv.eff_from
         FROM p JOIN iv ON p.user_id = iv.user_id
           AND p.t_us >= iv.eff_from
           AND (iv.eff_to = -1 OR p.t_us < iv.eff_to)""",
    // q48: the same sequential window gates, chained through CTEs.
    "q48_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
           WHERE event_type IN ('view', 'click', 'purchase')),
         s0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
             OVER (PARTITION BY user_id) AS g0 FROM e),
         s1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND t >= g0 THEN t END)
             OVER (PARTITION BY user_id) AS g1 FROM s0),
         s2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND t >= g1 THEN t END)
             OVER (PARTITION BY user_id) AS g2 FROM s1),
         agg AS (SELECT user_id,
             coalesce(max(g0), -1) AS t_step1,
             coalesce(max(g1), -1) AS t_step2,
             coalesce(max(g2), -1) AS t_step3
           FROM s2 GROUP BY user_id)
         SELECT user_id, t_step1, t_step2, t_step3,
           CAST(CASE WHEN t_step3 != -1 THEN 3 WHEN t_step2 != -1 THEN 2
                     WHEN t_step1 != -1 THEN 1 ELSE 0 END AS INT) AS steps_reached,
           CAST(CASE WHEN t_step3 != -1 THEN 1 ELSE 0 END AS INT) AS converted,
           CASE WHEN t_step3 != -1 THEN t_step3 - t_step1 ELSE -1 END AS conv_lag
         FROM agg""",
    // q47: q46's replay restricted to CLOSED intervals (the open tail per
    // user stays in stream state by design).
    "q47_scd2_stream" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         c AS (SELECT user_id, event_type, ts, event_id FROM o
           WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
         iv AS (SELECT user_id, event_type, epoch_us(ts) AS eff_from_us,
             epoch_us(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS eff_to_us
           FROM c)
         SELECT user_id, event_type, eff_from_us, eff_to_us
         FROM iv WHERE eff_to_us IS NOT NULL""",
    // q46: the same change-collapse + interval close via lag/lead.
    "q46_scd2_history" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         c AS (SELECT user_id, event_type, ts, event_id FROM o
           WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
         SELECT user_id, event_type, epoch_us(ts) AS eff_from_us,
           coalesce(epoch_us(lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id)), -1) AS eff_to_us
         FROM c""",
    "q35_asof_join" ->
      """WITH r AS (SELECT user_id, ts, max(value) AS cv FROM events
           WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT l.event_id, l.user_id,
           round(coalesce(r.cv, -1.0), 4) AS click_value
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase') l
         ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "q43_locf_grid" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, value, event_id FROM events),
         d AS (SELECT user_id, t, max_by(value, event_id) AS v FROM e GROUP BY 1, 2),
         b AS (SELECT user_id, min(t) AS lo, max(t) AS hi FROM d GROUP BY 1),
         g AS (SELECT user_id, unnest(generate_series(lo, hi, 86400000000000)) AS t
           FROM b)
         SELECT g.user_id, g.t, round(d.v, 4) AS value
         FROM g ASOF LEFT JOIN d ON g.user_id = d.user_id AND g.t >= d.t""",
    "q44_trailing_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t, value
           FROM events WHERE event_type = 'error')
         SELECT user_id, event_id,
           count(*) OVER w AS n_win,
           round(CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) OVER w AS DOUBLE)
             / 1000000, 2) AS sum_win
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t
           RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)""",
    "q34_dump_reconstruct" -> {
      val fieldVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH bounds AS (SELECT max(event_id) // 2 AS s, 3 * max(event_id) // 4 AS t
           FROM events),
         f(fid, et) AS (VALUES $fieldVals),
         ev7 AS (SELECT f.fid, e.value, e.event_id,
             CASE WHEN e.event_id % 3 = 0 THEN '000.001.001' ELSE '000' END AS rp
           FROM events e JOIN f ON e.event_type = f.et WHERE e.user_id = 7),
         upd AS (SELECT fid, rp, value, event_id FROM (
           SELECT v.fid, v.rp, v.value, v.event_id,
             row_number() OVER (PARTITION BY v.fid, v.rp
               ORDER BY v.event_id DESC) AS rn
           FROM ev7 v CROSS JOIN bounds b
           WHERE v.event_id BETWEEN b.s AND b.t) WHERE rn = 1),
         snap AS (SELECT fid, rp, value FROM (
           SELECT v.fid, v.rp, v.value,
             row_number() OVER (PARTITION BY v.fid, v.rp
               ORDER BY v.event_id DESC) AS rn
           FROM ev7 v CROSS JOIN bounds b WHERE v.event_id <= b.s) WHERE rn = 1),
         vals AS (
           SELECT fid, rp, value, event_id AS imid FROM upd
           UNION ALL
           SELECT sn.fid, sn.rp, sn.value, b.s FROM snap sn CROSS JOIN bounds b
           WHERE NOT EXISTS (SELECT 1 FROM upd u
             WHERE u.fid = sn.fid AND u.rp = sn.rp)),
         allrows AS (
           SELECT fid, rp, value, imid FROM vals
           UNION ALL
           SELECT f.fid, '000', -1.0, -1 FROM f
           WHERE NOT EXISTS (SELECT 1 FROM vals v WHERE v.fid = f.fid))
         SELECT a.fid AS uevol_field_id, 7 AS src_id, 0 AS dst_id, f.et AS name,
           CAST(a.imid AS BIGINT) AS instance_message_id, a.rp AS relative_path,
           0 AS type, round(a.value, 4) AS value
         FROM allrows a JOIN f ON f.fid = a.fid"""
    },
    "q33_snapshot_dump" -> {
      val fmVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH bounds AS (SELECT max(event_id) // 2 AS s FROM events),
         fm(fid, et) AS (VALUES $fmVals),
         ev2 AS (SELECT fm.fid, CAST(e.user_id AS INT) AS src, e.value, e.event_id,
             CASE WHEN e.event_id % 3 = 0 THEN '000.001.001' ELSE '000' END AS rp
           FROM events e JOIN fm ON e.event_type = fm.et
           WHERE e.user_id IN (7, 9)),
         latest AS (SELECT fid, src, rp, value FROM (
           SELECT v.fid, v.src, v.rp, v.value,
             row_number() OVER (PARTITION BY v.fid, v.src, v.rp
               ORDER BY v.event_id DESC) AS rn
           FROM ev2 v CROSS JOIN bounds b WHERE v.event_id <= b.s) WHERE rn = 1)
         SELECT fid AS uevol_field_id, src AS src_id, rp AS relative_path,
           round(value, 4) AS value
         FROM latest"""
    },
    "q32_replay_mode" -> {
      val fmVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH fm(fid, et) AS (VALUES $fmVals),
         act(fid) AS (VALUES (1), (3), (5))
         SELECT fm.fid AS uevol_field_id, count(*) AS n,
           round(sum(e.value), 2) AS sum_value
         FROM events e
         JOIN fm ON e.event_type = fm.et
         JOIN act ON act.fid = fm.fid
         WHERE e.event_id % 2 = 0
         GROUP BY fm.fid"""
    },
    "q29_field_updates_pad" ->
      """WITH upd AS (SELECT e.ts, e.event_id, e.value AS new_value,
           lag(e.value, 1, -1.0) OVER (PARTITION BY e.user_id, e.event_type
             ORDER BY e.ts, e.event_id) AS previous_value
         FROM events e WHERE e.user_id = 7 AND e.event_type = 'error'),
         w AS (SELECT * FROM upd
           WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
             AND TIMESTAMP '2024-01-20 00:00:00'),
         fst AS (SELECT * FROM w ORDER BY ts, event_id LIMIT 1),
         lst AS (SELECT * FROM w ORDER BY ts DESC, event_id DESC LIMIT 1)
         SELECT CAST(epoch_us(TIMESTAMP '2024-01-10 00:00:00') AS BIGINT) AS log_time_us,
           event_id, round(previous_value, 4) AS field_value FROM fst
         UNION ALL
         SELECT CAST(epoch_us(ts) AS BIGINT), event_id, round(new_value, 4) FROM w
         UNION ALL
         SELECT CAST(epoch_us(TIMESTAMP '2024-01-20 00:00:00') AS BIGINT), event_id,
           round(new_value, 4) FROM lst""",
    "q31_snapshot_diff" -> {
      val fieldVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH bounds AS (SELECT max(event_id) AS e2, max(event_id) // 2 AS s,
             3 * max(event_id) // 4 AS t FROM events),
         f(fid, et) AS (VALUES $fieldVals),
         vs AS (SELECT fid, value FROM (
           SELECT f.fid, e.value,
             row_number() OVER (PARTITION BY f.fid ORDER BY e.event_id DESC) AS rn
           FROM events e JOIN f ON e.event_type = f.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND e.event_id <= b.s) WHERE rn = 1),
         ve AS (SELECT fid, value FROM (
           SELECT f.fid, e.value,
             row_number() OVER (PARTITION BY f.fid ORDER BY e.event_id DESC) AS rn
           FROM events e JOIN f ON e.event_type = f.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND e.event_id <= b.e2) WHERE rn = 1),
         smax AS (SELECT fid, value FROM vs WHERE fid % 2 = 0
           UNION ALL SELECT fid, value FROM ve WHERE fid % 2 = 1),
         same AS (SELECT a.fid, a.value FROM vs a
           JOIN smax b ON a.fid = b.fid AND a.value = b.value),
         upd AS (SELECT fid, value, event_id FROM (
           SELECT f.fid, e.value, e.event_id,
             row_number() OVER (PARTITION BY f.fid ORDER BY e.event_id DESC) AS rn
           FROM events e JOIN f ON e.event_type = f.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND e.event_id BETWEEN b.s AND b.t
             AND f.fid NOT IN (SELECT fid FROM same)) WHERE rn = 1),
         vals AS (
           SELECT sm.fid, sm.value, b.s AS imid FROM same sm CROSS JOIN bounds b
           UNION ALL SELECT fid, value, event_id FROM upd
           UNION ALL SELECT m.fid, m.value, b.s FROM vs m CROSS JOIN bounds b
             WHERE m.fid NOT IN (SELECT fid FROM same)
               AND m.fid NOT IN (SELECT fid FROM upd)),
         allrows AS (SELECT fid, value, imid FROM vals
           UNION ALL SELECT f.fid, -1.0, -1 FROM f
           WHERE f.fid NOT IN (SELECT fid FROM vals))
         SELECT a.fid AS uevol_field_id, 7 AS src_id, 0 AS dst_id, f.et AS name,
           CAST(a.imid AS BIGINT) AS instance_message_id, '000' AS relative_path,
           0 AS type, round(a.value, 4) AS value
         FROM allrows a JOIN f ON f.fid = a.fid"""
    },
    "q30_update_history_long" -> {
      val fmVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH bounds AS (SELECT max(event_id) // 2 AS s, 3 * max(event_id) // 4 AS t
           FROM events),
         f(fid) AS (VALUES (1), (2), (3), (4), (5)),
         fm(fid, et) AS (VALUES $fmVals),
         evw AS (SELECT e.event_id, fm.fid, CAST(trunc(e.value) AS BIGINT) AS v
           FROM events e JOIN fm ON e.event_type = fm.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND e.event_id BETWEEN b.s AND b.t),
         seed AS (SELECT fid, v FROM (
           SELECT fm.fid, CAST(trunc(e.value) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY fm.fid ORDER BY e.event_id DESC) AS rn
           FROM events e JOIN fm ON e.event_type = fm.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND e.event_id <= b.s) WHERE rn = 1),
         ids AS (SELECT DISTINCT event_id FROM evw UNION SELECT s FROM bounds),
         pts AS (SELECT event_id, fid, v FROM evw
           UNION ALL SELECT b.s, fid, v FROM seed CROSS JOIN bounds b),
         ptsm AS (SELECT event_id, fid, max(v) AS v FROM pts GROUP BY 1, 2),
         grid AS (SELECT i.event_id, f.fid FROM ids i CROSS JOIN f),
         filled AS (SELECT g.event_id, g.fid,
             last_value(p.v IGNORE NULLS) OVER (PARTITION BY g.fid ORDER BY g.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
           FROM grid g LEFT JOIN ptsm p ON p.event_id = g.event_id AND p.fid = g.fid),
         keep AS (SELECT event_id FROM filled
           WHERE fid = 2 AND coalesce(v % 2 = 0, FALSE))
         SELECT fi.event_id AS instance_message_id, fi.fid AS uevol_field_id,
           7 AS src_id, 0 AS dst_id, CAST(coalesce(fi.v, -1) AS BIGINT) AS value
         FROM filled fi JOIN keep k ON k.event_id = fi.event_id"""
    },
    "q38_update_history_composed" -> {
      val fmVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      // The composed seed "reconstruction at S via snapshot(S/2) + epoch
      // argmax" collapses to latest-value-<=-S per triple (the lattice:
      // epoch updates shadow the snapshot, the snapshot is itself the
      // latest <= S/2); triple (5,7,1) has no events at any instant, so it
      // seeds at the -1 sentinel and stays there across the window.
      s"""WITH bounds AS (SELECT max(event_id) // 2 AS s, 3 * max(event_id) // 4 AS t
           FROM events),
         fm(fid, et) AS (VALUES $fmVals),
         evw AS (SELECT e.event_id, fm.fid, CAST(trunc(e.value) AS BIGINT) AS v
           FROM events e JOIN fm ON e.event_type = fm.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND fm.fid IN (1, 2) AND e.event_id BETWEEN b.s AND b.t),
         seed AS (SELECT fid, v FROM (
           SELECT fm.fid, CAST(trunc(e.value) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY fm.fid ORDER BY e.event_id DESC) AS rn
           FROM events e JOIN fm ON e.event_type = fm.et CROSS JOIN bounds b
           WHERE e.user_id = 7 AND fm.fid IN (1, 2) AND e.event_id <= b.s) WHERE rn = 1
           UNION ALL SELECT 5, -1),
         f(fid) AS (VALUES (1), (2), (5)),
         ids AS (SELECT DISTINCT event_id FROM evw UNION SELECT s FROM bounds),
         pts AS (SELECT event_id, fid, v FROM evw
           UNION ALL SELECT b.s, fid, v FROM seed CROSS JOIN bounds b),
         ptsm AS (SELECT event_id, fid, max(v) AS v FROM pts GROUP BY 1, 2),
         grid AS (SELECT i.event_id, f.fid FROM ids i CROSS JOIN f),
         filled AS (SELECT g.event_id, g.fid,
             last_value(p.v IGNORE NULLS) OVER (PARTITION BY g.fid ORDER BY g.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
           FROM grid g LEFT JOIN ptsm p ON p.event_id = g.event_id AND p.fid = g.fid)
         SELECT event_id AS instance_message_id,
           CAST(coalesce(max(CASE WHEN fid = 1 THEN v END), -1) AS BIGINT) AS id1_src7_dst0,
           CAST(coalesce(max(CASE WHEN fid = 2 THEN v END), -1) AS BIGINT) AS id2_src7_dst0,
           CAST(coalesce(max(CASE WHEN fid = 5 THEN v END), -1) AS BIGINT) AS id5_src7_dst1
         FROM filled GROUP BY event_id"""
    },
    "q28_nested_reconstruct" -> {
      val fieldVals = EventTypes.zipWithIndex
        .map { case (t, i) => s"(${i + 1}, '$t')" }.mkString(", ")
      s"""WITH bounds AS (SELECT max(event_id) // 2 AS s, 3 * max(event_id) // 4 AS t
           FROM events),
         f(fid, et) AS (VALUES $fieldVals),
         ev7 AS (SELECT f.fid, e.value, e.event_id,
             CASE WHEN e.event_id % 3 = 0 THEN '000.001.001' ELSE '000' END AS rp
           FROM events e JOIN f ON e.event_type = f.et WHERE e.user_id = 7),
         upd AS (SELECT fid, rp, value, event_id FROM (
           SELECT v.fid, v.rp, v.value, v.event_id,
             row_number() OVER (PARTITION BY v.fid, v.rp
               ORDER BY v.event_id DESC) AS rn
           FROM ev7 v CROSS JOIN bounds b
           WHERE v.event_id BETWEEN b.s AND b.t) WHERE rn = 1),
         snap0 AS (SELECT fid, value AS v0 FROM (
           SELECT v.fid, v.value,
             row_number() OVER (PARTITION BY v.fid ORDER BY v.event_id DESC) AS rn
           FROM ev7 v CROSS JOIN bounds b WHERE v.event_id <= b.s) WHERE rn = 1),
         snapmm AS (SELECT v.fid, min(v.value) AS v1, max(v.value) AS v2
           FROM ev7 v CROSS JOIN bounds b WHERE v.event_id <= b.s GROUP BY v.fid),
         snaprows AS (SELECT s0.fid, '000' AS rp, s0.v0 AS value FROM snap0 s0
           UNION ALL SELECT fid, '000.001.001', v1 FROM snapmm
           UNION ALL SELECT fid, '000.001.002', v2 FROM snapmm),
         vals AS (
           SELECT fid, rp, value, event_id AS imid FROM upd
           UNION ALL
           SELECT sr.fid, sr.rp, sr.value, b.s FROM snaprows sr CROSS JOIN bounds b
           WHERE NOT EXISTS (SELECT 1 FROM upd u
             WHERE u.fid = sr.fid AND u.rp = sr.rp)),
         allrows AS (
           SELECT fid, rp, value, imid FROM vals
           UNION ALL
           SELECT f.fid, '000', -1.0, -1 FROM f
           WHERE NOT EXISTS (SELECT 1 FROM vals v WHERE v.fid = f.fid))
         SELECT a.fid AS uevol_field_id, 7 AS src_id, 0 AS dst_id, f.et AS name,
           CAST(a.imid AS BIGINT) AS instance_message_id, a.rp AS relative_path,
           0 AS type, round(a.value, 4) AS value
         FROM allrows a JOIN f ON f.fid = a.fid"""
    },
    "q22_salted_agg" ->
      """SELECT user_id, count(*) AS n,
         round(sum(value), 2) AS sum_value,
         round(min(value), 4) AS min_value,
         round(max(value), 4) AS max_value
         FROM events GROUP BY user_id""",
    "q15_json_flatten" ->
      """SELECT relative_path, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_value FROM (
           SELECT '000' AS relative_path, event_id % 100 AS v FROM events
           UNION ALL SELECT '000.001.001', event_id % 7 FROM events
           UNION ALL SELECT '000.001.002', event_id % 13 FROM events)
         GROUP BY relative_path""",
    "q17_reconstruct_state" ->
      s"""WITH latest AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE ts <= TIMESTAMP '$AsOf') WHERE rn = 1)
         SELECT g.user_id, g.event_type,
           coalesce(l.value, -1.0) AS value,
           coalesce(l.event_id, -1) AS last_event_id
         FROM (SELECT u.user_id, t.event_type
               FROM (SELECT DISTINCT user_id FROM events) u
               CROSS JOIN (SELECT DISTINCT event_type FROM events) t) g
         LEFT JOIN latest l
           ON g.user_id = l.user_id AND g.event_type = l.event_type""",
    "q18_update_history" -> {
      val cols = EventTypes.map(tp =>
        s"coalesce(last_value(CASE WHEN event_type = '$tp' THEN value END IGNORE NULLS) OVER w, -1.0) AS $tp")
        .mkString(", ")
      s"""SELECT user_id, event_id, $cols FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
    },
    "q19_backup_compact" ->
      s"""SELECT event_id, user_id, event_type, value FROM (
            SELECT * FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts DESC, event_id DESC) AS rn
              FROM events WHERE ts < TIMESTAMP '$Cutoff') WHERE rn = 1)
          UNION ALL
          SELECT event_id, user_id, event_type, value FROM events
          WHERE ts >= TIMESTAMP '$Cutoff'""",
    "q20_args_expand" ->
      """SELECT user_id, event_type, count(*) AS n_events,
         round(sum(value), 2) AS total_value
         FROM events
         WHERE user_id IN (1, 3, 5, 7)
           AND event_type IN ('click', 'error', 'purchase')
         GROUP BY user_id, event_type""")
}
