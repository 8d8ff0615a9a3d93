package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series resampling over the append-only update log — the two
  * standard telemetry consumers downstream of the reference's delta-log
  * semantics (the reference reconstructs state AT an instant; these
  * reconstruct it ALONG a time axis):
  *
  *  - [[locfGrid]]: fixed-interval grid per key with the
  *    last-observation-carried-forward value at each instant — "sensor
  *    value every minute" from an irregular update log.
  *  - [[trailingAgg]]: event-synchronous trailing-window aggregates —
  *    "errors and value mass in the last hour, at every event".
  *
  * Both take the time column as epoch-ns (stage with
  * [[graft.io.Tables.epochNs]] — post-scan, so nothing pushdown-relevant
  * is lost).
  */
object Resample {

  /** LOCF-resampled grid: for each key, instants `min_t, min_t+step, …
    * ≤ max_t` (the key's own observed span — `sequence` semantics any
    * engine replays with `generate_series`) carrying the value of the
    * latest update at-or-before the instant. Same-instant updates reduce
    * to the highest-`ordCol` row first, so the carried value is
    * deterministic where a raw window would be partition-order luck.
    *
    * Scale shape (plan-audited, QueriesSpec): the dedup aggregate
    * exchanges on (key, t); the bounds branch never re-runs it — Catalyst
    * prunes the max_by down to min/max(t) over a two-column scan — and
    * the union + LOCF window share one key-partitioned exchange. Grid
    * volume is span/step per key — the caller prices `stepNs` (a 1 s grid
    * over a year is 31M rows per key; that is the operator doing its job,
    * not a plan defect).
    *
    * @return (keyCols…, t, value) — one row per key per grid instant
    */
  def locfGrid(events: DataFrame, keyCols: Seq[String], tsNsCol: String,
               valueCol: String, ordCol: String, stepNs: Long): DataFrame = {
    require(stepNs > 0, s"stepNs=$stepNs must be positive")
    val keys = keyCols.map(col)
    // one value per (key, instant): last writer (highest ordCol) wins.
    // NOT persisted, by measurement (BASELINE.md, "q43 LOCF grid ships
    // unpersisted"): the bounds branch only consumes dedup's GROUPING columns, so Catalyst
    // prunes the max_by aggregate out of that branch entirely —
    // min/max(t) compute straight off a 2-column scan (plan-asserted in
    // QueriesSpec). The "dedup computes twice" premise behind the old S4
    // persist never holds here, and the persist's cache-fill barrier
    // measured 2.3-2.8x slower at BOTH sf0.1 and 10x.
    // ordCol ties break on the value itself (struct ordering), so the
    // winner is a pure function of the data even when the caller's ordCol
    // is not unique per (key, t) — not partition-order luck. A value type
    // that is not orderable (map, ...) cannot join the ordering key, so it
    // falls back to plain max_by(value, ord) — still correct whenever
    // ordCol is unique per (key, t), which that caller must then ensure.
    val valueOrderable = org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(events.schema(valueCol).dataType)
    val tieKey =
      if (valueOrderable) struct(col(ordCol), col(valueCol)) else col(ordCol)
    val dedup = events
      .groupBy((keys :+ col(tsNsCol).as("t")): _*)
      .agg(max_by(col(valueCol), tieKey).as("__v"))
    val grid = dedup.groupBy(keys: _*)
      .agg(min("t").as("__lo"), max("t").as("__hi"))
      .select(keys :+ explode(sequence(col("__lo"), col("__hi"),
        lit(stepNs))).as("t"): _*)
      .withColumn("__v", lit(null).cast(dedup.schema("__v").dataType))
      .withColumn("__grid", lit(1))
    // events sort before the grid instant at the same t, so the instant
    // picks up the value written exactly at it
    val w = Window.partitionBy(keys: _*)
      .orderBy(col("t"), col("__grid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dedup.withColumn("__grid", lit(0))
      .unionByName(grid)
      .withColumn("__locf", last("__v", ignoreNulls = true).over(w))
      .where(col("__grid") === 1)
      .select(keys :+ col("t") :+ col("__locf").as("value"): _*)
  }

  /** Trailing range-window aggregates at every event: count and
    * grid-exact value sum over `[t − windowNs, t]` (both ends inclusive,
    * the SQL RANGE frame any engine replays). ONE key-partitioned
    * exchange + sort; the frame is value-based, so same-instant ties see
    * identical frames on every engine. The sum rides the 1e-6 integer
    * grid (Sessionize's discipline) — a raw double sum would hash-differ
    * with partition order.
    *
    * @return input columns + `n_win` (count) + `sum_win` (2-decimal)
    */
  def trailingAgg(events: DataFrame, keyCols: Seq[String], tsNsCol: String,
                  valueCol: String, windowNs: Long): DataFrame = {
    require(windowNs > 0, s"windowNs=$windowNs must be positive")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsNsCol))
      .rangeBetween(-windowNs, Window.currentRow)
    events
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sum_win",
        round(sum(round(col(valueCol) * 1e6, 0).cast("long")).over(w)
          .cast("double") / 1e6, 2))
  }
}
