package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stream-STREAM interval equi-join — the attribution shape: every left
  * event (purchase) picks up the right events (clicks) of the same key
  * whose timestamps fall in the trailing window `[left.ts − lookback,
  * left.ts]`. The one streaming join class the stream-static twins
  * (DocStream, UpdateStream) cannot express: BOTH sides arrive
  * continuously, and neither fits in a broadcast.
  *
  * Spark's state cleanup needs exactly what the API here enforces: a
  * watermark on each side plus a two-sided time-range predicate, which
  * bound join state to `watermark + lookback` per side — state is a time
  * window, not history. At 100 TB/day ingest the state store holds only
  * the trailing minutes of both streams per key.
  *
  * Works identically on BATCH frames (watermarks are streaming-only
  * metadata and are skipped for batch inputs), so one definition serves
  * the streaming deployment and its batch replay/backfill — the parity
  * the q45 oracle row gates.
  *
  * Column names must be disjoint across the two sides (rename before the
  * call — the q45 usage shows the pattern); `tsL`/`tsR` are event-time
  * timestamp columns.
  */
object IntervalStream {

  def intervalJoin(left: DataFrame, right: DataFrame,
                   keyEq: Column, tsL: String, tsR: String,
                   lookback: String, watermark: String): DataFrame = {
    val l = if (left.isStreaming) left.withWatermark(tsL, watermark) else left
    val r = if (right.isStreaming) right.withWatermark(tsR, watermark) else right
    l.join(r, keyEq &&
      col(tsR) >= col(tsL) - expr(s"INTERVAL $lookback") &&
      col(tsR) <= col(tsL))
  }

  /** Stream-STATIC temporal enrichment: each arriving event picks up the
    * dimension value IN EFFECT at its event time from an SCD2 interval
    * table ([[graft.ops.Scd2.fromLog]]'s output shape) — the lookup half
    * of slowly-changing-dimension history. STATELESS on the stream side
    * (a plain broadcast/equi join against a static frame; no watermark,
    * no state store), so it composes with any downstream streaming stage.
    * `[eff_from, eff_to)` half-open; the still-current interval is open
    * whether the SCD2 builder marked it with a NULL `eff_to`
    * ([[graft.ops.Scd2.fromLog]]'s default) or the `openEndSentinel`
    * value — BOTH are treated as open here, because a plain `===`
    * against a NULL eff_to would evaluate to NULL and silently drop
    * every event in the most recent (open) interval, the most common
    * lookup of all. An event before the key's first interval gets no
    * row (inner join — the caller chooses outer semantics by unioning
    * misses). The join key columns must be distinct between the two
    * frames: alias the interval side first, as q49 does with its `dim_*`
    * columns.
    */
  def enrichAsOf(events: DataFrame, intervals: DataFrame, keyEq: Column,
                 tsCol: String, effFromCol: String = "eff_from",
                 effToCol: String = "eff_to",
                 openEndSentinel: Long = -1L): DataFrame =
    events.join(broadcast(intervals),
      keyEq && col(tsCol) >= col(effFromCol) &&
        (col(effToCol).isNull || col(effToCol) === openEndSentinel ||
          col(tsCol) < col(effToCol)))
}
