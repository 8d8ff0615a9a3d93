package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 interval-history builder — turn an append-only change log into the
  * `[effective_from, effective_to)` interval table that point-in-time
  * lookups and as-of joins consume directly.
  *
  * The reconstruction family (`updateHistory`, `getMessage`) answers
  * "what was the value AT instant t"; the interval form answers the dual
  * "over which span did each value hold", which is the dimension-table
  * shape warehouse history (slowly-changing-dimension type 2) and
  * interval joins want. Consecutive rows with an UNCHANGED value collapse
  * into one interval (null-safe comparison — null is a value and a
  * null→null run is one interval); the final interval per key is open
  * (`effective_to` = the `openEnd` sentinel).
  *
  * ONE exchange on the key: both windows (the change filter's lag, the
  * interval close's lead) share the same partitioning, so Catalyst reuses
  * the distribution; the lead runs over the already-collapsed set.
  * Ordering is total via the caller's tie-break column, so reruns,
  * repartitionings and engines agree row for row.
  */
object Scd2 {

  /** `df(keyCol, tsCol, ordCol, valueCol)` → one row per value CHANGE:
    * (keyCol, valueCol, eff_from = that row's `tsCol`, eff_to = the next
    * change's `tsCol`, or `openEnd` for the still-current interval).
    * `ordCol` breaks same-instant ties deterministically. The NULL default
    * `openEnd` is type-correct for any `tsCol` type, where a hard-coded
    * `-1L` sentinel fails analysis against a timestamp column; callers on
    * numeric epochs pass `lit(-1L)` to keep the q46 sentinel shape.
    */
  def fromLog(df: DataFrame, keyCol: String, tsCol: String, ordCol: String,
              valueCol: String, openEnd: Column = lit(null)): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(ordCol))
    val changes = df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .where(col("__rn") === 1 || !(col("__prev") <=> col(valueCol)))
      .drop("__rn", "__prev")
    changes
      .withColumn("eff_from", col(tsCol))
      .withColumn("eff_to", coalesce(lead(col(tsCol), 1).over(w), openEnd))
      .select(col(keyCol), col(valueCol), col("eff_from"), col("eff_to"))
  }
}
