package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Greatest-row-per-group ("latest update per field") — SURVEY.md §2.3 J6 /
  * §2.4 A3.
  *
  * The reference computes this as `GROUP BY key → max(id)` RIGHT-OUTER-joined
  * back to the log (`SQL/GetMessage.sql:205-214`), or worse, as a per-row UDF
  * running a Dataset action per input row (`Java/.../RetrieveMessage.java:92-105`).
  * Neither survives a cluster. Here it is a single aggregation with map-side
  * partial combine: `max_by(struct(allCols), orderKey)` — one shuffle on the
  * group keys, no self-join, no window sort. At 100 TB this is the cheapest
  * correct shape: partial aggregation collapses each input partition to one
  * row per key before the exchange.
  */
object ArgmaxLatest {

  /** Latest full row per `keys`, ordered by `ord` (ties broken by `ord`
    * struct ordering — pass `struct(primary, tiebreak)` for determinism).
    */
  def latestRows(df: DataFrame, keys: Seq[String], ord: Column): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__latest"))
      .select(col("__latest.*"))
  }

  /** Window-based variant (`row_number() == 1`). Same semantics; costs a full
    * sort within each hash partition instead of a partial-agg combine. It is
    * the reference that OpsSpec's parity check compares [[latestRows]]
    * against; top-K > 1 goes through [[topKPerKey]].
    */
  def latestRowsWindow(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Top-K rows per key by descending `order`. */
  def topKPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }
}
