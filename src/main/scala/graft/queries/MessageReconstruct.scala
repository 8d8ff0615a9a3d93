package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Telemetry
import graft.ops.{ArgmaxLatest, ChangeSplit, SnapshotBracket, TieredResolve}

/** Point-in-time message reconstruction — the engine's flagship capability.
  *
  * Covers both reference generations:
  * - `RetrieveMessage.java:54-118` (log-only argmax per field, expressed
  *   there as a per-row UDF that only works in local mode);
  * - `SQL/GetMessage.sql:8-998` (snapshot-bracketed: nearest snapshot +
  *   delta-log slice + JSON explode + sentinel defaults).
  *
  * Driver side: the header probe and the snapshot bracket, one small
  * collect each. Then one Catalyst DAG ([[TieredResolve]]): epoch log slice
  * ∪ exploded snap_min ∪ one −1 sentinel per message field → one
  * `max_by` aggregate (one hash exchange, map-side partial combine) → a
  * single-partition key-level sentinel window → broadcast name/type join →
  * sort. Five Spark jobs per call: header, bracket, field-list broadcast,
  * the shuffle-map stage, the result. The snapshot bracket bounds the fact
  * scan to `[snap_min_start, target]` — the partition-pruning move that
  * makes this O(epoch) instead of O(history) at 100 TB.
  *
  * Value lattice per (field, src, dst, relative_path):
  *   latest log update in the epoch ≫ snapshot value ≫ −1 sentinel
  * (`SQL/GetMessage.sql:435,571-590,973`). Where the reference's
  * same/diff snapshot-compare shortcut can misreport a within-epoch
  * A→B→A oscillation as A, this lattice is replay-consistent (update wins);
  * [[getMessageSnapshotDiff]] offers the reference's exact shortcut
  * semantics (and its scan reduction) for callers that want parity.
  */
object MessageReconstruct {

  private val Key = TieredResolve.Key

  /** Reconstruct the full field vector of message instance `target`.
    *
    * @param snapshotLoader resolves a snapshots-catalog `name` to its rows
    *                       (uevol_field_id, src_id, dst_id,
    *                       instance_message_id, json_value)
    * @return (uevol_field_id, src_id, dst_id, name, instance_message_id,
    *         relative_path, type, value) ordered by (field, path) —
    *         `SQL/GetMessage.sql:451-460` shape.
    */
  def getMessage(
      instanceField: DataFrame,
      instanceMessage: DataFrame,
      uevolField: DataFrame,
      snapshotCatalog: Option[DataFrame],
      snapshotLoader: String => DataFrame,
      target: Long): DataFrame =
    resolveHeader(instanceMessage, target) match {
      case None => emptyResult(uevolField) // unknown id: the NULL branch (:992-996)
      case Some((msgId, srcId, dstId)) =>
        val messageFields = fieldsOf(uevolField, msgId, srcId, dstId)

        // Bracket snapshots; snap_min bounds the delta scan (GetMessage.sql:63-92).
        val snapMin = snapshotCatalog.flatMap(SnapshotBracket.bracket(_, target)._1)
        val sliceLo = snapMin.map(_.start_instance_message_id).getOrElse(Long.MinValue)

        TieredResolve.resolve(
          epochSlice(instanceField, msgId, srcId, dstId, sliceLo, target),
          snapMin.map(ref => loadSnapshot(snapshotLoader, ref.name, srcId, dstId)),
          messageFields, messageFields)
    }

  /** Reference-parity reconstruction using the same/diff snapshot-compare
    * shortcut (`SQL/GetMessage.sql:127-176`): keys whose `json_value` is
    * IDENTICAL in both bracketing snapshots skip the delta log entirely and
    * keep the snapshot state — the reference's scan reduction, worthwhile
    * when most fields are quiescent between snapshots. The trade, pinned by
    * the oscillation spec: a within-epoch A→B→A (updated to B before the
    * target, back to A before snap_max) reports A here, while the
    * replay-consistent [[getMessage]] lattice reports B. Degenerate
    * brackets (snap_min == snap_max, `SQL/GetMessage.sql:611-990`) skip
    * change detection, exactly as the reference does — we delegate to
    * [[getMessage]].
    *
    * Same resolver as [[getMessage]]; only the log tier differs. The
    * reference's "unchanged keys keep the snapshot" ∪ "changed keys fall
    * back to snap_min" is exactly the exploded snap_min tier, so parity mode
    * is the [[getMessage]] candidate union with the quiescent keys
    * anti-joined out of the log slice BEFORE the shuffle.
    */
  def getMessageSnapshotDiff(
      instanceField: DataFrame,
      instanceMessage: DataFrame,
      uevolField: DataFrame,
      snapshotCatalog: Option[DataFrame],
      snapshotLoader: String => DataFrame,
      target: Long): DataFrame =
    resolveHeader(instanceMessage, target) match {
      case None => emptyResult(uevolField)
      case Some((msgId, srcId, dstId)) =>
        val bracket = snapshotCatalog.map(SnapshotBracket.bracket(_, target))
        (bracket.flatMap(_._1), bracket.flatMap(_._2)) match {
          case (Some(lo), Some(hi)) if lo.name != hi.name =>
            val messageFields = fieldsOf(uevolField, msgId, srcId, dstId)
            val sMin = loadSnapshot(snapshotLoader, lo.name, srcId, dstId)
            val (same, _) = ChangeSplit.split(sMin,
              loadSnapshot(snapshotLoader, hi.name, srcId, dstId))
            // Unchanged keys keep the snapshot state: the anti-join on the
            // tiny same-key set is the pre-shuffle scan reduction.
            val slice = epochSlice(instanceField, msgId, srcId, dstId,
              lo.start_instance_message_id, target)
              .join(broadcast(same.select(Key.map(col): _*)), Key, "left_anti")
            TieredResolve.resolve(slice, Some(sMin), messageFields, messageFields)

          case _ =>
            getMessage(instanceField, instanceMessage, uevolField,
              snapshotCatalog, snapshotLoader, target)
        }
    }

  /** Log-only reconstruction (`RetrieveMessage.java:54-118` semantics):
    * (field id, name, latest new_value ≤ target) for every field of the
    * message, −1 when never updated — the reference's UDF-per-row replaced
    * by one argmax + broadcast join.
    */
  def messageContent(
      instanceField: DataFrame,
      uevolField: DataFrame,
      uevolMessageId: Int,
      srcId: Int,
      dstId: Int,
      target: Long): DataFrame = {
    val fields = uevolField
      .where(col("uevol_message_id") === uevolMessageId)
      .select(col("id"), col("name"))
    val latest = ArgmaxLatest.latestRows(
      instanceField.where(
        col("uevol_message_id") === uevolMessageId &&
          col("src_id") === srcId && col("dst_id") === dstId &&
          col("instance_message_id") <= target),
      Seq("uevol_field_id"),
      col("instance_message_id"))
    fields
      .join(latest, fields("id") === latest("uevol_field_id"), "left_outer")
      .select(fields("id"), fields("name"),
        coalesce(col("new_value"), lit(-1L)).as("value"))
      .orderBy("id")
  }

  // ---- shared steps of both reconstruction modes ----

  /** GetMessage.sql:25-38 header probe: (msgId, srcId, dstId), None for an
    * unknown target instance. Instance ids key `instance_message`, so the
    * filtered projection is at most one row: a plain collect is one job,
    * where `limit(1)` would scale up into two.
    */
  private def resolveHeader(instanceMessage: DataFrame, target: Long): Option[(Int, Int, Int)] =
    instanceMessage.where(col("id") === target)
      .select("uevol_message_id", "src_id", "dst_id").collect()
      .headOption.map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))

  /** GetMessage.sql:42-54: the message's field list with constant src/dst. */
  private def fieldsOf(uevolField: DataFrame, msgId: Int, srcId: Int, dstId: Int): DataFrame =
    uevolField
      .where(col("uevol_message_id") === msgId)
      .select(col("id").as("uevol_field_id"), col("name"), col("type"),
        lit(srcId).as("src_id"), lit(dstId).as("dst_id"))

  /** The message's epoch-bounded fact slice, pruned to the resolver's
    * payload before the shuffle.
    */
  private def epochSlice(instanceField: DataFrame, msgId: Int, srcId: Int,
                         dstId: Int, sliceLo: Long, target: Long): DataFrame =
    instanceField.where(
      col("uevol_message_id") === msgId && col("src_id") === srcId &&
        col("dst_id") === dstId &&
        col("instance_message_id").between(sliceLo, target))
      .select((Key :+ "relative_path" :+ "instance_message_id" :+ "new_value").map(col): _*)

  /** Snapshot rows for this src/dst pair. Rows of other messages' fields
    * resolve as keys of their own and drop out at the resolver's name join.
    */
  private def loadSnapshot(snapshotLoader: String => DataFrame, name: String,
                           srcId: Int, dstId: Int): DataFrame =
    snapshotLoader(name)
      .where(col("src_id") === srcId && col("dst_id") === dstId)
      .select((Key :+ "instance_message_id" :+ "json_value").map(col): _*)

  private def emptyResult(uevolField: DataFrame): DataFrame = {
    val spark = uevolField.sparkSession
    import spark.implicits._
    spark.emptyDataset[Telemetry.FieldValue].toDF()
  }
}
