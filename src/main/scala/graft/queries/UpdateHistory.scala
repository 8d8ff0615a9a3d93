package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Locf

/** Value-over-time history for a set of argument triples —
  * `SQL/GetUpdateHistory.sql:8-252`.
  *
  * The reference builds a dynamic-width pivot table (one BIGINT column per
  * triple, named `id{f}_src{s}_dst{d}`, :36-78), seeds it with the state at
  * window start (via GetMultipleFieldsHistory, :29,80-97), then row-cursors
  * through events copying the previous row forward (:136-177), and finally
  * rewrites per-field filter strings — `value` is a placeholder for the
  * pivot column — into one AND-composed WHERE (:180-233).
  *
  * Spark-first shape: a (grid × key) long-format LOCF — window partitioned
  * BY KEY (scales with #keys × #events, no global single-partition window) —
  * then either one pivot to the wide parity layout ([[updateHistory]]) or
  * the long layout kept as-is ([[updateHistoryLong]]). The wide pivot needs
  * the triple set to be bounded (one column each); the long form is the
  * 100 TB path for unbounded user arg lists — same filter semantics, no
  * unbounded-width schema, no driver-side column list.
  */
object UpdateHistory {

  /** Pivot column name for a triple (GetUpdateHistory.sql:36). */
  def colName(f: Int, s: Int, d: Int): String = s"id${f}_src${s}_dst$d"

  /** Replace the reference's `value` placeholder — whole word only, so
    * e.g. a column literal containing "value" as a substring is untouched
    * (GetUpdateHistory.sql:212-224 substitutes the single placeholder).
    */
  private def rewriteFilter(filter: String, cn: String): String =
    filter.replaceAll("\\bvalue\\b", java.util.regex.Matcher.quoteReplacement(cn))

  /** The argument triples on the driver, as (uevol_field_id, src_id,
    * dst_id, filter) rows: the pivot names and the filter strings. */
  private def collectArgs(args: DataFrame): Array[Row] =
    args.select(col("uevol_field_id").cast("int"), col("src_id").cast("int"),
      col("dst_id").cast("int"), col("filter")).collect()

  /** The shared long-format core: the LOCF-filled (instant × triple) grid,
    * (instance_message_id, uevol_field_id, src_id, dst_id, k, v).
    */
  private def filledGrid(
      instanceField: DataFrame,
      args: DataFrame,
      startState: DataFrame,
      startId: Long,
      endId: Long): DataFrame = {

    val spark = instanceField.sparkSession
    val key = Seq("uevol_field_id", "src_id", "dst_id")
    val keyCol = concat(lit("id"), col("uevol_field_id"),
      lit("_src"), col("src_id"), lit("_dst"), col("dst_id"))

    // Events in window, restricted to the argument triples (broadcast).
    val argKeys = broadcast(args.select(key.map(col): _*).distinct())
    val events = instanceField
      .where(col("instance_message_id").between(startId, endId))
      .join(argKeys, key, "left_semi")
      .select(col("instance_message_id"), keyCol.as("k"),
        col("new_value").cast("long").as("v"))

    // Seed: the state at window start as synthetic events at startId
    // (GetUpdateHistory.sql:80-97). Null start values stay null (the
    // reference leaves unset columns NULL in the seed row).
    val seed = startState
      .join(argKeys, key, "left_semi")
      .select(lit(startId).as("instance_message_id"), keyCol.as("k"),
        col("value").cast("long").as("v"))

    // Grid = every (event instance id × key): long-format LOCF partitioned
    // by key. The key table carries the triple so the long output needs no
    // re-parse of `k`.
    val ids = events.select("instance_message_id").distinct()
      .unionByName(spark.range(1).select(lit(startId).as("instance_message_id")))
      .distinct()
    val keys = args
      .select(col("uevol_field_id").cast("int").as("uevol_field_id"),
        col("src_id").cast("int").as("src_id"),
        col("dst_id").cast("int").as("dst_id"))
      .distinct()
      .withColumn("k", keyCol)
    val grid = ids.crossJoin(broadcast(keys))

    val longFmt = grid
      .join(seed.unionByName(events)
        .groupBy("instance_message_id", "k").agg(max("v").as("v")),
        Seq("instance_message_id", "k"), "left_outer")
    Locf.fill(longFmt, Seq("k"), Seq(col("instance_message_id")), Seq("v"))
  }

  /** @param args        (uevol_field_id, src_id, dst_id, filter) — `filter`
    *                    may be "" or e.g. "value > 5" (placeholder rewritten)
    * @param startState  (uevol_field_id, src_id, dst_id, value) at window
    *                    start — from [[MultipleFields.getMultipleFields]]
    *                    (scalar paths), the reference's start_table
    * @param startId/endId window bounds on instance_message_id
    * @return wide rows: (instance_message_id, id{f}_src{s}_dst{d}...), the
    *         seed row at startId first, LOCF-filled, filter-applied
    */
  def updateHistory(
      instanceField: DataFrame,
      args: DataFrame,
      startState: DataFrame,
      startId: Long,
      endId: Long): DataFrame =
    wideHistory(instanceField, args, collectArgs(args), startState, startId, endId)

  /** [[updateHistory]] over already-collected argument rows. */
  private def wideHistory(
      instanceField: DataFrame,
      args: DataFrame,
      argRows: Array[Row],
      startState: DataFrame,
      startId: Long,
      endId: Long): DataFrame = {

    val filled = filledGrid(instanceField, args, startState, startId, endId)
    val names = argRows.map(r => colName(r.getInt(0), r.getInt(1), r.getInt(2))).toSeq

    val wide = filled
      .groupBy("instance_message_id")
      .pivot("k", names)
      .agg(first("v"))

    // Filter rewrite: each non-empty filter string has its `value`
    // placeholder replaced by the pivot column name; AND-composed
    // (GetUpdateHistory.sql:212-224).
    val conds = argRows.toSeq
      .filter(r => r.getString(3) != null && r.getString(3).nonEmpty)
      .map { r =>
        val cn = colName(r.getInt(0), r.getInt(1), r.getInt(2))
        expr(rewriteFilter(r.getString(3), cn))
      }
    conds.reduceOption(_ && _) match {
      case Some(c) => wide.where(c).orderBy("instance_message_id")
      case None => wide.orderBy("instance_message_id")
    }
  }

  /** The reference's FULL composition — `SQL/GetUpdateHistory.sql:29`
    * CALLs GetMultipleFieldsHistory at the window start and materializes
    * its output as `start_table` (`GetMultipleFieldsHistory.sql:361-369`);
    * this is that call expressed as one library entry point: the seed
    * state is derived internally via
    * [[MultipleFields.getMultipleFields]] (snapshot bracket + epoch argmax
    * + sentinel defaults — the whole value lattice) at `startId`, then fed
    * to [[updateHistory]] (wide) or [[updateHistoryLong]].
    *
    * Seed rule — one value per triple, smallest `relative_path` wins
    * (`min_by(value, relative_path)`). This is a DELIBERATE, DOCUMENTED
    * DIVERGENCE from the reference when a triple's start state carries
    * several leaf rows. What the reference actually does
    * (`GetUpdateHistory.sql:84-97`): it cursors over `start_table` with an
    * UNORDERED `LIMIT n,1` for n = 0..@Nb_fields-1 and issues one UPDATE
    * per row on the triple's single pivot column — so (i) among the rows
    * the cursor reads, the LAST one read wins, (ii) the read order is
    * SQL-undefined (MySQL happens to realize insertion order, which is
    * `ORDER BY uevol_field_id, relative_path` with NO src/dst tiebreak —
    * `GetMultipleFieldsHistory.sql:350-369` — so even insertion order is
    * undefined between same-field triples), and (iii) the cursor stops
    * after @Nb_fields rows = the COUNT OF ARGUMENT TRIPLES (`:31-33`), so
    * when earlier triples carry multiple leaf rows, later triples' seed
    * rows fall outside the window and are silently dropped. (ii) and (iii)
    * are order-dependence and a truncation defect, not semantics worth
    * reproducing; we instead define the outcome deterministically: a
    * triple with a scalar row seeds from `relative_path = "000"` (sorts
    * first — identical to the reference's behavior in the scalar-seed
    * case, which is every case the reference's own test queries exercise);
    * a triple whose startId state is nested-only seeds from its smallest
    * leaf path rather than NULL. A triple never updated anywhere seeds at
    * the −1 sentinel (the lattice default), not NULL — also the
    * reference's behavior, since start_table carries
    * GetMultipleFieldsHistory's sentinel output verbatim. The driver
    * oracles (q38) and the nested-seed spec check THESE documented Spark
    * semantics, not the reference's order-dependent multi-leaf behavior —
    * do not read them as reference parity for that corner.
    */
  def updateHistoryFromLog(
      instanceField: DataFrame,
      uevolField: DataFrame,
      snapshotCatalog: Option[DataFrame],
      snapshotLoader: String => DataFrame,
      args: DataFrame,
      startId: Long,
      endId: Long,
      wide: Boolean = true): DataFrame = {
    val startState = MultipleFields.getMultipleFields(
        instanceField, uevolField, snapshotCatalog, snapshotLoader, args, startId)
      .groupBy("uevol_field_id", "src_id", "dst_id")
      .agg(min_by(col("value"), col("relative_path")).as("value"))
    // Width guard: the wide form materializes ONE PIVOT COLUMN PER TRIPLE
    // (reference parity with GetUpdateHistory.sql:36-48's dynamic DDL), so
    // an unbounded argument list would drive Catalyst into a 10k-column
    // plan. Above maxWideTriples the request auto-routes to the long form
    // — fixed 5-column schema, identical instants/values/filter semantics,
    // just (triple, value) rows instead of pivot columns. Both forms need
    // the argument rows on the driver anyway, so they are collected once
    // and the route is decided on their count.
    val argRows = collectArgs(args)
    if (wide && argRows.length <= maxWideTriples)
      wideHistory(instanceField, args, argRows, startState, startId, endId)
    else longHistory(instanceField, args, argRows, startState, startId, endId)
  }

  /** Pivot-width ceiling for [[updateHistoryFromLog]]'s wide form: above
    * this many argument triples the call returns the long format instead.
    * 256 pivot columns is far past every reference workload (the widest
    * reference test drives ~20 triples) yet far below where a pivot plan's
    * analysis/codegen cost becomes the bottleneck. Callers who truly want
    * a wider pivot call [[updateHistory]] directly.
    */
  val maxWideTriples: Int = 256

  /** The same history in long format — one row per (instant, triple):
    * (instance_message_id, uevol_field_id, src_id, dst_id, value). Identical
    * semantics to [[updateHistory]] (seed row, LOCF, AND-composed filters
    * dropping whole instants), but no pivot: the schema is fixed no matter
    * how many triples the caller asks for, so this is the form that
    * survives unbounded argument lists (SURVEY §7.5.3's scale variant of
    * GetUpdateHistory.sql:36-78's dynamic DDL).
    */
  def updateHistoryLong(
      instanceField: DataFrame,
      args: DataFrame,
      startState: DataFrame,
      startId: Long,
      endId: Long): DataFrame =
    longHistory(instanceField, args, collectArgs(args), startState, startId, endId)

  /** [[updateHistoryLong]] over already-collected argument rows. */
  private def longHistory(
      instanceField: DataFrame,
      args: DataFrame,
      argRows: Array[Row],
      startState: DataFrame,
      startId: Long,
      endId: Long): DataFrame = {

    val filled = filledGrid(instanceField, args, startState, startId, endId)

    // AND-composed filters without materializing the width: an instant
    // survives iff every filtered triple's filled value passes its
    // predicate there. NULL predicates fail, exactly as the wide WHERE
    // drops NULL. ALL failing instants are collected in ONE pass over the
    // grid (an OR of per-key predicates) and removed with ONE anti-join —
    // a per-filter fold would replay the LOCF grid once per filtered
    // triple, defeating the unbounded-arg-list purpose of the long form.
    val conds = argRows.toSeq
      .filter(r => r.getString(3) != null && r.getString(3).nonEmpty)
      .map { r =>
        val kn = colName(r.getInt(0), r.getInt(1), r.getInt(2))
        col("k") === kn && not(coalesce(expr(rewriteFilter(r.getString(3), "v")), lit(false)))
      }
    val kept = conds.reduceOption(_ || _) match {
      case Some(failPred) =>
        val fails = filled.where(failPred)
          .select("instance_message_id").distinct()
        filled.join(fails, Seq("instance_message_id"), "left_anti")
      case None => filled
    }
    kept.select(col("instance_message_id"), col("uevol_field_id"),
      col("src_id"), col("dst_id"), col("v").as("value"))
      .orderBy("instance_message_id", "uevol_field_id", "src_id", "dst_id")
  }
}
