package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ArgsTable, SnapshotBracket, TieredResolve}

/** Point-in-time reconstruction for an arbitrary (field, src, dst) argument
  * set — `SQL/GetMultipleFields.sql:8-952` (+History variant `:8-386`),
  * arguments parsed/expanded per `SQL/CreateArgumentsTable.sql:8-123`.
  *
  * Same value lattice and resolver as [[MessageReconstruct]] (update ≫
  * snapshot ≫ −1 sentinel, [[TieredResolve]]), driven by an arguments table
  * instead of a message's field list. Arguments are tiny (user input), so
  * the log slice and the snapshot are semi-joined to ONE broadcast of the
  * argument keys before the shuffle (GetMultipleFields.sql:78-100's
  * join-input reduction). Driver side: the snapshot-bracket collect. Then
  * one DAG: epoch slice ∪ exploded snap_min ∪ one sentinel per argument →
  * one `max_by` aggregate (one hash exchange) → single-partition sentinel
  * window → broadcast name/type join → sort. Five Spark jobs per call:
  * bracket, args broadcast, `uevol_field` broadcast, the shuffle-map stage,
  * the result.
  */
object MultipleFields {

  private val Key = TieredResolve.Key

  /** Parse the reference's `'(f),(f)'` / `'(s),(s)'` / `'(d),(d)'` list
    * literals into the expanded argument-triple table, deduplicated
    * (CreateArgumentsTable.sql:36-37,101). Lists are zipped positionally;
    * an optional per-position filter list rides along for UpdateHistory.
    */
  def parseArgs(spark: org.apache.spark.sql.SparkSession,
                fieldList: String, srcList: String, dstList: String,
                filterList: String = ""): DataFrame = {
    val fs = ArgsTable.parseList(fieldList).map(_.toInt)
    val ss = ArgsTable.parseList(srcList).map(_.toInt)
    val ds = ArgsTable.parseList(dstList).map(_.toInt)
    val fl = ArgsTable.parseListKeepEmpty(filterList)
    val n = Seq(fs.size, ss.size, ds.size).min
    val rows = (0 until n).map { i =>
      (fs(i), ss(i), ds(i), if (i < fl.size) fl(i) else "")
    }.distinct
    import spark.implicits._
    rows.toDF("uevol_field_id", "src_id", "dst_id", "filter")
  }

  /** State of each argument triple at instance `target`:
    * (uevol_field_id, src_id, dst_id, name, instance_message_id,
    * relative_path, type, value), ordered by (field, path).
    */
  def getMultipleFields(
      instanceField: DataFrame,
      uevolField: DataFrame,
      snapshotCatalog: Option[DataFrame],
      snapshotLoader: String => DataFrame,
      args: DataFrame,
      target: Long): DataFrame = {

    // No distinct: a semi-join and the resolver's aggregate are both
    // duplicate-agnostic, and a distinct would add a shuffle of its own.
    val argKeys = broadcast(args.select(Key.map(col): _*))
    val snapMin = snapshotCatalog.flatMap(SnapshotBracket.bracket(_, target)._1)
    val sliceLo = snapMin.map(_.start_instance_message_id).getOrElse(Long.MinValue)

    TieredResolve.resolve(
      instanceField
        .where(col("instance_message_id").between(sliceLo, target))
        .join(argKeys, Key, "left_semi")
        .select((Key :+ "relative_path" :+ "instance_message_id" :+ "new_value").map(col): _*),
      snapMin.map(ref => snapshotLoader(ref.name).join(argKeys, Key, "left_semi")),
      args,
      uevolField.withColumnRenamed("id", "uevol_field_id"))
  }
}
