package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Telemetry

/** Point-in-time value resolution for a bounded key set — the value lattice
  * of `SQL/GetMessage.sql:435,571-590,973` and
  * `SQL/GetMultipleFields.sql` (latest epoch update ≫ snapshot value ≫ −1
  * sentinel) as ONE aggregate over a tiered candidate union.
  *
  * Candidates per (uevol_field_id, src_id, dst_id, relative_path):
  *   - tier 2: every update in the epoch log slice;
  *   - tier 1: the exploded snap_min rows (dot-safe, [[JsonExplode]]);
  *   - tier 0: one sentinel per requested key at the scalar path.
  *
  * `max_by(struct(tier, id, value), struct(tier, id))` picks the winner per
  * (key, path) — one hash exchange with the map-side `partial_max_by`
  * combine, so each scan partition collapses to one row per (key, path)
  * before the shuffle. The resolved rows are bounded by keys × paths, so
  * the rest runs in ONE partition: the key-level sentinel rule (a tier-0
  * row survives only when its key has no other candidate — a key written
  * only at `001` or `000.001` must not also get a `000` sentinel) is a
  * `max(tier)` window over the key, and the final (field, path) order needs
  * neither another exchange nor range-partition sampling.
  */
object TieredResolve {

  val Key: Seq[String] = Seq("uevol_field_id", "src_id", "dst_id")

  private val Path = Key :+ "relative_path"

  private def candidates(df: DataFrame, tier: Int, value: String): DataFrame =
    df.select(Path.map(col) :+ col("instance_message_id")
      :+ col(value).cast("double").as("value") :+ lit(tier).as("tier"): _*)

  /** @param log      epoch log slice: key, relative_path,
    *                 instance_message_id, new_value
    * @param snapshot snap_min rows: key, instance_message_id, json_value
    *                 (None when no snapshot brackets the target)
    * @param keys     requested keys (duplicates are harmless)
    * @param names    carries (uevol_field_id, name, type); broadcast inner
    *                 join, so rows of unknown field ids drop out
    * @return (uevol_field_id, src_id, dst_id, name, instance_message_id,
    *         relative_path, type, value) ordered by (field, path)
    */
  def resolve(log: DataFrame, snapshot: Option[DataFrame], keys: DataFrame,
              names: DataFrame): DataFrame = {
    val sentinels = keys.select(Key.map(col) :+
      lit(Telemetry.ScalarPath).as("relative_path") :+
      lit(Telemetry.NeverUpdatedId).as("instance_message_id") :+
      lit(Telemetry.NeverUpdatedValue).as("value") :+ lit(0).as("tier"): _*)
    val tiers = candidates(log, 2, "new_value") +:
      snapshot.toSeq.map(s => candidates(
        JsonExplode.flatten(s, "json_value", Key :+ "instance_message_id"), 1, "value")) :+
      sentinels

    tiers.reduce(_ unionByName _)
      .groupBy(Path.map(col): _*)
      .agg(max_by(struct(col("tier"), col("instance_message_id"), col("value")),
        struct(col("tier"), col("instance_message_id"))).as("best"))
      .select(Path.map(col) :+ col("best.*"): _*)
      .coalesce(1)
      .withColumn("key_tier", max("tier").over(Window.partitionBy(Key.map(col): _*)))
      .where(col("tier") > 0 || col("key_tier") === 0)
      .join(broadcast(names.select("uevol_field_id", "name", "type")),
        Seq("uevol_field_id"))
      .select(col("uevol_field_id"), col("src_id"), col("dst_id"), col("name"),
        col("instance_message_id"), col("relative_path"), col("type"),
        col("value"))
      .orderBy("uevol_field_id", "relative_path")
  }
}
