package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed table loader.
  *
  * The reference loads each Cassandra table through a typed scan
  * (`Java/.../DataLoader.java:508-529`, `Scala/.../DatabaseLoad.scala:34-39`);
  * here the storage is Parquet and the catalog is a directory of
  * `<name>.parquet` files. Filters/projections applied by callers are pushed
  * into the Parquet scan by Catalyst (PushedFilters / ReadSchema), which at
  * 100 TB is what replaces the connector's CQL pushdown: row-group and page
  * skipping on min/max stats.
  */
object Tables {

  /** Scan one table. Lazy — nothing is read until an action runs. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scan with an explicit expected schema (the reference's
    * `DatabaseLoad.scala:34-39` pattern). Spark then prunes/validates columns
    * at plan time instead of failing at runtime.
    */
  def load(spark: SparkSession, dir: String, name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")

  /** Scan `events` keeping `ts` in its RAW storage type — epoch-ns long
    * for legacy TIMESTAMP(NANOS) files (Spark 4 rejects them without
    * `nanosAsLong`), µs TIMESTAMP_NTZ for the current parquet. Preferred
    * for time-bounded batch queries: any per-row conversion is an
    * expression barrier that stops `ts` predicates from reaching the
    * parquet scan (no PushedFilters → no row-group/page skipping on the
    * time axis — fatal at 100 TB). Compare the raw column against a
    * [[tsLit]]-matched bound; normalize post-scan with [[epochNs]] only
    * where arithmetic needs it.
    */
  def loadEventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
  }

  /** Epoch-nanos for a 'yyyy-MM-dd HH:mm:ss' UTC literal — the driver-side
    * bound for [[loadEventsRaw]] comparisons (matches engines that compare
    * TIMESTAMP literals against ns-precision columns at ns precision).
    */
  def nanos(utc: String): Long = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    java.time.LocalDateTime.parse(utc, fmt)
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L
  }

  /** Literal comparable against a time column in ANY of the storage types
    * the events table has shipped with — legacy epoch-ns long, µs
    * TIMESTAMP_NTZ (the current parquet), µs TIMESTAMP — built from a UTC
    * epoch-ns scalar. The COLUMN stays untouched and the BOUND adapts:
    * that is what keeps time predicates pushable into the parquet scan
    * (min/max row-group and page skipping — the 100 TB prune); converting
    * the column instead would put an expression barrier over the time
    * axis. NTZ literals carry the UTC wall-clock, matching how the oracle
    * engines read the unannotated parquet values.
    */
  def tsLit(dt: org.apache.spark.sql.types.DataType, ns: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    dt match {
      case org.apache.spark.sql.types.LongType => lit(ns)
      case org.apache.spark.sql.types.TimestampNTZType =>
        lit(java.time.LocalDateTime.ofEpochSecond(
          math.floorDiv(ns, 1000000000L),
          math.floorMod(ns, 1000000000L).toInt, java.time.ZoneOffset.UTC))
      case _ =>
        lit(java.time.Instant.ofEpochSecond(
          math.floorDiv(ns, 1000000000L), math.floorMod(ns, 1000000000L)))
    }
  }

  /** Epoch-ns expression for a time column of any supported storage type —
    * POST-SCAN normalization for arithmetic (session gaps, durations,
    * µs-grid outputs). µs-backed timestamps yield exact µs·1000; NTZ goes
    * through the session zone (every entrypoint pins UTC), matching the
    * oracles' naive read of the same parquet. Never use this inside a
    * pushdown-relevant filter — compare the raw column against [[tsLit]]
    * there.
    */
  def epochNs(dt: org.apache.spark.sql.types.DataType,
              c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.unix_micros
    dt match {
      case org.apache.spark.sql.types.LongType => c
      case _ => unix_micros(c.cast("timestamp")) * 1000
    }
  }

  /** µs-precision TIMESTAMP view of a time column of any supported storage
    * type, by column name (the legacy ns-long arm needs a named `div`).
    * For the streaming entrypoints whose typed state works on
    * `java.sql.Timestamp`.
    */
  def asTimestamp(dt: org.apache.spark.sql.types.DataType,
                  name: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    dt match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr(s"`$name` div 1000"))
      case _ => col(name).cast("timestamp")
    }
  }
}
