package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] = rest.headOption.map(_.split(",").toSet)
    val spark = GraftConf.session(GraftConf.envCpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // the marker attributes the Spark WARN lines that follow to a query
      System.err.println(s"[verify] $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // each query's result is fully written: release the intermediates the
      // operators persisted internally (tracked persists AND the iterative
      // operators' localCheckpoint blocks), so one query's caches never
      // crowd the next query's working set
      finally { CacheRegistry.releaseAll(); Checkpoints.releaseAll() }
    }
    val json = Json.fields(SparkEntry.oracleSql.toSeq.map { case (k, v) =>
      k -> Json.text(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(json))
    spark.stop()
  }
}
