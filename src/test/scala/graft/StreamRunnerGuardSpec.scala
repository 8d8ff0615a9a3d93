package graft

import org.apache.spark.sql.functions._

/** The StreamRunner update-mode changelog guard: a multi-batch update
  * stream is refused instead of double-counting its census.
  */
class StreamRunnerGuardSpec extends SparkSpec {

  test("update-mode refuses a multi-batch changelog instead of double-counting") {
    import spark.implicits._
    val dir = graft.WorkDirs.acquire("test_graft_multibatch")
    // two files -> with maxFilesPerTrigger=1 the census for a key is
    // emitted once per batch; summing the memory table would double-count
    Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq(("a", 3L), ("b", 4L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream
      .schema("k STRING, v BIGINT")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(dir.toString)
    val census = stream.groupBy("k").agg(sum("v").as("s"))
    val e = intercept[IllegalArgumentException] {
      streaming.StreamRunner.runToBatch(census, "guard_test", mode = "update")
    }
    assert(e.getMessage.contains("changelog"))
  }

  test("update-mode single-batch source still passes the guard") {
    import spark.implicits._
    val dir = graft.WorkDirs.acquire("test_graft_singlebatch")
    Seq(("a", 1L), ("a", 2L), ("b", 4L)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/data")
    val stream = spark.readStream
      .schema("k STRING, v BIGINT").parquet(s"$dir/data")
    val census = stream.groupBy("k").agg(sum("v").as("s"))
    val got = streaming.StreamRunner
      .runToBatch(census, "guard_ok", mode = "update")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 3L, "b" -> 4L))
  }
}
