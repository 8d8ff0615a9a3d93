package graft

import org.apache.spark.sql.functions._

import graft.functions.GraphOps

/** The positive-weight preconditions on the weighted graph operators are
  * ENFORCED: zero/negative weights fail loudly instead of silently
  * corrupting the vote / q_micro.
  */
class WeightGuardSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  private def sym(edges: DataFrame): DataFrame =
    edges.unionByName(edges.select(col("dst").as("src"),
      col("src").as("dst"), col("w")))

  test("weighted labelPropagation rejects non-positive weights") {
    import spark.implicits._
    val e = sym(Seq((1L, 2L, 5L), (2L, 3L, 0L)).toDF("src", "dst", "w"))
    val ex = intercept[IllegalArgumentException] {
      GraphOps.labelPropagation(e, "src", "dst", iters = 2,
        weightCol = Some("w")).count()
    }
    assert(ex.getMessage.contains("POSITIVE"))
    CacheRegistry.releaseAll(); Checkpoints.releaseAll()
  }

  test("modularityWeighted rejects non-positive weights") {
    import spark.implicits._
    val e = Seq((1L, 2L, 5L), (2L, 3L, -1L)).toDF("src", "dst", "w")
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "c")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.modularityWeighted(e, "src", "dst", "w", assign, "id", "c")
        .count()
    }
    assert(ex.getMessage.contains("POSITIVE"))
    CacheRegistry.releaseAll(); Checkpoints.releaseAll()
  }

  test("weighted pageRank rejects non-positive weights") {
    import spark.implicits._
    val e = Seq((1L, 2L, 0L)).toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.pageRank(e, "src", "dst", iters = 1,
        weightCol = Some("w")).count()
    }
    assert(ex.getMessage.contains("POSITIVE"))
    CacheRegistry.releaseAll(); Checkpoints.releaseAll()
  }

  test("positive weights still pass and match the unweighted w=1 identity") {
    import spark.implicits._
    val e = sym(Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w"))
    val weighted = GraphOps.labelPropagation(e, "src", "dst", iters = 3,
      weightCol = Some("w")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = GraphOps.labelPropagation(e.drop("w"), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted === plain)
    CacheRegistry.releaseAll(); Checkpoints.releaseAll()
  }
}
