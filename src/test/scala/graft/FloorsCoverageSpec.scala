package graft

import org.scalatest.funsuite.AnyFunSuite

/** The floors dict in `BASELINE_RUNS.json` must cover EXACTLY the
  * SparkEntry query set — the round-17 verdict found four rows
  * (d160–d163) whose floors lived only in BASELINE.md's prose table, so
  * any tooling computing flags from the JSON silently skipped them.
  * Bench now emits machine-computed flags from this dict
  * (BENCH_DETAIL.json `flags`); this spec makes an incomplete dict a
  * TEST FAILURE instead of a silent adjudication gap: adding a query
  * without measuring its floor (`runMain graft.tools.Profile
  * /root/testdata/sf0.1 <name>`), or renaming one without
  * moving its floor, fails the suite.
  */
class FloorsCoverageSpec extends AnyFunSuite {

  private def floorsFile: java.io.File = {
    // tests fork with cwd = repo root; walk up defensively in case a
    // runner pins a subdirectory
    Iterator.iterate(new java.io.File(".").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).take(4)
      .map(d => new java.io.File(d, "BASELINE_RUNS.json"))
      .find(_.isFile)
      .getOrElse(fail("BASELINE_RUNS.json not found from " +
        new java.io.File(".").getAbsolutePath))
  }

  test("floors.keySet == queries.keySet (no unpriced query, no orphan floor)") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(floorsFile).get("floors")
    assert(node != null, "BASELINE_RUNS.json has no top-level floors dict")
    val floorKeys = {
      val b = Set.newBuilder[String]
      node.fieldNames().forEachRemaining(b += _)
      b.result()
    }
    val queryKeys = SparkEntry.queries.keySet
    val missing = queryKeys -- floorKeys
    assert(missing.isEmpty,
      s"queries with NO floor (measure two `runMain graft.tools.Profile " +
        s"/root/testdata/sf0.1 <name>` runs, add the min steady/cold to " +
        s"BASELINE_RUNS.json floors): ${missing.toSeq.sorted.mkString(", ")}")
    val orphans = floorKeys -- queryKeys
    assert(orphans.isEmpty,
      s"floors for queries that no longer exist (rename/remove them): " +
        s"${orphans.toSeq.sorted.mkString(", ")}")
    // every entry must carry both sides of the flag rule
    node.fields().forEachRemaining { e =>
      assert(e.getValue.has("steady") && e.getValue.has("cold"),
        s"floor ${e.getKey} lacks steady/cold")
      assert(e.getValue.get("steady").asDouble > 0 &&
        e.getValue.get("cold").asDouble > 0,
        s"floor ${e.getKey} must be positive")
    }
  }
}
