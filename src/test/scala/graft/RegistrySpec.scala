package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry identity: [[SparkEntry.gates]] is the one gate registry, the
  * `queries` and `oracleSql` maps are keyed by exactly its names, and the
  * committed bench artifact describes the SAME gate set at every commit
  * (a bench.json three gates behind HEAD once shipped; this tripwire makes
  * that drift impossible).
  * Discipline it enforces: a commit that adds a gate also refreshes
  * bench.json (a 1-pass sf0.1 run suffices between closes; the close runs
  * the full 3-pass refresh).
  */
class RegistrySpec extends AnyFunSuite {

  test("gates have 252 distinct names, and queries and oracleSql are keyed by exactly them") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 252, s"${names.size} gates registered")
    assert(names.distinct == names, s"duplicate gate names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("committed bench.json covers exactly the registered gate set") {
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get("bench.json"))
    // minimal extraction without a JSON dep: the "queries" object's keys
    val obj = txt.split("\"queries\":\\{", 2)(1).split("\\}", 2)(0)
    val benchKeys = "\"([^\"]+)\":".r.findAllMatchIn(obj).map(_.group(1)).toSet
    val q = SparkEntry.queries.keySet
    assert(benchKeys == q,
      s"bench.json is stale — missing: ${(q -- benchKeys).toSeq.sorted.take(10)}; " +
        s"phantom: ${(benchKeys -- q).toSeq.sorted.take(10)}. " +
        "Refresh it: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt \"runMain graft.Bench\"")
    val n = "\"n_queries\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    assert(n.contains(q.size), s"bench.json n_queries=$n != registry ${q.size}")
  }
}
