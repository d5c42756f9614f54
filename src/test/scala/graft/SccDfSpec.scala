package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BigGraphOps

/** Parity contract of the DataFrame-superstep coloring SCC against the
  * gated GraphX Pregel path — both must produce the identical
  * (node → min-member scc_id) decomposition on the cyclified co-purchase
  * graph (whose oracle is algorithm-independent mutual reachability). */
class SccDfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  test("dfScc equals the GraphX SCC gate on the cyclified graph") {
    val graphx = BigGraphOps.qSccBig(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val df = BigGraphOps.dfScc(BigGraphOps.sccEdges(spark, dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df.keySet == graphx.keySet, "vertex sets differ")
    val diff = df.collect { case (n, c) if graphx(n) != c => (n, c, graphx(n)) }
    assert(diff.isEmpty, s"scc ids differ on ${diff.size} nodes, e.g. ${diff.take(5)}")
    // a real decomposition, not all-singletons
    assert(df.values.toSet.size < df.size)
  }

  test("dfScc throws when the round cap leaves edges undrained") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    // round 1 confirms {1, 2}; the 3⇄4 cycle is still there at the cap
    intercept[IllegalStateException](BigGraphOps.dfScc(edges, maxRounds = 1).collect())
    val full = BigGraphOps.dfScc(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }
}
