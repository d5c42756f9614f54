package graft

import graft.graph.GraphXBridge
import graft.operators.BigGraphOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two-phase connected components (Kiveris et al. 2014) against exact
  * hand-derivable fixtures. The 64-node path is the load-bearing case:
  * its diameter (63) exceeds DedupOps.minLabelComponents' 50-superstep
  * cap, so plain min-label propagation would THROW on it — the O(log² n)
  * alternation is what makes CC viable on high-diameter graphs. */
class WccSpec extends AnyFunSuite {
  import SparkTestBase._

  private def edgesDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("64-node path + disjoint triangle: every node gets its component min") {
    val path = (0L until 63L).map(i => (i + 100, i + 101)) // 100..163
    val tri = Seq((7L, 3L), (3L, 5L), (5L, 7L))
    val got = BigGraphOps.ccTwoPhase(edgesDf(path ++ tri))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (100L to 163L).map(_ -> 100L).toMap ++
      Seq(3L, 5L, 7L).map(_ -> 3L).toMap
    assert(got == want)
  }

  test("self-loops and duplicate/reversed edges do not perturb the labels") {
    val e = Seq((2L, 2L), (4L, 9L), (9L, 4L), (4L, 9L), (9L, 11L), (2L, 1L))
    val got = BigGraphOps.ccTwoPhase(edgesDf(e))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 9L -> 4L, 11L -> 4L))
  }

  test("q_wcc_big refines q_scc_big: same node set, SCCs nest inside WCCs") {
    val wcc = BigGraphOps.qWccBig(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scc = BigGraphOps.qSccBig(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wcc.keySet == scc.keySet && wcc.nonEmpty)
    // nodes sharing an SCC must share a WCC
    val byScc = scc.groupBy(_._2).values
    assert(byScc.forall(m => m.keys.map(wcc).toSet.size == 1))
    // weak components are at least as coarse
    assert(wcc.values.toSet.size <= scc.values.toSet.size)
  }

  test("GraphX connectedComponents equals ccTwoPhase on the co-purchase edges") {
    val edges = BigGraphOps.sccEdges(spark, sfDir)
    val gx = spark.createDataFrame(
      GraphXBridge.fromLongEdgeDF(edges).connectedComponents().vertices)
      .toDF("node", "wcc")
    val df = BigGraphOps.ccTwoPhase(edges)
    assert(df.count() > 0)
    assert(gx.except(df).count() == 0, "rows only GraphX emits")
    assert(df.except(gx).count() == 0, "rows only the two-phase CC emits")
  }
}
