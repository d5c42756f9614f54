package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph operators (SURVEY.md §2.3) re-expressed Spark-first.
  *
  * Reference semantics: edge pattern scan with endpoint wildcards
  * (/root/reference/src/plan/query/ScanPlan.cpp:520-562, grammar
  * src/gql.y:389-433), neighbor query (src/StorageEngine/
  * StorageEngine.cpp:843-883), BFS walk (include/walk/BSFWalk.h:5-29),
  * min-cost path query (test/basketballplayer-2.X/query.gql:1-2, engine
  * stub src/plan/query/PathPlan.cpp:15-17), degree centrality
  * (src/operand/analysis/DegreeCentrality.cpp), PageRank stub
  * (src/operand/analysis/PageRank.cpp:5-18).
  *
  * The graph is DERIVED FROM THE DATA (no adjacency lists, SURVEY §1.1):
  * a nation-level trade graph — edge (c_nation → s_nation) weighted by the
  * number of lineitems a customer of nation A bought from a supplier of
  * nation B. Adjacency is a join; walks are iterative frontier joins
  * (Pregel-shaped: at cluster scale swap the driver loop for GraphX Pregel,
  * the per-step dataflow is identical). The vertex set (25 nations) is
  * small here, but every step is a hash join keyed on node id, which is
  * exactly the shape that scales — no adjacency matrix, no driver-side
  * graph object, no collect.
  */
object GraphOps {
  /** Probe vertex for neighbor/walk queries. */
  val SRC_NATION = 3
  /** Walk bounds: BFS hop cap / Bellman-Ford relaxation rounds. */
  val MAX_HOPS = 3
  val SSSP_ROUNDS = 4
  /** Thinned subgraph: keep each nation's TOP_PARTNERS strongest partners. */
  val TOP_PARTNERS = 3

  /** Full trade graph: (src, dst, cnt). Every SF-scaled side (orders,
    * customer, supplier — all grow linearly with SF) carries NO broadcast
    * hint: lineitem⋈orders co-shuffles on orderkey and AQE picks broadcast
    * only when the runtime size allows (a forced hint OOMs executors at
    * 100×). One shuffle for the final 625-key aggregation. Public: WalkOps
    * and the GraphX bridge reuse it. */
  def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Sparse subgraph for walks: each nation keeps its TOP_PARTNERS
    * strongest outgoing edges (cnt desc, dst asc tiebreak — deterministic).
    * Columns (src, dst, cnt, rn, cost); cost = 1/cnt, so strong trade =
    * cheap edge. Public: WalkOps and the GraphX bridge reuse it. */
  def thinnedEdges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("cnt").desc, col("dst").asc)
    tradeEdges(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TOP_PARTNERS)
      .select(col("src"), col("dst"), col("cnt"), col("rn"),
        (lit(1.0) / col("cnt")).as("cost"))
  }

  private def topEdges(s: SparkSession, d: String): DataFrame =
    thinnedEdges(s, d).select(col("src"), col("dst"), col("cost"))

  /** E1 — edge pattern scan `[3, ->, *]`: directed edges from a fixed
    * endpoint, wildcard destination. */
  val qEdgeScan: Q = (s, d) =>
    tradeEdges(s, d)
      .filter(col("src") === SRC_NATION)
      .select(col("src"), col("dst"), col("cnt"))
      .orderBy("dst")

  /** E2 — neighbor query `{id: 3, --: *, neighbor: 1}`: 1-hop neighborhood
    * in either direction (undirected semantics — both endpoint orders,
    * SURVEY §7.4 #3). */
  val qNeighbors: Q = (s, d) => {
    val e = tradeEdges(s, d)
    e.filter(col("src") === SRC_NATION).select(col("dst").as("neighbor"))
      .unionByName(e.filter(col("dst") === SRC_NATION).select(col("src").as("neighbor")))
      .filter(col("neighbor") =!= SRC_NATION)
      .distinct()
      .orderBy("neighbor")
  }

  /** E11 — degree centrality: in/out degree per nation over the thinned
    * graph (the full trade graph is complete, so degrees are trivial
    * there). Two partial aggregations + an outer join on the vertex set. */
  val qDegree: Q = (s, d) => {
    val e = topEdges(s, d)
    val outDeg = e.groupBy(col("src").as("n_nationkey")).agg(count(lit(1)).as("out_deg"))
    val inDeg = e.groupBy(col("dst").as("n_nationkey")).agg(count(lit(1)).as("in_deg"))
    Tables.nation(s, d).select(col("n_nationkey"))
      .join(outDeg, Seq("n_nationkey"), "left")
      .join(inDeg, Seq("n_nationkey"), "left")
      .select(col("n_nationkey"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy("n_nationkey")
  }

  /** Min-hop BFS levels over an (src, dst) edge frame, the superstep every
    * BFS-shaped gate shares: round h joins the frontier to the edges and
    * keeps, per `keys` (e.g. a pivot id), the nodes no earlier level
    * reached; distinct runs before the anti-join so both share one
    * node-keyed exchange. A frontier whose exact row count (from its
    * checkpoint) fits the session's broadcast threshold is broadcast — the
    * Pregel small-frontier path, and the planner's own rule had it exact
    * statistics; a larger one shuffles. `start` is (keys…, node, hop = 0);
    * returns every level unioned, each node once per key at its first hop. */
  private[operators] def bfsLevels(start: DataFrame, edges: DataFrame, hops: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val id = (keys :+ "node").map(col)
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      edges.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    Superstep.levels(start, hops) { r =>
      val frontier = r.last.select(id: _*)
      val bytes = r.rows.last * (8 + frontier.schema.defaultSize) // 8: row header
      edges.join(if (r.rows.last >= 0 && bytes <= threshold) broadcast(frontier) else frontier,
          col("src") === col("node"))
        .select(keys.map(col) :+ col("dst").as("node"): _*).distinct()
        .join(r.all.select(id: _*), keys :+ "node", "left_anti")
        .withColumn("hop", lit(r.index))
    }
  }

  /** Bounded Bellman-Ford: `rounds` rounds of dist⋈edges then min-combine
    * per node (the Pregel SSSP dataflow) over (node, cost) and (src, dst,
    * ecost). */
  private[operators] def relaxRounds(start: DataFrame, edges: DataFrame, rounds: Int): DataFrame =
    Superstep.iterate(start, rounds) { r =>
      r.last
        .unionByName(r.last.join(edges, col("node") === col("src"))
          .select(col("dst").as("node"), (col("cost") + col("ecost")).as("cost")))
        .groupBy(col("node")).agg(min(col("cost")).as("cost"))
    }.last

  /** Power-iteration PageRank rounds over (node, rank): contributions
    * decimal-summed so the shuffle order can't perturb the ranks, then
    * rank = restart + damping × in-sum per node (`restart` may read
    * `node`). One join + one aggregation per round. */
  private[operators] def pagerankRounds(nodes: DataFrame, edges: DataFrame, init: DataFrame,
      iters: Int, restart: Column, damping: Double): DataFrame = {
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    Superstep.iterate(init, iters) { r =>
      val contrib = r.last.join(edges, col("node") === col("src"))
        .join(outDeg, "src")
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c").cast("decimal(28,18)")).cast("double").as("in_sum"))
      nodes
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (restart + lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
    }.last
  }

  /** Edge relation of the walks, persisted: every round re-reads it and
    * Spark would otherwise re-run the 4-table derivation each round. */
  private[operators] def walkEdges(s: SparkSession, d: String, cols: Column*): DataFrame =
    topEdges(s, d).select(cols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** E6 — BFS: minimum hop count from SRC_NATION over the thinned directed
    * graph, bounded at MAX_HOPS ([[bfsLevels]]). */
  val qBfs: Q = (s, d) =>
    bfsLevels(s.range(1).select(lit(SRC_NATION).cast("int").as("node"), lit(0).as("hop")),
      walkEdges(s, d, col("src"), col("dst")), MAX_HOPS)
      .select(col("node"), col("hop").as("hops")).orderBy("node")

  /** E4 — min-cost path (the reference's `min()` walk query): bounded
    * Bellman-Ford over the thinned graph, cost = 1/cnt per edge, SSSP_ROUNDS
    * relaxation rounds. Costs accumulate left-to-right along each path, so
    * DuckDB's recursive oracle reproduces the doubles exactly. */
  val qSssp: Q = (s, d) => {
    val edges = walkEdges(s, d, col("src"), col("dst"), col("cost").as("ecost"))
    val start = s.range(1).select(lit(SRC_NATION).cast("int").as("node"), lit(0.0).as("cost"))
    relaxRounds(start, edges, SSSP_ROUNDS)
      .select(col("node"), Fns.roundP(col("cost"), 8).as("cost")).orderBy("node")
  }

  /** E11 — PageRank, PR_ITERS synchronous iterations, damping 0.85, over
    * the thinned graph ([[pagerankRounds]]) — the standard dataflow
    * PageRank that scales by partitioning on node id. */
  val PR_ITERS = 5
  val qPagerank: Q = (s, d) => {
    val nodes = Tables.nation(s, d).select(col("n_nationkey").as("node"))
    val n = 25.0
    pagerankRounds(nodes, topEdges(s, d).select(col("src"), col("dst")),
      nodes.select(col("node"), lit(1.0 / n).as("rank")), PR_ITERS, lit(0.15 / n), 0.85)
      .select(col("node"), Fns.roundP(col("rank"), 8).as("pagerank")).orderBy("node")
  }

  /** E11 — strongly connected components: scc_id(v) = min node m with
    * m⇄v mutually reachable. Reachability closure by ITERATIVE SQUARING
    * (pairs2k = pairsk ⋈ pairsk): O(log diameter) join rounds instead of
    * O(diameter) — the closure strategy that survives wide graphs. On the
    * 25-node thinned graph CLOSURE_ROUNDS=5 covers diameter ≤ 2^5. */
  val CLOSURE_ROUNDS = 5
  val qScc: Q = (s, d) => {
    val self = Tables.nation(s, d)
      .select(col("n_nationkey").as("src"), col("n_nationkey").as("dst"))
    val reach = Superstep.iterate(
        self.unionByName(walkEdges(s, d, col("src"), col("dst"))).distinct(),
        CLOSURE_ROUNDS) { r =>
      val hop = r.last.select(col("src"), col("dst").as("mid"))
        .join(r.last.select(col("src").as("mid"), col("dst")), "mid")
        .select(col("src"), col("dst"))
      r.last.unionByName(hop).distinct()
    }.last
    val back = reach.select(col("src").as("dst"), col("dst").as("src"))
    reach.join(back, Seq("src", "dst")) // mutual reachability
      .groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("scc_id"))
      .orderBy("node")
  }

  // ---- DuckDB oracles ------------------------------------------------------

  private val sqlTrade =
    """trade AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2)""".stripMargin

  private val sqlTop =
    s"""top AS (
       |  SELECT src, dst, 1.0::DOUBLE / cnt AS cost FROM (
       |    SELECT src, dst, cnt,
       |      row_number() OVER (PARTITION BY src ORDER BY cnt DESC, dst ASC) AS rn
       |    FROM trade)
       |  WHERE rn <= $TOP_PARTNERS)""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_edge_scan", qEdgeScan,
      s"""WITH $sqlTrade
         |SELECT src, dst, cnt FROM trade WHERE src = $SRC_NATION ORDER BY dst""".stripMargin),
    Gate("q_neighbors", qNeighbors,
      s"""WITH $sqlTrade
         |SELECT DISTINCT neighbor FROM (
         |  SELECT dst AS neighbor FROM trade WHERE src = $SRC_NATION
         |  UNION ALL
         |  SELECT src AS neighbor FROM trade WHERE dst = $SRC_NATION)
         |WHERE neighbor <> $SRC_NATION ORDER BY neighbor""".stripMargin),
    Gate("q_degree", qDegree,
      s"""WITH $sqlTrade, $sqlTop
         |SELECT n.n_nationkey,
         |  coalesce(o.out_deg, 0) AS out_deg,
         |  coalesce(i.in_deg, 0) AS in_deg
         |FROM nation n
         |LEFT JOIN (SELECT src, count(*) AS out_deg FROM top GROUP BY 1) o ON n.n_nationkey = o.src
         |LEFT JOIN (SELECT dst, count(*) AS in_deg FROM top GROUP BY 1) i ON n.n_nationkey = i.dst
         |ORDER BY n.n_nationkey""".stripMargin),
    Gate("q_bfs", qBfs,
      s"""WITH RECURSIVE $sqlTrade, $sqlTop,
         |walk(node, hop) AS (
         |  SELECT $SRC_NATION, 0
         |  UNION ALL
         |  SELECT t.dst, w.hop + 1 FROM walk w JOIN top t ON t.src = w.node
         |  WHERE w.hop < $MAX_HOPS)
         |SELECT node, min(hop) AS hops FROM walk GROUP BY node ORDER BY node""".stripMargin),
    Gate("q_sssp", qSssp,
      s"""WITH RECURSIVE $sqlTrade, $sqlTop,
         |walk(node, cost, depth) AS (
         |  SELECT $SRC_NATION, 0.0::DOUBLE, 0
         |  UNION ALL
         |  SELECT t.dst, w.cost + t.cost, w.depth + 1
         |  FROM walk w JOIN top t ON t.src = w.node
         |  WHERE w.depth < $SSSP_ROUNDS)
         |SELECT node, ${Fns.roundPSql("min(cost)", 8)} AS cost
         |FROM walk GROUP BY node ORDER BY node""".stripMargin),
    Gate("q_scc", qScc,
      s"""WITH RECURSIVE $sqlTrade, $sqlTop,
         |reach(src, dst) AS (
         |  SELECT n_nationkey, n_nationkey FROM nation
         |  UNION
         |  SELECT r.src, t.dst FROM reach r JOIN top t ON t.src = r.dst)
         |SELECT a.src AS node, min(a.dst) AS scc_id
         |FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
         |GROUP BY a.src ORDER BY node""".stripMargin),
    Gate("q_pagerank", qPagerank, {
      // 5 unrolled iterations via chained CTEs (r0..r5); contributions
      // decimal-summed exactly like the Spark side.
      val iters = (1 to PR_ITERS).map { i =>
        s"""r$i AS (
           |  SELECT n.n_nationkey AS node,
           |    0.15::DOUBLE / 25 + 0.85::DOUBLE * coalesce(c.in_sum, 0.0::DOUBLE) AS rank
           |  FROM nation n LEFT JOIN (
           |    SELECT t.dst,
           |      CAST(sum(CAST(r.rank / d.deg AS DECIMAL(28,18))) AS DOUBLE) AS in_sum
           |    FROM r${i - 1} r
           |    JOIN top t ON r.node = t.src
           |    JOIN (SELECT src, count(*) AS deg FROM top GROUP BY 1) d ON t.src = d.src
           |    GROUP BY t.dst) c ON n.n_nationkey = c.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlTrade, $sqlTop,
         |r0 AS (SELECT n_nationkey AS node, 1.0::DOUBLE / 25 AS rank FROM nation),
         |$iters
         |SELECT node, ${Fns.roundPSql("rank", 8)} AS pagerank
         |FROM r$PR_ITERS ORDER BY node""".stripMargin
    }),
  )
}
