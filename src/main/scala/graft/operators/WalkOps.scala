package graft.operators

import graft.Tables
import graft.functions.{Fns, GeoHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Walk / pattern / geo operators closing out SURVEY.md §2.3:
  * E3 subgraph match (motif via self-join chain — the GraphFrames `find`
  * shape; reference stub CTreeStrategy.cpp), E7 random walk (selector stub
  * RandomWalk.cpp:18-21 — implemented properly, with a deterministic
  * hash-driven selector so the oracle can replay it), E8 bidirectional walk
  * (header-only BidirectionWalk.h — two-frontier BFS), E14 geohash
  * (Type/Hash.cpp). The walk graph is the same derived trade graph as
  * [[GraphOps]].
  */
object WalkOps {
  val WALK_STEPS = 5
  val BIDIR_SRC = 0
  val BIDIR_DST = 14
  val BIDIR_HALF = 3

  private def topEdges(s: SparkSession, d: String): DataFrame =
    GraphOps.thinnedEdges(s, d).select("src", "dst", "rn")

  /** E3 — subgraph (motif) match: directed triangles a→b→c→a with a<b<c
    * canonicalization. Three-way self-join on the edge relation — each hop
    * is a hash join on a node key, the standard distributed motif plan. */
  val qTriangles: Q = (s, d) => {
    val e = topEdges(s, d).select("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ab = e.select(col("src").as("a"), col("dst").as("b"))
    val bc = e.select(col("src").as("b"), col("dst").as("c"))
    val ca = e.select(col("src").as("c"), col("dst").as("a"))
    ab.join(bc, "b").join(ca, Seq("c", "a"))
      .filter(col("a") < col("b") && col("a") < col("c"))
      .select(col("a"), col("b"), col("c"))
      .distinct()
      .orderBy("a", "b", "c")
  }

  /** E7 — random walk, deterministically seeded: from each of the 25
    * nations, WALK_STEPS steps; at step t from node v the edge taken is
    * rank (hash32(v:t) mod outdeg) among v's out-edges. Each step is one
    * hash join (frontier ⋈ ranked edges); the hash selector makes the walk
    * reproducible in the DuckDB oracle — the honest version of the
    * reference's unimplemented selector. */
  val qRandomWalk: Q = (s, d) => {
    val edges = topEdges(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ranked = edges.join(outDeg, "src")
    var walk = Tables.nation(s, d)
      .select(col("n_nationkey").as("start"), col("n_nationkey").as("node"))
    for (t <- 1 to WALK_STEPS) {
      val pick = (Fns.hash32(concat_ws(":", col("node"), lit(t))) % col("deg") + 1)
      walk = walk.join(ranked, col("node") === col("src"))
        .filter(col("rn") === pick)
        .select(col("start"), col("dst").as("node"))
    }
    walk.select(col("start"), col("node").as("end_node")).orderBy("start")
  }

  /** E8 — bidirectional walk: two BFS frontiers (forward from BIDIR_SRC,
    * backward from BIDIR_DST) expanded BIDIR_HALF hops each; shortest path
    * length = min over meet nodes of d_fwd + d_bwd. Halves the frontier
    * explosion of a single 2k-hop BFS — the classic meet-in-the-middle
    * plan, each superstep one hash join. */
  val qBidirBfs: Q = (s, d) => {
    val edges = GraphOps.walkEdges(s, d, col("src"), col("dst"))
    def bfs(start: Int, reversed: Boolean): DataFrame =
      GraphOps.bfsLevels(
        s.range(1).select(lit(start).cast("int").as("node"), lit(0).as("hop")),
        if (reversed) edges.select(col("dst").as("src"), col("src").as("dst")) else edges,
        BIDIR_HALF)
    val fwd = bfs(BIDIR_SRC, reversed = false).select(col("node"), col("hop").as("hf"))
    val bwd = bfs(BIDIR_DST, reversed = true).select(col("node"), col("hop").as("hb"))
    fwd.join(bwd, "node")
      .agg(min(col("hf") + col("hb")).as("hops"))
  }

  /** E14 — geohash encode: deterministic lon/lat derived from the supplier
    * key (the testdata has no geo columns), precision 6. Single scan, pure
    * integer column algebra. */
  val qGeohash: Q = (s, d) =>
    Tables.supplier(s, d)
      .select(col("s_suppkey"),
        ((col("s_suppkey") * 7 % 360) - 180 + 0.5).as("lon"),
        ((col("s_suppkey") * 11 % 170) - 85 + 0.5).as("lat"))
      .select(col("s_suppkey"), GeoHash.encode(col("lon"), col("lat")).as("geohash"))
      .orderBy("s_suppkey")

  // ---- DuckDB oracles ------------------------------------------------------

  private val sqlTop =
    s"""trade AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT src, dst, rn FROM (
       |    SELECT src, dst, cnt,
       |      row_number() OVER (PARTITION BY src ORDER BY cnt DESC, dst ASC) AS rn
       |    FROM trade)
       |  WHERE rn <= ${GraphOps.TOP_PARTNERS})""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_triangles", qTriangles,
      s"""WITH $sqlTop
         |SELECT DISTINCT ab.src AS a, ab.dst AS b, bc.dst AS c
         |FROM top ab JOIN top bc ON ab.dst = bc.src
         |JOIN top ca ON bc.dst = ca.src AND ca.dst = ab.src
         |WHERE ab.src < ab.dst AND ab.src < bc.dst
         |ORDER BY a, b, c""".stripMargin),
    Gate("q_random_walk", qRandomWalk, {
      val steps = (1 to WALK_STEPS).map { t =>
        s"""w$t AS (
           |  SELECT w.start, r.dst AS node
           |  FROM w${t - 1} w
           |  JOIN deg ON w.node = deg.src
           |  JOIN top r ON w.node = r.src
           |   AND r.rn = CAST('0x' || substr(md5(CAST(w.node AS VARCHAR) || ':' || $t), 1, 8) AS BIGINT) % deg.deg + 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlTop,
         |deg AS (SELECT src, count(*) AS deg FROM top GROUP BY 1),
         |w0 AS (SELECT n_nationkey AS start, n_nationkey AS node FROM nation),
         |$steps
         |SELECT start, node AS end_node FROM w$WALK_STEPS ORDER BY start""".stripMargin
    }),
    Gate("q_bidir_bfs", qBidirBfs,
      s"""WITH RECURSIVE $sqlTop,
         |walk(node, hop) AS (
         |  SELECT $BIDIR_SRC, 0
         |  UNION ALL
         |  SELECT t.dst, w.hop + 1 FROM walk w JOIN top t ON t.src = w.node
         |  WHERE w.hop < ${2 * BIDIR_HALF})
         |SELECT min(hop) AS hops FROM walk WHERE node = $BIDIR_DST""".stripMargin),
    Gate("q_geohash", qGeohash,
      s"""SELECT s_suppkey,
         |  ${GeoHash.encodeSql("(s_suppkey * 7 % 360) - 180 + 0.5", "(s_suppkey * 11 % 170) - 85 + 0.5")} AS geohash
         |FROM supplier ORDER BY s_suppkey""".stripMargin),
  )
}
