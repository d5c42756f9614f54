package graft.operators

import java.nio.file.Files

import graft.Tables
import graft.gql.GqlEngine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Correctness-gated GQL end-to-end queries: each entry builds a graph in a
  * scratch catalog FROM GQL TEXT (create/upset), optionally mutates it
  * (property update / cascade remove), and answers a GQL query — the whole
  * S1-S10 lifecycle — with a plain-SQL oracle over the same source table.
  *
  * The graph is populated from the 25-row `nation` dimension; formatting
  * the upsert script driver-side is the `import` ingestion path (S11) in
  * miniature — real bulk loads go straight to parquet via the catalog.
  */
object GqlOps {
  /** Read-only catalog shared by the pure-query entries: q_gql_filter /
    * q_gql_neighbors never mutate, so rebuilding the graph per invocation
    * (as a bench loop does) only re-measures catalog writes. q_gql_mutate
    * always builds fresh — it mutates. */
  private val sharedBuilds =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), GqlEngine]

  private def sharedBuild(s: SparkSession, d: String): GqlEngine =
    // keyed by (session, dir): an engine captured from a stopped session
    // must not be reused by a later session in the same JVM
    sharedBuilds.getOrElseUpdate((s, d), build(s, d))

  /** Fresh engine with nations as vertices (key = n_nationkey, props
    * mirror the row) and a deterministic per-region ring of `adj` edges. */
  private def build(s: SparkSession, d: String): GqlEngine = {
    val root = Files.createTempDirectory("gqlgate").toString
    val e = new GqlEngine(s, root)
    e.exec("{create: 'tpch', group: ['nation', ['nation', 'adj', 'nation']]};")
    val rows = Tables.nation(s, d)
      .orderBy("n_nationkey").collect() // 25-row dimension table
    val vs = rows.map { r =>
      s"[${r.getInt(0)}, {n_name: '${r.getString(1)}', n_nationkey: ${r.getInt(0)}, n_regionkey: ${r.getInt(2)}}]"
    }.mkString(", ")
    e.exec(s"{upset: 'nation', vertex: [$vs]};")
    val byRegion = rows.groupBy(_.getInt(2)).toSeq.sortBy(_._1)
    val edges = byRegion.flatMap { case (_, rs) =>
      val ks = rs.map(_.getInt(0)).sorted
      ks.indices.map(i => s"[${ks(i)}, ->, ${ks((i + 1) % ks.length)}]")
    }.mkString(", ")
    e.exec(s"{upset: 'adj', edge: [$edges]};")
    e
  }

  /** Q3/Q5/Q9 through GQL: $and of ranges over two properties. */
  val qGqlFilter: Q = (s, d) => {
    val e = sharedBuild(s, d)
    e.query("{query: 'nation', in: 'tpch', where: {$and: [{n_regionkey: {$gte: 1, $lte: 3}}, {n_nationkey: {$gt: 5}}]}};")
      .select(col("key_i").cast("int").as("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("int").as("n_regionkey"))
      .orderBy("n_nationkey")
  }

  /** E2 through GQL: ring neighbors of nation 3 (undirected semantics over
    * the directed ring: predecessor and successor). */
  val qGqlNeighbors: Q = (s, d) => {
    val e = sharedBuild(s, d)
    e.query("{query: 'adj', in: 'tpch', where: {id: 3, --: *, neighbor: 1}};")
      .select(col("neighbor_i").cast("int").as("n_nationkey"))
      .orderBy("n_nationkey")
  }

  /** S4+S5 through GQL: property update with where, then cascade remove,
    * then query the final state. */
  val qGqlMutate: Q = (s, d) => {
    val e = build(s, d)
    e.exec("{upset: 'nation', property: {n_name: 'RENAMED'}, where: {n_regionkey: 0}};")
    e.exec("{remove: 'nation', vertex: {n_regionkey: 4}};")
    e.query("{query: 'nation', in: 'tpch'};")
      .select(col("key_i").cast("int").as("n_nationkey"), col("n_name"))
      .orderBy("n_nationkey")
  }

  /** E3 through GQL: multi-edge pattern match `[a, ->, b, ->, c]` — all
    * 2-hop directed paths along the per-region rings, compiled by
    * [[GqlEngine]] to the hop-join chain (reference grammar gql.y:389-433
    * routes this to the stubbed QueryType::Match — semantics ours, pinned
    * by GqlSpec; the oracle is the definitional ring self-join). */
  val qGqlMotif: Q = (s, d) => {
    val e = sharedBuild(s, d)
    e.query("{query: 'adj', in: 'tpch', where: [a, ->, b, ->, c]};")
      .select(col("a").cast("int").as("a"), col("b").cast("int").as("b"),
        col("c").cast("int").as("c"))
      .orderBy("a", "b", "c")
  }

  val gates: Seq[Gate] = Seq(
    Gate("q_gql_filter", qGqlFilter,
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey BETWEEN 1 AND 3 AND n_nationkey > 5
        |ORDER BY n_nationkey""".stripMargin),
    Gate("q_gql_neighbors", qGqlNeighbors,
      """WITH ring AS (
        |  SELECT n_nationkey AS src,
        |    coalesce(lead(n_nationkey) OVER w,
        |             min(n_nationkey) OVER (PARTITION BY n_regionkey)) AS dst
        |  FROM nation
        |  WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_nationkey))
        |SELECT DISTINCT n_nationkey FROM (
        |  SELECT dst AS n_nationkey FROM ring WHERE src = 3
        |  UNION ALL SELECT src FROM ring WHERE dst = 3)
        |ORDER BY n_nationkey""".stripMargin),
    Gate("q_gql_mutate", qGqlMutate,
      """SELECT n_nationkey,
        |  CASE WHEN n_regionkey = 0 THEN 'RENAMED' ELSE n_name END AS n_name
        |FROM nation WHERE n_regionkey <> 4 ORDER BY n_nationkey""".stripMargin),
    Gate("q_gql_motif", qGqlMotif,
      """WITH ring AS (
        |  SELECT n_nationkey AS src,
        |    coalesce(lead(n_nationkey) OVER w,
        |             min(n_nationkey) OVER (PARTITION BY n_regionkey)) AS dst
        |  FROM nation
        |  WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_nationkey))
        |SELECT r1.src AS a, r1.dst AS b, r2.dst AS c
        |FROM ring r1 JOIN ring r2 ON r1.dst = r2.src
        |ORDER BY a, b, c""".stripMargin),
  )
}
