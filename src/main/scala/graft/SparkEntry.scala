package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * [[gates]] is the one registry: each [[Gate]] is one operator
  * from SURVEY.md §2 re-expressed Spark-first, together with the
  * DuckDB-equivalent SQL of the hash-compare correctness gate. [[queries]]
  * and [[oracleSql]] are its by-name views.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** Every registered gate, sorted by name. */
  val gates: Seq[Gate] = {
    val all = Seq(Relational.gates, TextOps.gates, DedupOps.gates, VectorOps.gates,
      GraphOps.gates, BigGraphOps.gates, EventOps.gates, TemporalOps.gates, SketchOps.gates,
      GqlOps.gates, WalkOps.gates, MultimodalOps.gates, SourceOps.gates, SkewOps.gates,
      CorpusOps.gates, ModelOps.gates, BasketOps.gates).flatten
    val dups = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"gate names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all.sortBy(_.name)
  }

  private val byName: Map[String, Gate] = gates.map(g => g.name -> g).toMap

  /** The gate registered under `name`. */
  def gate(name: String): Gate = byName.getOrElse(name, throw new IllegalArgumentException(
    s"unknown graft query '$name' — SELECT * FROM graft_queries() lists the registry"))

  /** Each gate's run function, by name. */
  val queries: Map[String, Q] = byName.map { case (n, g) => n -> g.run }

  /** Each gate's DuckDB SQL over the same parquet tables, by name. */
  val oracleSql: Map[String, String] = byName.map { case (n, g) => n -> g.oracle }
}
