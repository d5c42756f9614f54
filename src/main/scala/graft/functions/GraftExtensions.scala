package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

/** SQL-surface registration of the codegen'd vector kernels (SURVEY §4
  * custom-Catalyst checklist: the `SparkSessionExtensions` tier). With
  * these registered, a pure-SQL user gets the same whole-stage-codegen
  * expressions the DataFrame operators use:
  *
  * {{{
  *   spark.sql("SELECT graft_dist2(a.v, b.v) FROM ...")   // squared L2
  *   spark.sql("SELECT graft_dot(a.v, b.v)   FROM ...")   // dot product
  * }}}
  *
  * Two routes, one function list:
  *  - cluster config: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (or `SparkSession.builder().withExtensions(new GraftExtensions)`);
  *  - live session: `GraftExtensions.register(spark)` — same builders into
  *    the session's FunctionRegistry, no session rebuild needed.
  *
  * The builders enforce arity and insert a Cast to array&lt;double&gt; around
  * each argument: VectorFold deliberately trusts its input type (the
  * DataFrame route casts in VectorOps.vecs), so WITHOUT the cast a SQL call
  * on a raw array&lt;float&gt; column would read float-packed ArrayData as
  * doubles — garbage values, no error. The cast makes the SQL route as
  * safe as the DataFrame route.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    GraftExtensions.tableFunctions.foreach(e.injectTableFunction)
  }
}

object GraftExtensions {
  private def fn(name: String, className: String,
                 build: (Expression, Expression) => Expression, usage: String) =
    (FunctionIdentifier(name),
      new ExpressionInfo(className, null, name, usage, ""),
      (args: Seq[Expression]) => {
        if (args.length != 2)
          throw new IllegalArgumentException(
            s"$name expects exactly 2 arguments, got ${args.length}")
        def asDoubles(e: Expression) = Cast(e, ArrayType(DoubleType))
        build(asDoubles(args(0)), asDoubles(args(1)))
      })

  /** The injected function list — shared by both registration routes. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_dist2", classOf[Dist2].getName, Dist2(_, _),
      "graft_dist2(a, b) - squared L2 distance between two array<double>"),
    fn("graft_dot", classOf[DotProd].getName, DotProd(_, _),
      "graft_dot(a, b) - dot product of two array<double>"))

  /** Register into an already-running session's FunctionRegistry. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (ident, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, build)
    }
    tableFunctions.foreach { case (ident, info, build) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(ident, info, build)
    }
  }

  private def strArg(fn: String, args: Seq[Expression], pos: Int): String =
    args(pos) match {
      case e if e.foldable && e.dataType == StringType && e.eval() != null =>
        e.eval().toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a non-null string literal, got $other")
    }

  /** TABLE functions — the whole gated pipeline surface (dedup clusters,
    * quality ensemble, BM25 top-k, drift panels, the graph ladder … every
    * `SparkEntry.gates` report) from pure SQL:
    *
    * {{{
    *   SELECT * FROM graft_queries();                         -- the registry
    *   SELECT * FROM graft_query('q_dedup_clusters', '/data/sf1');
    *   SELECT * FROM graft_query('q_bm25', '/data/sf1') LIMIT 10;
    * }}}
    *
    * The builder resolves the registry entry and splices the resulting
    * DataFrame's UNANALYZED logical plan into the calling query, so SQL
    * users get the identical plan the Scala route builds (same pushdowns,
    * same codegen) and can compose it — join a report against their own
    * tables, filter it, aggregate it. Arguments must be string literals:
    * resolution happens at analysis time, before any row exists. */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_query"),
      new ExpressionInfo("graft.functions.GraftExtensions", null, "graft_query",
        "graft_query(name, sfDir) - run the named graft report over the parquet tables in sfDir",
        ""),
      (args: Seq[Expression]) => {
        if (args.length != 2)
          throw new IllegalArgumentException(
            s"graft_query expects (name, sfDir), got ${args.length} arguments")
        val name = strArg("graft_query", args, 0)
        val dir = strArg("graft_query", args, 1)
        graft.SparkEntry.gate(name).run(SparkSession.active, dir).queryExecution.logical
      }),
    (FunctionIdentifier("graft_queries"),
      new ExpressionInfo("graft.functions.GraftExtensions", null, "graft_queries",
        "graft_queries() - list every registered graft report and whether it has a SQL oracle",
        ""),
      (args: Seq[Expression]) => {
        if (args.nonEmpty)
          throw new IllegalArgumentException("graft_queries takes no arguments")
        val s = SparkSession.active
        import s.implicits._
        // every Gate carries its oracle; the column stays for existing callers
        graft.SparkEntry.gates.map(g => (g.name, true))
          .toDF("name", "has_oracle").queryExecution.logical
      }))

  /** Catalog views over a loaded SF dir: one temp view per testdata table,
    * through the schema-adaptive [[graft.Tables]] loaders (events' on-disk
    * ts type has changed across regenerations — raw `parquet.`-path SQL
    * would inherit whichever physical type is on disk). After this, plain
    * SQL and [[tableFunctions]] cover the whole surface:
    * `SELECT * FROM documents WHERE lang = 'en'`. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    import graft.Tables
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      val df = t match {
        case "events" => Tables.events(spark, sfDir)
        case "documents" => Tables.documents(spark, sfDir)
        case "embeddings" => Tables.embeddings(spark, sfDir)
        case other => Tables(spark, sfDir, other)
      }
      df.createOrReplaceTempView(t)
    }
  }
}
