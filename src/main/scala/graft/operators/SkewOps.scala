package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation building blocks (SURVEY §4 / the brief's "salting for
  * skew" bullet). AQE's skew-join split handles most runtime skew; these
  * are the explicit forms for the two cases it does not:
  *
  *  - a HOT-KEY JOIN where neither side broadcasts: salt the fact side
  *    deterministically, replicate the dim side across every salt, join on
  *    (key, salt) — the hot key's rows spread over `salts` reducers.
  *  - a HOT-KEY holistic aggregation (collect_list/collect_set), where
  *    map-side partial aggregation cannot shrink the shuffle: aggregate
  *    per (key, salt) first, then merge the per-salt results.
  *
  * Both forms are pure column algebra over deterministic salts (hash of a
  * caller-named unique column, never rand()) — rerunning the plan yields
  * byte-identical results, keeping them oracle-checkable.
  */
object SkewOps {

  /** Deterministic salt in [0, salts) from a unique row column. */
  private def saltOf(rowKey: Column, salts: Int): Column =
    pmod(Fns.hash32(rowKey.cast("string")), lit(salts))

  /** Internal salt column name guaranteed absent from every input —
    * a fixed name would silently overwrite (then drop) caller data. */
  private def freshSaltCol(inputs: DataFrame*): String = {
    val taken = inputs.flatMap(_.columns).toSet
    Iterator.from(0).map(i => if (i == 0) "_salt" else s"_salt$i")
      .find(!taken.contains(_)).get
  }

  /** Inner-join `fact` to `dim` on `key`, spreading each fact key over
    * `salts` partitions: fact rows get a salt hashed from `factRowKey`
    * (any unique column), dim rows are replicated once per salt value, and
    * the join key becomes (key, salt). Row multiplicity is identical to
    * the plain join — dim replication only widens the build side by
    * `salts`, it never duplicates matches. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 factRowKey: String, salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive (got $salts)")
    val sc = freshSaltCol(fact, dim)
    val saltedFact = fact.withColumn(sc, saltOf(col(factRowKey), salts))
    val saltedDim = dim.withColumn(sc,
      explode(sequence(lit(0L), lit((salts - 1).toLong))))
    // Salting exists precisely for the join where neither side broadcasts;
    // the hint keeps Catalyst from broadcasting a small-at-test-SF dim and
    // collapsing the (key, salt) exchange the operator is FOR. Build side
    // is the dim (small per salt), probe side streams.
    saltedFact.join(saltedDim.hint("shuffle_hash"), Seq(key, sc)).drop(sc)
  }

  /** Two-phase collect_list for a skewed group key: phase 1 collects per
    * (key, salt) — the hot key's values land on `salts` different reducers
    * — phase 2 flattens the per-salt lists and sorts for a deterministic
    * result. Equivalent to groupBy(key).agg(sort_array(collect_list)). */
  def saltedCollect(df: DataFrame, key: String, valueCol: String,
                    rowKey: String, salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive (got $salts)")
    val sc = freshSaltCol(df)
    df.withColumn(sc, saltOf(col(rowKey), salts))
      .groupBy(col(key), col(sc))
      .agg(collect_list(col(valueCol)).as("_part"))
      .groupBy(col(key))
      .agg(sort_array(flatten(collect_list(col("_part")))).as(s"${valueCol}_list"))
  }

  // ---- gated queries -------------------------------------------------------

  /** Salt fan-out for the gated queries. 8 spreads a hot key over a quarter
    * of the 32 local cores; production tunes this to the observed skew. */
  val SALTS = 8

  /** Gated salted join — lineitem (fact, salted on its well-distributed
    * order key) ⋈ supplier (dim, replicated ×SALTS), then a supplier-level
    * rollup. The DuckDB oracle is the PLAIN join: salting must be
    * result-invariant, so the unsalted SQL is exactly the right referee.
    * The executed plan shuffles both sides on (suppkey, _salt) — the hot
    * supplier's rows land on SALTS reducers instead of one. */
  val qSaltedJoin: Q = (s, d) => {
    val fact = Tables.lineitem(s, d)
      .select(col("l_suppkey").as("suppkey"), col("l_orderkey"), col("l_quantity"))
    val dim = Tables.supplier(s, d)
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    saltedJoin(fact, dim, "suppkey", "l_orderkey", SALTS)
      .groupBy(col("suppkey"), col("s_name"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("cnt"))
      .orderBy("suppkey")
  }

  /** Gated salted collect — per-segment sorted customer-name roster via the
    * two-phase (key, salt) collect, flattened to a joined string so the
    * cross-engine compare stays scalar. Oracle: plain string_agg with the
    * same ordering. */
  val qSaltedCollect: Q = (s, d) =>
    saltedCollect(Tables.customer(s, d), "c_mktsegment", "c_name", "c_custkey", SALTS)
      .select(col("c_mktsegment"), array_join(col("c_name_list"), "|").as("names"))
      .orderBy("c_mktsegment")

  val gates: Seq[Gate] = Seq(
    Gate("q_salted_join", qSaltedJoin,
      """SELECT l_suppkey AS suppkey, s_name,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY suppkey""".stripMargin),
    Gate("q_salted_collect", qSaltedCollect,
      """SELECT c_mktsegment, string_agg(c_name, '|' ORDER BY c_name) AS names
        |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin),
  )
}
