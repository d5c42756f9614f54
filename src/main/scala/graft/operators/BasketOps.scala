package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.functions._

/** Market-basket / frequent-itemset analytics over the order⋈part
  * relation — the A-priori pair-counting stage (Agrawal & Srikant, VLDB
  * 1994) every co-purchase recommender and "frequently bought together"
  * surface runs. Candidate generation is BASKET-LOCAL: each order's
  * distinct items become a sorted array and pairs are expanded row-side
  * with higher-order functions, so pair volume is Σ C(|basket|, 2) —
  * bounded by the per-order line count (≤7 here), never items². The only
  * shuffles are the two keyed aggregations (basket build, pair count);
  * support/confidence/lift denominators are one broadcast-sized item
  * table plus a 1-row order count.
  *
  * Reference kin: the co-purchase chains the graph gates derive from
  * orders (`BigGraphOps.coEdges`) — this is the same signal kept
  * relational, scored by the published support/confidence/lift measures.
  */
object BasketOps {
  /** Minimum pair support and report size — fixed report-shape knobs
    * (the top-K report is what a production run materializes; the full
    * pair table is the intermediate). */
  val MIN_SUPPORT = 2
  val TOPK = 100

  /** Frequent item pairs with support, confidence(p1→p2) and lift.
    * Every count is an exact integer on both engines; the two ratios are
    * single IEEE divisions over exactly-representable integer products,
    * rounded via [[Fns.roundP]] — no accumulation anywhere. Lift's
    * products are computed in DOUBLE (not int64) so no corpus size can
    * wrap them; a double product of two int-exact values is correctly
    * rounded and therefore engine-identical. */
  val qItemsets: Q = (s, d) => {
    // persisted (r16, guide §2.4): four consumers below (baskets, both
    // itemCnt broadcast builds, nOrders) and no cross-branch CSE — the
    // lineitem scan + corpus-scale DISTINCT exchange executed 4× without
    // it (measured; OPTIMIZATION_r16.md).
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val baskets = items.groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("arr"))
    // basket-local pair expansion: for item i, pair with every later item
    val pairs = baskets.select(
      explode(flatten(transform(col("arr"), (x, i) =>
        transform(slice(col("arr"), i + lit(2), size(col("arr"))),
          y => struct(x.as("p1"), y.as("p2")))))).as("pr"))
      .select(col("pr.p1"), col("pr.p2"))
    val pairCnt = pairs.groupBy("p1", "p2")
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= MIN_SUPPORT)
    val itemCnt = items.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    val nOrders = items.select(countDistinct(col("ok")).as("n"))
    pairCnt
      .join(broadcast(itemCnt.select(col("pk").as("p1"), col("cnt").as("cnt1"))), "p1")
      .join(broadcast(itemCnt.select(col("pk").as("p2"), col("cnt").as("cnt2"))), "p2")
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("pair_cnt"), col("cnt1"), col("cnt2"),
        Fns.roundP(col("pair_cnt").cast("double") / col("cnt1").cast("double"), 6)
          .as("confidence"),
        Fns.roundP(
          (col("pair_cnt").cast("double") * col("n").cast("double")) /
            (col("cnt1").cast("double") * col("cnt2").cast("double")), 6)
          .as("lift"))
      .orderBy(desc("pair_cnt"), col("p1"), col("p2"))
      .limit(TOPK)
  }

  val gates: Seq[Gate] = Seq(
    // ground-truth pair generation by self-join (not the array mirror):
    // any correct pair expansion matches
    Gate("q_itemsets", qItemsets,
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |n AS (SELECT count(DISTINCT ok) AS n FROM items),
         |ic AS (SELECT pk, count(*) AS cnt FROM items GROUP BY 1),
         |pc AS (
         |  SELECT a.pk AS p1, b.pk AS p2, count(*) AS pair_cnt
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2)
         |SELECT p1, p2, pair_cnt, i1.cnt AS cnt1, i2.cnt AS cnt2,
         |  ${Fns.roundPSql("CAST(pair_cnt AS DOUBLE) / CAST(i1.cnt AS DOUBLE)", 6)} AS confidence,
         |  ${Fns.roundPSql(
             "(CAST(pair_cnt AS DOUBLE) * CAST(n.n AS DOUBLE)) / " +
               "(CAST(i1.cnt AS DOUBLE) * CAST(i2.cnt AS DOUBLE))", 6)} AS lift
         |FROM pc JOIN ic i1 ON i1.pk = p1 JOIN ic i2 ON i2.pk = p2, n
         |WHERE pair_cnt >= $MIN_SUPPORT
         |ORDER BY pair_cnt DESC, p1, p2 LIMIT $TOPK""".stripMargin),
  )
}
