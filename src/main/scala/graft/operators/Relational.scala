package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational query core — the Spark-native rendering of the reference's
  * scan/filter/project/mutate surface (SURVEY.md §2.1–§2.2).
  *
  * Reference semantics (file:line cites in each entry) are re-expressed as
  * declarative DataFrame programs so Catalyst handles pushdown, pruning and
  * join strategy. Every query is ordered deterministically so the driver's
  * DuckDB-oracle hash compare is stable.
  */
object Relational {
  /** Q1/Q13 analog — full scan + grouped aggregation (the reference's
    * documented-but-stubbed `count(vertex)` intrinsic, README.md:190-197,
    * generalized to TPC-H Q1 shape). Map-side partial aggregation + a single
    * hash-shuffle on the two low-cardinality group keys: scales linearly.
    */
  val q1Agg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // Sums go through exact decimals: summing doubles directly makes the
        // result depend on partition/summation order (an ulp near a rounding
        // boundary flips the oracle hash). Decimal addition is exact, so any
        // order gives the identical value; cast back to double for output.
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double").as("sum_disc_price"),
        graft.functions.Fns.roundP(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)), 4)
          .as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q7 analog — point lookup on the row key (`{id: key}` predicate,
    * gql.y:738-742, ScanPlan.cpp:575-592). Parquet min/max row-group stats
    * prune this to near-zero IO at scale; the filter is pushed to the scan.
    */
  val qPointLookup: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") === 42L)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  /** Q3/Q5/Q6/Q9 analog — predicate algebra: ranges on number + datetime,
    * `$and`/`$or` banks (ScanPlan.cpp:619-665, GRAD.h:41-45). All predicates
    * push to the parquet scan (`PushedFilters`), no shuffle at all.
    */
  val qFilterRange: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(
        col("l_quantity") >= 30.0 &&
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1996-01-01").cast("timestamp") &&
        (col("l_returnflag") === "R" || col("l_discount") > 0.05))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** Q4 analog — IN-list predicate (`{prop: ['a','b']}` → OR of equals,
    * ScanPlan.cpp:767-772). Catalyst turns isin into an In filter pushed to
    * the source.
    */
  val qInList: Q = (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Q12 analog — projection done properly (the reference parses member
    * expressions but returns whole documents — ScanPlan.cpp:316-342). Column
    * pruning reaches the scan: ReadSchema lists exactly two fields.
    */
  val qProjection: Q = (s, d) =>
    Tables.part(s, d).select("p_partkey", "p_name").orderBy("p_partkey")

  /** Q8 analog — existence predicate `{prop: *}` (attribute present,
    * ScanPlan.cpp:744-751) → IS NOT NULL over a nullable column.
    */
  val qExists: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("props").isNotNull && col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** Q14 analog — `limit` + order-by top-k (reserved token in the reference,
    * gql.y:115; implemented properly here). Spark plans this as
    * TakeOrderedAndProject: per-partition top-k then a k-row merge on the
    * driver — no full sort, no full shuffle, scale-safe.
    */
  val qTopK: Q = (s, d) =>
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(10)

  /** Q2 analog — multi-group scan `{query: '*'}` (ScanPlan.cpp:505-518):
    * union over group DataFrames with a tag column.
    */
  val qUnionGroups: Q = (s, d) => {
    val r = Tables.region(s, d).select(lit("region").as("grp"), col("r_name").as("name"))
    val n = Tables.nation(s, d).select(lit("nation").as("grp"), col("n_name").as("name"))
    r.unionByName(n).orderBy("grp", "name")
  }

  /** Q13 — bare `count(vertex)` (README.md:190-197). */
  val qCount: Q = (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).as("cnt"))

  /** Exact distinct — groundwork for the dedup family (§2.5 north-star). */
  val qDistinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** S2 analog — upsert-merge semantics (UpsetPlan.cpp:88-127): new rows
    * replace matched keys, unmatched old rows survive. Expressed as
    * union(new, old anti-join new) — the Parquet merge-on-key pattern from
    * SURVEY.md §2.1 S2 (no ACID layer offline). The anti-join broadcasts the
    * small update batch, so at 100 TB this is one broadcast pass.
    */
  val qUpsertMerge: Q = (s, d) => {
    val old = Tables.customer(s, d)
    // Update batch is derived from existing keys (c_custkey <= 10) rather
    // than fabricated with range(1,11) — if any key in 1..10 were absent the
    // fabricated batch would diverge from the oracle's FROM customer form.
    val updates = old.filter(col("c_custkey") <= 10).select(
      col("c_custkey"),
      concat(lit("upserted#"), col("c_custkey")).as("c_name"),
      lit(0).cast("int").as("c_nationkey"),
      lit(0.0).as("c_acctbal"),
      lit("UPSERTED").as("c_mktsegment"))
    updates.unionByName(
        old.join(broadcast(updates.select("c_custkey")), Seq("c_custkey"), "left_anti"))
      .orderBy("c_custkey")
  }

  /** S5/S6 analog — remove with cascade (RemovePlan.cpp:9-21,25-80): delete
    * vertices matching a predicate AND their incident edges. Customers of
    * nation 3 are removed; orders (the edge group) cascade via anti-join.
    */
  val qRemoveCascade: Q = (s, d) => {
    // `removed` is ~1/25 of the SF-scaled customer table — no broadcast
    // hint; AQE broadcasts the anti-join side only when it actually fits.
    val removed = Tables.customer(s, d)
      .filter(col("c_nationkey") === 3).select(col("c_custkey"))
    Tables.orders(s, d)
      .join(removed, col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** S4 analog — property update with `where` (UpsetPlan.cpp:48-86): merge a
    * property into matched rows, leave the rest untouched.
    */
  val qPropertyUpdate: Q = (s, d) =>
    Tables.part(s, d)
      .withColumn("p_brand",
        when(col("p_size") > 40, lit("Brand#XL")).otherwise(col("p_brand")))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("p_brand")

  /** Join + aggregate — revenue per nation. Only the true dimension
    * (nation) is broadcast; customer is SF-scaled, so orders⋈customer is
    * left un-hinted — a shuffle join on custkey that AQE downgrades to
    * broadcast only when the runtime size allows. One shuffle for the
    * final group-by on 25 keys.
    */
  val qJoinAgg: Q = (s, d) => {
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    val dim = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name")
    Tables.orders(s, d)
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")
  }

  /** TPC-H Q3 shape — shipping-priority: selective dim filter broadcast
    * onto two fact joins, group on the join key, top-k by revenue. The
    * 100 TB plan: customer filter broadcasts, orders⋈lineitem co-shuffle
    * on orderkey, TakeOrderedAndProject caps the output. */
  val qShipPriority: Q = (s, d) => {
    // The BUILDING segment is ~1/5 of the SF-scaled customer table — no
    // broadcast hint (AQE re-plans to broadcast when the filtered side
    // is small enough at runtime).
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"),
        unix_timestamp(col("o_orderdate")).as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape — revenue by supplier nation with the co-location
    * predicate (customer and supplier in the same nation). Orders, customer
    * AND supplier are SF-scaled facts (all grow linearly with SF), so none
    * carries a broadcast hint: lineitem⋈orders co-shuffles on orderkey and
    * AQE re-plans to broadcast only when the runtime size allows. Only the
    * fixed-size nation dimension stays broadcast. One shuffle for the
    * 25-key aggregate. */
  val qLocalVolume: Q = (s, d) => {
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    Tables.lineitem(s, d)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** CUBE over (returnflag, linestatus) — the full OLAP composition
    * surface next to [[graft.operators.CorpusOps.qRollupStats]]'s ROLLUP:
    * all four grouping sets in ONE pass (Spark plans `Expand` + a single
    * hash agg — the corpus is scanned once, not four times), subtotal
    * levels disambiguated by an explicit grouping id and NULL-free 'ALL'
    * keys so the gate never leans on NULL-vs-subtotal ambiguity. Sums
    * ride the q1_agg decimal discipline. */
  val qCube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        grouping(col("l_returnflag")).as("gr"),
        grouping(col("l_linestatus")).as("gs"))
      .select(
        when(col("gr") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("rf"),
        when(col("gs") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("ls"),
        (col("gr") * 2 + col("gs")).cast("int").as("gid"),
        col("cnt"), col("sum_qty"))
      .orderBy("gid", "rf", "ls")

  /** TPC-H Q22 shape — scalar-subquery threshold + anti join: customers
    * whose balance exceeds the average positive balance AND who have never
    * placed an URGENT order, rolled up per nation (in this synthetic data
    * every customer has SOME order, so the Q22 "no orders at all" form
    * would gate on an empty frame). The threshold is a 1-row broadcast
    * (cross join plans as BroadcastNestedLoopJoin, not a cartesian), and
    * the comparison is cross-multiplied in decimals (`bal·n > Σbal`)
    * instead of dividing, so both engines compare exact integers — an
    * avg-of-doubles threshold would make the gate hinge on summation
    * order at the boundary. The anti join is key-shuffled on custkey
    * (orders is NOT broadcast-size at scale); AQE picks broadcast when
    * the filtered customer side fits. */
  val qAntiJoin: Q = (s, d) => {
    val cust = Tables.customer(s, d)
    val thr = cust.filter(col("c_acctbal") > 0.0)
      .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("bal_sum"),
        count(lit(1)).as("bal_n"))
    cust.crossJoin(broadcast(thr))
      .filter(col("c_acctbal").cast("decimal(18,2)") * col("bal_n") > col("bal_sum"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q4 shape — correlated-EXISTS as a left-semi join with a
    * condition spanning both sides (late shipment: any line shipped more
    * than 60 days after the order date). Semi join stops probing an order
    * on first match and never duplicates rows, so no post-join distinct
    * is needed; both sides shuffle once on orderkey. Timestamps compare
    * in exact micros — no doubles anywhere. */
  val qSemiJoin: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    Tables.orders(s, d)
      .join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
      .orderBy("o_orderpriority")
  }

  /** Exact decile table — ntile(10) PARTITIONED by priority (ordered by
    * (price, orderkey) so ties never make the rank ambiguous), then one
    * hash agg per (priority, decile). The window is partition-parallel
    * across priorities; within one priority it is a single-reducer sort —
    * the honest cost of EXACT quantile assignment. The 100 TB rendering
    * keeps this exact shape per bounded partition key, or swaps ntile for
    * broadcast approx-percentile boundaries + a row-local bucket lookup
    * when one key's volume exceeds a reducer (same output schema, ε-exact
    * boundaries); see PERF.md. */
  val qDecile: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_totalprice"),
        ntile(10).over(w).as("decile"))
      .groupBy(col("o_orderpriority"), col("decile"))
      .agg(count(lit(1)).as("cnt"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        graft.functions.Fns.roundP(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / count(lit(1)), 4).as("avg_price"))
      .orderBy("o_orderpriority", "decile")
  }

  /** TPC-H Q17 shape — per-group aggregate rejoined to its own fact table:
    * revenue locked in "small" orders, lines with quantity under 20% of
    * their part's average. The per-part average never materializes as a
    * double: the predicate cross-multiplies decimals
    * (`qty·n·5 < Σqty` ⇔ `qty < 0.2·avg`), so the boundary rows cannot
    * flip on summation order. Shuffle shape: one partial+final agg keyed
    * on partkey, then the fact table shuffles once on the same key to
    * meet it — the agg output is already hash-partitioned on partkey, so
    * only the probe side moves. Scales as two passes over lineitem with
    * vocab-sized (part-count) intermediate state. */
  val qSmallOrder: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val partAvg = li.groupBy(col("l_partkey").as("p_key"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty_sum"),
        count(lit(1)).as("qty_n"))
    li.join(partAvg, col("l_partkey") === col("p_key"))
      .filter(col("l_quantity").cast("decimal(18,2)") * col("qty_n") * 5
        < col("qty_sum"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
  }

  /** Cumulative ratio-to-report — per priority, the running share of
    * total revenue by order day (the "when does each class book its
    * revenue" pacing report; the ANSI cumulative-window + ratio shape
    * every BI layer emits). One partial+final agg collapses orders to
    * (priority × day) rows; BOTH window passes (running sum, priority
    * total) then run over that bounded daily frame on one
    * priority-keyed exchange — the raw order stream never enters a
    * window. Revenue accumulates in decimals; the share division is the
    * only double, mirrored verbatim in the oracle. */
  val qCumRevenue: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        expr("datediff(o_orderdate, date'1992-01-01')").as("day_idx"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("day_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
    daily
      .withColumn("cum", sum(col("rev")).over(wCum))
      .withColumn("tot", sum(col("rev")).over(wTot))
      .select(col("o_orderpriority"), col("day_idx"),
        col("rev").cast("double").as("day_rev"),
        col("cum").cast("double").as("cum_rev"),
        graft.functions.Fns.roundP(
          col("cum").cast("double") / col("tot").cast("double"), 6).as("cum_share"))
      .orderBy("o_orderpriority", "day_idx")
  }

  /** Revenue concentration (Pareto report) — what share of total revenue
    * the top-decile customers book. The raw order stream collapses to
    * one row per customer FIRST (partial+final agg), so the global
    * ranking window runs over the dimension-sized customer frame, never
    * the facts — the same bounded-single-partition posture as
    * q_zipf_slope's fit. k = ⌊n/10⌋ comes from the 1-row totals
    * broadcast (no driver round-trip); revenue stays decimal until the
    * one share division. */
  val qPareto: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val totals = rev.agg(count(lit(1)).as("n_cust"), sum(col("rev")).as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rev").desc, col("o_custkey"))
    rev.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(totals))
      .filter(col("rk") <= expr("n_cust div 10"))
      .groupBy(col("n_cust"), col("total"))
      .agg(count(lit(1)).as("k"), sum(col("rev")).as("top_rev"))
      .select(col("n_cust"), col("k"),
        col("top_rev").cast("double").as("top_rev"),
        col("total").cast("double").as("total_rev"),
        graft.functions.Fns.roundP(
          col("top_rev").cast("double") / col("total").cast("double"), 6)
          .as("top_share"))
  }

  /** Gini coefficient of customer revenue — the inequality summary
    * beside [[qPareto]]'s top-decile share, via the rank formula
    * G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted values.
    * Same bounded-window posture: facts collapse per customer first,
    * the rank runs on the dimension-sized frame, and both Σx and
    * Σ(i·x) are exact decimals (rank × decimal stays decimal), so the
    * only doubles are the final fixed-tree assembly. */
  val qGini: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rev").asc, col("o_custkey"))
    val m = rev.withColumn("rk", row_number().over(w))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("rev")).as("sx"),
        sum(col("rk") * col("rev")).as("six"))
    val D = (n: String) => col(n).cast("double")
    m.select(col("n_cust"),
      graft.functions.Fns.roundP(
        lit(2.0) * D("six") / (D("n_cust") * D("sx"))
          - (D("n_cust") + 1) / D("n_cust"), 6).as("gini"))
  }

  /** Column-profiling spec for [[qProfile]]: (column, canonicalizer).
    * min/max are computed on the NATIVE value (a lexicographic min over
    * stringified numbers would rank '9' above '10') and only the final
    * scalar is rendered cross-engine-canonically: longs/strings verbatim,
    * doubles through the proven decimal(18,2) HALF_UP cast, timestamps at
    * the date grain (UTC session) — every rendering byte-identical
    * between Spark and DuckDB. */
  private val profileSpec: Seq[(String, Column => Column)] = Seq(
    ("o_orderkey",      (c: Column) => c.cast("string")),
    ("o_custkey",       (c: Column) => c.cast("string")),
    ("o_orderstatus",   (c: Column) => c),
    ("o_totalprice",    (c: Column) => c.cast("decimal(18,2)").cast("string")),
    ("o_orderdate",     (c: Column) => c.cast("date").cast("string")),
    ("o_orderpriority", (c: Column) => c),
  )

  /** Data-quality COLUMN PROFILE of the orders table (the deequ/DESCRIBE
    * surface every analytics engine ships — the first thing run against a
    * new 100 TB delivery): per column, null count, exact distinct count,
    * and canonical min/max. ONE pass over the table: all 6×4 aggregates
    * in a single agg (Spark plans the multi-distinct via one Expand —
    * rows duplicate ×(distinct groups+1), the standard exact-profile
    * cost; at 100 TB swap countDistinct for approx_count_distinct or the
    * gated KMV/HLL sketches, same dataflow), then the 1-row result
    * unpivots to a row per column with a generator — no second scan. */
  val qProfile: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val aggs = profileSpec.flatMap { case (n, k) => Seq(
      (count(lit(1)) - count(col(n))).as(s"${n}_nulls"),
      countDistinct(col(n)).as(s"${n}_dist"),
      k(min(col(n))).as(s"${n}_min"),
      k(max(col(n))).as(s"${n}_max"))
    }
    o.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(profileSpec.map { case (n, _) =>
        struct(lit(n).as("col_name"), col(s"${n}_nulls").as("n_nulls"),
          col(s"${n}_dist").as("n_distinct"),
          col(s"${n}_min").as("vmin"), col(s"${n}_max").as("vmax"))
      }: _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.n_nulls").as("n_nulls"),
        col("p.n_distinct").as("n_distinct"),
        col("p.vmin").as("vmin"), col("p.vmax").as("vmax"))
      .orderBy("col_name")
  }

  /** [[qProfile]] widened to the intake surface a 100 TB delivery
    * actually runs (r12 advice #7): the full 11-column lineitem schema
    * (bigints, ints, doubles, strings, a timestamp), with NULL FRACTION
    * and the TOP VALUE (mode) folded into the SAME one-scan dataflow —
    * `mode(canonical, deterministic=true)` ties break to the lowest
    * canonical string on both engines (the oracle twin is the
    * `ORDER BY c DESC, v` rank), and it rides the multi-distinct Expand's
    * base group, so the plan stays ONE parquet scan + ONE Expand + one
    * agg (PlanSpec pins it). Null fraction is post-agg row-local
    * arithmetic. At 100 TB: countDistinct → the gated sketches, mode →
    * a CMS heavy-hitter, same dataflow. */
  // Canonicalizer contract (shared with profileSpec): the decimal(18,2)
  // rendering of a DOUBLE is engine-identical only while corpus doubles
  // are ≤2-decimal exact (true of this TPC-H-shaped data; lineitem money
  // columns are cents). On noisier data Spark's Double→Decimal goes
  // through Double.toString (HALF_UP on the printed repr) while DuckDB
  // rounds the exact binary value — the documented roundP divergence —
  // and the gate would flip loudly. The production fix is canonicalizing
  // via an explicit roundP before the cast; kept simple here because the
  // gate pins the assumption.
  private val profileWideSpec: Seq[(String, Column => Column)] = Seq(
    ("l_orderkey",      (c: Column) => c.cast("string")),
    ("l_partkey",       (c: Column) => c.cast("string")),
    ("l_suppkey",       (c: Column) => c.cast("string")),
    ("l_linenumber",    (c: Column) => c.cast("string")),
    ("l_quantity",      (c: Column) => c.cast("decimal(18,2)").cast("string")),
    ("l_extendedprice", (c: Column) => c.cast("decimal(18,2)").cast("string")),
    ("l_discount",      (c: Column) => c.cast("decimal(18,2)").cast("string")),
    ("l_tax",           (c: Column) => c.cast("decimal(18,2)").cast("string")),
    ("l_returnflag",    (c: Column) => c),
    ("l_linestatus",    (c: Column) => c),
    ("l_shipdate",      (c: Column) => c.cast("date").cast("string")),
  )

  /** Numeric sort key per column (NULL for string columns): the NATIVE
    * ordering min/max must use — the canonical string is not orderable
    * ("10" < "9" lexicographically). Date → epoch-day; integral/double →
    * double (values ≤ 6e8 here, exact). */
  private val profileWideNumKey: Map[String, Column => Column] = Map(
    "l_orderkey"      -> ((c: Column) => c.cast("double")),
    "l_partkey"       -> ((c: Column) => c.cast("double")),
    "l_suppkey"       -> ((c: Column) => c.cast("double")),
    "l_linenumber"    -> ((c: Column) => c.cast("double")),
    "l_quantity"      -> ((c: Column) => c.cast("double")),
    "l_extendedprice" -> ((c: Column) => c.cast("double")),
    "l_discount"      -> ((c: Column) => c.cast("double")),
    "l_tax"           -> ((c: Column) => c.cast("double")),
    "l_shipdate"      -> ((c: Column) => unix_date(c.cast("date")).cast("double")),
  )

  val qProfileWide: Q = (s, d) => {
    // Dataflow (the deequ unpivot-count rendering, all codegen): one scan
    // → one Generate unpivoting each row into 11 (col_id, canon, knum)
    // slots → HashAggregate #1 on (col_id, canon, knum) with map-side
    // combine (canon is a CANONICAL RENDERING, knum the native numeric
    // key, so distinct (canon, knum) groups ≡ distinct native values) →
    // HashAggregate #2 per column: nulls / rows / exact distinct =
    // count of value groups, min/max via min_by/max_by on the native
    // key (strings fall back to min/max of canon — their canon IS the
    // native ordering), and the deterministic TOP VALUE as
    // min_by(canon, struct(-cnt, canon)) (max count, ties → lowest
    // canonical string; null sort key drops the null-value group). The
    // first cut folded mode() into the q_profile Expand agg — mode is a
    // TypedImperativeAggregate, which forced the ×12-duplicated Expand
    // stream through a no-codegen ObjectHashAggregate: measured 38.8 s
    // at sf0.1 vs ~3 s for this shape (PERF.md r13).
    val li = Tables.lineitem(s, d)
    val names = profileWideSpec.map(_._1)
    val slots = profileWideSpec.zipWithIndex.map { case ((n, k), i) =>
      struct(lit(i).as("cid"), k(col(n)).as("canon"),
        profileWideNumKey.get(n).map(f => f(col(n)))
          .getOrElse(lit(null).cast("double")).as("knum"))
    }
    val compact = li
      .select(explode(array(slots: _*)).as("s"))
      .select(col("s.cid").as("cid"), col("s.canon").as("canon"), col("s.knum").as("knum"))
      .groupBy("cid", "canon", "knum")
      .agg(count(lit(1)).as("cnt"))
    // collapse to one row per CANONICAL string before ranking the top
    // value: two distinct natives can share a rendering (e.g. two raw
    // doubles → one decimal(18,2) string), and the oracle's top-value
    // rank counts per rendering — nvals carries the native-distinct
    // count, kmin/kmax the native ordering keys (review finding r13)
    val perCanon = compact.groupBy("cid", "canon").agg(
      count(lit(1)).as("nvals"),
      sum(col("cnt")).as("ccnt"),
      min(col("knum")).as("kmin"),
      max(col("knum")).as("kmax"))
    val topKey = when(col("canon").isNotNull,
      struct((-col("ccnt")).as("nc"), col("canon").as("cv")))
    val perCol = perCanon.groupBy("cid").agg(
      coalesce(sum(when(col("canon").isNull, col("ccnt"))), lit(0L)).as("n_nulls"),
      sum(col("ccnt")).as("n_rows"),
      coalesce(sum(when(col("canon").isNotNull, col("nvals"))), lit(0L)).as("n_distinct"),
      coalesce(min_by(col("canon"), col("kmin")), min(col("canon"))).as("vmin"),
      coalesce(max_by(col("canon"), col("kmax")), max(col("canon"))).as("vmax"),
      min_by(col("canon"), topKey).as("top_value"))
    perCol
      .select(element_at(typedLit(names), col("cid") + 1).as("col_name"),
        col("n_nulls"), col("n_distinct"),
        graft.functions.Fns.roundP(
          col("n_nulls").cast("double") / col("n_rows").cast("double"), 6)
          .as("null_frac"),
        col("vmin"), col("vmax"), col("top_value"))
      .orderBy("col_name")
  }

  /** K-anonymity audit thresholds. */
  val KANON_KS = Seq(2, 5, 10)

  /** Privacy-side intake audit — k-anonymity over a quasi-identifier
    * tuple (nation, market segment, account-balance kilo-bucket): for
    * each k in [[KANON_KS]], how many QI equivalence classes fall below
    * size k and what fraction of rows sits in a class of size ≥ k. The
    * release-gating counterpart of [[qProfile]]'s quality profile (a
    * training corpus that carries structured customer attributes must
    * clear this before rows are shareable; Sweeney 2002 is the public
    * framing). Scale posture: one scan, one partial-aggregated shuffle
    * keyed on the QI tuple (the natural key at any SF); the per-k rollup
    * runs over class SIZES (bounded by QI-space cardinality, not row
    * count) exploded ×|KANON_KS|. */
  val qKAnonymity: Q = (s, d) => {
    val sizes = Tables.customer(s, d)
      .groupBy(
        col("c_nationkey").as("nat"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000.0).cast("int").as("bal_kbucket"))
      .agg(count(lit(1)).as("sz"))
    sizes
      .select(col("sz"), explode(typedLit(KANON_KS)).as("k"))
      .groupBy("k")
      .agg(
        count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("sz") < col("k"), lit(1L))), lit(0L)).as("n_groups_below"),
        coalesce(sum(when(col("sz") < col("k"), col("sz"))), lit(0L)).as("n_rows_below"),
        sum(col("sz")).as("n_rows"))
      .select(col("k"), col("n_groups"), col("n_groups_below"), col("n_rows_below"),
        graft.functions.Fns.roundP(
          (col("n_rows") - col("n_rows_below")).cast("double") /
            col("n_rows").cast("double"), 6).as("frac_rows_anon"))
      .orderBy("k")
  }

  /** l-diversity audit thresholds. */
  val LDIV_LS = Seq(2, 3, 5)

  /** The companion privacy audit to [[qKAnonymity]] — l-diversity
    * (Machanavajjhala 2007): k-anonymity alone leaks when everyone in a
    * QI class shares the sensitive value, so this measures, per QI class
    * (nation, account-balance kilo-bucket), the number of DISTINCT
    * sensitive values (market segment) and for each l in [[LDIV_LS]] how
    * many classes and rows fall below it. All-integer (sizes + exact
    * distinct counts), so no float parity care. Scale posture: one scan,
    * one QI-keyed shuffle carrying count + count-distinct partials; the
    * per-l rollup rides class summaries (QI-cardinality-bounded)
    * exploded ×|LDIV_LS|. */
  val qLDiversity: Q = (s, d) => {
    val classes = Tables.customer(s, d)
      .groupBy(
        col("c_nationkey").as("nat"),
        floor(col("c_acctbal") / 1000.0).cast("int").as("bal_kbucket"))
      .agg(count(lit(1)).as("sz"), countDistinct(col("c_mktsegment")).as("ldiv"))
    classes
      .select(col("sz"), col("ldiv"), explode(typedLit(LDIV_LS)).as("l"))
      .groupBy("l")
      .agg(
        count(lit(1)).as("n_classes"),
        coalesce(sum(when(col("ldiv") < col("l"), lit(1L))), lit(0L)).as("n_classes_below"),
        coalesce(sum(when(col("ldiv") < col("l"), col("sz"))), lit(0L)).as("n_rows_below"),
        sum(col("sz")).as("n_rows"))
      .select(col("l"), col("n_classes"), col("n_classes_below"), col("n_rows_below"),
        graft.functions.Fns.roundP(
          (col("n_rows") - col("n_rows_below")).cast("double") /
            col("n_rows").cast("double"), 6).as("frac_rows_diverse"))
      .orderBy("l")
  }

  /** t-closeness thresholds as /20 rationals (0.2, 0.35, 0.5). */
  val TCLOSE_T20S = Seq(4, 7, 10)

  /** The third classic privacy audit beside [[qKAnonymity]] and
    * [[qLDiversity]] — t-closeness (Li, Li & Venkatasubramanian, ICDE
    * 2007): l-diversity still leaks when a QI class's sensitive-value
    * DISTRIBUTION is skewed far from the table's, so this measures, per
    * QI class (nation, account-balance kilo-bucket), the variational
    * distance (equal-ground EMD for a categorical sensitive attribute)
    * between the class's market-segment distribution and the global one,
    * and for each t in [[TCLOSE_T20S]]/20 how many classes and rows
    * exceed it.
    *
    * Exactness: EMD_c = Σ_v |cnt_cv/sz_c − g_v/N| / 2 is evaluated
    * WITHOUT any division — the violation test EMD_c > t20/20 is
    * rewritten 10·Σ_v |cnt_cv·N − g_v·sz_c| > t20·sz_c·N, all-integer,
    * with the absent-segment terms folded in closed form
    * (Σ_absent g_v·sz = (N − Σ_present g_v)·sz). Only the reported
    * fraction touches doubles, through roundP. (At a 10⁹-row customer
    * dim the integer products approach int64 range — the decimal(38)
    * widening is the documented knob there.)
    *
    * Scale posture: one scan collapses to (QI, seg) cells; class sizes
    * and the |segments|-bounded global histogram derive from the cells
    * (persisted — three consumers, no cross-branch CSE); everything after
    * the first agg rides QI-space-bounded frames, exploded ×|ts|. */
  val qTCloseness: Q = (s, d) => {
    val cell = Tables.customer(s, d)
      .groupBy(
        col("c_nationkey").as("nat"),
        floor(col("c_acctbal") / 1000.0).cast("int").as("bal_kbucket"),
        col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = cell.groupBy("nat", "bal_kbucket").agg(sum("cnt").as("sz"))
    val global = cell.groupBy("seg").agg(sum("cnt").as("g"))
    val tot = cell.agg(sum("cnt").as("n"))
    val perClass = cell
      .join(broadcast(sizes), Seq("nat", "bal_kbucket"))
      .join(broadcast(global), Seq("seg"))
      .crossJoin(broadcast(tot))
      .groupBy("nat", "bal_kbucket")
      .agg(
        max(col("sz")).as("sz"), max(col("n")).as("n"),
        (sum(abs(col("cnt") * col("n") - col("g") * col("sz"))) +
          (max(col("n")) - sum(col("g"))) * max(col("sz"))).as("num"))
    perClass
      .select(col("sz"), col("n"), col("num"),
        explode(typedLit(TCLOSE_T20S)).as("t20"))
      .groupBy("t20")
      .agg(
        count(lit(1)).as("n_classes"),
        coalesce(sum(when(col("num") * 10 > col("t20") * col("sz") * col("n"),
          lit(1L))), lit(0L)).as("n_classes_above"),
        coalesce(sum(when(col("num") * 10 > col("t20") * col("sz") * col("n"),
          col("sz"))), lit(0L)).as("n_rows_above"),
        sum(col("sz")).as("n_rows"))
      .select(
        (col("t20").cast("double") / lit(20.0)).as("t"),
        col("n_classes"), col("n_classes_above"), col("n_rows_above"),
        graft.functions.Fns.roundP(
          (col("n_rows") - col("n_rows_above")).cast("double") /
            col("n_rows").cast("double"), 6).as("frac_rows_close"))
      .orderBy("t")
  }

  /** Laplace-noise resolution space (2^20): u = (h mod 2^20 + 0.5)/2^20
    * is an exact dyadic rational, so both engines feed `ln` bit-identical
    * doubles and the inverse-CDF transform is deterministic. */
  val DP_SPACE = 1048576L

  /** Default noise seed for [[qDpRelease]] — a plan literal, pinned so the
    * gate is reproducible across engines and rounds. */
  val DP_SEED = "dp"

  /** Differentially-private histogram release (Dwork et al. 2006, the
    * Laplace mechanism): per-source document counts + Laplace(Δ/ε) noise
    * with sensitivity Δ = 1 (each document belongs to exactly one source,
    * so adding/removing a document moves one bin by one) and ε = 1. The
    * release-side counterpart of the audit gates ([[qKAnonymity]] /
    * [[qLDiversity]] / [[qTCloseness]] measure risk; this is the
    * mechanism that bounds it when aggregate stats leave the boundary).
    * A production release drops the true `n_docs` column — it is emitted
    * here because the gate is a correctness artifact.
    *
    * Determinism vs privacy — read before reusing: noise is the Laplace
    * inverse CDF −b·sgn(u−½)·ln(1−2|u−½|) driven by a uniform derived from
    * hash32(seed‖bin). That hash-seeded u exists ONLY for cross-engine gate
    * reproducibility; with a seed an adversary knows (or can guess), the
    * noise is a deterministic function of the public bin label and can be
    * recomputed and subtracted exactly — the release then provides NO ε-DP
    * guarantee at all, even after dropping `n_docs`. A production release
    * must draw u from cryptographic randomness; the minimum viable form is
    * this same construction with [[DP_SEED]] replaced by a high-entropy
    * per-release SECRET seed (never reused, never logged), which makes the
    * mechanism a keyed PRF — the standard seedable-DP deployment shape.
    * QueriesSpec pins that changing the seed moves every noisy count.
    *
    * Every arithmetic step up to `ln` is exact dyadic-rational double
    * math, and ln/exp parity across engines is measured precedent
    * (q_link_predict, q_ess). Scale: one partial+final agg to |sources|
    * rows; the noise is row-local column algebra on the bounded frame. */
  val qDpRelease: Q = (s, d) => dpReleaseOf(Tables.documents(s, d), DP_SEED)

  /** The release chain with an explicit noise seed — the production entry
    * point (pass a per-release secret), factored so QueriesSpec can prove
    * seed-sensitivity. */
  private[graft] def dpReleaseOf(docs: DataFrame, seed: String): DataFrame = {
    val u = (pmod(graft.functions.Fns.hash32(
        concat(lit(s"${seed}_"), col("source"))),
      lit(DP_SPACE)).cast("double") + lit(0.5)) / lit(DP_SPACE.toDouble)
    val noise = when(u < 0.5, lit(1.0)).otherwise(lit(-1.0)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    docs
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        graft.functions.Fns.roundP(col("n_docs").cast("double") + noise, 6)
          .as("noisy_n_docs"))
      .orderBy("source")
  }

  /** DuckDB canonicalizers mirroring [[profileSpec]] exactly. */
  private val sqlProfile: String = {
    val spec: Seq[(String, String => String)] = Seq(
      ("o_orderkey",      (e: String) => s"CAST($e AS VARCHAR)"),
      ("o_custkey",       (e: String) => s"CAST($e AS VARCHAR)"),
      ("o_orderstatus",   (e: String) => e),
      ("o_totalprice",    (e: String) => s"CAST(CAST($e AS DECIMAL(18,2)) AS VARCHAR)"),
      ("o_orderdate",     (e: String) => s"CAST(CAST($e AS DATE) AS VARCHAR)"),
      ("o_orderpriority", (e: String) => e))
    val aggCols = spec.map { case (n, k) =>
      s"""CAST(count(*) - count($n) AS BIGINT) AS ${n}_nulls,
         |  CAST(count(DISTINCT $n) AS BIGINT) AS ${n}_dist,
         |  ${k(s"min($n)")} AS ${n}_min, ${k(s"max($n)")} AS ${n}_max""".stripMargin
    }.mkString(",\n  ")
    val rows = spec.map { case (n, _) =>
      s"""SELECT '$n' AS col_name, ${n}_nulls AS n_nulls, ${n}_dist AS n_distinct,
         |    ${n}_min AS vmin, ${n}_max AS vmax FROM a""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH a AS (SELECT
       |  $aggCols
       |FROM orders)
       |SELECT * FROM (
       |  $rows
       |) ORDER BY col_name""".stripMargin
  }

  /** DuckDB twin of [[qProfileWide]]: same aggregates, with the
    * deterministic mode rendered as an `ORDER BY c DESC, v` rank subquery
    * per column (Spark's mode(deterministic=true) tie-breaks to the
    * lowest canonical string; DuckDB's own mode() ties arbitrarily, so
    * the twin spells the rank out). */
  private val sqlProfileWide: String = {
    val spec: Seq[(String, String => String)] = Seq(
      ("l_orderkey",      (e: String) => s"CAST($e AS VARCHAR)"),
      ("l_partkey",       (e: String) => s"CAST($e AS VARCHAR)"),
      ("l_suppkey",       (e: String) => s"CAST($e AS VARCHAR)"),
      ("l_linenumber",    (e: String) => s"CAST($e AS VARCHAR)"),
      ("l_quantity",      (e: String) => s"CAST(CAST($e AS DECIMAL(18,2)) AS VARCHAR)"),
      ("l_extendedprice", (e: String) => s"CAST(CAST($e AS DECIMAL(18,2)) AS VARCHAR)"),
      ("l_discount",      (e: String) => s"CAST(CAST($e AS DECIMAL(18,2)) AS VARCHAR)"),
      ("l_tax",           (e: String) => s"CAST(CAST($e AS DECIMAL(18,2)) AS VARCHAR)"),
      ("l_returnflag",    (e: String) => e),
      ("l_linestatus",    (e: String) => e),
      ("l_shipdate",      (e: String) => s"CAST(CAST($e AS DATE) AS VARCHAR)"))
    val aggCols = spec.map { case (n, k) =>
      s"""CAST(count(*) - count($n) AS BIGINT) AS ${n}_nulls,
         |  CAST(count(*) AS BIGINT) AS ${n}_rows,
         |  CAST(count(DISTINCT $n) AS BIGINT) AS ${n}_dist,
         |  ${k(s"min($n)")} AS ${n}_min, ${k(s"max($n)")} AS ${n}_max""".stripMargin
    }.mkString(",\n  ")
    val rows = spec.map { case (n, k) =>
      s"""SELECT '$n' AS col_name, ${n}_nulls AS n_nulls, ${n}_dist AS n_distinct,
         |    ${Fns.roundPSql(s"CAST(${n}_nulls AS DOUBLE) / CAST(${n}_rows AS DOUBLE)", 6)} AS null_frac,
         |    ${n}_min AS vmin, ${n}_max AS vmax,
         |    (SELECT v FROM (SELECT ${k(n)} AS v, count(*) AS c FROM lineitem
         |       WHERE $n IS NOT NULL GROUP BY 1 ORDER BY c DESC, v LIMIT 1)) AS top_value
         |  FROM a""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH a AS (SELECT
       |  $aggCols
       |FROM lineitem)
       |SELECT * FROM (
       |  $rows
       |) ORDER BY col_name""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("q_profile", qProfile, sqlProfile),
    Gate("q_profile_wide", qProfileWide, sqlProfileWide),
    Gate("q_k_anonymity", qKAnonymity,
      s"""WITH sizes AS (
         |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         |    CAST(floor(c_acctbal / 1000.0) AS INTEGER) AS bal_kbucket,
         |    count(*) AS sz
         |  FROM customer GROUP BY 1, 2, 3),
         |ks(k) AS (VALUES (${KANON_KS.mkString("), (")}))
         |SELECT k,
         |  count(*) AS n_groups,
         |  CAST(coalesce(sum(CASE WHEN sz < k THEN 1 END), 0) AS BIGINT) AS n_groups_below,
         |  CAST(coalesce(sum(CASE WHEN sz < k THEN sz END), 0) AS BIGINT) AS n_rows_below,
         |  ${Fns.roundPSql(
             "CAST(sum(sz) - coalesce(sum(CASE WHEN sz < k THEN sz END), 0) AS DOUBLE) / CAST(sum(sz) AS DOUBLE)",
             6)} AS frac_rows_anon
         |FROM sizes CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin),
    Gate("q_dp_release", qDpRelease,
      s"""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |n AS (SELECT source, n_docs,
         |  (CAST(CAST('0x' || substr(md5('dp_' || source), 1, 8) AS BIGINT)
         |     % $DP_SPACE AS DOUBLE) + 0.5) / CAST($DP_SPACE AS DOUBLE) AS u
         |FROM c)
         |SELECT source, n_docs,
         |  ${Fns.roundPSql(
             "CAST(n_docs AS DOUBLE) + (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END) * ln(1 - 2 * abs(u - 0.5))",
             6)} AS noisy_n_docs
         |FROM n ORDER BY source""".stripMargin),
    Gate("q_t_closeness", qTCloseness,
      s"""WITH cell AS (
         |  SELECT c_nationkey AS nat,
         |    CAST(floor(c_acctbal / 1000.0) AS INTEGER) AS bal_kbucket,
         |    c_mktsegment AS seg, count(*) AS cnt
         |  FROM customer GROUP BY 1, 2, 3),
         |sizes AS (SELECT nat, bal_kbucket, sum(cnt) AS sz FROM cell GROUP BY 1, 2),
         |g AS (SELECT seg, sum(cnt) AS g FROM cell GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS n FROM cell),
         |cls AS (
         |  SELECT c.nat, c.bal_kbucket, max(s.sz) AS sz, max(t.n) AS n,
         |    sum(abs(c.cnt * t.n - g.g * s.sz))
         |      + (max(t.n) - sum(g.g)) * max(s.sz) AS num
         |  FROM cell c
         |  JOIN sizes s USING (nat, bal_kbucket)
         |  JOIN g USING (seg)
         |  CROSS JOIN tot t
         |  GROUP BY c.nat, c.bal_kbucket),
         |ts(t20) AS (VALUES (${TCLOSE_T20S.mkString("), (")}))
         |SELECT CAST(t20 AS DOUBLE) / CAST(20 AS DOUBLE) AS t,
         |  count(*) AS n_classes,
         |  CAST(coalesce(sum(CASE WHEN num * 10 > t20 * sz * n THEN 1 END), 0) AS BIGINT)
         |    AS n_classes_above,
         |  CAST(coalesce(sum(CASE WHEN num * 10 > t20 * sz * n THEN sz END), 0) AS BIGINT)
         |    AS n_rows_above,
         |  ${Fns.roundPSql(
             "CAST(sum(sz) - coalesce(sum(CASE WHEN num * 10 > t20 * sz * n THEN sz END), 0) AS DOUBLE) / CAST(sum(sz) AS DOUBLE)",
             6)} AS frac_rows_close
         |FROM cls CROSS JOIN ts GROUP BY t20 ORDER BY t""".stripMargin),
    Gate("q_l_diversity", qLDiversity,
      s"""WITH classes AS (
         |  SELECT c_nationkey AS nat,
         |    CAST(floor(c_acctbal / 1000.0) AS INTEGER) AS bal_kbucket,
         |    count(*) AS sz, count(DISTINCT c_mktsegment) AS ldiv
         |  FROM customer GROUP BY 1, 2),
         |ls(l) AS (VALUES (${LDIV_LS.mkString("), (")}))
         |SELECT l,
         |  count(*) AS n_classes,
         |  CAST(coalesce(sum(CASE WHEN ldiv < l THEN 1 END), 0) AS BIGINT) AS n_classes_below,
         |  CAST(coalesce(sum(CASE WHEN ldiv < l THEN sz END), 0) AS BIGINT) AS n_rows_below,
         |  ${Fns.roundPSql(
             "CAST(sum(sz) - coalesce(sum(CASE WHEN ldiv < l THEN sz END), 0) AS DOUBLE) / CAST(sum(sz) AS DOUBLE)",
             6)} AS frac_rows_diverse
         |FROM classes CROSS JOIN ls GROUP BY l ORDER BY l""".stripMargin),
    Gate("q_gini", qGini,
      """WITH rev AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT rev, row_number() OVER (ORDER BY rev ASC, o_custkey) AS rk FROM rev),
        |m AS (SELECT count(*) AS n_cust, sum(rev) AS sx, sum(rk * rev) AS six FROM r)
        |SELECT n_cust,
        |  floor((2.0::DOUBLE * CAST(six AS DOUBLE) / (CAST(n_cust AS DOUBLE) * CAST(sx AS DOUBLE))
        |    - (CAST(n_cust AS DOUBLE) + 1) / CAST(n_cust AS DOUBLE)) * 1000000 + 0.5)
        |    / 1000000 AS gini
        |FROM m""".stripMargin),
    Gate("q_pareto", qPareto,
      """WITH rev AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n_cust, sum(rev) AS total FROM rev),
        |r AS (SELECT rev, row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk FROM rev)
        |SELECT t.n_cust, count(*) AS k,
        |  CAST(sum(r.rev) AS DOUBLE) AS top_rev,
        |  CAST(t.total AS DOUBLE) AS total_rev,
        |  floor(CAST(sum(r.rev) AS DOUBLE) / CAST(t.total AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS top_share
        |FROM r, t WHERE r.rk <= t.n_cust // 10
        |GROUP BY t.n_cust, t.total""".stripMargin),
    Gate("q_cum_revenue", qCumRevenue,
      """WITH daily AS (
        |  SELECT o_orderpriority,
        |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1, 2),
        |w AS (
        |  SELECT o_orderpriority, day_idx, rev,
        |    sum(rev) OVER (PARTITION BY o_orderpriority ORDER BY day_idx
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(rev) OVER (PARTITION BY o_orderpriority) AS tot
        |  FROM daily)
        |SELECT o_orderpriority, day_idx,
        |  CAST(rev AS DOUBLE) AS day_rev, CAST(cum AS DOUBLE) AS cum_rev,
        |  floor(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) * 1000000 + 0.5) / 1000000 AS cum_share
        |FROM w ORDER BY 1, 2""".stripMargin),
    Gate("q_small_order", qSmallOrder,
      """WITH pa AS (
        |  SELECT l_partkey AS p_key,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
        |    count(*) AS qty_n
        |  FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM lineitem JOIN pa ON l_partkey = p_key
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * qty_n * 5 < qty_sum""".stripMargin),
    Gate("q_anti_join", qAntiJoin,
      """SELECT c_nationkey, count(*) AS n_custs,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE CAST(c_acctbal AS DECIMAL(18,2))
        |        * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
        |      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_semi_join", qSemiJoin,
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_decile", qDecile,
      """WITH ranked AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    ntile(10) OVER (PARTITION BY o_orderpriority
        |                    ORDER BY o_totalprice, o_orderkey) AS decile
        |  FROM orders)
        |SELECT o_orderpriority, decile, count(*) AS cnt,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |        / count(*) * 10000 + 0.5) / 10000 AS avg_price
        |FROM ranked GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q_ship_priority", qShipPriority,
      """SELECT l_orderkey,
        |  epoch(o_orderdate)::BIGINT AS o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    Gate("q_local_volume", qLocalVolume,
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE c_nationkey = s_nationkey
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin),
    Gate("q_cube", qCube,
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin),
    Gate("q1_agg", q1Agg,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q_point_lookup", qPointLookup,
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = 42"),
    Gate("q_filter_range", qFilterRange,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        |WHERE l_quantity >= 30.0
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01'
        |  AND (l_returnflag = 'R' OR l_discount > 0.05)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_in_list", qInList,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') ORDER BY c_custkey""".stripMargin),
    Gate("q_projection", qProjection,
      "SELECT p_partkey, p_name FROM part ORDER BY p_partkey"),
    Gate("q_exists", qExists,
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE props IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_topk", qTopK,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    Gate("q_union_groups", qUnionGroups,
      """SELECT 'region' AS grp, r_name AS name FROM region
        |UNION ALL SELECT 'nation' AS grp, n_name AS name FROM nation
        |ORDER BY grp, name""".stripMargin),
    Gate("q_count", qCount,
      "SELECT count(*) AS cnt FROM lineitem"),
    Gate("q_distinct", qDistinct,
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2"),
    Gate("q_upsert_merge", qUpsertMerge,
      """SELECT c_custkey, 'upserted#' || CAST(c_custkey AS VARCHAR) AS c_name,
        |       0 AS c_nationkey, 0.0 AS c_acctbal, 'UPSERTED' AS c_mktsegment
        |FROM customer WHERE c_custkey <= 10
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey > 10
        |ORDER BY c_custkey""".stripMargin),
    Gate("q_remove_cascade", qRemoveCascade,
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_nationkey = 3)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_property_update", qPropertyUpdate,
      """SELECT CASE WHEN p_size > 40 THEN 'Brand#XL' ELSE p_brand END AS p_brand,
        |       count(*) AS cnt
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_join_agg", qJoinAgg,
      """SELECT n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
