package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dev tool: deterministic same-shaped testdata generator for scale
  * factors the driver does not ship (the r13 advice #5 sf1 confidence
  * sweep). NOT the driver's generator — the correctness gate does not
  * need it to be: `tools/compare.py` runs Spark AND DuckDB against the
  * SAME parquet files, so a sweep over self-generated sf1 data proves
  * cross-engine exactness on TPC-H-shaped distributions at 10× bench
  * scale. Shapes mirror the measured sf0.1 profile: row ratios
  * (customer 1.5k/sf0.01 → ×10/sf), vocab/stopword mix, doc-length and
  * event-value histograms, planted exact-dup and near-dup documents
  * (~1/600), weak label centers + near-dup pairs in the embeddings.
  *
  * Everything derives from xxhash64(tag, id) — no RNG, reruns are
  * byte-identical; all generation is a Spark range scan + column
  * algebra, so sf10+ generates distributed exactly the same way.
  *
  * Usage: runMain graft.GenData <outDir> [sf]   (default sf = 1.0)
  */
object GenData {
  private def h(tag: String, c: Column, m: Long): Column =
    pmod(xxhash64(lit(tag), c), lit(m))
  /** uniform in (0,1): (h + 0.5) / m — never 0 or 1, safe under ln. */
  private def u(tag: String, c: Column): Column =
    (h(tag, c, 1000000L).cast("double") + lit(0.5)) / lit(1000000.0)
  private def pick(tag: String, c: Column, vals: Seq[String]): Column =
    element_at(typedLit(vals), (h(tag, c, vals.size.toLong) + 1).cast("int"))
  private def r2(c: Column): Column = round(c, 2)

  val SEGMENTS = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val PTYPES = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val ADJS = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  val NOUNS = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  val PRIOS = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ETYPES = Seq("click", "error", "purchase", "signup", "view")
  val VOCAB = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val spark = Session.local()
    import spark.implicits._

    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val nEvt = (1000000 * sf).toLong
    val nUser = (15000 * sf).toLong
    val nDoc = (50000 * sf).toLong
    val nVec = (20000 * sf).toLong

    def w(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(Tables.path(outDir, name))
      println(s"[gen] $name done")
    }

    w(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region")

    w(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      format_string("NATION_%d", col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey")), "nation")

    w(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h("cnat", col("id"), 25).cast("int").as("c_nationkey"),
      r2(lit(-1000.0) + u("cbal", col("id")) * lit(11000.0)).as("c_acctbal"),
      pick("cseg", col("id"), SEGMENTS).as("c_mktsegment")), "customer")

    w(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h("snat", col("id"), 25).cast("int").as("s_nationkey"),
      r2(u("sbal", col("id")) * lit(10000.0)).as("s_acctbal")), "supplier")

    w(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick("padj", col("id"), ADJS), lit(" "),
        pick("pnoun", col("id"), NOUNS)).as("p_name"),
      format_string("Brand#%d", h("pbr", col("id"), 25) + 1).as("p_brand"),
      pick("ptyp", col("id"), PTYPES).as("p_type"),
      (h("psz", col("id"), 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)).cast("double") * lit(0.1), 1)
        .as("p_retailprice")), "part")

    val orders = spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      h("ocust", col("id"), nCust).as("o_custkey"),
      pick("ostat", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      r2(lit(1000.0) + u("otot", col("id")) * lit(499000.0)).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"),
        h("odate", col("id"), 2400).cast("int")).cast("timestamp")
        .as("o_orderdate"),
      pick("oprio", col("id"), PRIOS).as("o_orderpriority"))
    w(orders, "orders")

    val li = orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate").as("od"),
        explode(sequence(lit(1),
          (h("lnl", col("o_orderkey"), 7) + 1).cast("int"))).as("l_linenumber"))
      .withColumn("lid", col("l_orderkey") * 8 + col("l_linenumber"))
      .select(
        col("l_orderkey"),
        h("lpart", col("lid"), nPart).as("l_partkey"),
        h("lsupp", col("lid"), nSupp).as("l_suppkey"),
        col("l_linenumber"),
        (h("lqty", col("lid"), 50) + 1).cast("double").as("l_quantity"),
        r2((h("lqty", col("lid"), 50) + 1).cast("double") *
          (lit(900.0) + h("lprc", col("lid"), 1000).cast("double") * lit(0.1)))
          .as("l_extendedprice"),
        (h("ldisc", col("lid"), 11).cast("double") * lit(0.01)).as("l_discount"),
        (h("ltax", col("lid"), 9).cast("double") * lit(0.01)).as("l_tax"),
        pick("lrf", col("lid"), Seq("A", "N", "R")).as("l_returnflag"),
        pick("lls", col("lid"), Seq("F", "O")).as("l_linestatus"),
        date_add(col("od").cast("date"),
          (h("lship", col("lid"), 95) + 1).cast("int")).cast("timestamp")
          .as("l_shipdate"))
    w(li, "lineitem")

    w(spark.range(nEvt).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + // 2024-01-01 UTC
        h("ets", col("id"), 30L * 86400 * 1000000)).as("ts"),
      h("euser", col("id"), nUser).as("user_id"),
      pick("etype", col("id"), ETYPES).as("event_type"),
      r2(-log(u("eval", col("id"))) * lit(50.0)).as("value"),
      format_string("{\"k\": %d}", h("eprop", col("id"), 100)).as("props")),
      "events")

    // documents: ~1/613 exact dup (re-seeded from the previous doc) and
    // ~1/617 near dup (previous doc's words + a 2-word tail) — the planted
    // structure the dedup families need, at the shipped corpus' density
    val base = spark.range(nDoc)
      .withColumn("isdup", col("id") > 0 && pmod(col("id"), lit(613)) === 0)
      .withColumn("isnear",
        col("id") > 0 && pmod(col("id"), lit(617)) === 0 && !col("isdup"))
      .withColumn("seed",
        when(col("isdup") || col("isnear"), col("id") - 1).otherwise(col("id")))
    val words = array_join(transform(
      sequence(lit(1), (h("dnw", col("seed"), 92) + 8).cast("int")),
      j => element_at(typedLit(VOCAB),
        (pmod(xxhash64(lit("dw"), col("seed"), j), lit(VOCAB.size.toLong)) + 1)
          .cast("int"))), " ")
    w(base.select(
      col("id").as("doc_id"),
      when(col("isnear"), concat(words, lit(" spark table")))
        .otherwise(words).as("text"),
      when(h("dlang", col("id"), 20) < 8, "en")
        .when(h("dlang", col("id"), 20) < 11, "de")
        .when(h("dlang", col("id"), 20) < 14, "es")
        .when(h("dlang", col("id"), 20) < 17, "fr")
        .otherwise("zh").as("lang"),
      format_string("src%d", h("dsrc", col("id"), 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: weak per-(label, dim) centers + uniform noise at the
    // measured component scale; ~1/401 near-dup pair for the cosine family
    val emb = spark.range(nVec)
      .withColumn("isnear", col("id") > 0 && pmod(col("id"), lit(401)) === 0)
      .withColumn("seed", when(col("isnear"), col("id") - 1).otherwise(col("id")))
      .withColumn("label", h("vlab", col("seed"), 10).cast("int"))
    w(emb.select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j => (
        sin(col("label").cast("double") * lit(3.7) + j.cast("double") * lit(1.3))
          * lit(0.03) +
        ((pmod(xxhash64(lit("vn"), col("seed"), j), lit(1000000L)).cast("double")
          + lit(0.5)) / lit(1000000.0) - lit(0.5)) * lit(0.433) +
        when(col("isnear"),
          ((pmod(xxhash64(lit("vj"), col("id"), j), lit(1000000L)).cast("double")
            + lit(0.5)) / lit(1000000.0) - lit(0.5)) * lit(0.02))
          .otherwise(lit(0.0))
      ).cast("float")).as("embedding"),
      col("label")), "embeddings")

    spark.stop()
  }
}
