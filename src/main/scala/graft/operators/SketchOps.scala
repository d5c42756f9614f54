package graft.operators

import graft.Tables
import graft.functions.{Fns, Kmv}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch operators — deterministic cardinality estimation at sketch-sized
  * shuffle cost (see [[graft.functions.Kmv]] for the estimator and why it
  * is oracle-gateable where HyperLogLog is not).
  */
object SketchOps {
  /** Micros per day — the activity grain being counted. private[graft] so
    * the spec pinning q_kmv_overlap's data precondition counts at the same
    * grain the query does. */
  private[graft] val DAY_US = 86400000000L

  /** KMV distinct (user, day) pairs per event type — "daily active users"
    * cardinality, the canonical pipeline sketch workload. Reports the
    * count of DISTINCT HASH VALUES beside the estimate so the gate pins
    * both the sketch math and its input (`n_distinct_hashes`, not
    * "exact": a 32-bit collision between two (user, day) pairs would
    * undercount the true pair count — at these cardinalities vs 2^32 the
    * gap is cosmetic, but the column is named for what it measures). The
    * distinct() pre-pass dedupes hashes on the compound key (one
    * spread-out shuffle, same de-skew shape as q_distinct_users); the
    * sketch itself then shuffles ≤K longs per group. At 100 TB the
    * distinct-hash column is the expensive one — a production run keeps
    * only the sketch. A kth value of 0 (p ≈ K·2⁻³², impossible on this
    * corpus but guarded anyway) yields a null estimate on BOTH engines
    * rather than an Infinity. */
  val qKmvDistinct: Q = (s, d) => {
    val day = floor(unix_micros(col("ts")) / lit(DAY_US)).cast("string")
    val h = Tables.events(s, d)
      .select(col("event_type"),
        Fns.hash32(concat(col("user_id").cast("string"), lit("_"), day)).as("h"))
      .distinct()
    val kthMin = udaf(new Kmv.KthMinAgg())
    h.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct_hashes"), kthMin(col("h")).as("kth"))
      .filter(col("kth").isNotNull)
      .select(col("event_type"), col("n_distinct_hashes"),
        when(col("kth") > 0,
          Fns.roundP(lit(Kmv.EST_NUM) / col("kth").cast("double"), 4)).as("kmv_est"))
      .orderBy("event_type")
  }

  /** The two activity shards whose (user, day) sets [[qKmvOverlap]]
    * compares. Partial overlap by construction (≈0.23 Jaccard at sf0.01). */
  val OVERLAP_SHARDS = ("click", "purchase")

  /** KMV/theta sketch SET ALGEBRA — estimate the overlap between two
    * corpus shards' (user, day) activity sets from two bottom-K sketches
    * alone: θ = min(θ_A, θ_B), the sample below θ is a uniform sample of
    * the union, and |A∩B| ≈ |sample∩| · 2³²/θ, J(A,B) ≈ |sample∩|/|sample∪|
    * (theta-sketch estimators — Dasgupta et al. 2016). The exact overlap
    * count rides along to pin the estimator's input and error, like
    * q_cms_topk does for Count-Min.
    *
    * Scale posture: each shard reduces to a ≤K-long sketch via map-side
    * partials (the same bounded merge as [[Kmv.KthMinAgg]]); the set
    * algebra then runs on TWO ARRAYS in a 1×1 join — at 100 TB the only
    * full-data cost is the distinct pre-pass, and the exact companion
    * column is dropped. Estimating shard overlap without co-shuffling the
    * shards is the entire point of sketch set operations. */
  val qKmvOverlap: Q = (s, d) => {
    import graft.functions.Kmv.HASH_SPACE
    val (shardA, shardB) = OVERLAP_SHARDS
    val day = floor(unix_micros(col("ts")) / lit(DAY_US)).cast("string")
    val h = Tables.events(s, d)
      .filter(col("event_type").isin(shardA, shardB))
      .select(col("event_type").as("shard"),
        Fns.hash32(concat(col("user_id").cast("string"), lit("_"), day)).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bottomK = udaf(new Kmv.BottomKAgg())
    // ONE bottom-K pass over the hash set, then both sketches pulled from
    // the 2-row result in a single global agg (max-of-one-non-null): two
    // filter branches would re-run the full aggregation — no cross-branch
    // CSE (PERF.md)
    val sk = h.groupBy(col("shard")).agg(bottomK(col("h")).as("ks"))
      .agg(max(when(col("shard") === shardA, col("ks"))).as("ka"),
        max(when(col("shard") === shardB, col("ks"))).as("kb"))
    // exact overlap of the two distinct-hash sets (gate companion only)
    val exact = h.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") === 2).agg(count(lit(1)).as("n_overlap_hashes"))
    sk.crossJoin(exact) // two 1-row inputs
      // arrays are ascending, so each sketch's θ is its LAST element — not
      // element K, which would throw under ANSI on a shard with fewer than
      // K distinct hashes where the oracle's max-of-rows degrades to exact
      // mode (θ = the set's max; the estimator is then exact, like
      // KthMinAgg's null-under-K discipline but defined on both engines)
      .withColumn("theta", least(
        element_at(col("ka"), size(col("ka"))),
        element_at(col("kb"), size(col("kb")))))
      .withColumn("inter_sample",
        size(filter(array_intersect(col("ka"), col("kb")), x => x < col("theta"))).cast("long"))
      .withColumn("union_sample",
        size(filter(array_union(col("ka"), col("kb")), x => x < col("theta"))).cast("long"))
      .select(col("theta"), col("inter_sample"), col("union_sample"),
        Fns.roundP(col("inter_sample").cast("double") * lit(HASH_SPACE) / col("theta").cast("double"), 4)
          .as("kmv_inter_est"),
        when(col("union_sample") > 0,
          Fns.roundP(col("inter_sample").cast("double") / col("union_sample").cast("double"), 4))
          .as("kmv_jaccard_est"),
        col("n_overlap_hashes"))
  }

  /** HyperLogLog geometry: 2^[[HLL_P]] registers over the top [[HLL_P]]
    * bits of [[Fns.hash32]]; the remaining [[HLL_BITS]] bits feed the
    * leading-zero rank. p=10 is the classic 1.04/√m ≈ 3.2% regime. */
  val HLL_P = 10
  val HLL_M = 1 << HLL_P            // 1024 registers
  val HLL_BITS = 32 - HLL_P         // 22-bit rank suffix
  /** α_m·m² for the raw estimate (Flajolet et al. 2007, m ≥ 128 branch).
    * Computed once here and embedded as the SAME double literal in both
    * engines (shortest round-trip repr parses to identical bits). */
  val HLL_ALPHA_M2: Double = 0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M
  /** Raw-estimate thresholds: small-range below 2.5m, large-range above
    * 2^32/30 — both exact doubles, so the branch taken is engine-free. */
  val HLL_SMALL: Double = 2.5 * HLL_M
  val HLL_LARGE: Double = Kmv.HASH_SPACE / 30.0

  /** HyperLogLog distinct (user, day) pairs per event type — the same
    * workload as [[qKmvDistinct]] under the OTHER classic cardinality
    * sketch, so the two estimators' error is comparable row-for-row.
    * Spark's own `approx_count_distinct` is HLL++ with an engine-private
    * register layout (not oracle-gateable); this is from-scratch classic
    * HLL over [[Fns.hash32]], and every step is deterministic: registers
    * are max-rank per bucket of a FIXED hash set (order/partition-free),
    * the indicator sum Σ2^-r is dyadic-exact in double (common
    * denominator 2^22+1 bits, far under the 53-bit mantissa — float
    * addition never rounds, so no decimal cast is needed or wanted:
    * decimal(18,12) would truncate 2^-23), and the correction branches
    * compare identical doubles. Reports the exact distinct-hash count and
    * the zero-register count beside the estimate, pinning the sketch's
    * input, its correction regime, and its error.
    *
    * Scale posture: after the distinct pre-pass, state is a FIXED m=1024
    * integers per group regardless of input size — map-side max-combine
    * per (group, bucket), then an O(m) final fold. The mergeable-register
    * HLL shape (union = element-wise max) is what production systems ship
    * across executors instead of raw keys. */
  /** (group, bucket, r) registers from a (group, h) hash frame — max-rank
    * per bucket, the mergeable HLL state (union = element-wise max).
    * Shared by the gate and the streaming cardinality monitor so the
    * register math cannot diverge between them. */
  private[graft] def hllRegisters(h: DataFrame, group: String): DataFrame =
    hllRegistersAt(h, group, HLL_BITS)

  /** [[hllRegisters]] at an arbitrary precision split (32 − p rank
    * bits) — shared with the graph HyperANF gate, whose per-node
    * counters use a smaller m than the cardinality gate's 1024. */
  private[graft] def hllRegistersAt(h: DataFrame, group: String,
                                    bits: Int): DataFrame =
    h.select(col(group), shiftright(col("h"), bits).as("bucket"),
        col("h").bitwiseAND(lit((1L << bits) - 1)).as("w"))
      // rank of the leftmost set bit of the suffix, 1-based; w=0 falls
      // out naturally: ltrim(bin(0)) = "" on both engines → bits + 1
      .withColumn("r", lit(bits + 1) - length(ltrim(bin(col("w")), "0")))
      .groupBy(col(group), col("bucket")).agg(max("r").as("r"))

  /** (group, v_zero, hll_raw) estimate from a register frame: Σ2^-r over
    * present registers (absent = 2^0 each), α·m²/sum raw estimate, and
    * the Flajolet small/large-range corrections. Unrounded — callers
    * apply [[Fns.roundP]] at their reporting edge. */
  private[graft] def hllEstimate(regs: DataFrame, group: String): DataFrame =
    hllEstimateAt(regs, group, HLL_M, HLL_ALPHA_M2)

  /** [[hllEstimate]] at an arbitrary register count (with its matching
    * α·m² literal) — the small-range threshold scales as 2.5·m, the
    * large-range one is hash-space-fixed. */
  private[graft] def hllEstimateAt(regs: DataFrame, group: String,
                                   m: Int, alphaM2: Double): DataFrame =
    regs.groupBy(col(group))
      .agg(count(lit(1)).as("npres"),
        // 2^-r as exact integer shift + exact dyadic division (the
        // functions API's shiftleft takes a literal bit count, hence expr)
        sum(lit(1.0) /
          expr("cast(shiftleft(cast(1 as bigint), cast(r as int)) as double)"))
          .as("psum"))
      .withColumn("v_zero", (lit(m.toLong) - col("npres")))
      .withColumn("e_raw",
        lit(alphaM2) / (col("psum") + col("v_zero").cast("double")))
      .withColumn("hll_raw",
        when(col("e_raw") <= lit(2.5 * m) && col("v_zero") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero").cast("double")))
        .when(col("e_raw") > lit(HLL_LARGE),
          lit(-Kmv.HASH_SPACE) * log(lit(1.0) - col("e_raw") / lit(Kmv.HASH_SPACE)))
        .otherwise(col("e_raw")))
      .select(col(group), col("v_zero"), col("hll_raw"))

  /** The gate's (event_type, h) distinct-hash frame — also the streaming
    * monitor's per-batch input shape. */
  private[graft] def hllHashes(df: DataFrame): DataFrame = {
    val day = floor(unix_micros(col("ts")) / lit(DAY_US)).cast("string")
    df.select(col("event_type"),
        Fns.hash32(concat(col("user_id").cast("string"), lit("_"), day)).as("h"))
      .distinct()
  }

  val qHllDistinct: Q = (s, d) => {
    val h = hllHashes(Tables.events(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val est = hllEstimate(hllRegisters(h, "event_type"), "event_type")
    val exact = h.groupBy("event_type").agg(count(lit(1)).as("n_distinct_hashes"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_distinct_hashes"), col("v_zero"),
        Fns.roundP(col("hll_raw"), 4).as("hll_est"))
      .orderBy("event_type")
  }

  /** Count-Min sketch geometry: [[CMS_D]] hash rows × [[CMS_W]] counters.
    * Affine-mod hashes over [[graft.functions.Fns.hash32]] with the same
    * Mersenne modulus the minhash family uses, so both engines compute the
    * identical buckets in pure integer arithmetic. */
  val CMS_D = 3
  // narrow enough that the ~30-word synthetic vocab actually collides
  // (6/10 top terms over-count at sf0.01) — the min-over-rows estimate and
  // its one-sided error are load-bearing in the gate, not vacuously exact
  val CMS_W = 16
  val CMS_P = 2147483647L
  val CMS_A = Seq(1103515245L, 1664525L, 22695477L)
  val CMS_B = Seq(12345L, 1013904223L, 67890L)

  /** Heavy hitters reported by [[qCmsTopk]]. */
  val CMS_TOP = 10

  private[graft] def cmsBucket(h: org.apache.spark.sql.Column, i: Int) =
    ((h * CMS_A(i) + CMS_B(i)) % CMS_P) % CMS_W

  /** Count-Min heavy-hitter estimation — build a D×W counter sketch over
    * the token stream, then read the CMS estimate (min over rows of the
    * term's bucket counter) beside the exact count for the corpus's top
    * terms. The estimate over-counts by construction (bucket collisions
    * only ever add), and the gate pins estimate AND truth, so the sketch's
    * error is itself regression-tested.
    *
    * Scale posture: the sketch is a FIXED-SIZE (D×W rows) partial+final
    * aggregate — map-side combine reduces each partition to ≤768 counters
    * regardless of corpus size, the streaming/mergeable heavy-hitter shape
    * (Cormode–Muthukrishnan 2005). The exact-count branch exists to pin
    * the sketch's input and goes away in production. */
  val qCmsTopk: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(explode(Fns.tokens(lower(col("text")))).as("w"))
      .select(col("w"), Fns.hash32(col("w")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cms = toks
      .select(posexplode(array((0 until CMS_D).map(i => cmsBucket(col("h"), i)): _*)))
      .select(col("pos").as("row_i"), col("col").as("bucket"))
      .groupBy("row_i", "bucket").agg(count(lit(1)).as("bsum"))
    // group by (w, h) — h is functionally dependent on w, and grouping on
    // both reuses the cached hash instead of re-deriving an md5 per term
    val top = toks.groupBy("w", "h").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(CMS_TOP)
      .select(col("w"), col("freq"), col("h"))
    val probes = top
      .select(col("w"), col("freq"),
        posexplode(array((0 until CMS_D).map(i => cmsBucket(col("h"), i)): _*)))
      .select(col("w"), col("freq"), col("pos").as("row_i"), col("col").as("bucket"))
    probes.join(cms, Seq("row_i", "bucket"))
      .groupBy(col("w").as("term"), col("freq"))
      .agg(min("bsum").as("cms_est"))
      .orderBy(col("freq").desc, col("term"))
  }

  /** DDSketch relative accuracy and the quantiles the gate reports. */
  val DD_ALPHA = 0.01
  val DD_GAMMA: Double = (1.0 + DD_ALPHA) / (1.0 - DD_ALPHA)
  val DD_QS = Seq(0.5, 0.9, 0.99)

  /** DDSketch quantiles (Masson et al., VLDB 2019) — the relative-error
    * quantile sketch completing the family beside KMV (distinct), HLL
    * (registers), and CMS (frequency): per language, p50/p90/p99 of doc
    * length from log-γ buckets i = ⌈ln x / ln γ⌉, estimate 2γ^i/(γ+1),
    * guaranteed within [[DD_ALPHA]] relative error of the true rank
    * value — which the gate computes exactly beside it, so the guarantee
    * is regression-tested data, not a comment (the CMS/KMV/PQ
    * error-pinning discipline).
    *
    * Scale shape: ONE corpus scan into the (lang, length)-keyed count
    * agg; bucketing, both cumulative windows, and rank picks all ride
    * value-domain-bounded frames (doc lengths are capped), and the
    * sketch itself is O(log_γ range) counters per group — mergeable with
    * plain + in any micro-batch or partition order, which is the whole
    * point of shipping a sketch instead of a sorted sample. Exactness:
    * counts/ranks are integers; the only doubles are ln/exp (runtime-
    * probed bit-identical cross-engine, the q_calibration discipline)
    * and the literal γ, embedded shortest-repr in both plans. */
  val qDdsketch: Q = (s, d) => {
    val g = lit(DD_GAMMA)
    val lx = Tables.documents(s, d)
      .filter(col("n_chars") > 0)
      .select(col("lang"), col("n_chars").as("x"))
      .groupBy("lang", "x").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val skCum = lx
      .select(col("lang"),
        ceil(log(col("x").cast("double")) / log(g)).cast("int").as("i"),
        col("c"))
      .groupBy("lang", "i").agg(sum(col("c")).as("bc"))
      .withColumn("cum", sum(col("bc")).over(w.orderBy("i")))
    val exCum = lx.withColumn("cum", sum(col("c")).over(w.orderBy("x")))
    val ranks = lx.groupBy("lang").agg(sum(col("c")).as("n"))
      .select(col("lang"), col("n"), explode(typedLit(DD_QS)).as("q"))
      .withColumn("r",
        floor(col("q") * (col("n") - 1).cast("double")).cast("long") + 1)
    val pickSk = ranks.join(skCum, Seq("lang"))
      .filter(col("cum") >= col("r"))
      .groupBy("lang", "q").agg(min(col("i")).as("i"))
    val pickEx = ranks.join(exCum, Seq("lang"))
      .filter(col("cum") >= col("r"))
      .groupBy("lang", "q").agg(min(col("x")).as("exact"))
    ranks.join(pickSk, Seq("lang", "q")).join(pickEx, Seq("lang", "q"))
      .withColumn("est0",
        (lit(2.0) / (lit(1.0) + g)) * exp(col("i").cast("double") * log(g)))
      .select(col("lang"), col("q"), col("n").as("n_docs"),
        col("i").as("bucket"),
        Fns.roundP(col("est0"), 6).as("est"),
        col("exact"),
        Fns.roundP(abs(col("est0") - col("exact").cast("double")) /
          col("exact").cast("double"), 6).as("rel_err"))
      .orderBy("lang", "q")
  }

  /** DDSketch REGISTERS of a positive value column: (key, bucket i) counts
    * with i = ⌈ln x / ln γ⌉ — the mergeable form ([[qDdsketch]]'s first
    * agg, factored for the streaming latency monitor): registers from any
    * partition/micro-batch union-merge by plain SUM, the property that
    * makes the sketch shippable where a sorted sample is not. Rows with
    * value ≤ 0 are outside the sketch's domain and dropped identically
    * everywhere. */
  def ddBuckets(df: DataFrame, key: String, value: String): DataFrame =
    df.filter(col(value) > 0)
      .select(col(key),
        ceil(log(col(value).cast("double")) / log(lit(DD_GAMMA))).cast("int").as("i"))
      .groupBy(key, "i").agg(count(lit(1)).as("bc"))

  /** Quantile report from (possibly merged) DDSketch registers: per key,
    * the [[DD_QS]] estimates 2γ^i/(γ+1) at rank ⌊q·(n−1)⌋+1 via the
    * cumulative bucket walk — [[qDdsketch]]'s pick chain over an arbitrary
    * register frame. All frames are value-domain-bounded. */
  def ddReport(buckets: DataFrame, key: String): DataFrame = {
    val g = lit(DD_GAMMA)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
    val cum = buckets.withColumn("cum", sum(col("bc")).over(w.orderBy("i")))
    val ranks = buckets.groupBy(key).agg(sum(col("bc")).as("n"))
      .select(col(key), col("n"), explode(typedLit(DD_QS)).as("q"))
      .withColumn("r",
        floor(col("q") * (col("n") - 1).cast("double")).cast("long") + 1)
    ranks.join(cum, Seq(key))
      .filter(col("cum") >= col("r"))
      .groupBy(col(key), col("q"))
      .agg(max(col("n")).as("n"), min(col("i")).as("bucket"))
      .select(col(key), col("q"), col("n"),
        col("bucket"),
        graft.functions.Fns.roundP(
          (lit(2.0) / (lit(1.0) + g)) *
            exp(col("bucket").cast("double") * log(g)), 6).as("est"))
  }

  /** One-shot batch twin of the streaming latency monitor: sketch + report
    * over a static frame (StreamingSpec proves stream ≡ batch through it). */
  def ddsketchOf(df: DataFrame, key: String, value: String): DataFrame =
    ddReport(ddBuckets(df, key, value), key)

  val gates: Seq[Gate] = Seq(
    Gate("q_ddsketch", qDdsketch, {
      val g = s"$DD_GAMMA::DOUBLE"
      val qArr = DD_QS.map(q => s"$q::DOUBLE").mkString("[", ", ", "]")
      s"""WITH lx AS (
         |  SELECT lang, n_chars AS x, count(*) AS c FROM documents
         |  WHERE n_chars > 0 GROUP BY 1, 2),
         |sk AS (
         |  SELECT lang, CAST(ceil(ln(CAST(x AS DOUBLE)) / ln($g)) AS INTEGER) AS i,
         |    CAST(sum(c) AS BIGINT) AS bc
         |  FROM lx GROUP BY 1, 2),
         |skcum AS (SELECT lang, i,
         |  CAST(sum(bc) OVER (PARTITION BY lang ORDER BY i) AS BIGINT) AS cum FROM sk),
         |excum AS (SELECT lang, x,
         |  CAST(sum(c) OVER (PARTITION BY lang ORDER BY x) AS BIGINT) AS cum FROM lx),
         |ranks AS (
         |  SELECT lang, n, q,
         |    CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 AS r
         |  FROM (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM lx GROUP BY 1)
         |  CROSS JOIN (SELECT unnest($qArr) AS q)),
         |psk AS (SELECT r.lang, r.q, min(s.i) AS i
         |  FROM ranks r JOIN skcum s ON r.lang = s.lang AND s.cum >= r.r
         |  GROUP BY 1, 2),
         |pex AS (SELECT r.lang, r.q, min(e.x) AS exact
         |  FROM ranks r JOIN excum e ON r.lang = e.lang AND e.cum >= r.r
         |  GROUP BY 1, 2),
         |est AS (
         |  SELECT r.lang, r.q, r.n, psk.i,
         |    (2.0::DOUBLE / (1.0::DOUBLE + $g)) * exp(CAST(psk.i AS DOUBLE) * ln($g)) AS est0,
         |    pex.exact
         |  FROM ranks r JOIN psk ON r.lang = psk.lang AND r.q = psk.q
         |  JOIN pex ON r.lang = pex.lang AND r.q = pex.q)
         |SELECT lang, q, n AS n_docs, i AS bucket,
         |  ${Fns.roundPSql("est0", 6)} AS est,
         |  exact,
         |  ${Fns.roundPSql("abs(est0 - CAST(exact AS DOUBLE)) / CAST(exact AS DOUBLE)", 6)} AS rel_err
         |FROM est ORDER BY lang, q""".stripMargin
    }),
    Gate("q_kmv_distinct", qKmvDistinct,
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_' ||
         |      CAST(CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / $DAY_US) AS BIGINT) AS VARCHAR)), 1, 8) AS BIGINT) AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |      FROM h),
         |ex AS (SELECT event_type, count(*) AS n_distinct_hashes FROM h GROUP BY 1)
         |SELECT r.event_type, ex.n_distinct_hashes,
         |  CASE WHEN r.h > 0
         |    THEN ${Fns.roundPSql(s"${Kmv.EST_NUM} / CAST(r.h AS DOUBLE)", 4)}
         |    ELSE NULL END AS kmv_est
         |FROM r JOIN ex ON r.event_type = ex.event_type
         |WHERE rn = ${Kmv.K} ORDER BY r.event_type""".stripMargin),
    Gate("q_kmv_overlap", qKmvOverlap,
      s"""WITH h AS (
         |  SELECT DISTINCT event_type AS shard,
         |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_' ||
         |      CAST(CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / $DAY_US) AS BIGINT) AS VARCHAR)), 1, 8) AS BIGINT) AS h
         |  FROM events WHERE event_type IN ('${OVERLAP_SHARDS._1}', '${OVERLAP_SHARDS._2}')),
         |ka AS (SELECT h FROM h WHERE shard = '${OVERLAP_SHARDS._1}' ORDER BY h LIMIT ${Kmv.K}),
         |kb AS (SELECT h FROM h WHERE shard = '${OVERLAP_SHARDS._2}' ORDER BY h LIMIT ${Kmv.K}),
         |theta AS (SELECT least((SELECT max(h) FROM ka), (SELECT max(h) FROM kb)) AS t),
         |inter AS (SELECT count(*) AS c FROM ka JOIN kb USING (h)
         |          WHERE h < (SELECT t FROM theta)),
         |un AS (SELECT count(*) AS c FROM (SELECT h FROM ka UNION SELECT h FROM kb) u
         |       WHERE h < (SELECT t FROM theta)),
         |ex AS (SELECT count(*) AS c FROM (
         |         SELECT h FROM h GROUP BY h HAVING count(*) = 2) g)
         |SELECT (SELECT t FROM theta) AS theta,
         |  (SELECT c FROM inter) AS inter_sample,
         |  (SELECT c FROM un) AS union_sample,
         |  ${Fns.roundPSql(
             s"CAST((SELECT c FROM inter) AS DOUBLE) * ${Kmv.HASH_SPACE} / CAST((SELECT t FROM theta) AS DOUBLE)", 4)} AS kmv_inter_est,
         |  CASE WHEN (SELECT c FROM un) > 0
         |    THEN ${Fns.roundPSql(
             "CAST((SELECT c FROM inter) AS DOUBLE) / CAST((SELECT c FROM un) AS DOUBLE)", 4)}
         |    ELSE NULL END AS kmv_jaccard_est,
         |  (SELECT c FROM ex) AS n_overlap_hashes""".stripMargin),
    Gate("q_hll_distinct", qHllDistinct, {
      // identical register math in integer arithmetic; the α·m² and
      // threshold doubles are embedded from the same Scala constants
      // (shortest round-trip repr → identical bits after parse)
      val mask = (1L << HLL_BITS) - 1
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_' ||
         |      CAST(CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / $DAY_US) AS BIGINT) AS VARCHAR)), 1, 8) AS BIGINT) AS h
         |  FROM events),
         |b AS (SELECT event_type, h >> $HLL_BITS AS bucket, h & $mask AS w FROM h),
         |r AS (SELECT event_type, bucket,
         |        max(${HLL_BITS + 1} - length(ltrim(bin(w), '0'))) AS r
         |      FROM b GROUP BY 1, 2),
         |a AS (SELECT event_type, count(*) AS npres,
         |        sum(1.0::DOUBLE / CAST(1::BIGINT << r AS DOUBLE)) AS psum
         |      FROM r GROUP BY 1),
         |ex AS (SELECT event_type, count(*) AS n_distinct_hashes FROM h GROUP BY 1),
         |f AS (SELECT a.event_type, ex.n_distinct_hashes,
         |        CAST($HLL_M - npres AS BIGINT) AS v_zero,
         |        $HLL_ALPHA_M2 / (psum + CAST($HLL_M - npres AS DOUBLE)) AS e_raw
         |      FROM a JOIN ex USING (event_type))
         |SELECT event_type, n_distinct_hashes, v_zero,
         |  ${Fns.roundPSql(
             s"""CASE WHEN e_raw <= $HLL_SMALL AND v_zero > 0
                |    THEN ${HLL_M.toDouble} * ln(${HLL_M.toDouble} / CAST(v_zero AS DOUBLE))
                |    WHEN e_raw > $HLL_LARGE
                |    THEN -${Kmv.HASH_SPACE} * ln(1.0::DOUBLE - e_raw / ${Kmv.HASH_SPACE})
                |    ELSE e_raw END""".stripMargin, 4)} AS hll_est
         |FROM f ORDER BY event_type""".stripMargin
    }),
    Gate("q_cms_topk", qCmsTopk, {
      val toksLower = TextOps.sqlTokensLower
      def bucket(hExpr: String, i: Int) =
        s"(($hExpr * ${CMS_A(i)} + ${CMS_B(i)}) % $CMS_P) % $CMS_W"
      val buildRows = (0 until CMS_D).map(i =>
        s"SELECT $i AS row_i, ${bucket("h", i)} AS bucket FROM h").mkString("\n  UNION ALL ")
      val probeRows = (0 until CMS_D).map(i =>
        s"SELECT w, freq, $i AS row_i, ${bucket("h", i)} AS bucket FROM top").mkString("\n  UNION ALL ")
      s"""WITH t AS (SELECT unnest($toksLower) AS w FROM documents),
         |h AS (SELECT w, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h FROM t),
         |b AS (
         |  $buildRows),
         |cms AS (SELECT row_i, bucket, count(*) AS bsum FROM b GROUP BY 1, 2),
         |ex AS (SELECT w, count(*) AS freq FROM t GROUP BY 1),
         |top AS (SELECT w, freq, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h
         |        FROM ex ORDER BY freq DESC, w LIMIT $CMS_TOP),
         |p AS (
         |  $probeRows)
         |SELECT p.w AS term, p.freq, CAST(min(c.bsum) AS BIGINT) AS cms_est
         |FROM p JOIN cms c USING (row_i, bucket)
         |GROUP BY 1, 2 ORDER BY p.freq DESC, term""".stripMargin
    }),
  )
}
