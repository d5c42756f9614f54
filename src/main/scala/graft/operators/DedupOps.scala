package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline surface
  * (SURVEY.md §2.5 north-star; net-new relative to the reference, which has
  * no dedup — its nearest kin is the HNSW near-neighbor machinery,
  * /root/reference/src/operand/query/HNSW.cpp).
  *
  * Scale design:
  *  - Signatures (minhash bands, simhash) are computed ROW-LOCALLY with
  *    column algebra — zero shuffle, one scan over the corpus.
  *  - Candidate generation shuffles only (band_idx, band_key, doc_id)
  *    tuples — `NUM_BANDS` small rows per document, never the text — and the
  *    LSH band join touches only colliding buckets, never all pairs.
  *  - Exact-verify joins shingle sets for candidate pairs only. At 100 TB
  *    the candidate set is ~O(dups), so the expensive exact Jaccard runs on
  *    a vanishing fraction of the corpus.
  * All hashing is the md5-based [[Fns.hash32]] so every stage is
  * reproducible in the driver's DuckDB oracle.
  */
object DedupOps {
  /** Shingle size (words per shingle). */
  val K = 3
  /** Number of minhash functions = NUM_BANDS * ROWS_PER_BAND. */
  val NUM_HASHES = 8
  val NUM_BANDS = 4
  val ROWS_PER_BAND = 2
  /** Exact-Jaccard acceptance threshold for verified near-dup pairs. */
  val THRESHOLD = 0.8

  /** Universal-hash family over the md5-derived base hash: the h-th minhash
    * permutation is x -> (A(h)*x + B(h)) mod P. One md5 per shingle total —
    * the 8 permutations are int64 arithmetic, not 8 more digests (8x md5
    * made the query 5 s for 500 docs; this form is sub-second). P is the
    * Mersenne prime 2^31-1 so A*x+B stays well inside int64. */
  val P = 2147483647L
  val A = Seq(1103515245L, 1140671485L, 1664525L, 22695477L,
              69069L, 1103527590L, 214013L, 134775813L)
  val B = Seq(12345L, 67890L, 1013904223L, 1L,
              362437L, 54321L, 2531011L, 7L)

  /** doc_id + distinct K-word shingle set, staged so split/shingling run
    * once per row (see Fns.shinglesOfTokens perf note). */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    shingleSetsOf(Tables.documents(s, d))

  private def shingleSetsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), Fns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(Fns.shinglesOfTokens(col("toks"), col("text"), K)).as("sh"))

  /** doc_id, shingle set, and the NUM_BANDS LSH band keys (each key is the
    * comma-joined minhash row of that band) over an arbitrary
    * (doc_id, text) frame — shared by the batch gates and the streaming
    * fuzzy ingest. Row-local: shingles are hashed once into `hv`, then
    * each band key is arithmetic over `hv`. */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame = {
    def minhash(h: Int): Column =
      array_min(transform(col("hv"), x => (x * lit(A(h)) + lit(B(h))) % lit(P)))
    val bands = (0 until NUM_BANDS).map { b =>
      val rows = (0 until ROWS_PER_BAND).map(r => minhash(b * ROWS_PER_BAND + r))
      concat_ws(",", rows: _*)
    }
    shingleSetsOf(docs)
      .select(col("doc_id"), col("sh"),
        transform(col("sh"), g => Fns.hash32(g) % lit(P)).as("hv"))
      .select(col("doc_id"), col("sh"), array(bands: _*).as("bands"))
  }

  private def signatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(Tables.documents(s, d))

  /** UNVERIFIED banded candidate pairs between two signature frames —
    * the raw LSH index output before any Jaccard check. Shared by
    * [[nearPairs]] and the [[qLshQuality]] eval so the measured index is
    * exactly the one the dedup gates run. */
  private[graft] def bandCandidates(sigA: DataFrame, sigB: DataFrame,
      requireLess: Boolean): DataFrame = {
    def buckets(sig: DataFrame, side: String): DataFrame = sig
      .select(col("doc_id"), posexplode_outer(col("bands")))
      .select(col("doc_id").as(s"doc_$side"),
        col("pos").as(s"band_$side"), col("col").as(s"key_$side"))
    val cond = col("band_a") === col("band_b") && col("key_a") === col("key_b") &&
      (if (requireLess) col("doc_a") < col("doc_b") else col("doc_a") =!= col("doc_b"))
    buckets(sigA, "a").join(buckets(sigB, "b"), cond)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Verified near-dup pairs BETWEEN two signature frames (each with
    * columns doc_id, sh, bands): banded bucket equi-join for candidates —
    * never all-pairs — then exact-Jaccard verify at [[THRESHOLD]].
    * `requireLess` restricts to doc_a < doc_b (the self-join form); with
    * it off, every (a, b) bucket collision is a candidate (the
    * store-vs-batch form, where the id spaces are disjoint). */
  private[graft] def nearPairs(sigA: DataFrame, sigB: DataFrame,
      requireLess: Boolean, threshold: Double = THRESHOLD): DataFrame = {
    val pairs = bandCandidates(sigA, sigB, requireLess)
    pairs
      .join(sigA.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sigB.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jac",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), Fns.roundP(col("jac"), 4).as("jaccard"))
  }

  /** Exact dedup — group by content hash, keep the smallest doc_id.
    * The shuffle key is md5(normalized text), not the text itself, so the
    * exchange moves 32-byte keys even when documents are megabytes. */
  val qDedupExact: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(lower(trim(col("text")))).as("content_key"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** MinHash-LSH banded near-dup detection: row-local signatures → band
    * bucket self-join for candidates → exact Jaccard verify at THRESHOLD.
    * Returns verified pairs (doc_a < doc_b) with their Jaccard similarity.
    */
  private def minhashVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    // The signature table feeds three plan branches (bucket explode + both
    // verify joins); Spark has no cross-branch CSE, so an unpersisted sig
    // is recomputed — and the corpus rescanned — three times. Persist it:
    // at scale this is the classic cache-the-signatures pattern (memory
    // with disk spill, serialized columnar).
    // (posexplode_OUTER inside nearPairs, deliberately: with a plain
    // posexplode Catalyst's InferFiltersFromGenerate injects
    // `size(bands) > 0` and predicate pushdown re-inlines the whole
    // minhash expression tree into that Filter below the staging
    // projections — recomputing every signature per row (measured 20x
    // slowdown). `bands` is a fixed-length array so outer semantics are
    // identical.)
    val sig = signatures(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    nearPairs(sig, sig, requireLess = true)
  }

  val qMinhashDedup: Q = (s, d) =>
    minhashVerifiedPairs(s, d).orderBy("doc_a", "doc_b")

  /** Doc-level fuzzy-decontamination threshold — deliberately below the
    * near-dup [[THRESHOLD]]: a training doc only 50%-similar to a
    * benchmark doc is already contamination (GPT-3 appendix C / The Pile
    * use fuzzy 13-gram overlap for exactly this reason; the exact-gram
    * gates miss paraphrased leakage). */
  val FUZZY_T = 0.5

  /** Bench-split modulus for [[qFuzzyDecontaminate]] — deliberately NOT
    * CorpusOps.BENCH_MOD: the synthetic corpus's near-dup pairs never
    * straddle the %41 split, which would leave the flag path of this
    * gate permanently un-exercised. %7 puts 9 verified pairs across the
    * bench/probe boundary at sf0.01, so the gate pins real hits.
    * (`final`: constant-folded for the oracle string.) */
  final val FUZZY_MOD = 7L

  /** Fuzzy decontamination — MinHash-LSH near-dup matching BETWEEN the
    * benchmark split and the training pool (the doc-level companion to
    * CorpusOps.qDecontaminate's exact n-gram collision): every training
    * doc whose verified Jaccard against ANY bench doc reaches [[FUZZY_T]]
    * is flagged, with the match count and best score pinned. Candidates
    * come from the same banded bucket join as the dedup gates — band keys
    * collide, texts never move — and the banding is tuned for 0.8, so at
    * 0.5 recall is the standard S-curve tradeoff; both engines share the
    * candidate generation, so the gate pins the DEPLOYED behavior, not an
    * idealized all-pairs one (which would be a corpus×bench cartesian).
    *
    * Scale shape: identical to the dedup pipeline — row-local signatures
    * (persisted once, feeding bench/probe/verify branches), a bucket
    * equi-join whose bench side is a fixed-size eval suite, exact verify
    * on colliding candidates only, then one doc-keyed agg and a join
    * back to the probe stream. Nothing scales with corpus × bench. */
  val qFuzzyDecontaminate: Q = (s, d) => {
    val sig = signatures(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bench = sig.filter(col("doc_id") % FUZZY_MOD === 0)
    val probe = sig.filter(col("doc_id") % FUZZY_MOD =!= 0)
    val hits = nearPairs(bench, probe, requireLess = false, threshold = FUZZY_T)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(count(lit(1)).as("n_match"), max(col("jaccard")).as("max_jac"))
    Tables.documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") % FUZZY_MOD =!= 0)
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_match", coalesce(col("n_match"), lit(0L)))
      .select(col("doc_id"), col("n_match"),
        coalesce(col("max_jac"), lit(0.0)).as("max_jac"),
        (col("n_match") >= 1).as("fuzzy_contaminated"))
      .orderBy("doc_id")
  }

  /** Near-dup CLUSTER ASSIGNMENT — the stage an actual dedup pipeline
    * ships: verified near-dup pairs ([[minhashVerifiedPairs]]) are edges of
    * an undirected graph; each document gets `cluster_id` = the smallest
    * doc_id in its connected component, and `keep` marks the one canonical
    * survivor per cluster (singletons keep themselves). Pairs alone
    * under-delete: with A~B and B~C but A!~C, pairwise drop-the-larger
    * keeps A and C even though they are transitive dups of B.
    *
    * Scale shape: the min-label propagation loop runs ONLY over documents
    * that appear in some pair (O(dups), a vanishing fraction of a 100 TB
    * corpus), one hash-shuffle per superstep with map-side min combine
    * ([[minLabelComponents]]). The full corpus joins in once at the end for
    * the singleton fill. Components are near-dup clusters with tiny
    * diameter, so the loop converges in a few supersteps; a 50-round cap
    * guards pathological chains. */
  val qDedupClusters: Q = (s, d) => {
    val pairs = minhashVerifiedPairs(s, d).select("doc_a", "doc_b")
    // both directions in ONE pass over the pair pipeline (a two-branch
    // union would run the LSH candidate+verify joins twice — the
    // no-cross-branch-CSE trap), then persisted for the loop
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = minLabelComponents(edges)
    val out = Tables.documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col("doc_id"))
      .orderBy("doc_id")
    edges.unpersist() // labels are a cut leaf; the output plan no longer reads edges
    out
  }

  /** Min-label propagation to connected components, shared by
    * [[qDedupClusters]] and VectorOps.qSemanticDedup: `edges` must already
    * hold BOTH directions of each undirected pair (and be persisted by the
    * caller — it is re-joined every superstep). Returns (doc_id, cluster)
    * for every vertex touched by an edge, cluster = min vertex id in the
    * component. One hash-shuffle per superstep with map-side min combine;
    * components are near-dup clusters with tiny diameter, so the loop
    * converges in a few supersteps — a 50-round cap guards pathological
    * chains, and non-convergence throws rather than ship a split
    * component (a truncated propagation would keep transitive dups). */
  private[operators] def minLabelComponents(edges: DataFrame): DataFrame =
    Superstep.fixpoint(
        edges.select(col("src").as("doc_id")).distinct()
          .select(col("doc_id"), col("doc_id").as("cluster"), col("doc_id").as("old")),
        50, "cluster propagation") { r =>
      val nbrMin = edges
        .join(r.last.select(col("doc_id").as("src"), col("cluster").as("nc")), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("nc")).as("nmin"))
      r.last
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          col("cluster").as("old"))
    }(_.last.filter(col("cluster") =!= col("old")).isEmpty)
      .last.select("doc_id", "cluster")

  /** Deterministic stratified sampling — the "mix corpora at per-source
    * rates" knob of a training pipeline. The keep decision is pure column
    * algebra on [[Fns.hash32]] of a salted doc_id (NOT rand(): the sample
    * must be reproducible run-to-run, engine-to-engine, and at any
    * partitioning), so at 100 TB this is a zero-shuffle scan that Catalyst
    * can push behind column pruning. Per-source rates here derive from the
    * source's trailing number (even 30%, odd 70%) standing in for a real
    * pipeline's rate table, which would broadcast-join in the same shape. */
  val qStratifiedSample: Q = (s, d) => {
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
    val permille = when(srcNum % 2 === 0, lit(300)).otherwise(lit(700))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .filter(pmod(Fns.hash32(concat(lit("smp_"), col("doc_id").cast("string"))),
        lit(1000)) < permille)
      .orderBy("doc_id")
  }

  /** Exact sample size for [[qUniformK]]. */
  val UNIFORM_K = 100

  /** EXACT-K uniform sample — the "give me exactly K documents" op beside
    * [[qStratifiedSample]]'s rate-based keep test: rank every doc by a
    * deterministic content-independent hash of its id and keep the K
    * smallest. Reproducible at any partitioning, and the plan is a
    * TakeOrderedAndProject over the hash rank — per-partition heaps and a
    * K-row driver merge, never a global sort, so the selection cost at
    * 100 TB is one scan. The rank rides along in the output so the gate
    * pins the ORDER, not just the membership. */
  val qUniformK: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        Fns.hash32(concat(lit("uni_"), col("doc_id").cast("string"))).as("rank_h"))
      .orderBy(col("rank_h"), col("doc_id"))
      .limit(UNIFORM_K)

  /** Exact sample size for [[qWeightedSample]]. */
  val WEIGHTED_K = 100

  /** EXACT-K weighted sample without replacement (Efraimidis–Spirakis
    * 2006) — inclusion probability ∝ token count, the "sample by token
    * budget, not by document count" selection a training mix needs when
    * document lengths span decades. Each doc draws its deterministic
    * uniform u = (hash32+0.5)/2³² and is ranked by the ES key u^(1/w);
    * the top K keys are the sample. The implementation ranks by the
    * order-equivalent ln(u)/w (descending) so the only transcendental is
    * `ln`, which the engines' libm agree on bit-for-bit (PERF.md exp/ln
    * parity note) — `pow` with a fractional exponent would not be safe.
    * Zero-token docs are excluded (their inclusion weight is 0 and the
    * key is undefined).
    *
    * Scale posture: same as [[qUniformK]] — a zero-shuffle scan into
    * TakeOrderedAndProject (per-partition K-heaps, K-row driver merge);
    * the tokenize-and-count weight derivation is row-local, so at 100 TB
    * the whole selection is one pass over the corpus. */
  val qWeightedSample: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(Fns.tokens(col("text"))).cast("long").as("w"),
        ((Fns.hash32(concat(lit("wes_"), col("doc_id").cast("string")))
          .cast("double") + lit(0.5)) / lit(graft.functions.Kmv.HASH_SPACE)).as("u"))
      .filter(col("w") > 0)
      .withColumn("es_key", log(col("u")) / col("w").cast("double"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(WEIGHTED_K)
      .select(col("doc_id"), col("source"), col("w"),
        Fns.roundP(col("es_key"), 6).as("es_key"))

  /** Exact sample size for [[qPrioritySample]]. */
  val PRI_K = 100

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007) — the
    * ESTIMATOR-carrying cousin of [[qWeightedSample]]: each doc draws
    * priority w/u (u the deterministic hash-uniform), the top-K
    * priorities are the sample, τ is the (K+1)-th priority, and every
    * sampled item carries the Horvitz–Thompson weight ŵ = max(w, τ) —
    * so Σŵ over ANY sampled subset is an unbiased estimate of that
    * subset's total weight. That subset-sum property is what a corpus
    * audit needs ("how many bytes does source X contribute?" answered
    * from the sample alone), and ES sampling does not provide it.
    * Weight = n_chars (byte budget), deliberately distinct from the ES
    * gate's token budget.
    *
    * Scale posture: one zero-shuffle scan into TakeOrderedAndProject
    * (per-partition (K+1)-heaps, a (K+1)-row driver merge); the 101-row
    * top frame persists for its two bounded consumers (τ agg + report) —
    * never a global sort, never a second corpus scan. Exactness: priority
    * and ŵ are double ops on integer-valued inputs written as identical
    * trees in both engines; comparisons/top-K order on the raw doubles. */
  val qPrioritySample: Q = (s, d) => {
    val top = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        ((Fns.hash32(concat(lit("pri_"), col("doc_id").cast("string")))
          .cast("double") + lit(0.5)) / lit(graft.functions.Kmv.HASH_SPACE)).as("u"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        (col("n_chars").cast("double") / col("u")).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(PRI_K + 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tau = top.agg(min(col("priority")).as("tau"))
    top.crossJoin(broadcast(tau))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("priority").desc, col("doc_id"))))
      .filter(col("rk") <= PRI_K)
      .select(col("doc_id"), col("source"), col("n_chars"),
        Fns.roundP(col("priority"), 4).as("priority"),
        Fns.roundP(greatest(col("n_chars").cast("double"), col("tau")), 4)
          .as("est_w"))
      .orderBy("doc_id")
  }

  /** Corpus-mix budget: keep ~MIX_NUM/MIX_DEN of the MEAN per-source token
    * total from every source. */
  val MIX_NUM = 6L
  val MIX_DEN = 10L
  /** Hash sample space for the mix's keep test. */
  val SAMPLE_SPACE = 100000L

  /** Token-budget corpus mixing — the rate-TABLE form of
    * [[qStratifiedSample]] a production pipeline runs: per-source sampling
    * rates are COMPUTED from the data (rate_src = budget / tokens_src with
    * budget = (MIX_NUM/MIX_DEN) × mean source token total), broadcast back
    * onto the corpus, and applied as a deterministic hash test. The keep
    * decision is INTEGER-exact — `h·n_src·t_src·MIX_DEN <
    * t_total·MIX_NUM·SAMPLE_SPACE` is the cross-multiplied form of
    * h/SPACE < rate, so no float rounding can diverge between engines,
    * and the rate caps at 1 naturally (if the rhs exceeds every possible
    * h, the whole source is kept). Output is the per-source mix report
    * (docs and tokens surviving the budget).
    *
    * Scale shape: one partial+final agg for the rate table (n_sources
    * rows, broadcast), one scan with a pushed-down projection for the
    * filter, one final agg. All sums are exact integer token counts —
    * order-independent. Overflow: both cross-multiplied sides are
    * evaluated in decimal(38,0) ([[mixKeepTest]]) — int64 would wrap
    * silently past ~10⁹ tokens/source at these constants, decimal keeps
    * the compare exact to 10³⁸ (≫ any corpus; boundary case pinned in
    * BoundaryMarginSpec). */
  val qCorpusMix: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(Fns.tokens(col("text"))).cast("long").as("n_toks"))
    // n_sources rows, consumed by BOTH the rate join and the totals agg —
    // no cross-branch CSE, so unpersisted it would re-scan the corpus
    val perSrc = toks.groupBy("source").agg(sum("n_toks").as("t_src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = perSrc.agg(sum("t_src").as("t_total"), count(lit(1)).as("n_src"))
    toks.join(broadcast(perSrc), "source")
      .crossJoin(broadcast(totals))
      .filter(mixKeepTest(
        pmod(Fns.hash32(concat(lit("mix_"), col("doc_id").cast("string"))),
          lit(SAMPLE_SPACE)),
        col("n_src"), col("t_src"), col("t_total")))
      .groupBy("source")
      .agg(max("t_src").as("t_src"), count(lit(1)).as("n_kept"),
        sum("n_toks").as("toks_kept"))
      .orderBy("source")
  }

  /** [[qCorpusMix]]'s keep decision, `h·n_src·t_src·MIX_DEN <
    * t_total·MIX_NUM·SAMPLE_SPACE`, with every operand promoted to
    * decimal(38,0) BEFORE the multiplies: the products are exact to 10³⁸
    * on both engines, where the int64 form wraps silently (Spark
    * non-ANSI) once n_src·t_src·MIX_DEN passes 2⁶³/h ≈ 10⁹ tokens/source.
    * Factored out so the overflow boundary is unit-testable. */
  private[graft] def mixKeepTest(h: Column, nSrc: Column, tSrc: Column,
      tTotal: Column): Column =
    h.cast("decimal(38,0)") * nSrc * tSrc * lit(MIX_DEN) <
      tTotal.cast("decimal(38,0)") * lit(MIX_NUM) * lit(SAMPLE_SPACE)

  /** Temperature-sampling exponent is FIXED at α = 1/2: IEEE-754 sqrt is
    * correctly rounded on both engines where a general pow() is not, so
    * the rate table is bit-reproducible cross-engine. Published range is
    * α ∈ [0.2, 0.7] (T5/mC4 use 0.3–0.5); 0.5 sits inside it. */
  val TEMP_BETA_NUM = 1L
  val TEMP_BETA_DEN = 2L

  /** Temperature-based source sampling — the multilingual-mix upsampling
    * rule of T5/mC4 (Raffel et al. 2020 §3.4.3) and XLM-R: sample source
    * s with probability ∝ (t_s/T)^α instead of its natural share, so
    * low-resource sources are boosted and head sources damped. With a
    * token budget of β·T (β = [[TEMP_BETA_NUM]]/[[TEMP_BETA_DEN]]), the
    * per-source keep rate is r_s = min(1, β·T·q_s/t_s) where
    * q_s = √t_s / Σ√t. The only order-sensitive float step — the Σ√t
    * sum — is decimal-summed, sqrt is correctly rounded by IEEE on both
    * engines, and the keep test compares the doc hash against
    * floor(r_s·SPACE) — an integer — so the gate is exact end-to-end.
    *
    * Scale shape: identical to [[qCorpusMix]] — one corpus scan for
    * per-source token totals (n_sources rows), a 1-row Σ√t broadcast, the
    * rate table broadcast back onto the doc stream, deterministic hash
    * keep test per row, one final keyed agg. Nothing scales beyond the
    * scan; re-running on a grown corpus re-derives rates from the data. */
  val qTemperatureSample: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(Fns.tokens(col("text"))).cast("long").as("n_toks"))
    val perSrc = toks.groupBy("source").agg(sum("n_toks").as("t_src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = perSrc.agg(sum("t_src").as("t_total"),
      sum(sqrt(col("t_src").cast("double")).cast("decimal(28,12)"))
        .cast("double").as("sq_sum"))
    val rate = least(lit(1.0), Fns.roundP(
      (lit(TEMP_BETA_NUM.toDouble) / lit(TEMP_BETA_DEN.toDouble)) *
        col("t_total").cast("double") *
        (sqrt(col("t_src").cast("double")) / col("sq_sum")) /
        col("t_src").cast("double"), 9))
    toks
      .join(broadcast(perSrc), "source")
      .crossJoin(broadcast(tot))
      .withColumn("rate", rate)
      .filter(pmod(Fns.hash32(concat(lit("tmp_"), col("doc_id").cast("string"))),
          lit(SAMPLE_SPACE)) < floor(col("rate") * SAMPLE_SPACE))
      .groupBy("source")
      .agg(max("t_src").as("t_src"), max("rate").as("rate"),
        count(lit(1)).as("n_kept"), sum("n_toks").as("toks_kept"))
      .orderBy("source")
  }

  /** Exact-Jaccard threshold for the inverted-index path — the rational
    * 4/5, so the prefix/positional pruning bounds below are EXACT integer
    * arithmetic (no float rounding can diverge between engines). */
  val JAC_T = 0.8

  /** n-gram (K-word shingle) exact-Jaccard near-dup pairs via PREFIX
    * FILTERING (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao
    * et al. WWW'08) — the deterministic counterpart to [[qMinhashDedup]]'s
    * probabilistic banding, with EXACT recall: sort each document's
    * shingles by a global canonical order (document frequency asc, shingle
    * asc — rarest first), index only the first |x| − ⌈t·|x|⌉ + 1 of them;
    * any pair with J ≥ t provably shares a prefix shingle, and its first
    * shared shingle passes the positional bound
    * 9·(1 + min(|x|−i, |y|−j)) ≥ 4·(|x|+|y|)  (that is: the overlap upper
    * bound from collision positions must reach ⌈(t/(1+t))·(|x|+|y|)⌉).
    * Exact Jaccard verifies the surviving candidates only, so the oracle
    * needs no candidate-set parity — both engines' candidate sets are
    * supersets of the true pairs and the verify equalizes them.
    *
    * Scale shape: df count = partial+final agg on the shingle; ranking =
    * one window shuffle keyed by doc_id (partition size = one doc's
    * shingle count); candidate join = co-hash join on the shingle over
    * ~20% of postings, rarest-first ordering keeps hot shingles OUT of
    * prefixes so no posting list explodes (measured 436k → 12.8k
    * candidates at sf0.1 for 256 true pairs). */
  val qJaccardPairs: Q = (s, d) =>
    jaccardPairsCore(s, d).orderBy("doc_a", "doc_b")

  /** The PPJoin chain WITHOUT the reporting sort — consumed by
    * [[qLshQuality]]'s truth aggregates, where an orderBy on top of the
    * expensive uncached chain would execute it twice (RangePartitioning
    * samples the child — the measured q_entity_match trap, CLAUDE.md). */
  private def jaccardPairsCore(s: SparkSession, d: String): DataFrame = {
    val sh = shingleSets(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posting = sh.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("g"))
    val dfreq = posting.groupBy(col("g")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("c"), col("g"))
    // persisted (r16, guide §2.4): prefix feeds BOTH sides of the PPJoin
    // self-join — without the persist the posting⋈dfreq + window chain
    // executed twice. Prefix-filtered postings are a small fraction of
    // the shingle volume.
    val prefix = posting.join(dfreq, "g")
      .withColumn("rn", row_number().over(w))
      // prefix length |x| - ceil(t|x|) + 1 with ceil(4sz/5) = (4sz+4) div 5
      .filter(col("rn") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("g"), col("rn"), col("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = prefix.as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          lit(9) * (lit(1) + least(col("a.sz") - col("a.rn"),
                                   col("b.sz") - col("b.rn"))) >=
            lit(4) * (col("a.sz") + col("b.sz")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jac",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jac") >= JAC_T)
      .select(col("doc_a"), col("doc_b"), Fns.roundP(col("jac"), 4).as("jaccard"))
  }

  /** LSH INDEX QUALITY EVAL — recall and precision of the minhash
    * banding against exact ground truth, pinned as data (the q_ann_recall
    * pattern for the OTHER approximate index the engine ships): truth =
    * [[qJaccardPairs]]' exact-recall PPJoin pairs at the same threshold
    * and shingle space; candidates = [[bandCandidates]], the UNVERIFIED
    * bucket collisions the dedup gates feed to their verify step. Recall
    * is the (1−(1−s^r)^b) banding guarantee made measurable — a
    * NUM_BANDS/ROWS_PER_BAND retune shows up as a number, not a silent
    * dedup miss; precision is the verify stage's workload efficiency
    * (how many candidate Jaccard computations are spent per true pair).
    *
    * Scale posture: both inputs are the probed production dataflows
    * (banded self-join; prefix-filtered PPJoin); the eval itself adds
    * two k-row joins and three 1-row aggregates. */
  val qLshQuality: Q = (s, d) => {
    val sig = signatures(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandCandidates(sig, sig, requireLess = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = jaccardPairsCore(s, d).select("doc_a", "doc_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nHit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nTrue.crossJoin(nCand).crossJoin(nHit)
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") > 0,
          Fns.roundP(col("n_hit").cast("double") / col("n_true").cast("double"), 4))
          .as("recall"),
        when(col("n_cand") > 0,
          Fns.roundP(col("n_hit").cast("double") / col("n_cand").cast("double"), 4))
          .as("precision"))
  }

  /** SimHash document signature (16-bit): for each bit, sum +1/-1 over the
    * distinct-token hash32s and keep the sign. Near-dup docs land within a
    * small Hamming distance. Entirely row-local column algebra. */
  val qSimhash: Q = (s, d) => {
    val simhash = (0 until 16).map { b =>
      val vote = aggregate(col("hs"), lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    Tables.documents(s, d)
      .select(col("doc_id"), Fns.tokens(col("text")).as("toks0"))
      .select(col("doc_id"), array_distinct(col("toks0")).as("toks"))
      .select(col("doc_id"), transform(col("toks"), t => Fns.hash32(t)).as("hs"))
      .select(col("doc_id"), simhash.as("simhash"))
      .orderBy("doc_id")
  }

  /** Hash-split boundaries (percent of the hash space): < TRAIN_PCT →
    * train, < VALID_PCT → valid, rest → test. */
  val TRAIN_PCT = 80L
  val VALID_PCT = 90L

  /** Deterministic train/valid/test split report — the assignment step
    * every training run needs: split membership is a pure function of the
    * doc id (`hash32('spl_'||id) mod 100` against fixed boundaries), so it
    * is stable across reruns, re-partitions, and incremental corpus
    * growth (a doc never migrates between splits when new data lands —
    * the property a random()-based split lacks). Output is the per-source
    * × split audit table (docs + char volume).
    *
    * Scale shape: one scan with a 2-column pushed projection, one
    * partial+final agg keyed by (source, split) — n_sources×3 rows move.
    * No shuffle of document rows at any width. */
  /** Split assignment as a column — shared by [[qHashSplit]] and the
    * held-out LM evaluation (CorpusOps.qBackoffLm trains on 'train',
    * scores 'valid'). */
  private[graft] def splitOf(docId: Column): Column = {
    val h = pmod(Fns.hash32(concat(lit("spl_"), docId.cast("string"))), lit(100L))
    when(h < TRAIN_PCT, lit("train"))
      .when(h < VALID_PCT, lit("valid"))
      .otherwise(lit("test"))
  }

  /** DuckDB twin of [[splitOf]] over a doc_id expression. */
  private[operators] def sqlSplitOf(docId: String): String =
    s"""CASE WHEN CAST('0x' || substr(md5('spl_' || CAST($docId AS VARCHAR)), 1, 8) AS BIGINT) % 100 < $TRAIN_PCT
       |       THEN 'train'
       |     WHEN CAST('0x' || substr(md5('spl_' || CAST($docId AS VARCHAR)), 1, 8) AS BIGINT) % 100 < $VALID_PCT
       |       THEN 'valid'
       |     ELSE 'test' END""".stripMargin

  val qHashSplit: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"), col("n_chars"), splitOf(col("doc_id")).as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("tot_chars"))
      .orderBy("source", "split")
  }

  /** Substring-duplication window width (chars) and stride. */
  val SUB_W = 40
  val SUB_S = 10

  /** Substring-level duplication profile — the signal behind
    * suffix-array dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022), rendered distributed: slide a
    * [[SUB_W]]-char window at stride [[SUB_S]] over every document, find
    * windows that recur in ≥2 DISTINCT documents, and report per document
    * how much of it is covered by cross-document duplicated spans
    * (`n_dup / n_windows`). A pipeline thresholds `dup_frac` to drop or
    * trim boilerplate-heavy docs.
    *
    * Scale shape: window extraction is row-local array algebra; the only
    * shuffles are keyed by the 40-byte window string (the distributed
    * stand-in for a suffix array — group-by beats sorting the corpus) —
    * one agg to find recurring windows, one join back to tag each doc's
    * windows. The exploded window stage feeds both consumers, so it is
    * persisted (no cross-branch CSE). The dup-window set is corpus-wide
    * boilerplate — orders of magnitude smaller than the corpus — and the
    * join key is the window itself, co-partitioned on both sides. For
    * W ≫ 40, hash windows to a fixed digest before the shuffle. */
  val qSubstringDup: Q = (s, d) => {
    val wins = Tables.documents(s, d)
      .filter(col("n_chars") >= SUB_W)
      .select(col("doc_id"), col("text"),
        floor((col("n_chars") - lit(SUB_W)) / lit(SUB_S)).cast("int").as("nw1"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("nw1")),
          i => col("text").substr(i * SUB_S + 1, lit(SUB_W)))).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = wins.groupBy("w")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("w"), lit(1).as("is_dup"))
    wins.join(dup, Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("is_dup"), lit(0))).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        Fns.roundP(col("n_dup").cast("double") / col("n_windows"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Minimum duplicated-run length (chars) for [[qSuffixDup]] — tied to
    * [[SUB_W]] so the exact gate and the stride-window approximation report
    * the same duplication grain and their `dup_frac` columns are directly
    * comparable. */
  val SUF_K = SUB_W

  /** EXACT substring-level duplication — the alignment-independent
    * guarantee [[qSubstringDup]]'s stride-[[SUB_S]] windows cannot give
    * (a duplicated span offset <[[SUB_S]] chars from a window boundary is
    * missed there). This is the Lee et al. 2022 suffix-array signal
    * rendered distributed as stride-1 fingerprinting: a character position
    * p of doc A lies inside a cross-document duplicated span of length
    * ≥[[SUF_K]] IFF some [[SUF_K]]-gram window [j, j+K) covering p also
    * occurs in another document — every shared run of length L ≥ K
    * contains, for each of its positions, a fully-interior K-gram, and any
    * shared K-gram IS a length-K shared run. So the union of the [j, j+K)
    * intervals of cross-doc-recurring K-grams is EXACTLY the covered set,
    * regardless of where the span starts (SuffixDupSpec proves this against
    * a from-scratch brute-force mirror and at deliberately stride-misaligned
    * offsets). Per doc: maximal merged spans, covered chars, dup fraction.
    *
    * Grams travel as 128-bit md5 fingerprints, never text (collision
    * probability ~n²/2^129 — at 10^12 grams still <10^-14; a paranoid
    * verify would join raw grams back on the flagged spans only). Recurring
    * grams need only min≠max of doc_id — one codegen hash agg, no
    * countDistinct Expand. Islands merge with one per-doc sort window over
    * the HIT grams only (post-semi-join, ~O(dups)), the classic
    * gaps-and-islands rendering, so the heavy stream is never globally
    * sorted. Row flow is linear in corpus size: fingerprint extraction is
    * row-local, the two shuffles are keyed by digest (agg + semi-join) and
    * the island window is keyed by doc_id over hits only. */
  val qSuffixDup: Q = (s, d) =>
    // persist before the reporting sort: RangePartitioning samples its
    // child, so an uncached chain under a global orderBy runs twice
    // (the measured q_entity_match trap, CLAUDE.md)
    suffixDupOf(Tables.documents(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy("doc_id")

  /** The exact-substring-dup chain over an arbitrary (doc_id, text,
    * n_chars) frame — factored so SuffixDupSpec can drive constructed
    * corpora with planted spans at arbitrary offsets. */
  private[graft] def suffixDupOf(docs: DataFrame): DataFrame = {
    val eligible = docs.filter(col("n_chars") >= SUF_K)
    // explode the cheap INT sequence, hash after: a hash-inside-a-transform
    // would run interpreted per element (HOFs have no codegen), while here
    // the per-gram digest is an ordinary projected expression inside
    // whole-stage codegen. Inner posexplode keeps the Generate in codegen
    // too (outer drops out, CLAUDE.md); InferFiltersFromGenerate's cloned
    // size(sequence)>0 filter costs one int-array alloc per ROW — noise
    // next to the per-ELEMENT work it would clone under the transform form.
    // The digest is xxhash64 (8-byte long), NOT an md5 hex string: the
    // gram stream is the biggest frame in the library (83 M+ rows at
    // sf10) and it both persists and shuffles — 20-byte rows instead of
    // ~60, and no per-gram md5+hex CPU (the q_bleu digest-key precedent;
    // measured 252 s → see PERF.md at sf10). The oracle groups the raw
    // md5 text digest — identical dup sets modulo a 64-bit collision
    // (~1.9e-6 at the sf1 sweep's 8.3 M grams), verified hash-exact at
    // every oracle-checked SF.
    val grams = eligible
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0), col("n_chars") - lit(SUF_K))))
      .select(col("doc_id"), col("pos").as("j"),
        xxhash64(col("text").substr(col("pos") + lit(1), lit(SUF_K))).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cross-doc recurrence without a countDistinct Expand: min ≠ max doc_id
    val dup = grams.groupBy("h")
      .agg(min("doc_id").as("d1"), max("doc_id").as("d2"))
      .filter(col("d1") =!= col("d2"))
      .select("h")
    // gaps-and-islands over the duplicated gram positions: a new maximal
    // span starts when this gram's interval [j, j+K) is disjoint from and
    // non-adjacent to everything before it (stride-1 ⇒ positions sorted
    // ascending ⇒ running max end = lag(j) + K)
    val w = Window.partitionBy("doc_id").orderBy("j")
    val spans = grams.join(dup, Seq("h"), "left_semi")
      .withColumn("nw",
        when(col("j") - coalesce(lag("j", 1).over(w), lit(-SUF_K - 1)) > SUF_K,
          lit(1)).otherwise(lit(0)))
      .withColumn("isl", sum("nw").over(w))
      .groupBy("doc_id", "isl")
      .agg((max("j") - min("j") + lit(SUF_K)).as("len"))
    val perDoc = spans.groupBy("doc_id")
      .agg(sum("len").as("dup_chars"), count(lit(1)).as("n_spans"))
    eligible.select(col("doc_id"), col("n_chars"),
        (col("n_chars") - lit(SUF_K) + lit(1)).cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("dup_chars", "n_spans"))
      .select(col("doc_id"), col("n_grams"), col("n_spans"), col("dup_chars"),
        Fns.roundP(col("dup_chars").cast("double") / col("n_chars"), 4)
          .as("dup_frac"))
  }

  /** Paragraph size in words for [[qParagraphDedup]]. The corpus carries no
    * newlines, so "paragraph" is the fixed non-overlapping word block — on a
    * real web corpus the split key would be `\n\n` with the identical
    * downstream dataflow (digest → recurrence agg → keeper election). */
  val PARA_W = 15

  /** Paragraph-level exact dedup (Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better" dedups at paragraph granularity;
    * [[qDedupExact]] is doc-level and [[qSubstringDup]] is overlapping
    * fixed windows — this is the non-overlapping segment grain between
    * them). Each doc splits into [[PARA_W]]-word blocks; a block recurring
    * in ≥2 docs is a duplicated paragraph. Per doc: paragraph count,
    * duplicated-paragraph occurrences, the duplicated fraction, and
    * `n_kept` — how many recurring paragraphs this doc canonically owns
    * (min-doc_id keeper, the qDedupExact rule), i.e. the paragraphs a
    * remove-all-but-one pass would keep here.
    *
    * Scale shape: segmentation is row-local array algebra (explode over a
    * bounded per-doc sequence, no joins); the only shuffles are keyed by
    * the 32-char md5 digest of the paragraph — never the text — one agg
    * for recurrence + keeper, one digest-keyed join back (same posture as
    * q_dup_ratio). The exploded paragraph stage feeds both consumers, so
    * it is persisted (no cross-branch CSE). */
  val qParagraphDedup: Q = (s, d) => {
    val paras = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), ceil(size(col("ws")) / lit(PARA_W.toDouble)).cast("int") - 1),
          i => md5(array_join(slice(col("ws"), i * PARA_W + 1, lit(PARA_W)), " ")))).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rec = paras.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("keeper"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("keeper"))
    paras.join(rec, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_para"),
        count(col("keeper")).as("n_dup"),
        countDistinct(when(col("keeper") === col("doc_id"), col("h"))).as("n_kept"))
      .select(col("doc_id"), col("n_para"), col("n_dup"), col("n_kept"),
        Fns.roundP(col("n_dup").cast("double") / col("n_para"), 4).as("dup_para_frac"))
      .orderBy("doc_id")
  }

  /** Content-defined-chunking window width (chars) and boundary divisor.
    * A chunk boundary is any position j ≥ 2 whose [[CDC_W]]-char content
    * window hashes to 0 mod [[CDC_D]], so the expected chunk length is
    * ~[[CDC_D]] chars and — the property fixed-size chunking lacks — cut
    * points move WITH the content: shifting a shared span by any prefix
    * insertion leaves the span's window contents, hence its interior cut
    * points, untouched, so the span's interior chunks digest identically
    * in both copies regardless of alignment. */
  val CDC_W = 16
  val CDC_D = 64

  /** Content-defined chunking + chunk-level exact dedup — the backup-
    * dedup/rsync chunk grain applied to corpus curation: the segment
    * level between [[qParagraphDedup]] (fixed word blocks, alignment-
    * sensitive) and [[qSuffixDup]] (every stride-1 window, exact but
    * gram-dense). Per doc: chunk count, chunks recurring in ≥2 docs, the
    * duplicated chars those cover, and the duplicated fraction.
    *
    * Scale shape: the boundary scan is the measured q_suffix_dup
    * extraction shape (explode the cheap INT positions, md5(substr) as an
    * ordinary codegen projection — md5 inside a HOF runs interpreted per
    * element); everything after the scan shuffles 16-byte digests and
    * ~n_chars/[[CDC_D]] boundary ints per doc, never text. The recurrence
    * agg is the min≠max doc_id trick (no countDistinct Expand). */
  val qCdcChunks: Q = (s, d) =>
    // persist before the reporting sort (RangePartitioning samples its
    // child — the measured q_entity_match double-execution trap)
    cdcChunksOf(Tables.documents(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy("doc_id")

  /** The per-doc exploded (doc_id, chunk) frame — factored so
    * CdcChunkSpec can assert lossless reassembly and alignment
    * independence on constructed corpora. Chunk starts are {1} ∪ content
    * boundaries; each chunk runs to the next start (doc end for the
    * last), so concatenating a doc's chunks in order reproduces the doc
    * byte-for-byte. */
  private[graft] def cdcChunkFrame(docs: DataFrame): DataFrame = {
    val bnd = docs.filter(col("n_chars") >= CDC_W + 1)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(2L), col("n_chars") - lit(CDC_W - 1))))
      .select(col("doc_id"), col("col").as("j"),
        Fns.hash32(col("text").substr(col("col").cast("int"), lit(CDC_W)))
          .as("h"))
      .filter(col("h") % CDC_D === 0)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("j"))).as("bs"))
    docs.join(bnd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("n_chars"),
        concat(array(lit(1L)),
          coalesce(col("bs"), array().cast("array<bigint>"))).as("ss"))
      .select(col("doc_id"),
        // ~n_chars/CDC_D elements per doc: the HOF's interpreted eval is
        // noise here, and every lambda child is a materialized attribute.
        // Staged as a column so the Generate child below is a bare
        // attribute — InferFiltersFromGenerate's cloned size()>0 guard
        // then costs an array-length read, not a re-run of the transform.
        transform(sequence(lit(1), size(col("ss"))),
          i => col("text").substr(
            element_at(col("ss"), i).cast("int"),
            (coalesce(try_element_at(col("ss"), i + 1), col("n_chars") + lit(1L))
              - element_at(col("ss"), i)).cast("int"))).as("chunks"))
      .select(col("doc_id"), posexplode(col("chunks")))
      .select(col("doc_id"), col("pos").as("idx"), col("col").as("chunk"))
  }

  /** The reporting chain over an arbitrary (doc_id, text, n_chars) frame. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    val ch = cdcChunkFrame(docs)
      .select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).cast("long").as("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = ch.groupBy("h")
      .agg(min("doc_id").as("d1"), max("doc_id").as("d2"))
      .filter(col("d1") =!= col("d2"))
      .select("h")
    val per = ch.join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_chunks"), sum("len").as("dup_chars"))
    ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_chunks", "dup_chars"))
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("dup_chars"),
        Fns.roundP(col("dup_chars").cast("double") / col("n_chars"), 4)
          .as("dup_frac"))
  }

  /** Exact per-group sample size for [[qGroupK]]. */
  val GROUP_K = 20

  /** Stratified EXACT-K sampling — [[qUniformK]]'s per-source form, the
    * "balanced subset" op a curation run uses to cap every source at K
    * docs (domain balancing without rate tables). Selection rank is the
    * same deterministic doc_id hash, so membership is reproducible at any
    * partitioning and stable as OTHER sources grow (a doc's rank never
    * depends on rows outside its source).
    *
    * Scale shape: the rank window is per-source top-K, which Spark plans
    * as WindowGroupLimit (pinned by PlanSpec) — each partition keeps ≤K
    * rows per group BEFORE the (source)-keyed exchange, so the shuffle
    * carries ≤ sources×K×partitions rows, never the corpus. */
  val qGroupK: Q = (s, d) => {
    val w = Window.partitionBy("source").orderBy(col("rank_h"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        Fns.hash32(concat(lit("grp_"), col("doc_id").cast("string"))).as("rank_h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= GROUP_K)
      .select(col("doc_id"), col("source"), col("lang"), col("rank_h"))
      .orderBy("source", "rank_h", "doc_id")
  }

  /** Prefix words per doc for [[qPrefixDup]]. Two words is deliberate for
    * the synthetic corpus's ~40-word vocabulary (collision mass exists at
    * every SF); a web corpus would key on ~the first 100 characters —
    * same plan, longer key. */
  val PREFIX_WORDS = 2

  /** Boilerplate-prefix clustering — the "documents sharing an identical
    * opening" signal web pipelines use to catch templated boilerplate
    * (C4 strips repeated lines; RefinedWeb dedupes shared spans). Docs
    * are keyed by the md5 hash of their first [[PREFIX_WORDS]] words;
    * clusters of ≥2 docs are reported with their size and canonical
    * keeper (min doc_id — the qDedupExact rule).
    *
    * Scale shape: the prefix key is row-local column algebra (no
    * tokenize-explode — a fixed-size slice of the split array), one
    * key-hashed partial+final agg; only cluster keys move, never texts.
    * Group count is bounded by vocabulary^PREFIX_WORDS, so the agg state
    * is small at any corpus size. */
  val qPrefixDup: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(array_join(slice(split(col("text"), " "), 1, PREFIX_WORDS), " "))
          .as("prefix_key"))
      .groupBy("prefix_key")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
      .filter(col("n_docs") >= 2)
      .orderBy("prefix_key")

  /** Edit-distance threshold for [[qEntityMatch]]. */
  val ER_MAXDIST = 2

  /** Block-size cap for [[qEntityMatch]]. The nation blocking key has
    * FIXED cardinality, so the within-block self-join is Σblock² with
    * block ≈ corpus/25 — quadratic in corpus size (the r10 verdict's
    * flagged scale-killer). Blocks at or under the cap keep the exact
    * within-block pair scan; blocks OVER it switch to two
    * Hernández-Stolfo sorted-neighborhood passes (forward + reversed
    * key), whose candidate volume is N×(W−1)×2 BY CONSTRUCTION — linear
    * at any corpus size. Testdata blocks (≤ ~650 at sf0.1) stay under
    * the default cap, so gate outputs are unchanged while the capped
    * branch stays live (EntityMatchSpec forces it with a small cap). */
  val ER_BLOCK_CAP = 2000
  /** Sorted-neighborhood window width inside over-cap blocks. */
  val ER_W = 8
  /** Sort-key prefix that sub-partitions an over-cap block's window (the
    * distributed-window guard — a global per-block window would funnel
    * corpus/25 rows through one reducer). Boundary pairs across the
    * prefix edge wait for the other pass's key — the standard
    * merge/purge multi-pass posture, same as [[qSortedNeighborhood]]. */
  val ER_PFX = 12

  /** Blocked fuzzy entity matching — record linkage (Newcombe 1959 /
    * Fellegi-Sunter): candidate pairs come ONLY from within a blocking
    * key (here the customer's nation), then an edit-distance verify
    * keeps pairs whose names differ by ≤ [[ER_MAXDIST]] edits. The
    * output is the linkage edge list (block, a, b, dist) — the input
    * the transitive-cluster assignment of qDedupClusters consumes.
    *
    * Scale shape: blocks at or under [[ER_BLOCK_CAP]] run the exact
    * within-block self-join (pair volume Σ block², bounded by cap×N);
    * blocks OVER the cap switch to two sorted-neighborhood passes
    * (forward name + reversed name — complementary keys: the forward
    * pass surfaces pairs agreeing on leading characters, the reversed
    * pass pairs agreeing on trailing ones), each a partitioned sort +
    * [[ER_W]]−1 lead pairs — candidates N×(W−1)×2 by construction, so
    * total pair volume is LINEAR in corpus size. Candidate recall inside
    * an over-cap block is approximate (pairs whose edits straddle both
    * key regions can miss both passes — the merge/purge concession,
    * measured by EntityMatchSpec's floor); production adds more passes
    * with more keys, not a bigger join. Levenshtein evaluates
    * identically in Spark and DuckDB (both classic DP), so the gate is
    * integer-exact.
    *
    * The verify runs the BANDED levenshtein (threshold form: -1 when
    * > k, the true distance otherwise) — O(k·n) cells per pair instead
    * of the O(n²) DP, measured 2× on the full sf0.1 pair stream (14.4 s
    * → 7.7 s for the 4.5M-pair filter; output bit-identical since
    * survivors get their exact distance either way). A PassJoin
    * pigeonhole prefilter (Li, Deng & Feng, VLDB 2011) was measured and
    * REJECTED here: on zero-padded sequential entity names every
    * segment tile lands in a constant region ("Customer#", "000…"), so
    * the filter passed 100% of pairs and only added per-pair work —
    * segment filtering needs entropy spread across the string, which
    * synthetic key-like names don't have. */
  val qEntityMatch: Q = entityMatchWith(ER_BLOCK_CAP, ER_W)

  /** [[qEntityMatch]] with explicit cap/window — the gate uses the
    * defaults; EntityMatchSpec forces the capped branch with a small cap. */
  private[graft] def entityMatchWith(cap: Int, w: Int): Q = (s, d) => {
    val c = Tables.customer(s, d)
      .select(col("c_nationkey").as("blk"), col("c_custkey"), col("c_name"))
    val bsz = c.groupBy("blk").agg(count(lit(1)).as("bn"))
    val sized = c.join(broadcast(bsz), "blk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val small = sized.filter(col("bn") <= cap)
    val big = sized.filter(col("bn") > cap)
    val a = small.select(col("blk"), col("c_custkey").as("cust_a"),
      col("c_name").as("name_a"))
    val b = small.select(col("blk"), col("c_custkey").as("cust_b"),
      col("c_name").as("name_b"))
    val smallPairs = a.join(b, Seq("blk"))
      // the ordered-pair test GUARDS the levenshtein inside one `when`:
      // left as two filter conjuncts, Catalyst folds both into the join
      // condition with the cheap custkey comparison LAST, and the DP runs
      // for all Σblk² bucket pairs instead of the ordered half (measured
      // 2× on the sf0.1 pair stream)
      .withColumn("dist",
        when(col("cust_a") < col("cust_b"),
          levenshtein(col("name_a"), col("name_b"), ER_MAXDIST))
          .otherwise(lit(-1)))
      .filter(col("dist") >= 0)
      .select(col("blk"), col("cust_a"), col("cust_b"), col("dist"))
    // over-cap blocks: merge/purge sorted neighborhood, forward + reversed
    def snPass(key: org.apache.spark.sql.Column): DataFrame = {
      val keyed = big.select(col("blk"), col("c_custkey"), col("c_name"), key.as("k"))
        .withColumn("pfx", substring(col("k"), 1, ER_PFX))
      val win = Window.partitionBy("blk", "pfx").orderBy(col("k"), col("c_custkey"))
      val leads = keyed.select(
        col("blk") +: col("c_custkey") +: col("c_name") +:
          (1 until w).flatMap(i => Seq(
            lead(col("c_custkey"), i).over(win).as(s"ck$i"),
            lead(col("c_name"), i).over(win).as(s"nm$i"))): _*)
      leads.select(col("blk"), col("c_custkey"), col("c_name"),
          explode(array((1 until w).map(i =>
            struct(col(s"ck$i").as("ck"), col(s"nm$i").as("nm"))): _*)).as("nb"))
        .filter(col("nb.ck").isNotNull)
        .select(col("blk"),
          least(col("c_custkey"), col("nb.ck")).as("cust_a"),
          greatest(col("c_custkey"), col("nb.ck")).as("cust_b"),
          when(col("c_custkey") < col("nb.ck"), col("c_name"))
            .otherwise(col("nb.nm")).as("name_a"),
          when(col("c_custkey") < col("nb.ck"), col("nb.nm"))
            .otherwise(col("c_name")).as("name_b"))
    }
    val bigPairs = snPass(col("c_name")).unionAll(snPass(reverse(col("c_name"))))
      .distinct() // dedupe cross-pass repeats BEFORE the verify DP runs
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), ER_MAXDIST))
      .filter(col("dist") >= 0)
      .select(col("blk"), col("cust_a"), col("cust_b"), col("dist"))
    smallPairs.unionAll(bigPairs)
      // the global sort's RangePartitioning SAMPLES its child — without
      // this persist the whole pair-verify join executes twice (once for
      // the sampling pass), measured 2× the query
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy("blk", "cust_a", "cust_b")
  }

  /** Sorted-neighborhood window width, verify threshold, sort-key and
    * block-prefix lengths. */
  val SN_W = 4
  val SN_T = 0.5
  val SN_KEYLEN = 24
  val SN_BLOCK = 2

  /** Sorted-neighborhood near-dup blocking (Hernández & Stolfo, SIGMOD
    * 1995 — the merge/purge method): sort the corpus by a normalized
    * key (whitespace-collapsed lowercase 24-char prefix) and compare
    * each doc only with the next [[SN_W]]−1 docs in key order, then
    * verify candidates with the exact shingle Jaccard shared with
    * [[qJaccardPairs]]. Where MinHash-LSH buckets by CONTENT hash, the
    * sorted neighborhood exploits ORDER locality — boilerplate-prefix
    * near-dups land adjacent — so the two candidate generators miss
    * different pair populations; production merge/purge runs several
    * passes with different keys, exactly this dataflow re-keyed.
    *
    * Scale shape: candidate volume is N×(SN_W−1) by construction —
    * linear, no hot key possible. The sort is PARTITIONED by the
    * 2-char block prefix (a global-order window would funnel the corpus
    * through one partition — the classic distributed-window trap); the
    * documented cost is that cross-block boundary pairs wait for the
    * next pass's key, the standard multi-pass posture. */
  val qSortedNeighborhood: Q = (s, d) => {
    val sh = shingleSets(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = Tables.documents(s, d).select(col("doc_id"),
      substring(lower(regexp_replace(col("text"), "\\s+", " ")), 1, SN_KEYLEN)
        .as("k"))
      .withColumn("blk", substring(col("k"), 1, SN_BLOCK))
    val w = Window.partitionBy("blk").orderBy(col("k"), col("doc_id"))
    val leads = keyed.select(
      col("doc_id") +:
        (1 until SN_W).map(i => lead(col("doc_id"), i).over(w).as(s"n$i")): _*)
    val pairs = leads
      .select(col("doc_id"),
        explode(array((1 until SN_W).map(i => col(s"n$i")): _*)).as("nb"))
      .filter(col("nb").isNotNull)
      .select(least(col("doc_id"), col("nb")).as("doc_a"),
        greatest(col("doc_id"), col("nb")).as("doc_b"))
      .distinct()
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jac",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jac") >= SN_T)
      .select(col("doc_a"), col("doc_b"), Fns.roundP(col("jac"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Containment acceptance threshold as the rational 9/10 — like
    * [[JAC_T]], kept rational so every pruning bound below is exact
    * integer arithmetic. */
  val CONT_T_NUM = 9
  val CONT_T_DEN = 10
  /** Minimum shingle-set size for a containment probe: a 1–4-shingle
    * snippet is "contained" in half the corpus by accident; requiring ≥5
    * makes the report meaningful. No true pair is lost on the container
    * side either: C(A→B) ≥ 9/10 with |A| ≥ 5 forces |A∩B| ≥ ⌈0.9·5⌉ = 5,
    * so |B| ≥ 5 holds for every reportable pair. */
  val CONT_MIN_SH = 5

  /** ASYMMETRIC CONTAINMENT near-dup pairs — C(A→B) = |A∩B|/|A| over the
    * K-word shingle sets, the measure that catches what Jaccard
    * structurally misses: a document substantially CONTAINED in a larger
    * one (quoted articles, boilerplate-wrapped reposts, chunk-of-a-book
    * training leaks). J(A,B) ≥ 0.8 requires |B| ≤ 1.25·|A|, so a 500-word
    * article inside a 5000-word page scores J ≈ 0.1 and sails through
    * [[qJaccardPairs]]; its containment is ≈ 1.0.
    *
    * Same exact-recall prefix-filter family as [[qJaccardPairs]], adapted
    * to the asymmetric threshold: only the PROBE side (A) is prefix-
    * pruned — overlap ≥ ⌈t·|A|⌉ depends on |A| alone, so A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles (rarest-first canonical order) provably
    * contain a shared shingle for every true pair, while the container
    * side (B) must stay fully indexed (no |B|-only bound exists). The
    * positional filter at a collision (i in A, j in B) upper-bounds the
    * overlap by 1 + min(|A|−i, |B|−j); the pair's FIRST shared shingle in
    * canonical order makes that bound ≥ the true overlap, so requiring
    * 10·(1 + min) ≥ 9·|A| on the join keeps exact recall. Exact
    * verification on survivors equalizes both engines' candidate sets.
    *
    * Scale shape: candidate volume is Σ_g df_prefix(g)·df_full(g) —
    * rarest-first ordering keeps corpus-hot shingles out of every prefix,
    * so the full-side posting lists that ARE long are joined against
    * near-empty prefix lists. One window shuffle keyed by doc_id for the
    * ranking, co-hashed join on the shingle, verify joins on candidate
    * pairs only. `ranked` feeds both join sides (prefix filter + full) —
    * persisted, since no cross-branch CSE exists (PERF.md). */
  val qContainment: Q = (s, d) =>
    // persist before the reporting sort: RangePartitioning samples its
    // child, so an uncached chain under a global orderBy runs twice
    // (the measured q_entity_match trap, CLAUDE.md)
    containmentOf(Tables.documents(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy("doc_a", "doc_b")

  /** The containment chain over an arbitrary (doc_id, text) frame —
    * factored so specs can drive a constructed contained-in corpus. */
  private[graft] def containmentOf(docs: DataFrame): DataFrame = {
    // persist the UNFILTERED staged shingle set, filter behind the cache
    // barrier: a size() filter directly over the projection collapses into
    // it and re-evaluates the shingling HOF per element (the PERF.md
    // staged-array trap — measured 10.3 s vs 1.2 s at sf0.1)
    val shAll = shingleSetsOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = shAll.filter(size(col("sh")) >= CONT_MIN_SH)
    val posting = sh.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("g"))
    val dfreq = posting.groupBy(col("g")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("c"), col("g"))
    val ranked = posting.join(dfreq, "g")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("g"), col("rn"), col("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // probe prefix length |A| - ceil(t|A|) + 1, with the integer ceiling
    // ceil(num·sz/den) = (num·sz + den−1) div den derived from the
    // threshold constants — retuning CONT_T_* moves prefix, join bound and
    // verify together (a hardcoded 9/10 here would silently shorten the
    // prefix below the exact-recall requirement for any lower threshold)
    val prefix = ranked
      .filter(col("rn") <=
        col("sz") - expr(s"($CONT_T_NUM * sz + ${CONT_T_DEN - 1}) div $CONT_T_DEN") + 1)
    val pairs = prefix.as("a")
      .join(ranked.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id") &&
          lit(CONT_T_DEN) * (lit(1) + least(col("a.sz") - col("a.rn"),
                                            col("b.sz") - col("b.rn"))) >=
            lit(CONT_T_NUM) * col("a.sz"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(col("inter") * CONT_T_DEN >= size(col("sh_a")) * CONT_T_NUM)
      .select(col("doc_a"), col("doc_b"),
        Fns.roundP(col("inter").cast("double") / size(col("sh_a")), 4)
          .as("containment"))
  }

  // ---- DuckDB oracles ------------------------------------------------------

  private val sqlTokens = TextOps.sqlTokens

  /** Shingle-set CTE shared by the dedup oracles (mirrors shingleSets). */
  private val sqlShingles =
    s"""toks AS (SELECT doc_id, ${TextOps.sqlWsTrim} AS t, $sqlTokens AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(w) >= $K
       |      THEN list_transform(range(1, len(w) - ${K - 2}),
       |             i -> array_to_string(w[i:i+${K - 1}], ' '))
       |      ELSE [t] END) AS sh
       |  FROM toks)""".stripMargin

  private def sqlHash32(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 8) AS BIGINT)"

  private def sqlMinhash(h: Int): String =
    s"list_min(list_transform(hv, x -> (x * ${A(h)} + ${B(h)}) % $P))"

  /** CTE chain ending in `bands(doc_id, band, key)` — signatures + LSH
    * band keys, shared by the self-join (dedup) and bench-vs-probe
    * (fuzzy decontamination) oracles. */
  private val sqlBandCtes: String = {
    val bandKeys = (0 until NUM_BANDS).map { b =>
      val rows = (0 until ROWS_PER_BAND)
        .map(r => s"CAST(m${b * ROWS_PER_BAND + r} AS VARCHAR)")
      s"(${rows.mkString(" || ',' || ")})"
    }
    val mhCols = (0 until NUM_HASHES).map(h => s"${sqlMinhash(h)} AS m$h").mkString(",\n  ")
    s"""$sqlShingles,
       |hv AS (SELECT doc_id, sh,
       |  list_transform(sh, g -> ${sqlHash32("g")} % $P) AS hv FROM sh),
       |mh AS (SELECT doc_id, sh,
       |  $mhCols
       |FROM hv),
       |bands AS (
       |  SELECT doc_id, b.band,
       |    CASE ${bandKeys.zipWithIndex.map { case (k, i) => s"WHEN b.band = $i THEN $k" }.mkString(" ")} END AS key
       |  FROM mh CROSS JOIN (SELECT unnest([${(0 until NUM_BANDS).mkString(",")}]) AS band) b)""".stripMargin
  }

  /** CTE chain ending in `verified(doc_a, doc_b, jac)` — the minhash-LSH
    * candidate+verify pipeline shared by the pair and cluster oracles. */
  private val sqlVerifiedCtes: String =
    s"""$sqlBandCtes,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
       |  FROM pairs p
       |  JOIN sh sa ON sa.doc_id = p.doc_a
       |  JOIN sh sb ON sb.doc_id = p.doc_b)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // sorted neighborhood: same partitioned window + lead pairs, shared
    // shingle-Jaccard verify (regexp_replace needs the 'g' flag here —
    // DuckDB replaces only the first match by default)
    Gate("q_sorted_neighborhood", qSortedNeighborhood, {
      val leadCols = (1 until SN_W).map(i => s"lead(doc_id, $i) OVER w AS n$i")
        .mkString(", ")
      val leadList = (1 until SN_W).map(i => s"n$i").mkString("[", ", ", "]")
      s"""WITH $sqlShingles,
         |keyed AS (
         |  SELECT doc_id,
         |    substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, $SN_KEYLEN) AS k
         |  FROM documents),
         |b AS (SELECT doc_id, k, substr(k, 1, $SN_BLOCK) AS blk FROM keyed),
         |leads AS (
         |  SELECT doc_id, $leadCols FROM b
         |  WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id)),
         |pairs AS (
         |  SELECT DISTINCT least(doc_id, n) AS doc_a, greatest(doc_id, n) AS doc_b
         |  FROM (SELECT doc_id, unnest($leadList) AS n FROM leads)
         |  WHERE n IS NOT NULL),
         |verified AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
         |  FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.doc_a
         |  JOIN sh sb ON sb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, ${Fns.roundPSql("jac", 4)} AS jaccard
         |FROM verified WHERE jac >= $SN_T ORDER BY doc_a, doc_b""".stripMargin
    }),
    Gate("q_dedup_exact", qDedupExact,
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(lower(trim(text))) ORDER BY keep_id""".stripMargin),
    Gate("q_minhash_dedup", qMinhashDedup,
      s"""WITH $sqlVerifiedCtes
         |SELECT doc_a, doc_b, ${Fns.roundPSql("jac", 4)} AS jaccard
         |FROM verified WHERE jac >= $THRESHOLD ORDER BY doc_a, doc_b""".stripMargin),
    Gate("q_fuzzy_decontaminate", qFuzzyDecontaminate,
      s"""WITH $sqlBandCtes,
         |fpairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id % $FUZZY_MOD = 0
         |    AND b.doc_id % $FUZZY_MOD <> 0),
         |fver AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
         |  FROM fpairs p
         |  JOIN sh sa ON sa.doc_id = p.doc_a
         |  JOIN sh sb ON sb.doc_id = p.doc_b),
         |hits AS (
         |  SELECT doc_b AS doc_id, count(*) AS n_match,
         |    max(${Fns.roundPSql("jac", 4)}) AS max_jac
         |  FROM fver WHERE jac >= $FUZZY_T GROUP BY 1)
         |SELECT d.doc_id, COALESCE(h.n_match, 0) AS n_match,
         |  COALESCE(h.max_jac, 0.0) AS max_jac,
         |  (COALESCE(h.n_match, 0) >= 1) AS fuzzy_contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % $FUZZY_MOD <> 0
         |ORDER BY d.doc_id""".stripMargin),
    // connected components over the verified pairs: `reach` floods every
    // label through the undirected edge set (UNION dedups the state space
    // to vertices × labels of one component), min(lbl) is the component id
    Gate("q_dedup_clusters", qDedupClusters,
      s"""WITH RECURSIVE $sqlVerifiedCtes,
         |vp AS (SELECT doc_a, doc_b FROM verified WHERE jac >= $THRESHOLD),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |          UNION ALL SELECT doc_b, doc_a FROM vp),
         |reach AS (
         |  SELECT src AS doc_id, src AS lbl FROM edges
         |  UNION
         |  SELECT e.dst AS doc_id, r.lbl AS lbl
         |  FROM reach r JOIN edges e ON e.src = r.doc_id),
         |cc AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
         |  coalesce(cc.cluster_id, d.doc_id) = d.doc_id AS keep
         |FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_stratified_sample", qStratifiedSample,
      s"""SELECT doc_id, source FROM documents
         |WHERE ${sqlHash32("'smp_' || CAST(doc_id AS VARCHAR)")} % 1000
         |  < CASE WHEN CAST(regexp_extract(source, '([0-9]+)$$', 1) AS INT) % 2 = 0
         |         THEN 300 ELSE 700 END
         |ORDER BY doc_id""".stripMargin),
    Gate("q_entity_match", qEntityMatch, {
      // the capped branch's twin: per pass, W-1 lead columns over the
      // (blk, key-prefix) window, unpivoted via UNION ALL
      def passCtes(tag: String, keyExpr: String): String = {
        val leadCols = (1 until ER_W).map(i =>
          s"lead(c_custkey, $i) OVER w AS ck$i, lead(c_name, $i) OVER w AS nm$i")
          .mkString(",\n    ")
        val unpivot = (1 until ER_W).map(i =>
          s"""SELECT blk, c_custkey, c_name, ck$i AS ck, nm$i AS nm
             |   FROM l$tag WHERE ck$i IS NOT NULL""".stripMargin)
          .mkString("\n  UNION ALL ")
        s"""l$tag AS (
           |  SELECT blk, c_custkey, c_name, $leadCols
           |  FROM (SELECT blk, c_custkey, c_name, $keyExpr AS k FROM big)
           |  WINDOW w AS (PARTITION BY blk, substr(k, 1, $ER_PFX) ORDER BY k, c_custkey)),
           |u$tag AS (
           |  $unpivot)""".stripMargin
      }
      s"""WITH c AS (
         |  SELECT c_nationkey AS blk, c_custkey, c_name FROM customer),
         |bsz AS (SELECT blk, count(*) AS bn FROM c GROUP BY blk),
         |small AS (SELECT c.* FROM c JOIN bsz USING (blk) WHERE bn <= $ER_BLOCK_CAP),
         |big AS (SELECT c.* FROM c JOIN bsz USING (blk) WHERE bn > $ER_BLOCK_CAP),
         |sp AS (
         |  SELECT a.blk, a.c_custkey AS cust_a, b.c_custkey AS cust_b,
         |    CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         |  FROM small a JOIN small b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
         |  WHERE levenshtein(a.c_name, b.c_name) <= $ER_MAXDIST),
         |${passCtes("f", "c_name")},
         |${passCtes("r", "reverse(c_name)")},
         |cand AS (
         |  SELECT DISTINCT blk,
         |    least(c_custkey, ck) AS cust_a, greatest(c_custkey, ck) AS cust_b,
         |    CASE WHEN c_custkey < ck THEN c_name ELSE nm END AS name_a,
         |    CASE WHEN c_custkey < ck THEN nm ELSE c_name END AS name_b
         |  FROM (SELECT * FROM uf UNION ALL SELECT * FROM ur)),
         |bp AS (
         |  SELECT blk, cust_a, cust_b,
         |    CAST(levenshtein(name_a, name_b) AS INT) AS dist
         |  FROM cand WHERE levenshtein(name_a, name_b) <= $ER_MAXDIST)
         |SELECT * FROM (SELECT * FROM sp UNION ALL SELECT * FROM bp)
         |ORDER BY blk, cust_a, cust_b""".stripMargin
    }),
    Gate("q_group_k", qGroupK,
      s"""WITH r AS (
         |  SELECT doc_id, source, lang,
         |    ${sqlHash32("'grp_' || CAST(doc_id AS VARCHAR)")} AS rank_h
         |  FROM documents),
         |w AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY source ORDER BY rank_h, doc_id) AS rn
         |  FROM r)
         |SELECT doc_id, source, lang, rank_h FROM w
         |WHERE rn <= $GROUP_K ORDER BY source, rank_h, doc_id""".stripMargin),
    Gate("q_prefix_dup", qPrefixDup,
      s"""WITH p AS (
         |  SELECT doc_id,
         |    md5(array_to_string(string_split(text, ' ')[1 : $PREFIX_WORDS], ' '))
         |      AS prefix_key
         |  FROM documents)
         |SELECT prefix_key, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS keeper
         |FROM p GROUP BY prefix_key HAVING count(*) >= 2
         |ORDER BY prefix_key""".stripMargin),
    Gate("q_uniform_k", qUniformK,
      s"""SELECT doc_id, source,
         |  ${sqlHash32("'uni_' || CAST(doc_id AS VARCHAR)")} AS rank_h
         |FROM documents ORDER BY rank_h, doc_id LIMIT $UNIFORM_K""".stripMargin),
    Gate("q_weighted_sample", qWeightedSample,
      s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len(${TextOps.sqlTokens}) AS BIGINT) AS w,
         |    (CAST(${sqlHash32("'wes_' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) + 0.5)
         |      / ${graft.functions.Kmv.HASH_SPACE} AS u
         |  FROM documents)
         |SELECT doc_id, source, w, ${Fns.roundPSql("ln(u) / CAST(w AS DOUBLE)", 6)} AS es_key
         |FROM t WHERE w > 0
         |ORDER BY ln(u) / CAST(w AS DOUBLE) DESC, doc_id LIMIT $WEIGHTED_K""".stripMargin),
    Gate("q_priority_sample", qPrioritySample,
      s"""WITH pri AS (
         |  SELECT doc_id, source, n_chars,
         |    CAST(n_chars AS DOUBLE) /
         |      ((CAST(${sqlHash32("'pri_' || CAST(doc_id AS VARCHAR)")} AS DOUBLE) + 0.5)
         |        / ${graft.functions.Kmv.HASH_SPACE}) AS priority
         |  FROM documents),
         |top AS (SELECT * FROM pri ORDER BY priority DESC, doc_id LIMIT ${PRI_K + 1}),
         |tau AS (SELECT min(priority) AS tau FROM top),
         |r AS (SELECT t.*, row_number() OVER (ORDER BY priority DESC, doc_id) AS rk FROM top t)
         |SELECT doc_id, source, n_chars,
         |  ${Fns.roundPSql("priority", 4)} AS priority,
         |  ${Fns.roundPSql("greatest(CAST(n_chars AS DOUBLE), tau.tau)", 4)} AS est_w
         |FROM r CROSS JOIN tau WHERE rk <= $PRI_K ORDER BY doc_id""".stripMargin),
    Gate("q_corpus_mix", qCorpusMix,
      s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len(${TextOps.sqlTokens}) AS BIGINT) AS n_toks
         |  FROM documents),
         |ps AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS t_src FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(t_src) AS BIGINT) AS t_total, count(*) AS n_src FROM ps)
         |SELECT t.source, max(ps.t_src) AS t_src, count(*) AS n_kept,
         |  CAST(sum(t.n_toks) AS BIGINT) AS toks_kept
         |FROM t JOIN ps USING (source), tot
         |WHERE CAST(${sqlHash32("'mix_' || CAST(doc_id AS VARCHAR)")} % $SAMPLE_SPACE
         |      AS DECIMAL(38,0)) * tot.n_src * ps.t_src * $MIX_DEN
         |  < CAST(tot.t_total AS DECIMAL(38,0)) * $MIX_NUM * $SAMPLE_SPACE
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_temperature_sample", qTemperatureSample,
      s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len(${TextOps.sqlTokens}) AS BIGINT) AS n_toks
         |  FROM documents),
         |ps AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS t_src FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(t_src) AS BIGINT) AS t_total,
         |  CAST(sum(CAST(sqrt(CAST(t_src AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS sq_sum
         |  FROM ps),
         |rt AS (SELECT ps.source, ps.t_src,
         |  least(CAST(1 AS DOUBLE), ${Fns.roundPSql(
             s"(CAST($TEMP_BETA_NUM AS DOUBLE) / $TEMP_BETA_DEN) * CAST(t_total AS DOUBLE)" +
             " * (sqrt(CAST(t_src AS DOUBLE)) / sq_sum) / CAST(t_src AS DOUBLE)", 9)}) AS rate
         |  FROM ps, tot)
         |SELECT t.source, max(rt.t_src) AS t_src, max(rt.rate) AS rate,
         |  count(*) AS n_kept, CAST(sum(t.n_toks) AS BIGINT) AS toks_kept
         |FROM t JOIN rt USING (source)
         |WHERE ${sqlHash32("'tmp_' || CAST(doc_id AS VARCHAR)")} % $SAMPLE_SPACE
         |  < CAST(floor(rt.rate * $SAMPLE_SPACE) AS BIGINT)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_lsh_quality", qLshQuality,
      // band CTEs already begin with the shared shingle CTE `sh`; the
      // PPJoin truth chain appends with t-prefixed names to avoid the
      // `pairs` collision
      s"""WITH $sqlBandCtes,
         |lcand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |posting AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM sh),
         |dfreq AS (SELECT g, count(*) AS c FROM posting GROUP BY g),
         |ranked AS (
         |  SELECT p.doc_id, p.g, p.sz,
         |    row_number() OVER (PARTITION BY p.doc_id ORDER BY d.c, p.g) AS rn
         |  FROM posting p JOIN dfreq d USING (g)),
         |tprefix AS (
         |  SELECT doc_id, g, rn, sz FROM ranked
         |  WHERE rn <= sz - (4 * sz + 4) // 5 + 1),
         |tpair AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM tprefix a JOIN tprefix b ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE 9 * (1 + least(a.sz - a.rn, b.sz - b.rn)) >= 4 * (a.sz + b.sz)),
         |truth AS (
         |  SELECT p.doc_a, p.doc_b FROM tpair p
         |  JOIN sh sa ON sa.doc_id = p.doc_a
         |  JOIN sh sb ON sb.doc_id = p.doc_b
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= $JAC_T),
         |agg AS (
         |  SELECT (SELECT count(*) FROM truth) AS n_true,
         |    (SELECT count(*) FROM lcand) AS n_cand,
         |    (SELECT count(*) FROM truth t JOIN lcand c
         |       ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit)
         |SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CASE WHEN n_true > 0 THEN
         |    ${Fns.roundPSql("CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)", 4)} END AS recall,
         |  CASE WHEN n_cand > 0 THEN
         |    ${Fns.roundPSql("CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)", 4)} END AS precision
         |FROM agg""".stripMargin),
    Gate("q_jaccard_pairs", qJaccardPairs,
      s"""WITH $sqlShingles,
         |posting AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM sh),
         |dfreq AS (SELECT g, count(*) AS c FROM posting GROUP BY g),
         |ranked AS (
         |  SELECT p.doc_id, p.g, p.sz,
         |    row_number() OVER (PARTITION BY p.doc_id ORDER BY d.c, p.g) AS rn
         |  FROM posting p JOIN dfreq d USING (g)),
         |prefix AS (
         |  SELECT doc_id, g, rn, sz FROM ranked
         |  WHERE rn <= sz - (4 * sz + 4) // 5 + 1),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM prefix a JOIN prefix b ON a.g = b.g AND a.doc_id < b.doc_id
         |  WHERE 9 * (1 + least(a.sz - a.rn, b.sz - b.rn)) >= 4 * (a.sz + b.sz)),
         |verified AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
         |  FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.doc_a
         |  JOIN sh sb ON sb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, ${Fns.roundPSql("jac", 4)} AS jaccard
         |FROM verified WHERE jac >= $JAC_T ORDER BY doc_a, doc_b""".stripMargin),
    Gate("q_containment", qContainment,
      s"""WITH $sqlShingles,
         |shf AS (SELECT doc_id, sh FROM sh WHERE len(sh) >= $CONT_MIN_SH),
         |posting AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM shf),
         |dfreq AS (SELECT g, count(*) AS c FROM posting GROUP BY g),
         |ranked AS (
         |  SELECT p.doc_id, p.g, p.sz,
         |    row_number() OVER (PARTITION BY p.doc_id ORDER BY d.c, p.g) AS rn
         |  FROM posting p JOIN dfreq d USING (g)),
         |prefix AS (
         |  SELECT doc_id, g, rn, sz FROM ranked
         |  WHERE rn <= sz - ($CONT_T_NUM * sz + ${CONT_T_DEN - 1}) // $CONT_T_DEN + 1),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM prefix a JOIN ranked b ON a.g = b.g AND a.doc_id <> b.doc_id
         |  WHERE $CONT_T_DEN * (1 + least(a.sz - a.rn, b.sz - b.rn))
         |    >= $CONT_T_NUM * a.sz),
         |verified AS (
         |  SELECT p.doc_a, p.doc_b,
         |    len(list_intersect(sa.sh, sb.sh)) AS inter, len(sa.sh) AS sz_a
         |  FROM pairs p
         |  JOIN shf sa ON sa.doc_id = p.doc_a
         |  JOIN shf sb ON sb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b,
         |  ${Fns.roundPSql("CAST(inter AS DOUBLE) / sz_a", 4)} AS containment
         |FROM verified WHERE inter * $CONT_T_DEN >= sz_a * $CONT_T_NUM
         |ORDER BY doc_a, doc_b""".stripMargin),
    Gate("q_simhash", qSimhash, {
      val bits = (0 until 16).map { b =>
        s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("\n    + ")
      s"""WITH toks AS (SELECT doc_id, list_distinct($sqlTokens) AS toks FROM documents),
         |hs AS (SELECT doc_id, list_transform(toks, t -> ${sqlHash32("t")}) AS hs FROM toks)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
         |FROM hs ORDER BY doc_id""".stripMargin
    }),
    Gate("q_hash_split", qHashSplit,
      s"""SELECT source, ${sqlSplitOf("doc_id")} AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS tot_chars
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q_substring_dup", qSubstringDup,
      s"""WITH wins AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(0, (n_chars - $SUB_W) // $SUB_S + 1),
         |      i -> substr(text, i * $SUB_S + 1, $SUB_W))) AS w
         |  FROM documents WHERE n_chars >= $SUB_W),
         |dup AS (SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2)
         |SELECT doc_id, count(*) AS n_windows,
         |  CAST(count(*) FILTER (WHERE d.w IS NOT NULL) AS BIGINT) AS n_dup,
         |  ${Fns.roundPSql("CAST(count(*) FILTER (WHERE d.w IS NOT NULL) AS DOUBLE) / count(*)", 4)} AS dup_frac
         |FROM wins LEFT JOIN dup d ON wins.w = d.w
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Gate("q_suffix_dup", qSuffixDup,
      s"""WITH grams AS (
         |  SELECT doc_id, j, md5(substr(text, CAST(j + 1 AS INT), $SUF_K)) AS h
         |  FROM (SELECT doc_id, text, unnest(range(n_chars - ${SUF_K - 1})) AS j
         |        FROM documents WHERE n_chars >= $SUF_K)),
         |dup AS (SELECT h FROM grams GROUP BY h HAVING min(doc_id) <> max(doc_id)),
         |hits AS (SELECT doc_id, j FROM grams WHERE h IN (SELECT h FROM dup)),
         |isl AS (SELECT doc_id, j,
         |  CASE WHEN j - coalesce(lag(j) OVER (PARTITION BY doc_id ORDER BY j),
         |                         ${-SUF_K - 1}) > $SUF_K THEN 1 ELSE 0 END AS nw
         |  FROM hits),
         |isl2 AS (SELECT doc_id, j,
         |  sum(nw) OVER (PARTITION BY doc_id ORDER BY j) AS isl FROM isl),
         |spans AS (SELECT doc_id, max(j) - min(j) + $SUF_K AS len
         |  FROM isl2 GROUP BY doc_id, isl),
         |per_doc AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS dup_chars,
         |  count(*) AS n_spans FROM spans GROUP BY doc_id)
         |SELECT d.doc_id, CAST(d.n_chars - ${SUF_K - 1} AS BIGINT) AS n_grams,
         |  coalesce(p.n_spans, 0) AS n_spans,
         |  coalesce(p.dup_chars, 0) AS dup_chars,
         |  ${Fns.roundPSql(s"CAST(coalesce(p.dup_chars, 0) AS DOUBLE) / d.n_chars", 4)} AS dup_frac
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |WHERE d.n_chars >= $SUF_K ORDER BY d.doc_id""".stripMargin),
    Gate("q_paragraph_dedup", qParagraphDedup,
      s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |expl AS (SELECT doc_id, ws,
         |  unnest(range(CAST(ceil(len(ws) / $PARA_W.0) AS BIGINT))) AS i FROM words),
         |paras AS (SELECT doc_id,
         |  md5(array_to_string(ws[(i*$PARA_W+1):(i*$PARA_W+$PARA_W)], ' ')) AS h FROM expl),
         |rec AS (SELECT h, min(doc_id) AS keeper FROM paras
         |  GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
         |SELECT paras.doc_id, count(*) AS n_para,
         |  CAST(count(rec.keeper) AS BIGINT) AS n_dup,
         |  CAST(count(DISTINCT CASE WHEN rec.keeper = paras.doc_id THEN rec.h END) AS BIGINT) AS n_kept,
         |  ${Fns.roundPSql(s"CAST(count(rec.keeper) AS DOUBLE) / count(*)", 4)} AS dup_para_frac
         |FROM paras LEFT JOIN rec ON paras.h = rec.h
         |GROUP BY paras.doc_id ORDER BY paras.doc_id""".stripMargin),
    Gate("q_cdc_chunks", qCdcChunks,
      s"""WITH bnd AS (
         |  SELECT doc_id, j
         |  FROM (SELECT doc_id, text, unnest(range(2, n_chars - ${CDC_W - 2})) AS j
         |        FROM documents WHERE n_chars >= ${CDC_W + 1})
         |  WHERE CAST('0x' || substr(md5(substr(text, CAST(j AS INT), $CDC_W)), 1, 8)
         |          AS BIGINT) % $CDC_D = 0),
         |starts AS (
         |  SELECT doc_id, CAST(1 AS BIGINT) AS s FROM documents
         |  UNION ALL SELECT doc_id, j FROM bnd),
         |chunks AS (
         |  SELECT st.doc_id, substr(d.text, CAST(st.s AS INT),
         |    CAST(coalesce(lead(st.s) OVER (PARTITION BY st.doc_id ORDER BY st.s),
         |                  d.n_chars + 1) - st.s AS INT)) AS c
         |  FROM starts st JOIN documents d USING (doc_id)),
         |ch AS (SELECT doc_id, md5(c) AS h, CAST(length(c) AS BIGINT) AS len
         |       FROM chunks),
         |dup AS (SELECT h FROM ch GROUP BY h HAVING min(doc_id) <> max(doc_id)),
         |per AS (
         |  SELECT ch.doc_id, count(*) AS n_chunks,
         |    CAST(count(dup.h) AS BIGINT) AS n_dup_chunks,
         |    CAST(coalesce(sum(CASE WHEN dup.h IS NOT NULL THEN len END), 0)
         |      AS BIGINT) AS dup_chars
         |  FROM ch LEFT JOIN dup USING (h) GROUP BY ch.doc_id)
         |SELECT p.doc_id, p.n_chunks, p.n_dup_chunks, p.dup_chars,
         |  ${Fns.roundPSql("CAST(p.dup_chars AS DOUBLE) / d.n_chars", 4)} AS dup_frac
         |FROM per p JOIN documents d USING (doc_id) ORDER BY doc_id""".stripMargin),
  )
}
