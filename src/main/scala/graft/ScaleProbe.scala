package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Linear-scaling probe (dev tool, like [[Explain]]): replicate the input
  * tables N× with shifted keys into /tmp and time one representative query
  * per operator family at each multiple. The "would this survive 100×"
  * question answered empirically instead of by plan inspection alone —
  * a super-linear curve here means a shuffle/candidate structure that will
  * not hold at 100 TB.
  *
  * Replication shifts the entity keys (doc_id / user_id / event_id /
  * l_orderkey) so per-entity state grows in COUNT, not in size — each copy
  * is a disjoint population, which is how a bigger day of real traffic
  * looks. Tables not scaled by a probe (dims) are copied 1×. The minhash
  * family is deliberately absent: replicating identical texts manufactures
  * Θ(mult²) true near-dup pairs per document — a worst-case dup corpus, not
  * a bigger one (its scaling story is the banded candidate bound, PERF.md).
  */
object ScaleProbe {
  val PROBES = Seq(
    "q1_agg",           // scan + partial/final agg (lineitem)
    "q_window_agg",     // time-window agg (events)
    "q_sessionize",     // window-function-by-user (events)
    "q_retention",      // distinct + self-join (events)
    "q_funnel",         // chained user-keyed joins (events)
    "q_distinct_users", // de-skewed distinct (events)
    "q_token_count",    // zero-shuffle column algebra (documents)
    "q_surprisal",      // explode + vocab-broadcast join (documents)
    "q_tfidf_terms",    // two keyed aggs + window top-k (documents)
    "q_dedup_exact",    // hash-key group dedup (documents)
    "q_cms_topk",       // fixed-size sketch agg (documents)
    "q_decontaminate",  // gram-set broadcast semi-join (documents)
    "q_kmeans",         // iterative broadcast + argmin + keyed means (embeddings)
    "q_ann_ivf",        // centroid prune + cell scan (embeddings)
    "q_knn",            // broadcast probe + top-k, no shuffle (embeddings)
    "q_sliding_features",    // user-keyed RANGE window, no join (events)
    "q_kmv_overlap",         // bounded-sketch agg + 1x1 algebra (events)
    "q_group_normalize",     // O(groups) stats broadcast (documents)
    "q_bloom_decontaminate", // fixed-size bit-set broadcast probe (documents)
    "q_random_projection",   // shuffle-free plan-literal folds (embeddings)
    "q_mm_decode",           // per-row PPM parse in mapPartitions (documents)
    "q_hash_split",          // 3-column scan + partial/final agg (documents)
    "q_bm25",                // tf agg + broadcast query/df joins + top-k (documents)
    "q_inverted_index",      // term-keyed aggs + WindowGroupLimit cap (documents)
    "q_substring_dup",       // window-keyed agg + join-back (documents; dup SET
                             // saturates under replication but row flow is linear)
    "q_suffix_dup",          // stride-1 digest agg + semi-join + per-doc island
                             // window (documents; replication makes EVERY gram a
                             // cross-copy dup so the hit stream saturates to the
                             // full gram stream — worst case, still linear row
                             // flow: the island window stays doc-keyed)
    "q_backoff_lm",          // n-gram count tables + keyed left joins (documents)
    "q_pq_adc",              // literal-codebook codegen scan + top-k (embeddings)
    "q_ann_ivfpq",           // cell prune + ADC + exact re-rank (embeddings)
    "q_pmi_collocations",    // vocab-bounded count aggs + k-row top-k (documents)
    "q_dsir_weights",        // B-bounded feature tables, broadcast probe (documents)
    "q_ppl_buckets",         // distinct-score window + O(langs) broadcast (documents)
    "q_temperature_sample",  // rate-table broadcast + hash keep test (documents)
    "q_kcore_big",           // synchronous peel: 2 node-keyed joins + count/round (orders)
    "q_winnow",              // row-local fp selection + df-capped postings join
                             // (documents; replicated texts push shared fps past the
                             // df cap — the boilerplate guard absorbs dup manufacture)
    "q_nb_lang",             // (doc,token,tf) collapse + vocab×classes broadcast (documents)
    "q_lr_quality",          // LR_ITERS gradient aggs over the persisted
                             // 4-column feature scan; model state is 4 plan
                             // literals at any corpus size (documents)
    "q_bpe_merges",          // corpus word-freq agg + vocab-bounded merge loop (documents)
    "q_scc_big",             // GraphX Pregel coloring SCC, SCC_ITERS-bounded (orders)
    "q_link_predict",        // wedge join keyed on middle vertex + top-K (orders)
    "q_span_corrupt",        // row-local hash geometry, zero-shuffle (documents)
    "q_ewma",                // one user-keyed window+agg, W-bounded terms (events)
    "q_audio_features",      // per-row WAV decode + framing flatMap (documents)
    "q_knn_join",            // broadcast probes + WindowGroupLimit top-k (embeddings)
    "q_walk_corpus",         // per-step node-keyed joins vs indexed adjacency (orders)
    "q_skipgram_pairs",      // walk-id-keyed self-join + pair agg (orders)
    "q_katz",                // integer power-iteration supersteps (orders;
                             // q_hits shares the shape with 2 joins/round)
    "q_itemsets",            // basket-local pair expansion + pair agg (lineitem)
    "q_attribution",         // per-user carry-forward window + O(24) agg (events)
    "q_sorted_neighborhood", // partitioned sort + fixed-width lead pairs
                             // (documents; candidates are N×(W−1) by
                             // construction, so even manufactured dups from
                             // replication stay linear)
    "q_embed_cov",           // row-local D² expansion, fixed-group agg (embeddings)
    "q_cube",                // Expand(4 grouping sets) + one hash agg (lineitem)
    "q_small_order",         // per-part agg rejoined to its fact (lineitem;
                             // parts gain members under replication — the
                             // partial agg absorbs the growth)
    "q_semi_join",           // orderkey-aligned left-semi with a residual
                             // condition (orders⋈lineitem; copies join copy-
                             // local keys, so match volume scales linearly)
    "q_anti_join",           // 1-row threshold broadcast + custkey anti join
                             // (customer is a 1× dim; the anti probe side is
                             // the replicated orders stream)
    "q_decile",              // exact ntile in a priority-partitioned window —
                             // the HONEST super-linear probe: 5 partition keys
                             // mean per-reducer volume grows ×mult (PERF.md
                             // documents the boundary-broadcast rendering that
                             // replaces it past a reducer's memory)
    "q_event_paths",         // user-keyed WindowGroupLimit + bounded path agg (events)
    "q_seasonal_error",      // (type×hour) agg + self-join on the bounded hourly frame (events)
    "q_zipf_slope",          // vocab-keyed counts + 200-row fit (documents)
    "q_funnel_time",         // user-keyed chained min-ts state + 2-row means (events)
    "q_cum_revenue",         // (prio×day) agg; windows run on the bounded daily frame (orders)
    "q_transitions",         // user-keyed lead window + |types|^2 matrix agg (events)
    "q_rake_keywords",       // doc-keyed phrase windows + vocab-bounded score join (documents)
    "q_asof_forward",        // union + one user-keyed carry-backward window (events)
    "q_cohort_ltv",          // per-user first-week agg + calendar-bounded matrix (events)
    "q_ab_test",             // ONE conditional partial+final agg, 1-row output (events)
    "q_pareto",              // per-customer agg; ranking window on the 1x customer dim (orders)
    "q_gini",                // same bounded-rank posture, exact decimal rank-moments (orders)
    "q_burstiness",          // (type x hour) count agg + O(types) moment rollup (events)
    "q_changepoint",         // prefix-sum SSE scan over the calendar-bounded series (events)
    "q_theil_sen",           // hours^2 pair slopes per type - calendar-bounded (events)
    "q_dup_ratio",           // source-keyed exact-distinct on content digests (documents)
    "q_snapshot_drift",      // 3 bounded category aggs + O(cats) KL arithmetic (documents)
    "q_phrase_search",       // phrase-term-filtered postings + (doc,pos) joins (documents)
    "q_len_histogram",       // bounded (lang x bucket) partial+final agg (documents)
    "q_oov_rate",            // split vocab distinct + vocab-keyed anti join (documents)
    "q_paragraph_dedup",     // digest-keyed recurrence agg + join-back (documents;
                             // same saturating-dup-set posture as q_substring_dup)
    "q_unigram_tokenize",    // corpus word-freq agg + driver EM fold +
                             // broadcast segmentation join (documents;
                             // q_unigram_lm shares the fold, minus the
                             // corpus-applied profile)
    "q_ngram_novelty",       // gram-keyed shuffle join, BOTH sides corpus-
                             // scale (documents; replicated docs re-seen
                             // grams saturate the train set — row flow
                             // stays linear like q_substring_dup)
    "q_mmr_select",          // corpus rel scan + TakeOrdered pool; the
                             // greedy rerank is pool-bounded driver work
                             // (embeddings)
    "q_pca_power",           // one D²-expansion covariance pass; power
                             // iteration rides the collected D×D matrix
                             // (embeddings)
    "q_char_entropy",        // char explode + two keyed aggs, all codegen
                             // (documents)
    "q_calibration",         // (doc,token,tf) collapse + vocab broadcast
                             // scores + O(bins) reliability agg (documents)
    "q_pca_scores",          // covariance pass + ONE broadcast-literal
                             // projection scan + O(labels) moment agg
                             // (embeddings)
    "q_hll_distinct",        // distinct pre-pass + fixed 2^p-register
                             // max-agg, O(m) final fold (events)
    "q_weighted_sample",     // zero-shuffle tokenize scan + TakeOrdered
                             // K-heap merge (documents)
    "q_auc",                 // NB broadcast scoring + (class, score)
                             // count agg + distinct-score prefix window
                             // (documents)
    "q_ann_recall",          // brute probe-set eval + cell-routed pruned
                             // scan, both top-k as WindowGroupLimit
                             // (embeddings)
    "q_ann_recall_kmeans",   // same eval over the Lloyd-trained cells —
                             // adds the probed q_kmeans training chain
                             // (embeddings)
    "q_profile",             // one scan, Expand multi-distinct, 1-row agg
                             // unpivoted (orders)
    "q_profile_wide",        // 11-column lineitem profile + mode/null_frac,
                             // same one-scan/one-Expand shape
    "q_holt_forecast",       // (type×hour) count agg; the sequential fold
                             // rides the calendar-bounded collect (events)
    "q_holt_winters",        // same agg + fold with the 24-slot seasonal
                             // state (events)
    "q_bradley_terry",       // basket self-join + (winner,loser) count;
                             // the MM fit rides the 25²-bounded driver
                             // matrix at any mult (lineitem)
    "q_betweenness_big",     // K fixed roots × bounded horizon: frontier
                             // stays copy-0-sized while the edge build
                             // side grows ×mult (orders)
    "q_ks_test",             // two keyed count aggs; ECDF windows ride the
                             // bounded distinct-length × sources grid
                             // (documents)
    "q_chi2",                // one (lang,source) agg; the statistic rides
                             // the category-bounded contingency grid
                             // (documents)
    "q_ddsketch",            // one (lang,len)-keyed agg; buckets, windows
                             // and rank picks all value-domain-bounded
                             // (documents)
    "q_hyperanf",            // per-round edge⋈register join with ≤m rows
                             // of state per vertex (orders)
    "q_cdc_chunks",          // stride-1 boundary scan (the q_suffix_dup
                             // extraction shape) + digest-keyed recurrence
                             // agg; same saturating-dup-set posture as
                             // q_substring_dup under replication (documents)
    "q_bleu",                // two-level (source, doc-bucket) lag pairing +
                             // (pair, n, gram-digest) count aggs — reducers
                             // see ≤BLEU_BKT docs or N/BLEU_BKT tails, and
                             // the gram shuffle moves 8-byte xxhash64 keys
                             // (documents)
    "q_mann_whitney",        // one value-keyed agg over the event stream;
                             // every later frame value-DOMAIN-bounded (2-dp
                             // grid), so ×mult only grows the scan (events)
    "q_kaplan_meier",        // user-keyed span agg; all KM windows ride the
                             // calendar-bounded day frame (events)
    "q_kcenter",             // K−1 broadcast-literal scans into
                             // TakeOrdered(1); centers driver-side
                             // (embeddings)
    "q_mmd_drift",           // one ⌊id/4⌋-keyed agg + row-local kernels
                             // (embeddings)
    "q_conformal",           // split scan + moment agg + |types|-reducer
                             // calibration rank — the q_decile posture
                             // (events)
    "q_quality_ensemble",    // digest-keyed keeper agg + join-back, signals
                             // row-local codegen, (source × 4)-bounded final
                             // agg (documents)
    "q_good_turing",         // gram-keyed counts collapse to the bounded
                             // count-of-counts frame; the GT algebra is a
                             // GT_MAX-row self-join (documents)
    "q_cohens_kappa",        // one conditional-count agg, 1-row output
                             // (documents)
    "q_priority_sample",     // zero-shuffle scan into TakeOrdered(K+1) +
                             // 101-row τ algebra (documents)
    "q_isotonic",            // the calibration chain's corpus-side aggs;
                             // the minimax join rides the ≤10-row decile
                             // frame (documents)
    "q_silhouette",          // one 2-probe plan-literal argmin scan + one
                             // cid-keyed agg — the q_kmeans assignment
                             // posture (embeddings)
    "q_cuped",               // one min/max agg + one user-keyed agg into a
                             // single global moment row (events)
    "q_bootstrap_ci",        // B-way per-row expansion collapses map-side
                             // to B rows/partition; downstream 40-row
                             // frames (events)
    "q_lof",                 // three capped broadcast kNN scans over the
                             // persisted corpus; P·k²-bounded algebra
                             // (embeddings)
    "q_mst")                 // Borůvka: log-V rounds of component-keyed
                             // min-edge aggs + pointer-doubling joins on
                             // component-count-sized frames (orders)
    // q_davies_bouldin: q_silhouette's assignment scan (probed) + K²-row
    // centroid algebra — no separate probe
    // q_bh_fdr: rides the q_ks_test scan (shared ksPerSource builder);
    // everything after is #sources-bounded — the scan shape is probed by
    // the drift family
    // q_sax: rides the q_changepoint (type, hour) frame — calendar-bounded
    // downstream by construction; the scan is the only ×mult term and that
    // shape is probed via q_window_agg-family gates everywhere above
    // q_gapfill: one filtered (user,day) agg, then everything rides the
    // (cohort × days)-bounded grid — the stride keeps the cohort a fixed
    // FRACTION of users, so the grid grows ×mult but each user's window
    // stays days-long; same bounded-window posture as q_sliding_features
    // (probed) with a far smaller stream — no separate probe
    // q_dataset_card: ONE source-keyed scan agg with row-local signal
    // columns + the q_dup_ratio digest distinct (probed) — no separate probe
    // q_dp_release: shape is q_hash_split (probed) minus the split column —
    // one partial+final agg to a bounded frame, then row-local algebra
    // q_k_anonymity / q_t_closeness: customer is a 1× dim in this harness
    // (the anti-join note above) — nothing to probe; the plans are one
    // QI-keyed partial agg + class-SIZE/bounded-histogram rollups (the
    // closeness joins are broadcast by construction), all linear
    // q_truss: each peel round IS q_clustering_big's ordered wedge join
    // (probed above via q_kcore_big/q_clustering_big family) over a set
    // that only shrinks — no separate probe
    // q_entity_match: like q_knn_join, quadratic BY CONSTRUCTION under
    // replication (shifted custkeys land in the same nation blocks, so
    // Σblock² grows ×mult²) — its scaling story is the blocking bound
    // q_fuzzy_decontaminate / q_lsh_quality: minhash family, deliberately
    // absent (header note); the eval gate's inputs are the banded join and
    // the PPJoin chain, both with their own scaling stories
    // q_containment: same manufactured-pair geometry — every cross-copy
    // text pair is a TRUE containment-1.0 pair, Θ(mult²) real output; its
    // scaling story is the prefix-filter candidate bound
    // Σ_g df_prefix(g)·df_full(g) with rarest-first prefixes (PERF.md)
    // q_phash_near: replicated texts decode to IDENTICAL rasters → every
    // cross-copy pair is a TRUE ham-0 near-dup, so replication manufactures
    // Θ(mult²) real output pairs (the minhash argument in hash space); its
    // scaling story is the 4×2^16 band-bucket candidate bound (PERF.md)
    // q_semantic_dedup / q_curation_funnel: replicated embeddings are IDENTICAL
    // vectors — every cross-copy pair is a true cos=1 near-dup, so replication
    // manufactures Θ(mult²) REAL pairs (the minhash argument, in vector space);
    // their scaling story is the per-cell blocked-join bound (PERF.md)

  def main(rawArgs: Array[String]): Unit = {
    // --cold: clear the CacheManager before EVERY timed run, so a gate
    // whose plan persists an intermediate frame (q_cdc_chunks,
    // q_suffix_dup — CacheManager dedups the identical sub-plan across
    // calls) re-pays its full pipeline at each multiplier and the time
    // curve needs no "rides the persisted result" footnote. Default
    // (warm) keeps the historical min-of-2 semantics.
    val cold = rawArgs.contains("--cold")
    val args = rawArgs.filterNot(_ == "--cold")
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val mults = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
                else Seq(1, 4, 8)
    // optional third arg: comma-separated probe subset (dev iteration on
    // one family without re-timing all 44)
    val probes = if (args.length > 2) PROBES.filter(args(2).split(",").toSet)
                 else PROBES
    val spark = Session.local(Some(sfDir))
    import Session.noop
    noop(spark.range(1000).selectExpr("sum(id)").toDF())

    // cache key includes the SOURCE dir: a probe against a different SF
    // must rebuild, not silently reuse another input's replicas
    // v2: orders replicates with shifted custkeys (k-core probe) — new dirs
    val srcTag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val results = mults.map { m =>
      val dir = s"/tmp/graft_scale_v2_${srcTag}_$m"
      if (!Files.exists(Paths.get(dir, "_built"))) build(spark, sfDir, m, dir)
      // SF-scaled AQE fan-out, re-pointed at THIS multiple's replica dir
      // (runtime SQLConf — the probe's whole point is partition posture
      // that tracks input size; see Session.scaledInitialPartitions)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Session.scaledInitialPartitions(dir, Session.defaultCpus).toString)
      // warm every table through the noop sink (parquet footers + codegen)
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")
        .foreach(t => noop(spark.read.parquet(s"$dir/$t.parquet")))
      noop(Tables.events(spark, dir))
      val times = probes.map { name =>
        def once(): Double = {
          if (cold) spark.catalog.clearCache()
          val t0 = System.nanoTime()
          noop(SparkEntry.queries(name)(spark, dir))
          (System.nanoTime() - t0) / 1e9
        }
        val t = math.min(once(), once())
        spark.catalog.clearCache()
        println(f"SCALE $m%dx $name%-18s $t%.2f s${if (cold) " (cold)" else ""}")
        name -> t
      }
      m -> times.toMap
    }.toMap

    val json = probes.map { q =>
      val per = mults.map(m => s""""${m}": ${f"${results(m)(q)}%.3f"}""").mkString(",")
      s""""$q":{$per}"""
    }.mkString(",")
    println(s"""{"probe":"scale","mode":"${if (cold) "cold" else "warm"}","sf":"$sfDir","mults":[${mults.mkString(",")}],"queries":{$json}}""")
    spark.stop()
  }

  /** Write mult disjoint key-shifted copies of the scaled tables (and one
    * copy of the rest) under dir. Events keep whatever ts physical type
    * the source stores (nanos-long under the legacy conf, or micros
    * timestamp) so Tables.events' schema-adaptive branch is exercised
    * identically at every multiple. */
  // (shared by PairScaleProbe for its unscaled tables)
  def build(s: SparkSession, src: String, mult: Int, dir: String): Unit = {
    def copies(df: DataFrame, shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => shift(df, i)).reduce(_ unionAll _)
    copies(s.read.parquet(s"$src/documents.parquet"),
      (d, i) => d.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    copies(s.read.parquet(s"$src/events.parquet"),
      (d, i) => d.withColumn("event_id", col("event_id") + lit(i * 100000000L))
                 .withColumn("user_id", col("user_id") + lit(i * 1000000L)))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    copies(s.read.parquet(s"$src/lineitem.parquet"),
      (d, i) => d.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L)))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // copy 0 keeps vec_ids 0..K-1, so probe/init vectors exist at every mult
    copies(s.read.parquet(s"$src/embeddings.parquet"),
      (d, i) => d.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // orders: shifted custkeys land in the SAME (week, priority) cohorts, so
    // the co-purchase chains get mult× longer — edge count grows linearly
    // while per-node degree stays ≈ 2×cohort-memberships (the right "bigger
    // day of traffic" shape for the k-core peel)
    copies(s.read.parquet(s"$src/orders.parquet"),
      (d, i) => d.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
                 .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L)))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => s.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet"))
    Files.createFile(Paths.get(dir, "_built"))
  }
}

/** Scale probe for the blocked PAIR-EXPANSION family (entity match,
  * PPJoin Jaccard pairs, the IVF-cell cosine trio) — the operators whose
  * candidate volume the plain [[ScaleProbe]] replication would distort:
  * key-shifted IDENTICAL payloads manufacture Θ(mult²) TRUE near-dup
  * pairs (cos = 1 / Jaccard = 1 / levenshtein = 0 across copies), a
  * worst-case dup corpus rather than a bigger day of traffic. Here every
  * copy is a DISJOINT population:
  *  - customer: custkeys shift AND c_name is re-derived from the shifted
  *    key, so cross-copy names differ in their digit prefix (nation
  *    blocks still grow ×mult — the stressor the block cap answers);
  *  - documents: every token gets a per-copy suffix — within-copy
  *    shingle/dup structure is isomorphic to the original, cross-copy
  *    Jaccard is 0 (disjoint vocabularies);
  *  - embeddings: copies >0 add deterministic per-component noise at
  *    ~3× the component σ (sin-hash, no RNG), so cross-copy cosines sit
  *    far below COS_T while labels — and so the FIXED cell count the
  *    sub-bucket cap answers — are preserved.
  * A sub-quadratic time curve here is the evidence the r10 verdict asked
  * for: pair volume provably stops growing quadratically. */
object PairScaleProbe {
  val PROBES = Seq(
    "q_entity_match",    // nation blocks ×mult → ER_BLOCK_CAP path
    "q_jaccard_pairs",   // PPJoin prefix-filtered pairs, disjoint vocabs
    "q_cosine_blocked",  // fixed cells ×mult → CELL_CAP sub-buckets
    "q_hard_negatives",  // same blocking + per-anchor WindowGroupLimit
    "q_semantic_dedup",  // blocked pairs + min-label component flood
    "q_bitext_mine")     // blocked cross-lang pairs + two k-NN pool windows

  /** Per-component jitter amplitude for embedding copies — uniform via a
    * sin-hash in [−0.6, 0.6): noise σ ≈ 0.35 vs component σ ≈ 0.125, so
    * cos(original, jittered) ≈ 0.34 < COS_T = 0.45. */
  val JITTER = 0.6

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val mults = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
                else Seq(1, 16, 64)
    val probes = if (args.length > 2) PROBES.filter(args(2).split(",").toSet)
                 else PROBES
    val spark = Session.local(Some(sfDir))
    import Session.noop
    noop(spark.range(1000).selectExpr("sum(id)").toDF())

    val srcTag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val results = mults.map { m =>
      val dir = s"/tmp/graft_pair_v1_${srcTag}_$m"
      if (!Files.exists(Paths.get(dir, "_built"))) build(spark, sfDir, m, dir)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Session.scaledInitialPartitions(dir, Session.defaultCpus).toString)
      Seq("customer", "documents", "embeddings", "nation")
        .foreach(t => noop(spark.read.parquet(s"$dir/$t.parquet")))
      val times = probes.map { name =>
        def once(): Double = {
          val t0 = System.nanoTime()
          noop(SparkEntry.queries(name)(spark, dir))
          (System.nanoTime() - t0) / 1e9
        }
        // COLD is the scaling signal here: three of the five queries end
        // in a persist of their final pair frame, so a min-of-2 would
        // time pass 2's re-sort of the cache, not the pair scan
        val cold = once()
        val warm = once()
        spark.catalog.clearCache()
        println(f"PAIRSCALE $m%dx $name%-18s cold $cold%.2f s  warm $warm%.2f s")
        name -> cold
      }
      m -> times.toMap
    }.toMap

    val json = probes.map { q =>
      val per = mults.map(m => s""""${m}": ${f"${results(m)(q)}%.3f"}""").mkString(",")
      s""""$q":{$per}"""
    }.mkString(",")
    println(s"""{"probe":"pairscale","sf":"$sfDir","mults":[${mults.mkString(",")}],"queries":{$json}}""")
    spark.stop()
  }

  def build(s: SparkSession, src: String, mult: Int, dir: String): Unit = {
    def copies(df: DataFrame, shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(i => shift(df, i)).reduce(_ unionAll _)
    copies(s.read.parquet(s"$src/customer.parquet"),
      (d, i) => d.withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L))
                 .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    copies(s.read.parquet(s"$src/documents.parquet"),
      (d, i) => {
        val shifted = d.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        if (i == 0) shifted
        else shifted.withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"~$i"))), " "))
      })
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    copies(s.read.parquet(s"$src/embeddings.parquet"),
      (d, i) => {
        val shifted = d.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
        if (i == 0) shifted
        else shifted.withColumn("embedding", expr(
          s"""transform(embedding, (x, j) -> cast(x + $JITTER *
             |  ((sin(vec_id * 12.9898 + j * 78.233 + $i * 37.719) * 43758.5453)
             |   - floor(sin(vec_id * 12.9898 + j * 78.233 + $i * 37.719) * 43758.5453)
             |   - 0.5) * 2 as float))""".stripMargin))
      })
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Seq("region", "nation", "supplier", "part", "orders", "lineitem", "events")
      .foreach { t =>
        if (t == "events") s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        s.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    Files.createFile(Paths.get(dir, "_built"))
  }
}
