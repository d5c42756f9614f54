package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge

import graft.operators.{Gate, SkewOps}

/** The probe CLI (dev tool): what a gate's plan is, what it costs, and how
  * that cost grows with its input.
  *
  * {{{
  * runMain graft.Probe explain <sfDir> [gate...]        plan + cost (every gate when none named)
  * runMain graft.Probe scale   <sfDir> <m,m,..> [g,g,..] cost on m× replicas of sfDir
  * runMain graft.Probe skew    <sfDir> <m,m,..>         unsalted vs salted hot-key join
  * }}}
  *
  * Every measurement is one pass: `clearCache`, a cold run, then a warm run
  * reusing whatever the cold run persisted. A run reports frame-build
  * seconds (statement-style gates write while BUILDING, and the iterative
  * gates do all their work there, so exec-only timing would hide their
  * cost), execution seconds (plan + run through the noop sink) and, over
  * both, the Spark jobs, stages, tasks, summed task seconds and the max and
  * median task seconds — the split that tells fixed per-job latency ×
  * round count apart from data volume, and a straggler apart from a slow
  * stage. Wall time on local[N] understates a straggler (the other cores
  * absorb the remaining partitions while one grinds the hot key); on a
  * cluster the stage ends when its last task does, so max/median is the
  * number that predicts cluster behavior.
  *
  * Each pass prints `[time] <gate> [<m>x] cold|warm …`; a gate that throws
  * prints `[error] <gate> <m>x <message>` and the remaining gates still
  * run. The last line is one JSON object with every run and every error,
  * and the probe exits 1 after stopping Spark when anything failed.
  *
  * At each multiple the session's AQE initial partition count is re-pointed
  * at the directory the gates read ([[Session.scaledInitialPartitions]]),
  * and every table is warmed ([[Tables.warm]]) before the first pass.
  */
object Probe {
  /** Replicas shift the entity keys (doc_id / user_id / event_id /
    * l_orderkey / o_orderkey / o_custkey) so per-entity state grows in
    * COUNT, not in size — each copy is a disjoint population, which is how
    * a bigger day of real traffic looks; dims are copied 1×. The minhash
    * family is deliberately absent: replicating identical texts
    * manufactures Θ(mult²) true near-dup pairs per document — a worst-case
    * dup corpus, not a bigger one (its scaling story is the banded
    * candidate bound, PERF.md). */
  val SCALE_PROBES: Seq[String] = Seq(
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

  /** The blocked PAIR-EXPANSION family, whose candidate volume key-shifted
    * replicas would distort: IDENTICAL payloads manufacture Θ(mult²) TRUE
    * near-dup pairs (cos = 1 / Jaccard = 1 / levenshtein = 0 across
    * copies). These run on [[Disjoint]] replicas, and a sub-quadratic time
    * curve there is the evidence that pair volume stops growing
    * quadratically. */
  val PAIR_PROBES: Seq[String] = Seq(
    "q_entity_match",    // nation blocks ×mult → ER_BLOCK_CAP path
    "q_jaccard_pairs",   // PPJoin prefix-filtered pairs, disjoint vocabs
    "q_cosine_blocked",  // fixed cells ×mult → CELL_CAP sub-buckets
    "q_hard_negatives",  // same blocking + per-anchor WindowGroupLimit
    "q_semantic_dedup",  // blocked pairs + min-label component flood
    "q_bitext_mine")     // blocked cross-lang pairs + two k-NN pool windows

  /** How a replica multiplies an SF dir: each `scaled` table is written as
    * `mult` unioned copies, copy `i` transformed by its function; every
    * other table is copied once. */
  final case class Recipe(tag: String, scaled: Map[String, (DataFrame, Int) => DataFrame])

  private def shift(keys: (String, Long)*)(d: DataFrame, i: Int): DataFrame =
    keys.foldLeft(d) { case (acc, (k, by)) => acc.withColumn(k, col(k) + lit(i * by)) }

  /** Key-shifted copies. Orders shift custkeys too: the shifted customers
    * land in the SAME (week, priority) cohorts, so co-purchase chains grow
    * mult× longer — edge count grows linearly while per-node degree stays
    * ≈ 2×cohort-memberships (the k-core peel's bigger day of traffic).
    * Copy 0 keeps vec_ids 0..K-1, so probe/init vectors exist at every
    * mult. */
  val KeyShifted: Recipe = Recipe("shifted", Map(
    "documents" -> shift("doc_id" -> 10000000L),
    "events" -> shift("event_id" -> 100000000L, "user_id" -> 1000000L),
    "lineitem" -> shift("l_orderkey" -> 100000000L),
    "embeddings" -> shift("vec_id" -> 10000000L),
    "orders" -> shift("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L)))

  /** Per-component jitter amplitude for embedding copies — uniform via a
    * sin-hash in [−0.6, 0.6): noise σ ≈ 0.35 vs component σ ≈ 0.125, so
    * cos(original, jittered) ≈ 0.34 < COS_T = 0.45. */
  private val JITTER = 0.6

  /** Disjoint-population copies for [[PAIR_PROBES]]:
    *  - customer: custkeys shift AND c_name is re-derived from the shifted
    *    key, so cross-copy names differ in their digit prefix (nation
    *    blocks still grow ×mult — the stressor the block cap answers);
    *  - documents: every token of copy i > 0 gets the suffix `~i` —
    *    within-copy shingle/dup structure is isomorphic to the original,
    *    cross-copy Jaccard is 0 (disjoint vocabularies);
    *  - embeddings: copies > 0 add deterministic per-component noise at
    *    ~3× the component σ (sin-hash, no RNG), so cross-copy cosines sit
    *    far below COS_T while labels — and so the FIXED cell count the
    *    sub-bucket cap answers — are preserved. */
  val Disjoint: Recipe = Recipe("disjoint", Map(
    "customer" -> ((d, i) => shift("c_custkey" -> 10000000L)(d, i)
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))),
    "documents" -> ((d, i) =>
      if (i == 0) d
      else shift("doc_id" -> 10000000L)(d, i).withColumn("text",
        array_join(transform(split(col("text"), " "), t => concat(t, lit(s"~$i"))), " "))),
    "embeddings" -> ((d, i) =>
      if (i == 0) d
      else shift("vec_id" -> 10000000L)(d, i).withColumn("embedding", expr(
        s"""transform(embedding, (x, j) -> cast(x + $JITTER *
           |  ((sin(vec_id * 12.9898 + j * 78.233 + $i * 37.719) * 43758.5453)
           |   - floor(sin(vec_id * 12.9898 + j * 78.233 + $i * 37.719) * 43758.5453)
           |   - 0.5) * 2 as float))""".stripMargin)))))

  /** The `mult`× replica of `src` under `root` (default `java.io.tmpdir`),
    * built once: the dir name carries the recipe, the source and the mult,
    * and a `_built` marker is written last, so an interrupted build is
    * redone. Events are copied raw (a NANOS ts as the long the legacy conf
    * reads it as), so [[Tables.events]]' schema-adaptive branch is
    * exercised identically at every multiple. */
  def replica(spark: SparkSession, src: String, recipe: Recipe, mult: Int,
      root: String = System.getProperty("java.io.tmpdir")): String = {
    val srcTag = Paths.get(src).toAbsolutePath.normalize.toString
      .replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
    val dir = Paths.get(root, s"graft_${recipe.tag}_${srcTag}_$mult").toString
    if (!Files.exists(Paths.get(dir, "_built"))) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables.names.foreach { t =>
        val df = spark.read.parquet(Tables.path(src, t))
        recipe.scaled.get(t).fold(df)(f => (0 until mult).map(f(df, _)).reduce(_ unionAll _))
          .write.mode("overwrite").parquet(Tables.path(dir, t))
      }
      Files.createFile(Paths.get(dir, "_built"))
    }
    dir
  }

  /** Jobs, stages and task durations of every action since the last [[take]]. */
  private[graft] final class Meter extends SparkListener {
    private var jobs, stages = 0
    private val taskMs = mutable.ArrayBuffer.empty[Long]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized { if (e.taskInfo != null) taskMs += e.taskInfo.duration }
    /** Drain the (asynchronous) listener bus, then return and reset the
      * counters: (jobs, stages, sorted task ms). */
    def take(spark: SparkSession): (Int, Int, Array[Long]) = {
      ListenerBusBridge.drain(spark.sparkContext)
      synchronized {
        val out = (jobs, stages, taskMs.toArray.sorted)
        jobs = 0; stages = 0; taskMs.clear()
        out
      }
    }
  }

  /** The cost of one run. */
  final case class Run(buildS: Double, execS: Double, jobs: Int, stages: Int, tasks: Int,
      taskS: Double, taskMaxS: Double, taskMedS: Double) {
    override def toString: String =
      f"build $buildS%.3f s  exec $execS%.3f s  jobs $jobs  stages $stages  tasks $tasks  " +
        f"task $taskS%.3f s"
    def json: String =
      f"""{"build_s":$buildS%.3f,"exec_s":$execS%.3f,"jobs":$jobs,"stages":$stages,""" +
        f""""tasks":$tasks,"task_s":$taskS%.3f,"task_max_s":$taskMaxS%.3f,""" +
        f""""task_med_s":$taskMedS%.3f}"""
  }

  /** Everything one probe invocation measured: the (cold, warm) runs per
    * gate and multiple, and each failure, in the order they happened. The
    * listener stays registered on `spark` until [[close]]. */
  final class Report(spark: SparkSession, probe: String, sfDir: String, mults: Seq[Int]) {
    val runs = mutable.LinkedHashMap.empty[(String, Int), (Run, Run)]
    val errors = mutable.LinkedHashMap.empty[(String, Int), String]
    private val meter = new Meter
    spark.sparkContext.addSparkListener(meter)

    private def run(mk: () => DataFrame): (DataFrame, Run) = {
      meter.take(spark)
      val tb = System.nanoTime()
      val df = mk()
      val t0 = System.nanoTime()
      Session.noop(df)
      val t1 = System.nanoTime()
      val (jobs, stages, ms) = meter.take(spark)
      df -> Run((t0 - tb) / 1e9, (t1 - t0) / 1e9, jobs, stages, ms.length, ms.sum / 1e3,
        ms.lastOption.getOrElse(0L) / 1e3, if (ms.isEmpty) 0.0 else ms(ms.length / 2) / 1e3)
    }

    /** One pass of `gate` at `mult`; `show` sees the cold run's frame before
      * the `[time]` lines print. A throw is reported, not propagated. */
    def pass(gate: String, mult: Int, show: DataFrame => Unit = _ => ())(mk: () => DataFrame): Unit =
      try {
        spark.catalog.clearCache()
        val (df, cold) = run(mk)
        val (_, warm) = run(mk)
        runs((gate, mult)) = (cold, warm)
        show(df)
        val label = if (probe == "explain") gate else s"$gate ${mult}x"
        println(s"[time] $label cold $cold")
        println(s"[time] $label warm $warm")
      } catch { case e: Throwable => fail(gate, mult, e) }

    /** Print `[error] <gate> <mult>x <message>` and keep it for the JSON line. */
    def fail(gate: String, mult: Int, e: Throwable): Unit = {
      val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
        .getOrElse(e.getClass.getName).take(300)
      println(s"[error] $gate ${mult}x $msg")
      errors((gate, mult)) = msg
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(meter)

    /** `{"probe", "sf", "mults", "gates": {gate: {mult: {cold, warm}}}, "errors": {gate: {mult: msg}}}` */
    def json: String = {
      def byGate[V](m: mutable.LinkedHashMap[(String, Int), V])(v: V => String): String =
        m.keys.map(_._1).toSeq.distinct.map { g =>
          Bench.jstr(g) + m.collect { case ((`g`, k), x) => s""""$k":${v(x)}""" }
            .mkString(":{", ",", "}")
        }.mkString("{", ",", "}")
      s"""{"probe":"$probe","sf":${Bench.jstr(sfDir)},"mults":${mults.mkString("[", ",", "]")},""" +
        s""""gates":${byGate(runs) { case (c, w) => s"""{"cold":${c.json},"warm":${w.json}}""" }},""" +
        s""""errors":${byGate(errors)(Bench.jstr)}}"""
    }
  }

  /** Re-point AQE's initial partition count at `dir` and warm its tables. */
  private def at(spark: SparkSession, dir: String): Unit = {
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      Session.scaledInitialPartitions(dir, spark.sparkContext.defaultParallelism).toString)
    Tables.warm(spark, dir).foreach { case (t, e) =>
      System.err.println(s"[probe] warm-up failed for $t: ${e.getMessage}")
    }
  }

  /** Each gate's formatted physical plan and one pass, on `sfDir` itself. */
  def explain(spark: SparkSession, sfDir: String, gates: Seq[Gate]): Report = {
    val r = new Report(spark, "explain", sfDir, Seq(1))
    at(spark, sfDir)
    gates.foreach { g =>
      r.pass(g.name, 1, df => { println(s"===== ${g.name} ====="); df.explain("formatted") })(
        () => g.run(spark, sfDir))
    }
    r
  }

  /** One pass per probe gate per multiple, each gate on the replica its
    * family needs: [[Disjoint]] for [[PAIR_PROBES]], [[KeyShifted]] else. */
  def scale(spark: SparkSession, sfDir: String, mults: Seq[Int], gates: Seq[String],
      root: String = System.getProperty("java.io.tmpdir")): Report = {
    val r = new Report(spark, "scale", sfDir, mults)
    for {
      m <- mults
      (recipe, names) <- Seq(KeyShifted -> gates.filterNot(PAIR_PROBES.contains),
        Disjoint -> gates.filter(PAIR_PROBES.contains)) if names.nonEmpty
    } try {
      val dir = replica(spark, sfDir, recipe, m, root)
      at(spark, dir)
      names.foreach(n => r.pass(n, m)(() => SparkEntry.queries(n)(spark, dir)))
    } catch { case e: Throwable => names.foreach(r.fail(_, m, e)) }
    r
  }

  /** What salting buys under a manufactured hot key, measured instead of
    * asserted: lineitem ⋈ supplier with every row whose l_orderkey ≡ 0
    * (mod 5) — exactly 20% of the fact — reassigned to ONE hot supplier,
    * then the q_salted_join rollup, on the key-shifted replica at each
    * multiple:
    *   - `unsalted`: plain equi-join with the same shuffle_hash hint the
    *     salted path uses (broadcast would hide the skew — and at 100 TB
    *     the dim doesn't broadcast), so the hot key's rows all land on one
    *     reducer — the straggler;
    *   - `salted`: [[SkewOps.saltedJoin]], hot key spread over SALTS
    *     reducers.
    * Both aggregates are collected and compared before any timing — the
    * probe refuses to time two computations that disagree. AQE's skew-join
    * mitigation would partially rescue the unsalted run, so it is turned
    * off on `spark` to isolate what SALTING buys. */
  def skew(spark: SparkSession, sfDir: String, mults: Seq[Int]): Report = {
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val r = new Report(spark, "skew", sfDir, mults)
    mults.foreach { m =>
      try {
        val dir = replica(spark, sfDir, KeyShifted, m)
        at(spark, dir)
        val dim = Tables.supplier(spark, dir)
          .select(col("s_suppkey").as("suppkey"), col("s_name"))
        val hot = dim.agg(min(col("suppkey"))).head().getLong(0)
        val fact = Tables.lineitem(spark, dir)
          .select(col("l_suppkey").as("suppkey"), col("l_orderkey"), col("l_quantity"))
          .withColumn("suppkey",
            when(pmod(col("l_orderkey"), lit(5)) === 0, lit(hot)).otherwise(col("suppkey")))
        def rollup(joined: DataFrame): DataFrame = joined
          .groupBy(col("suppkey"), col("s_name"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            count(lit(1)).as("cnt"))
        val unsalted = rollup(fact.join(dim.hint("shuffle_hash"), Seq("suppkey")))
        val salted = rollup(SkewOps.saltedJoin(fact, dim, "suppkey", "l_orderkey", SkewOps.SALTS))
        def rows(df: DataFrame) = df.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).sortBy(_._1)
        require(rows(unsalted).sameElements(rows(salted)),
          s"salted and unsalted joins disagree at ${m}x — probe void")
        r.pass("unsalted", m)(() => unsalted)
        r.pass("salted", m)(() => salted)
      } catch { case e: Throwable => r.fail("skew", m, e) }
    }
    r
  }

  def main(args: Array[String]): Unit = {
    def mults(s: String) = {
      val ms = s.split(",").map(_.toInt).toSeq
      require(ms.forall(_ > 0), s"multiples must be positive: $s")
      ms
    }
    // resolve every argument before Spark starts
    val probe: SparkSession => Report = args.toSeq match {
      case Seq("explain", sf, names @ _*) =>
        val gates = if (names.isEmpty) SparkEntry.gates else names.map(SparkEntry.gate)
        explain(_, sf, gates)
      case Seq("scale", sf, ms, rest @ _*) if rest.size <= 1 =>
        val gates = rest.headOption.fold(SCALE_PROBES ++ PAIR_PROBES)(_.split(",").toSeq)
        val unknown = gates.filterNot((SCALE_PROBES ++ PAIR_PROBES).contains)
        require(unknown.isEmpty, s"not a scale probe: ${unknown.mkString(", ")}")
        val m = mults(ms)
        scale(_, sf, m, gates)
      case Seq("skew", sf, ms) =>
        val m = mults(ms)
        skew(_, sf, m)
      case _ =>
        System.err.println("usage: graft.Probe explain <sfDir> [gate...] | " +
          "scale <sfDir> <m,m,..> [gate,gate,..] | skew <sfDir> <m,m,..>")
        sys.exit(2)
    }
    val spark = Session.local(Some(args(1)))
    val report = probe(spark)
    println(report.json)
    spark.stop()
    if (report.errors.nonEmpty) sys.exit(1)
  }
}
