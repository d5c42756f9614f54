package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-analytics operators rounding out the training-data pipeline
  * surface (SURVEY.md §2.5 north-star ops, beyond the reference):
  * benchmark decontamination, unigram-LM surprisal scoring, per-document
  * TF-IDF key terms, and the reporting shapes (ROLLUP, PIVOT) a corpus
  * dashboard is built from.
  *
  * Scale posture: every query is explode → keyed agg/join — the shuffle
  * keys are tokens/n-grams (bounded by vocab), never documents; the only
  * whole-row movement is the per-doc final agg keyed by doc_id.
  */
object CorpusOps {
  /** Decontamination n-gram width. Published pipelines collide 8–13-gram
    * spans against benchmark text (GPT-3 appx. C flavor); the synthetic
    * corpus draws from a ~30-word vocabulary, so 3-grams are the width at
    * which overlap is informative here. */
  val DECON_K = 3

  /** Every doc_id ≡ 0 (mod this) plays the "benchmark" split. (`final`:
    * constant-folded, so DedupOps's fuzzy-decontamination oracle can
    * reference it with no object-init cycle.) */
  final val BENCH_MOD = 41L

  /** Key terms kept per document by [[qTfidfTerms]]. */
  val TFIDF_TOP = 3

  /** n-gram width for the train→held-out novelty (memorization) metric.
    * Published analyses use 8–13-gram overlap (Lee et al. 2022; GPT-3
    * appx. C); on the ~30-word synthetic vocabulary 4-grams are the width
    * where the metric discriminates (measured: mean novelty 0.94 with a
    * near-zero tail flagging memorized docs, vs 0.46 at 3 and ≈0.96 flat
    * at ≥5). */
  val NOV_N = 4

  /** Fixed pivot columns for [[qPivotLangs]] (the langid label set). */
  val LANGS = Seq("de", "en", "es", "fr", "zh")

  /** Shared per-doc distinct-gram stage (persisted: bench and probe
    * branches both consume it — no cross-branch CSE). */
  private def gramStage(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), Fns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(Fns.shinglesOfTokens(col("toks"), col("text"), DECON_K)).as("gs"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Distinct grams of the benchmark split. NOT persisted here — the
    * single-consumer exact query reads it once; multi-consumer callers
    * persist the returned frame themselves. */
  private def benchGrams(grams: DataFrame): DataFrame =
    grams.filter(col("doc_id") % BENCH_MOD === 0)
      .select(explode(col("gs")).as("gr")).distinct()

  /** Benchmark decontamination — flag training docs sharing any
    * [[DECON_K]]-gram with the held-out benchmark split. The flag is an
    * integer collision count (no float threshold), so the gate is exact.
    *
    * Plan: distinct grams stay row-local (array algebra); the probe→bench
    * join is keyed by the gram string. At 100 TB the bench side is a
    * fixed-size eval suite — a broadcast — while the probe side streams;
    * locally AQE makes that call. The gram stage feeds both branches and
    * Spark has no cross-branch CSE, so it is persisted.
    */
  val qDecontaminate: Q = (s, d) => {
    val grams = gramStage(s, d)
    val bench = benchGrams(grams)
    // posexplode_outer: gs is never empty (shingles fall back to the whole
    // trimmed text), and outer keeps InferFiltersFromGenerate from cloning
    // the gram projection into a filter (see DedupOps / PERF.md).
    val probe = grams.filter(col("doc_id") % BENCH_MOD =!= 0)
      .select(col("doc_id"), posexplode_outer(col("gs")))
      .select(col("doc_id"), col("col").as("gr"))
    val hits = probe.join(bench, Seq("gr"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val tot = probe.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    // stage the coalesce in a prior withColumn — re-aliasing n_hit in the
    // same select that reads it is the lateral-alias trap (CLAUDE.md)
    tot.join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        Fns.roundP(col("n_hit").cast("double") / col("n_grams"), 4).as("overlap_frac"),
        (col("n_hit") >= 1).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Train→held-out n-gram novelty — the memorization-risk readout an
    * eval-set release ships (Lee et al. 2022's novel-n-gram analysis;
    * the GPT-3 appx.-C overlap audit, as a per-doc FRACTION rather than
    * q_decontaminate's boolean): for every doc OUTSIDE the training split
    * ([[graft.operators.DedupOps.splitOf]] — the same hash split the
    * held-out LM gates train/score on), the fraction of its distinct
    * [[NOV_N]]-gram spans NOT present anywhere in the training split.
    * Near-zero novelty = a train near-copy leaking into eval.
    *
    * Plan/scale: gram extraction is row-local array algebra; the ONLY
    * shuffles are keyed by the gram string — one distinct over the train
    * side, one join against the held-out side, one doc-keyed agg. Unlike
    * q_decontaminate (fixed-size bench set → broadcast), BOTH sides here
    * are corpus-scale, so the join is an honest gram-keyed shuffle join,
    * co-partitioned on the gram — at 100 TB, hash the gram to a 16-byte
    * digest before the exchange (q_substring_dup's posture) so the
    * shuffle carries digests, not text. */
  val qNgramNovelty: Q = (s, d) => {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), Fns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        graft.operators.DedupOps.splitOf(col("doc_id")).as("split"),
        array_distinct(Fns.shinglesOfTokens(col("toks"), col("text"), NOV_N)).as("gs"))
      .persist(StorageLevel.MEMORY_AND_DISK) // train + held-out consumers
    val train = grams.filter(col("split") === "train")
      .select(explode(col("gs")).as("gr")).distinct()
    // inner explode: gs is never empty (shinglesOfTokens falls back to the
    // whole text), the generate child is a bare persisted attribute, and
    // the outer variant drops the corpus-scale stage out of codegen
    // (CLAUDE.md generator rule; pos was unused)
    val held = grams.filter(col("split") =!= "train")
      .select(col("doc_id"), col("split"), explode(col("gs")).as("gr"))
    val seen = held.join(train, Seq("gr"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
    val tot = held.groupBy("doc_id", "split").agg(count(lit(1)).as("n_grams"))
    tot.join(seen, Seq("doc_id"), "left")
      .withColumn("n_seen", coalesce(col("n_seen"), lit(0L)))
      .select(col("doc_id"), col("split"), col("n_grams"), col("n_seen"),
        Fns.roundP(lit(1.0) - col("n_seen").cast("double") / col("n_grams"), 4)
          .as("novelty_frac"))
      .orderBy("doc_id")
  }

  /** Good–Turing gram width and reported count ceiling. Trigrams, not
    * unigrams: the synthetic corpus draws from a ~31-word vocabulary
    * whose every unigram count is ≥ 26 (measured) — the count-of-counts
    * regime GT prices (hapaxes, doubletons) only exists at the n-gram
    * level (9,424 trigram hapaxes at sf0.01). Rows above r = 10 hit
    * N_{r+1} gaps where the raw estimator is undefined (the Gale–Sampson
    * smoothing regime); the pipeline use is the low-r mass anyway. */
  val GT_N = 3
  val GT_MAX = 10

  /** Simple Good–Turing frequency smoothing (Good 1953; Gale & Sampson
    * 1995) over corpus trigram counts: N_r = |{g : c(g) = r}|, smoothed
    * count r_star = (r+1)·N_{r+1}/N_r, smoothed probability r_star/N.
    * The r = 1 row IS the missing-mass estimate (P₀ = N₁/N — the
    * probability the next trigram drawn is unseen), which prices
    * [[qNgramNovelty]]'s novelty rate from inside the corpus instead of
    * against a held-out split, and completes the LM-smoothing family
    * beside stupid backoff (q_backoff_lm) and Kneser–Ney (q_kneser_ney).
    *
    * Exactness: every count is an integer (long) end-to-end; r_star and p_gt
    * are single double divisions of integer-valued operands, written as
    * the identical expression tree in the oracle. Scale: corpus → gram
    * counts (gram-keyed agg, the q_decontaminate stream shape), grams →
    * count-of-counts (≤ distinct-count-values rows), then a GT_MAX-row
    * self-join + 1-row total broadcast — bounded. */
  val qGoodTuring: Q = (s, d) => {
    // r16 optimization (guide §2.3/§2.4 + PERF.md r16): the first cut
    // (a) materialized every trigram as a concat_ws STRING inside a
    // transform whose full tokenize+slice+concat tree was then CLONED
    // into the InferFiltersFromGenerate scan filter (~6 evaluations of
    // the regex/split per row), and (b) re-executed the whole
    // corpus→gram→count subtree THREE times (tot / nr1 / join consumers,
    // no cross-branch CSE). Now: explode token POSITIONS (the generate
    // child is a cheap sequence over an attribute, nothing expensive to
    // clone), identify each gram by an 8-byte xxhash64 of its token
    // slice (the q_suffix_dup digest discipline — gram text never
    // reaches the output, only count-of-counts; dup-identity modulo a
    // ~2e-9 64-bit collision, re-verified hash-exact at sf0.001/0.01/0.1),
    // and persist the tiny count-of-counts frame so the corpus chain
    // executes ONCE. Measured: 10.66 s → see OPTIMIZATION_r16.md.
    val gr = Tables.documents(s, d)
      .select(Fns.tokens(lower(col("text"))).as("w"))
      .filter(size(col("w")) >= GT_N)
      .select(col("w"),
        explode(sequence(lit(1), size(col("w")) - (GT_N - 1))).as("i"))
      .select(xxhash64(slice(col("w"), col("i"), lit(GT_N))).as("gr"))
    val nr = gr
      .groupBy("gr").agg(count(lit(1)).as("r"))
      .groupBy("r").agg(count(lit(1)).as("n_r"))
      .persist(StorageLevel.MEMORY_AND_DISK) // tot + nr1 + join consumers
    val tot = nr.agg(sum(col("r") * col("n_r")).as("n_tokens"))
    val nr1 = nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    val rstar = (col("r") + 1).cast("double") *
      col("n_r1").cast("double") / col("n_r").cast("double")
    nr.join(nr1, Seq("r"), "left")
      .filter(col("r") <= GT_MAX)
      .withColumn("n_r1", coalesce(col("n_r1"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"), col("n_r1"), col("n_tokens"),
        Fns.roundP(rstar, 6).as("r_star"),
        Fns.roundP(rstar / col("n_tokens").cast("double"), 9).as("p_gt"))
      .orderBy("r")
  }

  /** Annotator thresholds for [[qCohensKappa]] — both sit at the corpus
    * medians (n_chars ≈ 306, tokens ≈ 56 at sf0.01, measured), so the
    * 2×2 table is balanced and the off-diagonal disagreement cells are
    * populated at every SF. */
  val KAPPA_CHARS = 300L
  val KAPPA_TOKS = 55

  /** Cohen's kappa inter-annotator agreement (Cohen 1960) between two
    * deterministic quality raters — rater A keeps docs with n_chars ≥
    * [[KAPPA_CHARS]], rater B keeps docs with ≥ [[KAPPA_TOKS]] whitespace
    * tokens. The labeling-pipeline QA statistic: raw agreement p_o
    * overstates consensus when the base rate is skewed; kappa discounts
    * the agreement p_e expected from the raters' marginals alone. (Here
    * the raters are correlated length heuristics, so the gate doubles as
    * a regression pin on the tokenizer↔n_chars relationship.)
    *
    * Exactness: the 2×2 confusion counts are exact longs from ONE
    * conditional-count aggregate; p_o, p_e, and kappa are double trees
    * over those integers written identically in the oracle. Scale: one
    * corpus scan → one 1-row agg; the kappa algebra is plan-literal. */
  val qCohensKappa: Q = (s, d) => {
    val x = Tables.documents(s, d).select(
      (col("n_chars") >= KAPPA_CHARS).as("a"),
      (size(Fns.tokens(col("text"))) >= KAPPA_TOKS).as("b"))
    val m = x.agg(count(lit(1)).as("n"),
      sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
      sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
      sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
      sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
    val D = (n: String) => col(n).cast("double")
    m.withColumn("po_raw", (D("n11") + D("n00")) / D("n"))
      .withColumn("pa", (D("n11") + D("n10")) / D("n"))
      .withColumn("pb", (D("n11") + D("n01")) / D("n"))
      .withColumn("pe_raw",
        col("pa") * col("pb") + (lit(1.0) - col("pa")) * (lit(1.0) - col("pb")))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        Fns.roundP(col("po_raw"), 6).as("po"),
        Fns.roundP(col("pe_raw"), 6).as("pe"),
        Fns.roundP((col("po_raw") - col("pe_raw")) / (lit(1.0) - col("pe_raw")), 6)
          .as("kappa"))
  }

  /** End-to-end curation funnel — the composed "what survives each
    * filter" report a training-data pipeline publishes with every corpus
    * release. Five cumulative stages, each the conjunction of the prior
    * with one gated filter's own predicate (all reused verbatim, not
    * re-derived):
    *   1. total            — every document
    *   2. quality          — TextOps.qGopherRules `keep`
    *   3. exact_dedup      — the document is its content-hash group's
    *                         min-id representative (DedupOps.qDedupExact)
    *   4. decontaminated   — in the training split AND zero bench n-gram
    *                         hits (qDecontaminate); bench docs drop here
    *   5. semantic_dedup   — VectorOps.qSemanticDedup `keep` (documents
    *                         without an embedding pass through)
    *
    * Plan/scale: four doc-keyed left joins of the stage flags (every one
    * an id-keyed hash join of corpus-scale frames — the funnel adds no
    * new shuffle shape beyond its constituents), then ONE global
    * conditional-count aggregate whose 1-row result explodes into the
    * 5-row report. Stage counts are exact longs. */
  val qCurationFunnel: Q = (s, d) => {
    val g = graft.operators.TextOps.qGopherRules(s, d)
      .select(col("doc_id"), col("keep").as("gopher_ok"))
    val ex = DedupOps.qDedupExact(s, d)
      .select(col("keep_id").as("doc_id"), lit(true).as("exact_rep"))
    val dc = qDecontaminate(s, d)
      .select(col("doc_id"), (!col("contaminated")).as("decon_ok"))
    val sd = VectorOps.qSemanticDedup(s, d)
      .select(col("vec_id").as("doc_id"), col("keep").as("sem_keep"))
    val flags = Tables.documents(s, d).select(col("doc_id"))
      .join(g, Seq("doc_id"))
      .join(ex, Seq("doc_id"), "left")
      .join(dc, Seq("doc_id"), "left")
      .join(sd, Seq("doc_id"), "left")
      .select(col("gopher_ok"),
        coalesce(col("exact_rep"), lit(false)).as("exact_rep"),
        coalesce(col("decon_ok"), lit(false)).as("decon_ok"),
        coalesce(col("sem_keep"), lit(true)).as("sem_keep"))
    def cnt(c: Column) = sum(when(c, lit(1L)).otherwise(lit(0L)))
    val c2 = col("gopher_ok")
    val c3 = c2 && col("exact_rep")
    val c4 = c3 && col("decon_ok")
    val c5 = c4 && col("sem_keep")
    flags.agg(
        count(lit(1)).as("n1"), cnt(c2).as("n2"), cnt(c3).as("n3"),
        cnt(c4).as("n4"), cnt(c5).as("n5"))
      .select(explode(array(
        struct(lit(1).as("stage"), lit("total").as("stage_name"), col("n1").as("n_docs")),
        struct(lit(2).as("stage"), lit("quality").as("stage_name"), col("n2").as("n_docs")),
        struct(lit(3).as("stage"), lit("exact_dedup").as("stage_name"), col("n3").as("n_docs")),
        struct(lit(4).as("stage"), lit("decontaminated").as("stage_name"), col("n4").as("n_docs")),
        struct(lit(5).as("stage"), lit("semantic_dedup").as("stage_name"), col("n5").as("n_docs"))
      )).as("r"))
      .select(col("r.stage").as("stage"), col("r.stage_name").as("stage_name"),
        col("r.n_docs").as("n_docs"))
      .orderBy("stage")
  }

  /** Unigram-LM surprisal — score each document by its mean negative log
    * probability under the corpus's own unigram distribution (the cheap
    * perplexity proxy quality filters rank by). Terms are decimal-summed
    * so aggregation order cannot perturb the mean (the qEntropy pattern).
    *
    * The token→count join is keyed by token; the count side is bounded by
    * vocabulary size, so at scale it broadcasts (Zipf skew on the exploded
    * side is then irrelevant — no shuffle of the big side at all).
    */
  val qSurprisal: Q = (s, d) => surprisalScored(s, d).orderBy("doc_id")

  /** Per-doc unigram mean NLL (doc_id, n_tokens, mean_nll) — the body of
    * [[qSurprisal]], shared with [[qPplBuckets]] which re-consumes the
    * same score as its perplexity proxy. */
  private def surprisalScored(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(Fns.tokens(lower(col("text")))).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // counts feeds two branches (the scalar total and the join build side);
    // no cross-branch CSE in Spark, so persist the vocab aggregation
    val counts = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val total = counts.agg(sum("c").as("tot"))
    val nll = (log(col("tot").cast("double")) - log(col("c").cast("double")))
      .cast("decimal(28,18)")
    toks.join(counts, Seq("w")).crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        Fns.roundP(sum(nll).cast("double") / count(lit(1)), 6).as("mean_nll"))
  }

  /** Bigram-LM surprisal — the conditional companion to [[qSurprisal]]:
    * score each document by its mean −ln p(w₂|w₁) under the corpus's own
    * bigram MLE (p = c(w₁w₂) / Σ_w c(w₁w)). Bigram pairs come from two
    * shifted array slices zipped row-locally; both count tables are
    * vocab²-bounded, so the joins broadcast at scale exactly like the
    * unigram case. Documents with fewer than two tokens have no bigrams
    * and are excluded on both engines. Decimal-summed terms, qEntropy
    * discipline. */
  val qBigramSurprisal: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Fns.tokens(lower(col("text"))).as("tk"))
      .filter(size(col("tk")) >= 2)
    val big = toks
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cp = cb.groupBy("w1").agg(sum("cb").as("cp"))
    val nll = (log(col("cp").cast("double")) - log(col("cb").cast("double")))
      .cast("decimal(28,18)")
    big.join(cb, Seq("w1", "w2")).join(cp, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        Fns.roundP(sum(nll).cast("double") / count(lit(1)), 6).as("mean_nll2"))
      .orderBy("doc_id")
  }

  /** Per-document TF-IDF key terms — the top [[TFIDF_TOP]] terms per doc by
    * tf·ln(N/df). Ranking happens on the ROUNDED score (the same value the
    * gate hashes) with the term as tie-break, so both engines rank the
    * identical keys. Two keyed aggs + one window partitioned by doc_id. */
  val qTfidfTerms: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(Fns.tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val ndocs = docs.agg(count(lit(1)).as("nd"))
    val score = Fns.roundP(
      col("tf") * (log(col("nd").cast("double")) - log(col("df").cast("double"))), 6)
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, Seq("term")).crossJoin(broadcast(ndocs))
      .select(col("doc_id"), col("term"), col("tf"), score.as("tfidf"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TFIDF_TOP)
      .select("doc_id", "term", "tf", "tfidf")
      .orderBy("doc_id", "term")
  }

  /** Corpus composition ROLLUP — doc counts and char volume by
    * (lang, source), with subtotal and grand-total rows. Subtotal keys are
    * renamed via GROUPING() — not a bare coalesce — so a genuinely-NULL
    * key (mapped to a distinct '<null>' sentinel) can never collide with
    * the 'ALL' subtotal row and flip the gate's ORDER BY on a data regen.
    * One partial+final agg; grouping-set expansion is map-side. */
  val qRollupStats: Q = (s, d) =>
    Tables.documents(s, d)
      .rollup("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("tot_chars"),
        grouping(col("lang")).as("gl"), grouping(col("source")).as("gs"))
      .select(
        when(col("gl") === 1, lit("ALL"))
          .otherwise(coalesce(col("lang"), lit("<null>"))).as("lang"),
        when(col("gs") === 1, lit("ALL"))
          .otherwise(coalesce(col("source"), lit("<null>"))).as("source"),
        col("n_docs"), col("tot_chars"))
      .orderBy("lang", "source")

  /** Source × language PIVOT (crosstab) — doc counts per source with one
    * column per language. The pivot value list is fixed ([[LANGS]]) so the
    * output schema is static; absent cells coalesce to 0 (Spark pivots
    * them to NULL, DuckDB's FILTER counts 0). One partial+final agg. */
  val qPivotLangs: Q = (s, d) => {
    val p = Tables.documents(s, d)
      .groupBy("source").pivot("lang", LANGS).agg(count(lit(1)))
    p.select(col("source") +:
      LANGS.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
      .orderBy("source")
  }

  /** Bloom filter geometry for [[qBloomDecontaminate]]: M bit positions,
    * SEEDS hash functions. M=8192 over the ~1.6k bench-gram positions at
    * sf0.01 leaves measured collisions (30 false-positive docs, 121
    * gram-level false positives) without saturating the doc flag — the
    * one-sided error is load-bearing in the gate, like CMS_W. */
  val BLOOM_M = 8192L
  val BLOOM_SEEDS = 3

  /** Decontamination behind a FIXED-SIZE Bloom filter — the 100 TB form
    * of [[qDecontaminate]]: the benchmark suite collapses to ≤M bit
    * positions (a broadcast constant independent of bench-suite text
    * size), each probe gram tests its [[BLOOM_SEEDS]] md5 positions, and
    * a gram is flagged iff ALL positions are set (Bloom 1970). One-sided
    * by construction: n_maybe ≥ n_hit always (no false negatives — the
    * gate pins the exact count beside the Bloom count, so the filter's
    * FP behavior is itself regression-tested, the q_cms_topk
    * discipline).
    *
    * Scale posture: the bit set is O(M) regardless of corpus or bench
    * size and the probe side streams row-locally into a broadcast
    * semi-probe — where the exact variant's broadcast grows with the
    * bench suite's distinct grams, this one is CONSTANT-size. The exact
    * companion branch exists to pin the error and goes away in
    * production. */
  /** The [[BLOOM_SEEDS]] bit positions of a gram — shared by the batch
    * gate and the streaming decontaminated ingest (identical hashing, so
    * the stream drops exactly what the batch gate would flag). */
  private[graft] def bloomPositions(g: Column): Column =
    array((0 until BLOOM_SEEDS).map(i =>
      Fns.hash32(concat(g, lit(s"_b$i"))) % BLOOM_M): _*)

  /** Distinct [[DECON_K]]-gram set of a text column (the gramStage
    * projection over an arbitrary frame). */
  private[graft] def gramsOf(text: Column): Column = {
    val toks = Fns.tokens(text)
    array_distinct(Fns.shinglesOfTokens(toks, text, DECON_K))
  }

  /** Fold a benchmark frame's gram bit positions into an O(M) bitmask —
    * [[BLOOM_M]]/64 longs, built ONCE on the driver (the collect is
    * bounded at M rows BY CONSTRUCTION, never by bench-suite size: this
    * is the Bloom filter's whole point). The deployed form carries this
    * mask in the plan as a literal. */
  private[graft] def bloomMaskOf(bench: DataFrame): Array[Long] = {
    val mask = new Array[Long]((BLOOM_M / 64).toInt)
    bench.select(explode(gramsOf(col("text"))).as("gr"))
      .select(explode(bloomPositions(col("gr"))).as("pos")).distinct()
      .collect().foreach { r =>
        val p = r.getLong(0)
        mask((p / 64).toInt) |= (1L << (p % 64).toInt)
      }
    mask
  }

  /** True iff ANY gram of `gs` has ALL its seed positions set in `mask`
    * (the Bloom membership test as pure column algebra over two literal
    * arrays — constant-time per probe, zero joins). */
  private[graft] def bloomHit(gs: Column, mask: Array[Long]): Column = {
    val m = lit(mask)
    val pow2 = lit((0 until 64).map(i => 1L << i).toArray)
    def bitSet(p: Column): Column =
      (element_at(m, (p / 64).cast("int") + 1)
        .bitwiseAND(element_at(pow2, (p % 64).cast("int") + 1))) =!= 0L
    exists(gs, g => forall(bloomPositions(g), bitSet))
  }

  val qBloomDecontaminate: Q = (s, d) => {
    def positions(g: Column) = bloomPositions(g)
    val grams = gramStage(s, d)
    // persisted: the bits and exact branches both consume the bench
    // explode->distinct (no cross-branch CSE)
    val bench = benchGrams(grams).persist(StorageLevel.MEMORY_AND_DISK)
    val bits = bench.select(explode(positions(col("gr"))).as("pos")).distinct()
    val probe = grams.filter(col("doc_id") % BENCH_MOD =!= 0)
      .select(col("doc_id"), posexplode_outer(col("gs")))
      .select(col("doc_id"), col("col").as("gr"))
      .persist(StorageLevel.MEMORY_AND_DISK) // bloom + exact + totals branches
    // one row per (gram, seed position); rows are per-seed, so the count
    // of bit-set matches per gram equals the number of set seed positions
    // even when two seeds collide into the same bucket
    val pp = probe.select(col("doc_id"), col("gr"),
      explode(positions(col("gr"))).as("pos"))
    val maybe = pp.join(broadcast(bits), Seq("pos"))
      .groupBy(col("doc_id"), col("gr"))
      .agg(count(lit(1)).as("nseed"))
      .filter(col("nseed") === BLOOM_SEEDS)
      .groupBy("doc_id").agg(count(lit(1)).as("n_maybe"))
    val exact = probe.join(bench, Seq("gr"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val tot = probe.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    tot.join(maybe, Seq("doc_id"), "left").join(exact, Seq("doc_id"), "left")
      .withColumn("n_maybe", coalesce(col("n_maybe"), lit(0L)))
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("doc_id"), col("n_grams"), col("n_maybe"), col("n_hit"),
        (col("n_maybe") >= 1).as("bloom_flagged"),
        (col("n_hit") >= 1).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Per-group feature normalization — z-score each document's length
    * against its LANGUAGE's distribution (the per-subcorpus normalization
    * step before mixing/filtering a multilingual corpus: a 300-char doc is
    * long for zh and short for en). Moments come from exact integer sums
    * (sum, sum-of-squares, n — n_chars is a long), so mean and population
    * variance are the same IEEE doubles on both engines and the z-score is
    * hash-gateable; a zero-variance group yields null, loudly, not a
    * division blowup.
    *
    * Plan: one partial+final agg over 5 language groups, then a broadcast
    * join back to the doc stream — the per-doc pass never shuffles. At
    * 100 TB the stats side stays O(groups) and the join stays broadcast;
    * the same shape handles any group key (source, shard, date). */
  val qGroupNormalize: Q = (s, d) => {
    val st = Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(sum(col("n_chars").cast("decimal(28,0)")).as("s"),
        // the squared-moment sum MUST go through decimal: a plain long sum
        // wraps silently under non-ANSI mode at corpus scale, while the
        // oracle's HUGEINT widens — the qRegression/qAnomaly discipline
        sum((col("n_chars").cast("long") * col("n_chars")).cast("decimal(28,0)")).as("ss"),
        count(lit(1)).as("n"))
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(st), "lang")
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn("vr", col("ss").cast("double") / col("n") - col("mean") * col("mean"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        when(col("vr") > 0,
          Fns.roundP((col("n_chars") - col("mean")) / sqrt(col("vr")), 6)).as("z_chars"))
      .orderBy("doc_id")
  }

  /** Okapi BM25 parameters (the standard defaults) and retrieval shape:
    * the query is document [[BM25_QDOC]]'s distinct terms, scored against
    * every other document, top [[BM25_TOP]] returned. */
  val BM25_K1 = 1.2
  val BM25_B = 0.75
  val BM25_QDOC = 7L
  val BM25_TOP = 10

  /** Okapi BM25 retrieval — the canonical sparse-retrieval scorer (the
    * "keyword leg" real hybrid stacks pair with dense vectors; the Jaccard
    * leg in q_hybrid_search is the cheap stand-in). IDF is the Lucene
    * non-negative variant ln(1 + (N − df + ½)/(df + ½)); per-term scores
    * are summed through decimal(28,18) so the total is order-independent,
    * and the ranking happens on the ROUNDED score with doc_id tie-break —
    * both engines rank identical keys.
    *
    * Scale shape: the term-frequency table shuffles once keyed by
    * (doc_id, term); query terms and the per-term df table are broadcast
    * (query-bounded — a handful of rows); document lengths co-key with
    * the matched postings on doc_id; corpus-level stats are a 1-row
    * broadcast. Top-k is TakeOrderedAndProject (per-partition heaps, k-row
    * driver merge). No corpus-sized shuffle beyond the tf agg every
    * inverted index needs. */
  val qBm25: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(Fns.tokens(lower(col("text")))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val qterms = broadcast(
      tf.filter(col("doc_id") === BM25_QDOC).select(col("term")))
    val corpus = tf.filter(col("doc_id") =!= BM25_QDOC)
    val dl = corpus.groupBy("doc_id").agg(sum("tf").as("dl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = dl.agg(count(lit(1)).as("nd"), sum("dl").as("tot_dl"))
    // postings restricted to the query terms BEFORE df counting — df per
    // term is identical either way, and the frame stays query-bounded
    val matched = corpus.join(qterms, Seq("term"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfreq = broadcast(matched.groupBy("term").agg(count(lit(1)).as("df")))
    val idf = log(lit(1.0) +
      (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") + lit(BM25_K1) *
      (lit(1 - BM25_B) + lit(BM25_B) * (col("dl") / col("avgdl")))
    matched.join(dfreq, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("nd"))
      .withColumn("sc",
        (idf * ((col("tf") * (lit(BM25_K1) + lit(1.0))) / denom))
          .cast("decimal(28,18)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_match"),
        Fns.roundP(sum(col("sc")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(BM25_TOP)
  }

  /** Posting-list cap per term in [[qInvertedIndex]]. */
  val INV_TOP = 5

  /** Inverted-index build — the materialization BM25/keyword retrieval
    * serves from: per term, document frequency, total term frequency, and
    * the first [[INV_TOP]] postings (doc ids ascending, comma-joined so
    * the gate hashes a scalar). The posting CAP is the point at scale: the
    * per-term row stays bounded no matter how skewed the term (a full
    * posting list for a stopword would be a corpus-sized row).
    *
    * Scale shape: one explode → two term-keyed aggs (df/tf are
    * partial-agg'd map-side) + one term-keyed window whose
    * `row_number ≤ N` filter Spark executes as WindowGroupLimit —
    * per-partition top-N heaps BEFORE the shuffle, so the skewed tail of
    * a hot term's postings never moves. Output is vocab-sized, not
    * corpus-sized. */
  val qInvertedIndex: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(Fns.tokens(lower(col("text")))).as("term"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = toks.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf_total"))
    val w = Window.partitionBy("term").orderBy("doc_id")
    val postings = toks.select(col("doc_id"), col("term")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= INV_TOP)
      .groupBy("term")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("doc_id")))),
          x => x.getField("doc_id").cast("string")), ",").as("postings"))
    stats.join(postings, Seq("term")).orderBy("term")
  }

  /** Query phrase for [[qPhraseSearch]] — deliberately PERIODIC
    * ("table table" overlaps itself), so the positional semantics the
    * gate pins include the self-overlapping matches a regex scan would
    * undercount. */
  val PS_PHRASE = Seq("table", "table")

  /** Positional phrase search — the query shape [[qInvertedIndex]]'s
    * postings exist to serve: find every token-aligned occurrence of a
    * multi-word phrase via POSITION-ADJACENCY joins over per-term
    * postings (term, doc_id, pos). Term i's postings join term 0's at
    * `pos − i`, so a k-term phrase is k−1 equi-joins keyed on
    * (doc_id, pos) — the classic positional-index AND-query plan every
    * search engine runs.
    *
    * Scale shape: the explode is filtered to the phrase's terms BEFORE
    * any shuffle (row-local isin on the generator output, so the
    * postings that move are the phrase terms' lists, never the corpus
    * vocabulary), then k−1 (doc_id, pos)-keyed hash joins whose inputs
    * are those filtered lists. Overlapping matches count naturally —
    * each match is its own starting position. Output is per-doc match
    * count + first hit, doc-ordered. */
  val qPhraseSearch: Q = (s, d) => {
    val post = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(Fns.tokens(lower(col("text")))).as(Seq("pos", "term")))
      .filter(col("term").isin(PS_PHRASE.distinct: _*))
      .persist(StorageLevel.MEMORY_AND_DISK) // one side per phrase term
    val t0 = post.filter(col("term") === PS_PHRASE.head)
      .select(col("doc_id"), col("pos"))
    val matches = PS_PHRASE.zipWithIndex.tail.foldLeft(t0) { case (acc, (w, i)) =>
      acc.join(post.filter(col("term") === w)
        .select(col("doc_id"), (col("pos") - i).as("pos")), Seq("doc_id", "pos"))
    }
    matches.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("pos").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Stupid-backoff discount (Brants et al. 2007, "Large Language Models
    * in Machine Translation" — the score they ran at 2-trillion-token
    * scale on MapReduce). */
  val BO_ALPHA = 0.4

  /** Held-out trigram stupid-backoff LM scoring — unlike [[qSurprisal]] /
    * [[qBigramSurprisal]] (MLE on the full corpus, so every observed
    * n-gram has count ≥ 1 and backoff can never fire), this TRAINS the
    * count tables on the hash-split train split and scores the valid
    * split, so unseen trigrams genuinely back off: S(w₃|w₁w₂) = c₃/c₁₂,
    * else α·c₂₃/c₂, else α²·c₃ᵘ/N, else an α²·1/N OOV floor (no ln(0)).
    * The gate pins the per-doc mean NLL AND the integer counts of
    * positions resolved at each backoff tier, so the path distribution
    * itself is regression-locked.
    *
    * Scale shape: Brants et al.'s own dataflow — n-gram count tables are
    * keyed aggs (partial+final, map-side combined), and scoring is keyed
    * LEFT joins of held-out positions against those tables (trigram tables
    * at real scale dwarf memory, so the joins co-key by n-gram rather than
    * broadcast; Spark picks broadcast at test SF automatically). Count
    * sums are decimal-exact; the corpus-total N is a 1-row broadcast. */
  val qBackoffLm: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), DedupOps.splitOf(col("doc_id")).as("split"),
        Fns.tokens(lower(col("text"))).as("tk"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val train = toks.filter(col("split") === "train")
    val uni = train.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTot = uni.agg(sum("c1").as("n_tot"))
    val bi = train.filter(size(col("tk")) >= 2)
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("b"))
      .select(col("b.0").as("w1"), col("b.1").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tri = train.filter(size(col("tk")) >= 3)
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 2),
        slice(col("tk"), lit(2), size(col("tk")) - 2),
        slice(col("tk"), lit(3), size(col("tk")) - 2))).as("t"))
      .select(col("t.0").as("w1"), col("t.1").as("w2"), col("t.2").as("w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val pos = toks.filter(col("split") === "valid" && size(col("tk")) >= 3)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 2),
        slice(col("tk"), lit(2), size(col("tk")) - 2),
        slice(col("tk"), lit(3), size(col("tk")) - 2))).as("t"))
      .select(col("doc_id"), col("t.0").as("w1"), col("t.1").as("w2"), col("t.2").as("w3"))
    val score =
      when(col("c3").isNotNull, col("c3").cast("double") / col("c12"))
        .when(col("c23").isNotNull,
          lit(BO_ALPHA) * (col("c23").cast("double") / col("c2u")))
        .when(col("c3u").isNotNull,
          lit(BO_ALPHA) * lit(BO_ALPHA) * (col("c3u").cast("double") / col("n_tot")))
        .otherwise(lit(BO_ALPHA) * lit(BO_ALPHA) * (lit(1.0) / col("n_tot")))
    pos
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("cb").as("c12")), Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"), col("cb").as("c23")),
        Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c2u")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c1").as("c3u")), Seq("w3"), "left")
      .crossJoin(broadcast(nTot))
      .withColumn("is_tri", col("c3").isNotNull)
      .withColumn("is_bi", col("c3").isNull && col("c23").isNotNull)
      .withColumn("nll", negate(log(score)).cast("decimal(28,18)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("is_tri"), 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("is_bi"), 1L).otherwise(0L)).as("n_bi"),
        Fns.roundP(sum(col("nll")).cast("double") / count(lit(1)), 6).as("mean_nll3"))
      .orderBy("doc_id")
  }

  /** Kneser-Ney absolute discount (Chen & Goodman 1999's fixed-D
    * formulation; 0.75 is the classic default). */
  val KN_D = 0.75

  /** Interpolated Kneser-Ney bigram LM scored on the held-out split —
    * the smoothing that replaced stupid backoff wherever quality beats
    * throughput (Chen & Goodman 1999): instead of backing off to raw
    * unigram frequency, the lower-order term is the CONTINUATION
    * probability P_cont(w₂) = N1+(·,w₂)/B (how many distinct contexts
    * w₂ completes, over B = distinct bigram types), so "francisco" stops
    * looking probable just because "san francisco" is frequent. Score:
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *            + D·N1+(w₁,·)/c(w₁·) · P_cont(w₂)        (w₁ seen)
    *   P(w₂|w₁) = P_cont(w₂)                             (w₁ unseen)
    *
    * with a documented half-count floor N1+(·,w₂) ← 0.5 for w₂ never
    * seen as a continuation (no ln 0, mirrors q_backoff_lm's OOV floor).
    * The gate pins per-doc mean NLL plus the integer counts of positions
    * whose bigram/context was seen in train, so the smoothing-path
    * distribution is regression-locked next to q_backoff_lm's tiers.
    *
    * Scale shape: identical to [[qBackoffLm]] — all four model tables
    * (bigram counts, context totals, forward/backward continuation fan)
    * are vocab-keyed partial+final aggs off ONE shared bigram frame, and
    * scoring is keyed left joins of held-out positions against them
    * (token-keyed shuffle joins at real scale, broadcast at test SF).
    * NLL sums ride decimal(28,18) so shuffle order can't perturb them. */
  val qKneserNey: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), DedupOps.splitOf(col("doc_id")).as("split"),
        Fns.tokens(lower(col("text"))).as("tk"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bigrams = toks.filter(col("split") === "train" && size(col("tk")) >= 2)
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("b"))
      .select(col("b.0").as("w1"), col("b.1").as("w2"))
    val bi = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ctx = bi.groupBy("w1")
      .agg(sum("cb").as("c1dot"), count(lit(1)).as("n1p_fwd"))
    val cont = bi.groupBy("w2").agg(count(lit(1)).as("n1p_bwd"))
    val types = bi.agg(count(lit(1)).as("b_types"))
    val pos = toks.filter(col("split") === "valid" && size(col("tk")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("b"))
      .select(col("doc_id"), col("b.0").as("w1"), col("b.1").as("w2"))
    val pCont = coalesce(col("n1p_bwd").cast("double"), lit(0.5)) /
      col("b_types").cast("double")
    val p = when(col("c1dot").isNotNull,
        greatest(coalesce(col("cb"), lit(0L)).cast("double") - lit(KN_D), lit(0.0)) /
          col("c1dot").cast("double") +
        (lit(KN_D) * col("n1p_fwd").cast("double") / col("c1dot").cast("double")) * pCont)
      .otherwise(pCont)
    pos
      .join(bi, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(types))
      .withColumn("nll", negate(log(p)).cast("decimal(28,18)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("cb").isNotNull, 1L).otherwise(0L)).as("n_seen"),
        sum(when(col("c1dot").isNotNull, 1L).otherwise(0L)).as("n_ctx"),
        Fns.roundP(sum(col("nll")).cast("double") / count(lit(1)), 6).as("mean_nll2"))
      .orderBy("doc_id")
  }

  /** Number of growth tiers for [[qVocabGrowth]]. */
  val VG_TIERS = 10

  /** Heaps-law vocabulary growth curve — how fast the corpus vocabulary
    * grows as data accumulates, the curve a tokenizer-budget or
    * vocab-size decision is read from. "Growth order" is a deterministic
    * hash decile of the doc id (stable under repartition and corpus
    * append, same property as the hash split), so tier t = the corpus
    * after ingesting deciles 0..t. For each token only its FIRST tier
    * matters: vocab(t) = #tokens with min-decile ≤ t — one token-keyed
    * min-agg, no per-tier rescan.
    *
    * Scale shape: one explode → (a) a 10-row decile agg for positions,
    * (b) a token-keyed (vocab-bounded, map-side combined) min-agg then a
    * 10-row count — the cumulative windows run over 10 rows on the
    * driver-sized tail. A naive per-tier COUNT(DISTINCT) would rescan
    * the corpus [[VG_TIERS]] times; this shape reads it once. */
  val qVocabGrowth: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(pmod(Fns.hash32(concat(lit("vg_"), col("doc_id").cast("string"))),
          lit(VG_TIERS.toLong)).as("tier"),
        explode(Fns.tokens(lower(col("text")))).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pos = toks.groupBy("tier").agg(count(lit(1)).as("np"))
    val vocab = toks.groupBy("w").agg(min("tier").as("tier"))
      .groupBy("tier").agg(count(lit(1)).as("nv"))
    val tiers = s.range(VG_TIERS).select(col("id").as("tier"))
    val w = Window.orderBy("tier").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tiers
      .join(pos, Seq("tier"), "left")
      .join(vocab, Seq("tier"), "left")
      .select(col("tier"),
        sum(coalesce(col("np"), lit(0L))).over(w).as("cum_positions"),
        sum(coalesce(col("nv"), lit(0L))).over(w).as("cum_vocab"))
      .orderBy("tier")
  }

  /** Minimum bigram count for [[qPmiCollocations]] (the standard noise
    * floor — PMI of a count-1 pair is dominated by sampling error). */
  val PMI_MIN_C = 5
  /** Collocations returned by [[qPmiCollocations]]. */
  val PMI_TOP = 20

  /** PMI collocation mining — the classic corpus-linguistics ranking
    * (Church & Hanks 1990) of adjacent word pairs that co-occur far more
    * than chance: PMI(w₁,w₂) = ln p(w₁w₂) − ln p(w₁) − ln p(w₂), with
    * joint probability over bigram positions and marginals over token
    * positions. Computed entirely in the log domain (ln c + 2·ln Nᵤ −
    * ln N_b − ln c₁ − ln c₂, identical operand order on both engines) so
    * no count product can overflow int64 at any corpus size. Pairs below
    * [[PMI_MIN_C]] are dropped; ranking is on the ROUNDED score with
    * (w₁, w₂) tie-break, so both engines rank identical keys.
    *
    * Scale shape: unigram and bigram count tables are vocab- and
    * vocab²-bounded keyed aggs (partial+final, map-side combined); the
    * marginal joins key on single tokens against the vocab-bounded count
    * table (broadcast at scale); the two corpus totals are 1-row
    * broadcasts. Top-k executes as TakeOrderedAndProject — per-partition
    * heaps, a [[PMI_TOP]]-row driver merge. The corpus is scanned once;
    * nothing document-sized ever shuffles. */
  val qPmiCollocations: Q = (s, d) => {
    val tk = Tables.documents(s, d)
      .select(Fns.tokens(lower(col("text"))).as("tk"))
      .persist(StorageLevel.MEMORY_AND_DISK) // unigram + bigram branches
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK) // totals + two marginal joins
    val nu = uni.agg(sum("c").as("nu"))
    val big = tk.filter(size(col("tk")) >= 2)
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("bg"))
      .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persist(StorageLevel.MEMORY_AND_DISK) // total + scored branches
    val nb = big.agg(sum("cb").as("nb"))
    val pmi = log(col("cb").cast("double")) + log(col("nu").cast("double")) +
      log(col("nu").cast("double")) - log(col("nb").cast("double")) -
      log(col("c1").cast("double")) - log(col("c2").cast("double"))
    big.filter(col("cb") >= PMI_MIN_C)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("cb"), Fns.roundP(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(PMI_TOP)
  }

  /** Hashed-feature buckets for [[qDsirWeights]]. */
  val DSIR_B = 1024L

  /** DSIR importance weights — "Data Selection for Language Models via
    * Importance Resampling" (Xie et al., NeurIPS 2023): score each raw
    * document by how much more likely its hashed-bigram features are
    * under a small TARGET corpus than under the raw pool, log w(doc) =
    * Σ_positions [ln p_t(f) − ln p_r(f)] with add-one smoothing over the
    * [[DSIR_B]] feature buckets. Target = the hash-split 'valid' split
    * (standing in for the small quality domain DSIR resamples toward);
    * raw = the 'train' split being selected from. `keep` is the
    * threshold-free sign test (doc looks more target- than raw-like);
    * per-position terms are decimal-summed so the log-weight is
    * aggregation-order-independent.
    *
    * Scale shape: BOTH feature tables are hard-bounded at [[DSIR_B]]
    * rows regardless of corpus size — that is the point of hashed
    * features — so the per-position feature join is a broadcast of a
    * fixed-size log-ratio table onto a row-local stream, followed by the
    * one doc-keyed agg every per-doc score needs. The raw side streams;
    * nothing grows with the corpus except the single scan. */
  val qDsirWeights: Q = (s, d) => {
    def featsOf(docs: DataFrame): DataFrame = docs
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("bg"))
      .select(col("doc_id"),
        (Fns.hash32(concat(lit("dsir_"), col("bg.0"), lit(" "), col("bg.1")))
          % lit(DSIR_B)).as("f"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), DedupOps.splitOf(col("doc_id")).as("split"),
        Fns.tokens(lower(col("text"))).as("tk"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val raw = featsOf(toks.filter(col("split") === "train"))
      .persist(StorageLevel.MEMORY_AND_DISK) // count table + scored stream
    // persisted (r16, guide §2.4): ct and cr are each consumed twice
    // (the totals agg + the ratio join) — both re-ran the bigram
    // explode+hash stream without it. DSIR_B-bounded frames.
    val ct = featsOf(toks.filter(col("split") === "valid"))
      .groupBy("f").agg(count(lit(1)).as("ct"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cr = raw.groupBy("f").agg(count(lit(1)).as("cr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // full outer: a bucket seen on either side carries its smoothed ratio;
    // unseen-on-both buckets contribute the constant ratio of the floors,
    // folded in via the coalesce defaults at probe time
    val totals = ct.agg(sum("ct").as("nt"))
      .crossJoin(cr.agg(sum("cr").as("nr")))
    val lt = (log(col("ct").cast("double") + lit(1.0)) -
        log(col("nt").cast("double") + lit(DSIR_B.toDouble))) -
      (log(col("cr").cast("double") + lit(1.0)) -
        log(col("nr").cast("double") + lit(DSIR_B.toDouble)))
    val ratios = ct.join(cr, Seq("f"), "full_outer")
      .crossJoin(broadcast(totals))
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .withColumn("cr", coalesce(col("cr"), lit(0L)))
      .select(col("f"), lt.cast("decimal(28,18)").as("lt"))
    raw.join(broadcast(ratios), Seq("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        Fns.roundP(sum(col("lt")).cast("double"), 6).as("logw"))
      .withColumn("keep", col("logw") > 0)
      .orderBy("doc_id")
  }

  /** Effective sample size of the DSIR importance weights — the health
    * readout importance-sampling pipelines publish beside the weights
    * themselves (Kong 1992's ESS = (Σw)²/Σw²; near n the reweighting is
    * gentle, near 1 a handful of documents dominate the resampled
    * corpus). Rides [[qDsirWeights]]'s exact per-doc logw (identical on
    * both engines by that gate), w = exp(logw − max logw) — ESS is
    * invariant to weight scaling, and anchoring at the max keeps every
    * w ≤ 1 so the decimal(28,18) casts can never overflow no matter how
    * skewed a corpus's log-weights get (exp parity is runtime, the
    * q_calibration discipline); moments decimal-summed so aggregation
    * order cannot perturb the ratio. Scale shape: the dsir scoring chain
    * plus TWO 1-row aggs — nothing new touches the corpus. */
  val qEss: Q = (s, d) => {
    // two consumers (max anchor + moment agg) — persist or the whole
    // dsir scoring chain re-executes per branch (no cross-branch CSE)
    val perdoc = qDsirWeights(s, d).select(col("logw"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val w = perdoc
      .crossJoin(broadcast(perdoc.agg(max(col("logw")).as("m"))))
      .select(exp(col("logw") - col("m")).as("w"))
    w
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w").cast("decimal(28,18)")).as("sw"),
        sum((col("w") * col("w")).cast("decimal(28,18)")).as("sww"))
      .select(col("n_docs"),
        col("sw").cast("double").as("swd"), col("sww").cast("double").as("swwd"))
      .withColumn("ess0", (col("swd") * col("swd")) / col("swwd"))
      .select(col("n_docs"),
        Fns.roundP(col("ess0"), 6).as("ess"),
        Fns.roundP(col("ess0") / col("n_docs").cast("double"), 6).as("ess_frac"))
  }

  /** CCNet perplexity bucketing (Wenzek et al., LREC 2020) — split each
    * language's documents into head/middle/tail by LM score tertiles, the
    * curation step CCNet runs before choosing which thirds to keep. The
    * score is the corpus-unigram mean NLL ([[qSurprisal]]'s exact rounded
    * output — the cheap proxy standing in for CCNet's KenLM). Boundaries
    * are EXACT tertiles computed from the (lang, score) COUNT table:
    * cumulative counts over distinct rounded scores, b₁ = min score with
    * 3·cum ≥ n, b₂ = min score with 3·cum ≥ 2n (integer arithmetic, no
    * division), then each doc buckets by comparing its score to its
    * language's two boundaries. Ties share a bucket, so `head` can exceed
    * n/3 exactly when scores tie across the cut — deterministic on both
    * engines, no row_number dependence on partition order.
    *
    * Scale shape: CCNet's own deployment split — train boundaries once,
    * apply as a stream filter. The only window runs over DISTINCT
    * (lang, rounded-score) rows (bounded far below doc count), boundaries
    * collapse to O(langs) rows broadcast back onto the doc stream, and
    * the per-doc pass never shuffles. A naive per-doc ntile window would
    * shuffle the whole corpus into 5 language partitions — the skewed
    * whole-corpus sort this shape exists to avoid. */
  val qPplBuckets: Q = (s, d) => {
    val scored = surprisalScored(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("mean_nll"))
      .persist(StorageLevel.MEMORY_AND_DISK) // boundary + bucket branches
    val byVal = scored.groupBy("lang", "mean_nll").agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy("lang").orderBy("mean_nll")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bounds = byVal.withColumn("cum", sum("cnt").over(wcum))
      .join(scored.groupBy("lang").agg(count(lit(1)).as("n")), Seq("lang"))
      .groupBy("lang").agg(
        min(when(col("cum") * 3 >= col("n"), col("mean_nll"))).as("b1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("mean_nll"))).as("b2"))
    scored.join(broadcast(bounds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("mean_nll"),
        when(col("mean_nll") <= col("b1"), lit("head"))
          .when(col("mean_nll") <= col("b2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }

  /** Zipf-law fit width — enough rank depth that the log-log line is
    * meaningful, small enough that the fitted frame is driver-trivial. */
  val ZIPF_TOP = 200

  /** Zipf exponent of the corpus — OLS of ln(freq) on ln(rank) over the
    * top-[[ZIPF_TOP]] terms (deterministic tie-break on term). A healthy
    * natural-language corpus fits slope ≈ −1; a synthetic or templated
    * corpus bends it, which makes this the one-number distributional QA
    * check next to [[qVocabGrowth]]. Scale shape: the corpus collapses to
    * vocab-keyed counts (partial+final agg), TakeOrdered keeps ZIPF_TOP
    * rows, and only that 200-row frame enters the single-partition
    * ranking window — the global sort never touches more than ZIPF_TOP
    * rows. Moment sums are per-term doubles cast decimal(38,18), so the
    * 200-term summation is order-free; the closed-form slope/intercept
    * divisions are the only double steps, mirrored verbatim in the
    * oracle. */
  val qZipfSlope: Q = (s, d) => {
    val freq = Tables.documents(s, d)
      .select(explode(Fns.tokens(lower(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(ZIPF_TOP)
    val w = Window.orderBy(col("freq").desc, col("term"))
    val dec = (c: Column) => c.cast("decimal(38,18)")
    val xy = freq
      .select(row_number().over(w).cast("double").as("rk"),
        col("freq").cast("double").as("f"))
      .select(log(col("rk")).as("x"), log(col("f")).as("y"))
    val D = (n: String) => col(n).cast("double")
    val m = xy.agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("y"))).as("sxy"),
        sum(dec(col("x") * col("x"))).as("sxx"))
      .withColumn("slope_raw",
        (D("n") * D("sxy") - D("sx") * D("sy")) /
          (D("n") * D("sxx") - D("sx") * D("sx")))
    m.select(col("n").as("n_terms"),
      Fns.roundP(col("slope_raw"), 6).as("slope"),
      Fns.roundP((D("sy") - col("slope_raw") * D("sx")) / D("n"), 6)
        .as("intercept"))
  }

  /** RAKE stoplist — the en stopword set the quality/Gopher gates already
    * use, baked identically into the oracle. */
  val RAKE_STOP = Seq("the", "a", "of", "and", "to", "in")
  val RAKE_TOPK = 25

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010),
    * corpus-level: candidate phrases are maximal stopword-free token
    * runs; each word scores deg(w)/freq(w) where freq counts occurrences
    * and deg sums the lengths of the phrases it appears in (co-occurrence
    * degree including self); a phrase scores the sum of its member word
    * scores. The classic cheap keyphrase baseline between q_top_terms
    * (unigram counts) and q_tfidf_terms (doc-weighted unigrams) — the
    * only member of the family that surfaces multi-word phrases.
    *
    * Dataflow: one posexplode; phrase ids are a running stopword count
    * (user-keyed window per doc); phrase lengths ride a second window on
    * the same (doc, phrase) exchange; word stats collapse to the vocab
    * (broadcast back); phrase assembly groups on (doc, phrase) with
    * order pinned by (pos) struct sort; identical phrase texts then
    * collapse globally (score is text-determined, so max()==the value)
    * and top-K plans as TakeOrderedAndProject. Word scores are
    * deg/freq doubles cast decimal(18,12) per term, so the per-phrase
    * sum is aggregation-order-free and long-backed. */
  val qRakeKeywords: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Fns.tokens(lower(col("text"))).as("ws"))
    val pos = toks.select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "w")))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    // persisted (r16, guide §2.4): members feeds BOTH the vocab score agg
    // and the phrase-assembly join — the posexplode + two-window chain
    // executed twice without it.
    val members = pos
      .withColumn("is_stop", col("w").isInCollection(RAKE_STOP))
      .withColumn("phrase_id",
        sum(when(col("is_stop"), 1).otherwise(0)).over(wDoc))
      .filter(!col("is_stop"))
      .withColumn("plen",
        count(lit(1)).over(Window.partitionBy("doc_id", "phrase_id")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val scores = members.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w"),
        (col("deg").cast("double") / col("freq").cast("double"))
          .cast("decimal(18,12)").as("wscore"))
    members.join(broadcast(scores), Seq("w"))
      .groupBy("doc_id", "phrase_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("phrase"),
        count(lit(1)).as("n_words"),
        sum(col("wscore")).as("sc"))
      .groupBy("phrase")
      .agg(max(col("n_words")).as("n_words"), count(lit(1)).as("n_occur"),
        Fns.roundP(max(col("sc")).cast("double"), 6).as("score"))
      .select(col("phrase"), col("n_words"), col("n_occur"), col("score"))
      .orderBy(desc("score"), col("phrase")).limit(RAKE_TOPK)
  }

  /** OOV rate of the valid split under the train-split vocabulary — the
    * number every tokenizer/vocab decision reads first: per valid-split
    * language, total token occurrences, occurrences of tokens never
    * seen in train (left-anti against the train vocab), and the same
    * pair over DISTINCT types. Uses the shared deterministic hash
    * split, so it composes with q_backoff_lm (whose OOV floor fires on
    * exactly these tokens). Scale shape: train collapses to its vocab
    * (distinct, vocab-bounded), valid tokens collapse to (lang, token)
    * counts BEFORE the anti join, so the join probes vocab-sized frames
    * on both sides. */
  val qOovRate: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        DedupOps.splitOf(col("doc_id")).as("split"),
        explode(Fns.tokens(lower(col("text")))).as("w"))
    val trainVocab = toks.filter(col("split") === "train")
      .select(col("w")).distinct()
    val validCounts = toks.filter(col("split") === "valid")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val oov = validCounts.join(trainVocab, Seq("w"), "left_anti")
      .groupBy("lang")
      .agg(sum(col("c")).as("oov_occ"), count(lit(1)).as("oov_types"))
    validCounts.groupBy("lang")
      .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_types"))
      .join(oov, Seq("lang"), "left")
      .select(col("lang"), col("n_occ"), col("n_types"),
        coalesce(col("oov_occ"), lit(0L)).as("oov_occ"),
        coalesce(col("oov_types"), lit(0L)).as("oov_types"),
        Fns.roundP(coalesce(col("oov_occ"), lit(0L)).cast("double")
          / col("n_occ").cast("double"), 6).as("oov_rate"))
      .orderBy("lang")
  }

  // ---- DuckDB oracles ------------------------------------------------------

  private val sqlTokens = TextOps.sqlTokens
  private val sqlTokensLower = TextOps.sqlTokensLower

  /** DSIR scoring chain down to the per-feature smoothed log-ratio table
    * — shared by q_dsir_weights and q_ess so both engines derive ESS
    * from the exact same weights. */
  private def sqlDsirCtes: String =
    s"""tk AS (SELECT doc_id, ${DedupOps.sqlSplitOf("doc_id")} AS split,
       |            $sqlTokensLower AS tk FROM documents),
       |rawf AS (SELECT doc_id,
       |    CAST('0x' || substr(md5('dsir_' || w1 || ' ' || w2), 1, 8) AS BIGINT)
       |      % $DSIR_B AS f
       |  FROM (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
       |        FROM tk WHERE split = 'train' AND len(tk) >= 2)),
       |tgtf AS (SELECT
       |    CAST('0x' || substr(md5('dsir_' || w1 || ' ' || w2), 1, 8) AS BIGINT)
       |      % $DSIR_B AS f
       |  FROM (SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
       |        FROM tk WHERE split = 'valid' AND len(tk) >= 2)),
       |ct AS (SELECT f, count(*) AS ct FROM tgtf GROUP BY 1),
       |cr AS (SELECT f, count(*) AS cr FROM rawf GROUP BY 1),
       |tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM ct) AS nt,
       |               (SELECT CAST(sum(cr) AS BIGINT) FROM cr) AS nr),
       |ratios AS (SELECT COALESCE(ct.f, cr.f) AS f,
       |    CAST((ln(CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1.0)
       |          - ln(CAST(nt AS DOUBLE) + ${DSIR_B.toDouble}))
       |       - (ln(CAST(COALESCE(cr.cr, 0) AS DOUBLE) + 1.0)
       |          - ln(CAST(nr AS DOUBLE) + ${DSIR_B.toDouble}))
       |      AS DECIMAL(28,18)) AS lt
       |  FROM ct FULL OUTER JOIN cr ON ct.f = cr.f CROSS JOIN tot)""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_phrase_search", qPhraseSearch, {
      // token-aligned positional scan: toks[i+1+j] must equal phrase[j]
      // for every j — counts overlapping matches exactly like the
      // position-adjacency join
      val cond = PS_PHRASE.zipWithIndex
        .map { case (w, j) => s"toks[i+${j + 1}] = '$w'" }.mkString(" AND ")
      s"""WITH tk AS (SELECT doc_id, $sqlTokensLower AS toks FROM documents),
         |m AS (
         |  SELECT doc_id, i FROM tk, unnest(range(len(toks))) t(i)
         |  WHERE $cond)
         |SELECT doc_id, count(*) AS n_matches, CAST(min(i) AS INT) AS first_pos
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    Gate("q_oov_rate", qOovRate,
      s"""WITH t AS (
         |  SELECT doc_id, lang, ${DedupOps.sqlSplitOf("doc_id")} AS split,
         |    unnest($sqlTokensLower) AS w
         |  FROM documents),
         |tv AS (SELECT DISTINCT w FROM t WHERE split = 'train'),
         |vc AS (SELECT lang, w, count(*) AS c FROM t WHERE split = 'valid'
         |       GROUP BY 1, 2),
         |oov AS (
         |  SELECT lang, sum(c) AS oov_occ, count(*) AS oov_types
         |  FROM vc WHERE w NOT IN (SELECT w FROM tv) GROUP BY 1),
         |tot AS (
         |  SELECT lang, sum(c) AS n_occ, count(*) AS n_types FROM vc GROUP BY 1)
         |SELECT tot.lang,
         |  CAST(tot.n_occ AS BIGINT) AS n_occ, tot.n_types,
         |  CAST(coalesce(oov.oov_occ, 0) AS BIGINT) AS oov_occ,
         |  coalesce(oov.oov_types, 0) AS oov_types,
         |  ${Fns.roundPSql(
             "CAST(coalesce(oov.oov_occ, 0) AS DOUBLE) / CAST(tot.n_occ AS DOUBLE)", 6)} AS oov_rate
         |FROM tot LEFT JOIN oov USING (lang) ORDER BY 1""".stripMargin),
    Gate("q_rake_keywords", qRakeKeywords, {
      val stopList = RAKE_STOP.map(w => s"'$w'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, $sqlTokensLower AS ws FROM documents),
         |pos AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM toks),
         |marked AS (
         |  SELECT doc_id, pos, ws[pos] AS w,
         |    sum(CASE WHEN ws[pos] IN ($stopList) THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
         |      AS phrase_id
         |  FROM pos),
         |members AS (
         |  SELECT doc_id, pos, w, phrase_id,
         |    count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
         |  FROM marked WHERE w NOT IN ($stopList)),
         |scores AS (
         |  SELECT w, CAST(CAST(sum(plen) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS DECIMAL(18,12)) AS wscore
         |  FROM members GROUP BY 1),
         |phrases AS (
         |  SELECT m.doc_id, m.phrase_id,
         |    string_agg(m.w, ' ' ORDER BY m.pos) AS phrase,
         |    count(*) AS n_words, sum(s.wscore) AS sc
         |  FROM members m JOIN scores s USING (w)
         |  GROUP BY 1, 2)
         |SELECT phrase, max(n_words) AS n_words, count(*) AS n_occur,
         |  ${Fns.roundPSql("CAST(max(sc) AS DOUBLE)", 6)} AS score
         |FROM phrases GROUP BY 1
         |ORDER BY score DESC, phrase LIMIT $RAKE_TOPK""".stripMargin
    }),
    Gate("q_zipf_slope", qZipfSlope,
      s"""WITH t AS (SELECT unnest($sqlTokensLower) AS term FROM documents),
         |f AS (SELECT term, count(*) AS freq FROM t
         |      GROUP BY 1 ORDER BY freq DESC, term LIMIT $ZIPF_TOP),
         |xy AS (SELECT
         |  ln(CAST(row_number() OVER (ORDER BY freq DESC, term) AS DOUBLE)) AS x,
         |  ln(CAST(freq AS DOUBLE)) AS y FROM f),
         |m AS (SELECT count(*) AS n,
         |  sum(CAST(x AS DECIMAL(38,18))) AS sx,
         |  sum(CAST(y AS DECIMAL(38,18))) AS sy,
         |  sum(CAST(x * y AS DECIMAL(38,18))) AS sxy,
         |  sum(CAST(x * x AS DECIMAL(38,18))) AS sxx FROM xy),
         |s AS (SELECT n, sx, sy,
         |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |    AS slope_raw FROM m)
         |SELECT n AS n_terms,
         |  ${Fns.roundPSql("slope_raw", 6)} AS slope,
         |  ${Fns.roundPSql("(CAST(sy AS DOUBLE) - slope_raw * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)", 6)} AS intercept
         |FROM s""".stripMargin),
    Gate("q_decontaminate", qDecontaminate,
      s"""WITH toks AS (SELECT doc_id, ${TextOps.sqlWsTrim} AS t, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= $DECON_K
         |    THEN list_transform(range(1, len(w) - ${DECON_K - 2}),
         |           i -> array_to_string(w[i:i+${DECON_K - 1}], ' '))
         |    ELSE [t] END) AS gs FROM toks),
         |bg AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id % $BENCH_MOD = 0),
         |dg AS (SELECT doc_id, unnest(gs) AS gr FROM g WHERE doc_id % $BENCH_MOD <> 0),
         |hits AS (SELECT dg.doc_id, count(*) AS n_hit FROM dg JOIN bg USING (gr) GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1)
         |SELECT t.doc_id, t.n_grams, COALESCE(h.n_hit, 0) AS n_hit,
         |  ${Fns.roundPSql("CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams", 4)} AS overlap_frac,
         |  (COALESCE(h.n_hit, 0) >= 1) AS contaminated
         |FROM tot t LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin),
    Gate("q_good_turing", qGoodTuring,
      s"""WITH toks AS (SELECT $sqlTokensLower AS w FROM documents),
         |g AS (SELECT unnest(list_transform(range(1, len(w) - ${GT_N - 2}),
         |    i -> array_to_string(w[i:i+${GT_N - 1}], ' '))) AS gr
         |  FROM toks WHERE len(w) >= $GT_N),
         |f AS (SELECT gr, count(*) AS r FROM g GROUP BY 1),
         |nr AS (SELECT CAST(r AS BIGINT) AS r, count(*) AS n_r FROM f GROUP BY 1),
         |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens FROM nr),
         |j AS (SELECT a.r, a.n_r, CAST(COALESCE(b.n_r, 0) AS BIGINT) AS n_r1
         |  FROM nr a LEFT JOIN nr b ON b.r = a.r + 1 WHERE a.r <= $GT_MAX)
         |SELECT j.r, j.n_r, j.n_r1, t.n_tokens,
         |  ${Fns.roundPSql("CAST(j.r + 1 AS DOUBLE) * CAST(j.n_r1 AS DOUBLE) / CAST(j.n_r AS DOUBLE)", 6)} AS r_star,
         |  ${Fns.roundPSql("(CAST(j.r + 1 AS DOUBLE) * CAST(j.n_r1 AS DOUBLE) / CAST(j.n_r AS DOUBLE)) / CAST(t.n_tokens AS DOUBLE)", 9)} AS p_gt
         |FROM j CROSS JOIN tot t ORDER BY r""".stripMargin),
    Gate("q_cohens_kappa", qCohensKappa,
      s"""WITH x AS (SELECT (n_chars >= $KAPPA_CHARS) AS a,
         |    (len($sqlTokens) >= $KAPPA_TOKS) AS b FROM documents),
         |m AS (SELECT count(*) AS n,
         |  CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |  CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |  CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |  CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
         |  FROM x),
         |p AS (SELECT n, n11, n10, n01, n00,
         |  (CAST(n11 AS DOUBLE) + CAST(n00 AS DOUBLE)) / CAST(n AS DOUBLE) AS po_raw,
         |  (CAST(n11 AS DOUBLE) + CAST(n10 AS DOUBLE)) / CAST(n AS DOUBLE) AS pa,
         |  (CAST(n11 AS DOUBLE) + CAST(n01 AS DOUBLE)) / CAST(n AS DOUBLE) AS pb
         |  FROM m),
         |q AS (SELECT p.*, pa * pb + (1.0::DOUBLE - pa) * (1.0::DOUBLE - pb) AS pe_raw FROM p)
         |SELECT n, n11, n10, n01, n00,
         |  ${Fns.roundPSql("po_raw", 6)} AS po,
         |  ${Fns.roundPSql("pe_raw", 6)} AS pe,
         |  ${Fns.roundPSql("(po_raw - pe_raw) / (1.0::DOUBLE - pe_raw)", 6)} AS kappa
         |FROM q""".stripMargin),
    Gate("q_ngram_novelty", qNgramNovelty,
      s"""WITH toks AS (SELECT doc_id, ${TextOps.sqlWsTrim} AS t, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, ${DedupOps.sqlSplitOf("doc_id")} AS split,
         |  list_distinct(CASE WHEN len(w) >= $NOV_N
         |    THEN list_transform(range(1, len(w) - ${NOV_N - 2}),
         |           i -> array_to_string(w[i:i+${NOV_N - 1}], ' '))
         |    ELSE [t] END) AS gs FROM toks),
         |tg AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE split = 'train'),
         |hg AS (SELECT doc_id, split, unnest(gs) AS gr FROM g WHERE split <> 'train'),
         |hits AS (SELECT doc_id, count(*) AS n_seen FROM hg JOIN tg USING (gr) GROUP BY 1),
         |tot AS (SELECT doc_id, split, count(*) AS n_grams FROM hg GROUP BY 1, 2)
         |SELECT t.doc_id, t.split, t.n_grams, COALESCE(h.n_seen, 0) AS n_seen,
         |  ${Fns.roundPSql("1.0::DOUBLE - CAST(COALESCE(h.n_seen, 0) AS DOUBLE) / t.n_grams", 4)} AS novelty_frac
         |FROM tot t LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin),
    // stage predicates copied verbatim from the q_gopher_rules /
    // q_dedup_exact / q_decontaminate / q_semantic_dedup oracles — the
    // funnel must count exactly what the constituent gates report
    Gate("q_curation_funnel", qCurationFunnel,
      s"""WITH RECURSIVE ${VectorOps.sqlSemDedupCtes},
         |gb AS (
         |  SELECT doc_id,
         |    CAST(len($sqlTokens) AS DOUBLE) AS nw,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS nns,
         |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS nsym,
         |    len(regexp_extract_all(text, '\\b(the|a|of|and|to|in)\\b', 0)) AS nstop,
         |    CAST(length(text) AS DOUBLE) AS nc
         |  FROM documents),
         |gf AS (SELECT doc_id,
         |  ((nw >= 50 AND nw <= 100000) AND (nns / nw >= 3.0 AND nns / nw <= 10.0)
         |    AND (nsym / nc < 0.1) AND (nstop >= 2)) AS gopher_ok FROM gb),
         |ex AS (SELECT min(doc_id) AS doc_id FROM documents
         |       GROUP BY md5(lower(trim(text)))),
         |dtoks AS (SELECT doc_id, ${graft.operators.TextOps.sqlWsTrim} AS t, $sqlTokens AS w FROM documents),
         |dgm AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= $DECON_K
         |    THEN list_transform(range(1, len(w) - ${DECON_K - 2}),
         |           i -> array_to_string(w[i:i+${DECON_K - 1}], ' '))
         |    ELSE [t] END) AS gs FROM dtoks),
         |dbg AS (SELECT DISTINCT unnest(gs) AS gr FROM dgm WHERE doc_id % $BENCH_MOD = 0),
         |ddg AS (SELECT doc_id, unnest(gs) AS gr FROM dgm WHERE doc_id % $BENCH_MOD <> 0),
         |dhits AS (SELECT ddg.doc_id, count(*) AS n_hit FROM ddg JOIN dbg USING (gr) GROUP BY 1),
         |dfl AS (SELECT g2.doc_id, (COALESCE(h.n_hit, 0) = 0) AS decon_ok
         |        FROM (SELECT doc_id FROM dgm WHERE doc_id % $BENCH_MOD <> 0) g2
         |        LEFT JOIN dhits h USING (doc_id)),
         |sf AS (SELECT e.vec_id AS doc_id,
         |         coalesce(cc.cluster_id, e.vec_id) = e.vec_id AS sem_keep
         |       FROM e LEFT JOIN cc ON e.vec_id = cc.doc_id),
         |fl AS (SELECT d.doc_id, gf.gopher_ok,
         |         (ex.doc_id IS NOT NULL) AS exact_rep,
         |         COALESCE(dfl.decon_ok, FALSE) AS decon_ok,
         |         COALESCE(sf.sem_keep, TRUE) AS sem_keep
         |       FROM documents d JOIN gf USING (doc_id)
         |       LEFT JOIN ex ON d.doc_id = ex.doc_id
         |       LEFT JOIN dfl ON d.doc_id = dfl.doc_id
         |       LEFT JOIN sf ON d.doc_id = sf.doc_id),
         |cn AS (SELECT CAST(count(*) AS BIGINT) AS n1,
         |  CAST(count(*) FILTER (WHERE gopher_ok) AS BIGINT) AS n2,
         |  CAST(count(*) FILTER (WHERE gopher_ok AND exact_rep) AS BIGINT) AS n3,
         |  CAST(count(*) FILTER (WHERE gopher_ok AND exact_rep AND decon_ok) AS BIGINT) AS n4,
         |  CAST(count(*) FILTER (WHERE gopher_ok AND exact_rep AND decon_ok AND sem_keep) AS BIGINT) AS n5
         |  FROM fl)
         |SELECT * FROM (
         |  SELECT 1 AS stage, 'total' AS stage_name, n1 AS n_docs FROM cn
         |  UNION ALL SELECT 2, 'quality', n2 FROM cn
         |  UNION ALL SELECT 3, 'exact_dedup', n3 FROM cn
         |  UNION ALL SELECT 4, 'decontaminated', n4 FROM cn
         |  UNION ALL SELECT 5, 'semantic_dedup', n5 FROM cn)
         |ORDER BY stage""".stripMargin),
    Gate("q_surprisal", qSurprisal,
      s"""WITH t AS (SELECT doc_id, unnest($sqlTokensLower) AS w FROM documents),
         |c AS (SELECT w, count(*) AS c FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM c),
         |sc AS (SELECT doc_id,
         |  CAST(ln(CAST(tot AS DOUBLE)) - ln(CAST(c AS DOUBLE)) AS DECIMAL(28,18)) AS s
         |  FROM t JOIN c USING (w) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |  ${Fns.roundPSql("CAST(sum(s) AS DOUBLE) / count(*)", 6)} AS mean_nll
         |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin),
    Gate("q_bigram_surprisal", qBigramSurprisal,
      s"""WITH tk AS (SELECT doc_id, $sqlTokensLower AS tk FROM documents),
         |b AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
         |      FROM tk WHERE len(tk) >= 2),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
         |cp AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cp FROM cb GROUP BY 1),
         |sc AS (SELECT doc_id,
         |  CAST(ln(CAST(cp AS DOUBLE)) - ln(CAST(cb AS DOUBLE)) AS DECIMAL(28,18)) AS s
         |  FROM b JOIN cb USING (w1, w2) JOIN cp USING (w1))
         |SELECT doc_id, count(*) AS n_bigrams,
         |  ${Fns.roundPSql("CAST(sum(s) AS DOUBLE) / count(*)", 6)} AS mean_nll2
         |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin),
    Gate("q_tfidf_terms", qTfidfTerms,
      s"""WITH t AS (SELECT doc_id, unnest($sqlTokensLower) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS nd FROM documents),
         |sc AS (SELECT doc_id, term, tf,
         |  ${Fns.roundPSql("tf * (ln(CAST(nd AS DOUBLE)) - ln(CAST(df AS DOUBLE)))", 6)} AS tfidf
         |  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf DESC, term) AS rk FROM sc)
         |SELECT doc_id, term, tf, tfidf FROM r WHERE rk <= $TFIDF_TOP
         |ORDER BY doc_id, term""".stripMargin),
    Gate("q_rollup_stats", qRollupStats,
      """SELECT
        |  CASE WHEN GROUPING(lang) = 1 THEN 'ALL'
        |       ELSE COALESCE(lang, '<null>') END AS lang,
        |  CASE WHEN GROUPING(source) = 1 THEN 'ALL'
        |       ELSE COALESCE(source, '<null>') END AS source,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS tot_chars
        |FROM documents GROUP BY ROLLUP(lang, source) ORDER BY 1, 2""".stripMargin),
    Gate("q_pivot_langs", qPivotLangs,
      s"""SELECT source,
         |${LANGS.map(l => s"  count(*) FILTER (WHERE lang = '$l') AS $l").mkString(",\n")}
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q_bloom_decontaminate", qBloomDecontaminate, {
      def posRows(src: String, cols: String) = (0 until BLOOM_SEEDS).map { i =>
        s"SELECT $cols, CAST('0x' || substr(md5(gr || '_b$i'), 1, 8) AS BIGINT) % $BLOOM_M AS pos FROM $src"
      }.mkString("\n  UNION ALL ")
      s"""WITH toks AS (SELECT doc_id, ${TextOps.sqlWsTrim} AS t, $sqlTokens AS w FROM documents),
         |g AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= $DECON_K
         |    THEN list_transform(range(1, len(w) - ${DECON_K - 2}),
         |           i -> array_to_string(w[i:i+${DECON_K - 1}], ' '))
         |    ELSE [t] END) AS gs FROM toks),
         |bg AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id % $BENCH_MOD = 0),
         |bits AS (SELECT DISTINCT pos FROM (
         |  ${posRows("bg", "gr")})),
         |dg AS (SELECT doc_id, unnest(gs) AS gr FROM g WHERE doc_id % $BENCH_MOD <> 0),
         |pp AS (
         |  ${posRows("dg", "doc_id, gr")}),
         |hitg AS (
         |  SELECT p.doc_id, p.gr, count(*) AS nseed
         |  FROM pp p JOIN bits b ON p.pos = b.pos GROUP BY 1, 2),
         |maybe AS (SELECT doc_id, count(*) AS n_maybe FROM hitg
         |          WHERE nseed = $BLOOM_SEEDS GROUP BY 1),
         |exact AS (SELECT d.doc_id, count(*) AS n_hit FROM dg d JOIN bg USING (gr) GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1)
         |SELECT t.doc_id, t.n_grams,
         |  COALESCE(m.n_maybe, 0) AS n_maybe, COALESCE(e.n_hit, 0) AS n_hit,
         |  (COALESCE(m.n_maybe, 0) >= 1) AS bloom_flagged,
         |  (COALESCE(e.n_hit, 0) >= 1) AS contaminated
         |FROM tot t LEFT JOIN maybe m USING (doc_id) LEFT JOIN exact e USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    }),
    Gate("q_group_normalize", qGroupNormalize,
      // mean/variance staged exactly like the Spark side: exact integer
      // (sum, sumsq, n) per lang, then the identical double expressions.
      s"""WITH st AS (
         |  SELECT lang, sum(CAST(n_chars AS DECIMAL(28,0))) AS s,
         |    sum(CAST(CAST(n_chars AS BIGINT) * n_chars AS DECIMAL(28,0))) AS ss,
         |    count(*) AS n
         |  FROM documents GROUP BY lang),
         |m AS (
         |  SELECT lang, CAST(s AS DOUBLE) / n AS mean,
         |    CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) AS vr
         |  FROM st)
         |SELECT d.doc_id, d.lang, d.n_chars,
         |  CASE WHEN m.vr > 0
         |    THEN ${Fns.roundPSql("(d.n_chars - m.mean) / sqrt(m.vr)", 6)}
         |    ELSE NULL END AS z_chars
         |FROM documents d JOIN m USING (lang)
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_bm25", qBm25,
      // every float literal is ::DOUBLE — bare decimals are DECIMAL in
      // DuckDB and decimal division truncates (CLAUDE.md trap)
      s"""WITH t AS (SELECT doc_id, unnest($sqlTokensLower) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |q AS (SELECT term FROM tf WHERE doc_id = $BM25_QDOC),
         |c AS (SELECT * FROM tf WHERE doc_id <> $BM25_QDOC),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM c GROUP BY 1),
         |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
         |m AS (SELECT c.doc_id, c.term, c.tf FROM c JOIN q USING (term)),
         |dfq AS (SELECT term, count(*) AS df FROM m GROUP BY 1),
         |sc AS (SELECT m.doc_id,
         |  CAST(ln(1.0::DOUBLE + (st.nd - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE))
         |    * ((m.tf * ($BM25_K1::DOUBLE + 1.0::DOUBLE))
         |       / (m.tf + $BM25_K1::DOUBLE * (${1 - BM25_B}::DOUBLE
         |            + $BM25_B::DOUBLE * (dl.dl / (CAST(st.tot_dl AS DOUBLE) / st.nd)))))
         |    AS DECIMAL(28,18)) AS s
         |  FROM m JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st)
         |SELECT doc_id, count(*) AS n_match,
         |  ${Fns.roundPSql("CAST(sum(s) AS DOUBLE)", 6)} AS score
         |FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT $BM25_TOP""".stripMargin),
    Gate("q_inverted_index", qInvertedIndex,
      s"""WITH t AS (SELECT doc_id, unnest($sqlTokensLower) AS term FROM documents),
         |st AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf_total
         |       FROM t GROUP BY 1),
         |dd AS (SELECT DISTINCT doc_id, term FROM t),
         |cap AS (SELECT term, doc_id,
         |          row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
         |        FROM dd),
         |pl AS (SELECT term,
         |         array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',') AS postings
         |       FROM cap WHERE rn <= $INV_TOP GROUP BY term)
         |SELECT st.term, st.df, st.tf_total, pl.postings
         |FROM st JOIN pl USING (term) ORDER BY st.term""".stripMargin),
    Gate("q_backoff_lm", qBackoffLm,
      s"""WITH tk AS (SELECT doc_id, ${DedupOps.sqlSplitOf("doc_id")} AS split,
         |              $sqlTokensLower AS tk FROM documents),
         |tr AS (SELECT tk FROM tk WHERE split = 'train'),
         |uni AS (SELECT w, count(*) AS c1
         |        FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY 1),
         |nt AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tot FROM uni),
         |bi AS (SELECT w1, w2, count(*) AS cb FROM (
         |    SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
         |    FROM tr WHERE len(tk) >= 2) GROUP BY 1, 2),
         |tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM (
         |    SELECT unnest(tk[1:len(tk)-2]) AS w1, unnest(tk[2:len(tk)-1]) AS w2,
         |           unnest(tk[3:len(tk)]) AS w3
         |    FROM tr WHERE len(tk) >= 3) GROUP BY 1, 2, 3),
         |pos AS (SELECT doc_id, unnest(tk[1:len(tk)-2]) AS w1,
         |          unnest(tk[2:len(tk)-1]) AS w2, unnest(tk[3:len(tk)]) AS w3
         |        FROM tk WHERE split = 'valid' AND len(tk) >= 3),
         |sc AS (SELECT p.doc_id,
         |  t.c3 IS NOT NULL AS is_tri,
         |  (t.c3 IS NULL AND b23.cb IS NOT NULL) AS is_bi,
         |  CASE WHEN t.c3 IS NOT NULL THEN CAST(t.c3 AS DOUBLE) / b12.cb
         |       WHEN b23.cb IS NOT NULL
         |         THEN $BO_ALPHA::DOUBLE * (CAST(b23.cb AS DOUBLE) / u2.c1)
         |       WHEN u3.c1 IS NOT NULL
         |         THEN $BO_ALPHA::DOUBLE * $BO_ALPHA::DOUBLE * (CAST(u3.c1 AS DOUBLE) / nt.n_tot)
         |       ELSE $BO_ALPHA::DOUBLE * $BO_ALPHA::DOUBLE * (1.0::DOUBLE / nt.n_tot) END AS s
         |  FROM pos p
         |  LEFT JOIN tri t ON t.w1 = p.w1 AND t.w2 = p.w2 AND t.w3 = p.w3
         |  LEFT JOIN bi b12 ON b12.w1 = p.w1 AND b12.w2 = p.w2
         |  LEFT JOIN bi b23 ON b23.w1 = p.w2 AND b23.w2 = p.w3
         |  LEFT JOIN uni u2 ON u2.w = p.w2
         |  LEFT JOIN uni u3 ON u3.w = p.w3
         |  CROSS JOIN nt)
         |SELECT doc_id, count(*) AS n_pos,
         |  CAST(count(*) FILTER (WHERE is_tri) AS BIGINT) AS n_tri,
         |  CAST(count(*) FILTER (WHERE is_bi) AS BIGINT) AS n_bi,
         |  ${Fns.roundPSql("CAST(sum(CAST(-ln(s) AS DECIMAL(28,18))) AS DOUBLE) / count(*)", 6)} AS mean_nll3
         |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin),
    Gate("q_kneser_ney", qKneserNey,
      s"""WITH tk AS (SELECT doc_id, ${DedupOps.sqlSplitOf("doc_id")} AS split,
         |              $sqlTokensLower AS tk FROM documents),
         |bg AS (SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
         |       FROM tk WHERE split = 'train' AND len(tk) >= 2),
         |bi AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1dot, count(*) AS n1p_fwd
         |        FROM bi GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS n1p_bwd FROM bi GROUP BY 1),
         |ty AS (SELECT count(*) AS b_types FROM bi),
         |pos AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
         |        FROM tk WHERE split = 'valid' AND len(tk) >= 2),
         |sc AS (SELECT p.doc_id,
         |  b.cb IS NOT NULL AS seen, c.c1dot IS NOT NULL AS has_ctx,
         |  CASE WHEN c.c1dot IS NOT NULL THEN
         |    greatest(CAST(COALESCE(b.cb, 0) AS DOUBLE) - $KN_D::DOUBLE, 0.0::DOUBLE)
         |      / CAST(c.c1dot AS DOUBLE)
         |    + ($KN_D::DOUBLE * CAST(c.n1p_fwd AS DOUBLE) / CAST(c.c1dot AS DOUBLE))
         |      * (COALESCE(CAST(k.n1p_bwd AS DOUBLE), 0.5::DOUBLE) / CAST(ty.b_types AS DOUBLE))
         |  ELSE COALESCE(CAST(k.n1p_bwd AS DOUBLE), 0.5::DOUBLE) / CAST(ty.b_types AS DOUBLE)
         |  END AS p
         |  FROM pos p
         |  LEFT JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
         |  LEFT JOIN ctx c ON c.w1 = p.w1
         |  LEFT JOIN cont k ON k.w2 = p.w2
         |  CROSS JOIN ty)
         |SELECT doc_id, count(*) AS n_pos,
         |  CAST(count(*) FILTER (WHERE seen) AS BIGINT) AS n_seen,
         |  CAST(count(*) FILTER (WHERE has_ctx) AS BIGINT) AS n_ctx,
         |  ${Fns.roundPSql("CAST(sum(CAST(-ln(p) AS DECIMAL(28,18))) AS DOUBLE) / count(*)", 6)} AS mean_nll2
         |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin),
    Gate("q_vocab_growth", qVocabGrowth,
      s"""WITH t AS (SELECT
         |    CAST('0x' || substr(md5('vg_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |      % $VG_TIERS AS tier,
         |    unnest($sqlTokensLower) AS w
         |  FROM documents),
         |pos AS (SELECT tier, count(*) AS np FROM t GROUP BY 1),
         |ft AS (SELECT w, CAST(min(tier) AS BIGINT) AS tier FROM t GROUP BY 1),
         |vt AS (SELECT tier, count(*) AS nv FROM ft GROUP BY 1),
         |tiers AS (SELECT range AS tier FROM range(0, $VG_TIERS))
         |SELECT tiers.tier,
         |  CAST(sum(COALESCE(pos.np, 0)) OVER
         |    (ORDER BY tiers.tier ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_positions,
         |  CAST(sum(COALESCE(vt.nv, 0)) OVER
         |    (ORDER BY tiers.tier ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_vocab
         |FROM tiers LEFT JOIN pos ON pos.tier = tiers.tier
         |LEFT JOIN vt ON vt.tier = tiers.tier
         |ORDER BY tiers.tier""".stripMargin),
    Gate("q_pmi_collocations", qPmiCollocations,
      s"""WITH tk AS (SELECT $sqlTokensLower AS tk FROM documents),
         |u AS (SELECT w, count(*) AS c
         |      FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY 1),
         |nu AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM u),
         |b AS (SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
         |      FROM tk WHERE len(tk) >= 2),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
         |nb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM cb)
         |SELECT cb.w1, cb.w2, cb.cb,
         |  ${Fns.roundPSql(
             "ln(CAST(cb.cb AS DOUBLE)) + ln(CAST(nu AS DOUBLE)) + ln(CAST(nu AS DOUBLE))" +
             " - ln(CAST(nb AS DOUBLE)) - ln(CAST(u1.c AS DOUBLE)) - ln(CAST(u2.c AS DOUBLE))", 6)} AS pmi
         |FROM cb JOIN u u1 ON u1.w = cb.w1 JOIN u u2 ON u2.w = cb.w2
         |CROSS JOIN nb CROSS JOIN nu
         |WHERE cb.cb >= $PMI_MIN_C
         |ORDER BY pmi DESC, cb.w1, cb.w2 LIMIT $PMI_TOP""".stripMargin),
    Gate("q_dsir_weights", qDsirWeights,
      s"""WITH $sqlDsirCtes
         |SELECT doc_id, n_feats, logw, (logw > 0) AS keep FROM (
         |  SELECT doc_id, count(*) AS n_feats,
         |    ${Fns.roundPSql("CAST(sum(lt) AS DOUBLE)", 6)} AS logw
         |  FROM rawf JOIN ratios USING (f) GROUP BY 1)
         |ORDER BY doc_id""".stripMargin),
    Gate("q_ess", qEss,
      s"""WITH $sqlDsirCtes,
         |perdoc AS MATERIALIZED (
         |  SELECT doc_id, ${Fns.roundPSql("CAST(sum(lt) AS DOUBLE)", 6)} AS logw
         |  FROM rawf JOIN ratios USING (f) GROUP BY 1),
         |wts AS (SELECT exp(logw - (SELECT max(logw) FROM perdoc)) AS w
         |        FROM perdoc),
         |m AS (SELECT count(*) AS n_docs,
         |    CAST(sum(CAST(w AS DECIMAL(28,18))) AS DOUBLE) AS swd,
         |    CAST(sum(CAST(w * w AS DECIMAL(28,18))) AS DOUBLE) AS swwd
         |  FROM wts),
         |e AS (SELECT n_docs, (swd * swd) / swwd AS ess0 FROM m)
         |SELECT n_docs, ${Fns.roundPSql("ess0", 6)} AS ess,
         |  ${Fns.roundPSql("ess0 / CAST(n_docs AS DOUBLE)", 6)} AS ess_frac
         |FROM e""".stripMargin),
    Gate("q_ppl_buckets", qPplBuckets,
      s"""WITH t AS (SELECT doc_id, unnest($sqlTokensLower) AS w FROM documents),
         |c AS (SELECT w, count(*) AS c FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM c),
         |sc AS (SELECT doc_id,
         |  CAST(ln(CAST(tot AS DOUBLE)) - ln(CAST(c AS DOUBLE)) AS DECIMAL(28,18)) AS s
         |  FROM t JOIN c USING (w) CROSS JOIN tot),
         |scored AS (SELECT doc_id,
         |  ${Fns.roundPSql("CAST(sum(s) AS DOUBLE) / count(*)", 6)} AS mean_nll
         |  FROM sc GROUP BY 1),
         |sl AS (SELECT s.doc_id, d.lang, s.mean_nll
         |       FROM scored s JOIN documents d USING (doc_id)),
         |bv AS (SELECT lang, mean_nll, count(*) AS cnt FROM sl GROUP BY 1, 2),
         |cum AS (SELECT lang, mean_nll, sum(cnt) OVER (PARTITION BY lang
         |    ORDER BY mean_nll ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM bv),
         |n AS (SELECT lang, count(*) AS n FROM sl GROUP BY 1),
         |bounds AS (SELECT cum.lang,
         |    min(CASE WHEN cum * 3 >= n THEN mean_nll END) AS b1,
         |    min(CASE WHEN cum * 3 >= n * 2 THEN mean_nll END) AS b2
         |  FROM cum JOIN n USING (lang) GROUP BY 1)
         |SELECT sl.doc_id, sl.lang, sl.mean_nll,
         |  CASE WHEN mean_nll <= b1 THEN 'head'
         |       WHEN mean_nll <= b2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sl JOIN bounds USING (lang) ORDER BY sl.doc_id""".stripMargin),
  )
}
