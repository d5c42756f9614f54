package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Model-driven corpus operators — the "train a cheap model ON the corpus,
  * then score the corpus WITH it" family every large-scale data pipeline
  * ships (fasttext-style language/quality filters, MOSS-style overlap
  * detection). Reference kin: the classify/score surface GQLite reserves
  * under its inference stubs (SURVEY.md §2.3) — implemented here for real,
  * Spark-first.
  *
  * Scale posture: training aggregations are token-keyed (vocab-bounded →
  * broadcastable model tables); scoring is one broadcast join over the
  * exploded corpus plus one doc-keyed agg. Nothing shuffles the corpus on
  * a non-doc key.
  */
object ModelOps {
  /** Winnowing k-gram width (token shingles) and window size — Schleimer,
    * Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting" (SIGMOD 2003). Any shared run of [[WIN_W]] + [[WIN_K]]
    * − 1 tokens is guaranteed to share at least one selected fingerprint. */
  val WIN_K = 3
  val WIN_W = 4

  /** Posting-list cap: fingerprints appearing in more than this many
    * documents are corpus-idiomatic (boilerplate), carry no near-dup
    * signal, and would quadratically blow up the pair join — dropped
    * before pairing (the standard stop-fingerprint guard; at sf0.01 the
    * max observed df is 7, so the cap is pure scale insurance). */
  val WIN_MAXDF = 50

  /** Pairs sharing fewer than this many fingerprints are noise on a
    * ~30-word-vocabulary corpus (measured: 3,374 pairs ≥1 vs 24 pairs ≥5
    * with a clean gap to the near-dup cluster at 13–37). */
  val WIN_MINSHARED = 5

  // --------------------------------------------------------------------
  // Multinomial Naive Bayes language classifier
  // --------------------------------------------------------------------

  /** Train-and-score multinomial Naive Bayes over the documents table:
    * class = `lang`, features = lower-cased whitespace tokens, Laplace
    * add-one smoothing, log-space scoring; output is the resubstitution
    * confusion matrix (true lang × predicted lang × doc count) — the
    * compact, deterministic artifact a filter-training job reports.
    *
    * Exactness: every log term is cast to decimal(28,18) BEFORE any
    * arithmetic (the qSurprisal pattern); the corpus is tf-compressed and
    * each term is multiplied by tf as decimal(28,18) × decimal(9,0) —
    * exact at precision 38 on both engines (tf < 10⁹ is guaranteed by the
    * 2 GiB string ceiling long before the cast could overflow) — so
    * aggregation order cannot perturb a score. The argmax tie-breaks on
    * candidate label ascending.
    *
    * Plan: the corpus collapses to (doc, token, tf) in ONE (doc, token)-
    * keyed shuffle (map-side partial agg); token/class model tables are
    * aggs of THAT frame bounded by |vocab|×|classes| → the score join
    * BROADCASTS the model; the per-(doc, class) sum is the only other
    * doc-keyed shuffle, and the argmax window rides the 5-rows-per-doc
    * frame, not the token stream. Docs with zero tokens have no score
    * rows and are excluded identically on both engines.
    */
  val qNbLang: Q = (s, d) =>
    nbConfusion(s, d).orderBy("lang", "pred")

  /** The resubstitution confusion matrix (lang, pred, n) behind
    * [[qNbLang]] and [[qNbMetrics]]. */
  private def nbConfusion(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // Stage the token array, THEN explode the attribute (the
    // InferFiltersFromGenerate trap — PERF.md); collapse to tf counts
    // immediately. 2 consumers (model side, scoring side) → persist.
    val tf = nbTokenTf(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val (term, pri) = nbModelFromTf(s, tf, docs)
    val am = nbPredict(tf.select("doc_id", "w", "tf"), term, pri)
    am.join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
  }

  /** Per-class evaluation metrics over the [[qNbLang]] confusion matrix —
    * the precision/recall/F1 report every classifier-driven curation
    * stage (fasttext-style language filters, quality classifiers) ships
    * with its predictions. Each ratio is ONE integer-operand IEEE
    * division (F1 via its 2tp/(2tp+fp+fn) identity rather than the
    * precision·recall composition, which would chain three rounded
    * divisions), nullif-guarded for never-predicted classes. Everything
    * after the confusion matrix is O(classes²) arithmetic. */
  val qNbMetrics: Q = (s, d) => {
    val conf = nbConfusion(s, d).persist(StorageLevel.MEMORY_AND_DISK)
    val cls = conf.select(col("lang")).distinct()
    val tp = conf.filter(col("lang") === col("pred"))
      .select(col("lang"), col("n").as("tp"))
    val fp = conf.filter(col("lang") =!= col("pred"))
      .groupBy(col("pred").as("lang")).agg(sum("n").as("fp"))
    val fn = conf.filter(col("lang") =!= col("pred"))
      .groupBy("lang").agg(sum("n").as("fn"))
    val ratio = (num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =>
      Fns.roundP(num.cast("double") /
        when(den === 0, lit(null)).otherwise(den).cast("double"), 6)
    cls
      .join(tp, Seq("lang"), "left").join(fp, Seq("lang"), "left")
      .join(fn, Seq("lang"), "left")
      .select(col("lang"), coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        coalesce(col("fn"), lit(0L)).as("fn"))
      .select(col("lang"), col("tp"), col("fp"), col("fn"),
        ratio(col("tp"), col("tp") + col("fp")).as("prec"),
        ratio(col("tp"), col("tp") + col("fn")).as("rec"),
        ratio(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"))
      .orderBy("lang")
  }

  /** (doc_id, lang, w, tf) token-frequency collapse of a document frame —
    * one (doc, token)-keyed shuffle with map-side combine. */
  private[graft] def nbTokenTf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), Fns.tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"), col("lang"), explode(col("tk")).as("w"))
      .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("tf"))

  /** Train the NB score tables from a token-frequency frame: `term` =
    * (w, cand, s) smoothed log-likelihood terms over the full token ×
    * class grid, `pri` = (cand, lp) log priors. Both vocab×classes-
    * bounded → broadcast-joinable at any corpus size. */
  private[graft] def nbModelFromTf(s: SparkSession, tf: DataFrame,
                                   docs: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    // persisted (r16, guide §2.4): cw has THREE consumers (tl, vocabN,
    // and the term grid join) — without the persist the token-frequency
    // agg re-ran for each. The frame is vocab×classes-bounded.
    val cw = tf.groupBy(col("lang").as("cand"), col("w"))
      .agg(sum(col("tf")).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tl = cw.groupBy("cand").agg(sum(col("c")).as("tl"))
    val vocabN = cw.agg(countDistinct(col("w")).as("v"))
    val cands = CorpusOps.LANGS.toDF("cand")
    // Full (token × class) grid so unseen pairs get the smoothed floor.
    val term = cw.select("w").distinct()
      .crossJoin(broadcast(cands))
      .join(cw, Seq("w", "cand"), "left")
      .join(tl, Seq("cand"))
      .crossJoin(broadcast(vocabN))
      .select(col("w"), col("cand"),
        (log((coalesce(col("c"), lit(0L)) + 1).cast("double")) -
          log((col("tl") + col("v")).cast("double")))
          .cast("decimal(28,18)").as("s"))
    val nAll = docs.agg(count(lit(1)).as("n"))
    val pri = docs.groupBy(col("lang").as("cand"))
      .agg(count(lit(1)).as("nl"))
      .crossJoin(broadcast(nAll))
      .select(col("cand"),
        (log(col("nl").cast("double")).cast("decimal(28,18)") -
          log(col("n").cast("double")).cast("decimal(28,18)")).as("lp"))
    (term, pri)
  }

  /** Score a (doc_id, w, tf) frame against trained (term, pri) tables →
    * (doc_id, pred). Tokens outside the training vocabulary contribute
    * nothing (standard NB OOV handling); docs with NO in-vocabulary
    * tokens produce no row. One broadcast join + one doc-keyed agg; the
    * argmax window rides the classes-per-doc frame, not the token
    * stream. */
  /** Per-(doc, class) posterior log-scores (decimal-exact) behind
    * [[nbPredict]] and [[qCalibration]]. */
  private[graft] def nbScores(tokTf: DataFrame, term: DataFrame,
                              pri: DataFrame): DataFrame = {
    val sc = tokTf
      .join(broadcast(term), Seq("w"))
      .groupBy("doc_id", "cand")
      .agg(sum(col("s") * col("tf").cast("decimal(9,0)")).as("s"))
    // persisted (r16): the (doc × class) score frame is the shared input
    // of five gates (q_nb_lang, q_auc, q_calibration, q_isotonic,
    // q_pivot_langs' predict path) — CacheManager dedups the identical
    // canonicalized plan within a pass, so the token⋈model join + agg
    // runs once per pass instead of once per consumer. docs×classes rows.
    sc.join(broadcast(pri), Seq("cand"))
      .select(col("doc_id"), col("cand"), (col("s") + col("lp")).as("score"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  private[graft] def nbPredict(tokTf: DataFrame, term: DataFrame,
                               pri: DataFrame): DataFrame =
    nbScores(tokTf, term, pri)
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cand").as("pred"))

  // --------------------------------------------------------------------
  // Winnowing fingerprint overlap (MOSS)
  // --------------------------------------------------------------------

  /** Winnowing document-overlap detection: hash every [[WIN_K]]-token
    * shingle ([[Fns.hash32]]), slide a [[WIN_W]]-wide window over the hash
    * sequence, keep each window's minimum as a selected fingerprint
    * (distinct per document), drop stop-fingerprints (df > [[WIN_MAXDF]]),
    * and report document pairs sharing ≥ [[WIN_MINSHARED]] fingerprints
    * with their overlap coefficient. Guarantees any shared token run of
    * length ≥ WIN_W + WIN_K − 1 yields a shared fingerprint, at ~2/(W+1)
    * of the full-shingle posting volume — the plagiarism/near-dup detector
    * that scales where q_jaccard_pairs' exact prefix filter is the
    * verifier. (Schleimer et al., SIGMOD 2003; qFingerprint is the 1-hash
    * degenerate form.)
    *
    * Plan: hashing AND window-min selection are row-local array algebra
    * (see [[winnowSel]]) — the corpus never shuffles; only selected
    * fingerprints (8 B each, ~2/(W+1) of the shingle count) move, into an
    * fp-keyed df-cap agg and an fp-keyed postings self-join whose lists
    * are df-capped, so no hot fingerprint can go quadratic. Docs shorter
    * than the window select their single whole-doc minimum.
    */
  /** Selection stage of [[qWinnow]]: (doc_id, text) → distinct selected
    * (doc_id, fp) fingerprints, ENTIRELY row-local: the window minima are
    * an O(n·W) `transform`+`slice`+`array_min` fold over the staged hash
    * array (W = 4, so the constant is small), deduplicated with
    * `array_distinct` before the explode — no doc-keyed shuffle, no
    * corpus-wide DISTINCT. A doc shorter than the window contributes its
    * single whole-array minimum. Exposed for the guarantee spec. */
  private[graft] def winnowSel(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), Fns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        Fns.shinglesOfTokens(col("toks"), col("text"), WIN_K).as("sh"))
      .select(col("doc_id"),
        transform(col("sh"), g => Fns.hash32(g)).as("hs"))
      .select(col("doc_id"),
        when(size(col("hs")) >= WIN_W,
          array_distinct(transform(
            sequence(lit(1), size(col("hs")) - (WIN_W - 1)),
            i => array_min(slice(col("hs"), i, lit(WIN_W))))))
          .otherwise(array(array_min(col("hs")))).as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("nfp"),
        posexplode_outer(col("fps")))
      .select(col("doc_id"), col("nfp"), col("col").as("fp"))

  val qWinnow: Q = (s, d) => {
    // 2 consumers (df-cap agg, pair join) → persist.
    val sel = winnowSel(Tables.documents(s, d).select("doc_id", "text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfq = sel.groupBy("fp").agg(count(lit(1)).as("df"))
    val keep = sel.join(dfq.filter(col("df") <= WIN_MAXDF), Seq("fp"))
      .select("doc_id", "nfp", "fp")
    // n_a/n_b ride the postings rows, so no per-doc count join is needed.
    keep.select(col("doc_id").as("doc_a"), col("nfp").as("n_a"), col("fp"))
      .join(keep.select(col("doc_id").as("doc_b"), col("nfp").as("n_b"), col("fp")),
        Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WIN_MINSHARED)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"), col("n_b"),
        Fns.roundP(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 4).as("overlap"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
  }

  // --------------------------------------------------------------------
  // BPE merge learning (tokenizer training)
  // --------------------------------------------------------------------

  /** Number of byte-pair merges to learn. */
  val BPE_MERGES = 8

  /** Minimum word frequency admitted to the BPE trainer's vocab table —
    * the standard trainer floor (sentencepiece, HF tokenizers ship the
    * same knob) that bounds the driver-side word-frequency collect BY
    * POLICY rather than by data: web-scale corpora carry 10⁷-10⁸ word
    * forms, most hapax noise, and a floor of even 2-5 cuts the table an
    * order of magnitude while leaving merge counts essentially unchanged
    * (a merge the floor could flip would be supported only by dropped
    * hapaxes). 1 on testdata = admit everything, so the gate frame is
    * byte-identical; raise it here for a real corpus. */
  val BPE_MINFREQ = 1L

  /** End-of-word marker symbol (Sennrich, Haddow & Birch, "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016 — the
    * word-boundary convention that makes merges position-aware). */
  val BPE_EOW = "</w>"

  /** Learn the first [[BPE_MERGES]] byte-pair-encoding merges over the
    * corpus and emit the merge table (step, lhs, rhs, pair_count) — the
    * model artifact a tokenizer-training job ships. Pair statistics are
    * weighted by word frequency; the winning pair per round is the argmax
    * by (count desc, lhs asc, rhs asc) — all-integer arithmetic, so
    * cross-engine parity needs no float care. The merge step itself is the
    * canonical greedy left-to-right single scan (a merged token never
    * immediately re-merges), expressed as an `aggregate()` fold per word.
    *
    * Plan/scale: the ONLY corpus-scale stage is the word-frequency
    * aggregation — one (token)-keyed shuffle with map-side combine; every
    * production BPE trainer reduces to word counts first for exactly this
    * reason (the merge loop's cost must not depend on corpus size). The
    * merge loop then runs on the driver over the [[BPE_MINFREQ]]-floored
    * (word, symbols, freq) table: per round a pair count, the argmax
    * (the learned merge IS the result) and a greedy rewrite; nothing in
    * the loop touches the corpus again. */
  val qBpeMerges: Q = (s, d) => {
    import s.implicits._
    bpeLearn(s, d)._1
      .toDF("step", "lhs", "rhs", "pair_count")
      .orderBy("step")
  }

  /** Learn loop shared by [[qBpeMerges]] and [[qBpeTokenize]]: returns the
    * merge table rows and the post-merge vocab frame (w, f, syms).
    *
    * The corpus-scale stage — word-frequency aggregation — is the ONLY
    * distributed job: one (token)-keyed shuffle with map-side combine.
    * The vocab-bounded (word, freq) table is then collected ONCE and the
    * greedy merges fold on the driver — the same single-node posture as
    * every production BPE trainer (sentencepiece, HF tokenizers), which
    * reduce to word counts first precisely so the merge loop's cost is
    * corpus-size-independent. This replaced a per-round distributed
    * pair-agg + 1-row collect (8 job round-trips for 8 merges; measured
    * in PERF.md). At production MERGES=30k+ the driver fold is the only
    * viable shape anyway — 30k Spark jobs would be hours of scheduling
    * overhead on a millions-of-rows frame. */
  private def bpeLearn(s: SparkSession, d: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import s.implicits._
    val wf: Array[(String, Long)] = Tables.documents(s, d)
      .select(Fns.tokens(lower(col("text"))).as("tk"))
      .select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .filter(col("f") >= BPE_MINFREQ) // policy bound on the driver collect
      .as[(String, Long)]
      .collect()
    // (word, freq, symbol list) — chars + end-of-word marker
    val words: Array[(String, Long, Array[String])] =
      wf.map { case (w, f) => (w, f, w.map(_.toString).toArray :+ BPE_EOW) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to BPE_MERGES) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (_, f, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      require(counts.nonEmpty, s"BPE merge round $step found no pairs")
      // argmax with the distributed loop's exact tie-break: count desc,
      // then (l, r) ascending — binary string order (corpus is ASCII).
      val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
      merges += ((step, l, r, c))
      // greedy left-to-right single-scan rewrite (a merged token never
      // immediately re-merges) — same fold the aggregate() version ran
      words.indices.foreach { wi =>
        val (w, f, syms) = words(wi)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { x =>
          if (buf.nonEmpty && buf.last == l && x == r) buf(buf.length - 1) = l + r
          else buf += x
        }
        words(wi) = (w, f, buf.toArray)
      }
    }
    val vocab = words.toSeq.toDF("w", "f", "syms")
    (merges.result(), vocab)
  }

  /** Apply the learned [[BPE_MERGES]] merges to the corpus and report the
    * per-language tokenization profile: word count, subword count, mean
    * subwords per word, and distinct subword types — the
    * compression/fertility readout a tokenizer-training run is judged by.
    *
    * Plan/scale: tokenized text never materializes — the corpus reduces
    * to (lang, word) counts in one shuffle (map-side combine; |vocab| ×
    * |langs| bounded output), the post-merge vocab (word → symbol list)
    * joins in as a BROADCAST (vocab-bounded by construction), and the
    * per-lang profile is a second bounded agg. The subword-type count
    * explodes the vocab-bounded frame only, never the corpus. */
  val qBpeTokenize: Q = (s, d) => {
    val vocab = bpeLearn(s, d)._2.select(col("w"), col("syms"))
    val lw = Tables.documents(s, d)
      .select(col("lang"), Fns.tokens(lower(col("text"))).as("tk"))
      .select(col("lang"), explode(col("tk")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("f"))
      .join(broadcast(vocab), Seq("w"))
      .persist(StorageLevel.MEMORY_AND_DISK) // profile + type-count branches
    val prof = lw.groupBy("lang").agg(
      sum(col("f")).as("n_words"),
      sum(col("f") * size(col("syms"))).as("n_subwords"))
    val types = lw
      .select(col("lang"), explode(col("syms")).as("sw"))
      .groupBy("lang").agg(countDistinct(col("sw")).as("n_types"))
    prof.join(types, Seq("lang"))
      .select(col("lang"), col("n_words"), col("n_subwords"),
        Fns.roundP(col("n_subwords").cast("double") / col("n_words"), 6)
          .as("avg_subwords"),
        col("n_types"))
      .orderBy("lang")
  }

  // --------------------------------------------------------------------
  // Classifier calibration (reliability diagram)
  // --------------------------------------------------------------------

  /** Reliability diagram of the [[qNbLang]] classifier — the calibration
    * readout every filter-training run ships beside precision/recall
    * (an over-confident quality/language filter silently skews the
    * corpus mix at threshold time): per confidence decile, document
    * count, mean softmax confidence, and empirical accuracy, plus the
    * |acc − conf| gap the ECE weights.
    *
    * Exactness: class scores are the decimal-exact NB log-posteriors;
    * softmax runs as exp(score − max) with the subtraction in decimals,
    * each exp term cast back to decimal(28,18) before the 5-term sum, so
    * no aggregation order exists (exp itself is bit-identical across
    * engines — probed against DuckDB's libm, like the established ln
    * parity). The top class's term is exp(0) = 1 exactly, so confidence
    * collapses to 1/Σterms — one IEEE division. Buckets are
    * floor(conf·10) capped at 9.
    *
    * Plan: rides the same (doc, token, tf) collapse + broadcast model as
    * qNbLang; the softmax/argmax windows run on the 5-rows-per-doc score
    * frame; the report is one bounded (≤10-row) agg. */
  /** Per-document NB confidence frame (doc_id, lang, pred, conf) — the
    * calibration chain down to each document's softmax confidence and
    * top-1 prediction, shared verbatim by [[qCalibration]] and
    * [[qIsotonic]] so both gates score the identical predictions. */
  private def calibPerDoc(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = nbTokenTf(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val (term, pri) = nbModelFromTf(s, tf, docs)
    val fin = nbScores(tf.select("doc_id", "w", "tf"), term, pri)
    val wD = Window.partitionBy("doc_id")
    val scored = fin
      .withColumn("m", max(col("score")).over(wD))
      .withColumn("p", exp((col("score") - col("m")).cast("double"))
        .cast("decimal(28,18)"))
      .withColumn("rk", row_number().over(
        wD.orderBy(col("score").desc, col("cand"))))
    scored.groupBy("doc_id")
      .agg(sum(col("p")).as("denom"),
        min(when(col("rk") === 1, col("cand"))).as("pred"))
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("conf", lit(1.0) / col("denom").cast("double"))
  }

  val qCalibration: Q = (s, d) => {
    val perDoc = calibPerDoc(s, d)
      .withColumn("bucket",
        least(floor(col("conf") * 10), lit(9.0)).cast("int"))
    perDoc.groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("conf").cast("decimal(28,18)")).as("cs"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("ok"))
      .select(col("bucket"), col("n"),
        Fns.roundP(col("cs").cast("double") / col("n"), 6).as("mean_conf"),
        Fns.roundP(col("ok").cast("double") / col("n"), 6).as("acc"))
      .withColumn("gap", Fns.roundP(abs(col("mean_conf") - col("acc")), 6))
      .orderBy("bucket")
  }

  /** Isotonic (PAVA) recalibration of the NB confidence-vs-accuracy curve
    * (Zadrozny & Elkan, KDD 2002) — the nonparametric monotone map a
    * production filter applies on top of [[qCalibration]]'s reliability
    * diagram: `iso` is the least-squares monotone fit of per-bucket
    * accuracy on confidence, the lookup table that turns a miscalibrated
    * score into a usable keep-probability.
    *
    * Computed via the minimax identity iso(i) = max_{j≤i} min_{k≥i}
    * wavg(acc, j..k) (Barlow et al. 1972), which equals the
    * pool-adjacent-violators fit but is pure BOUNDED relational algebra —
    * no sequential merge loop, so no driver fold and the DuckDB twin is
    * plain SQL. Exactness: wavg(j..k) = (cumOk_k − cumOk_j + ok_j) /
    * (cumN_k − cumN_j + n_j) is an integer÷integer with ONE double
    * division, so both engines produce the identical IEEE value and the
    * min/max comparisons cannot diverge.
    *
    * Scale posture: the corpus collapses to ≤ 10 decile rows inside the
    * same doc-keyed chain qCalibration runs; the O(B³) minimax join is
    * over a B = 10-row frame — plan-literal work, scale-free. PlanSpec's
    * calibration pins cover the corpus-side chain; IsotonicSpec pins
    * monotonicity and equality with a from-scratch sequential PAVA. */
  val qIsotonic: Q = (s, d) => {
    val b = calibPerDoc(s, d)
      .withColumn("bucket",
        least(floor(col("conf") * 10), lit(9.0)).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("ok"))
    // prefix sums over the bounded bucket frame (single-partition window
    // over ≤ 10 rows — deliberately un-partitioned). PERSISTED (r16,
    // guide §2.4/§5): cum has THREE consumers below (pj, pk, and the
    // final select) and Spark has no cross-branch CSE, so without the
    // persist each one re-executed the ENTIRE NB corpus chain — three
    // full scoring passes for a ≤10-row frame. Measured 4.07 s → see
    // OPTIMIZATION_r16.md.
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = b.select(col("bucket"), col("n"), col("ok"),
      sum(col("n")).over(wB).as("cn"), sum(col("ok")).over(wB).as("cok"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pj = cum.select(col("bucket").as("j"), col("n").as("nj"),
      col("ok").as("okj"), col("cn").as("cnj"), col("cok").as("cokj"))
    val pk = cum.select(col("bucket").as("k"),
      col("cn").as("cnk"), col("cok").as("cokk"))
    // both non-equi joins ride the ≤10-row bucket frame — broadcast the
    // build side so they plan as BroadcastNestedLoopJoin, never the
    // partitioned CartesianProduct (QueriesSpec's plan gate)
    val pairs = pj.join(broadcast(pk), col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cokk") - col("cokj") + col("okj")).cast("double") /
         (col("cnk") - col("cnj") + col("nj")).cast("double")).as("wavg"))
    cum.select(col("bucket"), col("n"), col("ok"))
      .join(broadcast(pairs),
        col("j") <= col("bucket") && col("k") >= col("bucket"))
      .groupBy(col("bucket"), col("n"), col("ok"), col("j"))
      .agg(min(col("wavg")).as("mn"))
      .groupBy(col("bucket"), col("n"), col("ok"))
      .agg(max(col("mn")).as("iso_raw"))
      .select(col("bucket"), col("n"),
        Fns.roundP(col("ok").cast("double") / col("n").cast("double"), 6)
          .as("acc"),
        Fns.roundP(col("iso_raw"), 6).as("iso"))
      .orderBy("bucket")
  }

  /** One-vs-rest ROC-AUC per class for the NB classifier — the
    * threshold-free ranking-quality readout beside [[qCalibration]]'s
    * probability-quality one (a filter can rank well and still be
    * miscalibrated, and vice versa). Score = the class's softmax
    * posterior; AUC is the tie-corrected Mann–Whitney statistic
    * U = Σ_p (negBelow(p)·pos(p) + pos(p)·neg(p)/2) over DISTINCT score
    * values p ascending, so the arithmetic is INTEGER-exact until the one
    * final division (doubled to keep the half-credit term integral:
    * AUC = U2 / (2·P·N)).
    *
    * Scale posture: scoring is the NB broadcast chain; the rank pass then
    * collapses to (class, score) COUNTS first — one keyed agg — and the
    * prefix-sum window rides the distinct-score frame, which is bounded
    * by score collisions (ties), not by the corpus; at 100 TB the
    * standard tightening is score-bucketing, which this dataflow admits
    * by coarsening p before the count agg. Docs with no in-vocabulary
    * tokens have no score rows and are excluded identically on both
    * engines (the [[qNbLang]] discipline). */
  val qAuc: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tf = nbTokenTf(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val (term, pri) = nbModelFromTf(s, tf, docs)
    val fin = nbScores(tf.select("doc_id", "w", "tf"), term, pri)
    val wD = Window.partitionBy("doc_id")
    val probs = fin
      .withColumn("m", max(col("score")).over(wD))
      .withColumn("e", exp((col("score") - col("m")).cast("double"))
        .cast("decimal(28,18)"))
      .withColumn("denom", sum(col("e")).over(wD))
      .select(col("doc_id"), col("cand"),
        (col("e").cast("double") / col("denom").cast("double")).as("p"))
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("pos", (col("lang") === col("cand")).cast("long"))
    val counts = probs.groupBy("cand", "p")
      .agg(sum(col("pos")).as("pos_n"),
        (count(lit(1)) - sum(col("pos"))).as("neg_n"))
    val wP = Window.partitionBy("cand").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("neg_below", coalesce(sum(col("neg_n")).over(wP), lit(0L)))
      .groupBy("cand")
      .agg(sum(col("pos_n")).as("n_pos"), sum(col("neg_n")).as("n_neg"),
        sum(lit(2L) * col("neg_below") * col("pos_n") +
          col("pos_n") * col("neg_n")).as("u2"))
      .select(col("cand"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          Fns.roundP(col("u2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
          .as("auc"))
      .orderBy("cand")
  }

  // --------------------------------------------------------------------
  // Logistic-regression quality classifier (the fastText-shaped filter)
  // --------------------------------------------------------------------

  /** Batch-gradient rounds for the LR quality fit. On this feature scale
    * (all features O(1)) the loss plateau is reached well before 20; the
    * constant is part of the gate's definition, like [[BT_ITERS]]. */
  val LR_ITERS = 20
  /** Learning rate — 2.0 reaches accuracy ≈ 0.97 / AUC ≈ 0.99 on the
    * shipped corpus in [[LR_ITERS]] rounds (measured; see ModelOpsSpec). */
  val LR_RATE = 2.0

  /** Per-document LR feature/label frame: label y = the Gopher-rule keep
    * flag (the [[TextOps.qGopherRules]] conjunction, integer/IEEE-exact on
    * both engines), features all O(1)-scaled deterministic doubles —
    * bias handled implicitly, f1 = words/64 (dyadic), f2 = stopword ratio,
    * f3 = mean word length / 8. One corpus scan, zero shuffle. */
  private[graft] def lrFeatures(docs: DataFrame): DataFrame = {
    val nw = size(Fns.tokens(col("text"))).cast("double")
    val nns = length(regexp_replace(col("text"), "\\s", "")).cast("double")
    val nSym = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("double")
    val nStop = size(regexp_extract_all(col("text"),
      lit("\\b(the|a|of|and|to|in)\\b"), lit(0))).cast("double")
    val nc = length(col("text")).cast("double")
    docs.select(col("doc_id"), nw.as("nw"), nns.as("nns"), nSym.as("nsym"),
        nStop.as("nstop"), nc.as("nc"))
      .select(col("doc_id"),
        ((col("nw") >= 50 && col("nw") <= 100000) &&
          (col("nns") / col("nw") >= 3.0 && col("nns") / col("nw") <= 10.0) &&
          (col("nsym") / col("nc") < 0.1) && (col("nstop") >= 2))
          .cast("int").as("y"),
        (col("nw") / lit(64.0)).as("f1"),
        (col("nstop") / col("nw")).as("f2"),
        ((col("nns") / col("nw")) / lit(8.0)).as("f3"))
  }

  /** The per-row sigmoid score under weights w — the exact op order the
    * DuckDB twin repeats per unrolled round: z left-folds
    * ((w0 + w1·f1) + w2·f2) + w3·f3, p = 1/(1+exp(−z)). */
  private def lrP(w: Array[Double]) = {
    val z = lit(w(0)) + lit(w(1)) * col("f1") +
      lit(w(2)) * col("f2") + lit(w(3)) * col("f3")
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Distributed batch-gradient logistic regression (the trained quality
    * filter every production corpus pipeline runs — fastText-shaped, here
    * on interpretable features): w ← w − η/n · Σᵢ (σ(wᵀxᵢ) − yᵢ)·xᵢ for
    * [[LR_ITERS]] rounds from w = 0.
    *
    * Scale/exactness posture: the ONLY corpus-scale work is one feature
    * scan (persisted) plus one partial+final aggregation per round
    * producing FOUR decimal sums — model state is 4 doubles carried as
    * plan literals (the q_kmeans posture; the per-round collect is one
    * row). Each per-row gradient term is a double cast to decimal(28,18)
    * BEFORE the sum, so aggregation order cannot move the result and both
    * engines iterate from bit-identical state; the driver's weight update
    * repeats the twin's literal expression op-for-op (w − η·(g/n)). exp
    * parity across engines is measured precedent (q_ess, q_calibration).
    * At 100 TB: features are a projection of corpus stats the scan already
    * computes; 20 passes over a persisted 4-column double frame, gradient
    * partials map-side combined — no shuffle grows with the corpus. */
  private[graft] def lrTrainOf(docs: DataFrame): (DataFrame, Array[Double]) = {
    val feats = lrFeatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to LR_ITERS) {
      val p = lrP(w)
      val row = feats.agg(
        sum((p - col("y")).cast("decimal(28,18)")).as("g0"),
        sum(((p - col("y")) * col("f1")).cast("decimal(28,18)")).as("g1"),
        sum(((p - col("y")) * col("f2")).cast("decimal(28,18)")).as("g2"),
        sum(((p - col("y")) * col("f3")).cast("decimal(28,18)")).as("g3"),
        count(lit(1)).as("n")).head()
      val n = row.getLong(4).toDouble
      for (j <- 0 to 3)
        w(j) = w(j) - LR_RATE * (row.getDecimal(j).doubleValue / n)
    }
    (feats, w)
  }

  /** LR feature names in gate order (alphabetical = report order). */
  private val LR_FEATS = Seq("bias", "nw_64", "stop_ratio", "wl_8")

  /** Trained LR weights — the model artifact a curation run ships. */
  val qLrQuality: Q = (s, d) => {
    import s.implicits._
    val (_, w) = lrTrainOf(Tables.documents(s, d))
    LR_FEATS.zip(w.toSeq)
      .map { case (f, v) => (f, math.floor(v * 1e6 + 0.5) / 1e6) } // roundP twin
      .toDF("feature", "weight")
      .orderBy("feature")
  }

  /** Threshold + ranking + probability quality of the trained LR filter in
    * one row: accuracy at p ≥ 0.5, tie-corrected Mann–Whitney AUC (the
    * [[qAuc]] integer-exact U2 chain over distinct scores), and the Brier
    * score (decimal-exact sum of squared residuals). */
  val qLrMetrics: Q = (s, d) => {
    val (feats, w) = lrTrainOf(Tables.documents(s, d))
    val scored = feats.select(col("y"), lrP(w).as("p"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = scored.agg(
      count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"),
      sum(when((col("p") >= 0.5) === (col("y") === 1), 1L).otherwise(0L))
        .as("correct"),
      sum(((col("p") - col("y")) * (col("p") - col("y")))
        .cast("decimal(28,18)")).as("sq"))
    val counts = scored.groupBy("p")
      .agg(sum(col("y")).cast("long").as("pos_n"),
        (count(lit(1)) - sum(col("y"))).cast("long").as("neg_n"))
    val wP = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    val auc = counts
      .withColumn("neg_below", coalesce(sum(col("neg_n")).over(wP), lit(0L)))
      .agg(sum(lit(2L) * col("neg_below") * col("pos_n") +
        col("pos_n") * col("neg_n")).as("u2"),
        sum(col("pos_n")).as("tp"), sum(col("neg_n")).as("tn"))
    stats.crossJoin(auc).select(
      col("n"), col("n_pos"),
      Fns.roundP(col("correct").cast("double") / col("n").cast("double"), 6)
        .as("accuracy"),
      when(col("tp") > 0 && col("tn") > 0,
        Fns.roundP(col("u2").cast("double") /
          (lit(2.0) * col("tp").cast("double") * col("tn").cast("double")), 6))
        .as("auc"),
      Fns.roundP(col("sq").cast("double") / col("n").cast("double"), 6)
        .as("brier"))
  }

  /** Reliability deciles of the trained LR filter — the [[qCalibration]]
    * readout for the quality model: per confidence decile, mean predicted
    * p vs realized positive fraction and their gap. */
  val qLrCalibration: Q = (s, d) => {
    val (feats, w) = lrTrainOf(Tables.documents(s, d))
    feats.select(col("y"), lrP(w).as("p"))
      .withColumn("bucket", least(floor(col("p") * 10), lit(9.0)).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("p").cast("decimal(28,18)")).as("ps"),
        sum(col("y")).cast("long").as("pos"))
      .select(col("bucket"), col("n"),
        Fns.roundP(col("ps").cast("double") / col("n"), 6).as("mean_p"),
        Fns.roundP(col("pos").cast("double") / col("n"), 6).as("frac_pos"))
      .withColumn("gap", Fns.roundP(abs(col("mean_p") - col("frac_pos")), 6))
      .orderBy("bucket")
  }

  // --------------------------------------------------------------------
  // Unigram-LM tokenizer training (Kudo 2018 — SentencePiece's other half)
  // --------------------------------------------------------------------

  /** Max piece length admitted to the seed vocabulary. */
  val UNI_MAXLEN = 4
  /** Hard cap on trainable word length — guards the oracle's enumeration
    * CTE (exponential in word length; see the unigramLearn assert). */
  val UNI_MAXWORD = 16

  /** Multi-char seed candidates kept (top by substring-occurrence count;
    * all single chars are always kept so every word stays segmentable). */
  val UNI_SEED_K = 40

  /** Multi-char pieces surviving the prune between EM rounds. */
  val UNI_VOCAB_K = 24

  /** Same policy floor as [[BPE_MINFREQ]] for the driver-side word-
    * frequency collect (1 on testdata = admit everything → gate frame is
    * byte-identical; raise on a real corpus). */
  val UNI_MINFREQ = 1L

  /** Double → BigDecimal exactly as Spark's `cast(x as decimal(28,18))`
    * executes it (Decimal(double) via Double.toString, then
    * changePrecision with HALF_UP) — so driver-side log-prob arithmetic
    * lands on the identical decimals the distributed gates produce, and
    * DuckDB's matching cast (the proven q_nb_lang / q_surprisal pattern)
    * agrees. */
  private def dec18(x: Double): java.math.BigDecimal = {
    val dd = org.apache.spark.sql.types.Decimal(x)
    require(dd.changePrecision(28, 18), s"decimal(28,18) overflow on $x")
    dd.toJavaBigDecimal
  }

  /** Laplace-smoothed log-probabilities over a piece-count table:
    * lp(p) = ln(c+1) − ln(Σc + |V|), each ln cast to decimal(28,18)
    * BEFORE the subtraction (term-wise, like the NB model) so scores are
    * exact decimal sums on both engines. */
  private def uniModel(v: Map[String, Long])
      : Map[String, java.math.BigDecimal] = {
    val norm = dec18(math.log((v.values.sum + v.size).toDouble))
    v.map { case (p, c) =>
      p -> dec18(math.log((c + 1).toDouble)).subtract(norm)
    }
  }

  /** Deterministic Viterbi segmentation of one word under a piece model:
    * maximize the decimal log-prob sum; on ties prefer the LONGER piece at
    * each backtrack step — i.e. among all optimal segmentations, the one
    * whose reversed piece-length sequence is lexicographically largest
    * (the property the DuckDB oracle reproduces by enumeration with
    * `ORDER BY s DESC, list_reverse(ks) DESC`; equivalence proven in
    * ModelOpsSpec against brute force). O(n·MAXLEN) per word. */
  private[graft] def uniViterbi(
      w: String, m: Map[String, java.math.BigDecimal]): List[String] = {
    val n = w.length
    val best = new Array[java.math.BigDecimal](n + 1)
    val bk = new Array[Int](n + 1)
    best(0) = java.math.BigDecimal.ZERO.setScale(18)
    var j = 1
    while (j <= n) {
      var bs: java.math.BigDecimal = null
      var bkk = 0
      var k = 1
      while (k <= math.min(UNI_MAXLEN, j)) {
        if (best(j - k) != null) m.get(w.substring(j - k, j)) match {
          case Some(lp) =>
            val sc = best(j - k).add(lp)
            if (bs == null || sc.compareTo(bs) >= 0) { bs = sc; bkk = k }
          case None =>
        }
        k += 1
      }
      best(j) = bs; bk(j) = bkk
      j += 1
    }
    require(best(n) != null, s"word '$w' not segmentable — missing chars")
    var pos = n
    var acc = List.empty[String]
    while (pos > 0) {
      val k = bk(pos); acc = w.substring(pos - k, pos) :: acc; pos -= k
    }
    acc
  }

  /** One hard-EM E-step: Viterbi-segment every vocab word, accumulate
    * word-frequency-weighted piece counts; returns (counts, segmentations). */
  private def uniEstep(
      wf: Array[(String, Long)], m: Map[String, java.math.BigDecimal])
      : (Map[String, Long], Array[(String, Seq[String])]) = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    val segs = wf.map { case (w, f) =>
      val ps = uniViterbi(w, m)
      ps.foreach(p => counts.update(p, counts.getOrElse(p, 0L) + f))
      (w, ps: Seq[String])
    }
    (counts.toMap, segs)
  }

  /** Unigram-LM tokenizer training (Kudo, "Subword Regularization", ACL
    * 2018 — the SentencePiece trainer beside BPE), simplified to the
    * deterministic hard-EM variant so the DuckDB twin is value-exact:
    * seed = all ≤[[UNI_MAXLEN]]-char substrings (occurrence-weighted, top
    * [[UNI_SEED_K]] multi-char + every single char), then two Viterbi-EM
    * rounds with a count-based prune to [[UNI_VOCAB_K]] multi-char pieces
    * between them (full Kudo prunes by likelihood loss; piece count is
    * its standard monotone proxy under hard EM, noted here as the
    * documented simplification). Scores are Laplace-smoothed log-probs as
    * exact decimal(28,18) sums; ties prefer the longer trailing piece.
    *
    * Plan/scale: exactly the [[bpeLearn]] posture — the ONLY corpus-scale
    * stage is the word-frequency aggregation (one token-keyed shuffle with
    * map-side combine, [[UNI_MINFREQ]]-floored collect); seeding, EM and
    * pruning fold on the driver over the vocab-bounded table (O(|vocab| ×
    * maxlen × MAXLEN) per round), the same single-node shape production
    * trainers use. Returns (final piece counts, smoothing totals, final
    * segmentations). */
  private def unigramLearn(s: SparkSession, d: String)
      : (Seq[(String, Long)], Long, Long, Array[(String, Seq[String])]) = {
    import s.implicits._
    val wf: Array[(String, Long)] = Tables.documents(s, d)
      .select(Fns.tokens(lower(col("text"))).as("tk"))
      .select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .filter(col("f") >= UNI_MINFREQ) // policy bound on the driver collect
      .as[(String, Long)]
      .collect()
    // loud bound on word length (r12 advice): the DuckDB twin's
    // enumeration CTE grows as compositions into parts ≤ UNI_MAXLEN —
    // exponential in word length (every single char is always in vocab).
    // ≤ UNI_MAXWORD keeps that ≤ ~10k paths/word; a corpus past the bound
    // must fail HERE, visibly, not melt the oracle (testdata max is 8,
    // asserted like the ASCII-corpus checks elsewhere)
    wf.find(_._1.length > UNI_MAXWORD).foreach { case (w, _) =>
      throw new IllegalArgumentException(
        s"unigram trainer: word '$w' exceeds UNI_MAXWORD=$UNI_MAXWORD chars — " +
          "the enumeration oracle is exponential in word length; raise the bound " +
          "deliberately or pre-split long tokens")
    }
    // seed: substring-occurrence counts, length 1..UNI_MAXLEN
    val cnt0 = scala.collection.mutable.HashMap.empty[String, Long]
    wf.foreach { case (w, f) =>
      var j = 1
      while (j <= w.length) {
        var k = 1
        while (k <= math.min(UNI_MAXLEN, j)) {
          val p = w.substring(j - k, j)
          cnt0.update(p, cnt0.getOrElse(p, 0L) + f)
          k += 1
        }
        j += 1
      }
    }
    val singles = cnt0.keysIterator.filter(_.length == 1).toSeq
    val mlt0 = cnt0.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(UNI_SEED_K)
    val v0 = (singles.map(p => p -> cnt0(p)) ++ mlt0).toMap
    // round 1: E-step under the seed model, then count-prune
    val cnt1 = uniEstep(wf, uniModel(v0))._1
    val kept = cnt1.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(UNI_VOCAB_K).map(_._1)
    val v1 = (singles ++ kept).map(p => p -> cnt1.getOrElse(p, 0L)).toMap
    // round 2: E-step under the pruned model → final counts + segmentations
    val (cnt2, segs) = uniEstep(wf, uniModel(v1))
    val fin = v1.keys.toSeq.map(p => (p, cnt2.getOrElse(p, 0L)))
    (fin, fin.map(_._2).sum, fin.size.toLong, segs)
  }

  /** The trained unigram-LM piece table (piece, cnt, prob) — the model
    * artifact the tokenizer-training job ships; prob is the Laplace
    * estimate the next EM round would use. */
  val qUnigramLm: Q = (s, d) => {
    import s.implicits._
    val (fin, tot, nv, _) = unigramLearn(s, d)
    fin.toDF("piece", "cnt")
      .select(col("piece"), col("cnt"),
        Fns.roundP((col("cnt") + 1).cast("double") / lit((tot + nv).toDouble), 6)
          .as("prob"))
      .orderBy(col("cnt").desc, col("piece"))
  }

  /** Apply the trained unigram LM to the corpus: per-language word count,
    * piece count, mean pieces per word, distinct piece types — the same
    * fertility readout as [[qBpeTokenize]], for the second production
    * tokenizer. Plan/scale: corpus reduces to (lang, word) counts in one
    * shuffle; the vocab-bounded word→segmentation table BROADCASTS in;
    * the type count explodes only the bounded frame. */
  val qUnigramTokenize: Q = (s, d) => {
    import s.implicits._
    val segs = unigramLearn(s, d)._4
    val vocab = segs.toSeq.toDF("w", "ps")
    val lw = Tables.documents(s, d)
      .select(col("lang"), Fns.tokens(lower(col("text"))).as("tk"))
      .select(col("lang"), explode(col("tk")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("f"))
      .join(broadcast(vocab), Seq("w"))
      .persist(StorageLevel.MEMORY_AND_DISK) // profile + type-count branches
    val prof = lw.groupBy("lang").agg(
      sum(col("f")).as("n_words"),
      sum(col("f") * size(col("ps"))).as("n_pieces"))
    val types = lw
      .select(col("lang"), explode(col("ps")).as("p"))
      .groupBy("lang").agg(countDistinct(col("p")).as("n_types"))
    prof.join(types, Seq("lang"))
      .select(col("lang"), col("n_words"), col("n_pieces"),
        Fns.roundP(col("n_pieces").cast("double") / col("n_words"), 6)
          .as("avg_pieces"),
        col("n_types"))
      .orderBy("lang")
  }

  /** Bradley–Terry MM rounds. On this comparison density (every brand
    * pair meets thousands of times, near-balanced wins) the fit moves
    * < 1e-9 per round well before 20; the constant is part of the gate's
    * definition, not a convergence test. */
  val BT_ITERS = 20

  /** Bradley–Terry preference-strength fit over pairwise item
    * comparisons — the model an RLHF-style preference pipeline fits on
    * A-beats-B data (Bradley & Terry 1952), via Hunter 2004's MM
    * update p_i ← W_i / Σ_j n_ij/(p_i+p_j). Comparisons derive from
    * order baskets: within one order, brand A beats brand B when A's
    * total quantity exceeds B's (ties abstain), so every order is a
    * small round-robin tournament among the brands it touches.
    *
    * Plan/scale: the ONLY corpus-scale work is deriving the wins
    * matrix — brand dim broadcast into the lineitem scan, one
    * orderkey-keyed shuffle for per-(order, brand) quantities (decimal-
    * exact), a per-order self-join whose output is bounded by the
    * square of basket size (≤ 7 lineitems/order at any SF), and a
    * (winner, loser)-keyed count with map-side combine. The item-
    * bounded matrix (≤ |brands|² cells, corpus-size-independent — the
    * trained-artifact tier, same posture as [[qBpeMerges]] and PCA)
    * collects to the driver for [[BT_ITERS]] MM rounds.
    *
    * Exactness: the matrix is all-integer, so both engines iterate from
    * identical state; each round's denominator folds neighbor terms
    * left-to-right in brand order — the DuckDB twin's
    * `list_sum(list(term ORDER BY b))` per unrolled-CTE round — and the
    * final normalizer folds in brand order, so all rounds are
    * bit-identical doubles. */
  val qBradleyTerry: Q = (s, d) => {
    import s.implicits._
    val ob = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey"), col("l_quantity"))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("ok"), col("p_brand").as("brand"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
    val a = ob.toDF("ok", "wb", "wq")
    val b = ob.toDF("ok", "lb", "lq")
    val comps: Array[(String, String, Long)] = a.join(b, Seq("ok"))
      .filter(col("wb") =!= col("lb") && col("wq") > col("lq"))
      .groupBy("wb", "lb").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)]
      .collect()
    val wins: Map[String, Long] =
      comps.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val nMap: Map[(String, String), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
      comps.foreach { case (w, l, n) =>
        m.update((w, l), m.getOrElse((w, l), 0L) + n)
        m.update((l, w), m.getOrElse((l, w), 0L) + n)
      }
      m.toMap
    }
    val brands: Array[String] =
      comps.flatMap(c => Seq(c._1, c._2)).distinct.sorted
    val neighbors: Map[String, Array[String]] =
      brands.map(i => i -> brands.filter(j => nMap.contains((i, j)))).toMap
    var p: Map[String, Double] = brands.map(_ -> 1.0).toMap
    for (_ <- 1 to BT_ITERS) {
      p = brands.map { i =>
        var denom = 0.0 // j-ascending fold = twin's list_sum(ORDER BY b)
        neighbors(i).foreach(j => denom += nMap((i, j)).toDouble / (p(i) + p(j)))
        i -> wins.getOrElse(i, 0L).toDouble / denom
      }.toMap
    }
    var tot = 0.0 // brand-ascending fold = twin's list_sum(ORDER BY brand)
    brands.foreach(b => tot += p(b))
    brands.toSeq.map { b =>
      val nc = neighbors(b).foldLeft(0L)((acc, j) => acc + nMap((b, j)))
      (b, wins.getOrElse(b, 0L), nc,
        math.floor(p(b) / tot * 1e6 + 0.5) / 1e6) // Fns.roundP twin
    }.toDF("brand", "n_wins", "n_comps", "score")
      .orderBy("brand")
  }

  // ---- DuckDB oracles ------------------------------------------------------

  private val sqlToksLower = TextOps.sqlTokensLower
  private val sqlToks = TextOps.sqlTokens
  private val sqlWsTrim = TextOps.sqlWsTrim

  private def sqlHash32(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 8) AS BIGINT)"

  private val sqlCandList =
    CorpusOps.LANGS.map(l => s"'$l'").mkString("[", ", ", "]")

  /** NB train+score CTE prelude down to the per-(doc, class) `fin` score
    * frame — shared by the confusion chain and the calibration oracle. */
  private def sqlNbPrelude: String =
    s"""t AS (SELECT doc_id, lang, unnest($sqlToksLower) AS w FROM documents),
       |tf AS (SELECT doc_id, lang, w, count(*) AS tf FROM t GROUP BY 1, 2, 3),
       |cw AS (SELECT lang AS cand, w, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1, 2),
       |tl AS (SELECT cand, CAST(sum(c) AS BIGINT) AS tl FROM cw GROUP BY 1),
       |v AS (SELECT count(DISTINCT w) AS v FROM cw),
       |cands AS (SELECT unnest($sqlCandList) AS cand),
       |grid AS (SELECT w, cand FROM (SELECT DISTINCT w FROM cw) CROSS JOIN cands),
       |term AS (SELECT g.w, g.cand,
       |  CAST(ln(CAST(COALESCE(cw.c, 0) + 1 AS DOUBLE))
       |     - ln(CAST(tl.tl + v.v AS DOUBLE)) AS DECIMAL(28,18)) AS s
       |  FROM grid g LEFT JOIN cw ON g.w = cw.w AND g.cand = cw.cand
       |  JOIN tl ON g.cand = tl.cand CROSS JOIN v),
       |pri AS (SELECT lang AS cand, CAST(ln(CAST(count(*) AS DOUBLE)) AS DECIMAL(28,18))
       |    - (SELECT CAST(ln(CAST(count(*) AS DOUBLE)) AS DECIMAL(28,18)) FROM documents) AS lp
       |  FROM documents GROUP BY lang),
       |sc AS (SELECT tf.doc_id, term.cand, sum(term.s * CAST(tf.tf AS DECIMAL(9,0))) AS s
       |  FROM tf JOIN term ON tf.w = term.w GROUP BY 1, 2),
       |fin AS (SELECT sc.doc_id, sc.cand, sc.s + pri.lp AS score
       |  FROM sc JOIN pri ON sc.cand = pri.cand)""".stripMargin

  /** The full NB train+score chain down to the (lang, pred, n) confusion
    * matrix — shared by the q_nb_lang gate and the q_nb_metrics report
    * so both engines derive metrics from the identical predictions. */
  private def sqlNbConfusion: String =
    s"""WITH $sqlNbPrelude,
       |am AS (SELECT doc_id, cand, row_number() OVER (PARTITION BY doc_id
       |  ORDER BY score DESC, cand) AS rk FROM fin)
       |SELECT d.lang, am.cand AS pred, count(*) AS n
       |FROM am JOIN documents d USING (doc_id) WHERE am.rk = 1
       |GROUP BY 1, 2""".stripMargin

  /** Twin of [[qCalibration]]: same prelude, softmax via exp(score − max)
    * with decimal-cast terms, confidence = 1/Σterms, decile buckets. */
  private def sqlCalibration: String =
    s"""WITH $sqlNbPrelude,
       |scored AS (SELECT doc_id, cand, score,
       |    max(score) OVER (PARTITION BY doc_id) AS m,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rk
       |  FROM fin),
       |sp AS (SELECT doc_id, cand, rk,
       |    CAST(exp(CAST(score - m AS DOUBLE)) AS DECIMAL(28,18)) AS p
       |  FROM scored),
       |pd AS (SELECT sp.doc_id, sum(sp.p) AS denom,
       |    min(CASE WHEN sp.rk = 1 THEN sp.cand END) AS pred
       |  FROM sp GROUP BY 1),
       |cj AS (SELECT pd.doc_id, pd.pred, d.lang,
       |    1.0::DOUBLE / CAST(pd.denom AS DOUBLE) AS conf
       |  FROM pd JOIN documents d USING (doc_id)),
       |bk AS (SELECT CAST(least(floor(conf * 10), 9.0::DOUBLE) AS INTEGER) AS bucket,
       |    conf, (pred = lang) AS ok FROM cj),
       |rep AS (SELECT bucket, count(*) AS n,
       |    ${Fns.roundPSql("CAST(sum(CAST(conf AS DECIMAL(28,18))) AS DOUBLE) / count(*)", 6)} AS mean_conf,
       |    ${Fns.roundPSql("CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS acc
       |  FROM bk GROUP BY 1)
       |SELECT bucket, n, mean_conf, acc,
       |  ${Fns.roundPSql("abs(mean_conf - acc)", 6)} AS gap
       |FROM rep ORDER BY bucket""".stripMargin

  /** Twin of [[qIsotonic]]: the calibration chain down to the decile
    * (n, ok) counts, then the same O(B³) minimax over prefix sums —
    * integer arithmetic until one double division per pair. */
  private def sqlIsotonic: String =
    s"""WITH $sqlNbPrelude,
       |scored AS (SELECT doc_id, cand, score,
       |    max(score) OVER (PARTITION BY doc_id) AS m,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rk
       |  FROM fin),
       |sp AS (SELECT doc_id, cand, rk,
       |    CAST(exp(CAST(score - m AS DOUBLE)) AS DECIMAL(28,18)) AS p
       |  FROM scored),
       |pd AS (SELECT sp.doc_id, sum(sp.p) AS denom,
       |    min(CASE WHEN sp.rk = 1 THEN sp.cand END) AS pred
       |  FROM sp GROUP BY 1),
       |cj AS (SELECT pd.doc_id, pd.pred, d.lang,
       |    1.0::DOUBLE / CAST(pd.denom AS DOUBLE) AS conf
       |  FROM pd JOIN documents d USING (doc_id)),
       |bk AS (SELECT CAST(least(floor(conf * 10), 9.0::DOUBLE) AS INTEGER) AS bucket,
       |    (pred = lang) AS ok FROM cj),
       |b AS (SELECT bucket, count(*) AS n,
       |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS ok
       |  FROM bk GROUP BY 1),
       |cum AS (SELECT bucket, n, ok,
       |    CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cn,
       |    CAST(sum(ok) OVER (ORDER BY bucket) AS BIGINT) AS cok FROM b),
       |pairs AS (SELECT j.bucket AS j, k.bucket AS k,
       |    CAST(k.cok - j.cok + j.ok AS DOUBLE)
       |      / CAST(k.cn - j.cn + j.n AS DOUBLE) AS wavg
       |  FROM cum j JOIN cum k ON j.bucket <= k.bucket),
       |mn AS (SELECT c.bucket, c.n, c.ok, p.j, min(p.wavg) AS mn
       |  FROM cum c JOIN pairs p ON p.j <= c.bucket AND p.k >= c.bucket
       |  GROUP BY 1, 2, 3, 4),
       |iso AS (SELECT bucket, n, ok, max(mn) AS iso_raw FROM mn GROUP BY 1, 2, 3)
       |SELECT bucket, n,
       |  ${Fns.roundPSql("CAST(ok AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS acc,
       |  ${Fns.roundPSql("iso_raw", 6)} AS iso
       |FROM iso ORDER BY bucket""".stripMargin

  /** Twin of [[qAuc]]: same prelude and softmax, then the integer
    * Mann–Whitney prefix-sum over (class, distinct score) counts. */
  private def sqlAuc: String =
    s"""WITH $sqlNbPrelude,
       |scored AS (SELECT doc_id, cand, score,
       |    max(score) OVER (PARTITION BY doc_id) AS m FROM fin),
       |sp AS (SELECT doc_id, cand,
       |    CAST(exp(CAST(score - m AS DOUBLE)) AS DECIMAL(28,18)) AS e
       |  FROM scored),
       |pd AS (SELECT doc_id, sum(e) AS denom FROM sp GROUP BY 1),
       |pr AS (SELECT sp.cand, CAST(sp.e AS DOUBLE) / CAST(pd.denom AS DOUBLE) AS p,
       |    CASE WHEN d.lang = sp.cand THEN 1 ELSE 0 END AS pos
       |  FROM sp JOIN pd USING (doc_id) JOIN documents d USING (doc_id)),
       |cnt AS (SELECT cand, p, CAST(sum(pos) AS BIGINT) AS pos_n,
       |    CAST(count(*) - sum(pos) AS BIGINT) AS neg_n
       |  FROM pr GROUP BY 1, 2),
       |pf AS (SELECT cand, pos_n, neg_n,
       |    COALESCE(sum(neg_n) OVER (PARTITION BY cand ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
       |  FROM cnt),
       |ag AS (SELECT cand, CAST(sum(pos_n) AS BIGINT) AS n_pos,
       |    CAST(sum(neg_n) AS BIGINT) AS n_neg,
       |    CAST(sum(2 * neg_below * pos_n + pos_n * neg_n) AS BIGINT) AS u2
       |  FROM pf GROUP BY 1)
       |SELECT cand, n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    ${Fns.roundPSql(
             "CAST(u2 AS DOUBLE) / (2.0::DOUBLE * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))", 6)}
       |  END AS auc
       |FROM ag ORDER BY cand""".stripMargin

  /** One unrolled BPE round: pair counts → argmax → fold-rewrite. The
    * fold is DuckDB's `list_reduce` with a space-joined string
    * accumulator (tokens never contain spaces, so "last token = l" is the
    * exact suffix test `right(acc, len(l)+1) = ' ' || l`); its greedy
    * left-to-right semantics — a freshly merged token never immediately
    * re-merges — are identical to the Spark `aggregate()` fold. Validated
    * against an independent from-scratch BPE in ModelOpsSpec. */
  private def bpeRoundSql(i: Int): String =
    s"""p$i AS (SELECT pr.l AS l, pr.r AS r, CAST(sum(f) AS BIGINT) AS c FROM (
       |    SELECT f, unnest(list_transform(range(1, len(syms)),
       |      j -> {'l': syms[j], 'r': syms[j+1]})) AS pr
       |    FROM v${i - 1}) GROUP BY 1, 2),
       |b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
       |v$i AS (SELECT w, f, string_split(list_reduce(syms, (acc, x) ->
       |      CASE WHEN (acc = b.l OR right(acc, len(b.l)+1) = ' ' || b.l) AND x = b.r
       |        THEN CASE WHEN acc = b.l THEN b.l || b.r
       |             ELSE left(acc, len(acc) - len(b.l)) || b.l || b.r END
       |        ELSE acc || ' ' || x END), ' ') AS syms
       |  FROM v${i - 1}, b$i b)""".stripMargin

  private val bpeCtes: String = {
    val rounds = (1 to BPE_MERGES).map(bpeRoundSql).mkString(",\n")
    s"""tk AS (SELECT unnest($sqlToksLower) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM tk GROUP BY 1),
       |v0 AS (SELECT w, f,
       |  list_append(list_transform(range(1, len(w)+1), i -> w[i:i]), '$BPE_EOW') AS syms
       |  FROM wf),
       |$rounds""".stripMargin
  }

  private val bpeSql: String = {
    val unions = (1 to BPE_MERGES)
      .map(i => s"SELECT $i AS step, l AS lhs, r AS rhs, c AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeCtes
       |SELECT * FROM ($unions) ORDER BY step""".stripMargin
  }

  private val bpeTokenizeSql: String =
    s"""WITH $bpeCtes,
       |tkl AS (SELECT lang, unnest($sqlToksLower) AS w FROM documents),
       |lw AS (SELECT lang, w, count(*) AS f FROM tkl GROUP BY 1, 2),
       |j AS (SELECT lw.lang, lw.f, len(v.syms) AS ns, v.syms
       |      FROM lw JOIN v$BPE_MERGES v ON lw.w = v.w),
       |prof AS (SELECT lang, CAST(sum(f) AS BIGINT) AS n_words,
       |    CAST(sum(f * ns) AS BIGINT) AS n_subwords FROM j GROUP BY 1),
       |types AS (SELECT lang, count(DISTINCT sw) AS n_types FROM (
       |    SELECT lang, unnest(syms) AS sw FROM j) GROUP BY 1)
       |SELECT p.lang, p.n_words, p.n_subwords,
       |  ${Fns.roundPSql("CAST(p.n_subwords AS DOUBLE) / p.n_words", 6)} AS avg_subwords,
       |  t.n_types
       |FROM prof p JOIN types t USING (lang) ORDER BY p.lang""".stripMargin

  /** One enumeration-Viterbi pass for the unigram-LM oracle: a recursive
    * CTE extends partial segmentations by every vocab piece matching at
    * the cursor (so it enumerates ALL segmentations — words are ≤ tens of
    * chars, pieces ≤ [[UNI_MAXLEN]], fine at oracle scale), then rk=1 by
    * `(s DESC, list_reverse(ks) DESC)` — provably the segmentation the
    * Spark driver's O(n·L) Viterbi backtrack picks (backtrack-prefer-
    * longer-piece = reversed-length-sequence lexicographic max among
    * optimal segmentations; ModelOpsSpec pins the equivalence by brute
    * force). */
  private def uniViterbiSql(i: Int, model: String): String =
    s"""e$i AS (
       |  SELECT w, 0 AS pos, CAST([] AS VARCHAR[]) AS ps, CAST([] AS BIGINT[]) AS ks,
       |         CAST(0 AS DECIMAL(28,18)) AS s
       |  FROM wf
       |  UNION ALL
       |  SELECT e$i.w, CAST(e$i.pos + kk.k AS INTEGER) AS pos,
       |         list_append(e$i.ps, substr(e$i.w, CAST(e$i.pos+1 AS INTEGER), CAST(kk.k AS INTEGER))) AS ps,
       |         list_append(e$i.ks, kk.k) AS ks,
       |         CAST(e$i.s + m.lp AS DECIMAL(28,18)) AS s
       |  FROM e$i
       |  JOIN (SELECT unnest(range(1, $UNI_MAXLEN+1)) AS k) kk ON e$i.pos + kk.k <= len(e$i.w)
       |  JOIN $model m ON m.p = substr(e$i.w, CAST(e$i.pos+1 AS INTEGER), CAST(kk.k AS INTEGER))),
       |b$i AS (SELECT w, ps, row_number() OVER (PARTITION BY w
       |        ORDER BY s DESC, list_reverse(ks) DESC) AS rk
       |       FROM e$i WHERE pos = len(w)),
       |seg$i AS (SELECT w, ps FROM b$i WHERE rk = 1),
       |cnt$i AS (SELECT p, CAST(sum(f) AS BIGINT) AS c FROM (
       |   SELECT wf.f, unnest(seg$i.ps) AS p FROM wf JOIN seg$i USING (w)) GROUP BY 1)""".stripMargin

  /** Laplace model CTE over a (p, c) piece-count CTE — term-wise
    * decimal(28,18) casts, same as the Spark driver's uniModel. */
  private def uniModelSql(name: String, vc: String): String =
    s"""$name AS (SELECT p, CAST(ln(CAST(c + 1 AS DOUBLE)) AS DECIMAL(28,18))
       |  - (SELECT CAST(ln(CAST(sum(c) + count(*) AS DOUBLE)) AS DECIMAL(28,18)) FROM $vc) AS lp
       |  FROM $vc)""".stripMargin

  /** Shared CTE chain for both unigram gates: seed → EM round 1 → prune →
    * EM round 2 (final counts cnt2 + segmentations seg2). */
  private val uniCtes: String =
    s"""WITH RECURSIVE
       |tk AS (SELECT unnest($sqlToksLower) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS f FROM tk GROUP BY 1),
       |sp0 AS (SELECT w, f, unnest(range(1, len(w)+1)) AS j FROM wf),
       |sp1 AS (SELECT w, f, j, unnest(range(1, least($UNI_MAXLEN, j)+1)) AS k FROM sp0),
       |sp AS (SELECT substr(w, CAST(j-k+1 AS INTEGER), CAST(k AS INTEGER)) AS p,
       |       CAST(sum(f) AS BIGINT) AS c FROM sp1 GROUP BY 1),
       |sgl AS (SELECT p, c FROM sp WHERE len(p) = 1),
       |mlt AS (SELECT p, c FROM sp WHERE len(p) > 1 ORDER BY c DESC, p LIMIT $UNI_SEED_K),
       |v0 AS (SELECT p, c FROM sgl UNION ALL SELECT p, c FROM mlt),
       |${uniModelSql("m0", "v0")},
       |${uniViterbiSql(1, "m0")},
       |v1 AS (SELECT p FROM sgl UNION ALL
       |       SELECT p FROM (SELECT p FROM cnt1 WHERE len(p) > 1 ORDER BY c DESC, p LIMIT $UNI_VOCAB_K)),
       |v1c AS (SELECT v1.p, COALESCE(cnt1.c, 0) AS c FROM v1 LEFT JOIN cnt1 USING (p)),
       |${uniModelSql("m1", "v1c")},
       |${uniViterbiSql(2, "m1")},
       |v1f AS (SELECT v1c.p, COALESCE(cnt2.c, 0) AS cnt FROM v1c LEFT JOIN cnt2 ON v1c.p = cnt2.p),
       |tots AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot, count(*) AS nv FROM v1f)""".stripMargin

  private val uniLmSql: String =
    s"""$uniCtes
       |SELECT p AS piece, cnt,
       |  ${Fns.roundPSql("CAST(cnt + 1 AS DOUBLE) / (tot + nv)", 6)} AS prob
       |FROM v1f, tots ORDER BY cnt DESC, piece""".stripMargin

  private val uniTokenizeSql: String =
    s"""$uniCtes,
       |tkl AS (SELECT lang, unnest($sqlToksLower) AS w FROM documents),
       |lw AS (SELECT lang, w, count(*) AS f FROM tkl GROUP BY 1, 2),
       |j2 AS (SELECT lw.lang, lw.f, len(seg2.ps) AS m, seg2.ps FROM lw JOIN seg2 USING (w)),
       |prof AS (SELECT lang, CAST(sum(f) AS BIGINT) AS n_words,
       |    CAST(sum(f*m) AS BIGINT) AS n_pieces FROM j2 GROUP BY 1),
       |types AS (SELECT lang, count(DISTINCT p) AS n_types FROM (
       |    SELECT lang, unnest(ps) AS p FROM j2) GROUP BY 1)
       |SELECT prof.lang, n_words, n_pieces,
       |  ${Fns.roundPSql("CAST(n_pieces AS DOUBLE) / n_words", 6)} AS avg_pieces,
       |  n_types
       |FROM prof JOIN types USING (lang) ORDER BY prof.lang""".stripMargin

  /** Unrolled Bradley–Terry MM twin: one CTE per round, each folding the
    * denominator left-to-right in neighbor-brand order (list_sum over an
    * ORDER BY b list) — op-order identical to the driver fold. */
  private def sqlBradleyTerry: String = {
    val rounds = (1 to BT_ITERS).map { t =>
      s"""|p$t AS MATERIALIZED (SELECT u.a AS brand,
          |  coalesce(w.wn, 0) / list_sum(list(u.n / (pa.p + pb.p) ORDER BY u.b)) AS p
          |  FROM und u JOIN p${t - 1} pa ON u.a = pa.brand
          |  JOIN p${t - 1} pb ON u.b = pb.brand
          |  LEFT JOIN wins w ON u.a = w.brand
          |  GROUP BY u.a, w.wn)""".stripMargin
    }.mkString(",\n")
    s"""WITH ob AS (
       |  SELECT l_orderkey AS ok, p_brand AS brand,
       |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2),
       |comps AS (
       |  SELECT a.brand AS wb, b.brand AS lb, count(*) AS n
       |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand <> b.brand AND a.qty > b.qty
       |  GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT a, b, CAST(sum(n) AS BIGINT) AS n FROM (
       |    SELECT wb AS a, lb AS b, n FROM comps
       |    UNION ALL SELECT lb, wb, n FROM comps)
       |  GROUP BY 1, 2),
       |wins AS MATERIALIZED (SELECT wb AS brand, CAST(sum(n) AS BIGINT) AS wn FROM comps GROUP BY 1),
       |p0 AS MATERIALIZED (SELECT DISTINCT a AS brand, 1.0::DOUBLE AS p FROM und),
       |$rounds
       |SELECT f.brand,
       |  CAST(coalesce(w.wn, 0) AS BIGINT) AS n_wins,
       |  nc.n_comps,
       |  ${Fns.roundPSql("f.p / t.tot", 6)} AS score
       |FROM p$BT_ITERS f
       |LEFT JOIN wins w ON f.brand = w.brand
       |JOIN (SELECT a AS brand, CAST(sum(n) AS BIGINT) AS n_comps FROM und
       |      GROUP BY 1) nc ON f.brand = nc.brand
       |CROSS JOIN (SELECT list_sum(list(p ORDER BY brand)) AS tot FROM p$BT_ITERS) t
       |ORDER BY f.brand""".stripMargin
  }

  /** Unrolled batch-gradient LR twin down to the trained-weights CTE `wf`
    * plus the per-doc scored frame `lrsc` — shared by the three LR oracles
    * so all derive from the identical fit. Each round repeats the driver
    * fold's literal expression trees op-for-op: z left-folds
    * ((w0 + w1·f1) + w2·f2) + w3·f3, gradient terms cast decimal(28,18)
    * BEFORE the sum, update w − rate·(CAST(g AS DOUBLE)/n). Every CTE that
    * a later round references more than once is MATERIALIZED (the DuckDB
    * CTE-inlining trap, q_bradley_terry). */
  private def sqlLrChain: String = {
    val rounds = (1 to LR_ITERS).map { r =>
      s"""|gr$r AS MATERIALIZED (SELECT
          |    sum(CAST(p - y AS DECIMAL(28,18))) AS g0,
          |    sum(CAST((p - y) * f1 AS DECIMAL(28,18))) AS g1,
          |    sum(CAST((p - y) * f2 AS DECIMAL(28,18))) AS g2,
          |    sum(CAST((p - y) * f3 AS DECIMAL(28,18))) AS g3
          |  FROM (SELECT y, f1, f2, f3,
          |    1.0::DOUBLE / (1.0::DOUBLE + exp(-(((w0 + w1 * f1) + w2 * f2) + w3 * f3))) AS p
          |    FROM lrfeats, wr${r - 1})),
          |wr$r AS MATERIALIZED (SELECT
          |    w0 - $LR_RATE * (CAST(g0 AS DOUBLE) / n) AS w0,
          |    w1 - $LR_RATE * (CAST(g1 AS DOUBLE) / n) AS w1,
          |    w2 - $LR_RATE * (CAST(g2 AS DOUBLE) / n) AS w2,
          |    w3 - $LR_RATE * (CAST(g3 AS DOUBLE) / n) AS w3
          |  FROM wr${r - 1}, gr$r, lrn)""".stripMargin
    }.mkString(",\n")
    s"""lrfeats AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(((nw >= 50 AND nw <= 100000)
       |      AND (nns / nw >= 3.0 AND nns / nw <= 10.0)
       |      AND (nsym / nc < 0.1) AND (nstop >= 2)) AS INT) AS y,
       |    nw / 64.0 AS f1, nstop / nw AS f2, (nns / nw) / 8.0 AS f3
       |  FROM (SELECT doc_id,
       |    CAST(len($sqlToks) AS DOUBLE) AS nw,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS nns,
       |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS nsym,
       |    CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in)\\b', 0)) AS DOUBLE) AS nstop,
       |    CAST(length(text) AS DOUBLE) AS nc
       |  FROM documents)),
       |lrn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM lrfeats),
       |wr0 AS MATERIALIZED (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1,
       |  0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3),
       |$rounds,
       |wf AS MATERIALIZED (SELECT * FROM wr$LR_ITERS),
       |lrsc AS MATERIALIZED (SELECT y,
       |  1.0::DOUBLE / (1.0::DOUBLE + exp(-(((w0 + w1 * f1) + w2 * f2) + w3 * f3))) AS p
       |  FROM lrfeats, wf)""".stripMargin
  }

  private def sqlLrQuality: String =
    s"""WITH $sqlLrChain
       |SELECT feature, weight FROM (
       |  SELECT 'bias' AS feature, ${Fns.roundPSql("w0", 6)} AS weight FROM wf
       |  UNION ALL SELECT 'nw_64', ${Fns.roundPSql("w1", 6)} FROM wf
       |  UNION ALL SELECT 'stop_ratio', ${Fns.roundPSql("w2", 6)} FROM wf
       |  UNION ALL SELECT 'wl_8', ${Fns.roundPSql("w3", 6)} FROM wf)
       |ORDER BY feature""".stripMargin

  private def sqlLrMetrics: String =
    s"""WITH $sqlLrChain,
       |st AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
       |    CAST(sum(CASE WHEN (p >= 0.5) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS correct,
       |    sum(CAST((p - y) * (p - y) AS DECIMAL(28,18))) AS sq
       |  FROM lrsc),
       |cnts AS (SELECT p, CAST(sum(y) AS BIGINT) AS pos_n,
       |    CAST(count(*) - sum(y) AS BIGINT) AS neg_n
       |  FROM lrsc GROUP BY p),
       |ranked AS (SELECT pos_n, neg_n,
       |    coalesce(sum(neg_n) OVER (ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
       |  FROM cnts),
       |a AS (SELECT CAST(sum(2 * neg_below * pos_n + pos_n * neg_n) AS BIGINT) AS u2,
       |    CAST(sum(pos_n) AS BIGINT) AS tp, CAST(sum(neg_n) AS BIGINT) AS tn
       |  FROM ranked)
       |SELECT st.n, st.n_pos,
       |  ${Fns.roundPSql("CAST(st.correct AS DOUBLE) / CAST(st.n AS DOUBLE)", 6)} AS accuracy,
       |  CASE WHEN a.tp > 0 AND a.tn > 0 THEN
       |    ${Fns.roundPSql("CAST(a.u2 AS DOUBLE) / (2.0 * CAST(a.tp AS DOUBLE) * CAST(a.tn AS DOUBLE))", 6)}
       |  END AS auc,
       |  ${Fns.roundPSql("CAST(st.sq AS DOUBLE) / CAST(st.n AS DOUBLE)", 6)} AS brier
       |FROM st, a""".stripMargin

  private def sqlLrCalibration: String =
    s"""WITH $sqlLrChain,
       |bk AS (SELECT CAST(least(floor(p * 10), 9.0::DOUBLE) AS INTEGER) AS bucket, p, y
       |  FROM lrsc),
       |rep AS (SELECT bucket, count(*) AS n,
       |    sum(CAST(p AS DECIMAL(28,18))) AS ps, CAST(sum(y) AS BIGINT) AS pos
       |  FROM bk GROUP BY bucket),
       |r2 AS (SELECT bucket, n,
       |    ${Fns.roundPSql("CAST(ps AS DOUBLE) / n", 6)} AS mean_p,
       |    ${Fns.roundPSql("CAST(pos AS DOUBLE) / n", 6)} AS frac_pos
       |  FROM rep)
       |SELECT bucket, n, mean_p, frac_pos,
       |  ${Fns.roundPSql("abs(mean_p - frac_pos)", 6)} AS gap
       |FROM r2 ORDER BY bucket""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_bradley_terry", qBradleyTerry, sqlBradleyTerry),
    Gate("q_lr_quality", qLrQuality, sqlLrQuality),
    Gate("q_lr_metrics", qLrMetrics, sqlLrMetrics),
    Gate("q_lr_calibration", qLrCalibration, sqlLrCalibration),
    Gate("q_bpe_merges", qBpeMerges, bpeSql),
    Gate("q_bpe_tokenize", qBpeTokenize, bpeTokenizeSql),
    Gate("q_unigram_lm", qUnigramLm, uniLmSql),
    Gate("q_unigram_tokenize", qUnigramTokenize, uniTokenizeSql),
    Gate("q_nb_lang", qNbLang, s"$sqlNbConfusion\nORDER BY 1, 2"),
    Gate("q_calibration", qCalibration, sqlCalibration),
    Gate("q_isotonic", qIsotonic, sqlIsotonic),
    Gate("q_auc", qAuc, sqlAuc),
    // metrics from the SAME confusion chain; one integer-operand division
    // per ratio, nullif for never-predicted classes
    Gate("q_nb_metrics", qNbMetrics,
      s"""WITH conf AS ($sqlNbConfusion),
         |cls AS (SELECT DISTINCT lang FROM conf),
         |tp AS (SELECT lang, sum(n) AS tp FROM conf WHERE lang = pred GROUP BY 1),
         |fp AS (SELECT pred AS lang, sum(n) AS fp FROM conf WHERE lang <> pred GROUP BY 1),
         |fn AS (SELECT lang, sum(n) AS fn FROM conf WHERE lang <> pred GROUP BY 1),
         |m AS (
         |  SELECT c.lang,
         |    CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
         |    CAST(coalesce(fp.fp, 0) AS BIGINT) AS fp,
         |    CAST(coalesce(fn.fn, 0) AS BIGINT) AS fn
         |  FROM cls c LEFT JOIN tp ON tp.lang = c.lang
         |  LEFT JOIN fp ON fp.lang = c.lang
         |  LEFT JOIN fn ON fn.lang = c.lang)
         |SELECT lang, tp, fp, fn,
         |  ${Fns.roundPSql(
             "CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)", 6)} AS prec,
         |  ${Fns.roundPSql(
             "CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)", 6)} AS rec,
         |  ${Fns.roundPSql(
             "CAST(2 * tp AS DOUBLE) / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0)",
             6)} AS f1
         |FROM m ORDER BY lang""".stripMargin),
    Gate("q_winnow", qWinnow,
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS w, $sqlWsTrim AS t FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(w) >= $WIN_K
         |    THEN list_transform(range(1, len(w) - ${WIN_K - 2}),
         |           i -> array_to_string(w[i:i+${WIN_K - 1}], ' '))
         |    ELSE [t] END AS sh FROM tk),
         |hs AS (SELECT doc_id, list_transform(sh, g -> ${sqlHash32("g")}) AS hs FROM sh),
         |fps AS (SELECT doc_id, CASE WHEN len(hs) >= $WIN_W
         |    THEN list_distinct(list_transform(range(1, len(hs) - ${WIN_W - 2}),
         |           i -> list_min(hs[i:i+${WIN_W - 1}])))
         |    ELSE [list_min(hs)] END AS fps FROM hs),
         |sel AS (SELECT doc_id, len(fps) AS nfp, unnest(fps) AS fp FROM fps),
         |dfq AS (SELECT fp, count(*) AS df FROM sel GROUP BY 1),
         |keep AS (SELECT sel.doc_id, sel.nfp, sel.fp FROM sel JOIN dfq USING (fp)
         |         WHERE dfq.df <= $WIN_MAXDF),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.nfp AS n_a, b.nfp AS n_b, count(*) AS n_shared
         |  FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= $WIN_MINSHARED)
         |SELECT doc_a, doc_b, n_shared, n_a, n_b,
         |  ${Fns.roundPSql("CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared)", 4)} AS overlap
         |FROM pairs ORDER BY n_shared DESC, doc_a, doc_b""".stripMargin),
  )
}
