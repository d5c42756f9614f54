package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Every SparkEntry gate must execute end-to-end on sf0.001 with its
  * declared schema; selected queries carry semantic assertions. This is the
  * regression net that would have caught rounds 1-2's breakage (dangling
  * module refs / non-compiling entry map). */
class QueriesSpec extends AnyFunSuite {
  import SparkTestBase._

  // gates that may return no rows at sf0.001; every other gate must
  // return rows there
  private val mayBeEmpty = Set(
    "q_ann_recall", "q_ann_recall_kmeans", "q_assortativity",
    "q_attribution", "q_auc", "q_autocorr", "q_benford", "q_bh_fdr",
    "q_bleu", "q_bootstrap_ci", "q_calibration", "q_cdc_chunks",
    "q_cohens_kappa", "q_conformal", "q_cube", "q_cuped", "q_cusum",
    "q_dataset_card", "q_davies_bouldin", "q_diameter", "q_embed_cov",
    "q_gapfill", "q_good_turing", "q_gql_motif", "q_hits", "q_hll_distinct",
    "q_holt_forecast", "q_holt_winters", "q_isotonic", "q_itemsets",
    "q_kaplan_meier", "q_katz", "q_kcenter", "q_kcore_big", "q_levenshtein",
    "q_local_clustering", "q_lof", "q_lr_calibration", "q_lr_metrics",
    "q_lr_quality", "q_lsh_quality", "q_mad_outliers", "q_mann_whitney",
    "q_mm_keyframes", "q_mmd_drift", "q_mmr_select", "q_mst",
    "q_nb_metrics", "q_ngram_novelty", "q_paragraph_dedup", "q_pca_power",
    "q_pca_scores", "q_phash_near", "q_point_lookup", "q_priority_sample",
    "q_profile", "q_profile_wide", "q_quality_ensemble", "q_readability",
    "q_retrieval_eval", "q_sax", "q_silhouette", "q_sorted_neighborhood",
    "q_suffix_dup", "q_triangles", "q_truss", "q_unigram_lm",
    "q_unigram_tokenize", "q_weighted_sample", "q_wilson_ctr")

  test("every gate listed as possibly empty is registered") {
    val unknown = mayBeEmpty -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"mayBeEmpty names no registered gate: ${unknown.toSeq.sorted}")
  }

  SparkEntry.gates.foreach { case operators.Gate(name, run, _) =>
    test(s"$name executes on sf0.001") {
      val df = run(spark, sfDir)
      assert(df.columns.nonEmpty)
      // blanket scale invariant: NO gated plan may contain a raw cartesian
      // (1-row broadcast cross joins plan as BroadcastNestedLoopJoin and
      // are fine; CartesianProduct is the partitioned quadratic one)
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_topk returns at most 10 rows, sorted by price desc") {
    val rows = SparkEntry.queries("q_topk")(spark, sfDir).collect()
    assert(rows.length <= 10)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("q_knn returns exactly 10 ascending distances excluding the probe") {
    val rows = SparkEntry.queries("q_knn")(spark, sfDir).collect()
    assert(rows.length == 10)
    val d = rows.map(_.getAs[Double]("dist2"))
    assert(d.sameElements(d.sorted))
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(0L))
  }

  test("q_bfs hops bounded and source present at hop 0") {
    val rows = SparkEntry.queries("q_bfs")(spark, sfDir).collect()
    val byNode = rows.map(r => r.getAs[Int]("node") -> r.getAs[Int]("hops")).toMap
    assert(byNode(operators.GraphOps.SRC_NATION) == 0)
    assert(byNode.values.forall(h => h >= 0 && h <= operators.GraphOps.MAX_HOPS))
  }

  test("q_minhash_dedup pairs are ordered and above threshold") {
    val rows = SparkEntry.queries("q_minhash_dedup")(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("jaccard") >= operators.DedupOps.THRESHOLD)
    }
  }

  test("q_k_anonymity: one row per k, counts and fractions monotone in k") {
    val rows = SparkEntry.queries("q_k_anonymity")(spark, sfDir)
      .orderBy("k").collect()
    assert(rows.map(_.getAs[Int]("k")).toSeq == operators.Relational.KANON_KS)
    // the QI class set is k-independent, so n_groups must be constant
    assert(rows.map(_.getAs[Long]("n_groups")).distinct.length == 1)
    val below = rows.map(_.getAs[Long]("n_groups_below"))
    assert(below.zip(below.tail).forall { case (a, b) => a <= b },
      "groups below threshold must not shrink as k grows")
    val frac = rows.map(_.getAs[Double]("frac_rows_anon"))
    assert(frac.forall(f => f >= 0.0 && f <= 1.0))
    assert(frac.zip(frac.tail).forall { case (a, b) => a >= b },
      "anonymous-row fraction must not grow as k grows")
  }

  test("q_t_closeness: matches a from-scratch rational-arithmetic mirror") {
    val rows = Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), floor(col("c_acctbal") / 1000.0).cast("int"),
        col("c_mktsegment")).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getString(2)))
    val n = rows.length.toLong
    val global = rows.groupBy(_._2).map { case (s, v) => s -> v.length.toLong }
    val classes = rows.groupBy(_._1).toSeq.map { case (_, members) =>
      val sz = members.length.toLong
      // Σ over ALL segments of |cnt·N − g·sz| (absent segments included)
      val present = members.groupBy(_._2).map { case (s, v) => s -> v.length.toLong }
      val num = global.map { case (s, g) =>
        math.abs(present.getOrElse(s, 0L) * n - g * sz)
      }.sum
      (sz, num)
    }.toSeq
    val gate = SparkEntry.queries("q_t_closeness")(spark, sfDir)
      .orderBy("t").collect()
    assert(gate.map(_.getAs[Double]("t")).toSeq ==
      operators.Relational.TCLOSE_T20S.map(_ / 20.0))
    gate.foreach { r =>
      val t20 = math.round(r.getAs[Double]("t") * 20).toInt
      val above = classes.filter { case (sz, num) => num * 10 > t20.toLong * sz * n }
      assert(r.getAs[Long]("n_classes") == classes.length.toLong)
      assert(r.getAs[Long]("n_classes_above") == above.length.toLong,
        s"t20=$t20: ${r.getAs[Long]("n_classes_above")} != ${above.length}")
      assert(r.getAs[Long]("n_rows_above") == above.map(_._1).sum)
    }
    // variational distance shrinks violations as t grows
    val ab = gate.map(_.getAs[Long]("n_classes_above"))
    assert(ab.zip(ab.tail).forall { case (a, b) => a >= b })
  }

  test("q_dp_release: matches an independent Laplace inverse-CDF mirror") {
    import java.security.MessageDigest
    def hash32(s: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val truth = Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("q_dp_release")(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet == truth.keySet)
    rows.foreach { r =>
      val (src, n, noisy) = (r.getString(0), r.getLong(1), r.getDouble(2))
      assert(n == truth(src))
      val space = operators.Relational.DP_SPACE
      val u = (hash32("dp_" + src) % space + 0.5) / space.toDouble
      val noise = (if (u < 0.5) 1.0 else -1.0) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      val want = math.floor((n + noise) * 1e6 + 0.5) / 1e6
      assert(noisy == want, s"$src: $noisy != $want")
      // Laplace(1) noise at 2^20 resolution is bounded by ln(2^21)
      assert(math.abs(noisy - n) <= math.log(2.0 * space), s"$src noise out of range")
      assert(noisy != n.toDouble, s"$src: noise must actually perturb the bin")
    }
  }

  test("q_dp_release: a different seed moves every noisy count (keyed-PRF posture)") {
    val docs = Tables.documents(spark, sfDir)
    val base = operators.Relational.dpReleaseOf(docs, operators.Relational.DP_SEED)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val reseeded = operators.Relational.dpReleaseOf(docs, "release-secret-7f3a")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(base.keySet == reseeded.keySet)
    // with label-keyed deterministic noise, a seed change must re-draw the
    // uniform for EVERY bin — a bin whose noise survives a reseed would mean
    // the seed is not actually mixed into the hash
    base.foreach { case (src, v) =>
      assert(reseeded(src) != v, s"$src: noise did not move under a new seed")
    }
    // the default-seed run is the gate: unchanged by the factoring
    val gate = SparkEntry.queries("q_dp_release")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(gate == base)
  }

  test("q_ddsketch: estimates honor the DDSketch relative-error guarantee " +
      "and match a from-scratch mirror") {
    val alpha = operators.SketchOps.DD_ALPHA
    val gamma = operators.SketchOps.DD_GAMMA
    val data = Tables.documents(spark, sfDir)
      .filter(col("n_chars") > 0).select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val rows = SparkEntry.queries("q_ddsketch")(spark, sfDir).collect()
    assert(rows.length == data.map(_._1).distinct.length * operators.SketchOps.DD_QS.length)
    rows.foreach { r =>
      val (lang, q) = (r.getString(0), r.getDouble(1))
      val sorted = data.filter(_._1 == lang).map(_._2).sorted
      val rank = math.floor(q * (sorted.length - 1).toDouble).toLong + 1
      // the gate's "exact" column must be the true rank-r value
      assert(r.getAs[Long]("exact") == sorted((rank - 1).toInt),
        s"$lang q=$q exact mismatch")
      // DDSketch guarantee: the midpoint estimate is within alpha of the
      // true quantile value (plus output-rounding noise)
      assert(r.getAs[Double]("rel_err") <= alpha + 1e-6,
        s"$lang q=$q rel_err ${r.getAs[Double]("rel_err")} > alpha")
      // the reported bucket really contains the exact value
      val i = r.getAs[Int]("bucket")
      val x = r.getAs[Long]("exact").toDouble
      assert(math.ceil(math.log(x) / math.log(gamma)).toInt == i,
        s"$lang q=$q exact value not in reported bucket")
    }
  }

  test("q_ess is Kong's (sum w)^2 / sum w^2 over the dsir gate's own weights") {
    val ws = SparkEntry.queries("q_dsir_weights")(spark, sfDir).collect()
      .map(r => math.exp(r.getAs[Double]("logw")))
    val ess = ws.sum * ws.sum / ws.map(w => w * w).sum
    val r = SparkEntry.queries("q_ess")(spark, sfDir).head()
    assert(r.getAs[Long]("n_docs") == ws.length.toLong)
    // ESS is bounded by (1, n]; equality at n only for uniform weights
    assert(r.getAs[Double]("ess") > 1.0 &&
      r.getAs[Double]("ess") <= ws.length.toDouble)
    // mirror sums doubles in arbitrary order vs the gate's decimal sums
    assert(math.abs(r.getAs[Double]("ess") - ess) < 1e-6)
    assert(math.abs(r.getAs[Double]("ess_frac") - ess / ws.length) < 1e-6)
  }

  test("q_ks_test matches a from-scratch ECDF max-gap mirror per source") {
    val rows = Tables.documents(spark, sfDir)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = rows.length.toLong
    val xs = rows.map(_._2).distinct.sorted
    val cumAll = xs.map(x => x -> rows.count(_._2 <= x).toLong).toMap
    val expect = rows.groupBy(_._1).map { case (src, rs) =>
      val ns = rs.length.toLong
      val num = xs.map(x =>
        math.abs(rs.count(_._2 <= x).toLong * n - cumAll(x) * ns)).max
      src -> math.floor(num.toDouble / (ns.toDouble * n.toDouble) * 1e6 + 0.5) / 1e6
    }
    val got = SparkEntry.queries("q_ks_test")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Double]("ks_d")))
    assert(got.length == expect.size)
    got.foreach { case (src, nd, d) =>
      assert(nd == rows.count(_._1 == src))
      assert(d >= 0.0 && d <= 1.0)
      assert(d == expect(src), s"$src: gate $d vs mirror ${expect(src)}")
    }
  }

  test("q_chi2 matches a from-scratch contingency mirror") {
    val rows = Tables.documents(spark, sfDir)
      .select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = rows.length.toDouble
    val langs = rows.map(_._1).distinct
    val srcs = rows.map(_._2).distinct
    val chi2 = (for (l <- langs; s <- srcs) yield {
      val o = rows.count(r => r._1 == l && r._2 == s).toDouble
      val e = rows.count(_._1 == l).toDouble * rows.count(_._2 == s).toDouble / n
      (o - e) * (o - e) / e
    }).sum
    val r = SparkEntry.queries("q_chi2")(spark, sfDir).head()
    assert(r.getAs[Long]("n_docs") == rows.length.toLong)
    assert(r.getAs[Long]("dof") == (langs.length - 1).toLong * (srcs.length - 1))
    // mirror sums doubles in arbitrary order vs the gate's exact decimal
    // sum — compare at 1e-6 (values are O(100), noise is ~1e-12)
    assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-6)
  }

  test("q_l_diversity: one row per l, counts monotone, diversity bounded by segments") {
    val rows = SparkEntry.queries("q_l_diversity")(spark, sfDir)
      .orderBy("l").collect()
    assert(rows.map(_.getAs[Int]("l")).toSeq == operators.Relational.LDIV_LS)
    assert(rows.map(_.getAs[Long]("n_classes")).distinct.length == 1)
    val below = rows.map(_.getAs[Long]("n_classes_below"))
    assert(below.zip(below.tail).forall { case (a, b) => a <= b })
    val frac = rows.map(_.getAs[Double]("frac_rows_diverse"))
    assert(frac.forall(f => f >= 0.0 && f <= 1.0))
    assert(frac.zip(frac.tail).forall { case (a, b) => a >= b })
  }

  test("q_bradley_terry: scores form a normalized positive distribution") {
    val rows = SparkEntry.queries("q_bradley_terry")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.forall(_ > 0.0), "MM fit must keep every strength positive")
    // normalized then rounded to 1e-6 — sum can drift by at most n/2 ulps
    assert(math.abs(scores.sum - 1.0) <= rows.length * 5e-7)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_wins") <= r.getAs[Long]("n_comps"),
        "a brand cannot win more comparisons than it participates in")
    }
    // total wins are half of total directed participations (each
    // comparison contributes one win and appears in two brands' n_comps)
    assert(2 * rows.map(_.getAs[Long]("n_wins")).sum ==
      rows.map(_.getAs[Long]("n_comps")).sum)
  }

  test("q_cms_topk estimates are one-sided (est >= exact, always)") {
    val rows = SparkEntry.queries("q_cms_topk")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("freq"),
        s"CMS undercounted ${r.getAs[String]("term")} — impossible by construction"))
  }

  test("q_kmeans partitions every vector into exactly one cluster") {
    val rows = SparkEntry.queries("q_kmeans")(spark, sfDir).collect()
    val total = Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === total)
    rows.foreach(r => assert(r.getAs[Double]("inertia") >= 0.0))
  }

  test("q_funnel step counts are monotonically non-increasing") {
    val rows = SparkEntry.queries("q_funnel")(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("step")).map(_.getAs[Long]("n_users"))
    assert(rows.length === 3)
    assert(rows(0) >= rows(1) && rows(1) >= rows(2),
      s"a later funnel step cannot out-convert an earlier one: ${rows.mkString(",")}")
  }

  test("q_anomaly outlier counts are a strict subset of each group") {
    val rows = SparkEntry.queries("q_anomaly")(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_outliers") >= 0)
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n_events"))
      assert(r.getAs[Double]("std") > 0.0)
    }
  }

  test("q_decontaminate never reports more hits than grams") {
    val rows = SparkEntry.queries("q_decontaminate")(spark, sfDir).collect()
    rows.foreach { r =>
      val (g, h) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"))
      assert(h >= 0 && h <= g)
      assert(r.getAs[Boolean]("contaminated") === (h >= 1))
    }
  }

  test("q_kmv_overlap sketch sample is consistent and both shards cover K") {
    val r = SparkEntry.queries("q_kmv_overlap")(spark, sfDir).collect()
    assert(r.length === 1)
    val row = r(0)
    val (i, u) = (row.getAs[Long]("inter_sample"), row.getAs[Long]("union_sample"))
    assert(i >= 0 && i <= u, s"intersection sample $i exceeds union sample $u")
    assert(u <= 2L * graft.functions.Kmv.K)
    assert(row.getAs[Long]("theta") > 0)
    // under K distinct elements the sketch degrades to exact mode (theta =
    // set max) rather than throwing; pin that the testdata actually
    // exercises the ESTIMATION regime (>= K per shard) at the query's
    // own day grain
    val (sa, sb) = operators.SketchOps.OVERLAP_SHARDS
    for (t <- Seq(sa, sb)) {
      val n = Tables.events(spark, sfDir).filter(col("event_type") === t)
        .select(col("user_id"),
          floor(unix_micros(col("ts")) / lit(operators.SketchOps.DAY_US)).as("dy"))
        .distinct().count()
      assert(n >= graft.functions.Kmv.K, s"shard $t has $n < K distinct (user,day)")
    }
  }

  test("q_label_prop labels every vertex with a known vertex id") {
    val rows = SparkEntry.queries("q_label_prop")(spark, sfDir).collect()
    val nodes = rows.map(_.getAs[Long]("node")).toSet
    val labels = rows.map(_.getAs[Long]("community")).toSet
    assert(rows.length === nodes.size, "duplicate node rows")
    assert(labels.subsetOf(nodes), "a community label is not a vertex id")
    assert(labels.size > 1, "label propagation collapsed to one community")
  }

  test("q_bloom_decontaminate is one-sided: no false negatives ever") {
    val rows = SparkEntry.queries("q_bloom_decontaminate")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nm, nh) = (r.getAs[Long]("n_maybe"), r.getAs[Long]("n_hit"))
      assert(nm >= nh, s"doc ${r.getAs[Long]("doc_id")}: bloom missed a true hit ($nm < $nh)")
      if (r.getAs[Boolean]("contaminated"))
        assert(r.getAs[Boolean]("bloom_flagged"), "contaminated doc not bloom-flagged")
    }
  }

  test("q_sliding_features never leaks the label row into its own features") {
    val rows = SparkEntry.queries("q_sliding_features")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_prev_1d")
      val sumNull = r.isNullAt(r.fieldIndex("sum_prev_1d"))
      val maxNull = r.isNullAt(r.fieldIndex("max_prev_1d"))
      // empty frame <=> null aggregates: the label's own value never
      // appears in its features (the frame ends at ts - 1 microsecond)
      assert((n == 0) === sumNull, s"count $n vs sum-null $sumNull")
      assert((n == 0) === maxNull, s"count $n vs max-null $maxNull")
    }
  }

  test("q_random_projection preserves norms on average (JL property)") {
    val rows = SparkEntry.queries("q_random_projection")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ratios = rows.map(_.getAs[Double]("jl_ratio"))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3,
      s"mean norm ratio $mean far from 1 - sign matrix degenerate?")
    // a rank-deficient sign matrix would collapse distinct inputs
    assert(rows.map(_.getAs[Double]("p1")).distinct.length > rows.length / 2)
  }

  test("q_hash_split partitions every document into exactly one split") {
    val rows = SparkEntry.queries("q_hash_split")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val splits = rows.map(_.getAs[String]("split")).toSet
    assert(splits.subsetOf(Set("train", "valid", "test")), s"unknown split in $splits")
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(total === nDocs, s"split counts $total != corpus size $nDocs")
    // hash-split is ~80/10/10: train must dominate even at tiny SF
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.getOrElse("train", 0L) > bySplit.getOrElse("valid", 0L))
    assert(bySplit.getOrElse("train", 0L) > bySplit.getOrElse("test", 0L))
  }

  test("q_substring_dup fractions are consistent and bounded") {
    val rows = SparkEntry.queries("q_substring_dup")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, nd) = (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup"))
      val frac = r.getAs[Double]("dup_frac")
      assert(nd >= 0 && nd <= nw, s"doc ${r.getAs[Long]("doc_id")}: n_dup $nd > n_windows $nw")
      assert(frac >= 0.0 && frac <= 1.0, s"dup_frac $frac out of [0,1]")
      assert((nd == 0) === (frac == 0.0))
    }
  }

  test("q_bm25 ranks by descending score and never returns the query doc") {
    val rows = SparkEntry.queries("q_bm25")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= operators.CorpusOps.BM25_TOP)
    assert(!rows.map(_.getAs[Long]("doc_id")).contains(operators.CorpusOps.BM25_QDOC))
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "scores not descending")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_match") >= 1, "a scored doc matched no query term")
      assert(r.getAs[Double]("score") > 0.0, "BM25 Lucene-IDF scores are positive")
    }
  }

  test("q_pq_adc codes are well-formed and ADC distances non-negative") {
    val rows = SparkEntry.queries("q_pq_adc")(spark, sfDir).collect()
    assert(rows.length === 10)
    val codeRe = "^\\d+(-\\d+){7}$".r
    rows.foreach { r =>
      val code = r.getAs[String]("code")
      assert(codeRe.matches(code), s"malformed PQ code $code")
      code.split("-").foreach { c =>
        assert(c.toInt >= 0 && c.toInt < operators.VectorOps.PQ_K, s"code $c out of range")
      }
      assert(r.getAs[Double]("adc_dist2") >= 0.0)
      assert(r.getAs[Double]("exact_dist2") >= 0.0)
    }
    val adcs = rows.map(_.getAs[Double]("adc_dist2"))
    assert(adcs.zip(adcs.tail).forall { case (a, b) => a <= b }, "ADC not ascending")
  }

  test("q_inverted_index postings are capped, ascending, and df-consistent") {
    val rows = SparkEntry.queries("q_inverted_index")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ids = r.getAs[String]("postings").split(",").map(_.toLong)
      assert(ids.length <= operators.CorpusOps.INV_TOP, "posting list over cap")
      assert(ids.sameElements(ids.sorted), "postings not ascending")
      assert(ids.length == math.min(r.getAs[Long]("df"), operators.CorpusOps.INV_TOP.toLong),
        s"term ${r.getAs[String]("term")}: postings ${ids.length} vs df ${r.getAs[Long]("df")}")
      assert(r.getAs[Long]("tf_total") >= r.getAs[Long]("df"))
    }
  }

  test("q_backoff_lm scores only valid-split docs with consistent tier counts") {
    val rows = SparkEntry.queries("q_backoff_lm")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, nt, nb) = (r.getAs[Long]("n_pos"), r.getAs[Long]("n_tri"), r.getAs[Long]("n_bi"))
      assert(nt + nb <= np, "tier counts exceed positions")
      assert(r.getAs[Double]("mean_nll3") > 0.0, "held-out NLL must be positive")
    }
    // every scored doc hashes into the valid split
    import org.apache.spark.sql.functions.col
    val scored = rows.map(_.getAs[Long]("doc_id")).toSet
    val valid = Tables.documents(spark, sfDir)
      .select(col("doc_id"), operators.DedupOps.splitOf(col("doc_id")).as("s"))
      .collect().filter(_.getAs[String]("s") == "valid").map(_.getAs[Long]("doc_id")).toSet
    assert(scored.subsetOf(valid), s"non-valid docs scored: ${scored -- valid}")
  }

  test("q_kneser_ney probabilities stay in (0,1] and tier counts are consistent") {
    val rows = SparkEntry.queries("q_kneser_ney")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, ns, nc) = (r.getAs[Long]("n_pos"), r.getAs[Long]("n_seen"), r.getAs[Long]("n_ctx"))
      assert(ns <= nc, "a seen bigram implies its context was seen")
      assert(nc <= np, "context count exceeds positions")
      // interpolated KN: every P is a convex-ish mixture of in-range terms,
      // so per-position NLL must be strictly positive
      assert(r.getAs[Double]("mean_nll2") > 0.0, "held-out NLL must be positive")
    }
    val scored = rows.map(_.getAs[Long]("doc_id")).toSet
    import org.apache.spark.sql.functions.col
    val valid = Tables.documents(spark, sfDir)
      .select(col("doc_id"), operators.DedupOps.splitOf(col("doc_id")).as("s"))
      .collect().filter(_.getAs[String]("s") == "valid").map(_.getAs[Long]("doc_id")).toSet
    assert(scored.subsetOf(valid), s"non-valid docs scored: ${scored -- valid}")
  }

  test("q_ann_ivfpq returns ascending exact distances from the probed cells") {
    val rows = SparkEntry.queries("q_ann_ivfpq")(spark, sfDir).collect()
    assert(rows.length === 10)
    val ds = rows.map(_.getAs[Double]("dist2"))
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, "distances not ascending")
    assert(!rows.map(_.getAs[Long]("vec_id")).contains(operators.VectorOps.PROBE_ID))
  }

  test("q_vocab_growth curves are monotone and vocab never exceeds positions") {
    val rows = SparkEntry.queries("q_vocab_growth")(spark, sfDir).collect()
    assert(rows.length === operators.CorpusOps.VG_TIERS)
    val ps = rows.map(_.getAs[Long]("cum_positions"))
    val vs = rows.map(_.getAs[Long]("cum_vocab"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b }, "positions not monotone")
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b }, "vocab not monotone")
    rows.foreach { r =>
      assert(r.getAs[Long]("cum_vocab") <= r.getAs[Long]("cum_positions")) }
    assert(vs.last > 0, "empty final vocabulary")
  }

  test("q_pmi_collocations ranks above the count floor, descending") {
    val rows = SparkEntry.queries("q_pmi_collocations")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= operators.CorpusOps.PMI_TOP)
    assert(rows.forall(_.getAs[Long]("cb") >= operators.CorpusOps.PMI_MIN_C))
    val ps = rows.map(_.getAs[Double]("pmi"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b }, "pmi not descending")
  }

  test("q_dsir_weights keep is the sign test and both classes appear") {
    val rows = SparkEntry.queries("q_dsir_weights")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_feats") >= 1)
      assert(r.getAs[Boolean]("keep") === (r.getAs[Double]("logw") > 0),
        s"keep disagrees with logw sign for doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("q_ppl_buckets boundaries are ordered: head <= middle <= tail per lang") {
    val rows = SparkEntry.queries("q_ppl_buckets")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      def nlls(b: String) =
        rs.filter(_.getAs[String]("bucket") == b).map(_.getAs[Double]("mean_nll"))
      val (h, m, t) = (nlls("head"), nlls("middle"), nlls("tail"))
      assert(h.nonEmpty, s"$lang has an empty head bucket")
      if (m.nonEmpty) assert(h.max <= m.min, s"$lang: head max > middle min")
      if (m.nonEmpty && t.nonEmpty) assert(m.max <= t.min, s"$lang: middle max > tail min")
    }
  }

  test("q_fuzzy_decontaminate flags iff a verified bench match exists") {
    val rows = SparkEntry.queries("q_fuzzy_decontaminate")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_match")
      assert(r.getAs[Boolean]("fuzzy_contaminated") === (n >= 1))
      if (n >= 1)
        assert(r.getAs[Double]("max_jac") >= operators.DedupOps.FUZZY_T)
      else assert(r.getAs[Double]("max_jac") === 0.0)
      assert(r.getAs[Long]("doc_id") % operators.DedupOps.FUZZY_MOD != 0L)
    }
  }

  test("q_clustering_big triangle count is bounded by the wedge count") {
    val r = SparkEntry.queries("q_clustering_big")(spark, sfDir).head()
    val (w, t) = (r.getAs[Long]("n_wedges"), r.getAs[Long]("n_triangles"))
    assert(w > 0, "ordered co-purchase graph must contain 2-paths")
    assert(t <= w, "every triangle closes a wedge")
    assert(r.getAs[Double]("closure_rate") ===
      math.floor(t.toDouble / w * 1e6 + 0.5) / 1e6)
  }

  test("q_temperature_sample up-weights low-resource sources, rates in (0,1]") {
    val rows = SparkEntry.queries("q_temperature_sample")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Double]("rate")
      assert(rate > 0.0 && rate <= 1.0, s"rate $rate out of range")
    }
    // temperature property: a strictly smaller source never gets a
    // strictly smaller keep rate
    for (a <- rows; b <- rows if a.getAs[Long]("t_src") < b.getAs[Long]("t_src"))
      assert(a.getAs[Double]("rate") >= b.getAs[Double]("rate"),
        s"${a.getAs[String]("source")} smaller than ${b.getAs[String]("source")} but lower rate")
  }

  test("q_audio_features frames partition the q_mm_audio whole-signal sums") {
    // non-overlapping frames: per-doc Σ frame energy == whole-signal energy,
    // Σ frame lengths == n_samples, max frame peak == whole peak; within-
    // frame zero crossings can only LOSE the cross-frame pairs
    val frames = SparkEntry.queries("q_audio_features")(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val whole = SparkEntry.queries("q_mm_audio")(spark, sfDir).collect()
    assert(whole.nonEmpty && frames.nonEmpty)
    whole.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val fs = frames.getOrElse(id, Array.empty)
      if (r.getAs[Long]("n_samples") == 0L) assert(fs.isEmpty)
      else {
        assert(fs.map(_.getAs[Int]("n").toLong).sum == r.getAs[Long]("n_samples"))
        assert(fs.map(_.getAs[Long]("energy")).sum == r.getAs[Long]("energy"))
        assert(fs.map(_.getAs[Long]("peak")).max == r.getAs[Long]("peak"))
        val zcFrames = fs.map(_.getAs[Long]("zero_cross")).sum
        val zcWhole = r.getAs[Long]("zero_cross")
        assert(zcFrames <= zcWhole && zcWhole - zcFrames < fs.length,
          s"doc $id: frame zc $zcFrames vs whole $zcWhole with ${fs.length} frames")
      }
    }
  }

  test("q_link_predict pairs are ordered, non-adjacent, and genuinely wedged") {
    val rows = SparkEntry.queries("q_link_predict")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val e = operators.BigGraphOps.coEdges(spark, sfDir)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      val (a, c) = (r.getAs[Long]("a"), r.getAs[Long]("c"))
      assert(a < c, s"pair ($a,$c) not ordered")
      assert(!e.contains((a, c)) && !e.contains((c, a)),
        s"predicted pair ($a,$c) is already an edge")
      assert(r.getAs[Long]("common_neighbors") >= 1)
      assert(r.getAs[Double]("ra_score") > 0.0)
    }
  }

  test("q_walk_corpus emits complete walks whose every step follows a real edge") {
    val rows = SparkEntry.queries("q_walk_corpus")(spark, sfDir).collect()
    val und = operators.BigGraphOps.coEdges(spark, sfDir)
      .select("src", "dst").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    val byWalk = rows.groupBy(r => (r.getAs[Long]("start"), r.getAs[Int]("wk")))
    assert(byWalk.nonEmpty)
    byWalk.foreach { case ((start, _), ws) =>
      val seq = ws.sortBy(_.getAs[Int]("step")).map(_.getAs[Long]("node"))
      assert(seq.length === operators.BigGraphOps.WC_STEPS + 1,
        s"walk from $start truncated: ${seq.mkString("->")}")
      assert(seq.head === start)
      seq.sliding(2).foreach {
        case Array(x, y) => assert(und((x, y)), s"step ($x,$y) is not an edge")
        case _ =>
      }
    }
  }

  test("q_node2vec walks are valid and the bias diverges from the uniform walk") {
    val n2v = SparkEntry.queries("q_node2vec")(spark, sfDir).collect()
    val dw = SparkEntry.queries("q_walk_corpus")(spark, sfDir).collect()
    val und = operators.BigGraphOps.coEdges(spark, sfDir)
      .select("src", "dst").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("start"), r.getAs[Int]("wk"), r.getAs[Int]("step"))
    val n2vMap = n2v.map(r => key(r) -> r.getAs[Long]("node")).toMap
    // every step follows a real edge
    n2v.groupBy(r => (r.getAs[Long]("start"), r.getAs[Int]("wk"))).foreach {
      case (_, ws) =>
        val seq = ws.sortBy(_.getAs[Int]("step")).map(_.getAs[Long]("node"))
        seq.sliding(2).foreach {
          case Array(x, y) => assert(und((x, y)), s"n2v step ($x,$y) not an edge")
          case _ =>
        }
    }
    // steps 0 and 1 share DeepWalk's kernel; the 2nd-order bias must
    // change at least one later transition
    val diverges = dw.exists { r =>
      r.getAs[Int]("step") >= 2 && n2vMap.get(key(r)).exists(_ != r.getAs[Long]("node"))
    }
    assert(diverges, "bias produced identical walks — kernel not applied?")
  }

  test("q_group_normalize z-scores mean to ~0 within each language") {
    val rows = SparkEntry.queries("q_group_normalize")(spark, sfDir).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rs) =>
      val zs = rs.map(_.getAs[java.lang.Double]("z_chars")).filter(_ ne null).map(_.doubleValue)
      assert(zs.nonEmpty, s"$lang: all z-scores null (zero variance?)")
      val mean = zs.sum / zs.length
      // z-scores are rounded to 6 places; the group mean must still be ~0
      assert(math.abs(mean) < 1e-4, s"$lang z mean $mean not ~0")
    }
  }
}
