package graft.operators

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.functions.{Fns, VectorExprs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity operators (SURVEY.md §2 E9/Q10 + the pipeline
  * similarity-search north-star).
  *
  * Reference semantics: HNSW KNN (/root/reference/src/operand/query/
  * HNSW.cpp:86-165,219-255) and the `$near` proximity predicate
  * (src/plan/query/ScanPlan.cpp:685-736) with SIMD squared-L2
  * (src/base/math/Distance.cpp:133-157). HNSW's mutable layered graph
  * doesn't fit a distributed executor model (SURVEY §7.4 #6); the Spark-
  * first rendering is:
  *  - exact brute-force KNN as the correctness baseline (broadcast probe,
  *    codegen'd Dist2, per-partition top-k via TakeOrderedAndProject — no
  *    full sort, no shuffle of the corpus);
  *  - IVF (inverted-file) coarse quantization as the scale path: probe the
  *    nprobe nearest cell centroids, scan only those cells. At 100 TB the
  *    cells are partition keys, so a KNN touches nprobe/ncells of the data.
  * All distance math is the codegen'd [[VectorExprs]] kernels with strict
  * left-to-right summation — bit-reproducible in the DuckDB oracle.
  */
object VectorOps {
  val PROBE_ID = 0L
  val TOPK = 10
  /** $near radius (squared L2) — ~2% selectivity on the testdata. */
  val RADIUS2 = 1.5
  /** Cosine threshold for the brute-force near-dup pair scan. */
  val COS_T = 0.45
  /** IVF cells probed. */
  val NPROBE = 2

  /** Embeddings with the float vector cast once to array<double> (float→
    * double is exact, so Spark and DuckDB see identical values). */
  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))

  private def probe(s: SparkSession, d: String) =
    broadcast(vecs(s, d).filter(col("vec_id") === PROBE_ID).select(col("v").as("pv")))

  /** E9 — exact KNN: broadcast the probe, codegen'd squared-L2 against every
    * vector, global top-k via TakeOrderedAndProject (per-partition heaps +
    * k-row driver merge; the corpus is never shuffled or fully sorted). */
  val qKnn: Q = (s, d) =>
    vecs(s, d).filter(col("vec_id") =!= PROBE_ID)
      .crossJoin(probe(s, d))
      .select(col("vec_id"), Fns.roundP(VectorExprs.dist2(col("v"), col("pv")), 6).as("dist2"))
      .orderBy(col("dist2"), col("vec_id"))
      .limit(TOPK)

  /** E9 baseline — brute-force COSINE top-k (the brief's similarity-search
    * baseline in its native metric): one scan, probe norm folded into the
    * ordering (cos desc ≡ dot/|v| desc), codegen'd kernels,
    * TakeOrderedAndProject. */
  /** Shared cosine kernel — ONE definition for qKnnCosine /
    * qSemanticSearch / qHybridSearch (SQL twin: sqlCos), so a kernel
    * change cannot desynchronize a subset of gates. */
  private[graft] def cosSim(v: Column, pv: Column): Column =
    VectorExprs.dotp(v, pv) /
      (sqrt(VectorExprs.dotp(v, v)) * sqrt(VectorExprs.dotp(pv, pv)))

  val qKnnCosine: Q = (s, d) =>
    vecs(s, d).filter(col("vec_id") =!= PROBE_ID)
      .crossJoin(probe(s, d))
      .select(col("vec_id"),
        Fns.roundP(cosSim(col("v"), col("pv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(TOPK)

  /** Q10 — `$near` radius predicate: dist2(v, probe) < r. One scan, filter
    * evaluated in whole-stage codegen; no shuffle except the output sort. */
  val qNear: Q = (s, d) =>
    vecs(s, d).filter(col("vec_id") =!= PROBE_ID)
      .crossJoin(probe(s, d))
      .withColumn("d2", VectorExprs.dist2(col("v"), col("pv")))
      .filter(col("d2") < RADIUS2)
      .select(col("vec_id"), Fns.roundP(col("d2"), 6).as("dist2"))
      .orderBy("vec_id")

  /** E9 scale path — IVF with the label partition as coarse quantizer:
    * centroids = per-(label,dim) mean (decimal-exact so the shuffle order
    * can't change the result), probe the NPROBE nearest centroids, exact
    * top-k within those cells only. At 100 TB: centroids are ncells×dim
    * rows (tiny, broadcast), and the candidate scan prunes to nprobe/ncells
    * of the corpus — ideally label-partitioned parquet so pruning is I/O. */
  val qAnnIvf: Q = (s, d) => {
    val v = vecs(s, d)
    // long-form (label, pos, x) → decimal-exact mean per (label, pos)
    val cent = v.select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("col").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("c"))
    val probeDims = v.filter(col("vec_id") === PROBE_ID)
      .select(posexplode(col("v")))
      .select(col("pos"), col("col").as("px"))
    // distance probe→centroid, decimal-exact over the (label,pos) shuffle
    val nearCells = cent.join(broadcast(probeDims), "pos")
      .groupBy(col("label"))
      .agg(sum(((col("c") - col("px")) * (col("c") - col("px"))).cast("decimal(28,14)"))
        .cast("double").as("cd"))
      .orderBy(col("cd"), col("label"))
      .limit(NPROBE)
      .select(col("label"))
    v.join(broadcast(nearCells), "label")
      .filter(col("vec_id") =!= PROBE_ID)
      .crossJoin(probe(s, d))
      .select(col("vec_id"), Fns.roundP(VectorExprs.dist2(col("v"), col("pv")), 6).as("dist2"))
      .orderBy(col("dist2"), col("vec_id"))
      .limit(TOPK)
  }

  /** Decimal-exact per-label centroids gathered into one array per cell:
    * (cell, cv array&lt;double&gt;). ncells × dim rows — tiny, broadcastable. */
  private def centroidArrays(v: DataFrame): DataFrame =
    v.select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("col").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x("c")).as("cv"))
      .select(col("label").as("cell"), col("cv"))

  /** Random-hyperplane LSH bits (SimHash for embeddings): 2^LSH_BITS
    * buckets. Hyperplane components are md5-derived pseudo-randoms, so the
    * DuckDB oracle reproduces the identical planes. */
  val LSH_BITS = 4
  /** Embedding dimensionality of the testdata corpus (TESTDATA.md). */
  val DIM = 64

  /** First 32 md5 bits of a seed string as a long — the driver-side twin
    * of [[Fns.hash32]]/the DuckDB md5-substr idiom. ONE definition for
    * every plan-literal pseudo-random matrix ([[planeVal]], [[rpSign]]):
    * these must stay bit-compatible with the SQL oracles, and a drift in
    * one copy would silently flip a gate hash. */
  private def md5Head32(seed: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(seed.getBytes("UTF-8"))
    java.lang.Long.parseLong(md.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
  }

  /** Hyperplane component for (bit h, dim i): uniform in [-0.5, 0.5) from
    * the first 32 md5 bits of "lshp_h_i" — the same value
    * `Fns.hash32`/DuckDB derive from the same string, computed ONCE here
    * on the driver so the plane matrix is a literal in the plan (no
    * per-row, per-element digests — at scale the planes are a broadcast
    * constant, the signature pass one shuffle-free scan). */
  private[graft] def planeVal(h: Int, i: Int): Double = {
    md5Head32(s"lshp_${h}_$i").toDouble / 4294967296.0 - 0.5
  }

  /** LSH bucket id of an array<double> column: bit h set when
    * dot(v, plane_h) >= 0. Row-local column algebra, zero shuffle. */
  private def lshBucket(v: Column): Column =
    (0 until LSH_BITS).map { h =>
      val plane = array((0 until DIM).map(i => lit(planeVal(h, i))): _*)
      val dot = aggregate(zip_with(v, plane, (x, p) => x * p),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** E9 scale path #2 — LSH-bucketed ANN (the brief's "LSH-bucketed
    * variant" beside [[qAnnIvf]]'s IVF): every vector hashes row-locally
    * into one of 2^LSH_BITS hyperplane buckets; the probe explores its own
    * bucket plus all Hamming-1 neighbors (multi-probe — recall insurance
    * for near-boundary vectors), and exact top-k re-ranks the candidates
    * with the codegen'd kernel. At 100 TB the bucket is a partition key:
    * the scan touches (1+LSH_BITS)/2^LSH_BITS of the corpus and the
    * signature pass is one shuffle-free scan. */
  val qAnnLsh: Q = (s, d) => {
    val v = vecs(s, d)
    val probeBucket = v.filter(col("vec_id") === PROBE_ID)
      .select(lshBucket(col("v")).as("pb"))
    // probe bucket ⊕ each single bit = the Hamming-1 probe set
    val probes = broadcast(probeBucket.select(
      explode(array(lit(0L) +: (0 until LSH_BITS).map(h => lit(1L << h)): _*)).as("flip"),
      col("pb")).select((col("pb").bitwiseXOR(col("flip"))).as("bucket")))
    v.filter(col("vec_id") =!= PROBE_ID)
      .withColumn("bucket", lshBucket(col("v")))
      .join(probes, "bucket")
      .crossJoin(probe(s, d))
      .select(col("vec_id"), Fns.roundP(VectorExprs.dist2(col("v"), col("pv")), 6).as("dist2"))
      .orderBy(col("dist2"), col("vec_id"))
      .limit(TOPK)
  }

  /** Partitions for the two-stage HNSW scatter. At 100 TB this is the
    * executor-partition count; locally 8 keeps per-partition indexes big
    * enough to be non-trivial at every test SF. */
  val HNSW2_PARTS = 8
  /** Per-partition candidate over-fetch factor (×TOPK): each partition
    * surrenders its local top-(TOPK×OVER), so a local recall miss must
    * evade the whole margin before the global answer can differ. */
  val HNSW2_OVER = 4

  /** E9 scale path #3 — two-stage distributed HNSW (retires the driver-side
    * `.collect()` build in `GqlEngine.knnQuery` as the only HNSW route;
    * reference knnSearch HNSW.cpp:134-165):
    *   stage 1: deterministic hash-repartition of the corpus, each
    *     partition builds a PARTITION-LOCAL [[graft.vector.Hnsw]] inside
    *     `mapPartitions` (insertion order sorted by id, so the graph is
    *     reproducible given partition contents) and emits its local
    *     top-(TOPK×HNSW2_OVER) candidate ids;
    *   stage 2: exact re-rank — the ≤ PARTS×TOPK×OVER candidate ids
    *     broadcast-join back to the corpus, the codegen'd Dist2 kernel
    *     recomputes true distances, TakeOrderedAndProject keeps k.
    * The probe is a 1-row scalar fetch (same tier as BigGraphOps.startNode).
    * At 100 TB: each executor holds its partition's index (build is one
    * scan, no shuffle beyond the repartition), the merge moves only
    * PARTS×k×OVER ids — the classic scatter-gather ANN serving shape.
    * Gated against the brute-force oracle: over-fetch + exact re-rank make
    * the two agree whenever every true top-k member survives its own
    * partition's local search (ef ≳ 2× local corpus at test SFs). */
  val qAnnHnsw2: Q = (s, d) => {
    import s.implicits._
    val v = vecs(s, d)
    val pv: Array[Double] = v.filter(col("vec_id") === PROBE_ID)
      .select(col("v")).as[Seq[Double]].head().toArray
    val want = TOPK * HNSW2_OVER
    val cands = v.filter(col("vec_id") =!= PROBE_ID)
      .select(col("vec_id"), col("v"))
      .repartition(HNSW2_PARTS, col("vec_id"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val idx = new graft.vector.Hnsw(pv.length)
          rows.foreach { case (id, vec) => idx.add(id, vec.toArray) }
          idx.search(pv, want, ef = math.max(4 * want, 256)).map(_._1).iterator
        }
      }.toDF("vec_id")
    v.join(broadcast(cands), "vec_id")
      .crossJoin(probe(s, d))
      .select(col("vec_id"), Fns.roundP(VectorExprs.dist2(col("v"), col("pv")), 6).as("dist2"))
      .orderBy(col("dist2"), col("vec_id"))
      .limit(TOPK)
  }

  /** Int8 symmetric per-vector quantization of the embedding column — the
    * serving-side compression step of an ANN pipeline (4× smaller vectors,
    * SIMD-friendly dot products downstream). Pure row-local column algebra,
    * zero shuffle: scale = max|x|/127, q_i = round-half-up(x/scale). The
    * gate reports the per-vector scale, the INTEGER checksum of the
    * quantized codes (exact, order-independent), and the max reconstruction
    * error — element-wise IEEE doubles are bit-identical across engines
    * (the cross-engine hazards are summation ORDER and round(), both
    * avoided: `floor(x+0.5)` is exact, max is order-free, the code sum is
    * integer). The scale is STAGED as a column before the lambdas — a HOF
    * lambda re-evaluates non-attribute children per element (PERF.md). An
    * all-zero vector quantizes to zeros with scale 0 rather than NaN.
    *
    * The error is computed BEFORE the select that re-aliases `scale`:
    * Spark's lateral column alias resolution makes a later expression in
    * the same select bind `scale` to the just-rounded alias, not the input
    * column — which silently rewrote every error by q·(scale−round(scale))
    * (≈1.9e-7, measured; PERF.md round-7 trap note). */
  val qEmbedQuantize: Q = (s, d) =>
    vecs(s, d)
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .withColumn("q",
        when(col("scale") > 0,
          transform(col("v"), x => floor(x / col("scale") + lit(0.5)).cast("long")))
          .otherwise(transform(col("v"), _ => lit(0L))))
      .withColumn("err",
        array_max(zip_with(col("v"), col("q"),
          (x, c) => abs(x - c.cast("double") * col("scale")))))
      .select(col("vec_id"),
        Fns.roundP(col("scale"), 8).as("scale"),
        aggregate(col("q"), lit(0L), (acc, c) => acc + c).as("code_sum"),
        Fns.roundP(col("err"), 8).as("max_err"))
      .orderBy("vec_id")

  /** Multi-probe assignment width: each vector joins its NASSIGN nearest
    * cells. Single-cell assignment split near-dup pairs across boundaries
    * (measured 2/7 recall at sf0.001); 2-probe is the standard IVF fix. */
  val NASSIGN = 2

  /** Population cap per (cell, sub-bucket) for the blocked pair-join
    * family. The label-centroid cells are FIXED in number, so per-cell
    * population — and the within-cell pair join, Σcell² — grows
    * quadratically with the corpus (the r10 verdict's one open
    * would-it-survive-100× question). Above the cap a cell splits into
    * 2^nb random-hyperplane sub-buckets, nb sized so each sub-bucket
    * lands in (cap/2, cap]: sub-bucket count is ∝ corpus, pair volume
    * per (cell, bucket) is ≤ cap² by construction, and the total pair
    * scan is LINEAR in N (standard IVF practice — ncells ~ √N̅ / hot-cell
    * splitting; here rendered as in-cell SimHash since the cells carry
    * label semantics the gates pin). Below the cap nb = 0 and the
    * dataflow is bit-identical to the uncapped blocked join, so parity-
    * scale gate hashes are unchanged while the bound stays a live branch
    * (CosineBlockingSpec forces it with a small cap). */
  val CELL_CAP = 1000
  /** Max sub-bucket bits (2^8 sub-buckets ≈ 256× over-cap headroom;
    * raise alongside CELL_CAP for larger clusters). */
  val CELL_MAXB = 8

  /** Shared candidate stage of [[qCosineBlocked]] / [[qHardNegatives]] /
    * [[qSemanticDedup]]: every vector keyed by its NASSIGN nearest
    * label-centroid cells AND its in-cell hyperplane sub-bucket, with
    * norms staged once per row. Columns: (cell, bkt, vec_id, label, v,
    * nrm); the pair join downstream is an equi-join on (cell, bkt).
    *
    * Sub-bucketing: per cell, nb = the least b with population ≤ cap·2^b
    * (integer ladder — no float log2 to diverge cross-engine), bucket =
    * the nb sign bits of v against the md5-derived [[planeVal]] planes
    * (dot products unrolled to plan-literal sums — no HOF re-eval, same
    * left-to-right addition order as the DuckDB twin). Recall insurance
    * mirrors [[qAnnLsh]]'s multi-probe: each vector also lands in the
    * bucket with its lowest-|margin| bit flipped, so a pair survives any
    * single near-boundary bit on either member (plus flip=flip double
    * misses); pairs in different sub-buckets beyond that are missed BY
    * CONSTRUCTION — the same concession the NASSIGN cell assignment
    * already makes, measured by CosineBlockingSpec's recall floor.
    * Boundary caveat: a |margin| tie picks the lower bit on both engines
    * (struct min), but the sign/margin doubles themselves are float
    * sums — exact cross-engine only because both sum in list order. */
  private[graft] def cellBucketed(v: DataFrame, cap: Int): DataFrame = {
    val best = v.crossJoin(broadcast(centroidArrays(v)))
      .withColumn("cd", VectorExprs.dist2(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("cd"), col("cell")))).as("cs"))
      .select(col("vec_id"), explode(slice(col("cs"), 1, NASSIGN)).as("a"))
      .select(col("vec_id"), col("a.cell").as("cell"))
    val nbLadder = (1 to CELL_MAXB).foldLeft(lit(0)) { (acc, b) =>
      when(col("cn") > lit(cap.toLong << (b - 1)), lit(b)).otherwise(acc)
    }
    val csz = best.groupBy("cell").agg(count(lit(1)).as("cn"))
      .select(col("cell"), nbLadder.as("nb"))
    // plan-literal hyperplane dots, lshBucket's compact HOF form: the
    // loop codegen keeps the method small (an unrolled 8×DIM term tree
    // blew janino's 64 KB method limit at probe scale and silently fell
    // back to interpreted mode); zip_with+aggregate folds left-to-right,
    // the same order as the DuckDB list_sum twin
    val dots = array((0 until CELL_MAXB).map { h =>
      val plane = array((0 until DIM).map(i => lit(planeVal(h, i))): _*)
      aggregate(zip_with(col("v"), plane, (x, p) => x * p),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
    val bkt0 = (0 until CELL_MAXB).map { h =>
      when(lit(h) < col("nb") && col("dots").getItem(h) >= 0, lit(1L << h))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val margins = array((0 until CELL_MAXB).map { h =>
      struct(abs(col("dots").getItem(h)).as("m"), lit(h).as("k"))
    }: _*)
    v.join(best, "vec_id")
      .join(broadcast(csz), "cell")
      .withColumn("dots", when(col("nb") > 0, dots))
      .withColumn("bkt0", when(col("nb") > 0, bkt0).otherwise(lit(0L)))
      .withColumn("flip", array_min(slice(margins, lit(1), col("nb")))("k"))
      .select(col("cell"), col("vec_id"), col("label"), col("v"),
        sqrt(VectorExprs.dotp(col("v"), col("v"))).as("nrm"),
        explode(when(col("nb") > 0,
            array(col("bkt0"),
              col("bkt0").bitwiseXOR(expr("cast(shiftleft(1, flip) as bigint)"))))
          .otherwise(array(col("bkt0")))).as("bkt"))
  }

  /** Embedding-cosine near-dup pairs, IVF-cell-blocked — the gated scale
    * path. Each vector is assigned to its NASSIGN nearest label-centroids
    * (broadcast centroids + codegen'd Dist2; top-cells per vector via a
    * partial-aggregated sorted ncells-struct list with a deterministic cell
    * tiebreak — no window shuffle of the corpus), then candidate pairs
    * are generated ONLY within a (cell, sub-bucket) blocking key: the
    * self-join is an equi-join on the key, never an unconditioned
    * `id_a < id_b` cartesian, and pairs sharing two keys dedupe through
    * one distinct. At 100 TB the keys are partition keys and the pair
    * scan is sum-of-squares per key with population ≤ [[CELL_CAP]] each
    * ([[cellBucketed]]'s adaptive split) — LINEAR in corpus, never
    * corpus² and never Σcell² over fixed cells.
    * Recall semantics: pairs whose members share none of their NASSIGN
    * cells are missed by construction — [[qCosinePairs]] stays as the
    * spec-level exhaustive ground truth (CosineBlockingSpec asserts
    * blocked ⊆ brute with usable recall on the test corpus). */
  val qCosineBlocked: Q = cosineBlockedWith(CELL_CAP)

  /** [[qCosineBlocked]] with an explicit sub-bucket cap — the gate uses
    * [[CELL_CAP]]; specs force the capped branch with a small cap. */
  private[graft] def cosineBlockedWith(cap: Int): Q = (s, d) => {
    val n = cellBucketed(vecs(s, d), cap)
      .select(col("cell"), col("bkt"), col("vec_id"), col("v"), col("nrm"))
      .persist() // consumed by both join sides — no cross-branch CSE
    val a = n.select(col("cell"), col("bkt"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = n.select(col("cell"), col("bkt"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", VectorExprs.dotp(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= COS_T)
      .select(col("id_a"), col("id_b"), Fns.roundP(col("cos"), 6).as("cos_sim"))
      .distinct() // a pair sharing both probe cells/buckets appears twice
      .orderBy("id_a", "id_b")
  }

  /** Negatives mined per anchor by [[qHardNegatives]] — real contrastive
    * pipelines train against k negatives per anchor, not one. */
  val HN_K = 3

  /** Hard-negative mining for contrastive training — the ANN-negatives
    * stage of dense-retriever training (DPR, Karpukhin et al. 2020 §3.2
    * uses one BM25 negative; ANCE, Xiong et al. 2021 mines top-k ANN
    * negatives per anchor): for every anchor vector, the [[HN_K]] most
    * cosine-similar candidates bearing a DIFFERENT label inside the
    * anchor's [[NASSIGN]] probe cells — close enough in embedding space to
    * confuse the model, labeled differently so they train as negatives.
    *
    * Scale shape: candidate generation is the SAME IVF cell blocking as
    * [[qCosineBlocked]] (pairs only within shared cells — never
    * all-pairs), norms staged once per row, one codegen'd dot per
    * candidate; the per-anchor top-k is a WindowGroupLimit over the
    * blocked pairs ranked on the ROUNDED cosine with a candidate-id
    * tie-break, so each anchor's list is deterministic under any
    * partition order. A pair sharing two blocking keys repeats as
    * VALUE-IDENTICAL rows; dense_rank (not row_number) keeps repeats on
    * ONE rank so they cannot crowd out a real kth negative, and the
    * post-filter distinct touches only the ≤ HN_K × dup-factor surviving
    * rows per anchor — never the full candidate set (the full-frame
    * distinct measured 2.2× slower at 16× and OOM'd at 64×, PERF.md).
    * Anchors whose probe cells hold no different-label candidate are
    * absent on both engines. Reference kin: none (net-new training-data
    * op; builds on E9's blocking). */
  val qHardNegatives: Q = (s, d) => {
    val n = cellBucketed(vecs(s, d), CELL_CAP)
      .persist() // consumed by both join sides — no cross-branch CSE
    val a = n.select(col("cell"), col("bkt"), col("vec_id").as("anchor"),
      col("label").as("la"), col("v").as("va"), col("nrm").as("na"))
    val b = n.select(col("cell"), col("bkt"), col("vec_id").as("negative"),
      col("label").as("neg_label"), col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cell", "bkt"))
      .filter(col("anchor") =!= col("negative") && col("la") =!= col("neg_label"))
      .withColumn("cos", VectorExprs.dotp(col("va"), col("vb")) / (col("na") * col("nb")))
      .select(col("anchor"), col("negative"), col("neg_label"),
        Fns.roundP(col("cos"), 6).as("cos_sim"))
    // (cos_sim, negative) is unique per anchor post-dedup, so dense_rank
    // over it assigns distinct negatives distinct ranks and duplicate rows
    // the same rank — filter ≤ HN_K, THEN dedup the tiny survivor frame.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("anchor").orderBy(col("cos_sim").desc, col("negative"))
    pairs.withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= HN_K)
      .select("anchor", "rank", "negative", "neg_label", "cos_sim")
      .distinct()
      .orderBy("anchor", "rank")
  }

  /** k-NN pool width and margin threshold for [[qBitextMine]]. */
  val BM_K = 4
  val BM_T = 1.05

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the method
    * behind CCMatrix/LASER parallel-corpus extraction): for every
    * non-English document, the best English candidate scored by the RATIO
    * margin — cos(x,y) normalized by the mean cosine of each side's k-NN
    * pool — which suppresses hubness that raw cosine thresholds suffer.
    * `keep` flags pairs over [[BM_T]], the mined-pair decision.
    *
    * Scale shape: candidates come from the SAME capped (cell, sub-bucket)
    * blocking as the cosine family ([[cellBucketed]] — linear pair
    * volume), langs ride a vec_id-co-keyed join with the doc store; both
    * k-NN pools are rank-≤K windows Spark executes as WindowGroupLimit
    * (each partition surrenders ≤K rows per key before the exchange);
    * pool means are decimal-exact over the ROUNDED cosines and the final
    * per-anchor argmax ranks on the rounded margin with a candidate-id
    * tiebreak, so the mined pair is deterministic under any partition
    * order. The margin pool is the anchor's blocked top-K (the paper
    * evaluates margins within retrieved k-NN lists; blocking bounds the
    * retrieval the same way it bounds q_hard_negatives). */
  val qBitextMine: Q = (s, d) => {
    val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    // persisted (r16, guide §2.4): BOTH join sides (a = non-en anchors,
    // b = en candidates) derive from this frame and Spark has no
    // cross-branch CSE — without the persist the whole cellBucketed
    // chain (centroid assignment + hyperplane bucketing) executed twice.
    val n = cellBucketed(vecs(s, d), CELL_CAP)
      .join(langs, col("vec_id") === col("doc_id"))
      .select(col("cell"), col("bkt"), col("vec_id"), col("lang"), col("v"), col("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = n.filter(col("lang") =!= "en")
      .select(col("cell"), col("bkt"), col("vec_id").as("src_doc"),
        col("lang").as("src_lang"), col("v").as("va"), col("nrm").as("na"))
    val b = n.filter(col("lang") === "en")
      .select(col("cell"), col("bkt"), col("vec_id").as("tgt_doc"),
        col("v").as("vb"), col("nrm").as("nb"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("src_doc").orderBy(col("cos_sim").desc, col("tgt_doc"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("tgt_doc").orderBy(col("cos_sim").desc, col("src_doc"))
    val pairs = a.join(b, Seq("cell", "bkt"))
      .withColumn("cos", VectorExprs.dotp(col("va"), col("vb")) / (col("na") * col("nb")))
      .select(col("src_doc"), col("src_lang"), col("tgt_doc"),
        Fns.roundP(col("cos"), 6).as("cos_sim"))
      .distinct() // a pair sharing two blocking keys repeats; both pools
                  // and counts must see it once
      .persist() // consumed by both pool windows — no cross-branch CSE
    val dec6 = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,6)")
    // topA feeds both the da pool mean and the final margin chain (two
    // consumers) — persist the ≤ anchors×K survivor frame (r16).
    val topA = pairs.withColumn("rk", row_number().over(wA)).filter(col("rk") <= BM_K)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val topB = pairs.withColumn("rk", row_number().over(wB)).filter(col("rk") <= BM_K)
    val da = topA.groupBy("src_doc")
      .agg((sum(dec6(col("cos_sim"))).cast("double") / count(lit(1))).as("da"))
    val db = topB.groupBy("tgt_doc")
      .agg((sum(dec6(col("cos_sim"))).cast("double") / count(lit(1))).as("db"))
    val wM = org.apache.spark.sql.expressions.Window
      .partitionBy("src_doc").orderBy(col("margin").desc, col("tgt_doc"))
    topA.select("src_doc", "src_lang", "tgt_doc", "cos_sim")
      .join(da, "src_doc")
      .join(db, "tgt_doc")
      .withColumn("margin",
        Fns.roundP(col("cos_sim") / ((col("da") + col("db")) / 2.0), 6))
      .withColumn("rn", row_number().over(wM))
      .filter(col("rn") === 1)
      .select(col("src_doc"), col("src_lang"), col("tgt_doc"),
        col("cos_sim"), col("margin"),
        (col("margin") >= BM_T).as("keep"))
      .orderBy("src_doc")
  }

  /** Embedding-cosine near-dup pairs — the brute-force all-pairs baseline
    * (norms staged once per row; one codegen'd dot per pair). Quadratic by
    * construction — NOT gated; spec-level ground truth for
    * [[qCosineBlocked]]'s recall. */
  val qCosinePairs: Q = (s, d) => {
    val n = vecs(s, d)
      .select(col("vec_id"), col("v"), sqrt(VectorExprs.dotp(col("v"), col("v"))).as("nrm"))
    val a = n.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", VectorExprs.dotp(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= COS_T)
      .select(col("id_a"), col("id_b"), Fns.roundP(col("cos"), 6).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  /** Results returned by [[qSemanticSearch]]. */
  val SEM_K = 5

  /** Semantic retrieval with metadata join-back — the RAG-retrieval shape:
    * cosine top-k over the embedding column, THEN the k winners broadcast
    * back onto the document store for their metadata. Order matters at
    * 100 TB: the ANN stage reduces to k ids before any join, so the
    * join-back moves k rows against a pruned doc scan — never a full
    * corpus⋈corpus join. (The doc/embedding tables are row-aligned:
    * doc_id ≡ vec_id in the testdata, TESTDATA.md.) */
  val qSemanticSearch: Q = (s, d) => {
    val nn = vecs(s, d).filter(col("vec_id") =!= PROBE_ID)
      .crossJoin(probe(s, d))
      .select(col("vec_id"),
        Fns.roundP(cosSim(col("v"), col("pv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(SEM_K)
    Tables.documents(s, d)
      .join(broadcast(nn), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
  }

  /** Lexical/vector fusion weight for [[qHybridSearch]]. */
  val HYBRID_ALPHA = 0.5

  /** Hybrid retrieval — fuse the embedding cosine with a lexical Jaccard
    * overlap (distinct-token sets vs the query doc) and rank on the ROUNDED
    * fused score: `α·cos + (1−α)·jaccard`. The corpus pass is ONE 1:1
    * co-keyed doc⋈embedding join plus two broadcast probes (query tokens,
    * query vector); both similarity legs are row-local column algebra, and
    * top-k is TakeOrderedAndProject — the dense+sparse fusion shape modern
    * retrieval stacks run, with no extra shuffle over pure vector search. */
  val qHybridSearch: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(Fns.tokens(lower(col("text")))).as("tk"))
    val qtk = broadcast(docs.filter(col("doc_id") === PROBE_ID)
      .select(col("tk").as("qtk")))
    docs.join(vecs(s, d), col("doc_id") === col("vec_id"))
      .filter(col("doc_id") =!= PROBE_ID)
      .crossJoin(qtk).crossJoin(probe(s, d))
      .withColumn("inter", size(array_intersect(col("tk"), col("qtk"))).cast("double"))
      .withColumn("tot", (size(col("tk")) + size(col("qtk"))).cast("double"))
      .withColumn("lex", col("inter") / (col("tot") - col("inter")))
      .withColumn("cos", cosSim(col("v"), col("pv")))
      .withColumn("hybrid", Fns.roundP(
        lit(HYBRID_ALPHA) * col("cos") + lit(1.0 - HYBRID_ALPHA) * col("lex"), 6))
      .orderBy(col("hybrid").desc, col("doc_id"))
      .limit(TOPK)
      .select(col("doc_id"), Fns.roundP(col("lex"), 6).as("lex_sim"),
        Fns.roundP(col("cos"), 6).as("cos_sim"), col("hybrid"))
  }

  /** Lloyd's k-means geometry: [[KM_K]] clusters, [[KM_ITERS]] iterations,
    * deterministic init (the first K vectors by id). */
  val KM_K = 8
  val KM_ITERS = 3

  /** Distributed k-means (Lloyd's) — the in-engine centroid trainer for
    * [[qAnnIvf]]'s coarse quantizer: fixed iterations, deterministic init,
    * reported as per-cluster sizes + decimal-summed inertia.
    *
    * Every iteration is the 100 TB shape (the MLlib dataflow): the k
    * centroids live on the DRIVER between rounds (k×dim doubles — tiny;
    * the only "collect" is the k-row re-estimation aggregate, same tier as
    * a scalar agg) and are re-embedded as plan literals, so assignment is
    * a genuinely row-local argmin — k codegen'd [[VectorExprs.dist2]]
    * columns folded with a strict smallest-(dist, cid)-wins chain, ZERO
    * exchange between the persisted corpus scan and the assignment
    * (PlanSpec pins this). The re-estimation is the one shuffle per
    * iteration: a partial+final agg on (cid, dim) — k×dim result rows
    * regardless of corpus size. Lineage cannot grow across rounds because
    * each round's plan starts from the persisted scan + fresh literals.
    * Cross-engine exactness: distances are strict left-to-right double
    * sums (identical IEEE ops both engines), means are decimal-summed —
    * so the gate pins all three iterations, not just the report. The
    * collected mean is the same double the old crossJoin plan put in the
    * `cv` column (cast happens before collect), so values are
    * bit-identical to the r7 gate. */
  /** Row-local cell assignment of a (vec_id, v) frame against literal
    * centroids — the argmin shared by [[qKmeans]]'s training loop and the
    * streaming vector-store ingest
    * ([[graft.streaming.VectorIngest]]). Centroids ride as plan literals
    * (k×dim doubles), distances stage as attribute columns FIRST (PERF.md:
    * never re-evaluate an expensive child inside a fold), and the argmin
    * is two linear expressions — min via least(), then the FIRST equal
    * cid (a naive fold duplicating the accumulator in both when-branches
    * is an O(2^k) expression tree). Equality against the min is exact
    * (least returns one of the operands bit-for-bit) and first-match ≡ a
    * (dist, cid) ordering's tie-break. ZERO exchange. A single surviving
    * centroid degrades to its distance column — least() needs ≥2
    * children — instead of crashing. */
  private[graft] def assignCells(frame: DataFrame,
      cents: Seq[(Int, Seq[Double])], probes: Int = 1): DataFrame = {
    require(cents.nonEmpty, "cell assignment needs at least one centroid")
    require(probes == 1 || probes == 2, s"probes must be 1 or 2 (got $probes)")
    require(probes == 1 || cents.size >= 2, "2-probe needs >= 2 centroids")
    // passthrough of every input column (the ingest carries metadata like
    // label through the argmin — a projection, never a join-back)
    val staged = frame.select(col("*") +:
      cents.map { case (cid, cv) =>
        VectorExprs.dist2(col("v"), array(cv.map(lit): _*)).as(s"d_$cid")
      }: _*)
    val minDist =
      if (cents.size == 1) col(s"d_${cents.head._1}")
      else least(cents.map { case (cid, _) => col(s"d_$cid") }: _*)
    val base = staged.withColumn("dist", minDist)
      .withColumn("cid",
        cents.tail.foldLeft(when(col(s"d_${cents.head._1}") === col("dist"),
          lit(cents.head._1.toLong))) { case (acc, (cid, _)) =>
          acc.when(col(s"d_$cid") === col("dist"), lit(cid.toLong))
        })
    // probes == 2: the SECOND-nearest centroid (q_cosine_blocked's
    // 2-probe blocking, for boundary-straddling near-dup checks) — mask
    // the chosen cell's distance and repeat the same linear argmin
    def masked(cid: Int): Column =
      when(lit(cid.toLong) === col("cid"), lit(Double.MaxValue))
        .otherwise(col(s"d_$cid"))
    val out =
      if (probes == 1) base
      else base
        .withColumn("d2nd", least(cents.map { case (c, _) => masked(c) }: _*))
        .withColumn("cid2",
          cents.tail.foldLeft(when(masked(cents.head._1) === col("d2nd"),
            lit(cents.head._1.toLong))) { case (acc, (c, _)) =>
            acc.when(masked(c) === col("d2nd"), lit(c.toLong))
          })
    out.select(frame.columns.map(col) ++ Seq(col("cid")) ++
      (if (probes == 2) Seq(col("cid2")) else Nil) :+ col("dist"): _*)
  }

  /** Deterministic seed centroids — the first [[KM_K]] vectors by id
    * ([[qKmeans]]'s init), exposed for ingest setups that need a coarse
    * quantizer before a training run has produced one. k×dim doubles to
    * the driver — the scalar-aggregate tier. */
  private[graft] def seedCentroids(s: SparkSession, d: String): Seq[(Int, Seq[Double])] =
    vecs(s, d).filter(col("vec_id") < KM_K)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1)))
      .sortBy(_._1)

  /** The trained centroids behind [[qKmeans]] — the full Lloyd loop,
    * returning the final k×dim table (ascending cid). Exposed so
    * [[qAnnRecallKmeans]] can route queries against the SAME trained
    * quantizer the assignment gates use.
    *
    * The result is a persisted TRAINED ARTIFACT (the HNSW-blob / PQ-code
    * posture, r12 advice #2): training is deterministic, so the k×dim
    * doubles are written once — raw IEEE bits, temp file + atomic move —
    * under a fingerprint of the corpus files and the (K, iters, dim)
    * geometry, and every later call (same JVM via the session-keyed map,
    * later JVMs via the blob) RELOADS instead of re-running the
    * KM_ITERS-shuffle Lloyd chain. A regenerated corpus changes the
    * fingerprint, so stale centroids can't be served.
    * VectorIngestSpec pins reload == retrain bit-for-bit. */
  private[graft] def kmeansCentroids(s: SparkSession, d: String): Seq[(Int, Seq[Double])] =
    centroidCache.getOrElseUpdate((s, d), {
      val blob = centroidBlobPath(d)
      readCentroidBlob(blob).getOrElse {
        val cents = trainKmeansCentroids(s, d)
        writeCentroidBlob(blob, cents)
        cents
      }
    })

  /** JVM-wide trained-centroid cache (session-keyed like GqlOps'
    * sharedBuilds — an engine captured from a stopped session must not
    * leak into a later one). */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Seq[(Int, Seq[Double])]]
  /** Test hooks: drop the in-JVM cache / count actual Lloyd runs. */
  private[graft] def clearCentroidCache(): Unit = centroidCache.clear()
  private[graft] var kmeansTrainCount = 0

  /** Corpus fingerprint for the centroid blob: canonical path + (name,
    * size, mtime) of every file under embeddings.parquet + the trainer
    * geometry. Any regeneration of the corpus changes this. */
  private def centroidBlobPath(d: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(Tables.path(d, "embeddings"))
    val sig = new StringBuilder(src.toAbsolutePath.normalize.toString)
    if (Files.isDirectory(src)) {
      val st = Files.list(src)
      try st.iterator().asScala.map(p =>
          s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
        .toSeq.sorted.foreach(l => sig.append('|').append(l))
      finally st.close()
    } else if (Files.exists(src)) // single-file table (small SFs)
      sig.append('|').append(
        s"${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}")
    sig.append(s"|K=$KM_K|I=$KM_ITERS")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = md.map(b => f"$b%02x").mkString
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_artifacts")
    Files.createDirectories(dir)
    dir.resolve(s"kmeans_$hex.bin")
  }

  private def writeCentroidBlob(p: java.nio.file.Path,
      cents: Seq[(Int, Seq[Double])]): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = Files.createTempFile(p.getParent, "tmpkmeans", ".tmp")
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(tmp)))
    try {
      out.writeInt(cents.size)
      cents.foreach { case (cid, cv) =>
        out.writeInt(cid); out.writeInt(cv.size)
        cv.foreach(out.writeDouble) // raw IEEE bits — reload is bit-exact
      }
    } finally out.close()
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
  }

  private def readCentroidBlob(p: java.nio.file.Path): Option[Seq[(Int, Seq[Double])]] = {
    import java.nio.file.Files
    if (!Files.exists(p)) None
    else try {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        Files.newInputStream(p)))
      try {
        val k = in.readInt()
        Some(Seq.fill(k) {
          val cid = in.readInt()
          val dim = in.readInt()
          cid -> Seq.fill(dim)(in.readDouble())
        })
      } finally in.close()
    } catch { case _: java.io.IOException => None } // corrupt blob → retrain
  }

  /** The actual Lloyd chain (always retrains — [[kmeansCentroids]] is the
    * cached/persisted entry point). */
  private[graft] def trainKmeansCentroids(s: SparkSession, d: String): Seq[(Int, Seq[Double])] = {
    kmeansTrainCount += 1
    val v = vecs(s, d).select(col("vec_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one (cid, pos)-keyed shuffle; k×dim rows back to the driver.
    def recompute(assigned: DataFrame): Seq[(Int, Seq[Double])] =
      assigned.select(col("cid"), posexplode(col("v")))
        .groupBy("cid", "pos")
        .agg((sum(col("col").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("c"))
        .collect()
        .groupBy(_.getLong(0).toInt)
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }.toSeq.sortBy(_._1)
    var cents: Seq[(Int, Seq[Double])] = seedCentroids(s, d)
    for (_ <- 1 to KM_ITERS)
      cents = recompute(assignCells(v, cents))
    cents
  }

  /** The trained final assignment (vec_id, v, cid, dist) behind
    * [[qKmeans]], factored out so composed consumers (q_topic_terms) run
    * the IDENTICAL Lloyd iterations. Centroids live on the driver between
    * rounds (k×dim values); each round is one (cid, pos)-keyed shuffle.
    * (The persist inside [[kmeansCentroids]] and here canonicalize to the
    * same cached plan, so the corpus is cached once.) */
  private[graft] def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val v = vecs(s, d).select(col("vec_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assignCells(v, kmeansCentroids(s, d))
  }

  val qKmeans: Q = (s, d) =>
    kmeansAssign(s, d)
      .groupBy(col("cid").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        Fns.roundP(sum(col("dist").cast("decimal(28,12)")).cast("double"), 4).as("inertia"))
      .orderBy("cluster")

  /** Simplified silhouette per cluster (Rousseeuw 1987; the centroid-
    * distance simplification is the standard at-scale variant — true
    * silhouette is all-pairs O(n²), unrunnable at 100 TB, while this is
    * a = dist-to-own-centroid, b = dist-to-second-nearest, s = (b−a)/
    * max(a,b)): the clustering-VALIDITY readout beside [[qKmeans]]'s
    * inertia (inertia always falls with K; silhouette tells you whether
    * the clusters mean anything). Rides the identical trained centroids
    * ([[kmeansCentroids]]' persisted artifact) through the same 2-probe
    * argmin scan the blocking gates use — one corpus pass, plan-literal
    * centroid algebra, one cid-keyed agg; no join, no extra shuffle.
    *
    * Exactness: a² IS the argmin's dist and b² is dist2 recomputed
    * against the cid2 pick (bit-equal to the masked min, same fold); the
    * oracle mirrors b as min-over-others, sqrt/division are libm/IEEE
    * parity ops, and per-point s ∈ [−1, 1] sums through decimal(28,18). */
  val qSilhouette: Q = (s, d) => {
    val cents = kmeansCentroids(s, d)
    val asg = assignCells(vecs(s, d).select(col("vec_id"), col("v")),
      cents, probes = 2)
    // second-nearest distance re-derived from the cid2 pick: a K-branch
    // case over centroid literals (the masked argmin's VALUE, bit-equal)
    val d2nd = cents.tail.foldLeft(
      when(col("cid2") === cents.head._1.toLong,
        VectorExprs.dist2(col("v"), array(cents.head._2.map(lit): _*)))) {
      case (acc, (cid, cv)) => acc.when(col("cid2") === cid.toLong,
        VectorExprs.dist2(col("v"), array(cv.map(lit): _*)))
    }
    asg
      .withColumn("a", sqrt(col("dist")))
      .withColumn("b", sqrt(d2nd))
      .withColumn("sil",
        when(greatest(col("a"), col("b")) === lit(0.0), lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
      .groupBy(col("cid").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        Fns.roundP(sum(col("sil").cast("decimal(28,18)")).cast("double") /
          count(lit(1)), 6).as("mean_sil"))
      .orderBy("cluster")
  }

  /** Davies–Bouldin index per cluster (Davies & Bouldin, TPAMI 1979) —
    * the OTHER classic internal validity measure: scatter S_i = mean
    * euclidean distance to own centroid, separation M_ij = centroid
    * distance, R_i = max_{j≠i} (S_i + S_j)/M_ij (worst overlap partner);
    * the DB index is the mean R_i, derivable from the report. Low R_i =
    * tight well-separated cluster.
    *
    * Scale: S_i is one cid-keyed agg over the SAME assignment scan the
    * other k-means gates share (CacheManager dedups the persisted
    * corpus); everything after is K-row algebra (K² pair frame = 56
    * rows) — broadcast joins, plan-bounded. Exactness: S_i sums
    * sqrt(dist) through decimal(28,18); M and R are fixed double trees
    * mirrored op-for-op in the oracle. */
  val qDaviesBouldin: Q = (s, d) => {
    import s.implicits._
    // persisted (r16, guide §2.4): scat has three consumers (two
    // broadcast builds + the final report join) — each re-ran the
    // centroid-assignment scan and re-embedded the K×D centroid-literal
    // expression tree in the plan (the un-persisted plan was 641 KB of
    // formatted text; analysis time is driver-side cost per run). K rows.
    val scat = kmeansAssign(s, d)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(sqrt(col("dist")).cast("decimal(28,18)")).cast("double") /
          count(lit(1))).as("s_i"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cdf = kmeansCentroids(s, d).toDF("cid", "cv")
      .select(col("cid").cast("long").as("cid"), col("cv"))
    val pairs = cdf.select(col("cid").as("i"), col("cv").as("ci"))
      .join(broadcast(cdf.select(col("cid").as("j"), col("cv").as("cj"))),
        col("i") =!= col("j"))
      .select(col("i"), col("j"),
        sqrt(VectorExprs.dist2(col("ci"), col("cj"))).as("m_ij"))
    val r = pairs
      .join(broadcast(scat.select(col("cid").as("i"), col("s_i"))), Seq("i"))
      .join(broadcast(scat.select(col("cid").as("j"), col("s_i").as("s_j"))),
        Seq("j"))
      .groupBy(col("i"))
      .agg(max((col("s_i") + col("s_j")) / col("m_ij")).as("r_i"))
    scat.select(col("cid").as("cluster"), col("n_vecs"),
        Fns.roundP(col("s_i"), 6).as("scatter"))
      .join(r.select(col("i").as("cluster"), col("r_i")), Seq("cluster"))
      .withColumn("r_i", Fns.roundP(col("r_i"), 6))
      .orderBy("cluster")
  }

  /** Coreset size for [[qKcenter]]. */
  val KC_K = 8

  /** RBF bandwidth for [[qMmdDrift]] — 1/dim as an exact dyadic literal
    * (0.015625 prints identically on both engines). */
  val MMD_GAMMA = 0.015625

  /** Embedding-distribution drift via a group-sampled linear-time MMD²
    * (Gretton et al., JMLR 2012 §6 lemma 14's streaming estimator, with
    * a deterministic sampler): snapshots A/B come from the q_snapshot_drift
    * content hash; consecutive-id groups g = ⌊vec_id/4⌋ that hold exactly
    * two A and two B members contribute one quadruple
    * h = k(a₁,a₂) + k(b₁,b₂) − k(a₁,b₂) − k(a₂,b₁), k = exp(−γ‖·‖²);
    * MMD² = mean h. The categorical KL (q_snapshot_drift) and scalar KS
    * (q_ks_test) monitors can't see vector-space drift — this is the
    * embedding-side member of the drift family.
    *
    * Exactness: group membership is integer hashing; the two members per
    * side come from min/max over (vec_id, v) structs (id-ordered, never
    * compares the array); each h is a fixed exp/dist² double tree
    * (q_nb_lang exp parity precedent) summed through decimal(28,18)
    * (h ∈ [−2, 2], far inside scale 18).
    *
    * Scale shape: one scan into a ⌊vec_id/4⌋-keyed agg with map-side
    * combine, then row-local kernel algebra and a single global mean —
    * no pair join, no window, no rank shuffle (the rank-zip linear MMD
    * needs a global per-side ordering; the group sampler trades ~5/8 of
    * groups for shuffle-free determinism). */
  val qMmdDrift: Q = (s, d) => {
    val D = (c: Column) => c.cast("double")
    val mem = vecs(s, d)
      .withColumn("snap",
        Fns.hash32(concat(lit("snap_"), col("vec_id").cast("string"))) % 2)
      .withColumn("g", expr("vec_id div 4"))
    def side(sn: Int, nm: String, agg: Column => Column) =
      agg(when(col("snap") === sn, struct(col("vec_id"), col("v")))).as(nm)
    val quads = mem.groupBy("g").agg(
        sum(when(col("snap") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("snap") === 1, 1L).otherwise(0L)).as("nb"),
        side(0, "a1", min), side(0, "a2", max),
        side(1, "b1", min), side(1, "b2", max))
      .filter(col("na") === 2 && col("nb") === 2)
    def k(p: String, q: String): Column =
      exp(lit(-MMD_GAMMA) * VectorExprs.dist2(col(s"$p.v"), col(s"$q.v")))
    quads
      .withColumn("h", (k("a1", "a2") + k("b1", "b2")
        - k("a1", "b2") - k("a2", "b1")).cast("decimal(28,18)"))
      .agg(count(lit(1)).as("n_quads"),
        Fns.roundP(D(sum(col("h"))) / count(lit(1)), 6).as("mmd2"))
  }

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal) —
    * the diversity-maximizing selection a curation pipeline runs to pick
    * K maximally-spread exemplars (coreset sampling, dedup review
    * candidates, labeling budgets). Seed = the min vec_id; each step
    * picks argmax over the corpus of min-dist²-to-chosen (ties → min
    * vec_id), emitting (step, vec_id, r2) where r2 is the picked point's
    * distance — i.e. the EXACT k-center coverage radius² after the
    * previous step, so the output doubles as the radius-vs-K curve.
    *
    * Exactness: each candidate's dmin is a `least` over per-center dist²
    * columns against PLAN-LITERAL center vectors ([[assignCells]]'
    * geometry, proven dist2-parity under q_kmeans), and the argmax
    * compares those exact doubles with an integer tie-break — identical
    * on both engines; only the EMITTED r2 is rounded. The oracle unrolls
    * the K−1 picks as MATERIALIZED 1-row CTEs (each step references every
    * previous pick — plain CTEs would re-expand the chain per reference,
    * the q_bradley_terry trap).
    *
    * Scale shape: the q_kmeans posture — K−1 full scans, each one
    * broadcast-literal column algebra into a TakeOrdered(1); centers live
    * on the driver between rounds (k×dim doubles, the scalar-aggregate
    * tier); corpus persisted once. */
  val qKcenter: Q = (s, d) => {
    val se = s
    import se.implicits._
    val v = vecs(s, d).select(col("vec_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = v.orderBy("vec_id").limit(1).collect().head
    var centers = Seq((seed.getLong(0), seed.getSeq[Double](1)))
    var out = Seq((0, seed.getLong(0), 0.0))
    for (step <- 1 until KC_K) {
      val staged = v.select(col("vec_id") +: col("v") +:
        centers.zipWithIndex.map { case ((_, cv), i) =>
          VectorExprs.dist2(col("v"), array(cv.map(lit): _*)).as(s"d_$i")
        }: _*)
      val pick = staged
        .withColumn("dm",
          if (centers.size == 1) col("d_0")
          else least(centers.indices.map(i => col(s"d_$i")): _*))
        .orderBy(col("dm").desc, col("vec_id"))
        .limit(1).select("vec_id", "v", "dm").collect().head
      centers = centers :+ ((pick.getLong(0), pick.getSeq[Double](1)))
      out = out :+ ((step, pick.getLong(0),
        math.floor(pick.getDouble(2) * 1e6 + 0.5) / 1e6))
    }
    out.toDF("step", "vec_id", "r2").orderBy("step")
  }

  /** Terms kept per topic by [[qTopicTerms]]. */
  val TT_TOP = 5

  /** Topic labeling by class-based TF-IDF (c-TF-IDF — Grootendorst,
    * "BERTopic: Neural topic modeling with a class-based TF-IDF
    * procedure", 2022 §3.3): documents are clustered in embedding space
    * by the SAME Lloyd iterations as [[qKmeans]], each cluster's member
    * texts count as one class document, and a term scores
    * tf_{t,c} · ln(1 + A / f_t) with A = mean tokens per class and
    * f_t = the term's corpus frequency. Output = each topic's top
    * [[TT_TOP]] terms — the human-readable label a curation report
    * attaches to embedding clusters.
    *
    * Scale shape: the corpus collapses to (cluster, term, tf) in ONE
    * token-keyed agg (map-side combine absorbs stopword skew); f_t and
    * the 1-row totals are vocab-bounded/broadcast joins onto that agg,
    * never onto raw tokens; per-cluster ranking runs as WindowGroupLimit
    * (partial top-k before the shuffle). Counts are integers, the single
    * ln() runs on an identical double on both engines, and ranking uses
    * the ROUNDED score with a term tie-break, so the gate is
    * aggregation-order-independent. Reference kin: none (net-new
    * pipeline op; nearest is E12's entropy ranking posture). */
  val qTopicTerms: Q = (s, d) => {
    val asg = kmeansAssign(s, d)
      .select(col("vec_id").as("doc_id"), col("cid").as("cluster"))
    val ctf = Tables.documents(s, d)
      .join(asg, "doc_id")
      .select(col("cluster"), explode(Fns.tokens(lower(col("text")))).as("term"))
      .groupBy("cluster", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ft = ctf.groupBy("term").agg(sum(col("tf")).as("ft"))
    val tot = ctf.agg(sum(col("tf")).as("tot_tok"),
      countDistinct(col("cluster")).as("ncl"))
    val score = Fns.roundP(
      col("tf") * log(lit(1.0) +
        (col("tot_tok").cast("double") / col("ncl")) / col("ft")), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("ctfidf").desc, col("term"))
    ctf.join(ft, Seq("term")).crossJoin(broadcast(tot))
      .select(col("cluster"), col("term"), col("tf"), score.as("ctfidf"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TT_TOP)
      .select("cluster", "term", "tf", "ctfidf")
      .orderBy(col("cluster"), col("ctfidf").desc, col("term"))
  }

  /** Output dimensionality of [[qRandomProjection]]. */
  val RP_DIMS = 8

  /** ±1 sign for (output dim j, input dim i): parity of the first 32 md5
    * bits of "rp_<i + j·DIM>" — the same value `Fns.hash32`/DuckDB derive
    * from the same string. Computed ONCE on the driver (the [[planeVal]]
    * discipline), so the sign matrix is a literal in the plan. A plain
    * LCG-parity matrix was measured nearly rank-1 here (sign rows
    * pairwise-correlated up to 54/64); md5 rows stay ≤14/64. */
  private[graft] def rpSign(j: Int, i: Int): Double =
    if (md5Head32(s"rp_${i + j * DIM}") % 2 == 0) 1.0 else -1.0

  /** Embedding compression by sparse-free random projection (Johnson–
    * Lindenstrauss; Achlioptas 2003's ±1 database-friendly variant):
    * project DIM=64 float dims onto [[RP_DIMS]] ±1 pseudo-random
    * directions, p_j = Σᵢ s(j,i)·vᵢ. The jl_ratio column
    * ((Σ p_j²/RP_DIMS) / |v|², ≈1 in expectation) gates the norm-
    * preservation property itself, not just the arithmetic.
    *
    * Plan: the sign matrix is 8 literal arrays broadcast inside the plan;
    * each projection is the same codegen'd [[VectorExprs.dotp]] fold the
    * KNN family gates (ordered sum ≍ DuckDB list_sum) — one shuffle-free
    * scan per 100 TB pass, the map-side compression step before ANN
    * indexing or dedup at scale. */
  val qRandomProjection: Q = (s, d) => {
    val signs = (1 to RP_DIMS).map { j =>
      array((1 to DIM).map(i => lit(rpSign(j, i))): _*)
    }
    // one projection adds all 8 dims + nv (8 chained withColumns would
    // re-analyze a growing plan each time)
    val pr = vecs(s, d).select(col("vec_id"), col("v"))
      .select(col("vec_id") +:
        VectorExprs.dotp(col("v"), col("v")).as("nv") +:
        (1 to RP_DIMS).map(j =>
          VectorExprs.dotp(col("v"), signs(j - 1)).as(s"praw$j")): _*)
    val sq = (1 to RP_DIMS).map(j => col(s"praw$j") * col(s"praw$j")).reduce(_ + _)
    pr.withColumn("jl_raw", sq / lit(RP_DIMS) / col("nv"))
      .select(col("vec_id") +:
        (1 to RP_DIMS).map(j => Fns.roundP(col(s"praw$j"), 6).as(s"p$j")) :+
        Fns.roundP(col("jl_raw"), 4).as("jl_ratio"): _*)
      .orderBy("vec_id")
  }

  /** Product-quantization geometry: [[PQ_M]] subspaces of [[PQ_SUB]] dims,
    * [[PQ_K]] codewords per subspace (codes fit one byte each → 8 B per
    * vector vs 512 B raw). Codebook init is deterministic — the subvectors
    * of the [[PQ_K]] smallest non-probe ids — the same convention as
    * [[qKmeans]]'s first-K init. */
  val PQ_M = 8
  val PQ_SUB = DIM / PQ_M
  val PQ_K = 16

  /** Product quantization + ADC search (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the
    * memory-compression half of a production ANN stack (IVF picks cells,
    * PQ codes rank within them at 64× less memory traffic): each vector is
    * encoded to [[PQ_M]] codeword ids (per-subspace argmin, tie → lowest
    * id), and query distance is approximated by summing the probe's
    * precomputed probe→codeword table at the stored codes (Asymmetric
    * Distance Computation). The gate pins the CODES (exact integer
    * argmins), the ADC distance (decimal-summed, order-independent), and
    * the true distance beside it — approximation error is visible, not
    * hidden.
    *
    * Scale shape: codebook and probe tables are driver-held trained
    * artifacts (M×K×SUB and M×K doubles — the k-means-centroid tier),
    * baked into the plan as literals, so encode + ADC is ONE codegen'd
    * scan with zero joins and zero shuffles; top-k is
    * TakeOrderedAndProject. At 100 TB the encode is embarrassingly
    * parallel and the ADC scan reads 8-byte codes, not 512-byte vectors —
    * exactly why serving stacks PQ-compress. */
  /** The PQ "trained artifacts", collected once on the driver (M×K×SUB +
    * M×K doubles — the k-means-centroid tier): per-subspace codebooks from
    * the [[PQ_K]] smallest non-probe ids, the probe vector, and the
    * probe→codeword ADC lookup table (computed with the same 0-seeded
    * left-to-right fold as the SQL twin's list_sum, so driver arithmetic
    * is bit-identical to both engines' in-plan arithmetic). */
  private def pqArtifacts(s: SparkSession, d: String)
      : (Array[Array[Array[Double]]], Array[Double], Array[Array[Double]]) = {
    import s.implicits._
    val cb = trainPqCodebook(s, d)
    val pv = vecs(s, d).filter(col("vec_id") === PROBE_ID)
      .select(col("v")).as[Seq[Double]].head().toArray
    (cb, pv, adcTable(cb, pv))
  }

  /** The trained PQ codebook alone (the driver-held artifact an ingest
    * holds for its lifetime, like the coarse-quantizer centroids) —
    * needs no probe vector, so ingest setups on probe-less vector sets
    * train without the extra collect the query gates' probe lookup pays. */
  def trainPqCodebook(s: SparkSession, d: String): Array[Array[Array[Double]]] = {
    import s.implicits._
    val cbRows = vecs(s, d).filter(col("vec_id") =!= PROBE_ID).orderBy("vec_id")
      .limit(PQ_K).select(col("v")).as[Seq[Double]].collect()
    Array.tabulate(PQ_M, PQ_K, PQ_SUB)((m, k, j) => cbRows(k)(m * PQ_SUB + j))
  }

  /** Probe→codeword ADC lookup table for a trained codebook — computed
    * with the same 0-seeded left-to-right fold as the SQL twin's
    * list_sum, so driver arithmetic is bit-identical to both engines'
    * in-plan arithmetic. */
  def adcTable(cb: Array[Array[Array[Double]]], pv: Array[Double]): Array[Array[Double]] =
    Array.tabulate(PQ_M, PQ_K) { (m, k) =>
      (0 until PQ_SUB).map { j =>
        val dlt = pv(m * PQ_SUB + j) - cb(m)(k)(j); dlt * dlt
      }.foldLeft(0.0)(_ + _)
    }

  /** Stage ONE `codes` array<int> column (the [[PQ_M]] codeword ids) onto
    * a frame bearing `v` — the ingest-time encode that makes stored rows
    * ADC-servable without touching raw vectors again. Row-local column
    * algebra, zero shuffle (the [[pqEncode]] HOF loop + an array pack;
    * staging columns are dropped). */
  def withPqCodes(df: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame =
    pqEncode(df, cb)
      .withColumn("codes", array((0 until PQ_M).map(m => col(s"c$m")): _*))
      .drop((0 until PQ_M).flatMap(m => Seq(s"s$m", s"d$m", s"c$m")): _*)

  /** ADC distance from a STORED `codes` array (the serving twin of
    * [[pqAdcCol]], which reads the staged c0..c{M−1} encode columns):
    * Σ_m lookup of the probe table at codes[m], decimal-summed —
    * identical fold, so serving from codes reproduces the encode-path
    * distances exactly. */
  def adcFromCodes(pd: Array[Array[Double]]): Column =
    (0 until PQ_M).map(m =>
        element_at(typedLit(pd(m).toSeq), element_at(col("codes"), m + 1) + 1)
          .cast("decimal(28,18)"))
      .reduce(_ + _)

  /** Stage PQ codes c0..c{M−1} onto a frame bearing (vec_id, v, …): per
    * subspace, the 16 codeword distances against a LITERAL codebook array
    * via nested HOFs (transform over codewords, zip_with+aggregate inside
    * — compact loop codegen; the earlier fully-unrolled M×K×SUB term tree
    * blew janino's 64 KB method limit and silently ran interpreted,
    * measured 4.1 s for a 2000-row scan), then argmin via array_position
    * (tie → lowest codeword id). The HOF fold adds left-to-right in the
    * same order as the unrolled form, so values — and the oracle hash —
    * are unchanged. Pure row-local column algebra — no join, no shuffle. */
  private def pqEncode(df: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame = {
    val withSubs = df.select(
      df.columns.map(col).toSeq ++ (0 until PQ_M).map(m =>
        slice(col("v"), m * PQ_SUB + 1, PQ_SUB).as(s"s$m")): _*)
    val staged = withSubs.select(
      withSubs.columns.map(col).toSeq ++ (0 until PQ_M).map { m =>
        val cbLit = typedLit(cb(m).map(_.toSeq).toSeq)
        transform(cbLit, cw =>
          aggregate(zip_with(col(s"s$m"), cw, (x, c) => (x - c) * (x - c)),
            lit(0.0), (acc, x) => acc + x)).as(s"d$m")
      }: _*)
    (0 until PQ_M).foldLeft(staged) { (acc, m) =>
      acc.withColumn(s"c$m",
        (array_position(col(s"d$m"), array_min(col(s"d$m"))) - 1).cast("int"))
    }
  }

  /** ADC distance from staged codes: Σ_m lookup of the probe table at
    * c_m, decimal-summed (order-independent). */
  private def pqAdcCol(pd: Array[Array[Double]]): Column =
    (0 until PQ_M).map(m =>
        element_at(typedLit(pd(m).toSeq), col(s"c$m") + 1).cast("decimal(28,18)"))
      .reduce(_ + _)

  val qPqAdc: Q = (s, d) => {
    val (cb, pv, pd) = pqArtifacts(s, d)
    // the probe rides as a literal too — no join node anywhere in the plan
    pqEncode(vecs(s, d).filter(col("vec_id") =!= PROBE_ID), cb)
      .select(col("vec_id"),
        concat_ws("-", (0 until PQ_M).map(m => col(s"c$m").cast("string")): _*).as("code"),
        Fns.roundP(pqAdcCol(pd).cast("double"), 6).as("adc_dist2"),
        Fns.roundP(VectorExprs.dist2(col("v"), typedLit(pv.toSeq)), 6).as("exact_dist2"))
      .orderBy(col("adc_dist2"), col("vec_id"))
      .limit(TOPK)
  }

  /** Candidate over-fetch multiplier for [[qAnnIvfPq]]'s ADC stage. */
  val IVFPQ_OVER = 5

  /** IVF-ADC search (Jégou et al. 2011 §IV) — the composed serving shape
    * production ANN engines run: IVF picks the [[NPROBE]] nearest cells
    * (decimal-exact centroid math, same as [[qAnnIvf]]), PQ codes rank the
    * candidates inside those cells by ADC at 64× less memory traffic, and
    * only the best [[TOPK]]×[[IVFPQ_OVER]] ids are exact-re-ranked against
    * the raw vectors. The gate compares the final top-k to brute-force
    * truth via the oracle's identical pipeline.
    *
    * Scale shape: cell filter = broadcast semi-join (NPROBE rows) that
    * PRUNES the scan; ADC stage reads codes only (literal codebook, zero
    * shuffle, TakeOrderedAndProject keeps k×over ids); re-rank = k×over-id
    * broadcast back onto the vector store. The corpus moves through ONE
    * pruned codegen scan; raw vectors are touched only for k×over rows. */
  val qAnnIvfPq: Q = (s, d) => {
    val (cb, _, pd) = pqArtifacts(s, d)
    val v = vecs(s, d)
    val cent = v.select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("col").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("c"))
    val probeDims = v.filter(col("vec_id") === PROBE_ID)
      .select(posexplode(col("v")))
      .select(col("pos"), col("col").as("px"))
    val nearCells = cent.join(broadcast(probeDims), "pos")
      .groupBy(col("label"))
      .agg(sum(((col("c") - col("px")) * (col("c") - col("px"))).cast("decimal(28,14)"))
        .cast("double").as("cd"))
      .orderBy(col("cd"), col("label"))
      .limit(NPROBE)
      .select(col("label"))
    val cands = pqEncode(
        v.join(broadcast(nearCells), "label").filter(col("vec_id") =!= PROBE_ID), cb)
      .select(col("vec_id"), Fns.roundP(pqAdcCol(pd).cast("double"), 6).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(TOPK * IVFPQ_OVER)
      .select(col("vec_id"))
    v.join(broadcast(cands), "vec_id")
      .crossJoin(probe(s, d))
      .select(col("vec_id"), Fns.roundP(VectorExprs.dist2(col("v"), col("pv")), 6).as("dist2"))
      .orderBy(col("dist2"), col("vec_id"))
      .limit(TOPK)
  }

  /** Semantic deduplication (SemDeDup — Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * 2023): embedding-space near-duplicates above [[COS_T]] are grouped
    * into clusters and one canonical representative survives per cluster.
    * Pair generation is EXACTLY [[qCosineBlocked]]'s IVF-cell-blocked
    * join (the paper's within-cluster-only comparison — never all-pairs);
    * transitive closure then runs over the pair graph so A~B~C collapses
    * to ONE survivor even when A!~C (the same under-deletion argument as
    * [[DedupOps.qDedupClusters]], whose min-label superstep loop this
    * reuses verbatim). Keeper = min vec_id per component — deterministic;
    * the paper keeps the point farthest from the cluster centroid, a
    * one-line swap that would put a float tie at the gate boundary for no
    * semantic gain at parity scale.
    *
    * Scale shape: everything corpus-sized is inherited from the blocked
    * pair join (per-cell quadratics, no cartesian — PlanSpec pins it);
    * the component loop runs ONLY over vertices that appear in some pair
    * (O(dups)), one keyed shuffle per superstep. The final left join
    * fills singletons in one pass over the vector store. */
  val qSemanticDedup: Q = (s, d) => {
    val pairs = qCosineBlocked(s, d).select("id_a", "id_b")
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    val labels = DedupOps.minLabelComponents(edges)
    val out = vecs(s, d).select(col("vec_id"))
      .join(labels, col("vec_id") === col("doc_id"), "left")
      .select(col("vec_id"), coalesce(col("cluster"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col("vec_id"))
      .orderBy("vec_id")
    edges.unpersist()
    out
  }

  /** Probe-set modulus for [[qKnnJoin]] — vec_id % KJ_MOD == 0 selects
    * ~N/KJ_MOD deterministic query vectors. */
  val KJ_MOD = 149L

  /** Exact k-NN JOIN — every query vector in a deterministic probe set
    * gets its TOPK nearest corpus vectors (the batch form of ANN serving:
    * embedding-table refresh, recommender candidate generation, hard-
    * negative mining all run this shape). The probe set broadcasts onto
    * ONE corpus scan (BroadcastNestedLoop over ~N/KJ_MOD probe rows —
    * never a partitioned product), distances are the codegen'd dist2
    * kernel, and per-query top-k is a row_number window that Spark
    * executes as WindowGroupLimit: each partition keeps ≤k rows per query
    * BEFORE the (query_id)-keyed exchange, so the shuffle carries
    * ≤ queries×k×partitions rows, never the queries×corpus product.
    * Ranks ride on the ROUNDED distance with vec_id tiebreak, so the
    * rank column itself is cross-engine deterministic. At 100 TB with a
    * probe set too large to broadcast, the same query composes with the
    * IVF cell route (q_ann_ivf) — cell-keyed equi-join instead of
    * broadcast; structure otherwise unchanged. */
  val qKnnJoin: Q = (s, d) => {
    val v = vecs(s, d)
    val probes = broadcast(v.filter(pmod(col("vec_id"), lit(KJ_MOD)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("pv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist2"), col("vec_id"))
    v.crossJoin(probes)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Fns.roundP(VectorExprs.dist2(col("v"), col("pv")), 6).as("dist2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TOPK)
      .orderBy("query_id", "rn")
  }

  /** Neighborhood size for [[qLof]]. */
  val LOF_K = 5
  /** Audit-sample budget for [[qLof]] — the capped-probe discipline
    * (q_ann_recall): LOF's transitive neighborhoods mean an uncapped
    * probe set costs three corpus scans per probe tier. */
  val LOF_P = 16

  /** Shared brute-force kNN stage for [[qLof]]: top-[[LOF_K]] corpus
    * neighbors (self excluded) for a BOUNDED broadcast query frame
    * (qid, qv) — one corpus scan, WindowGroupLimit top-k, both raw d2
    * (the cross-engine tie key) and the euclidean dist. */
  private def lofKnn(corpus: DataFrame, qs: DataFrame, k: Int): DataFrame =
    corpus.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorExprs.dist2(col("v"), col("qv")).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2"), col("vec_id"))))
      .filter(col("rn") <= k)
      .withColumn("dist", sqrt(col("d2")))

  /** Local Outlier Factor (Breunig, Kriegel, Ng & Sander, SIGMOD 2000)
    * over a capped embedding audit sample — the density-aware outlier
    * score a curation pass runs where a global distance threshold fails
    * (a point is outlying relative to its OWN neighborhood's density):
    * k-dist(o) = distance to the k-th neighbor, reach_k(p,o) =
    * max(k-dist(o), d(p,o)), lrd(p) = k / Σ_{o∈kNN(p)} reach(p,o),
    * LOF(p) = (Σ_{o∈kNN(p)} lrd(o)) / k / lrd(p) — ≈1 inside uniform
    * density, ≫1 for outliers.
    *
    * Scale shape: LOF's transitive neighborhoods (lrd(o) needs kNN(o),
    * whose reach terms need k-dist of THEIR neighbors) are resolved as
    * three TIERED broadcast kNN scans over the persisted corpus — probes
    * ([[LOF_P]]) → their neighbors M (≤ P·k) → M's neighbors M2
    * (≤ P·k²) — each one linear corpus scan with WindowGroupLimit top-k;
    * every frame after the scans is P·k²-bounded broadcast algebra. The
    * probe CAP is the posture (the q_ann_recall lesson): full-corpus LOF
    * composes the same three tiers with the IVF cell route instead of
    * broadcast. Exactness: distances are the shared codegen dist2 kernel
    * (+ libm sqrt), reach is a max of two identically-derived doubles,
    * each k-term mean sums through decimal(28,18), and zero-distance
    * degenerate neighborhoods NULL identically via an explicit guard. */
  val qLof: Q = (s, d) => {
    val corpus = vecs(s, d).select(col("vec_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = corpus.filter(pmod(col("vec_id"), lit(KJ_MOD)) === 0)
      .orderBy("vec_id").limit(LOF_P)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val knnP = lofKnn(corpus, probes, LOF_K)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mQs = corpus.join(
        broadcast(knnP.select(col("vec_id").as("qid")).distinct()),
        col("vec_id") === col("qid"))
      .select(col("qid"), col("v").as("qv"))
    val knnM = lofKnn(corpus, mQs, LOF_K)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val kdistM = knnM.groupBy("qid").agg(max(col("dist")).as("kdist"))
    val m2Qs = corpus.join(
        broadcast(knnM.select(col("vec_id").as("qid")).distinct()),
        col("vec_id") === col("qid"))
      .select(col("qid"), col("v").as("qv"))
    val kdist2 = lofKnn(corpus, m2Qs, LOF_K)
      .groupBy("qid").agg(max(col("dist")).as("kdist"))
    def lrdOf(knn: DataFrame, kd: DataFrame): DataFrame = knn
      .join(broadcast(kd.select(col("qid").as("vec_id"), col("kdist"))),
        Seq("vec_id"))
      .withColumn("reach", greatest(col("kdist"), col("dist")))
      .groupBy("qid")
      .agg(sum(col("reach").cast("decimal(28,18)")).cast("double").as("sr"))
      .select(col("qid"), when(col("sr") > 0,
        lit(LOF_K.toDouble) / col("sr")).as("lrd"))
    val lrdM = lrdOf(knnM, kdist2)
    val lrdP = lrdOf(knnP, kdistM)
    knnP
      .join(broadcast(lrdM.select(col("qid").as("vec_id"),
        col("lrd").as("lrd_o"))), Seq("vec_id"))
      .groupBy(col("qid"))
      .agg((sum(col("lrd_o").cast("decimal(28,18)")).cast("double") /
        lit(LOF_K.toDouble)).as("mlrd"))
      .join(broadcast(lrdP), Seq("qid"))
      .select(col("qid").as("vec_id"),
        Fns.roundP(col("lrd"), 6).as("lrd"),
        Fns.roundP(col("mlrd") / col("lrd"), 6).as("lof"))
      .orderBy("vec_id")
  }

  /** Fixed probe budget for [[qAnnRecall]] — the eval's brute-force side
    * must not grow with the corpus. */
  val AR_QUERIES = 64

  /** ANN QUALITY EVAL — per-query recall@[[TOPK]] of the IVF route
    * against exact brute force over the [[qKnnJoin]] probe set: the
    * measurement a pipeline runs before trusting an approximate index
    * (the nprobe-vs-recall tuning readout), here pinned as data the same
    * way the CMS/KMV/PQ gates pin their approximation error.
    *
    * Both sides are deterministic, so the gate is hash-exact: exact
    * top-k is the qKnnJoin dataflow; the IVF side ranks each query's
    * NPROBE nearest cells on decimal-summed centroid distances (the
    * q_ann_ivf arithmetic, generalized from one probe to the set via a
    * (query, cell) group + per-query rank window), scans ONLY those
    * cells, and takes the same rounded-distance top-k window.
    *
    * Scale posture: centroids are a cells×dim agg; the (query, cell)
    * routing table is queries×NPROBE rows, broadcast back onto the
    * corpus as a cell-keyed equi-join — the corpus moves through ONE
    * pruned scan, and both top-k windows plan as WindowGroupLimit. The
    * exact side is the eval's cost (it IS brute force), so the probe set
    * is CAPPED at [[AR_QUERIES]] (smallest ids of the qKnnJoin sample) —
    * an uncapped probe set grows with the corpus and makes the brute
    * side quadratic (measured: 1.4/1.7/12.0 s at 1×/16×/64× uncapped;
    * a fixed budget keeps the eval one bounded-probe corpus scan). */
  /** The capped probe set, per-query top-k, and recall report shared by
    * [[qAnnRecall]] (label cells) and [[qAnnRecallKmeans]] (trained
    * cells) — only the routing differs between the two evals. */
  private def recallProbes(v: DataFrame): DataFrame =
    broadcast(v.filter(pmod(col("vec_id"), lit(KJ_MOD)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("pv"))
      .orderBy("query_id").limit(AR_QUERIES))

  private[graft] def recallTopk(cands: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist2"), col("vec_id"))
    cands
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        Fns.roundP(VectorExprs.dist2(col("v"), col("pv")), 6).as("dist2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TOPK)
      .select(col("query_id"), col("vec_id"))
  }

  private[graft] def recallReport(exact: DataFrame, ann: DataFrame): DataFrame =
    exact.join(ann.withColumn("hit", lit(1L)), Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        Fns.roundP(col("n_hit").cast("double") / col("k").cast("double"), 4).as("recall"))
      .orderBy("query_id")

  val qAnnRecall: Q = (s, d) => {
    val v = vecs(s, d)
    val probes = recallProbes(v)
    val exact = recallTopk(v.crossJoin(probes))
    val centLong = v.select(col("label"), posexplode(col("v")))
      .groupBy("label", "pos")
      .agg((sum(col("col").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("c"))
    val probeLong = probes.select(col("query_id"), posexplode(col("pv")))
      .select(col("query_id"), col("pos"), col("col").as("px"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cd"), col("label"))
    val route = centLong.join(broadcast(probeLong), "pos")
      .groupBy("query_id", "label")
      .agg(sum(((col("c") - col("px")) * (col("c") - col("px"))).cast("decimal(28,14)"))
        .cast("double").as("cd"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= NPROBE)
      .select(col("query_id"), col("label"))
    val ann = recallTopk(v.join(broadcast(route), "label").join(probes, "query_id"))
    recallReport(exact, ann)
  }

  /** [[qAnnRecall]] with the index REBUILT on [[kmeansCentroids]]'
    * trained cells instead of the class labels — the follow-up the eval
    * demands once q_ann_recall exposes label cells as geometric noise
    * (measured 0.30 there): train the coarse quantizer with the gate's
    * own Lloyd iterations, assign corpus vectors row-locally, route each
    * probe to its 2 nearest trained centroids ([[assignCells]] with
    * probes=2 — the NPROBE=2 convention as cid/cid2), and measure the
    * same recall@[[TOPK]]. Together the two gates ARE the index
    * decision: same eval, two quantizers, the better number wins.
    * Scale posture identical to q_ann_recall plus the probed q_kmeans
    * training chain. */
  val qAnnRecallKmeans: Q = (s, d) => {
    require(NPROBE == 2, "the kmeans route uses assignCells(probes = 2)")
    // three consumers (probe fetch, brute side, assignment) and no
    // cross-branch CSE: persist, or each branch re-scans the corpus.
    // Before the centroid blob landed, the TRAINING chain persisted this
    // same projection as a side effect and the eval silently rode those
    // blocks — cached centroids removed the training, exposing the
    // re-scans (measured 64 s at the 64× probe vs 39 s WITH training;
    // persisted eval: see PERF.md r13)
    val v = vecs(s, d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = recallProbes(v)
    val exact = recallTopk(v.crossJoin(probes))
    val cents = kmeansCentroids(s, d)
    val assigned = assignCells(v.select(col("vec_id"), col("v")), cents)
      .select(col("vec_id"), col("v"), col("cid"))
    val route = assignCells(
        probes.select(col("query_id"), col("pv").as("v")), cents, probes = 2)
      .select(col("query_id"),
        explode(array(col("cid"), col("cid2"))).as("cid"))
    val ann = recallTopk(
      assigned.join(broadcast(route), "cid").join(probes, "query_id"))
    recallReport(exact, ann)
  }

  /** Retrieval-eval cut: metrics over the top [[NDCG_K]] ranks. */
  val NDCG_K = 10

  /** The nDCG/MRR literal tables BOTH engine builders embed (qRetrievalEval
    * and its oracle twin) — one definition, so an edit cannot silently
    * desynchronize the "identical double literals" exactness argument.
    * (Hnsw2RecallSpec re-derives them from scratch on purpose: a formula
    * change there FAILS the spec instead of flipping the gate hash.) */
  private[graft] val NDCG_GAINS: Seq[Double] =
    (1 to NDCG_K).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
  private[graft] val NDCG_IDCG: Seq[Double] = NDCG_GAINS.scanLeft(0.0)(_ + _).tail
  private[graft] val NDCG_RRS: Seq[Double] = (1 to NDCG_K).map(i => 1.0 / i)

  /** IR-metric eval of embedding retrieval — the report card a retrieval
    * pipeline publishes beside recall@k: per capped probe (the
    * q_ann_recall budget), rank the corpus by exact distance and score
    * graded relevance (same class label) as nDCG@[[NDCG_K]] and
    * MRR@[[NDCG_K]]. Complements the recall pair: recall measures the
    * INDEX against brute force, this measures the EMBEDDING against the
    * labels (a representation whose neighbors are cross-class scores low
    * here no matter how good the ANN index is).
    *
    * Cross-engine exactness: the 10 DCG gains (1/log2(rank+1)), the IDCG
    * prefix table, and the 10 reciprocal ranks are PRECOMPUTED in Scala
    * and embedded as identical double literals in both engines (no
    * runtime log in either plan — shortest-repr round-trip makes the
    * literals bit-identical); DCG sums the selected gain literals through
    * the proven decimal(28,18) cast; ranks order by (rounded dist2,
    * vec_id). Scale posture: capped probe fan (broadcast), one corpus
    * scan, both rank windows are WindowGroupLimit; the label-count side
    * is an O(|labels|) broadcast. */
  val qRetrievalEval: Q = (s, d) => {
    // three consumers (probes, rank scan, label counts) — persist or the
    // corpus re-scans per branch (no cross-branch CSE)
    val v = vecs(s, d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hinted only where it is a join's build side: the final left join
    // preserves it, and Spark cannot broadcast a left join's preserved side
    val probes = v.filter(pmod(col("vec_id"), lit(KJ_MOD)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("pv"), col("label").as("qlabel"))
      .orderBy("query_id").limit(AR_QUERIES)
    val relCounts = v.groupBy(col("label").as("qlabel")).agg(count(lit(1)).as("lcnt"))
    val (gains, idcg, rrs) = (NDCG_GAINS, NDCG_IDCG, NDCG_RRS)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist2"), col("vec_id"))
    val top = v.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("vec_id"), col("label"),
        Fns.roundP(VectorExprs.dist2(col("v"), col("pv")), 6).as("dist2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= NDCG_K)
    val per = top
      .withColumn("rel", (col("label") === col("qlabel")).cast("int"))
      .groupBy("query_id")
      .agg(
        sum(col("rel")).cast("long").as("n_rel_top"),
        sum(when(col("rel") === 1,
          element_at(typedLit(gains), col("rn")).cast("decimal(28,18)")))
          .cast("double").as("dcg"),
        max(when(col("rel") === 1, element_at(typedLit(rrs), col("rn")))).as("rr"))
    probes.select(col("query_id"), col("qlabel"))
      .join(per, Seq("query_id"), "left")
      .join(broadcast(relCounts), Seq("qlabel"), "left")
      .select(col("query_id"),
        (col("lcnt") - 1).cast("long").as("n_rel"),
        coalesce(col("n_rel_top"), lit(0L)).as("n_rel_top"),
        when(col("lcnt") > 1,
          Fns.roundP(coalesce(col("dcg"), lit(0.0)) /
            element_at(typedLit(idcg),
              least(col("lcnt") - 1, lit(NDCG_K)).cast("int")), 4))
          .otherwise(lit(0.0)).as("ndcg"),
        Fns.roundP(coalesce(col("rr"), lit(0.0)), 4).as("mrr_at_k"))
      .orderBy("query_id")
  }

  /** Covariance report size. */
  val EC_TOPK = 50

  /** Embedding feature-covariance QA (the health check an embedding
    * pipeline runs before indexing: collapsed/duplicated/correlated
    * dimensions show up as extreme off-diagonal covariance — the signal
    * behind whitening and the redundancy analyses of representation-
    * collapse papers). Reports the [[EC_TOPK]] strongest off-diagonal
    * entries of the D×D covariance matrix.
    *
    * Dataflow: the D(D−1)/2 per-row products are expanded ROW-LOCALLY
    * (no self-join — the corpus is never joined with itself) as TWO
    * chained codegen'd generators — posexplode the element, then
    * posexplode the slice of elements after it — and map-side partial
    * aggregation collapses the stream to D² groups before anything
    * shuffles; the moments join is over the D-row dimension table,
    * broadcast. (The first rendering built the pairs with nested array
    * `transform` lambdas — the interpreted-HOF path evaluated per
    * element made it the 3rd-hottest bench query at 10 s; the generator
    * chain computes the identical products in whole-stage codegen. The
    * inner-generator form with an explicit emptiness guard beats
    * `posexplode_outer`+null-filter by ~15% here — the outer path drops
    * out of codegen — and the guard's InferFiltersFromGenerate clone
    * risk, PERF.md, is moot because the generate child is a bare
    * attribute.) Parity: float elements are cast to double BEFORE
    * multiplying (float×float would round to float32 on Spark while
    * DuckDB multiplies doubles), the products are exact doubles summed
    * through decimal(18,12) — precision ≤ 18 keeps Spark's Decimal
    * LONG-backed through the whole partial agg (measured 6×: the same
    * 4M-row sum at (28,12) runs through BigDecimal objects, 8.4 s vs
    * 1.4 s; unit-interval embeddings make the two scales value-identical
    * since every term and group sum fits 10^6, and the DuckDB oracle's
    * DECIMAL(28,12) rounds to the same 12-digit values) — and
    * cov = Σxy/n − (Σx/n)(Σy/n) is one fixed expression tree. */
  val qEmbedCov: Q = (s, d) => {
    // spread the D²-per-row expansion over cores: the embeddings parquet
    // is a single small split locally, so without this the 4M decimal
    // casts run on one task (measured 7.8 s exec → 3.5 s). The one-time
    // N×D shuffle is ~1/D of the expansion volume — noise at any scale.
    // persisted (r16, guide §2.4): three consumers (n1, dimSum, pairSum)
    // each re-ran the scan + repartition shuffle without it; dimSum
    // likewise feeds two broadcast builds. Both frames are small (N×D
    // floats / D rows).
    val e = Tables.embeddings(s, d).select(col("embedding").as("emb"))
      .repartition(s.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n1 = e.agg(count(lit(1)).as("n"))
    val dimSum = e
      .select(posexplode(col("emb")).as(Seq("i0", "x")))
      .groupBy((col("i0") + lit(1)).as("i"))
      .agg(sum(col("x").cast("double").cast("decimal(18,12)")).as("sx"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairSum = e
      .select(col("emb"), posexplode(col("emb")).as(Seq("i0", "x")))
      .filter(size(col("emb")) > col("i0") + 1) // last element pairs with nothing
      .select(col("i0"), col("x"),
        posexplode(slice(col("emb"), col("i0") + lit(2), size(col("emb"))))
          .as(Seq("p2", "y")))
      .select((col("i0") + 1).as("i"), (col("i0") + col("p2") + 2).as("j"),
        (col("x").cast("double") * col("y").cast("double")).as("p"))
      .groupBy("i", "j")
      .agg(sum(col("p").cast("decimal(18,12)")).as("sxy"))
    val nD = col("n").cast("double")
    pairSum
      .join(broadcast(dimSum.select(col("i"), col("sx").as("sxi"))), "i")
      .join(broadcast(dimSum.select(col("i").as("j"), col("sx").as("sxj"))), "j")
      .crossJoin(broadcast(n1))
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        Fns.roundP(
          col("sxy").cast("double") / nD -
            (col("sxi").cast("double") / nD) * (col("sxj").cast("double") / nD),
          8).as("cov"))
      .orderBy(abs(col("cov")).desc, col("i"), col("j"))
      .limit(EC_TOPK)
  }

  // --------------------------------------------------------------------
  // Distributed PCA (power iteration by matvec passes)
  // --------------------------------------------------------------------

  /** Power-iteration rounds for [[qPcaPower]]. Rounds run over the
    * COLLECTED D×D covariance, so they are free on both engines —
    * 64 covers the measured λ2/λ1 = 0.93 gap of the near-isotropic
    * synthetic embeddings (0.93^64 ≈ 0.01 residual mixing — alignment
    * ≥ 0.999 vs a dense eigensolve, SpectralSpec). */
  val PCA_ITERS = 64

  /** First principal component of the embedding column — the PCA step an
    * embedding pipeline runs before whitening/compression, rendered as
    * production tall-skinny PCA (Spark MLlib's computePrincipalComponents
    * shape): ONE distributed pass computes the D×D covariance (row-local
    * upper-triangle D² expansion with decimal(18,12) partial sums — the
    * q_embed_cov dataflow including the diagonal), the dimension-bounded
    * matrix collects to the driver (D² doubles — corpus-size-independent,
    * the trained-artifact tier), and the eigenpair comes from
    * [[PCA_ITERS]] deterministic power-iteration rounds there.
    *
    * Exactness: covariance entries derive from exact decimal sums, so
    * both engines hold identical doubles; every driver matvec folds row
    * entries left-to-right in j order — the DuckDB twin's per-row
    * `list_sum(list_transform(...))` over `list(c ORDER BY j)` — and the
    * norm folds in i order, so all 64 rounds are bit-identical. Output:
    * loadings, the eigenvalue estimate ‖y‖ of the last round, and its
    * explained share of total variance (trace).
    *
    * At 100 TB: one map-reduce whose shuffle carries D²-bounded decimal
    * partials per partition; the iteration cost is O(ITERS·D²) driver
    * flops. (The local `repartition` spreads the D²-per-row expansion
    * over cores when the input parquet is a single small split; its
    * one-time N×D shuffle is ~1/D of the expansion volume, noise at any
    * scale.) */
  /** Trained PCA artifact shared by [[qPcaPower]] and [[qPcaScores]]:
    * (mean vector, unit component, eigenvalue, trace). One distributed
    * covariance pass, then the driver iteration. */
  private[graft] def pcaComponent(s: SparkSession, d: String)
      : (Array[Double], Array[Double], Double, Double) = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("embedding").cast("array<double>").as("v"))
      .repartition(s.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRows = e.count()
    val nD = nRows.toDouble
    val m: Array[Double] = e
      .select(posexplode(col("v")).as(Seq("i0", "x")))
      .groupBy("i0").agg(sum(col("x").cast("decimal(18,12)")).as("sx"))
      .orderBy("i0")
      .select((col("sx").cast("double") / lit(nD)).as("mi"))
      .as[Double].collect()
    val dim = m.length
    // upper triangle INCLUDING the diagonal: (i, j≥i, Σ vi·vj) — exact
    // decimal sums, one shuffle of D(D+1)/2-bounded partials
    val covU: Array[(Int, Int, Double)] = e
      .select(col("v"), posexplode(col("v")).as(Seq("i0", "x")))
      .select(col("i0"), col("x"),
        posexplode(slice(col("v"), col("i0") + lit(1), size(col("v"))))
          .as(Seq("p2", "y")))
      .select(col("i0").as("i"), (col("i0") + col("p2")).as("j"),
        (col("x") * col("y")).as("p"))
      .groupBy("i", "j")
      .agg(sum(col("p").cast("decimal(18,12)")).as("sxy"))
      .select(col("i").cast("int"), col("j").cast("int"),
        col("sxy").cast("double"))
      .as[(Int, Int, Double)].collect()
    // full matrix rows with the same E[xy] − mx·my arithmetic as the twin
    val cov = Array.ofDim[Double](dim, dim)
    covU.foreach { case (i, j, sxy) =>
      val c = sxy / nD - m(i) * m(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    var x = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lastNorm = 0.0
    for (_ <- 1 to PCA_ITERS) {
      val y = Array.tabulate(dim) { i =>
        var acc = 0.0; var j = 0
        while (j < dim) { acc += cov(i)(j) * x(j); j += 1 } // j-ascending fold
        acc
      }
      var ss = 0.0; var i = 0
      while (i < dim) { ss += y(i) * y(i); i += 1 } // i-ascending fold
      lastNorm = math.sqrt(ss)
      x = y.map(_ / lastNorm)
    }
    val trace = {
      var acc = 0.0; var i = 0
      while (i < dim) { acc += cov(i)(i); i += 1 }
      acc
    }
    (m, x, lastNorm, trace)
  }

  val qPcaPower: Q = (s, d) => {
    import s.implicits._
    val (_, x, eig, trace) = pcaComponent(s, d)
    x.toSeq.zipWithIndex.map { case (l, i) => (i + 1, l) }
      .toDF("pos", "loading")
      .select(col("pos"), Fns.roundP(col("loading"), 6).as("loading"),
        Fns.roundP(lit(eig), 6).as("eigval"),
        Fns.roundP(lit(eig / trace), 6).as("expl_var"))
      .orderBy("pos")
  }

  /** Apply side of [[qPcaPower]] — project every embedding onto the
    * trained component and report per-label PC1 statistics (count, mean
    * score, within-label standard deviation): the separability/collapse
    * readout an embedding-QA pass publishes (labels that separate along
    * PC1 mean the dominant variance is class structure; sd ≈ 0 flags a
    * collapsed cluster). The projection is ONE broadcast-literal codegen
    * scan — (v − m)·x with the DotProd left-to-right fold — and the
    * stats are an O(labels) agg with decimal-cast score moments, so the
    * report is corpus-order-free. */
  val qPcaScores: Q = (s, d) => {
    val (m, x, _, _) = pcaComponent(s, d)
    Tables.embeddings(s, d)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .select(col("label"),
        VectorExprs.dotp(
          zip_with(col("v"), typedLit(m.toSeq), (a, b) => a - b),
          typedLit(x.toSeq)).as("sc"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(col("sc").cast("decimal(28,18)")).as("s1"),
        sum((col("sc") * col("sc")).cast("decimal(28,18)")).as("s2"))
      .withColumn("mean_raw", col("s1").cast("double") / col("n"))
      .withColumn("m2", col("s2").cast("double") / col("n"))
      .select(col("label"), col("n"),
        Fns.roundP(col("mean_raw"), 6).as("mean_pc1"),
        Fns.roundP(sqrt(greatest(
          col("m2") - col("mean_raw") * col("mean_raw"), lit(0.0))), 6)
          .as("sd_pc1"))
      .orderBy("label")
  }

  // --------------------------------------------------------------------
  // MMR diverse selection (retrieve-then-rerank data selection)
  // --------------------------------------------------------------------

  /** Relevance pool size for the MMR rerank stage. */
  val MMR_POOL = 64

  /** Items selected by the greedy MMR loop. */
  val MMR_K = 8

  /** Relevance/diversity trade-off — the two weights are INDEPENDENT
    * literals (not 1−λ computed at runtime: `1 - 0.7` is
    * 0.30000000000000004 in IEEE doubles, which would diverge from the
    * SQL literal `0.3`). Their decimal strings are interpolated verbatim
    * into the oracle. */
  val MMR_LAMBDA = 0.7
  val MMR_MU = 0.3

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein, SIGIR
    * 1998) — the diversity-aware data-selection step a fine-tuning
    * pipeline runs after retrieval: pick [[MMR_K]] items maximizing
    * λ·rel(x) − μ·max_{s∈selected} cos(x, s), rel = cosine to the probe.
    * Rendered as the production two-stage shape: a DISTRIBUTED relevance
    * scan takes the top-[[MMR_POOL]] pool via TakeOrderedAndProject (the
    * only corpus-scale stage — one pass, no shuffle beyond the k-row
    * merge), then the inherently sequential greedy loop runs on the
    * driver over the pool×dim-bounded collect, exactly like the PQ/
    * k-means trained-artifact tier. Greedy ties break on vec_id
    * ascending; round 1 has no diversity term (empty selected set scores
    * a 0 penalty). Driver dots use the same 0-seeded left-to-right fold
    * as the SQL twin's list_sum, so arithmetic is bit-identical.
    *
    * At 100 TB: the pool scan is the same plan as [[qKnnCosine]] (scan +
    * per-partition heaps); the O(K·POOL·D) driver rerank is
    * corpus-size-independent. */
  val qMmrSelect: Q = (s, d) => {
    import s.implicits._
    val pool: Array[(Long, Seq[Double], Double)] = vecs(s, d)
      .filter(col("vec_id") =!= PROBE_ID)
      .crossJoin(probe(s, d))
      .select(col("vec_id"), col("v"), cosSim(col("v"), col("pv")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MMR_POOL)
      .as[(Long, Seq[Double], Double)]
      .collect()
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    // (vec_id, v, rel, best-sim-to-selected or None)
    var rem = pool.map { case (id, v, rel) => (id, v, rel, Option.empty[Double]) }
    val picks = Seq.newBuilder[(Int, Long, Double, Double)]
    for (step <- 1 to MMR_K if rem.nonEmpty) {
      val scored = rem.map { case (id, v, rel, bs) =>
        (id, v, rel, bs, MMR_LAMBDA * rel - MMR_MU * bs.getOrElse(0.0))
      }
      val w = scored.minBy { case (id, _, _, _, sc) => (-sc, id) }
      picks += ((step, w._1, w._3, w._5))
      rem = rem.collect { case (id, v, rel, bs) if id != w._1 =>
        val c = cos(v, w._2)
        (id, v, rel, Some(bs.fold(c)(math.max(_, c))))
      }
    }
    picks.result().toDF("step", "vec_id", "rel", "mmr")
      .select(col("step"), col("vec_id"),
        Fns.roundP(col("rel"), 6).as("rel"),
        Fns.roundP(col("mmr"), 6).as("mmr"))
      .orderBy("step")
  }

  // ---- DuckDB oracles ------------------------------------------------------

  private val sqlVecs =
    "SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings"

  /** Shared CTE chain of the IVF-cell-blocked cosine pair join: `e` (the
    * vector table), label centroids, NASSIGN-cell assignments, the
    * [[cellBucketed]] adaptive sub-bucket twin (cell counts → integer nb
    * ladder → hyperplane sign bits + lowest-margin multi-probe), and `n`
    * (cell, bkt, vec_id, v, nrm) — the join-ready normalized side. Pair
    * joins downstream key on (cell, bkt). Used by the q_cosine_blocked,
    * q_hard_negatives and q_semantic_dedup oracles. */
  private[operators] lazy val sqlCosBlockCtes = {
    // the same md5-derived plane components as planeVal/q_ann_lsh's oracle
    def planeComp(h: Int): String =
      s"(CAST('0x' || substr(md5('lshp_${h}_' || CAST(i-1 AS VARCHAR)), 1, 8) AS BIGINT)" +
        " / 4294967296.0::DOUBLE - 0.5)"
    def dotPlane(h: Int): String =
      s"list_sum(list_transform(range(1, len(v)+1), i -> v[i] * ${planeComp(h)}))"
    val dotsList = (0 until CELL_MAXB).map(dotPlane).mkString("[", ",\n      ", "]")
    val nbCase = (CELL_MAXB to 1 by -1)
      .map(b => s"WHEN cn > ${CELL_CAP.toLong << (b - 1)} THEN $b")
      .mkString("CASE ", " ", " ELSE 0 END")
    val bktBits = (0 until CELL_MAXB)
      .map(h => s"(CASE WHEN $h < nb AND dots[${h + 1}] >= 0 THEN ${1L << h} ELSE 0 END)")
      .mkString(" + ")
    s"""e AS ($sqlVecs),
       |long AS (SELECT label, i-1 AS pos, v[i] AS x FROM e, unnest(range(1, len(v)+1)) AS t(i)),
       |cent AS (
       |  SELECT label, pos,
       |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
       |  FROM long GROUP BY label, pos),
       |carr AS (SELECT label AS cell, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
       |cd AS (
       |  SELECT e.vec_id, carr.cell, ${sqlDist2("e.v", "carr.cv")} AS d
       |  FROM e, carr),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM cd)
       |  WHERE rn <= $NASSIGN),
       |csz AS (SELECT cell, count(*) AS cn FROM asg GROUP BY cell),
       |nbs AS (SELECT cell, $nbCase AS nb FROM csz),
       |bx AS (
       |  SELECT a.vec_id, a.cell, t.nb,
       |    CASE WHEN t.nb > 0 THEN $dotsList END AS dots
       |  FROM asg a JOIN nbs t USING (cell) JOIN e USING (vec_id)),
       |bb AS (
       |  SELECT vec_id, cell, nb,
       |    CASE WHEN nb > 0 THEN $bktBits ELSE 0 END AS bkt0,
       |    CASE WHEN nb > 0 THEN
       |      (list_min(list_transform(range(0, nb), h -> {'m': abs(dots[h+1]), 'k': h}))).k
       |    END AS flip
       |  FROM bx),
       |asg2 AS (
       |  SELECT vec_id, cell,
       |    unnest(CASE WHEN nb > 0 THEN [bkt0, xor(bkt0, 1 << flip)] ELSE [bkt0] END) AS bkt
       |  FROM bb),
       |n AS MATERIALIZED (
       |  SELECT a.cell, a.bkt, e.vec_id, e.v, sqrt(${sqlDot("e.v", "e.v")}) AS nrm
       |  FROM e JOIN asg2 a ON e.vec_id = a.vec_id)""".stripMargin
  }
  // `n` is MATERIALIZED: every consumer self-joins it (a and b sides), and
  // DuckDB 1.0 inlines plain CTEs per reference — the whole centroid/
  // assignment/sub-bucket chain would otherwise run twice per query.

  /** [[sqlCosBlockCtes]] extended with the recursive component flood:
    * `cc` maps every vec_id in a near-dup pair to its cluster id (min
    * member). Requires WITH RECURSIVE. Shared by the q_semantic_dedup and
    * CorpusOps curation-funnel oracles. */
  private[operators] lazy val sqlSemDedupCtes =
    s"""$sqlCosBlockCtes,
       |vp AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM n a JOIN n b ON a.cell = b.cell AND a.bkt = b.bkt AND a.vec_id < b.vec_id
       |  WHERE ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) >= $COS_T),
       |ed AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |       UNION ALL SELECT doc_b, doc_a FROM vp),
       |reach AS (
       |  SELECT src AS doc_id, src AS lbl FROM ed
       |  UNION
       |  SELECT e2.dst AS doc_id, r.lbl AS lbl
       |  FROM reach r JOIN ed e2 ON e2.src = r.doc_id AND r.lbl < e2.dst),
       |cc AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id)""".stripMargin
  // The flood's `r.lbl < e2.dst` gate prunes labels that can never be a
  // node's component min (every stored pair keeps lbl ≤ doc_id; the true
  // component minimum passes every gate, so min(lbl) per node is
  // unchanged — verified identical at sf1, 3.5× fewer flood rows).

  private def sqlDist2(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> ($a[i]-$b[i])*($a[i]-$b[i])))"

  /** Dot product as DuckDB's native `list_inner_product` — bit-identical
    * to the `list_sum(list_transform(...))` HOF fold (both accumulate
    * doubles left-to-right; verified 0 mismatches over all 124,750 sf0.01
    * embedding pairs) and ~4× faster on pair-join hot paths, which is what
    * brought the q_hard_negatives / q_semantic_dedup / q_curation_funnel
    * mirrors inside the sf1 sweep's 300 s oracle budget. */
  private def sqlDot(a: String, b: String): String =
    s"list_inner_product($a, $b)"

  /** SQL twin of [[cosSim]]. */
  private def sqlCos(a: String, b: String): String =
    s"${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))"

  /** Unrolled Lloyd's-iteration CTE chain for the q_kmeans oracle:
    * e, c0, (a1, c1) … (aN, cN), final assignment aF against cN. */
  private def sqlKmeansCtes: String = {
    def assignCte(name: String, centSrc: String) =
      s"""$name AS (
         |  SELECT vec_id, v, cid, dist FROM (
         |    SELECT vec_id, v, cid, dist,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         |    FROM (SELECT e.vec_id, e.v, c.cid, ${sqlDist2("e.v", "c.cv")} AS dist
         |          FROM e CROSS JOIN $centSrc c))
         |  WHERE rk = 1)""".stripMargin
    def centCte(name: String, assignSrc: String) =
      s"""$name AS (
         |  SELECT cid, list(cm ORDER BY pos) AS cv FROM (
         |    SELECT cid, pos,
         |      CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS cm
         |    FROM (SELECT cid, i-1 AS pos, v[i] AS x
         |          FROM $assignSrc, unnest(range(1, len(v)+1)) AS t(i))
         |    GROUP BY 1, 2)
         |  GROUP BY cid)""".stripMargin
    val iters = (1 to KM_ITERS).flatMap { k =>
      Seq(assignCte(s"a$k", if (k == 1) "c0" else s"c${k - 1}"), centCte(s"c$k", s"a$k"))
    }
    (Seq(
      s"e AS ($sqlVecs)",
      s"c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $KM_K)") ++
      iters :+ assignCte("af", s"c$KM_ITERS")).mkString(",\n")
  }

  private def sqlKmeans: String =
    s"""WITH $sqlKmeansCtes
       |SELECT cid AS cluster, count(*) AS n_vecs,
       |  ${Fns.roundPSql("CAST(sum(CAST(dist AS DECIMAL(28,12))) AS DOUBLE)", 4)} AS inertia
       |FROM af GROUP BY 1 ORDER BY cluster""".stripMargin

  /** Twin of [[qSilhouette]]: same Lloyd chain; b = min distance to a
    * non-own centroid (value-equal to the gate's cid2 re-derivation). */
  private def sqlSilhouette: String =
    s"""WITH $sqlKmeansCtes,
       |ds AS (SELECT a.vec_id, a.cid, a.dist,
       |    min(CASE WHEN c.cid <> a.cid THEN ${sqlDist2("a.v", "c.cv")} END) AS d2nd
       |  FROM af a CROSS JOIN c$KM_ITERS c GROUP BY 1, 2, 3),
       |sl AS (SELECT cid, sqrt(dist) AS a, sqrt(d2nd) AS b FROM ds),
       |s2 AS (SELECT cid, CASE WHEN greatest(a, b) = 0.0::DOUBLE THEN 0.0::DOUBLE
       |    ELSE (b - a) / greatest(a, b) END AS sil FROM sl)
       |SELECT cid AS cluster, count(*) AS n_vecs,
       |  ${Fns.roundPSql("CAST(sum(CAST(sil AS DECIMAL(28,18))) AS DOUBLE) / count(*)", 6)} AS mean_sil
       |FROM s2 GROUP BY 1 ORDER BY cluster""".stripMargin

  /** Twin of [[qDaviesBouldin]]: same Lloyd chain, same K-row algebra. */
  private def sqlDaviesBouldin: String =
    s"""WITH $sqlKmeansCtes,
       |sc AS (SELECT cid, count(*) AS n_vecs,
       |    CAST(sum(CAST(sqrt(dist) AS DECIMAL(28,18))) AS DOUBLE) / count(*) AS s_i
       |  FROM af GROUP BY 1),
       |pr AS (SELECT i.cid AS i, j.cid AS j, sqrt(${sqlDist2("i.cv", "j.cv")}) AS m_ij
       |  FROM c$KM_ITERS i JOIN c$KM_ITERS j ON i.cid <> j.cid),
       |r AS (SELECT pr.i, max((si.s_i + sj.s_i) / pr.m_ij) AS r_i
       |  FROM pr JOIN sc si ON pr.i = si.cid JOIN sc sj ON pr.j = sj.cid
       |  GROUP BY 1)
       |SELECT sc.cid AS cluster, sc.n_vecs,
       |  ${Fns.roundPSql("sc.s_i", 6)} AS scatter,
       |  ${Fns.roundPSql("r.r_i", 6)} AS r_i
       |FROM sc JOIN r ON sc.cid = r.i ORDER BY cluster""".stripMargin

  /** Unrolled greedy-MMR twin: pool CTE (same shape as the q_knn_cosine
    * oracle + LIMIT), then [[MMR_K]] rounds of argmax-then-penalize. The
    * weight literals interpolate from the SAME Scala constants the gate
    * uses, so both engines parse the identical decimal string. */
  private val sqlMmr: String = {
    def round(k: Int): String = {
      val prev = s"b${k - 1}"
      s"""s$k AS (SELECT vec_id, v, rel, sc FROM (
         |    SELECT vec_id, v, rel,
         |      $MMR_LAMBDA::DOUBLE * rel - $MMR_MU::DOUBLE * COALESCE(bs, 0.0::DOUBLE) AS sc
         |    FROM $prev)
         |  ORDER BY sc DESC, vec_id LIMIT 1),
         |b$k AS (SELECT b.vec_id, b.v, b.rel,
         |  CASE WHEN b.bs IS NULL THEN ${sqlCos("b.v", "s.v")}
         |       ELSE greatest(b.bs, ${sqlCos("b.v", "s.v")}) END AS bs
         |  FROM $prev b, s$k s WHERE b.vec_id <> s.vec_id)""".stripMargin
    }
    val rounds = (1 to MMR_K).map(round).mkString(",\n")
    val unions = (1 to MMR_K)
      .map(k => s"SELECT $k AS step, vec_id, rel, sc FROM s$k")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS ($sqlVecs), p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID),
       |pool AS (SELECT vec_id, v, rel FROM (
       |    SELECT e.vec_id, e.v, ${sqlCos("e.v", "p.pv")} AS rel FROM e, p
       |    WHERE e.vec_id <> $PROBE_ID)
       |  ORDER BY rel DESC, vec_id LIMIT $MMR_POOL),
       |b0 AS (SELECT vec_id, v, rel, CAST(NULL AS DOUBLE) AS bs FROM pool),
       |$rounds
       |SELECT step, vec_id,
       |  ${Fns.roundPSql("rel", 6)} AS rel,
       |  ${Fns.roundPSql("sc", 6)} AS mmr
       |FROM ($unions) ORDER BY step""".stripMargin
  }

  /** Twin of [[qPcaPower]]: exact-decimal covariance CTEs (the Spark
    * pass), then [[PCA_ITERS]] unrolled matvec rounds over the D-row
    * `rw` CTE. Matvec and norm folds ride list_sum over j- (resp. i-)
    * ordered lists — the driver loop's fold order.
    *
    * MATERIALIZED is load-bearing: DuckDB inlines CTEs, and each round
    * references its predecessor more than once, so un-hinted expansion is
    * 2^ITERS re-evaluations of the chain — measured as "Too many open
    * files" at ITERS=12 before the hints. Materializing rw/y_k/x_k makes
    * the chain linear, which is also what the driver loop executes. */
  private val sqlPcaCtes: String = {
    def round(k: Int): String =
      s"""y$k AS MATERIALIZED (SELECT r.i, list_sum(list_transform(range(1, len(r.rw)+1),
         |    j -> r.rw[j] * x.xl[j])) AS yi FROM rws r, x${k - 1} x),
         |n$k AS (SELECT sqrt(list_sum(list_transform(yl, z -> z * z))) AS nrm
         |  FROM (SELECT list(yi ORDER BY i) AS yl FROM y$k)),
         |x$k AS MATERIALIZED (SELECT list_transform(yy.yl, z -> z / n$k.nrm) AS xl
         |  FROM (SELECT list(yi ORDER BY i) AS yl FROM y$k) yy, n$k)""".stripMargin
    val rounds = (1 to PCA_ITERS).map(round).mkString(",\n")
    s"""e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM e),
       |dd AS (SELECT len(v) AS d FROM e LIMIT 1),
       |msum AS (SELECT t.i, CAST(sum(CAST(v[t.i] AS DECIMAL(18,12))) AS DOUBLE) AS sx
       |  FROM e, unnest(range(1, len(v)+1)) AS t(i) GROUP BY t.i),
       |mm AS (SELECT i, sx / (SELECT n FROM nn) AS mi FROM msum),
       |ml AS (SELECT list(mi ORDER BY i) AS ml FROM mm),
       |px AS (SELECT v, unnest(range(1, len(v)+1)) AS i FROM e),
       |py AS (SELECT v, i, unnest(range(i, len(v)+1)) AS j FROM px),
       |pu AS (SELECT i, j, CAST(sum(CAST(v[i] * v[j] AS DECIMAL(18,12))) AS DOUBLE) AS sxy
       |  FROM py GROUP BY 1, 2),
       |cu AS (SELECT pu.i, pu.j, pu.sxy / nn.n - a.mi * b.mi AS c
       |  FROM pu, nn JOIN mm a ON a.i = pu.i JOIN mm b ON b.i = pu.j),
       |cf AS (SELECT i, j, c FROM cu UNION ALL SELECT j AS i, i AS j, c FROM cu WHERE i <> j),
       |rws AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS rw FROM cf GROUP BY i),
       |x0 AS (SELECT list_transform(range(1, d + 1),
       |    z -> 1.0::DOUBLE / sqrt(CAST(d AS DOUBLE))) AS xl FROM dd),
       |$rounds,
       |tr AS (SELECT list_sum(dg) AS t
       |  FROM (SELECT list(c ORDER BY i) AS dg FROM cf WHERE i = j))""".stripMargin
  }

  private val sqlPca: String =
    s"""WITH $sqlPcaCtes
       |SELECT CAST(t.i AS INTEGER) AS pos,
       |  ${Fns.roundPSql("x.xl[t.i]", 6)} AS loading,
       |  ${Fns.roundPSql(s"n$PCA_ITERS.nrm", 6)} AS eigval,
       |  ${Fns.roundPSql(s"n$PCA_ITERS.nrm / tr.t", 6)} AS expl_var
       |FROM x$PCA_ITERS x, unnest(range(1, len(x.xl)+1)) AS t(i), n$PCA_ITERS, tr
       |ORDER BY pos""".stripMargin

  /** Twin of [[qPcaScores]]: same trained-component chain, then one
    * centered-dot projection per row and an O(labels) moment agg. */
  private val sqlPcaScores: String =
    s"""WITH $sqlPcaCtes,
       |cl AS (SELECT e2.label, list_transform(range(1, len(e2.v)+1),
       |    i -> e2.v[i] - ml.ml[i]) AS cv
       |  FROM (SELECT embedding::DOUBLE[] AS v, label FROM embeddings) e2, ml),
       |sj AS (SELECT label, list_sum(list_transform(range(1, len(cv)+1),
       |    j -> cv[j] * x.xl[j])) AS sc FROM cl, x$PCA_ITERS x),
       |ag AS (SELECT label, count(*) AS n,
       |    CAST(sum(CAST(sc AS DECIMAL(28,18))) AS DOUBLE) / count(*) AS mean_raw,
       |    CAST(sum(CAST(sc * sc AS DECIMAL(28,18))) AS DOUBLE) / count(*) AS m2
       |  FROM sj GROUP BY 1)
       |SELECT label, n,
       |  ${Fns.roundPSql("mean_raw", 6)} AS mean_pc1,
       |  ${Fns.roundPSql("sqrt(greatest(m2 - mean_raw * mean_raw, 0.0::DOUBLE))", 6)} AS sd_pc1
       |FROM ag ORDER BY label""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q_pca_power", qPcaPower, sqlPca),
    Gate("q_pca_scores", qPcaScores, sqlPcaScores),
    Gate("q_mmr_select", qMmrSelect, sqlMmr),
    // covariance: index table from unnest(range(max len)) so the dim is
    // data-derived (no hardcoded D to go stale on regeneration)
    Gate("q_embed_cov", qEmbedCov, {
      val D = (n: String) => s"CAST($n AS DOUBLE)"
      s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
         |nn AS (SELECT count(*) AS n FROM e),
         |idx AS (
         |  SELECT unnest(range(1, (SELECT max(len(v)) FROM e) + 1)) AS i),
         |ds AS (
         |  SELECT t.i, sum(CAST(e.v[t.i] AS DECIMAL(28,12))) AS sx
         |  FROM e, idx t GROUP BY 1),
         |ps AS (
         |  SELECT ti.i AS i, tj.i AS j,
         |    sum(CAST(e.v[ti.i] * e.v[tj.i] AS DECIMAL(28,12))) AS sxy
         |  FROM e, idx ti, idx tj
         |  WHERE tj.i > ti.i GROUP BY 1, 2)
         |SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
         |  ${Fns.roundPSql(
             s"${D("p.sxy")} / ${D("nn.n")} - " +
               s"(${D("a.sx")} / ${D("nn.n")}) * (${D("b.sx")} / ${D("nn.n")})",
             8)} AS cov
         |FROM ps p
         |JOIN ds a ON a.i = p.i
         |JOIN ds b ON b.i = p.j, nn
         |ORDER BY abs(${Fns.roundPSql(
             s"${D("p.sxy")} / ${D("nn.n")} - " +
               s"(${D("a.sx")} / ${D("nn.n")}) * (${D("b.sx")} / ${D("nn.n")})",
             8)}) DESC, i, j
         |LIMIT $EC_TOPK""".stripMargin
    }),
    Gate("q_hybrid_search", qHybridSearch,
      s"""WITH tk AS (SELECT doc_id, list_distinct(${TextOps.sqlTokensLower}) AS tk FROM documents),
         |q AS (SELECT tk AS qtk FROM tk WHERE doc_id = $PROBE_ID),
         |e AS ($sqlVecs), p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID),
         |sc AS (
         |  SELECT t.doc_id,
         |    CAST(len(list_filter(t.tk, x -> list_contains(q.qtk, x))) AS DOUBLE) AS inter,
         |    CAST(len(t.tk) + len(q.qtk) AS DOUBLE) AS tot,
         |    ${sqlCos("e.v", "p.pv")} AS cos
         |  FROM tk t JOIN e ON t.doc_id = e.vec_id, q, p
         |  WHERE t.doc_id <> $PROBE_ID),
         |h AS (SELECT doc_id, inter / (tot - inter) AS lex, cos,
         |      ${Fns.roundPSql(
             s"$HYBRID_ALPHA::DOUBLE * cos + ${1.0 - HYBRID_ALPHA}::DOUBLE * (inter / (tot - inter))", 6)} AS hybrid
         |      FROM sc)
         |SELECT doc_id, ${Fns.roundPSql("lex", 6)} AS lex_sim,
         |  ${Fns.roundPSql("cos", 6)} AS cos_sim, hybrid
         |FROM h ORDER BY hybrid DESC, doc_id LIMIT $TOPK""".stripMargin),
    Gate("q_semantic_search", qSemanticSearch,
      s"""WITH e AS ($sqlVecs), p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID),
         |nn AS (
         |  SELECT b.vec_id,
         |    ${Fns.roundPSql(
             s"${sqlCos("b.v", "p.pv")}", 6)} AS cos_sim
         |  FROM e b, p WHERE b.vec_id <> $PROBE_ID
         |  ORDER BY cos_sim DESC, vec_id LIMIT $SEM_K)
         |SELECT d.doc_id, d.source, d.lang, d.n_chars, nn.cos_sim
         |FROM documents d JOIN nn ON d.doc_id = nn.vec_id
         |ORDER BY nn.cos_sim DESC, d.doc_id""".stripMargin),
    Gate("q_kmeans", qKmeans, sqlKmeans),
    Gate("q_lof", qLof, {
      def knn(src: String, qs: String, dName: String, kName: String) =
        s"""$dName AS (
           |  SELECT p.qid, b.vec_id, ${sqlDist2("b.v", "p.qv")} AS d2
           |  FROM $src b CROSS JOIN $qs p WHERE b.vec_id <> p.qid),
           |$kName AS (
           |  SELECT qid, vec_id, d2, sqrt(d2) AS dist FROM (
           |    SELECT qid, vec_id, d2,
           |      row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn
           |    FROM $dName) WHERE rn <= $LOF_K)""".stripMargin
      def lrd(knnN: String, kdN: String, outN: String) =
        s"""${outN}0 AS (
           |  SELECT k.qid,
           |    CAST(sum(CAST(greatest(d.kdist, k.dist) AS DECIMAL(28,18))) AS DOUBLE) AS sr
           |  FROM $knnN k JOIN $kdN d ON k.vec_id = d.qid GROUP BY k.qid),
           |$outN AS (SELECT qid,
           |    CASE WHEN sr > 0 THEN $LOF_K.0::DOUBLE / sr END AS lrd
           |  FROM ${outN}0)""".stripMargin
      s"""WITH e AS ($sqlVecs),
         |pr AS (SELECT vec_id AS qid, v AS qv FROM e
         |  WHERE vec_id % $KJ_MOD = 0 ORDER BY vec_id LIMIT $LOF_P),
         |${knn("e", "pr", "kpd", "knnp")},
         |mq AS (SELECT e.vec_id AS qid, e.v AS qv FROM e
         |  JOIN (SELECT DISTINCT vec_id FROM knnp) m ON e.vec_id = m.vec_id),
         |${knn("e", "mq", "kmd", "knnm")},
         |kdm AS (SELECT qid, max(dist) AS kdist FROM knnm GROUP BY qid),
         |m2q AS (SELECT e.vec_id AS qid, e.v AS qv FROM e
         |  JOIN (SELECT DISTINCT vec_id FROM knnm) m ON e.vec_id = m.vec_id),
         |${knn("e", "m2q", "k2d", "knn2")},
         |kd2 AS (SELECT qid, max(dist) AS kdist FROM knn2 GROUP BY qid),
         |${lrd("knnm", "kd2", "lrdm")},
         |${lrd("knnp", "kdm", "lrdp")},
         |ml AS (
         |  SELECT k.qid,
         |    CAST(sum(CAST(l.lrd AS DECIMAL(28,18))) AS DOUBLE) / $LOF_K.0::DOUBLE AS mlrd
         |  FROM knnp k JOIN lrdm l ON k.vec_id = l.qid GROUP BY k.qid)
         |SELECT ml.qid AS vec_id,
         |  ${Fns.roundPSql("p.lrd", 6)} AS lrd,
         |  ${Fns.roundPSql("ml.mlrd / p.lrd", 6)} AS lof
         |FROM ml JOIN lrdp p ON ml.qid = p.qid ORDER BY vec_id""".stripMargin
    }),
    Gate("q_silhouette", qSilhouette, sqlSilhouette),
    Gate("q_davies_bouldin", qDaviesBouldin, sqlDaviesBouldin),
    Gate("q_mmd_drift", qMmdDrift, {
      def k(p: String, q: String) =
        s"exp(-$MMD_GAMMA * ${sqlDist2(p, q)})"
      s"""WITH e AS ($sqlVecs),
         |m AS (
         |  SELECT vec_id,
         |    CAST('0x' || substr(md5('snap_' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS snap,
         |    vec_id // 4 AS g
         |  FROM e),
         |q AS (
         |  SELECT g,
         |    min(CASE WHEN snap = 0 THEN vec_id END) AS a1i,
         |    max(CASE WHEN snap = 0 THEN vec_id END) AS a2i,
         |    min(CASE WHEN snap = 1 THEN vec_id END) AS b1i,
         |    max(CASE WHEN snap = 1 THEN vec_id END) AS b2i
         |  FROM m GROUP BY 1
         |  HAVING sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) = 2
         |     AND sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) = 2),
         |j AS (
         |  SELECT ea1.v AS a1, ea2.v AS a2, eb1.v AS b1, eb2.v AS b2
         |  FROM q JOIN e ea1 ON ea1.vec_id = q.a1i
         |         JOIN e ea2 ON ea2.vec_id = q.a2i
         |         JOIN e eb1 ON eb1.vec_id = q.b1i
         |         JOIN e eb2 ON eb2.vec_id = q.b2i),
         |h AS (
         |  SELECT CAST(${k("a1", "a2")} + ${k("b1", "b2")}
         |    - ${k("a1", "b2")} - ${k("a2", "b1")} AS DECIMAL(28,18)) AS h
         |  FROM j)
         |SELECT count(*) AS n_quads,
         |  ${Fns.roundPSql("CAST(sum(h) AS DOUBLE) / count(*)", 6)} AS mmd2
         |FROM h""".stripMargin
    }),
    // Gonzalez picks as MATERIALIZED 1-row CTEs: step k cross-joins e to
    // every previous pick (the chain is referenced multiply — plain CTEs
    // would re-expand it per reference, the q_bradley_terry trap)
    Gate("q_kcenter", qKcenter, {
      def distTo(i: Int) = sqlDist2("e.v", s"p$i.v")
      val steps = (1 until KC_K).map { k =>
        val dm = if (k == 1) distTo(0)
                 else s"least(${(0 until k).map(distTo).mkString(",\n      ")})"
        val froms = (0 until k).map(i => s"p$i").mkString(", ")
        s"""p$k AS MATERIALIZED (
           |  SELECT e.vec_id, e.v, $dm AS dm
           |  FROM e, $froms
           |  ORDER BY dm DESC, e.vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val rows = (1 until KC_K).map(k =>
        s"SELECT $k AS step, vec_id, ${Fns.roundPSql("dm", 6)} AS r2 FROM p$k")
        .mkString(" UNION ALL ")
      s"""WITH e AS ($sqlVecs),
         |p0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
         |$steps
         |SELECT CAST(step AS INT) AS step, vec_id, r2 FROM (
         |  SELECT 0 AS step, vec_id, 0.0::DOUBLE AS r2 FROM p0
         |  UNION ALL $rows)
         |ORDER BY step""".stripMargin
    }),
    Gate("q_topic_terms", qTopicTerms,
      s"""WITH $sqlKmeansCtes,
         |asg AS (SELECT vec_id AS doc_id, cid AS cluster FROM af),
         |toks AS (SELECT a.cluster, unnest(${TextOps.sqlTokensLower}) AS term
         |  FROM documents d JOIN asg a ON d.doc_id = a.doc_id),
         |ctf AS (SELECT cluster, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |ft AS (SELECT term, sum(tf) AS ft FROM ctf GROUP BY 1),
         |tot AS (SELECT sum(tf) AS tot_tok, count(DISTINCT cluster) AS ncl FROM ctf),
         |sc AS (SELECT c.cluster, c.term, c.tf,
         |    ${Fns.roundPSql(
               "c.tf * ln(1.0::DOUBLE + (CAST(t.tot_tok AS DOUBLE) / t.ncl) / f.ft)", 6)} AS ctfidf
         |  FROM ctf c JOIN ft f ON f.term = c.term, tot t),
         |rk AS (SELECT *, row_number() OVER (
         |    PARTITION BY cluster ORDER BY ctfidf DESC, term) AS rn FROM sc)
         |SELECT cluster, term, tf, ctfidf FROM rk WHERE rn <= $TT_TOP
         |ORDER BY cluster, ctfidf DESC, term""".stripMargin),
    Gate("q_knn_join", qKnnJoin,
      s"""WITH e AS ($sqlVecs),
         |p AS (SELECT vec_id AS query_id, v AS pv FROM e WHERE vec_id % $KJ_MOD = 0),
         |dists AS (
         |  SELECT p.query_id, e.vec_id,
         |    ${Fns.roundPSql(sqlDist2("e.v", "p.pv"), 6)} AS dist2
         |  FROM e, p WHERE e.vec_id <> p.query_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist2, vec_id) AS rn
         |  FROM dists)
         |SELECT query_id, vec_id, dist2, CAST(rn AS INT) AS rn
         |FROM r WHERE rn <= $TOPK ORDER BY query_id, rn""".stripMargin),
    Gate("q_knn", qKnn,
      s"""WITH e AS ($sqlVecs), p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID)
         |SELECT b.vec_id, ${Fns.roundPSql(sqlDist2("b.v", "p.pv"), 6)} AS dist2
         |FROM e b, p WHERE b.vec_id <> $PROBE_ID
         |ORDER BY dist2, vec_id LIMIT $TOPK""".stripMargin),
    Gate("q_retrieval_eval", qRetrievalEval, {
      val (gains, idcg, rrs) = (NDCG_GAINS, NDCG_IDCG, NDCG_RRS)
      // the metric constants embed as the SAME double literals the Spark
      // plan bakes in (shortest-repr round-trip) — no runtime log2
      val gArr = s"[${gains.map(_.toString).mkString(", ")}]"
      val iArr = s"[${idcg.map(_.toString).mkString(", ")}]"
      val rArr = s"[${rrs.map(_.toString).mkString(", ")}]"
      s"""WITH e AS ($sqlVecs),
         |p AS (SELECT vec_id AS query_id, v AS pv, label AS qlabel FROM e
         |  WHERE vec_id % $KJ_MOD = 0 ORDER BY query_id LIMIT $AR_QUERIES),
         |lc AS (SELECT label AS qlabel, count(*) AS lcnt FROM e GROUP BY 1),
         |dists AS (
         |  SELECT p.query_id, p.qlabel, e.vec_id, e.label,
         |    ${Fns.roundPSql(sqlDist2("e.v", "p.pv"), 6)} AS dist2
         |  FROM e, p WHERE e.vec_id <> p.query_id),
         |topk AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY dist2, vec_id) AS rn FROM dists)
         |  WHERE rn <= $NDCG_K),
         |per AS (
         |  SELECT query_id,
         |    CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_top,
         |    CAST(sum(CASE WHEN label = qlabel
         |        THEN CAST(($gArr)[rn] AS DECIMAL(28,18)) END) AS DOUBLE) AS dcg,
         |    max(CASE WHEN label = qlabel THEN ($rArr)[rn] END) AS rr
         |  FROM topk GROUP BY 1)
         |SELECT p.query_id,
         |  CAST(lc.lcnt - 1 AS BIGINT) AS n_rel,
         |  CAST(coalesce(per.n_rel_top, 0) AS BIGINT) AS n_rel_top,
         |  CASE WHEN lc.lcnt > 1 THEN ${Fns.roundPSql(
             s"coalesce(per.dcg, 0) / ($iArr)[CAST(least(lc.lcnt - 1, $NDCG_K) AS INTEGER)]", 4)}
         |    ELSE 0.0 END AS ndcg,
         |  ${Fns.roundPSql("coalesce(per.rr, 0)", 4)} AS mrr_at_k
         |FROM p JOIN lc USING (qlabel) LEFT JOIN per USING (query_id)
         |ORDER BY p.query_id""".stripMargin
    }),
    Gate("q_ann_recall", qAnnRecall,
      s"""WITH e AS ($sqlVecs),
         |p AS (SELECT vec_id AS query_id, v AS pv FROM e
         |  WHERE vec_id % $KJ_MOD = 0 ORDER BY query_id LIMIT $AR_QUERIES),
         |dists AS (
         |  SELECT p.query_id, e.vec_id,
         |    ${Fns.roundPSql(sqlDist2("e.v", "p.pv"), 6)} AS dist2
         |  FROM e, p WHERE e.vec_id <> p.query_id),
         |ex AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY dist2, vec_id) AS rn FROM dists)
         |  WHERE rn <= $TOPK),
         |long AS (SELECT label, i-1 AS pos, v[i] AS x FROM e, unnest(range(1, len(v)+1)) AS t(i)),
         |cent AS (SELECT label, pos,
         |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
         |  FROM long GROUP BY label, pos),
         |pl AS (SELECT query_id, i-1 AS pos, pv[i] AS px
         |  FROM p, unnest(range(1, len(pv)+1)) AS t(i)),
         |qd AS (SELECT pl.query_id, cent.label,
         |    CAST(sum(CAST((cent.c - pl.px) * (cent.c - pl.px) AS DECIMAL(28,14))) AS DOUBLE) AS cd
         |  FROM cent JOIN pl ON cent.pos = pl.pos GROUP BY 1, 2),
         |qc AS (SELECT query_id, label FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cd, label) AS rn FROM qd)
         |  WHERE rn <= $NPROBE),
         |annd AS (
         |  SELECT qc.query_id, e.vec_id,
         |    ${Fns.roundPSql(sqlDist2("e.v", "p.pv"), 6)} AS dist2
         |  FROM e JOIN qc ON e.label = qc.label
         |  JOIN p ON p.query_id = qc.query_id
         |  WHERE e.vec_id <> qc.query_id),
         |ann AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY dist2, vec_id) AS rn FROM annd)
         |  WHERE rn <= $TOPK)
         |SELECT ex.query_id,
         |  CAST(sum(CASE WHEN ann.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  ${Fns.roundPSql(
             "CAST(sum(CASE WHEN ann.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)} AS recall
         |FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id AND ex.vec_id = ann.vec_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin),
    Gate("q_ann_recall_kmeans", qAnnRecallKmeans,
      s"""WITH $sqlKmeansCtes,
         |p AS (SELECT vec_id AS query_id, v AS pv FROM e
         |  WHERE vec_id % $KJ_MOD = 0 ORDER BY query_id LIMIT $AR_QUERIES),
         |dists AS (
         |  SELECT p.query_id, e.vec_id,
         |    ${Fns.roundPSql(sqlDist2("e.v", "p.pv"), 6)} AS dist2
         |  FROM e, p WHERE e.vec_id <> p.query_id),
         |ex AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY dist2, vec_id) AS rn FROM dists)
         |  WHERE rn <= $TOPK),
         |qd AS (SELECT p.query_id, c.cid, ${sqlDist2("p.pv", "c.cv")} AS cd
         |  FROM p CROSS JOIN c$KM_ITERS c),
         |qc AS (SELECT query_id, cid FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cd, cid) AS rn FROM qd)
         |  WHERE rn <= $NPROBE),
         |annd AS (
         |  SELECT qc.query_id, a.vec_id,
         |    ${Fns.roundPSql(sqlDist2("a.v", "p.pv"), 6)} AS dist2
         |  FROM af a JOIN qc ON a.cid = qc.cid
         |  JOIN p ON p.query_id = qc.query_id
         |  WHERE a.vec_id <> qc.query_id),
         |ann AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY dist2, vec_id) AS rn FROM annd)
         |  WHERE rn <= $TOPK)
         |SELECT ex.query_id,
         |  CAST(sum(CASE WHEN ann.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  ${Fns.roundPSql(
             "CAST(sum(CASE WHEN ann.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)} AS recall
         |FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id AND ex.vec_id = ann.vec_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin),
    Gate("q_random_projection", qRandomProjection, {
      def sgn(j: Int) =
        s"""list_sum(list_transform(range(1, ${DIM + 1}), i ->
           |    v[i] * (CASE WHEN CAST('0x' || substr(md5('rp_' || CAST(i + $j * $DIM AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
           |      THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)))""".stripMargin
      val pcols = (1 to RP_DIMS).map(j => s"  ${sgn(j)} AS praw$j").mkString(",\n")
      val sq = (1 to RP_DIMS).map(j => s"praw$j * praw$j").mkString(" + ")
      s"""WITH e AS ($sqlVecs),
         |pr AS (
         |  SELECT vec_id,
         |$pcols,
         |  list_sum(list_transform(range(1, ${DIM + 1}), i -> v[i] * v[i])) AS nv
         |  FROM e),
         |j AS (SELECT *, $sq AS sqsum FROM pr)
         |SELECT vec_id,
         |${(1 to RP_DIMS).map(j => s"  ${Fns.roundPSql(s"praw$j", 6)} AS p$j").mkString(",\n")},
         |  ${Fns.roundPSql(s"sqsum / $RP_DIMS / nv", 4)} AS jl_ratio
         |FROM j ORDER BY vec_id""".stripMargin
    }),
    Gate("q_embed_quantize", qEmbedQuantize,
      s"""WITH e AS ($sqlVecs),
         |sc AS (SELECT vec_id, v,
         |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         |q AS (SELECT vec_id, v, scale,
         |  CASE WHEN scale > 0
         |    THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
         |    ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qc
         |  FROM sc)
         |SELECT vec_id, ${Fns.roundPSql("scale", 8)} AS scale,
         |  CAST(list_sum(qc) AS BIGINT) AS code_sum,
         |  ${Fns.roundPSql(
             "list_max(list_transform(range(1, len(v)+1), i -> abs(v[i] - CAST(qc[i] AS DOUBLE) * scale)))", 8)} AS max_err
         |FROM q ORDER BY vec_id""".stripMargin),
    // Two-stage HNSW must agree with brute force after exact re-rank —
    // the oracle IS the brute top-k.
    Gate("q_ann_hnsw2", qAnnHnsw2,
      s"""WITH e AS ($sqlVecs), p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID)
         |SELECT b.vec_id, ${Fns.roundPSql(sqlDist2("b.v", "p.pv"), 6)} AS dist2
         |FROM e b, p WHERE b.vec_id <> $PROBE_ID
         |ORDER BY dist2, vec_id LIMIT $TOPK""".stripMargin),
    Gate("q_knn_cosine", qKnnCosine,
      s"""WITH e AS ($sqlVecs), p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID)
         |SELECT b.vec_id,
         |  ${Fns.roundPSql(
             s"${sqlCos("b.v", "p.pv")}", 6)} AS cos_sim
         |FROM e b, p WHERE b.vec_id <> $PROBE_ID
         |ORDER BY cos_sim DESC, vec_id LIMIT $TOPK""".stripMargin),
    Gate("q_near", qNear,
      s"""WITH e AS ($sqlVecs), p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID)
         |SELECT b.vec_id, ${Fns.roundPSql(sqlDist2("b.v", "p.pv"), 6)} AS dist2
         |FROM e b, p WHERE b.vec_id <> $PROBE_ID AND ${sqlDist2("b.v", "p.pv")} < $RADIUS2
         |ORDER BY vec_id""".stripMargin),
    Gate("q_ann_ivf", qAnnIvf,
      s"""WITH e AS ($sqlVecs),
         |long AS (SELECT label, i-1 AS pos, v[i] AS x FROM e, unnest(range(1, len(v)+1)) AS t(i)),
         |cent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
         |  FROM long GROUP BY label, pos),
         |pd AS (SELECT i-1 AS pos, v[i] AS px FROM e, unnest(range(1, len(v)+1)) AS t(i) WHERE vec_id = $PROBE_ID),
         |cells AS (
         |  SELECT cent.label,
         |    CAST(sum(CAST((c - px) * (c - px) AS DECIMAL(28,14))) AS DOUBLE) AS cd
         |  FROM cent JOIN pd ON cent.pos = pd.pos
         |  GROUP BY cent.label ORDER BY cd, label LIMIT $NPROBE),
         |p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID)
         |SELECT b.vec_id, ${Fns.roundPSql(sqlDist2("b.v", "p.pv"), 6)} AS dist2
         |FROM e b JOIN cells ON b.label = cells.label, p
         |WHERE b.vec_id <> $PROBE_ID
         |ORDER BY dist2, vec_id LIMIT $TOPK""".stripMargin),
    Gate("q_ann_lsh", qAnnLsh, {
      def planeComp(h: Int): String =
        s"CAST('0x' || substr(md5('lshp_${h}_' || CAST(i-1 AS VARCHAR)), 1, 8) AS BIGINT)" +
          " / 4294967296.0::DOUBLE - 0.5"
      val bucketExpr = (0 until LSH_BITS).map { h =>
        s"""CASE WHEN list_sum(list_transform(range(1, len(v)+1),
           |    i -> v[i] * (${planeComp(h)}))) >= 0 THEN ${1L << h} ELSE 0 END""".stripMargin
      }.mkString("\n  + ")
      val flips = (0L +: (0 until LSH_BITS).map(h => 1L << h)).mkString(", ")
      s"""WITH e AS ($sqlVecs),
         |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
         |probes AS (
         |  SELECT DISTINCT xor(bucket, f) AS bucket
         |  FROM b, unnest([$flips]) AS t(f) WHERE vec_id = $PROBE_ID),
         |p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID)
         |SELECT c.vec_id, ${Fns.roundPSql(sqlDist2("c.v", "p.pv"), 6)} AS dist2
         |FROM b c JOIN probes USING (bucket), p
         |WHERE c.vec_id <> $PROBE_ID
         |ORDER BY dist2, vec_id LIMIT $TOPK""".stripMargin
    }),
    // the pair cosine is symmetric bit-exactly (per-element products and
    // the final nrm*nrm multiply commute in IEEE doubles), so compute it
    // ONCE per undirected pair in a MATERIALIZED CTE and emit both
    // directions — halves the dominant pair-join cost (the rewrite that,
    // with the native sqlDot, brought this mirror inside the sf1 budget)
    Gate("q_hard_negatives", qHardNegatives,
      s"""WITH $sqlCosBlockCtes,
         |up AS MATERIALIZED (
         |  SELECT DISTINCT a.vec_id AS x, b.vec_id AS y,
         |    ${Fns.roundPSql(s"${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm)", 6)} AS cs
         |  FROM n a JOIN n b ON a.cell = b.cell AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
         |dp AS (SELECT x AS anchor, y AS negative, cs FROM up
         |       UNION ALL SELECT y, x, cs FROM up),
         |hp AS (
         |  SELECT dp.anchor, dp.negative, eb.label AS neg_label, dp.cs AS cos_sim
         |  FROM dp JOIN e ea ON ea.vec_id = dp.anchor
         |  JOIN e eb ON eb.vec_id = dp.negative
         |  WHERE ea.label <> eb.label),
         |rk AS (SELECT *, row_number() OVER (
         |    PARTITION BY anchor ORDER BY cos_sim DESC, negative) AS rank FROM hp)
         |SELECT anchor, CAST(rank AS INT) AS rank, negative, neg_label, cos_sim
         |FROM rk WHERE rank <= $HN_K
         |ORDER BY anchor, rank""".stripMargin),
    Gate("q_bitext_mine", qBitextMine,
      s"""WITH $sqlCosBlockCtes,
         |lg AS (
         |  SELECT n.cell, n.bkt, n.vec_id, d.lang, n.v, n.nrm
         |  FROM n JOIN documents d ON n.vec_id = d.doc_id),
         |bp AS (
         |  SELECT DISTINCT a.vec_id AS src_doc, a.lang AS src_lang,
         |    b.vec_id AS tgt_doc,
         |    ${Fns.roundPSql(s"${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm)", 6)} AS cos_sim
         |  FROM lg a JOIN lg b ON a.cell = b.cell AND a.bkt = b.bkt
         |  WHERE a.lang <> 'en' AND b.lang = 'en'),
         |ta AS (SELECT *, row_number() OVER (
         |    PARTITION BY src_doc ORDER BY cos_sim DESC, tgt_doc) AS rk FROM bp),
         |tb AS (SELECT *, row_number() OVER (
         |    PARTITION BY tgt_doc ORDER BY cos_sim DESC, src_doc) AS rk FROM bp),
         |da AS (SELECT src_doc,
         |    CAST(sum(CAST(cos_sim AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS da
         |  FROM ta WHERE rk <= $BM_K GROUP BY 1),
         |db AS (SELECT tgt_doc,
         |    CAST(sum(CAST(cos_sim AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS db
         |  FROM tb WHERE rk <= $BM_K GROUP BY 1),
         |mg AS (
         |  SELECT t.src_doc, t.src_lang, t.tgt_doc, t.cos_sim,
         |    ${Fns.roundPSql("t.cos_sim / ((da.da + db.db) / 2.0)", 6)} AS margin
         |  FROM ta t JOIN da USING (src_doc) JOIN db USING (tgt_doc)
         |  WHERE t.rk <= $BM_K),
         |rk2 AS (SELECT *, row_number() OVER (
         |    PARTITION BY src_doc ORDER BY margin DESC, tgt_doc) AS rn FROM mg)
         |SELECT src_doc, src_lang, tgt_doc, cos_sim, margin,
         |  margin >= $BM_T AS keep
         |FROM rk2 WHERE rn = 1 ORDER BY src_doc""".stripMargin),
    Gate("q_cosine_blocked", qCosineBlocked,
      s"""WITH $sqlCosBlockCtes
         |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${Fns.roundPSql(s"${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm)", 6)} AS cos_sim
         |FROM n a JOIN n b ON a.cell = b.cell AND a.bkt = b.bkt AND a.vec_id < b.vec_id
         |WHERE ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) >= $COS_T
         |ORDER BY id_a, id_b""".stripMargin),
    // SemDeDup: the blocked pair CTEs verbatim, then the q_dedup_clusters
    // recursive component flood over the pair graph
    Gate("q_semantic_dedup", qSemanticDedup,
      s"""WITH RECURSIVE $sqlSemDedupCtes
         |SELECT e.vec_id, coalesce(cc.cluster_id, e.vec_id) AS cluster_id,
         |  coalesce(cc.cluster_id, e.vec_id) = e.vec_id AS keep
         |FROM e LEFT JOIN cc ON e.vec_id = cc.doc_id
         |ORDER BY e.vec_id""".stripMargin),
    Gate("q_pq_adc", qPqAdc, {
      def subDist(a: String, b: String) =
        s"""list_sum(list_transform(range(1, ${PQ_SUB + 1}),
           |      j -> ($a[s.m*$PQ_SUB + j] - $b[s.m*$PQ_SUB + j]) * ($a[s.m*$PQ_SUB + j] - $b[s.m*$PQ_SUB + j])))""".stripMargin
      s"""WITH e AS ($sqlVecs),
         |p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID),
         |cbv AS (SELECT vec_id, v FROM e WHERE vec_id <> $PROBE_ID ORDER BY vec_id LIMIT $PQ_K),
         |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw, v AS cv FROM cbv),
         |sp AS (SELECT m FROM range(0, $PQ_M) r(m)),
         |dist AS (
         |  SELECT b.vec_id, s.m, c.cw, ${subDist("b.v", "c.cv")} AS dd
         |  FROM e b CROSS JOIN sp s CROSS JOIN cb c WHERE b.vec_id <> $PROBE_ID),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, cw) AS rn
         |       FROM dist),
         |enc AS (SELECT vec_id, m, cw AS code FROM rk WHERE rn = 1),
         |pdt AS (
         |  SELECT s.m, c.cw, ${subDist("p.pv", "c.cv")} AS pdist
         |  FROM sp s CROSS JOIN cb c CROSS JOIN p),
         |agg AS (
         |  SELECT n.vec_id,
         |    array_to_string(list(CAST(n.code AS VARCHAR) ORDER BY n.m), '-') AS code,
         |    CAST(sum(CAST(t.pdist AS DECIMAL(28,18))) AS DOUBLE) AS adc
         |  FROM enc n JOIN pdt t ON t.m = n.m AND t.cw = n.code
         |  GROUP BY 1)
         |SELECT a.vec_id, a.code, ${Fns.roundPSql("a.adc", 6)} AS adc_dist2,
         |  ${Fns.roundPSql(sqlDist2("b.v", "p.pv"), 6)} AS exact_dist2
         |FROM agg a JOIN e b ON b.vec_id = a.vec_id CROSS JOIN p
         |ORDER BY adc_dist2, a.vec_id LIMIT $TOPK""".stripMargin
    }),
    Gate("q_ann_ivfpq", qAnnIvfPq, {
      def subDist(a: String, b: String) =
        s"""list_sum(list_transform(range(1, ${PQ_SUB + 1}),
           |      j -> ($a[s.m*$PQ_SUB + j] - $b[s.m*$PQ_SUB + j]) * ($a[s.m*$PQ_SUB + j] - $b[s.m*$PQ_SUB + j])))""".stripMargin
      s"""WITH e AS ($sqlVecs),
         |p AS (SELECT v AS pv FROM e WHERE vec_id = $PROBE_ID),
         |long AS (SELECT label, i-1 AS pos, v[i] AS x FROM e, unnest(range(1, len(v)+1)) AS t(i)),
         |cent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
         |  FROM long GROUP BY label, pos),
         |pdm AS (SELECT i-1 AS pos, v[i] AS px FROM e, unnest(range(1, len(v)+1)) AS t(i) WHERE vec_id = $PROBE_ID),
         |cells AS (
         |  SELECT cent.label,
         |    CAST(sum(CAST((c - px) * (c - px) AS DECIMAL(28,14))) AS DOUBLE) AS cd
         |  FROM cent JOIN pdm ON cent.pos = pdm.pos
         |  GROUP BY cent.label ORDER BY cd, label LIMIT $NPROBE),
         |cbv AS (SELECT vec_id, v FROM e WHERE vec_id <> $PROBE_ID ORDER BY vec_id LIMIT $PQ_K),
         |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cw, v AS cv FROM cbv),
         |sp AS (SELECT m FROM range(0, $PQ_M) r(m)),
         |cand AS (SELECT b.vec_id, b.v FROM e b JOIN cells ON b.label = cells.label
         |         WHERE b.vec_id <> $PROBE_ID),
         |dist AS (
         |  SELECT b.vec_id, s.m, c.cw, ${subDist("b.v", "c.cv")} AS dd
         |  FROM cand b CROSS JOIN sp s CROSS JOIN cb c),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, cw) AS rn
         |       FROM dist),
         |enc AS (SELECT vec_id, m, cw AS code FROM rk WHERE rn = 1),
         |pdt AS (
         |  SELECT s.m, c.cw, ${subDist("p.pv", "c.cv")} AS pdist
         |  FROM sp s CROSS JOIN cb c CROSS JOIN p),
         |adc AS (
         |  SELECT n.vec_id,
         |    ${Fns.roundPSql("CAST(sum(CAST(t.pdist AS DECIMAL(28,18))) AS DOUBLE)", 6)} AS adc
         |  FROM enc n JOIN pdt t ON t.m = n.m AND t.cw = n.code
         |  GROUP BY 1),
         |top AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT ${TOPK * IVFPQ_OVER})
         |SELECT b.vec_id, ${Fns.roundPSql(sqlDist2("b.v", "p.pv"), 6)} AS dist2
         |FROM e b JOIN top USING (vec_id) CROSS JOIN p
         |ORDER BY dist2, vec_id LIMIT $TOPK""".stripMargin
    }),
  )

}
