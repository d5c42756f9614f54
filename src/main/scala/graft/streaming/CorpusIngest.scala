package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Incremental DEDUPED corpus ingest — the missing end of the dedup story:
  * batch dedup cleans a snapshot ([[graft.operators.DedupOps]]), streaming
  * dedup drops re-deliveries inside one run
  * ([[EventStream.dedupedEventsOf]]); this builds the PERSISTENT corpus a
  * training pipeline actually accumulates, exactly-once across restarts.
  *
  * Shape: a file stream of document batches ([[Ledger.run]]), per batch:
  *   1. within-batch exact dedup on the content key (md5 of normalized
  *      text — the same key as q_dedup_exact, 32 bytes however large the
  *      document);
  *   2. LEFT ANTI join against the content keys already in the corpus dir
  *      (at 100 TB the corpus is content-key-bucketed parquet, so the
  *      anti join is key-local and reads only the key column — column
  *      pruning keeps the probe narrow);
  *   3. append only the novel documents.
  * Re-delivered files, duplicate documents across deliveries, and restarts
  * (checkpointed source offsets + idempotent-by-key appends) all land
  * exactly one copy of each distinct text in the corpus.
  */
object CorpusIngest {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Content identity: the exact-dedup key of DedupOps.qDedupExact. */
  def contentKey(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(lower(trim(text)))

  /** Start the ingest: watch `srcDir` for document parquet files, append
    * novel-content docs to `corpusDir`. `checkpointDir` carries source
    * offsets so a restart resumes instead of re-reading everything. */
  def start(s: SparkSession, srcDir: String, corpusDir: String,
            checkpointDir: String): StreamingQuery =
    Ledger.run(Ledger.files(s, docSchema, srcDir), checkpointDir) { (batch, _) =>
      Ledger.withoutKeys(batchWinners(batch), corpusDir, "ck")
        .write.mode("append").parquet(corpusDir)
    }

  /** The within-batch winner of the exact-dedup rule: per content key
    * `ck` (added here), the row with the smallest doc_id — the batch exact
    * dedup's deterministic choice, so a replayed batch picks the same rows. */
  private def batchWinners(batch: DataFrame): DataFrame =
    batch.withColumn("ck", contentKey(col("text")))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("ck")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")

  /** Streaming NEAR-DUP (fuzzy) ingest — the incremental form of the
    * MinHash-LSH batch dedup ([[graft.operators.DedupOps.qMinhashDedup]]),
    * closing the dedup story's last gap: exact-key streaming dedup drops
    * re-deliveries, but a training ingest must also reject documents that
    * are ~the same text as something already accepted.
    *
    * Per micro-batch:
    *   1. exact dedup (within-batch winner + seen-ledger anti-join, as
    *      [[startCurated]]);
    *   2. MinHash signatures for the novel docs (row-local, the batch
    *      gate's exact arithmetic via
    *      [[graft.operators.DedupOps.signaturesOf]]);
    *   3. STORE CHECK: banded bucket join against the accepted store's
    *      signatures ([[graft.operators.DedupOps.nearPairs]]) — a batch
    *      doc with a verified (exact-Jaccard ≥ THRESHOLD) near-dup in the
    *      store is dropped, and a batch doc REUSING an already-stored
    *      doc_id is rejected outright (doc_id is the store's primary key;
    *      admitting a collision would fan out every downstream join).
    *      The join moves band keys, never texts;
    *   4. WITHIN-BATCH: among store-survivors, a doc is dropped when ANY
    *      verified pair links it to a smaller-id store-survivor —
    *      whether or not that smaller doc itself survives. Transitive
    *      chains inside ONE batch therefore OVER-delete (A~B~C with A≁C
    *      keeps only A): the safe direction for a dedup gate (a chain
    *      member is near-dup of a near-dup), and the exact batch operator
    *      (qDedupClusters' cluster-canonical rule) is the periodic
    *      rebalance — the same split as the curated mix;
    *   5. survivors append to the corpus AND their (doc_id, sh, bands)
    *      rows to the signature store.
    * Exactly-once is [[Ledger]]'s protocol: the corpus, signature and
    * seen stores are all per-batch-id dirs. At 100 TB the store is
    * band-key-bucketed parquet, so the candidate join is key-local; the shingle-set column is the verify cost and caps at the
    * document's distinct K-grams (a production store may swap exact
    * verify for signature-lane agreement to shed it — noted, not hidden). */
  def startFuzzy(s: SparkSession, srcDir: String, corpusDir: String,
                 checkpointDir: String, seenDir: String,
                 sigDir: String): StreamingQuery = {
    import graft.operators.DedupOps
    Ledger.run(Ledger.files(s, docSchema, srcDir), checkpointDir) { (batch, bid) =>
      val spark = batch.sparkSession
      val fresh = Ledger.withoutKeys(batchWinners(batch), seenDir, "ck", Some(bid))
      // doc_id collision with the store = feed bug; reject BEFORE the
      // ledger write and the near-dup check, so the store key stays
      // unique AND the rejected doc's content is not marked seen (a
      // later delivery under a correct id must still be ingestable)
      val store =
        if (!Ledger.exists(spark, sigDir)) None
        else Some(spark.read.parquet(sigDir)
          .filter(col("batch") < bid)
          .select("doc_id", "sh", "bands"))
      // novel feeds the ledger write, the signatures, and the corpus
      // write — persist, or the anti-join re-runs per consumer
      val novel = store.fold(fresh)(st =>
          fresh.join(st.select("doc_id"), Seq("doc_id"), "left_anti"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (!novel.isEmpty) {
          val sig = DedupOps.signaturesOf(novel.select(col("doc_id"), col("text")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // storeSurvivors feeds both sides of the within-batch pair
            // join, both verify joins, and the kept anti-join (5
            // consumers; no cross-branch CSE)
            val storeSurvivors = (
              store match {
                case None => sig
                case Some(st) => sig.join(
                  DedupOps.nearPairs(st, sig, requireLess = false)
                    .select(col("doc_b").as("doc_id")).distinct(),
                  Seq("doc_id"), "left_anti")
              }
            ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val dropped = DedupOps.nearPairs(storeSurvivors, storeSurvivors,
                requireLess = true)
                .select(col("doc_b").as("doc_id")).distinct()
              val kept = storeSurvivors
                .join(dropped, Seq("doc_id"), "left_anti")
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try {
                novel.join(kept.select("doc_id"), Seq("doc_id"))
                  .write.mode("overwrite").parquet(s"$corpusDir/batch=$bid")
                kept.select("doc_id", "sh", "bands")
                  .write.mode("overwrite").parquet(s"$sigDir/batch=$bid")
                novel.select("ck")
                  .write.mode("overwrite").parquet(s"$seenDir/batch=$bid")
              } finally kept.unpersist()
            } finally storeSurvivors.unpersist()
          } finally sig.unpersist()
        }
      } finally novel.unpersist()
    }
  }

  /** Streaming CLASSIFIED ingest — the deployed form of
    * [[graft.operators.ModelOps.qNbLang]]: the multinomial Naive Bayes
    * language model trains ONCE at stream start from the batch training
    * corpus (`trainDir`), its vocab×classes-bounded score tables are
    * persisted and COUNTED so every micro-batch reuses materialized
    * partitions instead of re-running the training plan, and each
    * arriving document is scored with the gate's own exact
    * decimal(28,18) arithmetic ([[graft.operators.ModelOps.nbPredict]] —
    * shared code, not a re-implementation) and written out PARTITIONED
    * BY predicted language — the classify-and-route stage of a corpus
    * pipeline. Documents with no in-vocabulary token route to 'und'.
    *
    * Per batch this adds one broadcast join + one doc-keyed agg to the
    * ingest path — no new shuffle shape at any corpus size. Exactly-once
    * composes with [[start]]'s rule: within-batch key dedup + anti-join
    * against the ledger of already-written keys (read through the
    * partitioned layout). */
  def startClassified(s: SparkSession, srcDir: String, corpusDir: String,
                      checkpointDir: String, trainDir: String): StreamingQuery = {
    import graft.operators.ModelOps
    val trainDocs = s.read.parquet(trainDir)
    val trainTf = ModelOps.nbTokenTf(trainDocs)
    val (termQ, priQ) = ModelOps.nbModelFromTf(s, trainTf, trainDocs)
    val term = termQ.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pri = priQ.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    term.count(); pri.count() // materialize once, before the first batch
    Ledger.run(Ledger.files(s, docSchema, srcDir), checkpointDir) { (batch, _) =>
      val novel = Ledger.withoutKeys(batchWinners(batch), corpusDir, "ck")
      val tokTf = novel
        .select(col("doc_id"),
          graft.functions.Fns.tokens(lower(col("text"))).as("tk"))
        .select(col("doc_id"), explode(col("tk")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val preds = ModelOps.nbPredict(tokTf, term, pri)
      novel
        .join(preds, Seq("doc_id"), "left")
        .withColumn("pred", coalesce(col("pred"), lit("und")))
        .write.mode("append").partitionBy("pred").parquet(corpusDir)
    }
  }

  /** Streaming DECONTAMINATED ingest — the deployed form of
    * [[graft.operators.CorpusOps.qBloomDecontaminate]]: the benchmark
    * suite is folded ONCE at stream start into the fixed-size Bloom
    * bitmask (O(M) longs — bounded by construction, not by bench-suite
    * size), and every arriving document whose gram set hits the filter is
    * dropped BEFORE it can enter the training corpus. Composes with the
    * exactly-once dedup of [[start]]: within-batch key dedup, anti-join
    * vs the corpus, then the Bloom gate.
    *
    * The membership test is pure column algebra over two plan-literal
    * arrays (the mask and a 64-entry power table) — constant work per
    * gram, zero joins, zero shuffle added to the ingest path. One-sided
    * like the batch twin: contaminated docs can NEVER slip through (no
    * false negatives); a false positive costs one clean doc, the right
    * failure direction for decontamination. Identical hashing to the
    * batch gate, so the stream drops exactly the docs the gate flags
    * (spec-asserted). */
  def startDecontaminated(s: SparkSession, srcDir: String, corpusDir: String,
                          checkpointDir: String, benchDir: String): StreamingQuery = {
    import graft.operators.CorpusOps
    val mask = CorpusOps.bloomMaskOf(s.read.parquet(benchDir))
    Ledger.run(Ledger.files(s, docSchema, srcDir), checkpointDir) { (batch, _) =>
      val clean = batchWinners(batch)
        .filter(!CorpusOps.bloomHit(CorpusOps.gramsOf(col("text")), mask))
      Ledger.withoutKeys(clean, corpusDir, "ck").write.mode("append").parquet(corpusDir)
    }
  }

  /** Streaming corpus CURATION — the streaming twin of the batch
    * rate-table mix ([[graft.operators.DedupOps.qCorpusMix]]), composed
    * with the exactly-once dedup above so the whole curation story
    * (dedup → budget mix) runs incrementally:
    *
    *   1. within-batch dedup + anti-join vs the seen ledger;
    *   2. the NOVEL docs' per-source token counts append to `statsDir`
    *      (n_sources rows per batch — the running totals a long-lived
    *      ingest accumulates);
    *   3. the rate table REFRESHES from the aggregated stats every batch
    *      (totals include the current batch, matching qCorpusMix's
    *      rates-from-the-data-seen semantics) and broadcasts;
    *   4. the same decimal(38) cross-multiplied keep test
    *      ([[graft.operators.DedupOps.mixKeepTest]], same `mix_` hash)
    *      decides which novel docs join the corpus.
    *
    * Exactly-once across re-delivery AND crash-replay is [[Ledger]]'s
    * protocol. Novelty is judged against the SEEN ledger, not against
    * the kept corpus, which would resurrect mix-DROPPED re-deliveries;
    * the keep test is deterministic, so a replay keeps the same docs.
    * Early admissions are not revisited as rates drift — the streaming
    * trade; the mix converges as totals stabilize, and a batch
    * qCorpusMix pass re-balances exactly when needed (documented, not
    * hidden). */
  def startCurated(s: SparkSession, srcDir: String, corpusDir: String,
                   checkpointDir: String, statsDir: String,
                   seenDir: String): StreamingQuery = {
    import graft.operators.DedupOps
    Ledger.run(Ledger.files(s, docSchema, srcDir), checkpointDir) { (batch, bid) =>
      val spark = batch.sparkSession
      val novel = Ledger.withoutKeys(batchWinners(batch), seenDir, "ck", Some(bid))
      // novel feeds the ledger, the stats, and the keep filter — persist,
      // or the anti-join re-runs per consumer (no cross-branch CSE)
      val toks = novel.withColumn("n_toks",
        size(graft.functions.Fns.tokens(col("text"))).cast("long"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (!toks.isEmpty) {
          toks.groupBy("source").agg(sum("n_toks").as("toks"))
            .write.mode("overwrite").parquet(s"$statsDir/batch=$bid")
          // refreshed rate table: totals over every batch INCLUDING this
          // one (qCorpusMix's rates-from-the-data-seen semantics)
          val totals = spark.read.parquet(statsDir)
            .groupBy("source").agg(sum("toks").as("t_src"))
          val grand = totals.agg(sum("t_src").as("t_total"),
            count(lit(1)).as("n_src"))
          toks
            .join(broadcast(totals), "source")
            .crossJoin(broadcast(grand))
            .filter(DedupOps.mixKeepTest(
              pmod(graft.functions.Fns.hash32(
                concat(lit("mix_"), col("doc_id").cast("string"))),
                lit(DedupOps.SAMPLE_SPACE)),
              col("n_src"), col("t_src"), col("t_total")))
            .select("ck", "doc_id", "text", "lang", "source", "n_chars", "n_toks")
            .write.mode("overwrite").parquet(s"$corpusDir/batch=$bid")
          toks.select("ck")
            .write.mode("overwrite").parquet(s"$seenDir/batch=$bid")
        }
      } finally toks.unpersist()
    }
  }

  /** Streaming DRIFT MONITOR — the per-batch production form of the
    * q_snapshot_drift gate ("did the crawl change under us", evaluated as
    * every ingest batch arrives instead of between two finished
    * snapshots): per micro-batch, the batch's source/language/
    * length-magnitude category counts (the SHARED
    * [[graft.operators.TextOps.driftDims]], so the monitored
    * distributions cannot diverge from the gate's) are written to a
    * counts store, and KL(batch ‖ all strictly-earlier batches) in bits
    * — add-λ smoothed over the category union, per-dim terms
    * decimal-summed — lands as a report row per dimension.
    *
    * Exactly-once is [[Ledger]]'s protocol: counts and report are
    * per-batch-id dirs, and the baseline reads ONLY batches < b. State is
    * bounded by construction: O(categories) rows per batch, never
    * documents. The first batch has
    * no baseline — its kl_bits is NULL with n_base = 0, not a divide-
    * by-zero artifact. */
  def startDriftMonitor(s: SparkSession, srcDir: String, countsDir: String,
                        reportDir: String, checkpointDir: String): StreamingQuery = {
    import graft.operators.TextOps.{DRIFT_LAMBDA, driftDims}
    Ledger.run(Ledger.files(s, docSchema, srcDir), checkpointDir) { (batch, bid) =>
      val spark = batch.sparkSession
      val cnts = driftDims.map { case (nm, c) =>
        batch.groupBy(c.as("cat")).agg(count(lit(1)).as("n"))
          .select(lit(nm).as("dim"), col("cat"), col("n"))
      }.reduce(_ unionByName _)
      cnts.withColumn("batch_id", lit(bid))
        .write.mode("overwrite").parquet(s"$countsDir/batch=$bid")
      // baseline: STRICTLY earlier batches only — replay-stable
      val base = spark.read.parquet(countsDir)
        .filter(col("batch_id") < bid)
        .groupBy("dim", "cat").agg(sum("n").as("nb"))
      val joined = cnts.withColumnRenamed("n", "na")
        .join(base, Seq("dim", "cat"), "full_outer")
        .na.fill(0L, Seq("na", "nb"))
      val tot = joined.groupBy("dim")
        .agg(sum("na").as("ta"), sum("nb").as("tb"), count(lit(1)).as("k"))
      val D = (cn: String) => col(cn).cast("double")
      joined.join(tot, "dim")
        .withColumn("pa",
          (D("na") + lit(DRIFT_LAMBDA)) / (D("ta") + lit(DRIFT_LAMBDA) * D("k")))
        .withColumn("pb",
          (D("nb") + lit(DRIFT_LAMBDA)) / (D("tb") + lit(DRIFT_LAMBDA) * D("k")))
        .withColumn("term",
          (col("pa") * log2(col("pa") / col("pb"))).cast("decimal(18,12)"))
        .groupBy("dim")
        .agg(max("k").as("n_cats"), max("ta").as("n_batch"), max("tb").as("n_base"),
          graft.functions.Fns.roundP(
            when(max("tb") > 0, sum(col("term")).cast("double")), 6).as("kl_bits"))
        .withColumn("batch_id", lit(bid))
        .write.mode("overwrite").parquet(s"$reportDir/batch=$bid")
    }
  }
}
