package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Incremental VECTOR-STORE ingest — the streaming end of the
  * similarity-search story (as [[CorpusIngest]] is for dedup/curation):
  * embeddings arrive in batches and land in an IVF-cell-partitioned
  * store, so ANN queries against the store read only the probed cells'
  * partitions (partition pruning does the IVF scan cut at the FILE level
  * — the layout [[graft.operators.VectorOps.qAnnIvf]] assumes at 100 TB).
  *
  * Per micro-batch:
  *   1. exactly-once by vec_id: within-batch dropDuplicates + anti-join
  *      against the seen ledger of strictly-earlier batches;
  *   2. row-local cell assignment against the broadcast coarse-quantizer
  *      centroids ([[graft.operators.VectorOps.assignCells]] — the
  *      identical argmin arithmetic the k-means gate pins, zero
  *      exchange);
  *   3. write to `storeDir/batch=<bid>` partitioned by cell, under
  *      [[Ledger]]'s exactly-once protocol.
  * The centroids are FIXED for the ingest's lifetime (the IVF contract:
  * re-clustering is a batch rebuild, not an incremental drift — cells
  * must mean the same thing for every stored vector or the pruned scan
  * lies). */
object VectorIngest {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** `dedupCosine = Some(t)` additionally REJECTS near-duplicate
    * embeddings at ingest — the streaming form of
    * [[graft.operators.VectorOps.qCosineBlocked]]: each novel vector is
    * checked against the STORED vectors of its two nearest cells
    * (2-probe, so a boundary-straddling duplicate is still caught), and
    * within the batch the smaller vec_id wins among pairs sharing a
    * probe cell. The store read for the check filters to the batch's
    * ≤ 2·k probe cells, so partition pruning keeps the candidate scan at
    * probed-cells cost — the ingest literally queries the index it is
    * building. Rejected vectors ARE recorded in the seen ledger:
    * rejection is content-based (they are duplicates), unlike the fuzzy
    * ingest's id-collision rejection. */
  /** `pqCodebook = Some(cb)` additionally writes the PQ `codes` column
    * (the [[graft.operators.VectorOps.PQ_M]] codeword ids) at ingest —
    * the trained codebook is a driver-held lifetime artifact exactly like
    * the coarse-quantizer centroids (re-training is a batch rebuild).
    * With codes in the store, the IVFADC serving path ([[searchAdc]])
    * ranks candidates reading 8 ints per row instead of re-encoding the
    * raw vector per query — the Jégou et al. 2011 memory-traffic win,
    * end-to-end. */
  def start(s: SparkSession, srcDir: String, storeDir: String,
            checkpointDir: String, seenDir: String,
            centroids: Seq[(Int, Seq[Double])],
            dedupCosine: Option[Double] = None,
            pqCodebook: Option[Array[Array[Array[Double]]]] = None): StreamingQuery = {
    require(centroids.nonEmpty, "vector ingest needs a coarse quantizer")
    require(dedupCosine.forall(t => t > 0 && t <= 1),
      s"dedupCosine must be in (0, 1] (got $dedupCosine)")
    // fail at start(), not inside the first micro-batch
    require(dedupCosine.isEmpty || centroids.size >= 2,
      "cosine dedup needs >= 2 centroids (2-probe cell blocking)")
    import graft.operators.VectorOps
    Ledger.run(Ledger.files(s, vecSchema, srcDir), checkpointDir) { (batch, bid) =>
      val spark = batch.sparkSession
      // same-vec_id rows within a delivery are identical payloads;
      // dropDuplicates is deterministic over them, so replay rebuilds
      // the same batch. novel feeds isEmpty, the store write, and the
      // ledger write — persist, or the anti-join re-runs per consumer
      val novel = Ledger
        .withoutKeys(batch.dropDuplicates("vec_id"), seenDir, "vec_id", Some(bid))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (!novel.isEmpty) {
          // label rides THROUGH the argmin (assignCells passes input
          // columns along) — a projection, not a join-back shuffle
          val assignedPlain = VectorOps.assignCells(
            novel.select(col("vec_id"),
              col("embedding").cast("array<double>").as("v"), col("label")),
            centroids, probes = if (dedupCosine.isDefined) 2 else 1)
          // multi-consumer ONLY on the dedup path (cells collect,
          // store-check join, within-batch self-join, write); the plain
          // path writes once — persisting it would be pure overhead
          val assigned =
            if (dedupCosine.isDefined)
              assignedPlain.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            else assignedPlain
          try {
            val kept = dedupCosine match {
              case None => assigned
              case Some(t) =>
                def probed(df: DataFrame): DataFrame = df.select(
                  col("vec_id"), col("v"),
                  explode(array(col("cid"), col("cid2"))).as("cell"))
                val storeSurvivors =
                  if (!Ledger.exists(spark, storeDir)) assigned
                  else {
                    // ≤ 2·k cell ids to the driver → a static isin
                    // filter the scan prunes partitions on
                    val cells = assigned
                      .select(explode(array(col("cid"), col("cid2"))).as("c"))
                      .distinct().collect().map(_.getLong(0))
                    val cand = spark.read.parquet(storeDir)
                      .filter(col("batch") < bid)
                      .filter(col("cell").isin(cells: _*))
                      .select(col("v").as("sv"), col("cell").cast("long").as("cell"))
                    val rejected = probed(assigned).join(cand, "cell")
                      .filter(VectorOps.cosSim(col("v"), col("sv")) >= t)
                      .select("vec_id").distinct()
                    assigned.join(rejected, Seq("vec_id"), "left_anti")
                  }
                val pa = probed(storeSurvivors)
                // fully renamed right side — same-named columns from a
                // shared lineage would trip ambiguous-self-join checks
                val pb = pa.select(col("vec_id").as("vec_b"),
                  col("v").as("vb"), col("cell").as("cell_b"))
                val dropped = pa.join(pb,
                    col("cell") === col("cell_b") && col("vec_id") < col("vec_b") &&
                      VectorOps.cosSim(col("v"), col("vb")) >= t)
                  .select(col("vec_b").as("vec_id")).distinct()
                storeSurvivors.join(dropped, Seq("vec_id"), "left_anti")
            }
            // an all-rejected dedup batch writes NO store dir (an empty
            // batch=<bid> with no cell= level would poison partition
            // discovery and layout inference); the ledger still records
            // every judged vec_id — replay recomputes the same skip.
            // Only the dedup path can go empty here (the plain path's
            // kept ≡ novel, already checked), so the plain path skips
            // the extra action.
            val keptCols = kept
              .select(col("vec_id"), col("v"), col("label"), col("cid").as("cell"))
            // PQ encode rides the same row-local batch scan (an HOF
            // projection, no extra action or shuffle)
            val keptOut = pqCodebook.fold(keptCols)(cb =>
              VectorOps.withPqCodes(keptCols, cb))
            if (dedupCosine.isEmpty || !keptOut.isEmpty)
              keptOut.write.mode("overwrite").partitionBy("cell")
                .parquet(s"$storeDir/batch=$bid")
            novel.select("vec_id")
              .write.mode("overwrite").parquet(s"$seenDir/batch=$bid")
          } finally assigned.unpersist()
        }
      } finally novel.unpersist()
    }
  }

  /** Streaming ANN RECALL MONITOR — the online counterpart of the
    * q_ann_recall batch eval: without it, index decay in a live ingest
    * (fixed coarse-quantizer centroids routing a drifting corpus worse
    * and worse) is invisible until someone remembers to run the batch
    * eval. Per micro-batch `bid` over the SAME source stream the ingest
    * reads:
    *   1. probe set = the batch's vectors with `vec_id % KJ_MOD == 0`,
    *      smallest ids first, CAPPED at [[graft.operators.VectorOps.AR_QUERIES]]
    *      — the q_ann_recall fixed-budget discipline; the cap IS the
    *      scale posture (an uncapped probe set makes the exact side
    *      quadratic, PERF.md);
    *   2. exact side: brute-force top-[[graft.operators.VectorOps.TOPK]]
    *      of each probe over the store restricted to `batch <= bid` — the
    *      store a query at this point in the stream could see (and a
    *      DETERMINISTIC frame: later ingest batches only add higher ids,
    *      so replay recomputes identical registers);
    *   3. ANN side: each probe routed to its 2 nearest centroids with the
    *      ingest's own [[graft.operators.VectorOps.assignCells]] argmin,
    *      candidates read from ONLY the routed cells' partitions
    *      (driver-collected cell list → isin pushdown → partition-pruned
    *      scan), same top-k window;
    *   4. per-query recall report lands at `monitorDir/batch=<bid>`
    *      under [[Ledger]]'s exactly-once protocol.
    * Run the monitor AT OR BEHIND the ingest (batch `bid`'s store prefix
    * must exist when the monitor scores it — the spec runs ingest to
    * completion first; a live deployment chains it after the ingest's
    * own batch body or on a lagged trigger).
    *
    * Scale: both sides are one scan each of a bounded-probe corpus
    * (exact: crossJoin with ≤ AR_QUERIES broadcast probes; ANN: pruned
    * cells only), per batch. Alert wiring reads the register stream —
    * a dropping per-batch mean recall is the decay signal. */
  def startRecallMonitor(s: SparkSession, srcDir: String, storeDir: String,
                         monitorDir: String, checkpointDir: String,
                         centroids: Seq[(Int, Seq[Double])]): StreamingQuery = {
    require(centroids.size >= 2, "recall monitor needs >= 2 centroids (2-probe)")
    import graft.operators.VectorOps
    Ledger.run(Ledger.files(s, vecSchema, srcDir), checkpointDir) { (batch, bid) =>
      val spark = batch.sparkSession
      val probes = broadcast(batch.dropDuplicates("vec_id")
        .filter(pmod(col("vec_id"), lit(VectorOps.KJ_MOD)) === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("pv"))
        .orderBy("query_id").limit(VectorOps.AR_QUERIES))
      val out = s"$monitorDir/batch=$bid"
      if (!Ledger.exists(spark, storeDir)) {
        // store not yet started: an empty register keeps the batch-id
        // sequence replayable instead of leaving a hole
        probes.limit(0)
          .select(col("query_id"), lit(0L).as("n_hit"), lit(0.0).as("recall"))
          .coalesce(1).write.mode("overwrite").parquet(out)
      } else {
        val visible = spark.read.parquet(storeDir)
          .filter(col("batch") <= bid)
          .select(col("vec_id"), col("v"), col("cell").cast("long"))
        val exact = VectorOps.recallTopk(visible.crossJoin(probes))
        // routing: the ingest's own 2-probe argmin over the probe set
        val route = VectorOps.assignCells(
            probes.select(col("query_id"), col("pv").as("v")), centroids, probes = 2)
          .select(col("query_id"), col("v").as("pv"),
            explode(array(col("cid"), col("cid2"))).as("cell"))
        // ≤ 2·AR_QUERIES cell ids to the driver → partition-pruned scan
        val cellIds = route.select("cell").distinct().collect().map(_.getLong(0))
        val ann = VectorOps.recallTopk(
          visible.filter(col("cell").isin(cellIds: _*))
            .join(broadcast(route.drop("pv")), "cell")
            .join(probes, "query_id"))
        VectorOps.recallReport(exact, ann)
          .coalesce(1).write.mode("overwrite").parquet(out)
      }
    }
  }

  /** Build (or refresh) one persisted [[graft.vector.Hnsw]] blob per IVF
    * cell of the store — the fine-grained serving index over the ingest
    * layout ([[graft.gql.GqlEngine]]'s `.hnswp_*` scatter, re-keyed to the
    * cell partitions so each blob covers exactly the rows one probed
    * partition serves). `cells = Nil` builds every cell; a non-empty list
    * restricts the build to those cells (the erase path's rebuild, where
    * only affected cells change — at 100 TB an erasure touches a handful
    * of blobs, never the index). Blob per cell at `indexDir/cell=<c>.hnsw`,
    * written by [[graft.vector.Hnsw.publish]]; insertion order sorted by
    * vec_id so the graph is reproducible from the cell's contents. Cells restricted-to but ABSENT
    * from the store get their blob DELETED (a fully-erased cell must not
    * keep serving from a stale blob).
    *
    * Scale posture: one cell = one task's rows (the repartition below);
    * per-cell population is bounded by the coarse quantizer's design (the
    * [[graft.operators.VectorOps.CELL_CAP]] discipline — hot cells split
    * upstream), so a blob always fits its executor. Run with the ingest
    * stopped, like [[IngestMaintenance]]. */
  def buildCellIndexes(s: SparkSession, storeDir: String, indexDir: String,
                       cells: Seq[Long] = Nil): Unit = {
    import java.nio.file.{Files, Paths}
    import s.implicits._
    Files.createDirectories(Paths.get(indexDir))
    val all = s.read.parquet(storeDir)
      .select(col("cell").cast("long"), col("vec_id"), col("v"))
    val scoped = if (cells.isEmpty) all else all.filter(col("cell").isin(cells: _*))
    val built: Set[Long] = scoped
      .as[(Long, Long, Seq[Double])]
      .repartition(col("cell"))
      .mapPartitions { it =>
        val byCell = it.toArray.groupBy(_._1)
        byCell.iterator.map { case (cell, rows) =>
          val sorted = rows.sortBy(_._2)
          val h = new graft.vector.Hnsw(sorted.head._3.length)
          sorted.foreach { case (_, id, vec) => h.add(id, vec.toArray) }
          h.publish(Paths.get(indexDir, s"cell=$cell.hnsw"))
          cell
        }
      }.collect().toSet // ≤ |cells| longs — the bounded build manifest
    // tombstone blobs of restricted-to cells that no longer exist
    cells.filterNot(built).foreach(dropCellBlob(indexDir, _))
  }

  /** Delete cell `c`'s blob under `indexDir` and evict its resident copy. */
  private[streaming] def dropCellBlob(indexDir: String, c: Long): Unit = {
    val file = java.nio.file.Paths.get(indexDir, s"cell=$c.hnsw")
    java.nio.file.Files.deleteIfExists(file)
    graft.vector.Hnsw.evictCached(file.toString)
  }

  /** ANN serving read over the cell-blob index: per probed cell, the
    * resident ([[graft.vector.Hnsw.loadCached]]) blob surrenders its local
    * top-(k·[[HNSW_SERVE_OVER]]) ids; the exact re-rank reads ONLY the
    * probed cells' store partitions (partition pruning) and keeps k.
    *
    * Two properties the erase path leans on:
    *   - a probed cell with NO blob (tombstoned by an in-flight
    *     [[IngestMaintenance.deleteVecs]], or never built) falls back to
    *     the exact scan of that cell's pruned partitions — slower, never
    *     wrong;
    *   - candidates re-rank against the STORE, so even a stale blob's
    *     candidate list cannot resurrect an erased id (the store row is
    *     gone; the join drops it). The failure direction of every crash
    *     window is recall loss, never erased-data exposure.
    * Driver work is bounded by nprobe (a handful of blob searches), not
    * store size — the embedded-serving tier. */
  def searchHnsw(s: SparkSession, storeDir: String, indexDir: String,
                 cells: Seq[Long], probe: Array[Double], k: Int): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.functions.VectorExprs
    require(cells.nonEmpty, "searchHnsw needs at least one probe cell")
    val want = math.max(k * HNSW_SERVE_OVER, 64)
    val (indexed, missing) = cells.partition(c =>
      Files.exists(Paths.get(indexDir, s"cell=$c.hnsw")))
    val cands: Seq[Long] = indexed.flatMap { c =>
      graft.vector.Hnsw.loadCached(s"$indexDir/cell=$c.hnsw")
        .search(probe, want, ef = math.max(4 * want, 256)).map(_._1)
    }
    val pruned = s.read.parquet(storeDir)
      .filter(col("cell").isin(cells: _*)) // partition-pruned scan
    val candidateRows =
      if (missing.isEmpty) pruned.filter(col("vec_id").isin(cands: _*))
      else pruned.filter(col("vec_id").isin(cands: _*) ||
        col("cell").isin(missing: _*)) // exact fallback for blob-less cells
    candidateRows
      .select(col("vec_id"),
        graft.functions.Fns.roundP(
          VectorExprs.dist2(col("v"), array(probe.map(lit): _*)), 6).as("dist2"))
      .orderBy(col("dist2"), col("vec_id"))
      .limit(k)
  }

  /** Per-cell candidate over-fetch factor for [[searchHnsw]] (×k). */
  val HNSW_SERVE_OVER = 4

  /** IVFADC serving read over a codes-bearing store: rank the given probe
    * cells' vectors by ADC distance computed from the STORED `codes`
    * column — the raw `v` column is never read (column pruning) and only
    * the probed cells' files are scanned (partition pruning), so the
    * per-query cost is 8 ints × probed-cell rows. `pd` is the
    * probe→codeword table ([[graft.operators.VectorOps.adcTable]]); the
    * decimal fold matches the q_pq_adc gate, so serving distances equal
    * the encode-path distances exactly. Exact re-rank of the returned k
    * ids (the qAnnIvfPq tail) is the caller's one extra pruned read. */
  def searchAdc(s: SparkSession, storeDir: String, cells: Seq[Long],
                pd: Array[Array[Double]], k: Int): DataFrame = {
    import graft.operators.VectorOps
    s.read.parquet(storeDir)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"),
        graft.functions.Fns.roundP(VectorOps.adcFromCodes(pd).cast("double"), 6)
          .as("adc_dist2"))
      .orderBy(col("adc_dist2"), col("vec_id"))
      .limit(k)
  }
}
