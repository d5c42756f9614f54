package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Offline maintenance for the per-batch ingest layouts
  * ([[CorpusIngest]], [[VectorIngest]]): a long-running ingest writes one
  * `batch=<id>` directory per micro-batch, and thousands of small files
  * are the classic way a streaming corpus store degrades — every reader
  * pays file-listing and per-file footer costs that dwarf the data scan.
  *
  * [[compactIngest]] is the entry point for a data dir + its seen-ledger
  * pair: data batches with NO matching ledger partition are left in
  * place untouched — that state means the ingest died between its data
  * write and its ledger write, and the restart must be free to replay
  * and overwrite that batch id; folding it into the consolidated
  * partition would let the replay land the same rows a second time.
  * Everything ledgered consolidates into `batch=-1`: strictly below
  * every real micro-batch id, so the `batch < bid` ledger filter sees
  * every compacted row, and no replayed id can ever collide with it.
  * Secondary partition levels (e.g. the vector store's `cell=` dirs) are
  * inferred across ALL batch dirs (one empty or degenerate batch cannot
  * flatten the layout) and preserved; rows are repartitioned on
  * (secondary, bucket) so file sizes track `targetFileRows` without
  * fanning every task across every cell.
  *
  * Run it with the ingest STOPPED (it is a maintenance pass, not a
  * concurrent operation). The whole-directory staged swap ([[swapIn]])
  * and the leaf erase ([[eraseLeaves]]) are the crash-safe rewrites here
  * and in [[CdcIngest]]; every entry point first repairs an interrupted
  * swap ([[repairSwap]]). Local-filesystem moves; on an object store the
  * swap step becomes the catalog's atomic pointer flip. */
object IngestMaintenance {

  /** Compact data dir(s) + their shared seen-ledger consistently:
    * unledgered data batches stay in place for the restart to replay
    * idempotently, and the ledger is compacted LAST — this ordering (and
    * the exclusion logic) is why ledger dirs must never be compacted via
    * bare [[compact]]: a ledger collapsed to batch=-1 ahead of its data
    * dir hides the data's ledger entries and strands every batch as
    * "unledgered" forever. Multi-dir form for the ingests that pair one
    * ledger with several outputs (the fuzzy ingest's corpus + signature
    * store). */
  def compactIngest(s: SparkSession, dataDirs: Seq[String], seenDir: String,
                    targetFileRows: Long): Unit = {
    // repair FIRST so batchIds reads restored state (compact() repairs
    // again; that second pass is a no-op)
    dataDirs.foreach(repairSwap)
    repairSwap(seenDir)
    val ledgered = Ledger.batchIds(s, seenDir)
    for (dataDir <- dataDirs) {
      // batch=-1 is by construction ledgered data from a previous
      // compaction (its ledger twin may be mid-compaction) — never
      // "unledgered"
      val unledgered = (Ledger.batchIds(s, dataDir) -- ledgered).filter(_ >= 0)
      compact(s, dataDir, targetFileRows, keepInPlace = unledgered)
    }
    compact(s, seenDir, targetFileRows)
  }

  def compactIngest(s: SparkSession, dataDir: String, seenDir: String,
                    targetFileRows: Long = 1000000L): Unit =
    compactIngest(s, Seq(dataDir), seenDir, targetFileRows)

  /** Compact one per-batch dir. `keepInPlace` batch ids are excluded from
    * the consolidated partition and carried over unchanged. NEVER call
    * this directly on a seen-ledger dir — use [[compactIngest]], which
    * orders the data dirs first and keeps the unledgered-batch exclusion
    * consistent (see its scaladoc for the stranding failure mode).
    *
    * `zorderBy` is the optional multi-dimensional layout pass — the
    * OPTIMIZE-ZORDER-BY maintenance shape: consolidated rows are
    * range-partitioned and sorted on the Morton interleave of exactly
    * two numeric columns (min/max-normalized to equal bit widths, the
    * [[graft.operators.SourceOps.qZorder]] discipline — normalization is
    * what keeps the wider dimension from owning every high z bit), so
    * file min/max stats prune predicates on EITHER column. Bounds come
    * from one 1-row aggregate; the z key is pure integer algebra inside
    * the write's codegen stage. */
  def compact(s: SparkSession, dir: String,
              targetFileRows: Long = 1000000L,
              keepInPlace: Set[Long] = Set.empty,
              zorderBy: Seq[String] = Nil): Unit = {
    require(targetFileRows > 0, "targetFileRows must be positive")
    repairSwap(dir)
    val src = Paths.get(dir)
    if (!Files.exists(src)) return
    val df0 = s.read.parquet(dir)
    require(df0.columns.contains("batch"), s"$dir is not a per-batch ingest dir")
    val df =
      if (keepInPlace.isEmpty) df0
      else df0.filter(!col("batch").isin(keepInPlace.toSeq: _*))
    val secondary = inferSecondaryPartitions(src)
    val rows = df.count()
    if (rows == 0) return // nothing ledgered to consolidate
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetFileRows).toInt)
    // bucket beside the secondary key: repartitioning on cell alone puts
    // each whole cell in ONE task — a hot cell would emit one giant file
    // and targetFileRows would be a dead letter. The bucket splits a
    // cell's rows across ~perCell tasks (skewed cells still get at least
    // the average-based split).
    val out = df.drop("batch")
    val repartitioned =
      if (zorderBy.nonEmpty) {
        require(zorderBy.length == 2,
          s"z-order takes exactly two columns, got $zorderBy")
        val Seq(c1, c2) = zorderBy
        val b = df.agg(
          min(col(c1)).cast("long"), max(col(c1)).cast("long"),
          min(col(c2)).cast("long"), max(col(c2)).cast("long")).head()
        require(!b.isNullAt(0) && !b.isNullAt(2),
          s"z-order columns $zorderBy must be non-null numeric")
        val (alo, ahi, blo, bhi) =
          (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
        val hiMask = (1 << graft.operators.SourceOps.Z_BITS) - 1
        val un = expr(
          s"((CAST($c1 AS BIGINT) - ${alo}L) * $hiMask) div ${math.max(ahi - alo, 1)}L")
        val hn = expr(
          s"((CAST($c2 AS BIGINT) - ${blo}L) * $hiMask) div ${math.max(bhi - blo, 1)}L")
        val keys = secondary.map(col) :+
          graft.operators.SourceOps.zValue(un, hn).as("__zv")
        // range partitioning (not round-robin) is what makes file min/max
        // boxes contiguous in z — sortWithinPartitions alone would sort
        // inside randomly-assigned files and prune nothing
        out.repartitionByRange(nFiles, keys: _*)
          .sortWithinPartitions(keys: _*)
      } else if (secondary.isEmpty) out.repartition(nFiles)
      else {
        val cells = math.max(1L, df.select(secondary.map(col): _*).distinct().count())
        val perCell = math.max(1, math.ceil(nFiles.toDouble / cells).toInt)
        val dataCols = out.columns.filterNot(secondary.contains).map(col)
        out.repartition(nFiles,
          secondary.map(col) :+ pmod(hash(dataCols: _*), lit(perCell)): _*)
      }
    swapIn(dir) { staging =>
      val writer = repartitioned.write.mode("overwrite")
      (if (secondary.nonEmpty) writer.partitionBy(secondary: _*) else writer)
        .parquet(s"$staging/batch=-1")
      // carry excluded (unledgered) batch dirs into the staged copy so the
      // swap preserves them byte-for-byte
      for (b <- keepInPlace) {
        val from = src.resolve(s"batch=$b")
        if (Files.exists(from)) copyTree(from, Paths.get(staging, s"batch=$b"))
      }
    }
  }

  /** The whole-directory staged swap: `stage` writes a complete copy at
    * `<dir>.compact`; then the live dir moves aside to `<dir>.old`, the
    * copy moves in and `.old` is deleted. The copy is complete before
    * the first move, so [[repairSwap]] can always finish an interrupted
    * swap. */
  private[streaming] def swapIn(dir: String)(stage: String => Unit): Unit = {
    val (src, staging, old) = swapPaths(dir)
    deleteTree(staging)
    stage(staging.toString)
    deleteTree(old)
    if (Files.exists(src)) Files.move(src, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, src, StandardCopyOption.ATOMIC_MOVE)
    deleteTree(old)
  }

  /** Right-to-be-forgotten deletion for a per-batch ingest dir: remove
    * every row whose `idCol` value is in `ids`, rewriting ONLY the batch
    * partitions that actually contain a victim — at 100 TB an erasure
    * request touches a handful of partitions, never the store. Secondary
    * partition levels (cell= …) are preserved. Returns deleted row count.
    *
    * The seen-ledger is deliberately NOT touched: the erased content's
    * key stays ledgered, so a later re-delivery of the same bytes cannot
    * silently resurrect erased data — the correct failure direction for
    * an erasure obligation (re-adding erased content must be an explicit
    * new decision, not a replay artifact). Crash safety is
    * [[eraseLeaves]]' at batch grain; deletion is idempotent — a rerun
    * with the same ids re-deletes whatever the interrupted run left. */
  def deleteDocs(s: SparkSession, dataDir: String, idCol: String,
                 ids: Seq[Long]): Long =
    eraseLeaves(s, dataDir, Seq("batch"), idCol, ids)()._1

  /** Right-to-be-forgotten deletion for the VECTOR store
    * ([[VectorIngest]]'s `batch=<b>/cell=<c>` layout): erase every row
    * whose `vec_id` is in `ids`, rewriting ONLY the (batch, cell) LEAF
    * partitions that contain a victim — the IVF cell layout makes an
    * erasure request a handful-of-leaves rewrite at any store size, one
    * level finer than [[deleteDocs]]' per-batch grain. With `indexDir`
    * set, the per-cell HNSW blobs ([[VectorIngest.buildCellIndexes]]) of
    * affected cells are erased too: tombstoned FIRST, then rebuilt from
    * the survivors. Returns deleted row count.
    *
    * Ordering is the privacy argument. Blobs tombstone before the store
    * rewrite, so no crash window leaves an index serving vectors the
    * completed erasure removes: die before the rewrite and the store
    * still holds the row (the erasure simply hasn't happened — rerun is
    * idempotent); die between rewrite and rebuild and
    * [[VectorIngest.searchHnsw]] falls back to the exact scan of the
    * REWRITTEN store for the blob-less cells — recall cost, never
    * erased-data exposure. The stale-candidate direction is covered by
    * searchHnsw's store-backed re-rank.
    *
    * The seen-ledger stays untouched for the same reason as
    * [[deleteDocs]]: a re-delivery of erased content must not silently
    * resurrect it. Crash safety is [[eraseLeaves]]' at leaf grain. */
  def deleteVecs(s: SparkSession, storeDir: String, ids: Seq[Long],
                 indexDir: Option[String] = None,
                 idCol: String = "vec_id"): Long = {
    val (deleted, leaves) = eraseLeaves(s, storeDir, Seq("batch", "cell"), idCol, ids) {
      hit => for (dir <- indexDir; c <- hit.map(_(1)).distinct) VectorIngest.dropCellBlob(dir, c)
    }
    // rebuild affected cells' blobs from the erased store (cells now
    // empty get their blob deleted by the restricted build's manifest)
    val cellsHit = leaves.map(_(1)).distinct.sorted
    for (dir <- indexDir if cellsHit.nonEmpty)
      VectorIngest.buildCellIndexes(s, storeDir, dir, cellsHit)
    deleted
  }

  /** Erase the rows whose `idCol` is in `ids` from a per-batch store,
    * rewriting only the leaf partitions `levels` deep (`batch`, or
    * `batch`/`cell`) that hold a victim; partition levels below the leaf
    * are preserved. `beforeRewrite` sees the affected leaves (their
    * `levels` values) before the first rewrite. Returns the deleted row
    * count and the affected leaves.
    *
    * Crash safety: survivors stage OUTSIDE the store (`<dir>.delstage`,
    * so partition discovery can never see a half-written twin), each
    * affected leaf swaps via move-aside (`<dir>.delold`), and every run
    * begins by restoring the leaves a crash stranded aside between the
    * two moves — the aside copy is the complete pre-delete original, so
    * the run re-deletes from identical inputs. */
  private def eraseLeaves(s: SparkSession, dir: String, levels: Seq[String],
                          idCol: String, ids: Seq[Long])
                         (beforeRewrite: Seq[Seq[Long]] => Unit = _ => ())
      : (Long, Seq[Seq[Long]]) = {
    import scala.math.Ordering.Implicits.seqOrdering
    repairSwap(dir)
    val src = Paths.get(dir)
    if (!Files.exists(src) || ids.isEmpty) return (0L, Nil)
    val (stage, aside) = (Paths.get(dir + ".delstage"), Paths.get(dir + ".delold"))
    val stranded =
      if (!Files.exists(aside)) Nil
      else {
        val st = Files.walk(aside, levels.size)
        try st.iterator().asScala.filter(p => p != aside && Files.isDirectory(p) &&
          aside.relativize(p).getNameCount == levels.size).toList
        finally st.close()
      }
    for (p <- stranded) {
      val live = src.resolve(aside.relativize(p))
      if (!Files.exists(live)) {
        Files.createDirectories(live.getParent)
        Files.move(p, live, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    deleteTree(aside)
    deleteTree(stage)
    val df = s.read.parquet(dir)
    require(levels.forall(df.columns.contains),
      s"$dir is not partitioned by ${levels.mkString("/")}")
    val victims = col(idCol).isin(ids: _*)
    // the id predicate pushes into the parquet scan — this is a pruned
    // read, not a store read
    val affected = df.filter(victims)
      .select(levels.map(col(_).cast("long")): _*).distinct()
      .collect().map(r => levels.indices.map(r.getLong)).toSeq.sorted
    val below = inferSecondaryPartitions(src).drop(levels.size - 1)
    beforeRewrite(affected)
    var deleted = 0L
    for (leafKey <- affected) {
      val rel = levels.zip(leafKey).map { case (l, v) => s"$l=$v" }.mkString("/")
      val (leaf, staged, asideLeaf) = (src.resolve(rel), stage.resolve(rel), aside.resolve(rel))
      val part = s.read.parquet(leaf.toString)
      val surv = part.filter(!victims)
      val (nAll, nSurv) = (part.count(), surv.count())
      deleted += nAll - nSurv
      if (nSurv > 0) {
        val writer = surv.write.mode("overwrite")
        (if (below.nonEmpty) writer.partitionBy(below: _*) else writer)
          .parquet(staged.toString)
      }
      Files.createDirectories(asideLeaf.getParent)
      Files.move(leaf, asideLeaf, StandardCopyOption.ATOMIC_MOVE)
      if (nSurv > 0) {
        Files.createDirectories(leaf.getParent)
        Files.move(staged, leaf, StandardCopyOption.ATOMIC_MOVE)
      } else if (leaf.getParent != src && isEmptyDir(leaf.getParent)) {
        // a batch whose last cell was fully erased leaves an empty
        // batch=<b> shell — remove it or partition discovery chokes
        Files.deleteIfExists(leaf.getParent)
      }
    }
    deleteTree(aside)
    deleteTree(stage)
    (deleted, affected)
  }

  /** The live dir of a staged swap, its staged copy and its aside copy. */
  private def swapPaths(dir: String): (Path, Path, Path) =
    (Paths.get(dir), Paths.get(dir + ".compact"), Paths.get(dir + ".old"))

  private def isEmptyDir(p: Path): Boolean =
    Files.isDirectory(p) && {
      val st = Files.list(p)
      try !st.iterator().hasNext finally st.close()
    }

  /** Finish a [[swapIn]] that a crash interrupted. With no live dir, the
    * staged copy (moved in only once COMPLETE) is restored, or failing
    * that the old dir. With a live dir, a leftover `.compact` (the swap
    * had not begun its moves) or `.old` (it had finished them) is stale
    * and deleted. */
  private[streaming] def repairSwap(dir: String): Unit = {
    val (src, staging, old) = swapPaths(dir)
    if (Files.exists(src)) { deleteTree(staging); deleteTree(old) }
    else if (Files.exists(staging)) {
      Files.move(staging, src, StandardCopyOption.ATOMIC_MOVE)
      deleteTree(old)
    } else if (Files.exists(old)) Files.move(old, src, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Partition levels BELOW batch=, read off directory names across ALL
    * batch dirs (an empty or degenerate batch dir cannot flatten the
    * inferred layout): `batch=3/cell=5/part-...` infers Seq("cell"). */
  private def inferSecondaryPartitions(src: Path): Seq[String] = {
    def partCol(p: Path): Option[String] = {
      val n = p.getFileName.toString
      val i = n.indexOf('=')
      if (Files.isDirectory(p) && i > 0) Some(n.substring(0, i)) else None
    }
    def descend(dir: Path): Seq[String] = {
      val st = Files.list(dir)
      val next =
        try st.iterator().asScala.flatMap(p => partCol(p).map(_ -> p)).toSeq.headOption
        finally st.close()
      next match {
        case Some((c, p)) => c +: descend(p)
        case None => Nil
      }
    }
    val st = Files.list(src)
    val perBatch =
      try st.iterator().asScala
        .filter(p => partCol(p).contains("batch"))
        .map(descend)
        .toSeq
      finally st.close()
    val nonEmpty = perBatch.filter(_.nonEmpty)
    require(nonEmpty.map(_.toList).distinct.size <= 1,
      s"conflicting partition layouts under $src: ${nonEmpty.distinct}")
    nonEmpty.headOption.getOrElse(Nil)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else {
        Files.createDirectories(dest.getParent)
        Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally st.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
}
