package graft

import java.nio.file.{Files, Paths}

import graft.operators.VectorOps
import graft.streaming.{CdcIngest, IngestMaintenance, VectorIngest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Compaction must change the FILE layout and nothing else: identical
  * rows, identical cell assignments, fewer files, and an ingest resumed
  * on the compacted ledger stays exactly-once. */
class IngestMaintenanceSpec extends AnyFunSuite {
  import SparkTestBase._

  test("compacting store and ledger preserves content and exactly-once resume") {
    val root = Files.createTempDirectory("graft-compact")
    val (src, store, ckpt, seen) =
      (s"$root/src", s"$root/store", s"$root/ckpt", s"$root/seen")
    Files.createDirectories(Paths.get(src))
    val cents = VectorOps.seedCentroids(spark, sfDir)

    def run(): Unit = {
      val q = VectorIngest.start(spark, src, store, ckpt, seen, cents)
      try q.awaitTermination()
      finally if (q.isActive) q.stop()
    }
    def deliver(name: String, idOffset: Long): Unit = {
      val stage = s"$root/stage_$name"
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + lit(idOffset))
        .coalesce(1).write.parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator()
      val pf = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(fail("no part file"))
      Files.copy(pf, Paths.get(s"$src/$name.parquet"))
    }
    // two batches of disjoint populations → two batch dirs in every layout
    deliver("v1", 0L)
    deliver("v2", 1000000L)
    run()

    def snapshot(): (Long, Map[Long, Long], Int) = {
      val df = spark.read.parquet(store)
      (df.count(),
        df.select(col("vec_id"), col("cell").cast("long")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap,
        spark.read.parquet(store).inputFiles.length)
    }
    val (nBefore, cellsBefore, filesBefore) = snapshot()
    assert(nBefore > 0 && filesBefore > VectorOps.KM_K,
      s"expected a fragmented store to compact ($filesBefore files)")

    IngestMaintenance.compactIngest(spark, store, seen, targetFileRows = 1000000L)

    val (nAfter, cellsAfter, filesAfter) = snapshot()
    assert(nAfter == nBefore, s"compaction changed row count: $nAfter vs $nBefore")
    assert(cellsAfter == cellsBefore, "compaction changed cell assignments")
    assert(filesAfter < filesBefore,
      s"compaction did not reduce files: $filesAfter vs $filesBefore")
    // one consolidated batch partition at the never-replayable id -1
    // (an uncommitted final batch replaying after compaction must not be
    // able to overwrite the consolidated data), cell dirs inferred and
    // preserved beneath it
    val batchDirs = Files.list(Paths.get(store)).iterator()
    val names = Iterator.continually(batchDirs).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).filter(_.startsWith("batch=")).toSeq
    assert(names == Seq("batch=-1"), s"expected only batch=-1, got $names")
    val cellDirs = Files.list(Paths.get(s"$store/batch=-1")).iterator()
    val cells = Iterator.continually(cellDirs).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).filter(_.startsWith("cell=")).toSeq
    assert(cells.nonEmpty, "cell partition level lost in compaction")

    // resume on the compacted ledger: a re-delivery adds nothing, new
    // content still lands
    deliver("v3", 0L)
    deliver("v4", 2000000L)
    run()
    val finalDf = spark.read.parquet(store)
    assert(finalDf.count() == nBefore + nBefore / 2,
      s"exactly-once broke after compaction: ${finalDf.count()}")
    assert(finalDf.filter(col("vec_id") >= 2000000L).count() == nBefore / 2)

    // crash-state safety: a store batch with NO ledger entry (ingest died
    // between its data write and its ledger write) must survive
    // compaction IN PLACE — consolidating it would let the restart's
    // replay of that id land the same rows twice
    spark.read.parquet(store).limit(10)
      .withColumn("vec_id", col("vec_id") + lit(7000000L))
      .write.partitionBy("cell").parquet(s"$store/batch=999")
    val totalWithOrphan = spark.read.parquet(store).count()
    IngestMaintenance.compactIngest(spark, store, seen)
    val dirs = Files.list(Paths.get(store)).iterator()
    val after = Iterator.continually(dirs).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet
    assert(after == Set("batch=-1", "batch=999"),
      s"unledgered batch must stay in place: $after")
    assert(spark.read.parquet(store).count() == totalWithOrphan,
      "compaction changed row count around an unledgered batch")
  }

  test("compact with zorderBy preserves content and tightens both file-stat dimensions") {
    import spark.implicits._
    def mkStore(): String = {
      val root = Files.createTempDirectory("graft-zcompact")
      val store = s"$root/store"
      // two ledgered batches of (u, h, payload): u and h independent, so a
      // time/batch layout scatters u
      for (b <- 0 to 1) {
        (0 until 2000).map { i =>
          val id = b * 2000 + i
          (id.toLong, (id * 7919 % 97).toLong, (id % 731).toLong, s"row$id")
        }.toDF("row_id", "u", "h", "payload")
          .coalesce(1).write.parquet(s"$store/batch=$b")
      }
      store
    }
    def boxes(store: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(store).groupBy(input_file_name())
        .agg(min("u"), max("u"), min("h"), max("h"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    def content(store: String): Set[(Long, Long, Long, String)] =
      spark.read.parquet(store).select("row_id", "u", "h", "payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

    val plain = mkStore(); val zed = mkStore()
    val before = content(plain)
    IngestMaintenance.compact(spark, plain, targetFileRows = 250L)
    IngestMaintenance.compact(spark, zed, targetFileRows = 250L,
      zorderBy = Seq("u", "h"))
    assert(content(plain) === before, "plain compaction changed content")
    assert(content(zed) === before, "z-order compaction changed content")

    def meanSpan(bs: Array[(Long, Long, Long, Long)], dim: Int): Double = {
      val spans = bs.map { case (ulo, uhi, hlo, hhi) =>
        if (dim == 0) (uhi - ulo).toDouble else (hhi - hlo).toDouble }
      spans.sum / spans.length
    }
    val (bp, bz) = (boxes(plain), boxes(zed))
    assert(bz.length > 4, s"z-order compaction produced too few files (${bz.length})")
    // plain compaction round-robins rows, so every file spans ~the full
    // range of BOTH dims; the z layout must be materially tighter on both
    assert(meanSpan(bz, 0) < meanSpan(bp, 0) * 0.7,
      s"u spans: z ${meanSpan(bz, 0)} vs plain ${meanSpan(bp, 0)}")
    assert(meanSpan(bz, 1) < meanSpan(bp, 1) * 0.7,
      s"h spans: z ${meanSpan(bz, 1)} vs plain ${meanSpan(bp, 1)}")
  }

  test("an interrupted whole-directory swap is repaired by compact and by the CDC merge") {
    import spark.implicits._
    import java.nio.file.{Path, StandardCopyOption}
    def copyTree(from: Path, to: Path): Unit = {
      val st = Files.walk(from)
      try st.iterator().forEachRemaining { p =>
        val dest = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(dest)
        else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
      } finally st.close()
    }
    def swapDirs(dir: String) = (Paths.get(dir), Paths.get(dir + ".compact"), Paths.get(dir + ".old"))
    val root = Files.createTempDirectory("graft-swap")

    // through compact: a complete staged copy plus the old dir (died
    // between the two moves), then the old dir alone (died before the
    // staged copy was complete)
    val store = s"$root/store"
    for (b <- 0 to 1)
      (0 until 50).map(i => (b * 100L + i, s"t$b-$i")).toDF("doc_id", "text")
        .write.parquet(s"$store/batch=$b")
    def rows() = spark.read.parquet(store).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = rows()
    val (live, staged, old) = swapDirs(store)
    IngestMaintenance.compact(spark, store)
    copyTree(live, staged)
    Files.move(live, old)
    IngestMaintenance.compact(spark, store)
    assert(Files.exists(live) && !Files.exists(staged) && !Files.exists(old),
      "the staged copy was not moved in, or .old was kept")
    assert(rows() == before, "repair from the staged copy changed rows")
    Files.move(live, old)
    IngestMaintenance.compact(spark, store)
    assert(Files.exists(live) && !Files.exists(old), "the old dir was not restored")
    assert(rows() == before, "repair from the old dir changed rows")

    // through the CDC merge: strand the store after batch 2 (merged copy
    // staged, pre-merge store aside), then aside alone after batch 3; the
    // next batch must merge onto the restored store each time
    val batches = Seq(
      Seq((1L, "U", 1L, "a1", 10L), (2L, "U", 2L, "b1", 10L)),
      Seq((3L, "U", 1L, "a2", 20L), (4L, "D", 2L, null: String, 20L),
        (9L, "U", 4L, "d1", 20L)), // doc 4 shows whether batch 2 survived
      Seq((5L, "U", 3L, "c1", 30L), (6L, "U", 1L, "a3", 30L)),
      Seq((7L, "U", 2L, "b2", 40L), (8L, "D", 3L, null: String, 40L)))
      .map(_.toDF("cid", "op", "doc_id", "text", "ts"))
    def table(dir: String) = CdcIngest.table(spark, dir)
      .select("doc_id", "text", "ts", "cid").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val (ref, cdc) = (s"$root/cdc_ref", s"$root/cdc")
    batches.foreach(CdcIngest.applyBatch(spark, ref, _))
    val (cLive, cStaged, cOld) = swapDirs(cdc)
    CdcIngest.applyBatch(spark, cdc, batches(0))
    copyTree(cLive, Paths.get(s"$root/cdc_pre"))
    CdcIngest.applyBatch(spark, cdc, batches(1))
    Files.move(cLive, cStaged)
    Files.move(Paths.get(s"$root/cdc_pre"), cOld)
    CdcIngest.applyBatch(spark, cdc, batches(2))
    assert(!Files.exists(cStaged) && !Files.exists(cOld))
    Files.move(cLive, cOld)
    CdcIngest.applyBatch(spark, cdc, batches(3))
    assert(Files.exists(cLive) && !Files.exists(cOld))
    assert(table(cdc) == table(ref), "a repaired CDC store diverged from an uninterrupted run")
    assert(table(ref) == Set((1L, "a3", 30L, 6L), (2L, "b2", 40L, 7L), (4L, "d1", 20L, 9L)))
  }

  test("deleteDocs erases exactly the victims, rewrites only affected partitions") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-delete")
    val store = s"$root/store"
    // three batch partitions with a secondary cell= level, disjoint ids
    for (b <- 0 to 2)
      (0 until 100).map(i => (b * 1000L + i, s"text-$b-$i", i % 4))
        .toDF("doc_id", "text", "cell")
        .write.partitionBy("cell").parquet(s"$store/batch=$b")

    def rows() = spark.read.parquet(store)
      .select(col("doc_id"), col("text"), col("cell").cast("int"),
        col("batch").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSet
    val before = rows()
    val untouched = Files.getLastModifiedTime(
      Paths.get(s"$store/batch=2")).toMillis

    // victims live only in batches 0 and 1
    val victims = Seq(7L, 42L, 1003L)
    val n = IngestMaintenance.deleteDocs(spark, store, "doc_id", victims)
    assert(n == 3, s"deleted $n rows")
    val after = rows()
    assert(after == before.filterNot(r => victims.contains(r._1)),
      "survivors must be byte-identical to the originals minus victims")
    // the unaffected partition was not rewritten
    assert(Files.getLastModifiedTime(Paths.get(s"$store/batch=2")).toMillis
      == untouched, "unaffected batch partition was rewritten")
    // cell layout preserved in the rewritten partitions
    val cellDirs = Files.list(Paths.get(s"$store/batch=0")).iterator()
    val cells = Iterator.continually(cellDirs).takeWhile(_.hasNext).map(_.next())
      .map(_.getFileName.toString).filter(_.startsWith("cell=")).toSet
    assert(cells == Set("cell=0", "cell=1", "cell=2", "cell=3"))

    // idempotent rerun: nothing more to delete, content unchanged
    assert(IngestMaintenance.deleteDocs(spark, store, "doc_id", victims) == 0L)
    assert(rows() == after)

    // a whole-partition erasure removes the batch dir entirely
    val all0 = (0 until 100).map(i => 0L * 1000 + i)
    assert(IngestMaintenance.deleteDocs(spark, store, "doc_id", all0) == 98L)
    assert(!Files.exists(Paths.get(s"$store/batch=0")))
    assert(rows().forall(_._4 != 0L))

    // crash repair: simulate a run that died between the two moves —
    // live partition gone, original stranded aside — the next run must
    // restore it and re-delete from identical inputs
    val asideRoot = Paths.get(store + ".delold")
    Files.createDirectories(asideRoot)
    Files.move(Paths.get(s"$store/batch=1"), asideRoot.resolve("batch=1"))
    val n2 = IngestMaintenance.deleteDocs(spark, store, "doc_id", Seq(1005L))
    assert(n2 == 1, s"post-repair delete removed $n2 rows")
    assert(!Files.exists(asideRoot))
    assert(rows().count(_._4 == 1L) == 98) // 100 minus 1003 (earlier) and 1005
  }

  test("deleteVecs: leaf-pruned erasure, blob rebuild, KNN never returns an erased id") {
    val root = Files.createTempDirectory("graft-delvec")
    val (src, store, ckpt, seen, idx) =
      (s"$root/src", s"$root/store", s"$root/ckpt", s"$root/seen", s"$root/idx")
    Files.createDirectories(Paths.get(src))
    val cents = VectorOps.seedCentroids(spark, sfDir)
    def deliver(name: String, idOffset: Long): Unit = {
      val stage = s"$root/stage_$name"
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + lit(idOffset))
        .coalesce(1).write.parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator()
      val pf = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(fail("no part file"))
      Files.copy(pf, Paths.get(s"$src/$name.parquet"))
    }
    deliver("v1", 0L)
    deliver("v2", 1000000L)
    val q = VectorIngest.start(spark, src, store, ckpt, seen, cents)
    try q.awaitTermination() finally if (q.isActive) q.stop()
    VectorIngest.buildCellIndexes(spark, store, idx)

    def rows() = spark.read.parquet(store)
      .select(col("vec_id"), col("cell").cast("long"), col("batch").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = rows()
    assert(before.nonEmpty)

    // victims: one id per batch, sharing a known cell each; their own
    // vectors as probes make the strongest possible KNN witness (the
    // erased id would be the EXACT nearest neighbor of its probe)
    val store0 = spark.read.parquet(store)
    val victimRows = store0
      .filter(col("vec_id").isin(7L, 1000011L))
      .select(col("vec_id"), col("cell").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    assert(victimRows.length == 2, "victim ids must exist in the store")
    val victims = victimRows.map(_._1).toSeq
    val victimCells = victimRows.map(_._2).distinct.toSeq

    // pre-delete: the index path finds each victim as its own nearest
    for ((id, cell, v) <- victimRows) {
      val got = VectorIngest.searchHnsw(spark, store, idx, Seq(cell), v, 3)
        .select("vec_id").collect().map(_.getLong(0))
      // the offset twin ties at distance 0, so "in top-3", not "first"
      assert(got.contains(id), s"victim $id not in top-3 of its own vector: ${got.toSeq}")
    }

    val untouchedCell = before.map(_._2).find(!victimCells.contains(_))
      .getOrElse(fail("need a cell with no victims"))
    val untouchedBlobM = Files.getLastModifiedTime(
      Paths.get(idx, s"cell=$untouchedCell.hnsw")).toMillis
    // keep a pre-delete copy of a victim cell's blob for the stale-blob case
    val staleCopy = Paths.get(s"$root/stale.hnsw")
    Files.copy(Paths.get(idx, s"cell=${victimCells.head}.hnsw"), staleCopy)

    val n = IngestMaintenance.deleteVecs(spark, store, victims, Some(idx))
    assert(n == 2, s"deleted $n rows")
    assert(rows() == before.filterNot(r => victims.contains(r._1)),
      "survivors must be exactly the originals minus victims")
    // unaffected cells' blobs were not rebuilt
    assert(Files.getLastModifiedTime(
      Paths.get(idx, s"cell=$untouchedCell.hnsw")).toMillis == untouchedBlobM,
      "unaffected cell blob was rewritten")

    // post-delete: KNN never returns an erased id, even probing the
    // victim's own vector — and the survivors' answers stay exact
    for ((id, cell, v) <- victimRows) {
      val got = VectorIngest.searchHnsw(spark, store, idx, Seq(cell), v, 5)
        .select("vec_id").collect().map(_.getLong(0))
      assert(!got.contains(id), s"erased id $id served by the index path")
      assert(got.nonEmpty, "survivors must still answer")
    }

    // idempotent rerun
    assert(IngestMaintenance.deleteVecs(spark, store, victims, Some(idx)) == 0L)

    // stale-blob defense: restore the PRE-DELETE blob (a crash that
    // somehow resurrected it) — the store-backed re-rank must still
    // never surface the erased id
    Files.copy(staleCopy, Paths.get(idx, s"cell=${victimCells.head}.hnsw"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.vector.Hnsw.evictCached(s"$idx/cell=${victimCells.head}.hnsw")
    val (sid, scell, sv) = victimRows.head
    val staleGot = VectorIngest.searchHnsw(spark, store, idx, Seq(scell), sv, 5)
      .select("vec_id").collect().map(_.getLong(0))
    assert(!staleGot.contains(sid), "stale blob resurrected an erased id")

    // tombstone window: a missing blob (crash between tombstone and
    // rebuild) falls back to the exact scan — correct, never empty
    Files.delete(Paths.get(idx, s"cell=$scell.hnsw"))
    graft.vector.Hnsw.evictCached(s"$idx/cell=$scell.hnsw")
    val fallback = VectorIngest.searchHnsw(spark, store, idx, Seq(scell), sv, 5)
      .select("vec_id").collect().map(_.getLong(0))
    assert(fallback.nonEmpty && !fallback.contains(sid),
      "blob-less cell fallback wrong")
    // exact fallback ≡ brute force over the pruned cell
    val brute = spark.read.parquet(store).filter(col("cell") === scell)
      .select(col("vec_id"),
        graft.functions.VectorExprs.dist2(col("v"), array(sv.map(lit): _*)).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(5)
      .select("vec_id").collect().map(_.getLong(0))
    assert(fallback.toSeq == brute.toSeq, "fallback diverged from brute force")

    // leaf-level crash repair: strand a leaf aside, next run restores it
    val someLeaf = {
      val b = rows().head._3; val c = rows().head._2
      (b, c)
    }
    val asideRoot = Paths.get(store + ".delold")
    Files.createDirectories(asideRoot.resolve(s"batch=${someLeaf._1}"))
    Files.move(
      Paths.get(store, s"batch=${someLeaf._1}", s"cell=${someLeaf._2}"),
      asideRoot.resolve(s"batch=${someLeaf._1}").resolve(s"cell=${someLeaf._2}"))
    val preRepair = rows()
    assert(IngestMaintenance.deleteVecs(spark, store, Seq(-1L), Some(idx)) == 0L)
    assert(!Files.exists(asideRoot))
    assert(rows().size > preRepair.size, "stranded leaf was not restored")

    // erasing a whole cell tombstones its blob for good
    val (wipeCell, wipeIds) = {
      val byCell = rows().groupBy(_._2).minBy(_._2.size)
      (byCell._1, byCell._2.map(_._1).toSeq)
    }
    IngestMaintenance.deleteVecs(spark, store, wipeIds, Some(idx))
    assert(!Files.exists(Paths.get(idx, s"cell=$wipeCell.hnsw")),
      "fully-erased cell kept a stale blob")
    assert(rows().forall(_._2 != wipeCell))
  }
}
