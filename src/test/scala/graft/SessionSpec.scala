package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The session policy every entry point shares. The suite's own session is
  * built by [[Session.local]], so it must carry each pinned conf: drift in
  * exactly these values once made probe timings disagree with Bench's. */
class SessionSpec extends AnyFunSuite {
  import SparkTestBase._

  test("Session.local pins time zone, partitioning and cached-plan confs") {
    val c = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(c.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "4")
    assert(c.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("scaledInitialPartitions floors at cpus and grows by 32 MB of input") {
    assert(Session.scaledInitialPartitions(sfDir, 4) == 4)
    val dir = Files.createTempDirectory("graft-session")
    assert(Session.scaledInitialPartitions(dir.resolve("missing").toString, 4) == 4)
    // a sparse file: 64 MB + 1 byte of input bytes without writing them
    val f = dir.resolve("t.parquet")
    val raf = new java.io.RandomAccessFile(f.toFile, "rw")
    try raf.setLength((64L << 20) + 1) finally raf.close()
    try {
      assert(Session.scaledInitialPartitions(dir.toString, 1) == 3)
      assert(Session.scaledInitialPartitions(dir.toString, 8) == 8)
    } finally { Files.delete(f); Files.delete(dir) }
  }
}
