package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Superstep

/** The superstep driver's contract: the lineage cut follows the step's
  * shape, the round cap fails loudly, and the driver releases every frame
  * it persisted except the returned round. */
class SuperstepSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private def cachedEntries: Int = org.apache.spark.sql.graftbridge.CacheEntries(spark)

  private def ids(n: Long): DataFrame = spark.range(n).select(col("id").as("v"))

  private def isCut(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]

  test("a step reading the previous round once persists only the returned round") {
    val before = cachedEntries
    val r = Superstep.iterate(ids(10), 3)(r => r.last.select((col("v") + 1).as("v")))
    assert(r.frames.size == 4 && !r.frames.exists(isCut))
    assert(r.last.storageLevel != StorageLevel.NONE)
    assert(r.frames.init.forall(_.storageLevel == StorageLevel.NONE))
    assert(r.last.agg(sum("v")).head().getLong(0) == (3 to 12).sum)
    // an identical build resolves to the same cache entry
    val again = Superstep.iterate(ids(10), 3)(r => r.last.select((col("v") + 1).as("v")))
    assert(cachedEntries == before + 1)
    again.last.unpersist()
  }

  test("a step reading the previous round twice cuts every round, counting as it goes") {
    def doubling(init: DataFrame) = Superstep.iterate(init, 3) { r =>
      r.last.unionByName(r.last.select((col("v") + 4 * r.index).as("v")))
    }
    val r = doubling(ids(4).distinct())
    assert(r.frames.forall(isCut))
    assert(r.rows == Vector(4L, 8L, 16L, 32L))
    assert(r.last.count() == 32L)
    // a range input has exact statistics and nothing to recompute: not cut
    val fromRange = doubling(ids(4))
    assert(!isCut(fromRange.frames.head) && fromRange.frames.tail.forall(isCut))
    assert(fromRange.rows == Vector(-1L, 8L, 16L, 32L))
  }

  test("a step reading an earlier round, or a levels union, cuts every round") {
    // the anti-join reads every level so far: all rounds must stay readable
    val reached = Superstep.iterate(ids(1), 3) { r =>
      r.last.select((col("v") + 1).as("v")).join(r.all, Seq("v"), "left_anti")
    }
    assert(reached.frames.tail.forall(isCut) && reached.rows.tail == Vector(1L, 1L, 1L))
    // one read by the step plus one by the union: cut as well
    val corpus = Superstep.levels(ids(2), 3)(r => r.last.select((col("v") + 10).as("v")))
    assert(corpus.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 10L, 11L, 20L, 21L, 30L, 31L))
  }

  test("readEach reads every frame eagerly and keeps none of them") {
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cachedEntries
    val storedBefore = stored
    var peak = 0 // checkpoints held while a frame is read: it and its input
    val sums = Superstep.readEach(ids(4).distinct(), 3) { last =>
      last.unionByName(last.select((col("v") + 4).as("v"))).distinct()
    } { frame =>
      val total = frame.agg(sum("v")).head().getLong(0)
      peak = peak.max((stored -- storedBefore).size)
      total
    }
    assert(sums == Vector(6L, 28L, 66L, 120L))
    assert(peak == 2)
    assert(cachedEntries == before)
    assert((stored -- storedBefore).isEmpty, "a read checkpoint was kept")
  }

  test("iterateUntil stops at the first round the test accepts") {
    val r = Superstep.iterateUntil(ids(100), 50) { r =>
      r.last.filter(col("v") < 10).unionByName(r.last.filter(col("v") < 10))
        .distinct()
    }(_.unchanged)
    assert(r.rows == Vector(100L, 10L, 10L))
  }

  test("fixpoint throws at the cap and releases what it persisted") {
    val before = cachedEntries
    val e = intercept[IllegalStateException] {
      Superstep.fixpoint(ids(5), 3, "shrinking loop") { r =>
        r.last.join(r.last.select(col("v").as("w")), col("v") === col("w"))
          .select((col("v") + 1).as("v"))
      }(_.rows.last == 0L)
    }
    assert(e.getMessage.contains("shrinking loop did not converge in 3 rounds"))
    assert(cachedEntries == before)
  }
}
