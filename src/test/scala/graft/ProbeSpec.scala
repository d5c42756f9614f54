package graft

import java.nio.file.Files

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Gate

/** The probe CLI's parts: both replica recipes, one pass's counters, and a
  * failing gate that is reported without stopping the ones after it. */
class ProbeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestBase._

  private lazy val root = Files.createTempDirectory("graft-probe").toString
  override def afterAll(): Unit = JavaUtils.deleteRecursively(new java.io.File(root))

  private def count(dir: String, t: String): Long = Tables(spark, dir, t).count()
  private def keys(dir: String, t: String, k: String): Long =
    Tables(spark, dir, t).select(k).distinct().count()

  test("key-shifted replica doubles the scaled tables and their entity keys, copies dims once") {
    val dir = Probe.replica(spark, sfDir, Probe.KeyShifted, 2, root)
    assert(dir.startsWith(root) && dir.contains("shifted") && dir.endsWith("_2"))
    assert(Files.exists(java.nio.file.Paths.get(dir, "_built")))
    val scaled = Seq("documents" -> Seq("doc_id"), "events" -> Seq("event_id", "user_id"),
      "lineitem" -> Seq("l_orderkey"), "embeddings" -> Seq("vec_id"),
      "orders" -> Seq("o_orderkey", "o_custkey"))
    scaled.foreach { case (t, ks) =>
      assert(count(dir, t) == 2 * count(sfDir, t), t)
      ks.foreach(k => assert(keys(dir, t, k) == 2 * keys(sfDir, t, k), s"$t.$k"))
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach(t =>
      assert(count(dir, t) == count(sfDir, t), t))
    // the loaders still read the replica (events' ts branch included)
    assert(Tables.events(spark, dir).count() == 2 * count(sfDir, "events"))
  }

  test("disjoint replica gives each copy its own tokens and customer names") {
    val dir = Probe.replica(spark, sfDir, Probe.Disjoint, 2, root)
    def tokens(copy1: Boolean) = Tables.documents(spark, dir)
      .filter((col("doc_id") >= 10000000L) === copy1)
      .select(explode(split(col("text"), " ")).as("t")).distinct()
    assert(tokens(copy1 = false).count() > 0)
    assert(tokens(copy1 = false).intersect(tokens(copy1 = true)).count() == 0)
    assert(count(dir, "documents") == 2 * count(sfDir, "documents"))

    val orig = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name").as("orig"))
    val copy1 = Tables.customer(spark, dir).filter(col("c_custkey") >= 10000000L)
      .select((col("c_custkey") - 10000000L).as("c_custkey"), col("c_name"))
    val paired = copy1.join(orig, "c_custkey")
    assert(paired.count() == orig.count())
    assert(paired.filter(col("c_name") === col("orig")).count() == 0)
  }

  private lazy val explained = {
    val boom = Gate("q_boom", (_, _) => throw new IllegalStateException("boom"), "")
    val r = Probe.explain(spark, sfDir, Seq(boom, SparkEntry.gate("q_point_lookup")))
    r.close()
    r
  }

  test("a pass reports the jobs and tasks of its cold and warm runs") {
    val (cold, warm) = explained.runs(("q_point_lookup", 1))
    assert(cold.jobs >= 1 && cold.tasks >= 1, cold)
    assert(warm.jobs >= 1 && warm.tasks >= 1, warm)
    assert(cold.taskMaxS >= cold.taskMedS)
  }

  test("a throwing gate is reported and the next gate still runs") {
    assert(explained.errors.toMap == Map(("q_boom", 1) -> "boom"))
    assert(explained.runs.keySet == Set(("q_point_lookup", 1)))
    val json = explained.json
    assert(json.contains(""""errors":{"q_boom":{"1":"boom"}}"""), json)
    assert(json.contains(""""q_point_lookup":{"1":{"cold":{"build_s":"""), json)
  }

  test("scale runs each gate on its family's replica") {
    val r = Probe.scale(spark, sfDir, Seq(1, 2), Seq("q1_agg", "q_entity_match"), root)
    r.close()
    assert(r.errors.isEmpty, r.errors)
    assert(r.runs.keySet ==
      (for (g <- Set("q1_agg", "q_entity_match"); m <- Set(1, 2)) yield (g, m)))
    Seq("shifted", "disjoint").foreach(tag =>
      assert(new java.io.File(root).list().exists(n => n.contains(tag) && n.endsWith("_1")), tag))
  }
}
