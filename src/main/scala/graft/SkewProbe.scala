package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew probe (dev tool, sibling of [[ScaleProbe]]): measure what salting
  * actually buys under a manufactured hot key, instead of asserting it.
  *
  * Workload: lineitem ⋈ supplier with every row whose l_orderkey ≡ 0
  * (mod 5) — exactly 20% of the fact — reassigned to ONE hot supplier,
  * then the q_salted_join rollup. Two executions per multiple:
  *   - unsalted: plain equi-join with the same shuffle_hash hint the
  *     salted path uses (broadcast would hide the skew — and at 100 TB
  *     the dim doesn't broadcast), so the hot key's rows all land on one
  *     reducer — the straggler;
  *   - salted: [[graft.operators.SkewOps.saltedJoin]], hot key spread
  *     over SALTS reducers.
  * Both aggregates are collected once and compared — the probe refuses to
  * time two computations that disagree. Reuses ScaleProbe's replicated
  * dirs (key-shifted copies), `runMain graft.SkewProbe [sfDir] [mults]`.
  *
  * Wall time on local[32] UNDERSTATES the skew cost: while one reducer
  * grinds the hot key, the other 31 cores absorb the remaining
  * partitions, so the straggler hides inside the same wall clock. On a
  * 1000-executor cluster the stage ends when its LAST task does — so the
  * probe also records per-task durations (listener) and reports the
  * max/median task ratio, which is the number that predicts cluster
  * behavior.
  */
object SkewProbe {

  /** Collects task durations for the straggler metric. */
  private class TaskStats extends org.apache.spark.scheduler.SparkListener {
    val durs = scala.collection.mutable.ArrayBuffer[Long]()
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      synchronized { if (t.taskInfo != null) durs += t.taskInfo.duration }
    def reset(): Unit = synchronized { durs.clear() }
    /** (max task s, median task s) over the recorded window. */
    def snapshot(): (Double, Double) = synchronized {
      val d = durs.toArray.sorted
      if (d.isEmpty) (0.0, 0.0)
      else (d.last / 1000.0, d(d.length / 2) / 1000.0)
    }
  }
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val mults = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
                else Seq(1, 16, 64)
    val spark = Session.local(Some(sfDir))
    // AQE's skew mitigation would partially rescue the unsalted run;
    // disable it so the probe isolates what SALTING buys (PERF.md notes
    // AQE skew-join as the complementary runtime net)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    import Session.noop
    noop(spark.range(1000).selectExpr("sum(id)").toDF())

    val srcTag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val out = mults.map { m =>
      val dir = s"/tmp/graft_scale_${srcTag}_$m"
      if (!Files.exists(Paths.get(dir, "_built"))) ScaleProbe.build(spark, sfDir, m, dir)
      Seq("lineitem", "supplier").foreach(t =>
        noop(spark.read.parquet(s"$dir/$t.parquet")))

      val dim = Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      val hot = dim.agg(min(col("suppkey"))).head().getLong(0)
      val fact = Tables.lineitem(spark, dir)
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"), col("l_quantity"))
        .withColumn("suppkey",
          when(pmod(col("l_orderkey"), lit(5)) === 0, lit(hot))
            .otherwise(col("suppkey")))
      def rollup(joined: DataFrame): DataFrame = joined
        .groupBy(col("suppkey"), col("s_name"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))
      val unsalted = rollup(fact.join(dim.hint("shuffle_hash"), Seq("suppkey")))
      val salted = rollup(graft.operators.SkewOps.saltedJoin(
        fact, dim, "suppkey", "l_orderkey", graft.operators.SkewOps.SALTS))

      // result-invariance before timing: same rows or the timings are void
      val a = unsalted.collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getLong(3))).sortBy(_._1)
      val b = salted.collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getLong(3))).sortBy(_._1)
      require(a.sameElements(b),
        s"salted and unsalted joins disagree at ${m}x — probe void")

      val stats = new TaskStats
      spark.sparkContext.addSparkListener(stats)
      // (wall s, max task s, median task s) — second run timed (warm), so
      // task stats describe a steady-state execution
      def time(df: DataFrame): (Double, Double, Double) = {
        noop(df)
        stats.reset()
        val t0 = System.nanoTime()
        noop(df)
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are posted async: drain before reading
        org.apache.spark.sql.graftbridge.ListenerBusBridge.drain(spark.sparkContext)
        val (mx, med) = stats.snapshot()
        (wall, mx, med)
      }
      val (tu, tuMax, tuMed) = time(unsalted)
      val (ts, tsMax, tsMed) = time(salted)
      spark.sparkContext.removeSparkListener(stats)
      spark.catalog.clearCache()
      println(f"SKEW ${m}%dx hot=20%% unsalted $tu%.2f s (task max/med $tuMax%.2f/$tuMed%.2f)  " +
        f"salted $ts%.2f s (task max/med $tsMax%.2f/$tsMed%.2f)")
      m -> (tu, tuMax, tuMed, ts, tsMax, tsMed)
    }
    val json = out.map { case (m, (tu, tuMax, tuMed, ts, tsMax, tsMed)) =>
      s""""${m}":{"unsalted":${f"$tu%.3f"},"unsalted_task_max":${f"$tuMax%.3f"},""" +
        s""""unsalted_task_med":${f"$tuMed%.3f"},"salted":${f"$ts%.3f"},""" +
        s""""salted_task_max":${f"$tsMax%.3f"},"salted_task_med":${f"$tsMed%.3f"}}"""
    }.mkString(",")
    println(s"""{"probe":"skew","sf":"$sfDir","salts":${graft.operators.SkewOps.SALTS},"mults":{$json}}""")
    spark.stop()
  }
}
