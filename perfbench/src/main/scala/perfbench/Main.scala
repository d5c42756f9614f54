package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --data <dir> --work <dir> --expected <digests.tsv> [--spans <file>]
  * Main gen <data dir>                input tables of every scale factor used
  * Main oracles <out.json>            oracle SQL of every benchmarked gate
  * Main selftest <data dir> <work dir>
  * }}}
  *
  * `run` prints one JSON line last: correct, attempted, failed and the
  * metrics (end-to-end ones untraced, per-layer ones traced).
  */
object Main {
  val CORES = 4
  val WORKLOADS = Seq("gql_resident", "gates_short")

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$CORES]")
      .config("spark.sql.shuffle.partitions", CORES.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      // the status store keeps the last N jobs, stages and SQL executions
      // even without a UI; a small N keeps the retained heap from growing
      // with the number of operations a run happens to complete
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(opts(args.toSeq.tail))
    case Some("gen") => gen(Paths.get(args(1)))
    case Some("oracles") => oracles(Paths.get(args(1)))
    case Some("selftest") => sys.exit(SelfTest.run(Paths.get(args(1)), Paths.get(args(2))))
    case _ =>
      System.err.println("usage: Main run|gen|oracles|selftest ...")
      sys.exit(2)
  }

  /** Generate the tables of every scale factor a workload or a self-test
    * reads, then mark the data directory ready. */
  private def gen(dataRoot: Path): Unit = {
    Seq(GqlWorkload.SF, GateWorkload.SF, "0.001").distinct.foreach(Data.generate(dataRoot, _))
    Files.write(dataRoot.resolve("READY"), Array.emptyByteArray)
  }

  private def oracles(out: Path): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val entries = for (g <- GateWorkload.GATES)
      yield Json.obj(Seq("key" -> Json.str(s"${GateWorkload.SF}/$g"), "sf" -> Json.str(GateWorkload.SF),
        "gate" -> Json.str(g), "sql" -> Json.str(sql(g))))
    Files.write(out, entries.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    require(WORKLOADS.contains(workload), s"unknown workload $workload (one of ${WORKLOADS.mkString(", ")})")
    val traced = o("trace") == "1"
    val expected = GateWorkload.loadExpected(Paths.get(o("expected")))
    val (spark, sessionNs) = Run.timed(session())
    System.err.println(f"[perfbench] session ${sessionNs / 1e9}%.2f s, JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    val heap = new HeapPeak
    val tracer = new Tracer(traced)
    val layers = if (traced) Some(new Layers(spark)) else None
    val work = Paths.get(o("work"))
    Files.createDirectories(work)
    val ctx = Ctx(spark, o("seed").toLong, o("seconds").toDouble, CORES,
      Paths.get(o("data")), work, tracer, layers, heap)
    val m = workload match {
      case "gql_resident" => new GqlWorkload(ctx).run()
      case "gates_short" => new GateWorkload(ctx).run(expected)
    }
    val metrics =
      if (traced) {
        o.get("spans").foreach(p => tracer.write(Paths.get(p)))
        // only the layers this workload exercises; run.py adds the others
        m.perLayer
      } else {
        val e = new Metrics
        e.put("setup_s", sessionNs / 1e9 + m.setupS, "s")
        e.put("heap_retained_mb", m.retainedMb, "MB")
        e.put("ops_ok_ratio", 1 - m.failed.toDouble / math.max(1, m.attempted), "share")
        // a run in which every operation failed has no latencies: 0
        val ok = m.samplesMs.nonEmpty
        e.put("ops_per_s", if (ok) m.opsPerS else 0, "1/s")
        e.put("pass_s", m.perKindMs.values.sum / 1e3, "s")
        e.put("op_p50_ms", if (ok) Stats.median(m.perKindMs.values.toSeq) else 0, "ms")
        e.put("op_p75_ms", if (ok) Stats.percentile(m.samplesMs, 75) else 0, "ms")
        e
      }
    layers.foreach(_.close())
    heap.close()
    spark.stop()
    val correct = m.failed == 0 && m.wrong == 0
    if (!correct)
      System.err.println(s"[perfbench] $workload: ${m.failed} of ${m.attempted} ops failed (${m.wrong} wrong results)")
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> m.attempted.toString,
      "failed" -> m.failed.toString, "metrics" -> metrics.toJson)))
  }
}

/** Peak heap occupancy after garbage collection: the largest heap still in
  * use right after any collection since [[reset]] (live data plus what the
  * collector chose to keep), in MB. */
final class HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools.contains(pool) => u.getUsed
        }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case b: NotificationEmitter => b
  }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }

  /** The peak since [[reset]]; the current heap use if no collection ran. */
  def peakMb: Double = synchronized {
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / 1048576.0
  }

  def close(): Unit = beans.foreach(b => scala.util.Try(b.removeNotificationListener(listener)))
}
