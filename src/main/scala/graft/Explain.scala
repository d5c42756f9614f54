package graft
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** Dev utility: print the formatted physical plan of one or more
  * SparkEntry queries, then one cost line per pass. `runMain graft.Explain
  * <sfDir> <name> [name...]` — the plan-iteration loop the build demands
  * (explain, fix, re-explain).
  *
  * Each query runs twice: `cold` after a cache drop, `warm` right after it,
  * reusing whatever the cold pass persisted (Bench's cold and warm cases).
  * A pass reports frame-build seconds, execution seconds (plan + run
  * through the noop sink) and the Spark jobs, stages, tasks and summed
  * task seconds of build and execution together — the split that tells
  * fixed per-job latency × round count apart from data volume in the
  * iterative gates, which do all of their work while building.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val gates = if (args.length > 1) args.tail.toSeq.map(SparkEntry.gate) else SparkEntry.gates
    val spark = Session.local(Some(sfDir))
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) taskMs.addAndGet(te.taskInfo.duration)
    })
    gates.foreach { case operators.Gate(n, run, _) =>
      // time construction separately: statement-style entries (the GQL
      // mutation gates) do their writes eagerly while BUILDING the frame,
      // so exec-only timing would hide their real cost
      def pass() = {
        ListenerBusBridge.drain(spark.sparkContext)
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
        val tb = System.nanoTime()
        val df = run(spark, sfDir)
        val t0 = System.nanoTime()
        Session.noop(df)
        val t1 = System.nanoTime()
        ListenerBusBridge.drain(spark.sparkContext)
        df -> (f"build ${(t0 - tb) / 1e9}%.3f s  exec ${(t1 - t0) / 1e9}%.3f s  " +
          f"jobs ${jobs.get}  stages ${stages.get}  tasks ${tasks.get}  " +
          f"task ${taskMs.get / 1e3}%.3f s")
      }
      spark.catalog.clearCache()
      val (df, cold) = pass()
      val (_, warm) = pass()
      println(s"===== $n =====")
      df.explain("formatted")
      println(s"[time] $n cold $cold")
      println(s"[time] $n warm $warm")
    }
    spark.stop()
  }
}
