package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the Spark scheduler/executor layer and of Catalyst, fed by
  * a SparkListener and a QueryExecutionListener that the benchmark
  * registers (traced runs only). Read them with [[snapshot]] around an op
  * and subtract; [[drain]] first so every event of the op has arrived. */
final class Layers(spark: SparkSession) {
  private val jobs, tasks, taskNs, gcMs, shuffleWrite, spill = new AtomicLong()
  private val analyzeMs, optimizeMs, planMs = new AtomicLong()
  /** Jobs whose first stage reads parquet footers: the schema-inference
    * job every `spark.read.parquet` runs. Count and wall time. */
  private val inferJobs, inferMs = new AtomicLong()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (e.stageInfos.headOption.exists(_.name.startsWith("parquet at")))
        jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { t0 =>
        inferJobs.incrementAndGet()
        inferMs.addAndGet(e.time - t0)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskNs.addAndGet(m.executorRunTime * 1000000L)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => analyzeMs.addAndGet(p.durationMs))
      ph.get("optimization").foreach(p => optimizeMs.addAndGet(p.durationMs))
      ph.get("planning").foreach(p => planMs.addAndGet(p.durationMs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  /** Counter values by name; subtract two snapshots for one op. */
  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
    "task_s" -> taskNs.get / 1e9, "gc_s" -> gcMs.get / 1e3,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble, "spill_bytes" -> spill.get.toDouble,
    "analyze_ms" -> analyzeMs.get.toDouble, "optimize_ms" -> optimizeMs.get.toDouble,
    "plan_ms" -> planMs.get.toDouble,
    "infer_jobs" -> inferJobs.get.toDouble, "infer_ms" -> inferMs.get.toDouble)

  /** Persisted RDD bytes (memory + disk) and the number of persisted RDDs. */
  def cacheState(): (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum.toDouble, infos.length.toDouble)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Layers {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
