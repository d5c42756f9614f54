package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one benchmark run has to hand: the session, the run's settings,
  * the tracer and (traced runs only) the layer counters. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, cores: Int,
                     dataRoot: Path, work: Path, tracer: Tracer, layers: Option[Layers],
                     heap: HeapPeak) {
  def traced: Boolean = tracer.enabled
}

/** One timed operation (a statement or a gate run). `kind` is the
  * statement class or the gate name. Counter deltas and cache state are
  * filled in traced runs only. */
final case class OpRecord(id: Int, kind: String, wallNs: Long,
                          buildNs: Long, execNs: Long,
                          counters: Map[String, Double] = Map.empty,
                          cacheBytes: Double = 0, cacheRdds: Double = 0)

/** A named metric with its unit, in output order. */
final class Metrics {
  private val values = mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def toJson: String = Json.obj(values.toSeq.map { case (k, (v, u)) =>
    k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
  })
}

/** What a workload measured. `samplesMs` are the op latencies with every
  * kind of op weighted equally, `perKindMs` each kind's median latency,
  * `setupS` the median set-up plus the warm-up, `retainedMb` the heap in
  * use after a full collection at the end of the timed phase; `failed`
  * counts ops that threw, returned an error or returned a wrong answer
  * (`wrong`). */
final case class Measured(attempted: Int, failed: Int, wrong: Int,
                          samplesMs: Seq[Double], perKindMs: Map[String, Double],
                          opsPerS: Double, setupS: Double, retainedMb: Double, perLayer: Metrics)

object Run {
  /** Spans around the layer calls of a timed op, whose self time per op a
    * traced run reports. */
  val SPANS = Seq("op", "operators.build", "operators.exec", "gql.parse",
    "gql.execStmt", "gql.collect", "catalog.read", "catalog.write")

  /** Time `body`, returning (result, elapsed ns). */
  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** Run one op: begin the op in the tracer, snapshot the counters, run
    * `body` (which returns its build and exec nanoseconds), then read the
    * counter deltas once the listener bus has drained. */
  def op(ctx: Ctx, id: Int, kind: String)(body: => (Long, Long)): OpRecord = {
    ctx.tracer.beginOp(id)
    val before = ctx.layers.map { l => l.drain(); l.snapshot() }
    val ((b, e), wall) = timed(ctx.tracer.span("op")(body))
    val rec = OpRecord(id, kind, wall, b, e)
    (before, ctx.layers) match {
      case (Some(b0), Some(l)) =>
        l.drain()
        val (bytes, rdds) = l.cacheState()
        rec.copy(counters = Layers.delta(l.snapshot(), b0), cacheBytes = bytes, cacheRdds = rdds)
      case _ => rec
    }
  }

  /** Per-layer metrics shared by every workload, from a traced run's ops:
    * Spark scheduler/executor counters, Catalyst phases, schema inference,
    * cache state, the per-span self times, and `pass_s` with tracing on
    * (minus the untraced run's `pass_s` at the same seed, the tracing
    * overhead). */
  def commonLayers(ctx: Ctx, ops: Seq[OpRecord], m: Metrics): Unit = {
    def perOp(key: String): Double = Stats.mean(ops.map(_.counters.getOrElse(key, 0.0)))
    m.put("tables.resolve_ms", perOp("infer_ms"), "ms/op")
    m.put("tables.resolve_jobs", perOp("infer_jobs"), "jobs/op")
    m.put("catalyst.analyze_ms", perOp("analyze_ms"), "ms/op")
    m.put("catalyst.optimize_ms", perOp("optimize_ms"), "ms/op")
    m.put("catalyst.plan_ms", perOp("plan_ms"), "ms/op")
    m.put("spark.jobs", perOp("jobs"), "jobs/op")
    m.put("spark.tasks", perOp("tasks"), "tasks/op")
    m.put("spark.task_s", perOp("task_s"), "s/op")
    m.put("spark.gc_s", perOp("gc_s"), "s/op")
    m.put("spark.shuffle_write_bytes", perOp("shuffle_write_bytes"), "bytes/op")
    m.put("spark.spill_bytes", perOp("spill_bytes"), "bytes/op")
    val wallS = ops.map(_.wallNs).sum / 1e9
    val taskS = ops.map(_.counters.getOrElse("task_s", 0.0)).sum
    m.put("spark.idle_core_share", if (wallS > 0) 1 - taskS / (wallS * ctx.cores) else 0, "share")
    m.put("cache.storage_bytes", if (ops.isEmpty) 0 else ops.map(_.cacheBytes).max, "bytes")
    m.put("cache.rdds", if (ops.isEmpty) 0 else ops.map(_.cacheRdds).max, "count")
    m.put("jvm.heap_peak_mb", ctx.heap.peakMb, "MB")
    val self = ctx.tracer.selfNanos(ops.map(_.id).toSet)
    SPANS.foreach { n =>
      m.put(s"self_ms.$n", if (ops.isEmpty) 0 else self.getOrElse(n, 0L) / 1e6 / ops.size, "ms/op")
    }
    m.put("trace.pass_s", ops.groupBy(_.kind).values.map(os => Stats.median(os.map(_.wallNs / 1e9))).sum, "s")
  }

  /** Let the session go quiet after a warm-up: the listener bus delivers
    * its backlog, and a collection hands unreachable shuffles and
    * broadcasts to Spark's ContextCleaner, which frees them meanwhile. The
    * timed ops then do not share the cores with that work. */
  def settle(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    System.gc()
    Thread.sleep(1000)
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
  }

  /** Heap in use (MB) after full collections: what the session retains.
    * Spark's ContextCleaner frees shuffle and broadcast state only after a
    * collection has found it unreachable, so collect three times. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Direct calls into the table loaders: median wall time of one
    * `graft.Tables` resolution and the schema-inference jobs it runs. */
  def probeTables(ctx: Ctx, sfDir: String, m: Metrics): Unit = {
    val loaders: Seq[(org.apache.spark.sql.SparkSession, String) => Any] = Seq(
      graft.Tables.customer, graft.Tables.orders, graft.Tables.lineitem,
      graft.Tables.events, graft.Tables.documents, graft.Tables.embeddings)
    val recs = (0 until 3).flatMap(r => loaders.zipWithIndex.map { case (f, i) =>
      op(ctx, -1 - (r * loaders.size + i), "tables") {
        val (_, ns) = timed(ctx.tracer.span("tables.resolve")(f(ctx.spark, sfDir)))
        (ns, 0L)
      }
    })
    m.put("tables.probe_ms", Stats.median(recs.map(_.wallNs / 1e6)), "ms")
    m.put("tables.probe_jobs", Stats.mean(recs.map(_.counters.getOrElse("infer_jobs", 0.0))), "jobs")
  }
}
