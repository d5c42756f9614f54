package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.Row

/** `gates_short`: a fixed list of gates from `graft.SparkEntry.queries`, run in passes in
  * a seeded order. Each gate is built (`queries(name)(spark, dir)`, which
  * runs every eager action of its construction), then executed by
  * collecting its rows with `collect()`, and the rows are checked against the
  * digest derived from the gate's DuckDB oracle. The cache is cleared
  * between gates.
  *
  * Set-up resolves every input table; [[warmUp]] runs every gate once.
  */
final class GateWorkload(ctx: Ctx) {
  import GateWorkload._

  private val spark = ctx.spark
  private val queries = graft.SparkEntry.queries

  /** One set-up: resolve every input table through `graft.Tables`. */
  private def resolveTables(dir: String): Unit = {
    import graft.Tables
    Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _, Tables.part _,
      Tables.orders _, Tables.lineitem _, Tables.events _, Tables.documents _, Tables.embeddings _)
      .foreach(_(spark, dir))
  }

  /** Warm-up: every gate once, four at a time, so the JIT and code
    * generation are warm before the first timed gate. A warm-up failure is
    * reported and left to the timed runs, which check every result. */
  private def warmUp(dir: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WARMUP_THREADS)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = GATES.map(g => Future {
        try queries(g)(spark, dir).collect()
        catch { case e: Exception => System.err.println(s"[gates] warm-up of $g threw: $e") }
      })
      Await.result(Future.sequence(runs), Duration.Inf)
    } finally pool.shutdown()
    spark.catalog.clearCache()
    Run.settle(spark)
  }

  def run(expected: Map[String, String]): Measured = {
    val dir = Data.dir(ctx.dataRoot, SF)
    val missing = GATES.filterNot(g => queries.contains(g) && expected.contains(s"${SF}/$g"))
    require(missing.isEmpty, s"no gate or no expected digest for: ${missing.mkString(", ")}")
    val setups = (1 to SETUPS).map(_ => Run.timed(resolveTables(dir))._2 / 1e9)
    val (_, warmNs) = Run.timed(warmUp(dir))
    val perLayer = new Metrics
    if (ctx.traced) Run.probeTables(ctx, dir, perLayer)

    val rnd = new Random(ctx.seed)
    val ops = mutable.ArrayBuffer[OpRecord]()
    var attempted = 0
    var failed = 0
    var wrong = 0
    var id = 0
    val seen = mutable.Set[String]()
    ctx.heap.reset()
    val t0 = System.nanoTime()
    // whole passes are not required: the run ends once the time is up and
    // every gate has been measured at least once (a gate that keeps failing
    // is never measured: stop at four times the time)
    def elapsed = (System.nanoTime() - t0) / 1e9
    def wanted(g: String) = elapsed < ctx.seconds || (elapsed < 4 * ctx.seconds && !seen.contains(g))
    while (GATES.exists(wanted)) {
      val order = rnd.shuffle(GATES)
      order.foreach { g =>
        if (wanted(g)) {
          id += 1
          attempted += 1
          var rows: Array[Row] = null
          var schema: org.apache.spark.sql.types.StructType = null
          var error: Option[String] = None
          val rec = Run.op(ctx, id, g) {
            try {
              val (df, b) = Run.timed(ctx.tracer.span("operators.build")(queries(g)(spark, dir)))
              val (r, e) = Run.timed(ctx.tracer.span("operators.exec")(df.collect()))
              rows = r
              schema = df.schema
              (b, e)
            } catch {
              case ex: Exception =>
                error = Some(s"${ex.getClass.getSimpleName}: ${ex.getMessage}")
                (0L, 0L)
            }
          }
          spark.catalog.clearCache()
          ListenerBusDrain(spark.sparkContext)
          val verdict = error.orElse {
            val got = Digest.of(schema, rows.toSeq)
            val want = expected(s"${SF}/$g")
            if (got == want) None else {
              wrong += 1
              Some(s"WRONG RESULT: digest $got, expected $want")
            }
          }
          verdict match {
            case Some(v) =>
              failed += 1
              System.err.println(s"[gates] $g failed: $v")
            case None =>
              ops += rec
              seen += g
          }
        }
      }
    }
    val retained = Run.retainedHeapMb()

    System.err.println(f"[gates] set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s, warm-up ${warmNs / 1e9}%.2f s, " +
      f"$attempted gate runs in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val byGate = ops.groupBy(_.kind)
    byGate.toSeq.sortBy(_._1).foreach { case (g, os) =>
      System.err.println(f"[gates]   $g%-18s ${os.map(o => f"${o.wallNs / 1e6}%.0f").mkString(" ")} ms")
    }
    val perGate = byGate.map { case (g, os) => g -> Stats.median(os.map(_.wallNs / 1e6).toSeq) }
    if (ctx.traced) {
      Run.commonLayers(ctx, ops.toSeq, perLayer)
      perLayer.put("operators.build_s", Stats.mean(ops.map(_.buildNs / 1e9).toSeq), "s/op")
      perLayer.put("operators.exec_s", Stats.mean(ops.map(_.execNs / 1e9).toSeq), "s/op")
    }
    // each gate weighs once in the latencies: its median is its sample. The
    // rate counts every correct gate run over the time those runs took.
    Measured(attempted, failed, wrong, perGate.values.toSeq, perGate,
      ops.size / (ops.map(_.wallNs).sum / 1e9), Stats.median(setups) + warmNs / 1e9, retained, perLayer)
  }
}

object GateWorkload {
  val SETUPS = 3

  val WARMUP_THREADS = 4
  val SF = "0.1"
  /** Sub-second relational, text, vector and event gates, where fixed
    * per-gate overhead (table resolution, job launch, Catalyst) dominates. */
  val GATES = Seq("q_point_lookup", "q_filter_range", "q_join_agg", "q_topk", "q_knn",
    "q_window_agg", "q_semi_join", "q_in_list", "q_sessionize", "q_dedup_exact",
    "q_funnel", "q_ship_priority")

  /** Expected digests, `<sf>/<gate>` -> digest, from the benchmark's
    * `expected/digests.tsv`. */
  def loadExpected(file: Path): Map[String, String] =
    Files.readAllLines(file).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, v) = l.split("\t", 2)
      k -> v
    }.toMap
}
