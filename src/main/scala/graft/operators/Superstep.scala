package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project, Range, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** The one driver of every iterative DataFrame loop (a Pregel superstep
  * as a dataflow: vertex state ⋈ messages, then a group-by — Pregelix,
  * VLDB 2014). A caller supplies the input frame and a `step` that builds
  * round k from the rounds so far; the driver owns everything about how
  * the rounds run:
  *
  *  - '''Round count.''' [[iterate]] runs exactly n rounds; [[iterateUntil]]
  *    runs at most n and stops early once `stop` holds (for loops whose
  *    gated semantics is the n-round unroll and whose later rounds are
  *    identity at a fixpoint); [[fixpoint]] runs until `done` holds and
  *    throws `IllegalStateException` when the cap is reached first, so a
  *    truncated iteration never ships a partial answer. [[levels]] runs n
  *    rounds and returns every frame unioned (a reached set, a corpus);
  *    [[readEach]] runs n rounds of a step over the previous round alone
  *    and returns one eager readout per frame (a per-round curve).
  *  - '''Lineage cut.''' Before round 1 the driver builds one probe round
  *    over two empty, uniquely aliased copies of the input (an earlier
  *    round and the previous one) and counts each alias in the probe's
  *    analyzed plan; the [[levels]] union counts as one more read of every
  *    round. A step that reads the previous round ONCE and no earlier
  *    round keeps a linear plan, so its rounds `persist`: the plan stays
  *    canonical and CacheManager shares identical rounds across gates
  *    (q_label_prop's rounds feed q_modularity). A round read TWICE or
  *    more would grow the plan exponentially in the round count (driver
  *    analysis time, then OOM), and a step that reads earlier rounds needs
  *    every one kept, so then every round is `localCheckpoint`ed, and so
  *    is the input unless it is a projection of literal rows, a range or a
  *    cut leaf (exact statistics, nothing to recompute). No caller
  *    argument, conf or env var picks the cut — the step's shape does.
  *  - '''Convergence probe.''' A round's row count comes out of the job
  *    that materializes it (the checkpoint job counts the rows it
  *    stores), so a row-count test costs no extra job. Row counts are
  *    kept only where a round is materialized: checkpointed rounds, and
  *    every round of a loop that has a stop test. Lazy rounds record -1.
  *  - '''Release.''' Every frame the driver persists for its own rounds is
  *    unpersisted before it returns (or throws), except the returned
  *    round. A fixed-count persisted loop leaves its intermediate rounds
  *    lazy and persists only the last one. [[readEach]] returns no frame:
  *    it drops each frame it made, persisted or checkpointed, as soon as
  *    the next one is materialized and read, so at most two rounds are
  *    held at once.
  *
  * `step` runs once per round plus once for the probe, whose input is
  * empty (row count 0), so jobs a step runs itself (nested loops) stay
  * cheap there, and side outputs it records are empty frames.
  */
object Superstep {

  /** The rounds so far: `frames(0)` is the input, `frames(k)` round k;
    * `rows(k)` its row count, or -1 where the round was not materialized. */
  final case class Rounds(frames: Vector[DataFrame], rows: Vector[Long]) {
    /** The number of the round a step is building (rounds are 1-based). */
    def index: Int = rows.size
    def last: DataFrame = frames.last
    /** The round before the newest one (stop and done tests compare them). */
    def prev: DataFrame = frames(frames.size - 2)
    /** All frames unioned by name — the reached set of a level loop. */
    def all: DataFrame = frames.reduce(_ unionByName _)
    /** The newest round has as many rows as the one before it. */
    def unchanged: Boolean = rows.size > 1 && rows.last == rows(rows.size - 2)
  }

  /** Exactly `rounds` rounds. */
  def iterate(init: DataFrame, rounds: Int)(step: Rounds => DataFrame): Rounds =
    run(init, rounds)(step)

  /** At most `rounds` rounds, stopping after the first round for which
    * `stop` holds. */
  def iterateUntil(init: DataFrame, rounds: Int)(step: Rounds => DataFrame)(
      stop: Rounds => Boolean): Rounds =
    run(init, rounds, until = Some(stop))(step)

  /** Rounds until `done` holds; throws when `cap` rounds did not get
    * there. `what` names the loop in the error. */
  def fixpoint(init: DataFrame, cap: Int, what: String)(step: Rounds => DataFrame)(
      done: Rounds => Boolean): Rounds =
    run(init, cap, until = Some(done), failAs = Some(what))(step)

  /** Exactly `rounds` rounds; returns the input and every round unioned
    * by name. */
  def levels(init: DataFrame, rounds: Int)(step: Rounds => DataFrame): DataFrame =
    run(init, rounds, unionAll = true)(step).all

  /** Exactly `rounds` rounds of a step over the previous round alone;
    * `read` runs on the input and on each round as soon as it is
    * materialized. Returns the readouts, input first. */
  def readEach[A](init: DataFrame, rounds: Int)(step: DataFrame => DataFrame)(
      read: DataFrame => A): Vector[A] = {
    val out = Vector.newBuilder[A]
    run(init, rounds, read = Some((df: DataFrame) => out += read(df)))(r => step(r.last))
    out.result()
  }

  private val marks = new AtomicLong()

  private def run(init: DataFrame, cap: Int, until: Option[Rounds => Boolean] = None,
      failAs: Option[String] = None, unionAll: Boolean = false,
      read: Option[DataFrame => Unit] = None)(step: Rounds => DataFrame): Rounds = {
    val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = // a frame cached by someone else stays theirs
      if (df.storageLevel != StorageLevel.NONE) df
      else { owned += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    def release(except: DataFrame): Unit = {
      owned.filterNot(_ eq except).foreach(_.unpersist(false))
      owned.filterInPlace(_ eq except)
    }
    try {
      // the probe: one round built over two empty, uniquely aliased copies
      // of the input; its plan says how often a round reads its
      // predecessor and whether it reads anything older
      val older = s"superstep_${marks.incrementAndGet()}"
      val previous = s"superstep_${marks.incrementAndGet()}"
      val empty = init.limit(0)
      val probe = step(Rounds(Vector(empty.as(older), empty.as(previous)), Vector(0L, 0L)))
      val cut = readsOf(probe, older) > 0 ||
        readsOf(probe, previous) + (if (unionAll) 1 else 0) >= 2
      // a readout runs first, in the job that fills the frame's storage;
      // the row count after it only scans the stored blocks
      def materialize(df: DataFrame, last: Boolean): (DataFrame, Long) = {
        val (frame, rows) =
          if (cut) { val c = df.localCheckpoint(eager = false); (c, () => rddOf(c).count()) }
          else if (until.isDefined) { val p = keep(df); (p, () => rowsOf(p)) }
          else if (last || read.isDefined) (keep(df), () => -1L)
          else (df, () => -1L)
        read.foreach(_(frame))
        (frame, rows())
      }
      // readEach drops the checkpoints it has read (`release` the persists)
      def drop(df: DataFrame): Unit = if (cut && (df ne init)) rddOf(df).unpersist(false)
      val (in, n0) =
        if (until.isDefined || read.isDefined || cut && !isLeaf(init))
          materialize(init, last = false)
        else (init, -1L)
      var r = Rounds(Vector(in), Vector(n0))
      var stopped = false
      while (!stopped && r.index <= cap) {
        val (frame, n) = materialize(step(r), last = r.index == cap)
        if (read.isDefined) { // the step read only r.last, and nobody else will
          r.frames.foreach(drop)
          r = Rounds(Vector.empty, r.rows)
        }
        r = Rounds(r.frames :+ frame, r.rows :+ n)
        stopped = until.exists(_(r))
        release(except = frame)
      }
      failAs.filterNot(_ => stopped).foreach { what =>
        throw new IllegalStateException(s"$what did not converge in $cap rounds")
      }
      if (read.isDefined) { release(except = null); drop(r.last) }
      r
    } catch {
      case e: Throwable => release(except = null); throw e
    }
  }

  /** A frame that only projects or filters literal rows, a range or an
    * already-cut leaf: re-reading it costs nothing and its statistics are
    * exact, so cutting it would only add a job. */
  private def isLeaf(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.find {
      case _: Project | _: Filter | _: LocalRelation | _: Range | _: LogicalRDD => false
      case _ => true
    }.isEmpty

  /** How many times `df`'s plan reads the frame aliased `mark`. */
  private def readsOf(df: DataFrame, mark: String): Int =
    df.queryExecution.analyzed.collectWithSubqueries {
      case a: SubqueryAlias if a.alias == mark => a
    }.size

  /** The checkpointed RDD under a cut frame. */
  private def rddOf(cut: DataFrame) =
    cut.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd }.get

  /** Row count of a persisted frame in the one job that fills its cache
    * (a fresh frame, so the plan resolves against the new cache entry). */
  private def rowsOf(persisted: DataFrame): Long =
    persisted.where(lit(true)).queryExecution.toRdd.count()
}
