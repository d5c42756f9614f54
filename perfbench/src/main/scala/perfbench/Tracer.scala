package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent id, op id, name, start ns, end ns). Every span of
  * one statement or gate carries that op's id. Spans stay in memory and
  * are written as JSON lines when the run ends. When tracing is off,
  * [[span]] just runs its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0

  /** Start op `id`: the spans that follow carry its id. */
  def beginOp(id: Int): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per span name, summed over `ops`: a span's duration minus
    * the part of it that its child spans cover. */
  def selfNanos(ops: Set[Int]): Map[String, Long] = {
    val mine = spans.filter(s => ops.contains(s.op))
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    mine.foreach(s => if (s.parent != 0) childNs(s.parent) += s.end - s.start)
    mine.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start) - childNs(s.id)).sum
    }
  }

  /** Durations (ns) of every span called `name` within `ops`. */
  def durations(name: String, ops: Set[Int]): Seq[Long] =
    spans.filter(s => s.name == name && ops.contains(s.op)).map(s => s.end - s.start).toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)
}
