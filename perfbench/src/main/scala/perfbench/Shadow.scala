package perfbench

import scala.collection.mutable

/** Driver-side model of the benchmark graph that every write updates, so
  * each read, traversal and KNN answer of the engine can be checked.
  *
  * Mirrors the GQL semantics the workload uses: a vertex upsert replaces
  * the whole row, a property update by id touches only a live key, a
  * vertex remove also drops every incident `co` edge (cascade), and a
  * neighbour query returns every vertex within `hops` steps of the origin,
  * origin excluded, along out-edges (`->`) or edges in either direction
  * (`--`).
  */
final class Shadow {
  import Shadow._

  val cust = mutable.LongMap[Cust]()
  private val out = mutable.LongMap[mutable.Set[Long]]()
  private val in = mutable.LongMap[mutable.Set[Long]]()
  val vec = mutable.LongMap[Array[Double]]()

  def addEdge(src: Long, dst: Long): Unit = {
    out.getOrElseUpdate(src, mutable.Set()) += dst
    in.getOrElseUpdate(dst, mutable.Set()) += src
  }

  def upsertCust(k: Long, c: Cust): Unit = cust(k) = c

  def setAcctbal(k: Long, v: Double): Unit = cust.get(k).foreach(c => cust(k) = c.copy(acctbal = v))

  def removeCust(k: Long): Unit = {
    cust -= k
    out.remove(k).foreach(_.foreach(d => in.get(d).foreach(_ -= k)))
    in.remove(k).foreach(_.foreach(s => out.get(s).foreach(_ -= k)))
  }

  def upsertVec(k: Long, v: Array[Double]): Unit = vec(k) = v

  def outDegree(k: Long): Int = out.get(k).map(_.size).getOrElse(0)
  def degree(k: Long): Int = outDegree(k) + in.get(k).map(_.size).getOrElse(0)

  /** Live customer keys with acctbal in [lo, hi) and the given nation. */
  def range(lo: Double, hi: Double, nation: Long): Set[Long] =
    cust.iterator.collect { case (k, c) if c.acctbal >= lo && c.acctbal < hi && c.nation == nation => k }.toSet

  def neighbours(origin: Long, hops: Int, directed: Boolean): Set[Long] = {
    def next(k: Long): Iterator[Long] = {
      val o = out.get(k).iterator.flatten
      if (directed) o else o ++ in.get(k).iterator.flatten
    }
    var reached = Set(origin)
    var frontier = Set(origin)
    for (_ <- 1 to hops) {
      frontier = frontier.iterator.flatMap(next).filterNot(reached).toSet
      reached ++= frontier
    }
    reached - origin
  }

  /** Exact top-k live vector ids by squared L2 distance (ties by id). */
  def topK(q: Array[Double], k: Int): Seq[Long] =
    vec.toSeq.map { case (id, v) => (dist2(q, v), id) }.sorted.take(k).map(_._2)
}

object Shadow {
  final case class Cust(name: String, nation: Long, acctbal: Double, segment: String)

  def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Check one KNN answer: exactly `k` ids, each a live vector whose stored
    * value matches the model, in non-decreasing distance from `q`.
    * Returns an error message, or None when the answer is valid. */
  def checkKnn(model: Shadow, q: Array[Double], k: Int,
               got: Seq[(Long, Array[Double])]): Option[String] = {
    if (got.size != k) return Some(s"knn returned ${got.size} rows, expected $k")
    if (got.map(_._1).distinct.size != k) return Some("knn returned duplicate ids")
    got.collectFirst {
      case (id, _) if !model.vec.contains(id) => s"knn returned id $id that is not a live vector"
      case (id, v) if !java.util.Arrays.equals(v, model.vec(id)) => s"knn returned a stale vector for id $id"
    }.orElse {
      val d = got.map { case (_, v) => dist2(q, v) }
      d.sliding(2).collectFirst {
        case Seq(a, b) if b < a - 1e-9 * math.max(1.0, a) => s"knn distances decrease: $a then $b"
      }
    }
  }
}
