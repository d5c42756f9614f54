package graft.vector

import java.io.{FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}

import scala.collection.mutable

/** E9 — HNSW approximate-nearest-neighbor index (algorithm: Malkov &
  * Yashunin 2016; reference implementation
  * /root/reference/src/operand/query/HNSW.cpp:86-165 queryLayer,
  * 134-165 knnSearch, 219-255 insert, 330-351 neighbor clipping,
  * 358-374 persistence).
  *
  * Deliberately DRIVER-SIDE (SURVEY §7.4 #6): the mutable layered graph
  * doesn't fit the executor model — the distributed scale path is
  * [[graft.operators.VectorOps.qAnnIvf]]. This index exists for small-data
  * parity with the reference (its own tests run 20-80 points) and as the
  * per-partition index a future two-stage ANN could build. Level draw is
  * deterministic (hash of id), so builds reproduce run to run.
  */
class Hnsw(val dim: Int, val m: Int = 8, val efConstruction: Int = 64) extends Serializable {
  private val vecs = mutable.Map[Long, Array[Double]]()
  private val nodeLevel = mutable.Map[Long, Int]()
  // (level, node) -> neighbor list, clipped to maxNeighbors(level)
  private val links = mutable.Map[(Int, Long), mutable.ArrayBuffer[Long]]()
  private var entry: Long = -1L
  private var topLevel: Int = -1
  private val mL = 1.0 / math.log(m.toDouble)

  private def maxNeighbors(level: Int): Int = if (level == 0) 2 * m else m

  private def dist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic geometric level draw from the id's hash. */
  private def drawLevel(id: Long): Int = {
    val h = (scala.util.hashing.MurmurHash3.stringHash(id.toString).toLong & 0xffffffffL)
    val u = (h + 1.0) / 4294967297.0
    math.min((-math.log(u) * mL).toInt, 16)
  }

  /** Greedy beam search on one layer (reference queryLayer): returns up to
    * ef closest (dist, id) pairs to q, seeded from `eps`. */
  private def searchLayer(q: Array[Double], eps: Seq[Long], ef: Int, level: Int): Seq[(Double, Long)] = {
    val visited = mutable.Set[Long](eps: _*)
    // candidates: closest-first; results: farthest-first, bounded by ef
    val candidates = mutable.PriorityQueue.empty[(Double, Long)](Ordering.by(-_._1))
    val results = mutable.PriorityQueue.empty[(Double, Long)](Ordering.by(_._1))
    eps.foreach { e =>
      val d = dist(q, vecs(e))
      candidates.enqueue((d, e))
      results.enqueue((d, e))
    }
    while (candidates.nonEmpty) {
      val (dc, c) = candidates.dequeue()
      if (results.nonEmpty && dc > results.head._1 && results.size >= ef) {
        candidates.clear()
      } else {
        links.getOrElse((level, c), mutable.ArrayBuffer.empty).foreach { nb =>
          if (!visited(nb)) {
            visited += nb
            val d = dist(q, vecs(nb))
            if (results.size < ef || d < results.head._1) {
              candidates.enqueue((d, nb))
              results.enqueue((d, nb))
              if (results.size > ef) results.dequeue()
            }
          }
        }
      }
    }
    results.toSeq.sortBy(_._1)
  }

  /** Neighbor selection, Malkov & Yashunin 2016 Algorithm 4: scan
    * candidates closest-first and keep e only while no already-kept
    * neighbor is closer to e than q is — the diversity rule that
    * preserves inter-cluster bridges. A naive closest-M clip (what the
    * reference's HNSW.cpp:330-351 does) keeps only intra-cluster links on
    * clustered data and can disconnect the graph — measured: an
    * 11-cluster grid lost a cluster entirely, costing top-k recall that
    * no ef could recover. Pruned candidates backfill spare capacity
    * (keepPrunedConnections), ties broken by id for determinism. */
  private def selectNeighbors(q: Array[Double], cands: Seq[(Double, Long)],
      cap: Int): Seq[Long] = {
    val ordered = cands.distinct.sortBy { case (d, id) => (d, id) }
    val kept = mutable.ArrayBuffer[Long]()
    for ((dq, e) <- ordered if kept.length < cap) {
      val ve = vecs(e)
      if (kept.forall(s => dist(ve, vecs(s)) > dq)) kept += e
    }
    if (kept.length < cap)
      for ((_, e) <- ordered if kept.length < cap && !kept.contains(e))
        kept += e
    kept.toSeq
  }

  private def connect(level: Int, a: Long, b: Long): Unit = {
    val key = (level, a)
    val lst = links.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
    if (!lst.contains(b)) {
      lst += b
      val cap = maxNeighbors(level)
      if (lst.length > cap) {
        val va = vecs(a)
        links(key) = mutable.ArrayBuffer(
          selectNeighbors(va, lst.map(n => (dist(va, vecs(n)), n)).toSeq, cap): _*)
      }
    }
  }

  def add(id: Long, vec: Array[Double]): Unit = {
    require(vec.length == dim, s"expected dim $dim, got ${vec.length}")
    vecs(id) = vec
    val lvl = drawLevel(id)
    nodeLevel(id) = lvl
    if (entry < 0) { entry = id; topLevel = lvl; return }
    var eps = Seq(entry)
    // greedy descent through layers above the node's level
    var l = topLevel
    while (l > lvl) {
      eps = Seq(searchLayer(vec, eps, 1, l).head._2)
      l -= 1
    }
    // insert with beam search on each layer from min(topLevel,lvl) down to 0
    l = math.min(topLevel, lvl)
    while (l >= 0) {
      val found = searchLayer(vec, eps, efConstruction, l)
      selectNeighbors(vec, found, maxNeighbors(l)).foreach { nb =>
        connect(l, id, nb)
        connect(l, nb, id)
      }
      eps = found.map(_._2)
      l -= 1
    }
    if (lvl > topLevel) { topLevel = lvl; entry = id }
  }

  /** k nearest neighbors of q (reference knnSearch): descend greedily to
    * layer 0, beam with ef there, return k closest (id, dist2). */
  def search(q: Array[Double], k: Int, ef: Int = 64): Seq[(Long, Double)] = {
    if (entry < 0) return Nil
    var eps = Seq(entry)
    var l = topLevel
    while (l > 0) {
      eps = Seq(searchLayer(q, eps, 1, l).head._2)
      l -= 1
    }
    searchLayer(q, eps, math.max(ef, k), 0).take(k).map { case (d, id) => (id, d) }
  }

  def get(id: Long): Option[Array[Double]] = vecs.get(id)
  def size: Int = vecs.size

  /** Persist the whole index (reference HNSW.cpp:358-374 saves per-layer
    * maps; a single serialized blob is the single-node equivalent). */
  def save(path: String): Unit = {
    val out = new ObjectOutputStream(new FileOutputStream(path))
    try out.writeObject(this)
    finally out.close()
  }

  /** Save as `file`, the one way a blob is written: to a
    * `tmp<file name>…tmp` temp file in the same directory, then one atomic
    * move over `file`, so a reader never sees a half-written index. The
    * published index is then resident ([[Hnsw.cachePut]]). */
  def publish(file: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = Files.createTempFile(file.getParent, s"tmp${file.getFileName}", ".tmp")
    save(tmp.toString)
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
    Hnsw.cachePut(file.toString, this)
  }
}

object Hnsw {
  def load(path: String): Hnsw = {
    val in = new ObjectInputStream(new FileInputStream(path))
    try in.readObject().asInstanceOf[Hnsw]
    finally in.close()
  }

  /** Per-JVM LRU of deserialized blobs — the resident-serving shape: an
    * executor holding its partitions' indexes answers repeat queries
    * without re-reading disk. Keyed by (path, mtime, size) so a path
    * whose file was replaced (e.g. a dropped-and-recreated catalog that
    * restarts its version counter) can never serve a stale index. */
  private val loadCache =
    new java.util.LinkedHashMap[String, Hnsw](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Hnsw]): Boolean =
        size > 64
    }
  // path → its CURRENT cache key, so a replaced file's superseded entry
  // is evicted immediately instead of squatting in the LRU until
  // capacity pressure (each dead entry holds a whole deserialized index)
  private val pathKey = new java.util.HashMap[String, String]()

  private def cacheKey(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    s"$path@${java.nio.file.Files.getLastModifiedTime(p)}@${java.nio.file.Files.size(p)}"
  }

  private def install(path: String, key: String, h: Hnsw): Unit =
    loadCache.synchronized {
      val old = pathKey.put(path, key)
      if (old != null && old != key) loadCache.remove(old)
      loadCache.put(key, h)
    }

  def loadCached(path: String): Hnsw = {
    val key = cacheKey(path)
    loadCache.synchronized {
      val hit = loadCache.get(key)
      if (hit != null) return hit
    }
    val h = load(path)
    install(path, key, h)
    h
  }

  /** Register a just-built-and-saved index under its blob path. */
  def cachePut(path: String, h: Hnsw): Unit =
    install(path, cacheKey(path), h)

  /** Drop a path's resident index (right-to-be-forgotten hygiene: after
    * an erase tombstones or rebuilds a blob, the superseded deserialized
    * index must not keep answering from JVM memory — the mtime/size cache
    * key usually invalidates it anyway, but a same-millisecond same-size
    * rebuild would not). */
  def evictCached(path: String): Unit =
    loadCache.synchronized {
      val old = pathKey.remove(path)
      if (old != null) loadCache.remove(old)
    }
}
