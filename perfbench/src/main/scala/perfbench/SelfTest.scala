package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.gql.Parser

/** Self-tests of the benchmark's own logic: the percentile rule, the
  * shadow model, the result digest, and the disk-amplification arithmetic
  * (on a synthetic tree and on a tiny sf0.001 catalog). Returns the exit
  * code: 0 when every check holds. */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()
  private var checks = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    checks += 1
    val ok = try cond catch { case e: Throwable => System.err.println(s"  $name threw $e"); false }
    if (!ok) failures += name
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  def run(dataRoot: Path, work: Path): Int = {
    percentiles()
    shadow()
    digest()
    diskAmpSynthetic(work.resolve("selftest-tree"))
    diskAmpCatalog(dataRoot, work)
    println(s"${checks - failures.size}/$checks self-tests passed")
    if (failures.isEmpty) 0 else 1
  }

  private def percentiles(): Unit = {
    check("tail percentile: p90 needs 100 samples") {
      Stats.tailPercentile(100).contains(90.0) && Stats.tailPercentile(99).contains(75.0)
    }
    check("tail percentile: p75 needs 40, p50 needs 20, none below") {
      Stats.tailPercentile(40).contains(75.0) && Stats.tailPercentile(39).contains(50.0) &&
        Stats.tailPercentile(20).contains(50.0) && Stats.tailPercentile(19).isEmpty
    }
    check("tail percentile: p99 needs 1000") {
      Stats.tailPercentile(1000).contains(99.0) && Stats.tailPercentile(999).contains(95.0)
    }
    val xs = (1 to 100).map(_.toDouble).reverse
    check("nearest-rank percentile") {
      Stats.percentile(xs, 90) == 90 && Stats.percentile(xs, 75) == 75 &&
        Stats.percentile(xs, 100) == 100 && Stats.percentile(Seq(7.0), 75) == 7
    }
    check("median of odd and even samples") {
      Stats.median(Seq(3.0, 1, 2)) == 2 && Stats.median(Seq(4.0, 1, 3, 2)) == 2.5
    }
  }

  private def shadow(): Unit = {
    val s = new Shadow
    (1L to 6L).foreach(k => s.upsertCust(k, Shadow.Cust(s"c$k", k % 2, k * 10.0, "S")))
    // 1 -> 2 -> 3 -> 4, 5 -> 2, 6 isolated
    Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 2L).foreach { case (a, b) => s.addEdge(a, b) }
    check("shadow: 1-hop undirected neighbours") { s.neighbours(2, 1, directed = false) == Set(1L, 3L, 5L) }
    check("shadow: 2-hop directed neighbours") { s.neighbours(1, 2, directed = true) == Set(2L, 3L) }
    check("shadow: origin never in its own neighbours") { !s.neighbours(1, 3, directed = false).contains(1L) }
    check("shadow: isolated vertex has none") { s.neighbours(6, 2, directed = false).isEmpty }
    check("shadow: range filter is [lo, hi) on one nation") { s.range(20, 40, 0) == Set(2L) && s.range(20, 41, 0) == Set(2L, 4L) }
    s.removeCust(2)
    check("shadow: remove cascades edges both ways") {
      s.neighbours(1, 3, directed = false).isEmpty && s.neighbours(3, 1, directed = false) == Set(4L) &&
        s.outDegree(5) == 0 && !s.cust.contains(2)
    }
    s.setAcctbal(2, 1.0)
    check("shadow: property update of a removed key is a no-op") { !s.cust.contains(2) }
    s.setAcctbal(3, 99.5)
    check("shadow: property update by id") { s.cust(3).acctbal == 99.5 && s.cust(3).name == "c3" }
    (0 until 12).foreach(i => s.upsertVec(i.toLong, Array(i.toDouble, 0.0)))
    val q = Array(0.2, 0.0)
    val good = (0 until 10).map(i => (i.toLong, Array(i.toDouble, 0.0)))
    check("shadow: exact top-k") { s.topK(q, 3) == Seq(0L, 1L, 2L) }
    check("knn check: accepts a valid answer") { Shadow.checkKnn(s, q, 10, good).isEmpty }
    check("knn check: rejects a short answer") { Shadow.checkKnn(s, q, 10, good.take(9)).isDefined }
    check("knn check: rejects decreasing distance") { Shadow.checkKnn(s, q, 10, good.reverse).isDefined }
    check("knn check: rejects a dead id") {
      Shadow.checkKnn(s, q, 10, good.updated(9, (99L, Array(9.0, 0.0)))).isDefined
    }
    check("knn check: rejects a stale vector") {
      Shadow.checkKnn(s, q, 10, good.updated(9, (9L, Array(9.5, 0.0)))).isDefined
    }
  }

  private def digest(): Unit = {
    val schema = StructType(Seq(StructField("b", DoubleType), StructField("a", LongType)))
    val rows = Seq(Row(1.5, 2L), Row(6.0, 3L))
    check("digest ignores row order") { Digest.of(schema, rows) == Digest.of(schema, rows.reverse) }
    check("digest sorts columns by name") { Digest.of(schema, rows).startsWith("cols=a,b;rows=2;") }
    check("digest: integral double equals long, -0.0 equals 0") {
      Digest.encode(6.0) == Digest.encode(6L) && Digest.encode(-0.0) == Digest.encode(0)
    }
    check("digest: known row hash") {
      // same value as derive_digests.py gives for the row (a=2, b=1.5)
      Digest.rowHash(Digest.encode(2L) + "|" + Digest.encode(1.5)) ==
        java.lang.Long.parseUnsignedLong("506fd4ad848f8998", 16)
    }
  }

  private def diskAmpSynthetic(root: Path): Unit = {
    Fs.deleteTree(root)
    def file(rel: String, n: Int): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, new Array[Byte](n))
    }
    file("meta", 10)
    file("g/v1/part-0", 100)
    file("g/v2/part-0", 50)
    file("g/.hnswp_x_v2_p0", 40)
    file("h/v3/part-0", 200)
    check("disk amp: all bytes over current-version bytes") {
      GqlWorkload.diskAmplification(root, Map("g" -> 2, "h" -> 3)) == 400.0 / 250.0
    }
    Fs.deleteTree(root)
  }

  private def diskAmpCatalog(dataRoot: Path, work: Path): Unit = {
    val spark = Main.session()
    try {
      val ctx = Ctx(spark, 1L, 1.0, Main.CORES, dataRoot, work, new Tracer(false), None, new HeapPeak)
      val w = new GqlWorkload(ctx, "0.001")
      val root = work.resolve("selftest-catalog")
      val src = w.sources(Data.dir(dataRoot, "0.001"))
      val engine = w.setUp(root, src)
      val db = root.resolve(GqlWorkload.DB)
      def bytes(rel: String): Long = Fs.treeBytes(db.resolve(rel))
      val meta = Files.size(db.resolve("meta"))
      val v1 = GqlWorkload.GROUPS.map(g => bytes(s"$g/v1")).sum
      check("disk amp after bulk load: only meta beyond the current versions") {
        GqlWorkload.diskAmplification(engine.catalog, db) == (v1 + meta).toDouble / v1
      }
      val res = engine.execStmt(Parser.parse("{remove: 'cust', vertex: [3]};").head)
      val total = Fs.treeBytes(db)
      val current = bytes("cust/v2") + bytes("co/v2") + bytes("vec/v1")
      check("disk amp after a cascading remove: two superseded versions count") {
        res.status == "REMOVE SUCCESS" &&
          total == v1 + bytes("cust/v2") + bytes("co/v2") + Files.size(db.resolve("meta")) &&
          GqlWorkload.diskAmplification(engine.catalog, db) == total.toDouble / current
      }
      Fs.deleteTree(root)
    } finally spark.stop()
  }
}
