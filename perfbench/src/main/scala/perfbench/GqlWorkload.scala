package perfbench

import java.nio.file.{Files, Path}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.gql.{GqlEngine, GraphCatalog, Parser}

/** `gql_resident`: one resident GqlEngine session over a catalog graph of
  * customers (`cust`), co-purchase edges (`co`) and indexed embeddings
  * (`vec`), driven by one closed-loop client.
  *
  * Statements come in blocks of eight, shuffled by the seed: a point
  * lookup and a `$and` range filter (read), a 1-hop `--` and a 2-hop `->`
  * neighbour query (traverse), two `$near` limit-10 queries (knn) and two
  * writes. Writes cycle through a row upsert, a property update by id, a
  * vector upsert and a vertex remove with edge cascade, so a quarter of
  * the statements write. Every answer is checked against [[Shadow]].
  */
final class GqlWorkload(ctx: Ctx, sf: String = GqlWorkload.SF) {
  import GqlWorkload._

  private val spark = ctx.spark
  private val rnd = new Random(ctx.seed)
  private val shadow = new Shadow
  private var nextCust = 0L
  private var nextVec = 0L
  private var writeKinds: List[String] = Nil

  /** Catalog whose group reads and writes are spans of the traced run. */
  private[perfbench] final class TracedEngine(root: String) extends GqlEngine(spark, root) {
    override val catalog: GraphCatalog = new GraphCatalog(spark, root) {
      override def read(db: String, group: String, kindHint: String): DataFrame =
        ctx.tracer.span("catalog.read")(super.read(db, group, kindHint))
      override def write(db: String, group: String, df: DataFrame, kind: String,
                         keyType: String): Unit =
        ctx.tracer.span("catalog.write")(super.write(db, group, df, kind, keyType))
    }
  }

  // ---- set-up ---------------------------------------------------------------

  private[perfbench] def sources(sfDir: String): Seq[(String, DataFrame, String)] = Seq(
    ("cust", spark.read.parquet(s"$sfDir/customer.parquet").select(
      col("c_custkey").as("key_i"), lit(null).cast("string").as("key_s"),
      col("c_name").as("name"), col("c_nationkey").cast("long").as("nation"),
      col("c_acctbal").cast("double").as("acctbal"), col("c_mktsegment").as("segment")),
      "vertex"),
    ("co", graft.operators.BigGraphOps.coEdges(spark, sfDir).select(
      col("src").as("src_i"), lit(null).cast("string").as("src_s"),
      col("dst").as("dst_i"), lit(null).cast("string").as("dst_s"), lit(true).as("directed")),
      "edge"),
    ("vec", spark.read.parquet(s"$sfDir/embeddings.parquet").select(
      col("vec_id").cast("long").as("key_i"), lit(null).cast("string").as("key_s"),
      col("embedding").cast("array<double>").as("embedding")),
      "vertex"))

  private def loadShadow(src: Seq[(String, DataFrame, String)]): Unit = {
    val byName = src.map(s => s._1 -> s._2).toMap
    byName("cust").collect().foreach { r =>
      shadow.upsertCust(r.getLong(0), Shadow.Cust(r.getString(2), r.getLong(3), r.getDouble(4), r.getString(5)))
    }
    byName("co").select("src_i", "dst_i").collect().foreach(r => shadow.addEdge(r.getLong(0), r.getLong(1)))
    byName("vec").collect().foreach(r => shadow.upsertVec(r.getLong(0), r.getSeq[Double](2).toArray))
    nextCust = shadow.cust.keys.max + 1
    nextVec = shadow.vec.keys.max + 1
  }

  /** One set-up: a fresh catalog root, the graph declared through GQL and
    * each group bulk-loaded through `GraphCatalog.write`. */
  private[perfbench] def setUp(root: Path, src: Seq[(String, DataFrame, String)]): TracedEngine = {
    Fs.deleteTree(root)
    val engine = new TracedEngine(root.toString)
    val created = engine.execStmt(Parser.parse(CREATE).head)
    require(created.status == "CREATE SUCCESS", s"create failed: ${created.status}")
    src.foreach { case (g, df, kind) => engine.catalog.write(DB, g, df, kind, "int") }
    engine
  }

  // ---- statement generation ---------------------------------------------------

  private def fmt(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))
  private def vecText(v: Array[Double]): String =
    v.map(x => String.format(Locale.ROOT, "%.5f", Double.box(x))).mkString("[", ", ", "]")
  private def parseVec(text: String): Array[Double] =
    text.stripPrefix("[").stripSuffix("]").split(", ").map(_.toDouble)

  private def pickKey[T](m: mutable.LongMap[T], ok: Long => Boolean = _ => true): Long = {
    val keys = m.keys.toArray
    Iterator.continually(keys(rnd.nextInt(keys.length))).take(50).find(ok).getOrElse(keys(0))
  }

  private def nextWrite(): String = {
    if (writeKinds.isEmpty) writeKinds = rnd.shuffle(List("upsert", "property", "vector", "remove"))
    val w = writeKinds.head
    writeKinds = writeKinds.tail
    w
  }

  /** The next block: eight statements in seeded order. */
  private def block(): Seq[Stmt] =
    rnd.shuffle(Seq("lookup", "range", "hop1", "hop2", "knn", "knn", "write", "write"))
      .map(k => statement(if (k == "write") nextWrite() else k))

  private def statement(kind: String): Stmt = kind match {
    case "lookup" =>
      val k = pickKey(shadow.cust)
      Stmt("read", s"{query: 'cust', in: '$DB', where: {id: $k}};", Lookup(k))
    case "range" =>
      val lo = (rnd.nextInt(10000) - 1000) + 0.5
      val nation = rnd.nextInt(25).toLong
      Stmt("read", s"{query: 'cust', in: '$DB', where: {$$and: [{acctbal: {$$gte: ${fmt(lo)}, " +
        s"$$lt: ${fmt(lo + 400)}}}, {nation: $nation}]}};", RangeQ(lo, lo + 400, nation))
    case "hop1" =>
      val k = pickKey(shadow.cust, shadow.degree(_) > 0)
      Stmt("traverse", s"{query: 'co', in: '$DB', where: {id: $k, --: *, neighbor: 1}};",
        Hops(k, 1, directed = false))
    case "hop2" =>
      val k = pickKey(shadow.cust, shadow.outDegree(_) > 0)
      Stmt("traverse", s"{query: 'co', in: '$DB', where: {id: $k, ->: *, neighbor: 2}};",
        Hops(k, 2, directed = true))
    case "knn" =>
      val base = shadow.vec(pickKey(shadow.vec))
      val q = vecText(base.map(_ + (rnd.nextDouble() - 0.5) * 0.1))
      Stmt("knn", s"{query: 'vec', in: '$DB', where: {embedding: {limit: $K, $$near: $q}}};",
        Knn(parseVec(q)))
    case "upsert" =>
      val k = if (rnd.nextBoolean()) pickKey(shadow.cust) else { nextCust += 1; nextCust - 1 }
      val c = Shadow.Cust(f"Customer#$k%09d", rnd.nextInt(25).toLong,
        fmt(rnd.nextDouble() * 11000 - 1000).toDouble, SEGMENTS(rnd.nextInt(SEGMENTS.size)))
      Stmt("write", s"{upset: 'cust', vertex: [[$k, {name: '${c.name}', nation: ${c.nation}, " +
        s"acctbal: ${fmt(c.acctbal)}, segment: '${c.segment}'}]]};", Apply(_.upsertCust(k, c)))
    case "property" =>
      val k = pickKey(shadow.cust)
      val v = fmt(rnd.nextDouble() * 11000 - 1000)
      Stmt("write", s"{upset: 'cust', property: {acctbal: $v}, where: {id: $k}};",
        Apply(_.setAcctbal(k, v.toDouble)))
    case "vector" =>
      val k = if (rnd.nextBoolean()) pickKey(shadow.vec) else { nextVec += 1; nextVec - 1 }
      val v = vecText(Array.fill(DIM)(rnd.nextDouble() - 0.5))
      Stmt("write", s"{upset: 'vec', vertex: [[$k, {embedding: $v}]]};",
        Apply(_.upsertVec(k, parseVec(v))), vecWrite = true)
    case "remove" =>
      val k = pickKey(shadow.cust)
      Stmt("write", s"{remove: 'cust', vertex: [$k]};", Apply(_.removeCust(k)))
  }

  // ---- execution and checks ---------------------------------------------------

  /** Check a result against the model; None when it is right. */
  private def check(st: Stmt, rows: Array[Row]): Option[String] = st.expect match {
    case Lookup(k) =>
      val want = shadow.cust.get(k).toSeq.map(c => (k, c))
      val got = rows.toSeq.map(custOf)
      if (got == want) None else Some(s"lookup $k: got $got, want $want")
    case RangeQ(lo, hi, n) =>
      val got = rows.map(custOf).toMap
      val want = shadow.range(lo, hi, n)
      if (got.size != rows.length || got.keySet != want)
        Some(s"range: got keys ${got.keySet.toSeq.sorted}, want ${want.toSeq.sorted}")
      else got.collectFirst { case (k, c) if shadow.cust(k) != c => s"range: row $k is $c, want ${shadow.cust(k)}" }
    case Hops(k, h, d) =>
      val got = rows.map(r => r.getAs[Long]("neighbor_i")).toSet
      val want = shadow.neighbours(k, h, d)
      if (got == want && rows.length == want.size) None
      else Some(s"neighbours of $k ($h hops): got ${got.size} keys, want ${want.size}")
    case Knn(q) =>
      val got = rows.toSeq.map(r => (r.getAs[Long]("key_i"), r.getAs[Seq[Double]]("embedding").toArray))
      Shadow.checkKnn(shadow, q, K, got)
    case Apply(_) => None
  }

  private def custOf(r: Row): (Long, Shadow.Cust) =
    (r.getAs[Long]("key_i"), Shadow.Cust(r.getAs[String]("name"), r.getAs[Long]("nation"),
      r.getAs[Double]("acctbal"), r.getAs[String]("segment")))


  private def execute(engine: TracedEngine, id: Int, st: Stmt): Done = {
    var parseNs = 0L
    var error: Option[String] = None
    var rows = Array.empty[Row]
    val rec = Run.op(ctx, id, st.cls) {
      try {
        val (parsed, pNs) = Run.timed(ctx.tracer.span("gql.parse")(Parser.parse(st.text)))
        parseNs = pNs
        val writeNs0 = ctx.tracer.durations("catalog.write", Set(id)).sum
        val (res, bNs) = Run.timed(ctx.tracer.span("gql.execStmt")(engine.execStmt(parsed.head)))
        if (res.status.startsWith("error")) error = Some(res.status)
        val (collected, eNs) = Run.timed(res.df.map(df => ctx.tracer.span("gql.collect")(df.collect())))
        rows = collected.getOrElse(Array.empty)
        if (st.cls == "write") {
          // a write runs inside execStmt: its exec part is the group write
          val w = ctx.tracer.durations("catalog.write", Set(id)).sum - writeNs0
          (bNs - w, w)
        } else (bNs, eNs)
      } catch {
        case e: Exception =>
          error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          (0L, 0L)
      }
    }
    Done(rec, parseNs, error, rows)
  }

  // ---- the run ------------------------------------------------------------------

  def run(): Measured = {
    val sfDir = Data.dir(ctx.dataRoot, sf)
    val src = sources(sfDir)
    loadShadow(src)
    val root = ctx.work.resolve("catalog")
    // set-up, three times; the last catalog stays for the session
    var engine: TracedEngine = null
    val setups = (1 to SETUPS).map { _ => val (e, ns) = Run.timed(setUp(root, src)); engine = e; ns / 1e9 }
    val dbRoot = root.resolve(DB)
    val perLayer = new Metrics
    if (ctx.traced) Run.probeTables(ctx, sfDir, perLayer)

    var id = 0
    var failed = 0
    var wrong = 0
    var attempted = 0
    var afterVecWrite = false
    val ops = mutable.ArrayBuffer[OpRecord]()
    val parseMs = mutable.ArrayBuffer[Double]()
    val knnAfterWrite, knnSteady = mutable.ArrayBuffer[Double]()
    val recall = mutable.ArrayBuffer[Double]()
    val generations = mutable.Set[String]()
    val writeBytes = mutable.ArrayBuffer[Double]()
    var diskAmp = Double.NaN
    var measuredWrites = 0

    def step(st: Stmt, measured: Boolean): Unit = {
      id += 1
      val bytesBefore = if (ctx.traced && st.cls == "write") Fs.treeBytes(root) else 0L
      val d = execute(engine, id, st)
      val verdict = d.error.orElse(check(st, d.rows))
      d.error.foreach(e => System.err.println(s"[gql] statement failed: ${st.text.take(120)} -> $e"))
      if (d.error.isEmpty) verdict.foreach { v =>
        wrong += 1
        System.err.println(s"[gql] WRONG RESULT: ${st.text.take(120)} -> $v")
      }
      // the model follows the statement only when the engine applied it
      if (d.error.isEmpty) st.expect match { case Apply(f) => f(shadow); case _ => () }
      if (st.cls == "knn" && d.error.isEmpty) {
        st.expect match {
          case Knn(q) =>
            val want = shadow.topK(q, K).toSet
            recall += d.rows.count(r => want.contains(r.getAs[Long]("key_i"))).toDouble / K
          case _ => ()
        }
        generations ++= hnswGenerations(dbRoot.resolve("vec"))
      }
      if (measured) {
        attempted += 1
        if (verdict.isDefined) failed += 1
        else {
          ops += d.rec
          parseMs += d.parseNs / 1e6
          if (st.cls == "knn") (if (afterVecWrite) knnAfterWrite else knnSteady) += d.rec.wallNs / 1e6
        }
        if (st.cls == "write") {
          measuredWrites += 1
          if (ctx.traced) writeBytes += (Fs.treeBytes(root) - bytesBefore).toDouble
          if (measuredWrites == DISK_AMP_WRITES) diskAmp = diskAmplification(engine.catalog, dbRoot)
        }
      }
      if (st.vecWrite) afterVecWrite = true
      else if (st.cls == "knn") afterVecWrite = false
    }

    // warm-up: JIT and codegen of every statement class, charged to set-up
    val (_, warmNs) = Run.timed {
      (1 to WARMUP_BLOCKS).foreach(_ => block().foreach(step(_, measured = false)))
      Run.settle(spark)
    }
    ctx.heap.reset()
    val t0 = System.nanoTime()
    // past the time, keep going until the p75 has ten samples beyond it
    // and the disk amplification has been taken (failing statements give
    // neither: stop at four times the time)
    def more = {
      val s = (System.nanoTime() - t0) / 1e9
      s < ctx.seconds ||
        (s < 4 * ctx.seconds && (!Stats.tailPercentile(ops.size).exists(_ >= 75) || diskAmp.isNaN))
    }
    while (more) block().foreach(st => if (more) step(st, measured = true))
    System.err.println(f"[gql] set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s, warm-up ${warmNs / 1e9}%.2f s, " +
      f"${attempted} statements in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    if (diskAmp.isNaN) diskAmp = diskAmplification(engine.catalog, dbRoot)
    val retained = Run.retainedHeapMb()

    if (ctx.traced) {
      Run.commonLayers(ctx, ops.toSeq, perLayer)
      perLayer.put("gql.parse_ms", Stats.median(parseMs.toSeq), "ms")
      for (c <- CLASSES) {
        val cs = ops.filter(_.kind == c).toSeq
        def med(f: OpRecord => Double) = if (cs.isEmpty) 0 else Stats.median(cs.map(f))
        perLayer.put(s"gql.p50_ms.$c", med(_.wallNs / 1e6), "ms")
        perLayer.put(s"gql.build_ms.$c", med(_.buildNs / 1e6), "ms")
        perLayer.put(s"gql.exec_ms.$c", med(_.execNs / 1e6), "ms")
        perLayer.put(s"gql.jobs_per_stmt.$c", Stats.mean(cs.map(_.counters.getOrElse("jobs", 0.0))), "jobs")
      }
      val reads = ctx.tracer.durations("catalog.read", ops.map(_.id).toSet).map(_ / 1e6)
      perLayer.put("catalog.read_ms", if (reads.isEmpty) 0 else Stats.median(reads), "ms")
      perLayer.put("catalog.write_bytes_per_stmt", Stats.mean(writeBytes.toSeq), "bytes")
      perLayer.put("catalog.disk_amp", diskAmp, "ratio")
      perLayer.put("catalog.version_dirs",
        GROUPS.map(g => Fs.countDirs(dbRoot.resolve(g), "v\\d+")).sum, "count")
      perLayer.put("hnsw.rebuild_ms", if (knnAfterWrite.isEmpty || knnSteady.isEmpty) 0
        else Stats.median(knnAfterWrite.toSeq) - Stats.median(knnSteady.toSeq), "ms")
      perLayer.put("hnsw.generations", generations.size, "count")
      perLayer.put("hnsw.recall_at_10", Stats.mean(recall.toSeq), "share")
    }
    val perClass = ops.groupBy(_.kind).map { case (c, os) => c -> Stats.median(os.map(_.wallNs / 1e6).toSeq) }
    Measured(attempted, failed, wrong, ops.map(_.wallNs / 1e6).toSeq, perClass,
      ops.size / (ops.map(_.wallNs).sum / 1e9), Stats.median(setups) + warmNs / 1e9, retained, perLayer)
  }

  /** Names of the HNSW index generations on disk for a group directory. */
  private def hnswGenerations(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".hnswp_")).map(_.replaceAll("_p\\d+$", "")).toSet
      finally s.close()
    }
}

object GqlWorkload {
  val DB = "shop"
  val SF = "0.1"
  val K = 10
  val DIM = 64
  val SETUPS = 3
  val WARMUP_BLOCKS = 1
  /** The disk amplification is taken after this many measured writes, so it
    * does not grow with the number of statements a faster engine completes. */
  val DISK_AMP_WRITES = 8
  val CLASSES = Seq("read", "traverse", "knn", "write")
  val GROUPS = Seq("cust", "co", "vec")

  /** Bytes under the graph's directory over the bytes of the groups'
    * current version directories. */
  def diskAmplification(catalog: GraphCatalog, dbRoot: Path): Double =
    diskAmplification(dbRoot, GROUPS.map(g => g -> catalog.versionOf(DB, g)).toMap)

  def diskAmplification(dbRoot: Path, current: Map[String, Int]): Double =
    Fs.treeBytes(dbRoot).toDouble /
      current.map { case (g, v) => Fs.treeBytes(dbRoot.resolve(g).resolve(s"v$v")) }.sum
  val SEGMENTS = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val CREATE: String = s"{create: '$DB', group: [{cust: ['name', 'nation', 'acctbal', 'segment']}, " +
    "{vec: ['embedding'], index: ['embedding']}, ['cust', 'co', 'cust']]};"

  sealed trait Expect
  final case class Lookup(key: Long) extends Expect
  final case class RangeQ(lo: Double, hi: Double, nation: Long) extends Expect
  final case class Hops(key: Long, hops: Int, directed: Boolean) extends Expect
  final case class Knn(q: Array[Double]) extends Expect
  final case class Apply(f: Shadow => Unit) extends Expect

  final case class Stmt(cls: String, text: String, expect: Expect, vecWrite: Boolean = false)

  /** A statement's outcome as the client sees it. */
  final case class Done(rec: OpRecord, parseNs: Long, error: Option[String], rows: Array[Row])
}
