package graft.gql

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types._

import Ast._

/** Parquet-backed graph catalog (SURVEY.md §1.1: a graph instance is a
  * directory of Parquet group tables + a schema sidecar; no KV store, no
  * adjacency lists — adjacency is a join).
  *
  * Storage layout: `<root>/<db>/<group>/v<N>/` parquet + `<root>/<db>/meta`
  * (line-based sidecar). Every mutation writes a NEW version directory and
  * flips the pointer — the merge-on-key upsert pattern over immutable
  * parquet (no ACID layer offline, SURVEY §7.4 #4); readers of the old
  * version are never disturbed, and at cluster scale the rewrite is an
  * embarrassingly parallel partitioned write, not an in-place edit.
  *
  * Dual key types (reference StorageEngine.cpp:338-342): vertices carry
  * `key_i`/`key_s` twin columns; the group's key type is fixed by first
  * write and a mismatched upsert fails the statement
  * (UpsetPlan.cpp:94-121 semantics).
  *
  * Schema memo: a version directory is immutable once written, so its
  * parquet schema never changes and [[read]] need infer it (a Spark job)
  * only once. The memo holds one entry per `(db, group)`, the current
  * version's schema; [[write]] replaces it with the schema it just wrote
  * and [[drop]] clears the db's entries. Each entry also carries the
  * directory's file key and mtime, so a directory re-made under the same
  * path (drop and re-create, or another engine writing on the same root)
  * is inferred afresh. That makes the memo exact, not a heuristic cache.
  */
class GraphCatalog(spark: SparkSession, val root: String) {
  import GraphCatalog._

  private val schemas = mutable.HashMap.empty[(String, String), Memo]

  private def dbPath(db: String): Path = Paths.get(root, db)
  private def metaPath(db: String): Path = dbPath(db).resolve("meta")

  def exists(db: String): Boolean = Files.exists(metaPath(db))

  def create(db: String, groups: Seq[GroupDecl], index: Seq[String]): Unit = {
    val meta = if (exists(db)) readMeta(db) else Meta(db)
    groups.foreach {
      case VertexGroup(name, props, idx) =>
        val g = meta.groups.getOrElse(name, GroupMeta(name))
        meta.groups(name) = g.copy(declaredProps = props, index = idx)
      case EdgeGroup(from, name, to) =>
        val g = meta.groups.getOrElse(name, GroupMeta(name))
        meta.groups(name) = g.copy(kind = "edge", from = from, to = to)
    }
    if (index.nonEmpty) meta.globalIndex = index
    Files.createDirectories(dbPath(db))
    writeMeta(meta)
  }

  def drop(db: String): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq.foreach(rm)
        finally s.close() // directory streams leak fds if unclosed
      }
      Files.deleteIfExists(p)
    }
    if (Files.exists(dbPath(db))) rm(dbPath(db))
    schemas.filterInPlace { case ((d, _), _) => d != db }
  }

  def listGraphs(): Seq[String] =
    if (!Files.isDirectory(Paths.get(root))) Nil
    else {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala
        .filter(p => Files.exists(p.resolve("meta"))).map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }

  def groups(db: String): Seq[String] = readMeta(db).groups.keys.toSeq.sorted

  def groupKind(db: String, group: String): Option[String] =
    readMeta(db).groups.get(group).map(_.kind)

  /** (from, to) endpoint registration of an edge group, if declared. */
  def edgeEnds(db: String, group: String): Option[(String, String)] =
    readMeta(db).groups.get(group)
      .filter(g => g.from.nonEmpty && g.to.nonEmpty)
      .map(g => (g.from, g.to))

  // ---- group data access ---------------------------------------------------

  /** Current DataFrame of a group; empty (correct schema) if never written.
    * A group declared by bare name has kind `unknown` until first upsert —
    * `kindHint` tells an upsert path which empty schema to synthesize. */
  def read(db: String, group: String, kindHint: String = ""): DataFrame = {
    val meta = readMeta(db)
    meta.groups.get(group) match {
      case Some(g) if g.version > 0 =>
        val dir = dataDir(db, group, g.version)
        val stamp = stampOf(dir)
        val schema = schemas.get((db, group)) match {
          case Some(m) if m.version == g.version && m.stamp == stamp => m.schema
          case _ =>
            val s = spark.read.parquet(dir.toString).schema
            schemas((db, group)) = Memo(g.version, stamp, s)
            s
        }
        spark.read.schema(schema).parquet(dir.toString)
      case Some(g) =>
        val kind = if (g.kind != "unknown") g.kind else if (kindHint.nonEmpty) kindHint else "vertex"
        val schema = if (kind == "edge") edgeBaseSchema else vertexBaseSchema
        spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      case None =>
        throw new IllegalArgumentException(s"no such group '$group' in '$db'")
    }
  }

  private def dataDir(db: String, group: String, v: Int): Path =
    dbPath(db).resolve(group).resolve(s"v$v")

  private def stampOf(dir: Path): (AnyRef, Long) = {
    val a = Files.readAttributes(dir, classOf[BasicFileAttributes])
    (a.fileKey, a.lastModifiedTime.to(TimeUnit.NANOSECONDS))
  }

  /** The memoized schema of a group's current version (test hook). */
  private[graft] def memoizedSchemas: Map[(String, String), StructType] =
    schemas.map { case (k, m) => k -> m.schema }.toMap

  /** Replace a group's contents with `df` (written as the next version,
    * pointer flipped in meta). */
  def write(db: String, group: String, df: DataFrame, kind: String, keyType: String): Unit = {
    val meta = readMeta(db)
    val g = meta.groups.getOrElse(group, GroupMeta(group))
    val next = g.version + 1
    val dir = dataDir(db, group, next)
    df.write.mode("overwrite").parquet(dir.toString)
    // the files hold df's schema; a parquet read makes every field nullable
    schemas((db, group)) = Memo(next, stampOf(dir), SchemaBridge.asNullable(df.schema))
    meta.groups(group) = g.copy(
      version = next,
      kind = if (g.kind == "unknown") kind else g.kind,
      keyType = if (g.keyType.isEmpty) keyType else g.keyType)
    writeMeta(meta)
  }

  def keyTypeOf(db: String, group: String): String =
    readMeta(db).groups.get(group).map(_.keyType).getOrElse("")

  /** Properties with a declared index on this group: the group-level
    * `index: [...]` list plus the db-level `create ... index:` list.
    * Consulted by the GQL KNN path to pick the HNSW route (the reference
    * stores the same declarations but never consults them — its NNSearch
    * scan case is empty, ScanPlan.cpp:223-224). */
  def indexedProps(db: String, group: String): Seq[String] = {
    val m = readMeta(db)
    m.groups.get(group).map(_.index).getOrElse(Nil) ++ m.globalIndex
  }

  /** Current version pointer of a group (0 = never written). Cache key for
    * derived index structures — any mutation bumps it. */
  def versionOf(db: String, group: String): Int =
    readMeta(db).groups.get(group).map(_.version).getOrElse(0)

  /** Right-to-be-forgotten vacuum. The MVCC write path deliberately keeps
    * every prior version directory (readers of an old version are never
    * disturbed), and [[GqlEngine]]'s KNN scatter sweeps a group's stale
    * `.hnswp_*` index blobs only lazily, at the NEXT indexed query — so
    * after a `remove`, the removed row's bytes survive in superseded
    * version dirs and superseded index generations until someone happens
    * to query. An erasure obligation can't wait on that: vacuum deletes
    * every non-current version directory and every index blob (or temp
    * blob) of a non-current version, for one group or (default) all of a
    * db's groups, and evicts the deleted blobs' resident JVM cache
    * entries. Run with exclusive access, like any maintenance pass —
    * in-flight readers of old versions lose their files.
    *
    * After `remove` + `vacuum`, a removed row's bytes exist NOWHERE under
    * the catalog root: the current version was written without it, prior
    * versions are gone, and every index generation that contained its
    * vector is gone (the next indexed query rebuilds from the current
    * version). GqlSpec pins this end to end. */
  def vacuum(db: String, group: String = ""): Unit = {
    val meta = readMeta(db)
    val targets =
      if (group.nonEmpty) meta.groups.get(group).toSeq else meta.groups.values.toSeq
    for (g <- targets) {
      val gdir = dbPath(db).resolve(g.name)
      if (Files.isDirectory(gdir)) {
        val cur = s"v${g.version}"
        val curTag = s"_v${g.version}_"
        val st = Files.list(gdir)
        val stale = try st.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          (n.matches("v\\d+") && n != cur) ||
            ((n.startsWith(".hnswp_") || n.startsWith("tmp.hnswp_")) &&
              !n.contains(curTag))
        }.toSeq finally st.close()
        stale.foreach { p =>
          if (Files.isDirectory(p)) {
            val w = Files.walk(p)
            try w.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(Files.deleteIfExists(_))
            finally w.close()
          } else {
            Files.deleteIfExists(p)
            graft.vector.Hnsw.evictCached(p.toString)
          }
        }
      }
    }
  }

  /** Edge groups of a db (for cascade delete). */
  def edgeGroups(db: String): Seq[String] =
    readMeta(db).groups.collect { case (n, g) if g.kind == "edge" => n }.toSeq.sorted

  // ---- meta sidecar --------------------------------------------------------

  private def writeMeta(meta: Meta): Unit = {
    val lines = Seq(s"db|${meta.name}", s"gidx|${meta.globalIndex.mkString(",")}") ++
      meta.groups.values.toSeq.sortBy(_.name).map { g =>
        Seq("grp", g.name, g.kind, g.keyType, g.version.toString,
          g.declaredProps.mkString(","), g.index.mkString(","), g.from, g.to).mkString("|")
      }
    Files.write(metaPath(meta.name), lines.asJava)
  }

  private def readMeta(db: String): Meta = {
    if (!exists(db)) throw new IllegalArgumentException(s"no such graph '$db'")
    val meta = Meta(db)
    Files.readAllLines(metaPath(db)).asScala.foreach { line =>
      val parts = line.split("\\|", -1)
      parts(0) match {
        case "db" => ()
        case "gidx" => meta.globalIndex = parts(1).split(",").filter(_.nonEmpty).toSeq
        case "grp" =>
          meta.groups(parts(1)) = GroupMeta(
            name = parts(1), kind = parts(2), keyType = parts(3),
            version = parts(4).toInt,
            declaredProps = parts(5).split(",").filter(_.nonEmpty).toSeq,
            index = parts(6).split(",").filter(_.nonEmpty).toSeq,
            from = parts(7), to = parts(8))
        case _ => ()
      }
    }
    meta
  }
}

object GraphCatalog {
  case class GroupMeta(
    name: String,
    kind: String = "unknown", // vertex | edge | unknown (fixed on first upsert)
    keyType: String = "",     // int | str, fixed on first write
    version: Int = 0,
    declaredProps: Seq[String] = Nil,
    index: Seq[String] = Nil,
    from: String = "", to: String = "")

  /** A group version's schema and the stamp of the directory it was read from. */
  private case class Memo(version: Int, stamp: (AnyRef, Long), schema: StructType)

  case class Meta(name: String) {
    val groups = scala.collection.mutable.LinkedHashMap[String, GroupMeta]()
    var globalIndex: Seq[String] = Nil
  }

  val vertexBaseSchema: StructType = StructType(Seq(
    StructField("key_i", LongType), StructField("key_s", StringType)))

  val edgeBaseSchema: StructType = StructType(Seq(
    StructField("src_i", LongType), StructField("src_s", StringType),
    StructField("dst_i", LongType), StructField("dst_s", StringType),
    StructField("directed", BooleanType)))
}
