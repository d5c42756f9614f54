package graft.gql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Ast._
import graft.functions.VectorExprs

/** GQL statement executor — the Spark lifecycle target of SURVEY.md §3.1:
  * GQL text → [[Parser]] AST → DataFrame programs against a
  * [[GraphCatalog]]; Catalyst does analyze/optimize/physical. Statements in
  * a script run sequentially with mutations visible to later statements
  * (reference interleaves parse and execution — gql.y:152-156).
  *
  * The walk rule, one definition ([[walk]]) for every traversal — neighbour
  * hops, multi-edge matches, min-cost walks and `[a, ->, b]` edge patterns:
  * `->` walks directed edges from `src` to `dst`, `<-` walks directed edges
  * from `dst` to `src`, and `--` walks every edge, directed or not, both
  * ways (SURVEY §7.4 #3). So `->` and `<-` never cross an edge stored as
  * `--`. A walk names a node by one string ([[nodeCol]]): its text key, or
  * its int key printed, so `5` and `'5'` are one node to a walk.
  */
class GqlEngine(spark: SparkSession, root: String) {
  val catalog = new GraphCatalog(spark, root)

  /** One statement's outcome: a status line (CREATE SUCCESS / error), an
    * optional result DataFrame (queries), optional text (ast/dump/show). */
  case class Result(status: String, df: Option[DataFrame] = None, text: Option[String] = None)

  /** Import nesting bound — a cyclic `import` chain errors at this depth. */
  val MAX_IMPORT_DEPTH = 16
  private var importDepth = 0

  /** Execute a script statement-at-a-time: a parse error in one statement
    * becomes that statement's error Result and the rest still run —
    * matching the reference's interleaved parse/execute loop. */
  def exec(gql: String): Seq[Result] =
    Parser.splitStatements(gql).map { chunk =>
      try {
        Parser.parse(chunk + ";") match {
          case Seq(st) => execStmt(st)
          case sts => sts.map(execStmt).last
        }
      } catch {
        case e: Exception => Result(s"error: ${e.getMessage}")
      }
    }

  /** Execute a single query returning its DataFrame (throws on error,
    * surfacing the real parse/execution message — not a generic one). */
  def query(gql: String): DataFrame = {
    val last = exec(gql).last
    last.df.getOrElse {
      val msg =
        if (last.status.startsWith("error")) last.status
        else "statement produced no result set"
      throw new IllegalArgumentException(msg)
    }
  }

  def execStmt(st: Stmt): Result =
    try {
      st match {
        case Create(db, groups, index) =>
          catalog.create(db, groups, index); Result("CREATE SUCCESS")
        case Drop(db) =>
          catalog.drop(db)
          // a dropped graph must not linger as the session default
          if (usedDb.contains(db)) usedDb = None
          Result("DROP SUCCESS")
        case UseGraph(db) =>
          if (!catalog.exists(db))
            Result(s"error: no such graph '$db'")
          else {
            usedDb = Some(db); lastDb = Some(db)
            Result("USE SUCCESS")
          }
        case ShowGraph(None) =>
          Result("SHOW SUCCESS", text = Some(catalog.listGraphs().mkString("\n")))
        case ShowGraph(Some(db)) =>
          // schema dump (S9): group | kind | key type per line
          val lines = catalog.groups(db).map { g =>
            val kind = catalog.groupKind(db, g).getOrElse("unknown")
            val kt = catalog.keyTypeOf(db, g)
            s"$g|$kind${if (kt.nonEmpty) s"|$kt" else ""}"
          }
          Result("SHOW SUCCESS", text = Some(lines.mkString("\n")))
        case AstOf(inner) => Result("AST SUCCESS", text = Some(Ast.render(inner)))
        case Profile(inner) =>
          inner match {
            case q: Query =>
              val df = runQuery(q)
              // capture the formatted plan the way a CLI user sees it
              val buf = new java.io.ByteArrayOutputStream()
              Console.withOut(new java.io.PrintStream(buf)) { df.explain("formatted") }
              Result("PROFILE SUCCESS", text = Some(buf.toString("UTF-8")))
            case other =>
              Result("PROFILE SUCCESS", text = Some(Ast.render(other)))
          }
        case Dump(db) => Result("DUMP SUCCESS", text = Some(dump(db)))
        case ImportPath(path) =>
          // `.gql` replays the script (inverse of dump); anything else is
          // the reference's reserved no-op — see Ast.ImportPath.
          if (path.endsWith(".gql")) {
            // a script importing itself (directly or via a cycle) must
            // error, not recurse unboundedly
            if (importDepth >= MAX_IMPORT_DEPTH)
              Result(s"error: import '$path': import depth exceeds $MAX_IMPORT_DEPTH")
            else {
              val script = new String(
                java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
                java.nio.charset.StandardCharsets.UTF_8)
              importDepth += 1
              val results = try exec(script) finally importDepth -= 1
              results.find(_.status.startsWith("error")) match {
                case Some(bad) => Result(s"error: import '$path': ${bad.status}")
                case None => Result("IMPORT SUCCESS")
              }
            }
          } else Result("IMPORT SUCCESS")
        case u: UpsetVertex => upsetVertex(u); Result("UPSET SUCCESS")
        case u: UpsetEdge => upsetEdge(u); Result("UPSET SUCCESS")
        case u: UpsetProperty => upsetProperty(u); Result("UPSET SUCCESS")
        case r: RemoveVertex => removeVertex(r); Result("REMOVE SUCCESS")
        case r: RemoveEdge => removeEdge(r); Result("REMOVE SUCCESS")
        case q: Query => Result("QUERY SUCCESS", df = Some(runQuery(q)))
        // E10: the declaration IS the model — no graph scan (Hmm scaladoc)
        case inf: Inference => Result("INFER SUCCESS", df = Some(Hmm.run(spark, inf)))
      }
    } catch {
      case e: Exception => Result(s"error: ${e.getMessage}")
    }

  // ---- value typing --------------------------------------------------------

  private def sparkType(v: GVal): DataType = v match {
    case GStr(_) => StringType
    case GInt(_) => LongType
    case GNum(_) => DoubleType
    case GDatetime(_) => LongType // epoch number, compared numerically (§1.2)
    case GBinary(_) => BinaryType
    case GArr(Nil) => ArrayType(NullType) // element type decided by other rows
    case GArr(items) if items.forall(i => i.isInstanceOf[GNum] || i.isInstanceOf[GInt]) =>
      ArrayType(DoubleType)
    case GArr(_) => ArrayType(StringType)
    case GObj(_) => StringType // nested doc kept as compact literal text
    case _ => StringType
  }

  private def sparkValue(v: GVal, t: DataType): Any = (v, t) match {
    case (GStr(s), StringType) => s
    case (GInt(l), LongType) => l
    case (GInt(l), DoubleType) => l.toDouble
    case (GNum(d), DoubleType) => d
    case (GDatetime(e), LongType) => e
    case (GBinary(b), BinaryType) => b
    case (GArr(items), ArrayType(DoubleType, _)) =>
      items.map {
        case GNum(d) => d
        case GInt(l) => l.toDouble
        case other => throw new IllegalArgumentException(s"non-numeric vector item $other")
      }
    case (GArr(items), ArrayType(StringType, _)) =>
      items.map { case GStr(s) => s; case other => other.toString }
    case (GArr(Nil), ArrayType(_, _)) => Seq.empty[Any]
    case (o: GObj, StringType) => renderValue(o)
    case (other, t2) => throw new IllegalArgumentException(s"cannot store $other as $t2")
  }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (ArrayType(NullType, _), other: ArrayType) => other
    case (other: ArrayType, ArrayType(NullType, _)) => other
    case _ => throw new IllegalArgumentException(s"attribute type conflict: $a vs $b")
  }

  /** Columns still typed array<null> (only empty literals seen) settle on
    * array<string>. */
  private def settle(t: DataType): DataType = t match {
    case ArrayType(NullType, _) => ArrayType(StringType)
    case other => other
  }

  // ---- mutations -----------------------------------------------------------

  /** A key's `(_i, _s)` base-column values. */
  private def keyOf(v: GVal): Seq[Any] = v match {
    case GInt(l) => Seq(l, null)
    case GStr(s) => Seq(null, s)
    case other => throw new IllegalArgumentException(s"bad key $other")
  }

  private def upsetVertex(u: UpsetVertex): Unit = {
    val db = requireDb(u.group)
    val rows = u.rows.map { case (key, props) => (keyOf(key), props.fields) }
    val established = catalog.keyTypeOf(db, u.group)
    val batchKeyTypes = rows.map(r => if (r._1.head == null) "str" else "int").distinct
    if (batchKeyTypes.length > 1)
      throw new IllegalArgumentException("mixed key types in one upsert batch")
    val kt = batchKeyTypes.head
    if (established.nonEmpty && established != kt)
      throw new IllegalArgumentException(
        s"key type mismatch: group '${u.group}' keys are $established, got $kt")
    upsert(db, u.group, "vertex", kt, GraphCatalog.vertexBaseSchema, rows)
  }

  private def upsetEdge(u: UpsetEdge): Unit = {
    val db = requireDb(u.group)
    val rows = u.edges.map { case (from, dir, props, to) =>
      // `<-` stored as reversed `->` (UpsetPlan.cpp:227-230); `--` undirected
      val (f, t, directed) = dir match {
        case "<-" => (to, Some(from), true)
        case "->" => (Some(from), to, true)
        case _ => (Some(from), to, false)
      }
      (keyOf(f.get) ++ t.map(keyOf).getOrElse(Seq(null, null)) :+ directed,
        props.toSeq.flatMap(_.fields))
    }
    upsert(db, u.group, "edge", "", GraphCatalog.edgeBaseSchema, rows)
  }

  /** Merge-on-key upsert (S2) of `rows` — (base-column values, properties)
    * — into a vertex or edge group: a vertex is identified by its key, an
    * edge by its endpoints and direction. The batch dedupes on the base
    * columns, last row wins: two rows for one id must collapse to the later
    * one, or the one-row-per-id invariant breaks for every later anti-join.
    * Property types are inferred from the values (long widens to double on
    * conflict). New rows win; unmatched old rows survive. */
  private def upsert(db: String, group: String, kind: String, keyType: String,
                     base: StructType, rows: Seq[(Seq[Any], Seq[(String, GVal)])]): Unit = {
    val byId = scala.collection.mutable.LinkedHashMap[Seq[Any], Seq[(String, GVal)]]()
    rows.foreach { case (id, props) => byId(id) = props }
    val colTypes = scala.collection.mutable.LinkedHashMap[String, DataType]()
    byId.values.foreach(_.foreach { case (k, v) =>
      val t = sparkType(v)
      colTypes(k) = colTypes.get(k).map(widen(_, t)).getOrElse(t)
    })
    val schema = StructType(base.fields ++
      colTypes.map { case (k, t) => StructField(k, settle(t)) })
    val batch = spark.createDataFrame(byId.toSeq.map { case (id, props) =>
      val pm = props.toMap
      Row.fromSeq(id ++ colTypes.map { case (k, t) => pm.get(k).map(sparkValue(_, t)).orNull })
    }.asJava, schema)
    val (old, fresh) = alignSchemas(catalog.read(db, group, kindHint = kind), batch)
    val ids = base.fieldNames.toSeq
    val merged = fresh.unionByName(
      old.join(broadcast(batch.select(ids.map(col): _*)),
        ids.map(c => old(c) <=> batch(c)).reduce(_ && _), "left_anti"),
      allowMissingColumns = true)
    catalog.write(db, group, merged, kind, keyType)
  }

  /** Align old/new column types (cast new numerics to the established
    * type); returns (old, new) with compatible schemas. */
  private def alignSchemas(old: DataFrame, batch: DataFrame): (DataFrame, DataFrame) = {
    val oldTypes = old.schema.fields.map(f => f.name -> f.dataType).toMap
    var b = batch
    batch.schema.fields.foreach { f =>
      oldTypes.get(f.name).foreach { ot =>
        if (ot != f.dataType) b = b.withColumn(f.name, col(f.name).cast(widen(ot, f.dataType)))
      }
    }
    var o = old
    b.schema.fields.foreach { f =>
      oldTypes.get(f.name).foreach { ot =>
        val w = widen(ot, f.dataType)
        if (ot != w) o = o.withColumn(f.name, col(f.name).cast(w))
      }
    }
    (o, b)
  }

  private def upsetProperty(u: UpsetProperty): Unit = {
    val db = requireDb(u.group)
    val df = catalog.read(db, u.group)
    val pred = u.where.map(predColumn(df, _)).getOrElse(lit(true))
    var out = df
    u.props.fields.foreach { case (k, v) =>
      val t = sparkType(v)
      val newVal = lit(sparkValue(v, t))
      out =
        if (out.columns.contains(k))
          out.withColumn(k, when(pred, newVal.cast(out.schema(k).dataType)).otherwise(col(k)))
        else out.withColumn(k, when(pred, newVal).otherwise(lit(null).cast(t)))
    }
    catalog.write(db, u.group, out, "vertex", catalog.keyTypeOf(db, u.group))
  }

  private def removeVertex(r: RemoveVertex): Unit = {
    val db = requireDb(r.group)
    val df = catalog.read(db, r.group)
    val pred: Column = if (r.keys.nonEmpty) keysPred(r.keys) else predColumn(df, r.where.get)
    val removedKeys = df.filter(pred).select("key_i", "key_s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      catalog.write(db, r.group, df.filter(!coalesce(pred, lit(false))), "vertex",
        catalog.keyTypeOf(db, r.group))
      // S5 cascade: incident edges die with the vertex (RemovePlan.cpp:9-21)
      catalog.edgeGroups(db).foreach { eg =>
        val edges = catalog.read(db, eg)
        val hitSrc = edges.join(broadcast(removedKeys),
          edges("src_i") <=> removedKeys("key_i") && edges("src_s") <=> removedKeys("key_s"),
          "left_anti")
        val survivors = hitSrc.join(broadcast(removedKeys),
          hitSrc("dst_i") <=> removedKeys("key_i") && hitSrc("dst_s") <=> removedKeys("key_s"),
          "left_anti")
        catalog.write(db, eg, survivors, "edge", "")
      }
    } finally removedKeys.unpersist(false)
  }

  /** Remove keys match either key column: a numeric text key matches the
    * int key too (reference converts digit strings — gutil.cpp hash64
    * path). */
  private def keysPred(keys: Seq[GVal]): Column =
    keys.map {
      case GInt(l) => col("key_i") === l
      case GStr(s) if s.forall(_.isDigit) && s.nonEmpty =>
        col("key_s") === s || col("key_i") === s.toLong
      case GStr(s) => col("key_s") === s
      case other => throw new IllegalArgumentException(s"bad remove key $other")
    }.reduce(_ || _)

  private def removeEdge(r: RemoveEdge): Unit = {
    val db = requireDb(r.group)
    val df = catalog.read(db, r.group)
    val pred = r.patterns.map(predColumn(df, _)).reduceOption(_ || _)
      .getOrElse(throw new IllegalArgumentException("remove edge needs at least one pattern"))
    catalog.write(db, r.group, df.filter(!coalesce(pred, lit(false))), "edge", "")
  }

  // ---- node keys and the walk rule ------------------------------------------

  /** The node an edge end or vertex key names, as one string: the text key,
    * or the int key printed (`end` is `src`, `dst` or `key`). */
  private def nodeCol(end: String): Column =
    coalesce(col(s"${end}_s"), col(s"${end}_i").cast("string"))

  /** The node a literal key names, in [[nodeCol]]'s form. */
  private def nodeStr(v: GVal): String = v match {
    case GInt(l) => l.toString
    case GStr(s) => s
    case GDatetime(e) => e.toString
    case other => throw new IllegalArgumentException(s"bad node key $other")
  }

  /** `end`'s key equals `v` in its own typed column; `*` matches any key. */
  private def keyIs(end: String, v: GVal): Column = v match {
    case GStar => lit(true)
    case GInt(l) => col(s"${end}_i") === l
    case GStr(s) => col(s"${end}_s") === s
    case other => throw new IllegalArgumentException(s"bad key $other")
  }

  /** One direction of the walk rule (class doc): whether only directed edges
    * qualify, and the (near, far) end prefixes each qualifying edge is
    * walked by. */
  private case class Walk(directedOnly: Boolean, ways: Seq[(String, String)]) {
    def edgesOf(edges: DataFrame): DataFrame =
      if (directedOnly) edges.filter(col("directed")) else edges
  }

  private def walk(dir: String): Walk = dir match {
    case "->" => Walk(directedOnly = true, Seq("src" -> "dst"))
    case "<-" => Walk(directedOnly = true, Seq("dst" -> "src"))
    case _ => Walk(directedOnly = false, Seq("src" -> "dst", "dst" -> "src"))
  }

  // ---- query ---------------------------------------------------------------

  private var lastDb: Option[String] = None
  /** Session default pinned by `use graph 'xxx'` — unlike the [[lastDb]]
    * heuristic it is explicit, so it wins outright and mutations on groups
    * missing from it ERROR rather than silently routing to another graph. */
  private var usedDb: Option[String] = None

  /** The reference binds statements to the open db handle; scripts here name
    * the db via `in:` (queries), the `use graph` default, or inherit the last
    * one used (mutations). The last-used graph wins when it contains the
    * group — otherwise two graphs sharing a group name would route mutations
    * alphabetically. */
  private def requireDb(group: String): String =
    usedDb.filter(catalog.exists) match {
      case Some(db) =>
        if (!catalog.groups(db).contains(group))
          throw new IllegalArgumentException(
            s"group '$group' not in used graph '$db'")
        db
      case None =>
        val fromLast = lastDb.filter(db =>
          catalog.exists(db) && catalog.groups(db).contains(group))
        fromLast
          .orElse(catalog.listGraphs().find(db => catalog.groups(db).contains(group)))
          .getOrElse(
            throw new IllegalArgumentException(s"no graph contains group '$group'"))
    }

  private def runQuery(q: Query): DataFrame = {
    val db = q.in.orElse(usedDb.filter(catalog.exists))
      .orElse(lastDb.filter(catalog.exists)).getOrElse(
      catalog.listGraphs().headOption.getOrElse(
        throw new IllegalArgumentException("no graph open")))
    lastDb = Some(db)
    q.target match {
      case AllGroups =>
        // walks and matches run over the union of every edge group
        def edges = unionOf(db, catalog.edgeGroups(db), "edge groups")
        q.where match {
          case Some(mp: MinPath) => minPathQuery(edges, mp)
          case Some(mo: Motif) => motifQuery(db, edges, mo)
          case where =>
            val all = unionOf(db, catalog.groups(db), "groups")
            where.map(p => all.filter(predColumn(all, p))).getOrElse(all)
        }
      case GroupTarget(g) =>
        val df = catalog.read(db, g)
        q.where match {
          case Some(n: Neighbor) => neighborQuery(df, n)
          case Some(mp: MinPath) => minPathQuery(df, mp)
          case Some(knn: Knn) => knnQuery(db, g, df, knn)
          case Some(mo: Motif) => motifQuery(db, df, mo)
          case Some(p) => df.filter(predColumn(df, p))
          case None => df
        }
      case Projection(g, props) =>
        val df = catalog.read(db, g)
        val base = q.where.map(p => df.filter(predColumn(df, p))).getOrElse(df)
        base.select(props.filter(base.columns.contains).map(col): _*)
    }
  }

  /** `groups` of `db` as one frame; a property a group lacks reads null. */
  private def unionOf(db: String, groups: Seq[String], what: String): DataFrame = {
    if (groups.isEmpty) throw new IllegalArgumentException(s"no $what in '$db'")
    groups.map(catalog.read(db, _)).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Number of distinct HNSW index generations (one per (db, group, prop,
    * dim, version)) materialized under the catalog root (test hook). A
    * generation is the SET of per-partition blobs `.hnswp_*_v<ver>_p<pid>`
    * written by [[knnQuery]]'s scatter; mutations bump the version and the
    * stale generation is evicted before the next indexed query. */
  private[graft] def hnswIndexCount: Int = {
    val r = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(r)) 0
    else {
      val st = java.nio.file.Files.walk(r)
      // dedup on the root-relative path (two groups may both index a
      // prop named 'v' — same blob NAMES, different generations)
      try st.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".hnswp_"))
        .map(p => r.relativize(p).toString.replaceAll("_p\\d+$", ""))
        .toSet.size
      finally st.close()
    }
  }

  /** E9 via GQL `{prop: {limit: k, $near: [...]}}`. When the group DECLARES
    * an index on `prop` (create's `index:` clause — stored by
    * [[GraphCatalog]], and unlike the reference actually consulted here),
    * the query runs the two-stage distributed HNSW scatter
    * ([[graft.operators.VectorOps.qAnnHnsw2]]'s shape; reference knnSearch
    * HNSW.cpp:134-165): deterministic hash-repartition of the group, each
    * partition builds — or RELOADS — a partition-local
    * [[graft.vector.Hnsw]] and surrenders its local top-`want`
    * (want = max(k·KNN_OVER_FETCH, KNN_MIN_FETCH)) candidate ids; the driver
    * merge moves only PARTS×want ids (bounded regardless of group size —
    * the group itself is never collected), and the exact codegen'd re-rank
    * keeps k. Partition indexes persist beside the catalog version they
    * index as `.hnswp_<prop>_d<dim>_v<ver>_p<pid>` blobs (the distributed
    * form of reference HNSW.cpp:358-374's persistence): a repeat query —
    * or a fresh engine on the same root — loads instead of rebuilding,
    * because `repartition(PARTS, key_i)` routes identical rows to
    * identical partitions across sessions. Mutations bump the catalog
    * version; the superseded generation's blobs are evicted before the
    * next scatter. The index route is APPROXIMATE: results match the brute
    * path whenever the true top-k survives its own partition's local
    * search — the over-fetch margin makes a miss rare, not impossible.
    * Without a declared index (or with string keys, which HNSW ids don't
    * model): exact brute-force top-k — one scan, TakeOrderedAndProject,
    * no shuffle. */
  private def knnQuery(db: String, group: String, df: DataFrame, knn: Knn): DataFrame = {
    if (!df.columns.contains(knn.prop)) return df.limit(0)
    val orderExpr = VectorExprs.dist2(col(knn.prop).cast("array<double>"),
      array(knn.vec.map(lit): _*).cast("array<double>"))
    val brute = df.filter(col(knn.prop).isNotNull).orderBy(orderExpr).limit(knn.k)
    val useIndex = catalog.indexedProps(db, group).contains(knn.prop) &&
      catalog.keyTypeOf(db, group) == "int"
    if (!useIndex) brute
    else {
      import java.nio.file.{Files, Paths}
      val ver = catalog.versionOf(db, group)
      val dim = knn.vec.length
      val dir = Paths.get(root, db, group)
      Files.createDirectories(dir)
      // generation name carries the query dimension: a wrong-dimension
      // probe builds its own (empty) generation and cannot poison
      // correct-dimension queries at the same version
      val genStem = s".hnswp_${knn.prop}_d$dim"
      val gen = s"${genStem}_v${ver}_p"
      // evict superseded generations (any version but the current one),
      // orphaned temp blobs of SUPERSEDED versions (a concurrent engine on
      // the same root may be mid save-then-move for the CURRENT version —
      // its tmp files are live, not debris), and single-file blobs from
      // the pre-scatter layout
      val stale = Files.list(dir)
      try stale.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          (n.startsWith(s"${genStem}_v") && !n.startsWith(gen)) ||
            (n.startsWith(s"tmp$genStem") && !n.startsWith(s"tmp$gen")) ||
            n.startsWith(s".hnsw_${knn.prop}_d")
        }.toSeq.foreach(Files.deleteIfExists(_))
      finally stale.close()
      val want = math.max(knn.k * GqlEngine.KNN_OVER_FETCH, GqlEngine.KNN_MIN_FETCH)
      val pvec = knn.vec.toArray
      val dirStr = dir.toString
      import spark.implicits._
      // stage 1: per-partition build-or-load + local search. Each task
      // touches only its partition; blobs are published via temp + atomic
      // move so a re-run can never observe a half-written index.
      val ids: Array[Long] = df.filter(col(knn.prop).isNotNull)
        .select(col("key_i"), col(knn.prop).cast("array<double>"))
        .as[(Long, Seq[Double])]
        .repartition(GqlEngine.KNN_PARTS, col("key_i"))
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val file = Paths.get(dirStr, s"$gen$pid")
          val idx =
            // loadCached: the executor keeps its partitions' indexes
            // resident (JVM-wide LRU), so a repeat query deserializes
            // nothing — the ANN-serving warm path
            if (Files.exists(file)) graft.vector.Hnsw.loadCached(file.toString)
            else {
              // insertion order sorted by id → reproducible local graph
              val rows = it.toArray.sortBy(_._1)
              val h = new graft.vector.Hnsw(dim)
              rows.foreach { case (id, vec) =>
                if (vec != null && vec.length == dim) h.add(id, vec.toArray)
              }
              // publish's "tmp" prefix keeps half-written files out of the
              // generation namespace the hnswIndexCount hook scans
              h.publish(file)
              h
            }
          idx.search(pvec, want, ef = math.max(4 * want, 256)).map(_._1).iterator
        }.collect() // ≤ PARTS×want ids — the bounded scatter-gather merge
      // stage 2: exact re-rank of the candidate ids. Empty candidates ⟺
      // no same-dimension vector exists in ANY partition (a non-empty
      // partition index always surrenders ≥1 id) — return empty, because
      // brute would rank wrong-dimension vectors by Dist2's prefix fold
      // (garbage, not a fallback). Fewer than k candidates (tiny group,
      // local recall shortfall): fall back to the exact brute path —
      // never return a short answer an exact scan would have filled.
      if (ids.isEmpty) df.limit(0)
      else if (ids.length < knn.k) brute
      else df.filter(col("key_i").isin(ids: _*)).orderBy(orderExpr).limit(knn.k)
    }
  }

  /** Q11 general lambdas (SURVEY §2.4(b)): a parameterized lambda bound
    * becomes a per-row closure UDF — each param reads the row attribute of
    * the same name (cast to double), the body runs in [[Lambda.evalWith]],
    * and the returned value is the comparison operand. A row where any
    * bound attribute is null/missing yields a null operand, so the
    * predicate never matches — consistent with attribute semantics
    * everywhere else. A UDF (not codegen) is the right tier here: the body
    * is arbitrary user logic, and only the lambda-bound queries pay for it
    * (constant-foldable lambdas never reach this path). See the divergence
    * note on [[Lambda.evalWith]] — the reference drops the VM result. */
  private def lambdaBound(df: DataFrame, params: Seq[String], body: Seq[Lambda.Stmt]): Column = {
    val f = udf { (vals: Seq[java.lang.Double]) =>
      if (vals.exists(_ == null)) None
      else Lambda.evalWith(body, params.zip(vals.map(_.doubleValue())).toMap)
    }
    val args =
      if (params.isEmpty) array().cast("array<double>")
      else array(params.map(p =>
        if (df.columns.contains(p)) col(p).cast("double")
        else lit(null).cast("double")): _*)
    f(args)
  }

  /** Compile a predicate to a Column over `df`. Missing attributes are
    * SQL-null and thus never match (reference: attr access fails → no
    * match). Equality against an array attribute is containment
    * (`{keyword: 'b'}` matches keyword ['a','b']). */
  private def predColumn(df: DataFrame, p: Pred): Column = {
    def colType(name: String): Option[DataType] =
      df.schema.fields.find(_.name == name).map(_.dataType)
    def propCol(name: String): Option[Column] =
      if (df.columns.contains(name)) Some(col(name)) else None
    def litOf(v: GVal): Column = v match {
      case GStr(s) => lit(s)
      case GInt(l) => lit(l)
      case GNum(d) => lit(d)
      case GDatetime(e) => lit(e)
      case other => throw new IllegalArgumentException(s"bad literal $other")
    }
    p match {
      case Eq(prop, v) => (propCol(prop), colType(prop)) match {
        case (Some(c), Some(ArrayType(_, _))) => array_contains(c, litOf(v))
        case (Some(c), _) => c === litOf(v)
        case _ => lit(false)
      }
      case In(prop, vs) => (propCol(prop), colType(prop)) match {
        case (Some(c), Some(ArrayType(_, _))) =>
          vs.map(v => array_contains(c, litOf(v))).reduce(_ || _)
        case (Some(c), _) => c.isin(vs.map {
          case GStr(s) => s
          case GInt(l) => l
          case GNum(d) => d
          case GDatetime(e) => e
          case other => throw new IllegalArgumentException(s"bad in-list item $other")
        }: _*)
        case _ => lit(false)
      }
      case Range(prop, bounds) => propCol(prop) match {
        case Some(c) =>
          def boundCol(v: GVal): Column = v match {
            case GLambda(params, body) => lambdaBound(df, params, body)
            case other => litOf(other)
          }
          bounds.map {
            case ("$gt", v) => c > boundCol(v)
            case ("$gte", v) => c >= boundCol(v)
            case ("$lt", v) => c < boundCol(v)
            case ("$lte", v) => c <= boundCol(v)
            case (op, _) => throw new IllegalArgumentException(s"bad bound $op")
          }.reduce(_ && _)
        case None => lit(false)
      }
      case IdEq(k) => keyIs("key", k)
      case Exists(prop) => propCol(prop).map(_.isNotNull).getOrElse(lit(false))
      case And(ps) => ps.map(predColumn(df, _)).reduceOption(_ && _).getOrElse(lit(true))
      case Or(ps) => ps.map(predColumn(df, _)).reduceOption(_ || _).getOrElse(lit(false))
      case Near(prop, geom, op, r) => propCol(prop) match {
        case Some(c) =>
          val d2 = VectorExprs.dist2(c.cast("array<double>"),
            array(geom.map(lit): _*).cast("array<double>"))
          op match {
            case "$lt" => d2 < r
            case "$lte" => d2 <= r
            case "$gt" => d2 > r
            case "$gte" => d2 >= r
          }
        case None => lit(false)
      }
      case EdgePattern(from, dir, to) => // an edge walked from `from` to `to`
        val w = walk(dir)
        val hit = w.ways.map { case (near, far) => keyIs(near, from) && keyIs(far, to) }
          .reduce(_ || _)
        if (w.directedOnly) col("directed") && hit else hit
      case n: Neighbor =>
        throw new IllegalArgumentException("neighbor predicate handled at query level")
      case k: Knn =>
        throw new IllegalArgumentException("knn predicate handled at query level")
      case m: MinPath =>
        throw new IllegalArgumentException("min-path walk handled at query level")
      case m: Motif =>
        throw new IllegalArgumentException("multi-edge match handled at query level")
    }
  }

  /** E3 multi-edge pattern match — the reference grammar accepts multi-edge
    * walks (src/gql.y:389-433) and routes them to `QueryType::Match`
    * (ScanPlan.cpp:356-362) whose strategy is a STUB
    * (src/operand/match/CTreeStrategy.cpp), so the semantics are defined
    * here, E10-style, and pinned by GqlSpec (see [[Ast.MotifV]]).
    *
    * Each hop follows the walk rule (class doc). Plan: one chain of
    * equi-joins over the edge relation — each hop projects its node-string
    * endpoints to the hop's variable names and joins the accumulated
    * binding frame on the variables already bound (Catalyst picks
    * broadcast/shuffle; hops with no shared variable cross-join, which is
    * the definitional product of disconnected pattern components).
    * Concrete keys filter before the join; `{...}` attribute slots
    * semi-join against a broadcast frame of matching vertex keys; per-hop
    * `distinct` keeps parallel edges from multiplying intermediate rows.
    * Result: DISTINCT bindings, one string column per variable in
    * first-appearance order; a pattern with no variables returns one row
    * `(matched: combination count over distinct endpoint pairs per hop)`.
    */
  private def motifQuery(db: String, edges: DataFrame, m: Motif): DataFrame = {
    require(m.edges.nonEmpty, "empty match pattern")
    // vertex keys satisfying an attribute condition — a condition slot
    // matches a vertex of ANY group whose attributes satisfy the predicate
    // (missing attributes are null → no match, as everywhere else)
    def condKeys(p: Pred): DataFrame = {
      val all = unionOf(db, catalog.groups(db)
        .filter(g => catalog.groupKind(db, g).contains("vertex")), "vertex groups")
      all.filter(predColumn(all, p)).select(nodeCol("key").as("__ck")).distinct()
    }
    var acc: Option[DataFrame] = None
    val varOrder = scala.collection.mutable.LinkedHashSet.empty[String]
    m.edges.foreach { e =>
      val base = e.cond.map(p => edges.filter(predColumn(edges, p))).getOrElse(edges)
      val w = walk(e.dir)
      var rel = w.ways.map { case (near, far) =>
        w.edgesOf(base).select(nodeCol(near).as("__f"), nodeCol(far).as("__t"))
      }.reduce(_ unionByName _)
      def bindEnd(v: MotifV, c: String): Option[String] = v match {
        case MVar(n) => varOrder += n; Some(n)
        case MAny => None
        case MKey(k) => rel = rel.filter(col(c) === nodeStr(k)); None
        case MCond(p) =>
          rel = rel.join(broadcast(condKeys(p).withColumnRenamed("__ck", c)),
            Seq(c), "left_semi")
          None
      }
      val fn = bindEnd(e.from, "__f")
      val tn = bindEnd(e.to, "__t")
      val proj = (fn, tn) match {
        case (Some(a), Some(b)) if a == b => // self-loop slot `[a, ->, a]`
          rel.filter(col("__f") === col("__t")).select(col("__f").as(a)).distinct()
        case (Some(a), Some(b)) =>
          rel.select(col("__f").as(a), col("__t").as(b)).distinct()
        case (Some(a), None) => rel.select(col("__f").as(a)).distinct()
        case (None, Some(b)) => rel.select(col("__t").as(b)).distinct()
        // fully-anonymous hop: an existence × combination factor — a
        // zero-column frame keeps one row per distinct matching pair
        case (None, None) => rel.distinct().select()
      }
      acc = Some(acc match {
        case None => proj
        case Some(a) =>
          val shared = a.columns.toSeq.intersect(proj.columns.toSeq)
          if (shared.nonEmpty) a.join(proj, shared) else a.crossJoin(proj)
      })
    }
    val out = acc.get
    if (varOrder.isEmpty)
      out.agg(count(lit(1)).as("matched"))
    else
      out.select(varOrder.toSeq.map(col): _*).distinct()
  }

  /** E4 — min-cost path walk `[a, ->: min('cost'), b]`: bounded
    * Bellman-Ford over the edge group (the reference parses this and
    * returns success without doing anything — PathPlan.cpp:15-17). Edge
    * cost = the named property (default 1 = hop count); the walk follows
    * the walk rule (class doc), so `->` and `<-` cross directed edges
    * only. Returns one row (from, to, cost, hops) — null cost when
    * unreachable within the relaxation bound. */
  private def minPathQuery(edges: DataFrame, mp: MinPath): DataFrame = {
    val rounds = 15
    val costExpr = mp.costProp match {
      // edges lacking the property (mixed groups) cost the unit default
      case Some(p) if edges.columns.contains(p) =>
        coalesce(col(p).cast("double"), lit(1.0))
      case _ => lit(1.0)
    }
    val w = walk(mp.dir)
    val rel = w.ways.map { case (near, far) =>
      w.edgesOf(edges)
        .select(nodeCol(near).as("skey"), nodeCol(far).as("dkey"), costExpr.as("ecost"))
    }.reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // read every round
    val (from, to) = (nodeStr(mp.from), nodeStr(mp.to))
    import org.apache.spark.sql.functions.{min => fmin}
    val start = spark.range(1).select(lit(from).as("node"), lit(0.0).as("cost"), lit(0).as("hops"))
    // every round reads the previous one twice, so rounds are cut leaves
    // and the answer no longer reads `rel`
    val dist = try graft.operators.Superstep.iterate(start, rounds) { r =>
      val relaxed = r.last.join(rel, col("node") === col("skey"))
        .select(col("dkey").as("node"), (col("cost") + col("ecost")).as("cost"),
          (col("hops") + 1).as("hops"))
      r.last.unionByName(relaxed)
        .groupBy(col("node"))
        .agg(fmin(struct(col("cost"), col("hops"))).as("best"))
        .select(col("node"), col("best.cost").as("cost"), col("best.hops").as("hops"))
    }.last finally rel.unpersist(false)
    val hit = dist.filter(col("node") === to)
    spark.range(1).select(lit(from).as("from"), lit(to).as("to"))
      .join(hit.select(col("cost"), col("hops")), lit(true), "left")
  }

  /** E2 neighbor query: the nodes reached from the origin within `hops`
    * hops (at least one), origin excluded, each in every `(neighbor_i,
    * neighbor_s)` twin form under which it appears in the group.
    *
    * Each hop is one filtered scan of the edge group (SURVEY E2's
    * `edges.filter(src === v || ...)`): a matching edge's near end must be
    * in the frontier and its far end not yet seen, walked by the walk rule
    * (class doc). The scan's new far ends are collected and become the next
    * hop's literal filter; an empty frontier ends the walk early. One more
    * scan maps the reached node strings to their twin forms. So a k-hop
    * query runs at most k + 1 jobs, persists nothing and shuffles
    * nothing. The driver holds only the reached set, and may: that set is
    * the answer, returned as a local frame. */
  private def neighborQuery(edges: DataFrame, n: Neighbor): DataFrame = {
    val origin = nodeStr(n.key)
    val w = walk(n.dir)
    val ways = w.ways.map { case (near, far) => nodeCol(near) -> nodeCol(far) }
    val seen = scala.collection.mutable.LinkedHashSet(origin)
    var frontier = Seq(origin)
    var hop = 0
    while (hop < math.max(1, n.hops) && frontier.nonEmpty) {
      val known = seen.toSeq
      val step = ways.map { case (near, far) =>
        near.isin(frontier: _*) && far.isNotNull && !far.isin(known: _*)
      }
      val found = w.edgesOf(edges).filter(step.reduce(_ || _))
        .select(ways.zip(step).map { case ((_, far), hit) => when(hit, far) }: _*)
        .collect().flatMap(r => (0 until r.length).map(r.getString)).filter(_ != null)
      frontier = found.distinct.toSeq
      seen ++= frontier
      hop += 1
    }
    val reached = seen.toSeq.tail
    val iType = edges.schema("src_i").dataType
    val sType = edges.schema("src_s").dataType
    val ends = Seq(nodeCol("src") -> struct(col("src_i"), col("src_s")),
      nodeCol("dst") -> struct(col("dst_i").cast(iType), col("dst_s").cast(sType)))
    val hits = ends.map { case (key, _) => key.isin(reached: _*) }
    val twins: Seq[Row] =
      if (reached.isEmpty) Nil
      else edges.filter(hits.reduce(_ || _))
        .select(ends.zip(hits).map { case ((_, twin), hit) => when(hit, twin) }: _*)
        .collect().toSeq.flatMap(r => (0 until r.length).filterNot(r.isNullAt).map(r.getStruct))
        .distinct
    val schema = StructType(Seq(StructField("neighbor_i", iType), StructField("neighbor_s", sType)))
    spark.createDataFrame(twins.asJava, schema)
  }

  // ---- dump (S8) -----------------------------------------------------------

  /** Rows per emitted upset statement in [[dump]] — bounds both driver
    * memory (one partition's chunk at a time via toLocalIterator) and the
    * statement size a replaying parser must swallow. */
  val DUMP_CHUNK = 1000

  /** Replayable GQL script for a graph (UtilPlan.cpp:128-205 semantics).
    * Dump is a driver-side export by definition, but it STREAMS: rows come
    * through `toLocalIterator` (one partition in memory at a time, not the
    * whole group) and every DUMP_CHUNK rows emit one upset statement, so a
    * group larger than driver memory still dumps. */
  def dump(db: String): String = {
    val sb = new StringBuilder
    val groups = catalog.groups(db)
    val decls = groups.map { g =>
      catalog.edgeEnds(db, g) match {
        case Some((from, to)) => s"['$from', '$g', '$to']" // keep edge registration
        case None => s"'$g'"
      }
    }
    sb.append(s"{create: '$db', group: [${decls.mkString(", ")}]};\n")
    groups.foreach { g =>
      val df = catalog.read(db, g)
      val kind = catalog.groupKind(db, g).getOrElse("unknown")
      val render: Row => String =
        if (kind == "edge") renderEdge(df, _) else renderVertex(df, _)
      val listKind = if (kind == "edge") "edge" else "vertex"
      df.toLocalIterator().asScala.grouped(DUMP_CHUNK).foreach { chunk =>
        sb.append(s"{upset: '$g', $listKind: [${chunk.map(render).mkString(", ")}]};\n")
      }
    }
    sb.toString
  }

  private def renderKey(i: Any, s: Any): String =
    if (i != null) i.toString
    else s"'${s.toString.replace("\\", "\\\\").replace("'", "\\'")}'"

  private def renderVertex(df: DataFrame, row: Row): String = {
    val props = df.schema.fields.zipWithIndex
      .filter { case (f, i) => !Set("key_i", "key_s")(f.name) && !row.isNullAt(i) }
      .map { case (f, i) => s"${f.name}: ${renderCell(row.get(i))}" }
    val key = renderKey(row.getAs[Any]("key_i"), row.getAs[Any]("key_s"))
    if (props.isEmpty) s"[$key]" else s"[$key, {${props.mkString(", ")}}]"
  }

  private def renderEdge(df: DataFrame, row: Row): String = {
    val from = renderKey(row.getAs[Any]("src_i"), row.getAs[Any]("src_s"))
    val dir = if (row.getAs[Boolean]("directed")) "->" else "--"
    val to = (row.getAs[Any]("dst_i"), row.getAs[Any]("dst_s")) match {
      case (null, null) => null
      case (i, s) => renderKey(i, s)
    }
    val base = Set("src_i", "src_s", "dst_i", "dst_s", "directed")
    val props = df.schema.fields.zipWithIndex
      .filter { case (f, i) => !base(f.name) && !row.isNullAt(i) }
      .map { case (f, i) => s"${f.name}: ${renderCell(row.get(i))}" }
    if (to == null) s"[$from]"
    else if (props.isEmpty) s"[$from, $dir, $to]"
    else s"[$from, $dir: {${props.mkString(", ")}}, $to]"
  }

  private def renderCell(v: Any): String = v match {
    case s: String => s"'${s.replace("'", "\\'")}'"
    case b: Array[Byte] => s"0b'${java.util.Base64.getEncoder.encodeToString(b)}'"
    case a: scala.collection.Seq[_] => s"[${a.map(renderCell).mkString(", ")}]"
    case other => other.toString
  }

  private def renderValue(v: GVal): String = v match {
    case GStr(s) => s"'$s'"
    case GInt(l) => l.toString
    case GNum(d) => d.toString
    case GDatetime(e) => s"0d$e"
    case GBinary(b) => s"0b'${java.util.Base64.getEncoder.encodeToString(b)}'"
    case GArr(items) => s"[${items.map(renderValue).mkString(", ")}]"
    case GObj(fields) => s"{${fields.map { case (k, x) => s"$k: ${renderValue(x)}" }.mkString(", ")}}"
    case GStar => "*"
    case GLambda(ps, _) => s"(${ps.mkString(", ")}) => {...}"
  }
}

object GqlEngine {
  /** Index-route candidate over-fetch factor (×k) before the exact
    * re-rank — the recall-insurance margin (see knnQuery). */
  val KNN_OVER_FETCH = 4
  /** Floor on the over-fetched candidate count, so small-k probes still
    * carry a meaningful margin. */
  val KNN_MIN_FETCH = 50
  /** Partitions for the declared-index KNN scatter — the executor-partition
    * count at cluster scale; locally sized like
    * [[graft.operators.VectorOps.HNSW2_PARTS]] so per-partition indexes
    * stay non-trivial at test SFs. */
  val KNN_PARTS = 8
}
