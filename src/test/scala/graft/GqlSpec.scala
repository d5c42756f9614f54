package graft

import graft.gql.{GqlEngine, Parser}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end GQL engine tests mirroring the reference's grammar suite
  * (/root/reference/test/grammar.cpp successful_test) — semantics ports
  * with clean-engine counts, not byte-identical goldens (SURVEY §5). */
class GqlSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private def freshEngine(): GqlEngine = {
    val dir = java.nio.file.Files.createTempDirectory("gql").toString
    new GqlEngine(spark, dir)
  }

  private def count(e: GqlEngine, gql: String): Long =
    e.query(gql).count()

  test("create / upset / key-type enforcement / scan counts") {
    val e = freshEngine()
    assert(e.exec("{create: 'ga', group: ['g']};").head.status == "CREATE SUCCESS")
    assert(e.exec("{create: 'ga', group: [{g: ['title', 'class', 'keyword', 'color', 'create_time', 'location'], index: ['keyword', 'color', 'create_time', 'location']}, 'e', 'tag']};")
      .head.status == "CREATE SUCCESS")
    assert(e.exec("{upset: 'g', vertex: [[328, {title: 'Tale\\'s from the Crypt', genres: 'Horror|Thriller'}]]};")
      .head.status == "UPSET SUCCESS")
    // key type fixed on first write: string key into an int-keyed group fails
    assert(e.exec("{upset: 'g', vertex: [['328', {title: 'dup'}]]};")
      .head.status.startsWith("error"))
    assert(count(e, "{query: 'g'};") == 1)
    assert(count(e, "{query: 'g', in: 'ga'};") == 1)

    assert(e.exec("{upset: 'g', vertex: [[55, {update_time: 0d12345}]]};").head.status == "UPSET SUCCESS")
    assert(e.exec("{upset: 'g', vertex: [[1040187648, {datetime:'0d1600577894000', filename: 'a.jpg', size: 207879, width: 650}]]};")
      .head.status == "UPSET SUCCESS")
    assert(count(e, "{query: 'g', in: 'ga', where: {datetime: {$gt:0d1600531200000}}};") == 1)

    assert(e.exec("{upset: 'g', property: {filename: '7777.jpg'}, where: {id: 1040187648}};")
      .head.status == "UPSET SUCCESS")
    assert(count(e, "{query: 'g', in: 'ga', where: {filename: '7777.jpg'}};") == 1)

    assert(e.exec(
      """{upset: 'g', vertex: [
        |  [42, {class: 'a/c', location: [131.24194, 37.12532], keyword: ['a', 'b'], create_time: 1}],
        |  [46, {color: [52, 62, 88], location: [131.24194, 36.12532], keyword: ['a'], create_time: 2, update_time: 0d1664268855}],
        |  [45],
        |  [4, {keyword: [], create_time: 1}]
        |]};""".stripMargin).head.status == "UPSET SUCCESS")
    assert(count(e, "{query: 'g', in: 'ga'};") == 7)

    // array attr equality is containment
    assert(count(e, "{query: 'g', in: 'ga', where: {keyword: 'b'}};") == 1)
    // ranges incl. multiple bounds on one prop
    assert(count(e, "{query: 'g', in: 'ga', where: {create_time: {$gt: 1, $lt: 5}}};") == 1)
    assert(count(e, "{query: 'g', in: 'ga', where: {create_time: {$gte: 1, $lt: 5}}};") == 3)
    assert(count(e, "{query: 'g', in: 'ga', where: {create_time: {$gt: 1}}};") == 1)
    assert(count(e, "{query: 'g', in: 'ga', where: {create_time: {$lt: 5}}};") == 3)
    assert(count(e, "{query: 'g', in: 'ga', where: {$and: [{create_time: {$lt: 5}}]}};") == 3)
    assert(count(e, "{query: 'g', in: 'ga', where: {$or: [{create_time: {$lt: 5}}]}};") == 3)
    // id lookup on the string column misses int keys
    assert(count(e, "{query: 'g', in: 'ga', where: {id: 'v1'}};") == 0)

    // $near over the color vector of vertex 46
    assert(count(e, "{query: 'g', in: 'ga', where: {color: {$near: {$geometry: [52, 62, 88], $lt: 10}}}};") == 1)

    // Q11 lambda constant-folds to its return value (10) at plan time
    assert(count(e,
      "{query: 'g', in: 'ga', where: {create_time: {$lt: ()=>{(1+2)*2/3-(1.0 + 2)/3.1;let a = 6; return 10;}}}};") == 3)

    // projection (Q12 — done properly, unlike the reference)
    val proj = e.query("{query: [g.title], in: 'ga', where: {keyword: 'b'}};")
    assert(proj.columns.toSeq == Seq("title"))

    // remove with digit-string key matches the int key; cascade-ready
    assert(e.exec("{remove: 'g', vertex: ['55']};").head.status == "REMOVE SUCCESS")
    assert(count(e, "{query: 'g', in: 'ga'};") == 6)
  }

  test("edges: normalization, wildcard patterns, neighbor query") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: ['g', 'e', 'tag']};")
    assert(e.exec("{upset: 'tag', edge: [[474, --: {tag: 'robots'}, 589]]};").head.status == "UPSET SUCCESS")
    assert(e.exec("{upset: 'e', edge: [['player149', ->: {start_year: 2016, end_year: 2019 }, 'team219']]};")
      .head.status == "UPSET SUCCESS")
    e.exec("{upset: 'e', edge: [['v1', --, 'v2']]};")
    e.exec("{upset: 'e', edge: [['v2', ->, 'v3']]};")
    e.exec("{upset: 'e', edge: [['v4']]};")
    e.exec("{upset: 'e', edge: [['v3', ->, 'v3']]};")
    assert(count(e, "{query: 'e', in: 'ga'};") == 5)
    assert(count(e, "{query: 'e', in: 'ga', where: ['v1', --, *]};") == 1)
    assert(count(e, "{query: 'e', in: 'ga', where: ['v1', ->, *]};") == 0)
    assert(count(e, "{query: 'e', in: 'ga', where: {id: 'v1', ->: *, neighbor: 1}};") == 0)
    assert(count(e, "{query: 'e', in: 'ga', where: {id: 'v1', --: *, neighbor: 1}};") == 1)
    // `<-` is stored reversed: v5 <- v3  ==  v3 -> v5
    e.exec("{upset: 'e', edge: [['v5', <-, 'v3']]};")
    assert(count(e, "{query: 'e', in: 'ga', where: ['v3', ->, 'v5']};") == 1)
    assert(count(e, "{query: 'e', in: 'ga', where: ['v5', <-, 'v3']};") == 1)
    // remove edge with wildcard endpoint
    assert(e.exec("{remove: 'e', edge: [['v3', ->, *]]};").head.status == "REMOVE SUCCESS")
    assert(count(e, "{query: 'e', in: 'ga', where: ['v3', ->, *]};") == 0)
  }

  test("remove vertex cascades to incident edges") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: ['g', ['g', 'e', 'g']]};")
    e.exec("{upset: 'g', vertex: [['a'], ['b'], ['c']]};")
    e.exec("{upset: 'e', edge: [['a', ->, 'b'], ['b', ->, 'c'], ['a', --, 'c']]};")
    assert(count(e, "{query: 'e', in: 'ga'};") == 3)
    e.exec("{remove: 'g', vertex: ['a']};")
    assert(count(e, "{query: 'g', in: 'ga'};") == 2)
    // both edges touching 'a' are gone
    assert(count(e, "{query: 'e', in: 'ga'};") == 1)
  }

  private def cachedEntries: Int = org.apache.spark.sql.graftbridge.CacheEntries(spark)

  test("remove vertex with an edge cascade leaves no cached entry behind") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: ['g', ['g', 'e', 'g']]};")
    e.exec("{upset: 'g', vertex: [['a'], ['b'], ['c']]};")
    e.exec("{upset: 'e', edge: [['a', ->, 'b'], ['b', ->, 'c']]};")
    val before = cachedEntries
    assert(e.exec("{remove: 'g', vertex: ['a']};").head.status == "REMOVE SUCCESS")
    assert(count(e, "{query: 'e', in: 'ga'};") == 1)
    assert(cachedEntries <= before, s"remove left ${cachedEntries - before} cached entries")
  }

  test("multi-group scan, show, ast, dump round-trip") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: ['g', 'h']};")
    e.exec("{upset: 'g', vertex: [[1, {x: 1}], [2, {x: 2}]]};")
    e.exec("{upset: 'h', vertex: [[3, {y: 'z'}]]};")
    assert(count(e, "{query: '*', in: 'ga'};") == 3)

    val show = e.exec("show graph;").head
    assert(show.text.get.contains("ga"))
    val showG = e.exec("show graph 'ga';").head
    assert(showG.text.get.contains("g") && showG.text.get.contains("h"))

    val ast = e.exec("ast {query: 'g', in: 'ga', where: {x: {$lt: 2}}};").head
    assert(ast.status == "AST SUCCESS" && ast.text.get.contains("Query"))

    // dump emits a replayable script: drop, replay, same counts
    val script = e.exec("{dump: 'ga'};").head.text.get
    e.exec("{drop: 'ga'};")
    assert(e.exec("show graph;").head.text.get.isEmpty)
    script.split(";\n").filter(_.trim.nonEmpty).foreach(s => {
      val r = e.exec(s + ";")
      assert(!r.head.status.startsWith("error"), s"replay failed: $s -> ${r.head.status}")
    })
    assert(count(e, "{query: '*', in: 'ga'};") == 3)
  }

  test("upsert is idempotent (merge-on-key property, SURVEY §5)") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: ['g']};")
    val batch = "{upset: 'g', vertex: [[1, {x: 5}], [2, {x: 9}], [3]]};"
    e.exec(batch)
    val once = e.query("{query: 'g', in: 'ga'};").orderBy("key_i").collect().toSeq
    e.exec(batch)
    val twice = e.query("{query: 'g', in: 'ga'};").orderBy("key_i").collect().toSeq
    assert(once == twice)
    assert(twice.length == 3)
  }

  test("edge normalization property: a<-b stores as b->a and dedups (SURVEY §5)") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['a', <-, 'b']]};")
    e.exec("{upset: 'e', edge: [['b', ->, 'a']]};") // identical normalized id
    assert(count(e, "{query: 'e', in: 'ga'};") == 1)
    assert(count(e, "{query: 'e', in: 'ga', where: ['b', ->, 'a']};") == 1)
    assert(count(e, "{query: 'e', in: 'ga', where: ['a', <-, 'b']};") == 1)
    assert(count(e, "{query: 'e', in: 'ga', where: ['a', ->, 'b']};") == 0)
  }

  test("lambda binary minus folds correctly (10-2 = 8, not 10)") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: ['g']};")
    e.exec("{upset: 'g', vertex: [[1, {x: 5}], [2, {x: 9}]]};")
    // bound folds to 8: only x=5 passes
    assert(count(e, "{query: 'g', in: 'ga', where: {x: {$lt: ()=>{ return 10-2; }}}};") == 1)
  }

  test("neighbor query honors hops (k-hop neighborhood)") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['a', ->, 'b'], ['b', ->, 'c'], ['c', ->, 'd']]};")
    assert(count(e, "{query: 'e', in: 'ga', where: {id: 'a', ->: *, neighbor: 1}};") == 1) // b
    assert(count(e, "{query: 'e', in: 'ga', where: {id: 'a', ->: *, neighbor: 2}};") == 2) // b, c
    assert(count(e, "{query: 'e', in: 'ga', where: {id: 'a', ->: *, neighbor: 3}};") == 3) // b, c, d
  }

  test("undirected neighbors on a cycle: origin excluded, each neighbor once") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['a', ->, 'b'], ['b', ->, 'c'], ['c', ->, 'd'], ['d', ->, 'e'], ['e', ->, 'a']]};")
    def nbrs(hops: Int): Seq[String] =
      e.query(s"{query: 'e', in: 'ga', where: {id: 'a', --: *, neighbor: $hops}};")
        .collect().map(_.getAs[String]("neighbor_s")).toSeq.sorted
    val before = cachedEntries
    assert(nbrs(1) == Seq("b", "e"))
    assert(nbrs(2) == Seq("b", "c", "d", "e"))
    assert(cachedEntries == before, "a neighbor query left a cached entry")
  }

  /** Neighbour rows as sorted `neighbor_i|neighbor_s` strings, asserting
    * the query left no CacheManager entry behind. */
  private def nbrRows(e: GqlEngine, where: String): Seq[String] = {
    val before = cachedEntries
    val rows = e.query(s"{query: 'e', in: 'ga', where: $where};").collect()
      .map(r => s"${r.get(0)}|${r.get(1)}").toSeq.sorted
    assert(cachedEntries == before, s"neighbor query $where left a cached entry")
    rows
  }

  // The literals in the four cases below are the answers of the earlier
  // frontier-join implementation (Superstep.levels), pinned verbatim.
  test("neighbor semantics: `<-` follows directed edges backwards only") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['a', ->, 'b'], ['c', ->, 'b'], ['b', ->, 'd'], ['d', --, 'f']]};")
    assert(nbrRows(e, "{id: 'b', <-: *, neighbor: 1}") == Seq("null|a", "null|c"))
    assert(nbrRows(e, "{id: 'd', <-: *, neighbor: 2}") == Seq("null|a", "null|b", "null|c"))
    assert(nbrRows(e, "{id: 'f', <-: *, neighbor: 1}") == Nil)
    // hops below 1 walk one hop
    assert(nbrRows(e, "{id: 'd', <-: *, neighbor: 0}") == Seq("null|b"))
  }

  test("neighbor semantics: a 3-hop query on a 2-edge chain stops when the frontier empties") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['x', ->, 'y'], ['y', ->, 'z']]};")
    assert(nbrRows(e, "{id: 'x', ->: *, neighbor: 3}") == Seq("null|y", "null|z"))
  }

  test("neighbor semantics: 3-hop `--` on a 5-cycle excludes the origin, each neighbor once") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['a', ->, 'b'], ['b', ->, 'c'], ['c', ->, 'd'], ['d', ->, 'e'], ['e', ->, 'a']]};")
    assert(nbrRows(e, "{id: 'a', --: *, neighbor: 3}") == Seq("null|b", "null|c", "null|d", "null|e"))
  }

  test("neighbor semantics: endpoints mixing 5 and '5' return both twin forms") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    assert(e.exec("{upset: 'e', edge: [[1, ->, 5], ['5', ->, 7], [1, ->, '5'], [7, --, '8']]};")
      .head.status == "UPSET SUCCESS")
    assert(nbrRows(e, "{id: 1, ->: *, neighbor: 2}") == Seq("5|null", "7|null", "null|5"))
    assert(nbrRows(e, "{id: '5', --: *, neighbor: 1}") == Seq("1|null", "7|null"))
    assert(nbrRows(e, "{id: 7, <-: *, neighbor: 1}") == Seq("5|null", "null|5"))
    assert(nbrRows(e, "{id: '8', --: *, neighbor: 3}") == Seq("1|null", "5|null", "7|null", "null|5"))
    assert(nbrRows(e, "{id: 5, ->: *, neighbor: 1}") == Seq("7|null"))
  }

  test("one walk rule: `->` and `<-` cross directed edges only, `--` every edge both ways") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['a', --, 'b'], ['c', ->, 'd']]};")
    // (cost, hops) of the min-cost walk, None when unreachable
    def minPath(from: String, dir: String, to: String): Option[(Double, Int)] = {
      val r = e.query(s"{query: 'e', in: 'ga', where: ['$from', $dir: min('w'), '$to']};")
        .collect().head
      if (r.isNullAt(r.fieldIndex("cost"))) None
      else Some((r.getAs[Double]("cost"), r.getAs[Int]("hops")))
    }
    for (dir <- Seq("->", "<-"); (x, y) <- Seq(("a", "b"), ("b", "a")))
      assert(minPath(x, dir, y).isEmpty, s"$x $dir $y crossed an undirected edge")
    assert(minPath("a", "--", "b") == Some((1.0, 1)))
    assert(minPath("b", "--", "a") == Some((1.0, 1)))
    assert(minPath("c", "->", "d") == Some((1.0, 1)))
    assert(minPath("d", "<-", "c") == Some((1.0, 1)))
    // `->` neighbours and `->` min-cost walks reach the same nodes
    val nodes = Seq("a", "b", "c", "d")
    for (x <- nodes) {
      val nbrs = nbrRows(e, s"{id: '$x', ->: *, neighbor: 3}").map(_.stripPrefix("null|"))
      assert(nbrs == nodes.filter(y => y != x && minPath(x, "->", y).nonEmpty),
        s"`->` neighbours of $x disagree with min-cost reachability")
    }
  }

  test("a read of an unchanged group runs no job; a 2-hop neighbor query at most 3") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['a', ->, 'b'], ['b', ->, 'c'], ['c', ->, 'd'], ['b', ->, 'e']]};")
    e.catalog.read("ga", "e")
    val meter = new Probe.Meter
    spark.sparkContext.addSparkListener(meter)
    try {
      meter.take(spark)
      e.catalog.read("ga", "e")
      assert(meter.take(spark)._1 == 0, "a re-read of an unchanged group ran a job")
      val rows = e.query("{query: 'e', in: 'ga', where: {id: 'a', ->: *, neighbor: 2}};").collect()
      assert(rows.map(_.getAs[String]("neighbor_s")).sorted.toSeq == Seq("b", "c", "e"))
      val jobs = meter.take(spark)._1
      assert(jobs <= 3, s"a 2-hop neighbor query ran $jobs jobs")
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  test("catalog schema memo equals parquet inference after every write kind") {
    val e = freshEngine()
    val c = e.catalog
    def inferred(db: String, g: String) = spark.read.parquet(java.nio.file.Paths.get(
      c.root, db, g, s"v${c.versionOf(db, g)}").toString).schema
    def exact(gs: String*): Unit = gs.foreach { g =>
      assert(c.memoizedSchemas.get(("ga", g)).contains(inferred("ga", g)), s"memo of '$g'")
      assert(c.read("ga", g).schema == inferred("ga", g))
    }
    assert(e.exec("{create: 'ga', group: [{g: ['name', 'v'], index: ['v']}, ['g', 'e', 'g']]};")
      .head.status == "CREATE SUCCESS")
    val writes = Seq(
      "{upset: 'g', vertex: [[1, {name: 'a', x: 1}], [2, {name: 'b'}], [3]]};" -> Seq("g"),
      "{upset: 'g', property: {y: 2.5}, where: {id: 1}};" -> Seq("g"),
      "{upset: 'g', vertex: [[3, {v: [0.1, 0.2, 0.3]}], [4, {v: [1, 2, 3]}]]};" -> Seq("g"),
      "{upset: 'e', edge: [[1, ->: {w: 2}, 2], [2, --, 3], [3, ->, 4]]};" -> Seq("e"),
      "{remove: 'g', vertex: [1]};" -> Seq("g", "e"))
    writes.foreach { case (stmt, groups) =>
      assert(e.exec(stmt).head.status.endsWith("SUCCESS"), stmt)
      exact(groups: _*)
    }
    assert(count(e, "{query: 'e', in: 'ga'};") == 2)
    // the resident-leak guard: one entry per group, however many versions
    (1 to 20).foreach(i => e.exec(s"{upset: 'g', vertex: [[${10 + i}, {name: 'n$i'}]]};"))
    assert(c.memoizedSchemas.keySet == Set(("ga", "g"), ("ga", "e")))
    exact("g")

    // drop and re-create under the same name, written at the same version
    assert(e.exec("{create: 'gb', group: [{h: ['p']}]};").head.status == "CREATE SUCCESS")
    e.exec("{upset: 'h', vertex: [[1, {p: 1}]]};")
    assert(c.read("gb", "h").columns.toSeq == Seq("key_i", "key_s", "p"))
    e.exec("{drop: 'gb'};")
    assert(!c.memoizedSchemas.keySet.exists(_._1 == "gb"))
    e.exec("{create: 'gb', group: [{h: ['q']}]};")
    e.exec("{upset: 'h', vertex: [[1, {q: 'x'}]]};")
    assert(c.versionOf("gb", "h") == 1)
    assert(c.read("gb", "h").columns.toSeq == Seq("key_i", "key_s", "q"))
    // another engine re-makes the directory: the stamp forces re-inference
    val other = new GqlEngine(spark, c.root)
    other.exec("{drop: 'gb'};")
    other.exec("{create: 'gb', group: [{h: ['r']}]};")
    other.exec("{upset: 'h', vertex: [[1, {r: 2.5}]]};")
    assert(c.versionOf("gb", "h") == 1)
    assert(c.read("gb", "h").schema == inferred("gb", "h"))
    assert(c.read("gb", "h").collect().map(_.getAs[Double]("r")).toSeq == Seq(2.5))
  }

  test("min-cost path takes the cheaper route with more hops") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['s', ->: {w: 9}, 't'], ['s', ->: {w: 1}, 'x'], " +
      "['x', ->: {w: 1}, 'y'], ['y', ->: {w: 1}, 't']]};")
    val before = cachedEntries
    val row = e.query("{query: 'e', in: 'ga', where: ['s', ->: min('w'), 't']};").collect().head
    assert(row.getAs[Double]("cost") == 3.0)
    assert(row.getAs[Int]("hops") == 3)
    assert(cachedEntries == before, "a min-path query left a cached entry")
  }

  test("dump preserves edge properties (min-cost walk survives replay)") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: [['g', 'e', 'g']]};")
    e.exec("{upset: 'e', edge: [['a', ->: {w: 2}, 'b'], ['b', ->: {w: 3}, 'c'], ['a', ->: {w: 10}, 'c']]};")
    val before = e.query("{query: 'e', in: 'ga', where: ['a', ->: min('w'), 'c']};")
      .collect()(0).getAs[Double]("cost")
    assert(before == 5.0)
    val script = e.exec("{dump: 'ga'};").head.text.get
    e.exec("{drop: 'ga'};")
    e.exec(script)
    val after = e.query("{query: 'e', in: 'ga', where: ['a', ->: min('w'), 'c']};")
      .collect()(0).getAs[Double]("cost")
    assert(after == 5.0, s"edge props lost in dump round-trip: $script")
  }

  test("mutations bind to the last-used graph when group names collide") {
    val e = freshEngine()
    e.exec("{create: 'adb', group: ['shared']};")
    e.exec("{create: 'zdb', group: ['shared']};")
    e.exec("{query: 'shared', in: 'zdb'};") // binds lastDb = zdb
    e.exec("{upset: 'shared', vertex: [[1, {x: 1}]]};")
    assert(count(e, "{query: 'shared', in: 'zdb'};") == 1)
    assert(count(e, "{query: 'shared', in: 'adb'};") == 0)
  }

  test("show graph 'db' dumps group schema lines") {
    val e = freshEngine()
    e.exec("{create: 'ga', group: ['g', ['g', 'e', 'g']]};")
    e.exec("{upset: 'g', vertex: [[1]]};")
    val text = e.exec("show graph 'ga';").head.text.get
    assert(text.contains("g|vertex|int"))
    assert(text.contains("e|edge"))
  }

  test("parser handles unicode group names and comments") {
    val stmts = Parser.parse(
      """// comment line
        |{create: 'vertex_db', group: '废墟', index: ['group', 'feature_name', 'loc']};
        |{upset: '废墟', vertex: [['v1', {filename: '破旧小屋.jpg', datatime: 0d1653446732}]]};""".stripMargin)
    assert(stmts.length == 2)
  }

  test("wrong grammar surfaces as error results, not crashes") {
    val e = freshEngine()
    val r1 = e.exec("{query: 'nope', in: 'nodb'};")
    assert(r1.head.status.startsWith("error"))
    intercept[Exception](Parser.parse("{create: }"))
  }

  test("declared vector index routes GQL KNN through HNSW with identical top-k (E9)") {
    val e = freshEngine()
    // vg declares an index on v; bg is the same data unindexed (brute path)
    assert(e.exec("{create: 'vdb', group: [{vg: ['v'], index: ['v']}, {bg: ['v']}]};")
      .head.status == "CREATE SUCCESS")
    val rows = (0 until 40)
      .map(i => s"[$i, {v: [${i % 8}.5, ${i / 8}.5]}]").mkString(", ")
    e.exec(s"{upset: 'vg', vertex: [$rows]};")
    e.exec(s"{upset: 'bg', vertex: [$rows]};")
    def topk(g: String): Seq[(Long, Double)] =
      e.query(s"{query: '$g', in: 'vdb', where: {v: {limit: 5, $$near: [3.2, 2.1]}}};")
        .select("key_i", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).head)).toSeq
    val viaIndex = topk("vg")
    assert(e.hnswIndexCount == 1, "KNN on the indexed group must build the HNSW index")
    val brute = topk("bg")
    assert(e.hnswIndexCount == 1, "KNN on the unindexed group must NOT build an index")
    assert(viaIndex == brute, s"index path $viaIndex != brute path $brute")

    // mutation bumps the catalog version: the index rebuilds and sees new rows
    e.exec("{upset: 'vg', vertex: [[99, {v: [3.0, 2.0]}]]};")
    val after = topk("vg")
    // the rebuild evicts the superseded version's cache entry and blob
    assert(e.hnswIndexCount == 1, "stale index version must be evicted on rebuild")
    assert(after.head._1 == 99L, s"new nearest vertex missing from index path: $after")

    // the index persists beside the catalog version: a fresh engine on the
    // same root reloads it (reference HNSW.cpp:358-374 persistence) and
    // answers identically
    val e2 = new GqlEngine(SparkTestBase.spark, e.catalog.root)
    def topk2(): Seq[(Long, Double)] =
      e2.query(s"{query: 'vg', in: 'vdb', where: {v: {limit: 5, $$near: [3.2, 2.1]}}};")
        .select("key_i", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).head)).toSeq
    assert(topk2() == after, "reloaded index must answer like the builder engine")
    assert(e2.hnswIndexCount == 1)

    // a wrong-dimension probe builds its own (empty) index under a
    // dimension-scoped key and must not poison correct-dimension queries
    e2.query("{query: 'vg', in: 'vdb', where: {v: {limit: 5, $near: [1.0, 2.0, 3.0]}}};").collect()
    assert(topk2() == after, "wrong-dimension probe poisoned the index cache")
  }

  test("vacuum: after remove, the erased row's bytes exist nowhere under the root") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val e = freshEngine()
    e.exec("{create: 'vdb', group: [{vg: ['v'], index: ['v']}]};")
    val rows = (0 until 30)
      .map(i => s"[$i, {v: [${i % 6}.5, ${i / 6}.5]}]").mkString(", ")
    e.exec(s"{upset: 'vg', vertex: [$rows]};")
    // build the v1 index generation, then mutate: v1 data + blobs are stale
    e.query("{query: 'vg', in: 'vdb', where: {v: {limit: 3, $near: [1.0, 1.0]}}};").collect()
    e.exec("{remove: 'vg', vertex: [7]};")

    val gdir = Paths.get(e.catalog.root, "vdb", "vg")
    def entries(): Set[String] = {
      val st = Files.list(gdir)
      try st.iterator().asScala.map(_.getFileName.toString).toSet
      finally st.close()
    }
    // pre-vacuum: the superseded version dir (and its copy of vertex 7)
    // still exists — the lazy sweep hasn't run
    assert(entries().exists(n => n.matches("v\\d+") && n != s"v${e.catalog.versionOf("vdb", "vg")}"),
      s"expected a stale version dir, got ${entries()}")

    e.catalog.vacuum("vdb")

    val cur = e.catalog.versionOf("vdb", "vg")
    val left = entries()
    assert(left.filter(_.matches("v\\d+")) == Set(s"v$cur"),
      s"non-current version dirs survived vacuum: $left")
    assert(!left.exists(n => n.startsWith(".hnswp_") && !n.contains(s"_v${cur}_")),
      s"stale index blobs survived vacuum: $left")
    // the erased key is gone from every remaining parquet file
    val remaining = SparkTestBase.spark.read
      .parquet(gdir.resolve(s"v$cur").toString)
    assert(remaining.filter(org.apache.spark.sql.functions.col("key_i") === 7L).isEmpty,
      "erased vertex present in the current version")
    // and KNN (index route, rebuilt from the current version) never
    // returns it — probe at the erased vertex's own coordinates
    val knn = e.query(
      "{query: 'vg', in: 'vdb', where: {v: {limit: 3, $near: [1.5, 1.5]}}};")
      .select("key_i").collect().map(_.getLong(0))
    assert(!knn.contains(7L), s"KNN served the erased vertex: ${knn.toSeq}")
    assert(knn.nonEmpty)
  }

  test("index generations count separately per group, even for same-named props") {
    val e = freshEngine()
    e.exec("{create: 'vdb', group: [{g1: ['v'], index: ['v']}, {g2: ['v'], index: ['v']}]};")
    val rows = (0 until 20)
      .map(i => s"[$i, {v: [${i % 4}.5, ${i / 4}.5]}]").mkString(", ")
    e.exec(s"{upset: 'g1', vertex: [$rows]};")
    e.exec(s"{upset: 'g2', vertex: [$rows]};")
    e.query("{query: 'g1', in: 'vdb', where: {v: {limit: 3, $near: [1.0, 1.0]}}};").collect()
    assert(e.hnswIndexCount == 1)
    e.query("{query: 'g2', in: 'vdb', where: {v: {limit: 3, $near: [1.0, 1.0]}}};").collect()
    // the blobs share a NAME (.hnswp_v_d2_...) but live in different group
    // dirs — the hook must count per-path, not per-filename
    assert(e.hnswIndexCount == 2,
      "same-named generations in different groups collapsed to one")
  }

  test("KNN index route agrees with brute, with brute fallback under k (r6 advice)") {
    val e = freshEngine()
    e.exec("{create: 'vdb', group: [{vg: ['v'], index: ['v']}, {bg: ['v']}]};")
    val rows = (0 until 40)
      .map(i => s"[$i, {v: [${i % 8}.5, ${i / 8}.5]}]").mkString(", ")
    e.exec(s"{upset: 'vg', vertex: [$rows]};")
    e.exec(s"{upset: 'bg', vertex: [$rows]};")
    def topk(g: String, k: Int): Seq[Long] =
      e.query(s"{query: '$g', in: 'vdb', where: {v: {limit: $k, $$near: [3.2, 2.1]}}};")
        .select("key_i").collect().map(_.getLong(0)).toSeq
    // k beyond the group size: the index can only surrender 40 candidates
    // < k, so the engine must fall back to the exact brute path and
    // return every vertex, not a short answer
    assert(topk("vg", 60).length == 40,
      "candidate set < k must fall back to brute, not return short")
    // on this 40-point fixed grid HNSW recall is exhaustive, so the
    // indexed group's top-k matches the unindexed group's brute top-k
    assert(topk("vg", 5) == topk("bg", 5))
    // a wrong-dimension probe builds an EMPTY index; the brute fallback
    // must NOT kick in there (Dist2's prefix fold would rank 2-dim
    // vectors against a 3-dim probe) — the result is empty, not garbage
    val wrongDim = e
      .query("{query: 'vg', in: 'vdb', where: {v: {limit: 5, $near: [1.0, 2.0, 3.0]}}};")
      .count()
    assert(wrongDim == 0, s"wrong-dimension probe must return empty, got $wrongDim rows")
  }

  test("parameterized lambda bound evaluates per row as a closure UDF (Q11)") {
    val e = freshEngine()
    e.exec("{create: 'ldb', group: ['g']};")
    e.exec(
      """{upset: 'g', vertex: [
        |  [1, {score: 10, base: 20}],
        |  [2, {score: 30, base: 20}],
        |  [3, {score: 50, base: 20}],
        |  [4, {score: 90}]
        |]};""".stripMargin)
    // score > base + 5: row-dependent bound — rows 2 and 3; row 4 has no
    // base, so the operand is null and it never matches
    val got = e.query(
      "{query: 'g', in: 'ldb', where: {score: {$gt: (base) => { return base + 5 }}}};")
      .select("key_i").collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(2L, 3L), s"lambda bound mismatch: $got")
    // two params, let + assignment in the body
    val got2 = e.query(
      "{query: 'g', in: 'ldb', where: {score: {$lt: (base, score) => { let m = base * 2; m = m + score / 10; return m }}}};")
      .select("key_i").collect().map(_.getLong(0)).toSeq.sorted
    // bound = 2*base + score/10: row1 41>10 T, row2 43>30 T, row3 45<50 F
    assert(got2 == Seq(1L, 2L), s"two-param lambda mismatch: $got2")
    // argument-free lambdas still constant-fold (no UDF in the plan)
    assert(count(e, "{query: 'g', in: 'ldb', where: {score: {$gt: () => { return 5 * 8 }}}};") == 2)
    // a body with no `return` yields a null operand: the bound never
    // matches — for $lt as well, where a NaN bound would match every row
    assert(count(e, "{query: 'g', in: 'ldb', where: {score: {$lt: () => { let a = 1 }}}};") == 0)
    assert(count(e, "{query: 'g', in: 'ldb', where: {score: {$gt: () => { let a = 1 }}}};") == 0)
  }

  test("import: reserved no-op on a bare path, dump-replay on a .gql path (S11)") {
    // reference surface: `import LITERAL_PATH` is a grammar-level no-op
    // (gql.y:224-229); a non-.gql path must parse and succeed silently
    val e = freshEngine()
    assert(e.exec("import '/no/such/file.csv';").head.status == "IMPORT SUCCESS")

    // real wiring: dump emits a replayable script, import replays it
    e.exec("{create: 'ga', group: ['g', ['g', 'e', 'g']]};")
    e.exec("{upset: 'g', vertex: [[1, {t: 'a'}], [2, {t: 'b'}], [3]]};")
    e.exec("{upset: 'e', edge: [[1, ->, 2], [2, ->, 3]]};")
    val script = e.exec("{dump: 'ga'};").head.text.get
    val f = java.nio.file.Files.createTempFile("graft-import", ".gql")
    java.nio.file.Files.write(f, script.getBytes("UTF-8"))

    val e2 = freshEngine()
    assert(e2.exec(s"import '$f';").head.status == "IMPORT SUCCESS")
    assert(count(e2, "{query: 'g', in: 'ga'};") == 3)
    assert(count(e2, "{query: 'e', in: 'ga'};") == 2)

    // a .gql path that doesn't exist is an error, not a silent no-op
    assert(e2.exec("import '/no/such/file.gql';").head.status.startsWith("error"))

    // a self-importing script errors at the depth bound instead of
    // recursing forever
    val cyc = java.nio.file.Files.createTempFile("graft-cycle", ".gql")
    java.nio.file.Files.write(cyc, s"import '$cyc';".getBytes("UTF-8"))
    val r = e2.exec(s"import '$cyc';").head
    assert(r.status.startsWith("error") && r.status.contains("depth"), r.status)
  }

  test("use graph pins the session default, interplays with drop (README 5.1)") {
    val e = freshEngine()
    e.exec("{create: 'ua', group: ['g']};")
    e.exec("{create: 'ub', group: ['g', 'h']};")
    // routes by heuristic: no pin, no lastDb -> first graph containing 'g' (ua)
    assert(e.exec("{upset: 'g', vertex: [[1, {t: 'a'}]]};").head.status == "UPSET SUCCESS")
    // pin ub: unqualified queries and mutations now hit ub, not lastDb=ua
    assert(e.exec("use graph 'ub';").head.status == "USE SUCCESS")
    assert(count(e, "{query: 'g'};") == 0)                // ub.g is empty
    e.exec("{upset: 'g', vertex: [[2, {t: 'b'}], [3, {t: 'c'}]]};")
    assert(count(e, "{query: 'g'};") == 2)                // landed in ub
    assert(count(e, "{query: 'g', in: 'ua'};") == 1)      // explicit in: still wins
    // a group missing from the pinned graph errors instead of silent rerouting
    e.exec("use graph 'ua';")
    assert(e.exec("{upset: 'h', vertex: [[9, {t: 'x'}]]};").head.status.startsWith("error"))
    // unknown graph errors; the pin is unchanged
    assert(e.exec("use graph 'nope';").head.status.startsWith("error"))
    assert(count(e, "{query: 'g'};") == 1)                // still pinned to ua
    // dropping the pinned graph clears the default (falls back to heuristic)
    e.exec("{drop: 'ua'};")
    assert(count(e, "{query: 'g'};") == 2)                // resolves to ub again
    // ast renders the statement
    assert(e.exec("ast use graph 'ub';").head.text.exists(_.contains("UseGraph")))
  }

  test("0h geohash literal — lexes, stores as string, round-trips a query") {
    // reference README.md:139 declares `0h'hash'` ("a special type of
    // string", encoder src/Type/Hash.cpp) but its lexer never implements
    // it (no 0h rule in src/gql.l) — we lex it to its hash string
    import graft.gql.Lexer
    assert(Lexer.tokenize("0h'9q8yyk'") ==
      Vector(Lexer.THash("9q8yyk"), Lexer.TEof))
    // invalid alphabet chars (a, i, l, o are absent from geohash base-32)
    intercept[Lexer.LexError] { Lexer.tokenize("0h'abc'") }
    intercept[Lexer.LexError] { Lexer.tokenize("0h'9q8") }

    val e = freshEngine()
    e.exec("{create: 'ga', group: ['g']};")
    assert(e.exec("{upset: 'g', vertex: [[1, {loc: 0h'9q8yyk'}], [2, {loc: 0h'u4pruy'}]]};")
      .head.status == "UPSET SUCCESS")
    // equality matches whether the predicate writes the 0h form or the
    // plain string — hash IS a string subtype
    assert(count(e, "{query: 'g', in: 'ga', where: {loc: 0h'9q8yyk'}};") == 1)
    assert(count(e, "{query: 'g', in: 'ga', where: {loc: '9q8yyk'}};") == 1)
  }

  // ---- E3 multi-edge pattern match ----------------------------------------
  // The reference grammar accepts these walk forms (gql.y:389-433) and
  // routes them to QueryType::Match (ScanPlan.cpp:356-362) whose strategy
  // is a stub — semantics defined here (homomorphism bindings: two
  // variables MAY bind the same vertex; no implicit edge distinctness).

  /** Triangle 1->2->3->1, tail 3->4->5, self-loop 6->6; ages 10·key;
    * `likes` holds one extra directed edge 5->1 and an undirected 2--4. */
  private def motifEngine(): GqlEngine = {
    val e = freshEngine()
    e.exec("{create: 'mg', group: [{p: ['age']}, ['p', 'knows', 'p'], ['p', 'likes', 'p']]};")
    e.exec("{upset: 'p', vertex: [[1,{age:10}],[2,{age:20}],[3,{age:30}],[4,{age:40}],[5,{age:50}],[6,{age:60}]]};")
    e.exec("{upset: 'knows', edge: [[1, ->: {w: 1}, 2], [2, ->: {w: 2}, 3], [3, ->: {w: 3}, 1], [3, ->: {w: 1}, 4], [4, ->: {w: 5}, 5], [6, ->: {w: 1}, 6]]};")
    e.exec("{upset: 'likes', edge: [[5, ->, 1], [2, --, 4]]};")
    e
  }

  private def rows(e: GqlEngine, gql: String): Set[Seq[String]] =
    e.query(gql).collect().map(_.toSeq.map(String.valueOf)).toSet

  test("motif: directed triangle — walk-list form binds rotations (E3)") {
    val e = motifEngine()
    assert(rows(e, "{query: 'knows', in: 'mg', where: [[a,->,b],[b,->,c],[c,->,a]]};") ==
      Set(Seq("1", "2", "3"), Seq("2", "3", "1"), Seq("3", "1", "2"),
        Seq("6", "6", "6"))) // the 6->6 self-loop is a homomorphic triangle
  }

  test("motif: single-bracket chain [a,->,b,->,c] = 2-hop paths (E3)") {
    val e = motifEngine()
    val got = rows(e, "{query: 'knows', in: 'mg', where: [a, ->, b, ->, c]};")
    // 1-2-3, 2-3-1, 2-3-4, 3-1-2, 3-4-5 + self-loop combos 6-6-6
    assert(got == Set(Seq("1","2","3"), Seq("2","3","1"), Seq("2","3","4"),
      Seq("3","1","2"), Seq("3","4","5"), Seq("6","6","6")))
    // reversed chain: [a,<-,b,<-,c] ≡ c->b->a
    val rev = rows(e, "{query: 'knows', in: 'mg', where: [a, <-, b, <-, c]};")
    assert(rev == got.map(_.reverse))
  }

  test("motif: shared-endpoint star is a homomorphism (b=c allowed) (E3)") {
    val e = motifEngine()
    val got = rows(e, "{query: 'knows', in: 'mg', where: [[a,->,b],[a,->,c]]};")
    // out-neighbor pairs per source; 3 has {1,4} → 4 combos; 6 self-loop
    assert(got == Set(
      Seq("1","2","2"), Seq("2","3","3"), Seq("4","5","5"), Seq("6","6","6"),
      Seq("3","1","1"), Seq("3","1","4"), Seq("3","4","1"), Seq("3","4","4")))
  }

  test("motif: literal anchors filter; all-literal pattern returns matched count (E3)") {
    val e = motifEngine()
    assert(rows(e, "{query: 'knows', in: 'mg', where: [[1,->,b],[b,->,c]]};") ==
      Set(Seq("2", "3")))
    val m = e.query("{query: 'knows', in: 'mg', where: [[1,->,2],[2,->,3]]};").collect()
    assert(m.map(_.toSeq).toSeq == Seq(Seq(1L)) && m.head.schema.fieldNames.head == "matched")
    // a literal that matches nothing empties the whole pattern
    assert(rows(e, "{query: 'knows', in: 'mg', where: [[99,->,b],[b,->,c]]};").isEmpty)
  }

  test("motif: wildcard slots don't bind; self-loop var pattern (E3)") {
    val e = motifEngine()
    assert(rows(e, "{query: 'knows', in: 'mg', where: [*, ->, b, ->, *]};") ==
      Set(Seq("2"), Seq("3"), Seq("1"), Seq("4"), Seq("6")))
    assert(rows(e, "{query: 'knows', in: 'mg', where: [[a,->,a]]};") == Set(Seq("6")))
  }

  test("motif: vertex attribute conditions and edge conditions (E3)") {
    val e = motifEngine()
    // sources with age>25 (3,4,6) → their out-edges
    assert(rows(e, "{query: 'knows', in: 'mg', where: [[{age: {$gt: 25}}, ->, b]]};") ==
      Set(Seq("1"), Seq("4"), Seq("5"), Seq("6")))
    // first hop needs edge weight >= 2 (2->3 w2, 3->1 w3, 4->5 w5)
    assert(rows(e, "{query: 'knows', in: 'mg', where: [[a, ->: {w: {$gte: 2}}, b], [b, ->, c]]};") ==
      Set(Seq("2","3","1"), Seq("2","3","4"), Seq("3","1","2")))
  }

  test("motif: undirected hop, cross-group match via query '*' (E3)") {
    val e = motifEngine()
    // `--` matches either orientation: neighbors of 4 within knows
    assert(rows(e, "{query: 'knows', in: 'mg', where: [[4, --, b], [b, --, 4]]};") ==
      Set(Seq("3"), Seq("5")))
    // across all edge groups: 2-hop paths through the likes edge 5->1
    val all = rows(e, "{query: '*', in: 'mg', where: [[4,->,b],[b,->,c]]};")
    assert(all == Set(Seq("5", "1")))
  }

  test("motif: disconnected components cross-join; ast renders Motif (E3)") {
    val e = motifEngine()
    // two independent one-edge components with variables (list form keeps
    // Match semantics even at one edge per walk)
    val got = rows(e, "{query: 'likes', in: 'mg', where: [[a,->,b],[c,--,4]]};")
    assert(got == Set(Seq("5", "1", "2")))
    val ast = e.exec("ast {query: 'knows', in: 'mg', where: [[a,->,b],[b,->,c]]};").head
    assert(ast.text.get.contains("Motif") && ast.text.get.contains("MVar"))
  }
}
