package graft.operators

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The walk/analysis operators of SURVEY.md §2.3 (E4/E6/E11) proven at
  * data scale: where [[GraphOps]] runs them on the 25-nation trade graph
  * (reference-parity scale — the reference's own walk suites use ≤60
  * vertices, /root/reference/test/vnet.cpp:155-237), these gates run the
  * SAME superstep dataflow on a customer co-purchase graph that scales
  * linearly with SF: ~1.5k vertices / ~13k edges at sf0.01, ~15k vertices /
  * ~140k edges at sf0.1, and at a 100 TB scale factor the construction
  * stays a window + two hash shuffles.
  *
  * Graph construction (derived from the data, no adjacency lists):
  * vertices = ordering customers; within each (order-week, order-priority)
  * cohort, chain the distinct ordering customers by ascending custkey —
  * edge (c → next c). Because a customer appears in many cohorts, the
  * union of chains is one connected DAG (dst > src always) with mean
  * out-degree ≈ orders-per-customer. The cohort key is the scale knob: at
  * larger SF add dimensions (nation, segment) to keep the window partition
  * bounded; every downstream superstep is a hash join keyed on node id
  * regardless of cohort granularity.
  *
  * Edge weight = 1 + (src+dst) mod 3 — deterministic small integers, so
  * SSSP costs are exact longs on both engines (no floating-point parity
  * concerns in the recursive oracle).
  */
object BigGraphOps {
  /** BFS hop bound / Bellman-Ford relaxation rounds / PageRank iterations.
    * Bounded supersteps: the oracle enumerates paths of the same depth. */
  val BFS_HOPS = 6
  val SSSP_ROUNDS = 6
  val PR_ITERS = 3

  /** Co-purchase edges (src, dst, w): one window over (week, priority)
    * cohorts, one distinct — two shuffles total, both on keys that scale
    * with the data (no driver-side graph object). */
  def coEdges(s: SparkSession, d: String): DataFrame = {
    val memb = Tables.orders(s, d)
      .select(
        expr("datediff(o_orderdate, date'1992-01-01') div 7").as("wk"),
        col("o_orderpriority").as("prio"),
        col("o_custkey").as("ck"))
      .distinct()
    val w = Window.partitionBy(col("wk"), col("prio")).orderBy(col("ck"))
    memb
      .withColumn("nxt", lead(col("ck"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("ck").as("src"), col("nxt").as("dst"))
      .distinct()
      .withColumn("w", lit(1L) + (col("src") + col("dst")) % 3)
  }

  private def persisted(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Start vertex: the minimum src in the edge set (deterministic per SF).
    * One scalar aggregate to the driver — not a row loop. An empty edge
    * set (no cohort with 2+ customers) is a clear error, not an NPE from
    * a null aggregate. */
  private def startNode(edges: DataFrame): Long = {
    val r = edges.agg(min(col("src"))).head()
    if (r.isNullAt(0))
      throw new IllegalArgumentException("co-purchase graph has no edges")
    r.getLong(0)
  }

  /** E6 at scale — min-hop BFS from the start vertex, BFS_HOPS supersteps
    * of [[GraphOps.bfsLevels]]: one frontier⋈edges join per round, anti-join
    * dedupe against every level reached so far. */
  val qBfsBig: Q = (s, d) => {
    val edges = persisted(coEdges(s, d).select(col("src"), col("dst")))
    val start = s.range(1).select(lit(startNode(edges)).as("node"), lit(0).as("hop"))
    GraphOps.bfsLevels(start, edges, BFS_HOPS)
      .select(col("node"), col("hop").as("hops")).orderBy("node")
  }

  /** E4 at scale — bounded Bellman-Ford with integer edge weights:
    * SSSP_ROUNDS rounds of dist⋈edges + min-combine per node (the Pregel
    * SSSP dataflow). Costs are exact longs, so the recursive oracle needs
    * no rounding. */
  val qSsspBig: Q = (s, d) => {
    val edges = persisted(
      coEdges(s, d).select(col("src"), col("dst"), col("w").as("ecost")))
    val start = s.range(1).select(lit(startNode(edges)).as("node"), lit(0L).as("cost"))
    GraphOps.relaxRounds(start, edges, SSSP_ROUNDS).orderBy("node")
  }

  /** E11 at scale — PageRank, PR_ITERS synchronous iterations, damping
    * 0.85, over the full vertex set (N from the data, not a constant).
    * Contributions decimal-summed so the shuffle order can't perturb the
    * ranks; each iteration is one join + one aggregation partitioned on
    * node id. */
  val qPagerankBig: Q = (s, d) => {
    val edges = persisted(coEdges(s, d).select(col("src"), col("dst")))
    val nodes = persisted(
      edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .distinct())
    val n = nodes.count().toDouble
    val rank = GraphOps.pagerankRounds(nodes, edges,
      nodes.select(col("node"), lit(1.0 / n).as("rank")), PR_ITERS, lit(0.15 / n), 0.85)
    rank.select(col("node"), Fns.roundP(col("rank"), 8).as("pagerank")).orderBy("node")
  }

  /** Personalized PageRank restart mass (the standard 0.15, all of it
    * returned to the seed instead of spread uniformly). */
  val PPR_ALPHA = 0.15

  /** Personalized PageRank from the deterministic start vertex (Haveliwala,
    * WWW 2002 — topic-sensitive PageRank; the "related items" relevance
    * query a recommender serves). Same power iteration as
    * [[qPagerankBig]] with two seed changes: the walk starts with all
    * mass on the seed, and the [[PPR_ALPHA]] restart mass returns to the
    * seed rather than to every node — so rank localizes around the seed
    * and the output is the seed's neighborhood ranked by visit
    * probability. Only nodes with positive mass are emitted: at
    * PR_ITERS rounds that is the seed's ≤PR_ITERS-hop out-neighborhood,
    * the locality that makes PPR the scale-correct relevance query (the
    * full-graph rank vector never materializes for a single seed beyond
    * the frames the iteration already builds).
    *
    * Parity discipline is [[qPagerankBig]]'s: per-edge contributions are
    * IEEE divisions on identical doubles, sums pass through
    * decimal(28,18) so aggregation order cannot perturb them, and the
    * gate pins roundP-8 values. Scale shape: identical to PageRank —
    * node-keyed join + agg per round. */
  val qPpr: Q = (s, d) => {
    val edges = persisted(coEdges(s, d).select(col("src"), col("dst")))
    val nodes = persisted(
      edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .distinct())
    val seed = startNode(edges)
    val restart = when(col("node") === seed, lit(PPR_ALPHA)).otherwise(lit(0.0))
    val rank = GraphOps.pagerankRounds(nodes, edges,
      nodes.select(col("node"), when(col("node") === seed, lit(1.0)).otherwise(lit(0.0)).as("rank")),
      PR_ITERS, restart, 1.0 - PPR_ALPHA)
    rank.filter(col("rank") > 0.0)
      .select(col("node"), Fns.roundP(col("rank"), 8).as("ppr"))
      .orderBy("node")
  }

  /** Walks per node / steps per walk for [[qWalkCorpus]]. */
  val WC_WALKS = 2
  val WC_STEPS = 4

  /** Random-walk corpus generation (Perozzi et al., KDD 2014 — DeepWalk;
    * node2vec is the same dataflow with biased picks): every node starts
    * [[WC_WALKS]] walks of [[WC_STEPS]] steps over the undirected
    * co-purchase graph, and the OUTPUT — (start, walk, position, node)
    * rows — is the sequence corpus a skip-gram embedding trains on, the
    * graph→text bridge of a training-data pipeline. Each transition
    * picks neighbor rank hash32(start:walk:step) % degree from the
    * id-ordered adjacency index, so the corpus is a pure function of the
    * graph — reproducible under any partitioning, no RNG state.
    *
    * Scale shape: walks are ROWS, not driver state — each step is one
    * hash join of the walk frontier against the persisted rank-indexed
    * adjacency (node-keyed, scales with the data), WC_STEPS bounded.
    * This is how DeepWalk runs at billions of edges; the corpus size is
    * nodes×walks×(steps+1) rows, linear in the graph. */
  val qWalkCorpus: Q = (s, d) => walkCorpusCore(s, d).orderBy("start", "wk", "step")

  /** Unsorted walk corpus shared by [[qWalkCorpus]] and
    * [[qSkipgramPairs]]. */
  private def walkCorpusCore(s: SparkSession, d: String): DataFrame = {
    val e = coEdges(s, d).select("src", "dst")
    val und = persisted(
      e.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(col("dst").as("a"), col("src").as("b"))))
    val wNb = Window.partitionBy("a").orderBy("b")
    val adj = persisted(
      und.withColumn("rn", row_number().over(wNb))
        .join(und.groupBy("a").agg(count(lit(1)).as("deg")), "a"))
    var frontier = und.select(col("a").as("start")).distinct()
      .select(col("start"),
        explode(sequence(lit(0), lit(WC_WALKS - 1))).as("wk"))
      .select(col("start"), col("wk"), col("start").as("node"))
    var corpus = frontier.select(col("start"), col("wk"),
      lit(0).as("step"), col("node"))
    // r17 (verdict #1): persist the UNION once instead of the 16 per-step
    // frontier persists. The r16 per-step persists made q_skipgram_pairs'
    // self-join re-assemble the union from 16 cached leaves on BOTH sides
    // (33,851-line plan, driver-measured +37%). With one persisted union,
    // each consumer (both skipgram join sides, q_walk_corpus's sort) is a
    // single InMemoryRelation scan, and the canonicalized plan is still
    // shared across the two gates per bench pass. The lazy build chain
    // below has step t's subtree embedded in every later step's term, so
    // the union plan holds O(WC_STEPS²) adjacency-scan copies (adj/und are
    // persisted) — quadratic, bounded; the guard keeps a future step bump
    // from making driver analysis cost creep silently (ADVICE r16).
    require(WC_STEPS <= 8,
      s"walkCorpusCore unrolls lazily: plan size is O(WC_STEPS^2) terms " +
      s"and the one-shot build re-executes prefix chains; WC_STEPS=$WC_STEPS " +
      "needs a per-step lineage cut (persist/checkpoint) past 8")
    for (t <- 1 to WC_STEPS) {
      val pick =
        pmod(Fns.hash32(concat_ws(":", col("start"), col("wk"), lit(t))),
          col("deg")) + 1
      frontier = frontier.join(adj, col("node") === col("a"))
        .filter(col("rn") === pick)
        .select(col("start"), col("wk"), col("b").as("node"))
      corpus = corpus.unionByName(
        frontier.select(col("start"), col("wk"), lit(t).as("step"), col("node")))
    }
    persisted(corpus)
  }

  /** node2vec bias weights, integer-scaled: return (back to the previous
    * node) = 1/p, common neighbor of prev = 1, far = 1/q, with p = 2,
    * q = 4, scaled ×4 so every weight is an exact integer — the pick is
    * pure modular arithmetic, no float in the transition kernel. */
  val N2V_RET = 2    // 1/p × 4
  val N2V_COMMON = 4 // 1 × 4
  val N2V_FAR = 1    // 1/q × 4

  /** node2vec biased walks (Grover & Leskovec, KDD 2016) — the
    * SECOND-ORDER Markov refinement of [[qWalkCorpus]]: from (prev, cur),
    * each neighbor x of cur weighs 1/p if x = prev (return), 1 if x is
    * also a neighbor of prev (BFS-ish), 1/q otherwise (DFS-ish). The
    * first step (no prev) is uniform, as in the paper's implementation.
    * Transition choice is deterministic: integer-scaled weights
    * ([[N2V_RET]]/[[N2V_COMMON]]/[[N2V_FAR]]) cumulated over the
    * id-ordered neighbor list, pick = hash32(start:walk:step) mod total
    * weight — reproducible under any partitioning, and cross-engine
    * exact because the kernel is all integers.
    *
    * Scale shape per step: one node-keyed join against the indexed
    * adjacency (candidates), one (prev, x)-keyed LEFT join against the
    * edge set (the is-neighbor-of-prev probe — the data answer to
    * node2vec's "distance to prev" question), two walk-keyed window sums
    * (cumulative + total), one filter. Everything keys on node or walk
    * ids that scale with the data; candidates per step are Σdeg(cur),
    * linear in the walk count × average degree. */
  val qNode2vec: Q = (s, d) => {
    val e = coEdges(s, d).select("src", "dst")
    val und = persisted(
      e.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(col("dst").as("a"), col("src").as("b"))))
    val wNb = Window.partitionBy("a").orderBy("b")
    val adj = persisted(
      und.withColumn("rn", row_number().over(wNb))
        .join(und.groupBy("a").agg(count(lit(1)).as("deg")), "a"))
    val prevEdge = und.select(col("a").as("prev"), col("b").as("cand"),
      lit(1).as("is_common"))
    // a round is the walk frontier after step t: (start, wk, step, prev,
    // node); step 0's prev is the start itself and is never read
    val walks = und.select(col("a").as("start")).distinct()
      .select(col("start"),
        explode(sequence(lit(0), lit(WC_WALKS - 1))).as("wk"))
      .select(col("start"), col("wk"), lit(0).as("step"),
        col("start").as("prev"), col("start").as("node"))
    val corpus = Superstep.levels(walks, WC_STEPS) { r =>
      val t = r.index
      val cur = r.last.select(col("start"), col("wk"), col("prev"), col("node"))
        .join(adj, col("node") === col("a"))
      val hashT = Fns.hash32(concat_ws(":", col("start"), col("wk"), lit(t)))
      val picked =
        if (t == 1) // uniform first step (no prev yet) — qWalkCorpus's kernel
          cur.filter(col("rn") === pmod(hashT, col("deg")) + 1)
            .select(col("start"), col("wk"), col("node").as("prev"), col("b").as("node"))
        else {
          val wWalk = Window.partitionBy("start", "wk")
          cur.select(col("start"), col("wk"), col("prev"), col("node"),
              col("b").as("cand"), col("rn"))
            .join(prevEdge, Seq("prev", "cand"), "left")
            .withColumn("w",
              when(col("cand") === col("prev"), lit(N2V_RET))
                .when(col("is_common").isNotNull, lit(N2V_COMMON))
                .otherwise(lit(N2V_FAR)))
            .withColumn("cw", sum(col("w")).over(wWalk.orderBy("rn")))
            .withColumn("tw", sum(col("w")).over(wWalk))
            .withColumn("r", pmod(hashT, col("tw")))
            .filter(col("r") >= col("cw") - col("w") && col("r") < col("cw"))
            .select(col("start"), col("wk"), col("node").as("prev"),
              col("cand").as("node"))
        }
      picked.withColumn("step", lit(t))
    }
    corpus.select("start", "wk", "step", "node").orderBy("start", "wk", "step")
  }

  /** Skip-gram context window for [[qSkipgramPairs]]. */
  val SG_WINDOW = 2

  /** Skip-gram training-pair extraction over the walk corpus (Mikolov et
    * al. 2013 applied to DeepWalk sequences): every (center, context)
    * node pair within ±[[SG_WINDOW]] positions of the same walk, counted
    * — the positive-pair table a word2vec/node2vec trainer consumes.
    * The self-join is keyed on the walk id (start, wk), so each walk
    * joins only against its own ≤(STEPS+1) rows — pair volume is
    * walks × L × 2W, linear in the corpus, never corpus². One
    * (center, context) agg with map-side combine follows. */
  val qSkipgramPairs: Q = (s, d) => {
    // r17: walkCorpusCore persists the corpus union itself, so both
    // self-join sides scan ONE InMemoryRelation (r16's per-step persists
    // made each side re-assemble 16 cached leaves — the round's one
    // driver-flagged regression).
    val core = walkCorpusCore(s, d)
    val a = core.select(col("start"), col("wk"),
      col("step").as("sa"), col("node").as("center"))
    val b = core.select(col("start"), col("wk"),
      col("step").as("sb"), col("node").as("context"))
    a.join(b, Seq("start", "wk"))
      .filter(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= SG_WINDOW)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("center", "context")
  }

  /** Synchronous label-propagation rounds. 3 rounds on this graph yields
    * a real community structure (372 communities / 1500 nodes at sf0.01)
    * without converging to one giant component. */
  val LP_ITERS = 3

  /** E11 at scale — weighted label propagation community detection
    * (Raghavan et al. 2007, made deterministic): every node starts in its
    * own community, then LP_ITERS synchronous rounds of "adopt the label
    * with the highest total edge weight among my neighbors", ties broken
    * by smallest label. Undirected view of the co-purchase graph; integer
    * edge weights, so vote sums are exact longs on both engines and the
    * argmax needs no float parity care.
    *
    * Each round is two shuffles both keyed on node id: votes =
    * und⋈labels grouped by (node, label), then a per-node window argmax —
    * the Pregel community-detection dataflow (GraphX's
    * LabelPropagation.run has the same per-superstep shape). */
  /** The weighted undirected view shared by label propagation and
    * modularity — both directions of every co-purchase edge. */
  private def undWeighted(s: SparkSession, d: String): DataFrame = {
    val e = coEdges(s, d)
    e.select(col("src").as("a"), col("dst").as("b"), col("w"))
      .unionByName(e.select(col("dst").as("a"), col("src").as("b"), col("w")))
  }

  /** The (node, community) assignment behind [[qLabelProp]], factored out
    * so [[qModularity]] scores the IDENTICAL rounds. */
  private def labelPropLabels(s: SparkSession, d: String): DataFrame = {
    val und = persisted(undWeighted(s, d))
    val seeds = und.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val w = Window.partitionBy(col("a")).orderBy(col("wt").desc, col("lbl").asc)
    // each round reads its predecessor once, so the driver persists the
    // rounds: q_modularity scores the IDENTICAL rounds and CacheManager
    // shares the final one between the two gates
    Superstep.iterate(seeds, LP_ITERS) { r =>
      und.join(r.last, col("node") === col("b"))
        .groupBy(col("a"), col("lbl")).agg(sum(col("w")).as("wt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("node"), col("lbl"))
    }.last.select(col("node"), col("lbl").as("community"))
  }

  val qLabelProp: Q = (s, d) => labelPropLabels(s, d).orderBy("node")

  /** E11 companion — per-community modularity contributions (Newman &
    * Girvan 2004, weighted form): Q = Σ_c [in_c/2m − (tot_c/2m)²], gated
    * per community so a single community's drift is visible, with the
    * exact integer in-weight/total-degree beside the rounded term. The
    * communities are the IDENTICAL [[qLabelProp]] rounds (shared code) —
    * this is the "was that clustering any good" report a pipeline runs
    * after community detection.
    *
    * Scale shape: degrees and the 2m scalar are one agg each; the
    * in-community weight joins the edge list against the O(V) label table
    * twice, both node-keyed hash joins; everything after is O(communities).
    * Integer weight sums throughout — the two divisions are the only
    * doubles, computed in the same literal order on both engines. */
  val qModularity: Q = (s, d) => {
    val und = persisted(undWeighted(s, d))
    val comm = persisted(labelPropLabels(s, d))
    val deg = und.groupBy(col("a").as("node")).agg(sum(col("w")).as("deg"))
    val m2 = und.agg(sum(col("w")).as("m2")) // = 2m: both directions summed
    val inw = und
      .join(comm.select(col("node").as("a"), col("community").as("ca")), "a")
      .join(comm.select(col("node").as("b"), col("community").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(sum(col("w")).as("in_w"))
    val tot = comm.join(deg, "node")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("tot_w"))
    tot.join(inw, Seq("community"), "left").crossJoin(broadcast(m2))
      .select(col("community"), col("n_nodes"),
        coalesce(col("in_w"), lit(0L)).as("in_w"), col("tot_w"),
        Fns.roundP(
          coalesce(col("in_w"), lit(0L)).cast("double") / col("m2") -
            (col("tot_w").cast("double") / col("m2")) *
            (col("tot_w").cast("double") / col("m2")), 6).as("contrib"))
      .orderBy("community")
  }

  /** Outer-iteration bound for GraphX SCC — the graph resolves in 2-3
    * coloring rounds; 16 is margin, and the ground-truth oracle fails the
    * gate loudly if the bound were ever too small. */
  val SCC_ITERS = 16

  /** Directed co-purchase graph WITH CYCLES for [[qSccBig]] — the plain
    * [[coEdges]] chains always ascend (dst > src), making every SCC a
    * singleton, so SCC needs its own construction: the cohort key gains a
    * customer-id band (ck div 100) to keep components LOCAL, and every
    * cohort whose (week + band) ≡ 0 (mod 4) closes its chain into a cycle
    * with a wrap edge (max ck → min ck). Overlapping closed cohorts merge
    * into multi-cohort components: at sf0.01 this yields 320 SCCs with
    * sizes 1–87 (286 singletons, 15 band-sized components) — a real
    * decomposition, not a degenerate giant component. Same two-shuffle
    * cost as coEdges plus one bounded agg for the wrap edges. */
  def sccEdges(s: SparkSession, d: String): DataFrame = {
    val memb = Tables.orders(s, d)
      .select(
        expr("datediff(o_orderdate, date'1992-01-01') div 7").as("wk"),
        col("o_orderpriority").as("prio"),
        expr("o_custkey div 100").as("band"),
        col("o_custkey").as("ck"))
      .distinct()
    val w = Window.partitionBy(col("wk"), col("prio"), col("band")).orderBy(col("ck"))
    val chain = memb
      .withColumn("nxt", lead(col("ck"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("ck").as("src"), col("nxt").as("dst"))
      .distinct()
    val wrap = memb.groupBy(col("wk"), col("prio"), col("band"))
      .agg(max(col("ck")).as("src"), min(col("ck")).as("dst"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2 && pmod(col("wk") + col("band"), lit(4)) === 0)
      .select(col("src"), col("dst"))
    chain.unionByName(wrap).distinct()
  }

  /** E11 at scale — strongly connected components on the cyclic
    * co-purchase graph: scc_id(v) = min node id in v's component.
    * [[GraphOps.qScc]]'s iterative-squaring closure is O(V²) state — right
    * for the 25-nation graph, fatal at data scale — so this gate runs
    * GraphX's Pregel SCC ([[graft.graph.GraphXBridge]]): coloring rounds
    * of forward min-label propagation + backward confirmation, O(V) state,
    * edge RDD partitioned across executors, no driver-side graph object
    * (the result RDD converts straight to a DataFrame). The DuckDB oracle
    * is algorithm-independent ground truth (recursive closure + mutual-
    * reachability min), so a convergence shortfall fails the hash gate
    * loudly. Reference kin: Tarjan.cpp is E11's declared-but-empty SCC —
    * a driver-recursive formulation that cannot distribute; coloring can. */
  val qSccBig: Q = (s, d) => {
    val g = graft.graph.GraphXBridge.fromLongEdgeDF(sccEdges(s, d))
    s.createDataFrame(g.stronglyConnectedComponents(SCC_ITERS).vertices)
      .toDF("node", "scc_id")
      .orderBy("node")
  }

  /** Round cap for [[ccTwoPhase]]. The alternation needs O(log² n) rounds
    * (8 measured on the 64-node path spec fixture; 2^30-node graphs stay
    * well under 30), so exceeding the cap means a bug, not big data. */
  val CC_MAX_ROUNDS = 30

  /** Connected components by large-star/small-star alternation (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Plain min-label propagation
    * (DedupOps.minLabelComponents) converges in O(diameter) supersteps —
    * right for near-dup clusters whose diameter is tiny, wrong here: the
    * cohort chains of [[sccEdges]] have diameter ~ cohort size, which
    * grows with SF. Each half-round is one node-keyed groupBy(min) + one
    * re-join emitting star edges, and the round count is O(log² n)
    * REGARDLESS of diameter — the property that lets CC run over a 100 TB
    * edge set. Edges stay (high → low) oriented and deduped; fixpoint =
    * edge set unchanged over a full round. Returns (node, wcc_id =
    * component min) for every vertex of `edges0`.
    * Reference kin: none — the reference's component analysis is an empty
    * stub (`/root/reference/src/operand/analysis/Tarjan.cpp`, 0 bytes);
    * this completes E11's data-scale family on the weak side of q_scc_big. */
  private[graft] def ccTwoPhase(edges0: DataFrame): DataFrame = {
    val e0 = edges0
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct()
    val e = Superstep.fixpoint(e0, CC_MAX_ROUNDS, "two-phase CC") { r =>
      // large-star: every node attaches its LARGER neighbors to the min
      // of its closed neighborhood
      val und = r.last.select(col("u"), col("v"))
        .unionByName(r.last.select(col("v").as("u"), col("u").as("v")))
      val lmin = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = und.join(lmin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: every node attaches its SMALLER neighbors (and
      // itself) to the min of that down-neighborhood
      val smin = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      large.join(smin, "u")
        .select(col("v").as("n"), col("m"))
        .unionByName(smin.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("u"),
          least(col("n"), col("m")).as("v"))
        .distinct()
    } { r =>
      // both frames are DISTINCT sets, so a row-count change alone proves
      // change (free: the count rides the round's checkpoint), and at
      // equal sizes ONE one-sided except decides (|A|=|B| ∧ A∖B=∅ ⇒ A=B).
      // Exact, never probabilistic — a hashed digest could stop early.
      r.unchanged && r.last.except(r.prev).isEmpty
    }.last
    // at the fixpoint every component is a star on its min vertex: each
    // non-root appears exactly once as u with v = root; roots only as v
    e.select(col("u").as("node"), col("v").as("wcc"))
      .unionByName(e.select(col("v").as("node"), col("v").as("wcc")))
      .groupBy(col("node")).agg(min(col("wcc")).as("wcc_id"))
  }

  /** E11 weak-side companion to [[qSccBig]] on the same cyclified edge
    * relation: weakly connected components, gated against an algorithm-
    * independent full-closure oracle. */
  val qWccBig: Q = (s, d) =>
    ccTwoPhase(sccEdges(s, d)).orderBy("node")

  /** DataFrame-superstep SCC (Orzan coloring — the same algorithm GraphX's
    * Pregel SCC runs): outer rounds of (forward min-color propagation to
    * fixpoint) → (roots = color==self) → (backward confirmation inside the
    * color) → remove confirmed SCCs' edges; vertices never confirmed when
    * the edge set drains are singletons. Built to ANSWER the r10 verdict's
    * "evaluate retiring the GraphX RDD path for q_scc_big" — a measured
    * comparison, not a guess (PERF.md r11 row, SccDfSpec parity vs the
    * gate). Supersteps are node-keyed joins like every DF graph gate here,
    * so the comparison isolates exactly the per-superstep cost difference
    * between the two execution paths. An edge set that has not drained
    * after `maxRounds` outer rounds throws. */
  private[graft] def dfScc(edges0: DataFrame, maxRounds: Int = SCC_ITERS): DataFrame = {
    def ends(e: DataFrame) = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val edges = edges0.select(col("src"), col("dst")).distinct()
    val confirmed = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    Superstep.fixpoint(edges, maxRounds, "DataFrame SCC") { outer =>
      val e = outer.last
      // a round moves a color at least one hop: ≤ |V| ≤ 2|E| rounds
      val cap = (2 * outer.rows.last + 1).min(Int.MaxValue).toInt
      val color = Superstep.fixpoint(
          ends(e).select(col("node"), col("node").as("color")), cap, "SCC coloring") { r =>
        val prop = r.last.join(e, col("node") === col("src"))
          .groupBy(col("dst").as("n")).agg(min(col("color")).as("pc"))
        r.last.join(prop, col("node") === col("n"), "left")
          .select(col("node"),
            least(col("color"), coalesce(col("pc"), col("color"))).as("color"))
      } { r =>
        r.last.join(r.prev.withColumnRenamed("color", "old"), "node")
          .filter(col("color") =!= col("old")).isEmpty
      }.last
      // backward confirmation: from each root r, walk edges in reverse
      // while staying inside color r — the reached set IS SCC(r)
      val conf = Superstep.fixpoint(
          color.filter(col("color") === col("node"))
            .select(col("node"), col("node").as("scc_id")), cap, "SCC confirmation") { r =>
        val step = e.join(r.last, col("dst") === col("node"))
          .select(col("src").as("node"), col("scc_id"))
          .join(color, "node")
          .filter(col("color") === col("scc_id"))
          .select(col("node"), col("scc_id"))
        r.last.unionByName(step).distinct()
      }(_.unchanged).last
      confirmed += conf
      val done = conf.select("node")
      e.join(done.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
        .join(done.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
        .select(col("src"), col("dst"))
    }(_.rows.last == 0L)
    val scc = confirmed.reduce(_ unionByName _)
    scc.unionByName(ends(edges).join(scc.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("scc_id")))
  }

  /** Triangle counting + global closure at data scale — the motif gate
    * (E3's kin) on the co-purchase graph: the edge set is already
    * ORDERED (dst > src by construction), so a triangle is a < b < c
    * with all three edges present and each triangle is counted exactly
    * once — the node-iterator-with-ordering dataflow of distributed
    * triangle counting (Suri & Vassilvitskii, WWW 2011: ordering is what
    * bounds the wedge explosion; ours orders by custkey rather than
    * degree, fine at this skew and documented). Output pins the directed
    * 2-path (wedge) count, the triangle count, and the closure rate
    * 3-cliques/wedges — the global clustering signal of THIS ordered
    * representation.
    *
    * Scale shape: wedges = one edge⋈edge hash join keyed on the middle
    * vertex b; closure = one (a, c) keyed join of wedges against edges;
    * both shuffle keys are node ids that scale with the data. The wedge
    * frame is persisted (count + closure branches — no cross-branch
    * CSE). At real scale the ordering becomes degree-based to cap the
    * hottest b; the join structure is unchanged. */
  val qClusteringBig: Q = (s, d) => {
    val e = persisted(coEdges(s, d).select("src", "dst"))
    val wedges = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
      .select("a", "c")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val closed = wedges.join(e.select(col("src").as("a"), col("dst").as("c")),
      Seq("a", "c"))
    wedges.agg(count(lit(1)).as("n_wedges"))
      .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_triangles"))))
      .select(col("n_wedges"), col("n_triangles"),
        Fns.roundP(col("n_triangles").cast("double") / col("n_wedges"), 6)
          .as("closure_rate"))
  }

  /** Per-node LOCAL clustering coefficient (Watts & Strogatz, Nature
    * 1998) — [[qClusteringBig]]'s global closure rate refined to the
    * per-vertex signal community detectors and spam/bot classifiers
    * consume. Triangle discovery is the SAME ordered wedge join (each
    * triangle materializes exactly once as a < b < c), then each closed
    * triangle credits its three corners via one row-local explode and a
    * node-keyed count. lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)): integer
    * numerator and denominator, one IEEE division, roundP-6 — exact on
    * both engines. Nodes with deg < 2 are excluded (the coefficient is
    * undefined there, and emitting 0 would conflate "no opportunity"
    * with "no closure").
    *
    * Scale shape: two node-keyed joins (wedge, closure) + two node-keyed
    * aggs — all shuffle keys scale with the data; the per-corner explode
    * is 3× the triangle count, never the wedge count. */
  val qLocalClustering: Q = (s, d) => {
    val e = persisted(coEdges(s, d).select("src", "dst"))
    val und = e.select(col("src").as("n"))
      .unionByName(e.select(col("dst").as("n")))
    val deg = und.groupBy("n").agg(count(lit(1)).as("deg"))
    val tris = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
      .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        Fns.roundP(
          (lit(2.0) * coalesce(col("tri"), lit(0L)).cast("double")) /
            (col("deg") * (col("deg") - lit(1L))).cast("double"), 6).as("lcc"))
      .orderBy("node")
  }

  /** k-core threshold and peeling-round bound. k = 10 bites at every SF
    * that has a 10-core (sf0.01: 1298 of 1500 vertices survive across 7
    * peel rounds; sf0.1: 14306 of 14999 across 9; the sf0.001 graph has
    * no 10-core and correctly empties — measured). KCORE_ROUNDS = 12 is
    * the unroll bound BOTH engines compute exactly: the Spark loop may
    * break early only at a fixpoint, where further rounds are identity,
    * so its result always equals the oracle's exactly-12-round unroll
    * even if a data regen needed more peeling. */
  val KCORE_K = 10
  val KCORE_ROUNDS = 12

  /** E11's kin at data scale — k-core decomposition (Seidman 1983) of the
    * undirected co-purchase graph by synchronous peeling: repeatedly drop
    * every vertex whose degree among surviving vertices is < k; what
    * remains is the maximal subgraph of minimum degree ≥ k (the standard
    * density filter before community detection / influence analysis).
    * Output = surviving vertices with their within-core degree.
    *
    * Scale shape: each round is two hash joins of the edge set against
    * the (shrinking) survivor set plus one node-keyed count — all keyed
    * on vertex ids that scale with the data, no driver-side graph; the
    * early-break test rides the count of the round's materialization.
    * This synchronous-peel dataflow is how distributed k-core runs at
    * real scale (each round is a Pregel superstep); the O(rounds) bound
    * is the graph's degeneracy ordering depth, not its size. */
  val qKcoreBig: Q = (s, d) => kcore(s, d, KCORE_K)

  /** Peel loop of [[qKcoreBig]], k exposed for the spec (which exercises
    * a k whose core is non-empty at the 148-vertex spec scale). */
  private[graft] def kcore(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = coEdges(s, d)
    val und = persisted(
      e.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(col("dst").as("a"), col("src").as("b"))))
    // the peel only shrinks the survivor set, so an unchanged count is
    // the fixpoint: every further round is identity
    val alive = Superstep.iterateUntil(
        und.select(col("a").as("node")).distinct(), KCORE_ROUNDS) { r =>
      und
        .join(r.last.select(col("node").as("a")), Seq("a"))
        .join(r.last.select(col("node").as("b")), Seq("b"))
        .groupBy(col("a")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k)
        .select(col("a").as("node"))
    }(_.unchanged).last
    und
      .join(alive.select(col("node").as("a")), Seq("a"))
      .join(alive.select(col("node").as("b")), Seq("b"))
      .groupBy(col("a")).agg(count(lit(1)).as("deg_core"))
      .select(col("a").as("node"), col("deg_core"))
      .orderBy("node")
  }

  /** Truss order and round budget for [[qTruss]]. The peel's inner join
    * to the support table silently drops zero-triangle edges, which is
    * equivalent to the `sup >= TRUSS_K-2` filter ONLY while TRUSS_K >= 3
    * (at K=2 the filter keeps sup=0 edges the join has already lost, and
    * the oracle shares the join so the gate would not catch the drift). */
  val TRUSS_K = 4
  require(TRUSS_K >= 3,
    "qTruss's inner support join assumes TRUSS_K >= 3 (zero-support edges are dropped)")
  val TRUSS_ROUNDS = 5

  /** k-truss decomposition (Cohen 2008) of the STRONG-TIE subgraph —
    * the edge-level member of the cohesive-subgraph family beside
    * [[qKcoreBig]] (node peeling) and q_clustering_big (triangle
    * census): iteratively delete edges in fewer than k−2 triangles
    * until fixpoint; what survives is the [[TRUSS_K]]-truss, a strictly
    * stronger community core than the k-core (every surviving edge has
    * k−2 common-neighbor witnesses). The peel cascades hard on this
    * chain-structured graph: at sf0.1 the edge set collapses 146k →
    * 12.3k → 1.1k → 0.6k and reaches fixpoint in 5 rounds, so
    * [[TRUSS_ROUNDS]] = 5 covers every SF (and if a regeneration ever
    * needed more, BOTH engines stop at the same round-5 state — the
    * bound, not the fixpoint, is the gated semantic).
    *
    * Each round is q_clustering_big's ORDERED triangle join (a<b<c via
    * the canonical src<dst edge list, each triangle counted once) over
    * the SURVIVING edge set, a 3-way row-local explode crediting the
    * triangle's edges, one (a,b)-keyed support agg, and the peel
    * filter; early exit at fixpoint so the result equals the
    * oracle's full [[TRUSS_ROUNDS]] unroll (further rounds are
    * identity). The oracle unrolls with MATERIALIZED CTEs — each round
    * references the previous 3×, so default inlining would expand
    * 3^rounds-fold (the q_kcore_big lesson). Output is the per-node
    * incident truss degree, node-ordered. */
  val qTruss: Q = (s, d) => {
    val t = Superstep.iterateUntil(
        coEdges(s, d).select(col("src").as("a"), col("dst").as("b")), TRUSS_ROUNDS) { r =>
      val t = r.last
      val tri = t
        .join(t.select(col("a").as("b"), col("b").as("c")), Seq("b"))
        .join(t.select(col("a").as("a2"), col("b").as("c2")),
          col("a") === col("a2") && col("c") === col("c2"))
        .select(col("a"), col("b"), col("c"))
      val sup = tri.select(explode(array(
          struct(col("a").as("x"), col("b").as("y")),
          struct(col("b").as("x"), col("c").as("y")),
          struct(col("a").as("x"), col("c").as("y")))).as("e"))
        .groupBy(col("e.x").as("a"), col("e.y").as("b"))
        .agg(count(lit(1)).as("sup"))
      t.join(sup, Seq("a", "b"))
        .filter(col("sup") >= TRUSS_K - 2)
        .select(col("a"), col("b"))
    }(_.unchanged).last // fixpoint: every further round is identity
    t.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg_truss"))
      .orderBy("node")
  }

  /** Pivot count / hop bound for [[qHarmonicBig]]. */
  val CENT_PIVOTS = 4
  val CENT_HOPS = 6

  /** E11's kin at data scale — pivot-sampled harmonic centrality
    * (Boldi & Vigna, "Axioms for centrality", 2014; the sampled form is
    * how centrality runs at scale — HyperBall samples sources instead of
    * all-pairs BFS). From [[CENT_PIVOTS]] deterministic pivots (smallest
    * node ids), one multi-source BFS keyed (pivot, node) over the
    * undirected co-purchase graph, bounded at [[CENT_HOPS]]; harmonic(v)
    * = Σ_p 1/d(p,v) over pivots that reach v, each 1/d cast to
    * decimal(18,12) before summing so the ≤CENT_PIVOTS-term sum is exact
    * on both engines regardless of aggregation order.
    *
    * Scale shape: the BFS state is pivots×nodes (pivots is a constant),
    * one (pivot, node)-keyed hash join + anti-join dedupe per superstep
    * — [[qBfsBig]]'s dataflow with a pivot key rode along. The pivot
    * list is a CENT_PIVOTS-row collect (the startNode scalar precedent). */
  val qHarmonicBig: Q = (s, d) => {
    val e = coEdges(s, d)
    val und = persisted(
      e.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(col("dst").as("a"), col("src").as("b"))))
    val pivots = und.select(col("a").as("node")).distinct()
      .orderBy("node").limit(CENT_PIVOTS)
      .collect().map(_.getLong(0)).toSeq
    require(pivots.nonEmpty, "co-purchase graph has no nodes")
    import s.implicits._
    val start = pivots.toDF("pivot")
      .select(col("pivot"), col("pivot").as("node"), lit(0).as("hop"))
    val reached = GraphOps.bfsLevels(start,
      und.select(col("a").as("src"), col("b").as("dst")), CENT_HOPS, Seq("pivot"))
    reached.filter(col("hop") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        Fns.roundP(
          sum((lit(1.0) / col("hop")).cast("decimal(18,12)")).cast("double"), 6)
          .as("harmonic"))
      .orderBy("node")
  }

  /** Candidate cap for [[qLinkPredict]] — the report size, not a work
    * bound (ranking runs as TakeOrderedAndProject: per-partition top-K,
    * K-row driver merge). */
  val LP_TOPK = 50

  /** Link prediction by common-neighbor scoring on the undirected
    * co-purchase graph — the Liben-Nowell & Kleinberg (CIKM 2003) task:
    * rank non-adjacent pairs (a, c) by evidence from shared neighbors.
    * Score = the Resource-Allocation index Σ_b 1/deg(b) over common
    * neighbors b (Zhou, Lü & Zhang, EPJ B 2009), alongside the raw
    * common-neighbor count. RA is chosen over Adamic-Adar's 1/ln deg
    * deliberately: 1/deg is ONE IEEE division (exact-rounded identically
    * on every engine), so the decimal(18,12)-summed score is cross-engine
    * exact, where ln(deg) is a libm call whose last ULP is not pinned by
    * IEEE 754 — AA would gate on library coincidence, RA gates on
    * arithmetic. (Same index family; RA ≥ AA empirically in the paper.)
    *
    * Scale shape: candidate pairs come from the wedge join (edge⋈edge
    * keyed on the middle vertex — [[qClusteringBig]]'s bounded dataflow,
    * never node×node); the degree join REUSES the wedge join's mid-keyed
    * partitioning (no extra shuffle — pinned by PlanSpec); existing edges
    * leave via a left_anti on the pair key; ranking is top-K with a K-row
    * driver merge. At real scale the same plan runs with degree-capped
    * wedges to bound the hottest mid — structure unchanged. */
  val qLinkPredict: Q = (s, d) => {
    val e = coEdges(s, d).select("src", "dst")
    val und = persisted(
      e.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(col("dst").as("a"), col("src").as("b"))))
    // the decimal RA weight is cast ONCE PER NODE here, not once per
    // wedge: double→decimal runs through BigDecimal(Double.toString) at
    // ~1.7 µs/value (PERF.md), so casting on the Σdeg² wedge stream was
    // the query's hidden hot loop — same values (the cast is a pure
    // function of deg), the wedge agg now just sums long-backed decimals
    val deg = und.groupBy(col("a").as("mid")).agg(count(lit(1)).as("deg"))
      .withColumn("rweight",
        (lit(1.0) / col("deg").cast("double")).cast("decimal(18,12)"))
    // stage order: score the wedge stream FIRST (the deg join rides the
    // wedge join's mid-keyed partitioning, the (a,c) agg collapses Σdeg²
    // wedge rows — 6.2M at sf0.1, maxdeg 48 — to distinct pairs), THEN
    // anti-join the aggregated pair set against the edge list, so the
    // anti-join's shuffled side is pairs, not raw wedges (parity at
    // sf0.1 where pairs ≈ wedges/2; the gap widens with density)
    val wedges = und.select(col("a"), col("b").as("mid"))
      .join(und.select(col("a").as("mid"), col("b").as("c")), Seq("mid"))
      .filter(col("a") < col("c"))
    val scored = wedges.join(deg, Seq("mid"))
      .groupBy("a", "c")
      .agg(count(lit(1)).as("common_neighbors"),
        Fns.roundP(sum(col("rweight")).cast("double"), 6).as("ra_score"))
    scored
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_anti")
      .orderBy(desc("ra_score"), col("a"), col("c"))
      .limit(LP_TOPK)
  }

  /** Double-sweep hop budget — bounds both BFS passes (and the oracle's
    * recursive unrolls) like every superstep gate here. Profiled at
    * sf0.1: each superstep costs ~0.9 s of FIXED local-mode latency
    * (scheduler + lineage cut; the same wall time with 1-row and
    * 3k-row frontiers, and restructuring the round from two shuffles to
    * one moved nothing), so the hop budget IS the query's price — 8
    * keeps the bound useful while the 2×H rounds stay ~60% of the r10
    * 12-hop cost. The oracle SQL interpolates the same val, so both
    * engines always share the bound. The sweep is [[GraphOps.bfsLevels]]
    * — its broadcast frontier and distinct-before-anti shape were
    * re-adjudicated in r16 after the q_diameter warm-time flag: three
    * restructures (fused min-flag agg, frontier-drain early exit, AQE
    * off) all measured at-or-worse (PERF.md r16). */
  val DS_HOPS = 8

  /** Double-sweep diameter lower bound (Magnien, Latapy & Habib, JEA
    * 2009 — the standard cheap diameter estimator: BFS from an arbitrary
    * vertex, then BFS from the farthest vertex found; the second
    * eccentricity lower-bounds the diameter and is exact on trees).
    * Both sweeps are [[DS_HOPS]]-capped like every superstep gate, so
    * the gated quantity is the H-capped double-sweep bound — identical
    * semantics on both engines, and the cap is the honest posture at
    * scale (an uncapped sweep on a pathological path graph would run
    * O(diameter) rounds). Farthest-vertex picks break ties on the
    * MINIMUM node id so the whole report is deterministic. Output is
    * one row: start, both peripheral vertices, both eccentricities.
    *
    * Scale shape: 2×DS_HOPS frontier joins keyed on node id; the only
    * driver round-trips are the two 1-row argmax picks. */
  val qDiameter: Q = (s, d) => {
    val e = coEdges(s, d).select("src", "dst")
    val und = persisted(
      e.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(col("dst").as("a"), col("src").as("b"))))
    val start = startNode(e.select(col("src"), col("dst")))
    def farthest(dists: DataFrame): (Long, Int) = {
      val r = dists.orderBy(desc("hop"), col("node")).limit(1).head()
      (r.getLong(0), r.getInt(1))
    }
    val sweep = (from: Long) => GraphOps.bfsLevels(
      s.range(1).select(lit(from).as("node"), lit(0).as("hop")),
      und.select(col("a").as("src"), col("b").as("dst")), DS_HOPS)
    val (far1, ecc1) = farthest(sweep(start))
    val (far2, ecc2) = farthest(sweep(far1))
    s.range(1).select(
      lit(start).as("start"), lit(far1).as("far1"), lit(ecc1).as("ecc1"),
      lit(far2).as("far2"), lit(ecc2).as("diameter_lb"))
  }

  /** Degree assortativity coefficient (Newman, PRL 2002) — does this
    * graph wire hubs to hubs (r > 0, social-network-like) or hubs to
    * leaves (r < 0, internet-like)? The one-number mixing summary a
    * graph-QA pass reports beside degree/clustering. Computed as the
    * Pearson correlation of endpoint degrees over the symmetrized edge
    * set (each undirected edge contributes both orientations — the
    * standard symmetric estimator). All six moments are exact integer
    * sums (decimal(38,0)/HUGEINT); r assembles in the same fixed double
    * tree as [[graft.operators.EventOps.qAutocorr]]. Two node-keyed
    * joins (degree attach) + one global agg. */
  val qAssortativity: Q = (s, d) => {
    val e = coEdges(s, d).select("src", "dst")
    val und = persisted(
      e.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(col("dst").as("a"), col("src").as("b"))))
    val deg = und.groupBy(col("a").as("n")).agg(count(lit(1)).as("deg"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val m = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .agg(count(lit(1)).as("n_ends"),
        sum(dec(col("da"))).as("sx"), sum(dec(col("db"))).as("sy"),
        sum(dec(col("da") * col("db"))).as("sxy"),
        sum(dec(col("da") * col("da"))).as("sxx"),
        sum(dec(col("db") * col("db"))).as("syy"))
    val D = (n: String) => col(n).cast("double")
    m.select(col("n_ends"),
      Fns.roundP(
        (D("n_ends") * D("sxy") - D("sx") * D("sy")) /
          expr("nullif(sqrt((CAST(n_ends AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
            "(CAST(n_ends AS DOUBLE) * CAST(syy AS DOUBLE) - " +
            "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0)"), 6)
        .as("assortativity"))
  }

  /** Katz-index truncation depth: the score counts walks of length
    * ≤ KATZ_ITERS ending at each node. Bounded like every superstep gate
    * so the oracle can unroll the same rounds. */
  val KATZ_ITERS = 4

  /** Katz centrality (Katz, Psychometrika 1953) truncated at
    * [[KATZ_ITERS]] with attenuation β=1, i.e. x_k = 1 + Aᵀ·x_{k-1} from
    * x_0 = 1 — so x_K(v) is the exact COUNT of directed walks of length
    * 0..K ending at v. Keeping β=1 is the parity move: every quantity is
    * an integer (decimal(38,0) internally, bigint out), so the gate is
    * cross-engine exact with no float in the pipeline at all — where the
    * spectral normalization would gate on libm, the walk-count semantics
    * gate on arithmetic. The truncated form is also the scale-correct
    * one: full spectral Katz needs a solve, while the truncated index is
    * KATZ_ITERS node-keyed join+agg supersteps over the edge set —
    * PageRank's exact dataflow shape (edges persisted once). Reference
    * kin: E11 degrees
    * (/root/reference/src/operand/analysis/DegreeCentrality.cpp) — Katz
    * is degree's walk-depth generalization (k=1 IS in-degree+1). */
  val qKatz: Q = (s, d) => {
    val edges = persisted(coEdges(s, d).select(col("src"), col("dst")))
    val nodes = persisted(
      edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .distinct())
    val x = Superstep.iterate(
        nodes.select(col("node"), lit(1L).cast("decimal(38,0)").as("score")), KATZ_ITERS) { r =>
      val in = r.last.join(edges, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(col("score")).as("in_sum"))
      nodes
        .join(in, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(1L).cast("decimal(38,0)") +
            coalesce(col("in_sum"), lit(0L).cast("decimal(38,0)"))).as("score"))
    }.last
    x.select(col("node"), col("score").cast("long").as("katz")).orderBy("node")
  }

  /** HITS mutual-reinforcement rounds. Unnormalized integer growth is
    * bounded by maxdeg^(2·ITERS) per entry — decimal(38,0) holds that to
    * maxdeg ≈ 2M at 3 rounds, far past any SF here (maxdeg 48 at sf0.1). */
  val HITS_ITERS = 3

  /** HITS hubs & authorities (Kleinberg, JACM 1999) — the OTHER classic
    * eigenvector pair on a digraph, and on this DAG-shaped co-purchase
    * graph the interesting one: authority mass flows down edge direction,
    * hub mass up. Run UNNORMALIZED for [[HITS_ITERS]] rounds from h_0=1:
    * a_k = Aᵀ·h_{k-1}, h_k = A·a_k. Every value is an integer walk-count
    * (decimal(38,0) internally), so like [[qKatz]] the gate is exact on
    * both engines — the per-round L2 normalization of the textbook
    * formulation is a presentation detail (it cancels in the ranking) and
    * would put a sqrt+division inside the loop where rounding could
    * accumulate. Scale shape: 2 node-keyed join+aggs per round over the
    * persisted edge set; state is one row per node. */
  val qHits: Q = (s, d) => {
    val edges = persisted(coEdges(s, d).select(col("src"), col("dst")))
    val nodes = persisted(
      edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .distinct())
    val zero = lit(0L).cast("decimal(38,0)")
    // one round = a_k = Aᵀ·h_{k-1}, then h_k = A·a_k; the state carries both.
    // h_k sums a_k over out-neighbors straight from the in-sums: a node
    // without in-edges has a_k = 0 and adds nothing to an exact sum
    Superstep.iterate(
        nodes.select(col("node"), lit(1L).cast("decimal(38,0)").as("h"), zero.as("a")),
        HITS_ITERS) { r =>
      val aIn = r.last.join(edges, col("node") === col("src"))
        .groupBy(col("dst").as("n")).agg(sum(col("h")).as("in_sum"))
      val hOut = aIn.join(edges, col("n") === col("dst"))
        .groupBy(col("src")).agg(sum(col("in_sum")).as("out_sum"))
      nodes
        .join(aIn, col("node") === col("n"), "left")
        .join(hOut, col("node") === col("src"), "left")
        .select(col("node"), coalesce(col("out_sum"), zero).as("h"),
          coalesce(col("in_sum"), zero).as("a"))
    }.last
      .select(col("node"), col("h").cast("long").as("hub"),
        col("a").cast("long").as("auth"))
      .orderBy("node")
  }

  /** Betweenness estimator knobs: sampled roots, shortest-path horizon,
    * report size. */
  val BC_ROOTS = 8
  val BC_HOPS = 4
  val BC_TOP = 50

  /** E11-family centrality at scale — approximate betweenness via
    * sampled-source, bounded-horizon Brandes (Brandes 2001; source
    * sampling per Brandes & Pich 2007): from [[BC_ROOTS]] deterministic
    * roots (smallest source ids), a level-synchronous multi-root BFS
    * carries shortest-path counts σ forward for [[BC_HOPS]] hops, then
    * dependencies δ(v) = Σ_{w succ} (σv/σw)(1+δw) accumulate backward
    * one level at a time; bc(v) sums δ over roots. Exact Brandes is
    * O(V·E) — unrunnable at 100 TB; fixing roots and horizon makes each
    * phase K·E-bounded per superstep, the standard estimator trade.
    *
    * Plan/scale: forward = [[BC_HOPS]] rounds of frontier⋈edges hash
    * join + (root,node)-keyed count-sum with anti-join dedupe (exact
    * longs); backward = one join + agg per level; edges persist once.
    * Exactness: σ is all-integer; every δ and the final per-node sum
    * aggregate decimal(28,18)-cast terms, so aggregation
    * order cannot perturb a double — the oracle's unrolled MATERIALIZED
    * CTE rounds hold bit-identical state. Report: top [[BC_TOP]] by
    * (rounded bc desc, node) — deterministic under ties. */
  val qBetweennessBig: Q = (s, d) => {
    val edges = persisted(coEdges(s, d).select(col("src"), col("dst")))
    val roots = edges.select(col("src")).distinct()
      .orderBy("src").limit(BC_ROOTS).select(col("src").as("root"))
    val levels = Superstep.iterate(
        roots.select(col("root"), col("root").as("node"), lit(1L).as("sigma")), BC_HOPS) { r =>
      r.last
        .join(edges, col("node") === col("src"))
        .select(col("root"), col("dst").as("node"), col("sigma"))
        .join(r.all.select("root", "node"), Seq("root", "node"), "left_anti")
        .groupBy("root", "node").agg(sum(col("sigma")).as("sigma"))
    }.frames
    // backward sweep, deepest level first: round i adds level l = BC_HOPS-i,
    // whose successors are exactly the level-(l+1) rows already in the
    // frame (a BFS edge out of level l never reaches deeper than l+1)
    val deltas = Superstep.iterate(
        levels(BC_HOPS).withColumn("delta", lit(0.0)), BC_HOPS - 1) { r =>
      val l = BC_HOPS - r.index
      val contrib = levels(l).as("v")
        .join(edges, col("v.node") === col("src"))
        .join(r.last.as("w"),
          col("v.root") === col("w.root") && col("dst") === col("w.node"))
        .select(col("v.root").as("root"), col("v.node").as("node"),
          ((col("v.sigma") / col("w.sigma")) * (lit(1.0) + col("w.delta")))
            .cast("decimal(28,18)").as("t"))
        .groupBy("root", "node").agg(sum(col("t")).as("ts"))
      r.last.unionByName(levels(l)
        .join(contrib, Seq("root", "node"), "left")
        .select(col("root"), col("node"), col("sigma"),
          coalesce(col("ts").cast("double"), lit(0.0)).as("delta")))
    }.last
    deltas
      .groupBy("node")
      .agg(sum(col("delta").cast("decimal(28,18)")).as("bcsum"))
      .select(col("node"), Fns.roundP(col("bcsum").cast("double"), 6).as("bc"))
      .orderBy(desc("bc"), col("node")).limit(BC_TOP)
  }

  /** HyperANF geometry: 2^ANF_P registers per node, 4 ball-growing
    * rounds. α_32 is Flajolet et al. 2007's tabulated constant (the
    * m ≥ 128 closed form only applies above 128 registers). m=32 is the
    * production HyperANF operating point — per-round join volume is
    * E·m rows, so the counter width is THE cost knob (m=64 measured
    * ~2× slower at 64× for accuracy the curve readout doesn't need:
    * the mirror spec measures ≤ ±10% per round at m=32 — σ for the
    * estimator is 1.04/√32 ≈ 18%). */
  val ANF_P = 5
  val ANF_M = 1 << ANF_P
  val ANF_BITS = 32 - ANF_P
  val ANF_ALPHA_M2: Double = 0.697 * ANF_M * ANF_M
  val ANF_HOPS = 4

  /** Neighborhood function / effective-diameter curve via HyperANF
    * (Boldi, Rosa & Vigna, WWW 2011) — N(t) = Σ_v |ball(v, t)| estimated
    * by one [[ANF_M]]-register HLL counter per vertex, grown per round
    * by the element-wise max-merge of each vertex's own and neighbors'
    * registers (HLL union ≡ register max, the same property the
    * streaming cardinality monitor rides). THE at-scale answer to "how
    * far apart is this graph": exact N(t) is all-pairs BFS (O(V·E),
    * unrunnable at 100 TB), double-sweep (q_diameter) bounds only the
    * max, while HyperANF costs [[ANF_HOPS]] rounds of an edge⋈register
    * hash join with ≤ m rows of state per vertex — register math shared
    * verbatim with [[SketchOps]] so sketch and graph gates cannot
    * diverge.
    *
    * Exactness: registers are integer max-folds of a fixed md5 hash set
    * (order/partition-free); the per-node estimate is the q_hll_distinct
    * double tree (dyadic-exact indicator sums, α literal, ln parity);
    * N(t) decimal-sums per-node estimates. Plan: und edges persist once;
    * each round reads the previous registers twice, so [[Superstep]] cuts
    * every round to a flat leaf. The curve readout collects ONE row per
    * round eagerly ([[Superstep.readEach]]) and the driver drops each
    * V×m register frame once the next is read, so no lazy plan keeps all
    * ANF_HOPS frames alive at once (the first cut did, and OOM'd the 64×
    * probe). */
  /** One HyperANF ball-growing round — the element-wise max-merge of each
    * vertex's own and in-neighbors' registers. Factored so PlanSpec can
    * pin the join+agg shape statically: [[qHyperAnf]]'s rounds execute
    * eagerly (the curve readout forces each frame), so the gate's returned
    * 5-row LocalTableScan never exposes this subtree to a plan assert.
    * Shape contract: an equi-join of
    * the undirected edge frame against the register frame on b = node
    * (never a nested-loop), then a (node, bucket)-keyed partial+final max
    * aggregate — E·m rows in flight, ≤ m rows of state per vertex. */
  private[graft] def anfRound(und: DataFrame, regs: DataFrame): DataFrame =
    regs
      .unionByName(und.join(regs, col("b") === col("node"))
        .select(col("a").as("node"), col("bucket"), col("r")))
      .groupBy("node", "bucket").agg(max(col("r")).as("r"))

  val qHyperAnf: Q = (s, d) => {
    import s.implicits._
    val e = coEdges(s, d).select(col("src"), col("dst"))
    val und = persisted(e.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(e.select(col("dst").as("a"), col("src").as("b")))
      .distinct())
    val nodes = und.select(col("a").as("node")).distinct()
    val regs0 = SketchOps.hllRegistersAt(
      nodes.select(col("node"),
        Fns.hash32(concat(lit("anf_"), col("node").cast("string"))).as("h")),
      "node", ANF_BITS)
    Superstep.readEach(regs0, ANF_HOPS)(anfRound(und, _)) { regs =>
      val row = SketchOps.hllEstimateAt(regs, "node", ANF_M, ANF_ALPHA_M2)
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("hll_raw").cast("decimal(28,18)")).as("sp"))
        .select(col("n_nodes"), Fns.roundP(col("sp").cast("double"), 4).as("n_pairs"))
        .head()
      (row.getLong(0), row.getDouble(1))
    }.zipWithIndex.map { case ((n, p), t) => (t, n, p) }
      .toDF("t", "n_nodes", "n_pairs").orderBy("t")
  }

  /** Unrolled Borůvka round budget for the q_mst ORACLE — component count
    * at least halves per round, so 18 rounds are exact for any vertex set
    * ≤ 2^18 = 262144 (sf1's co-purchase graph touches ~150k custkeys;
    * raise alongside a bigger self-generated SF). The Spark side needs no
    * such constant — its driver loop runs until the cross-edge set
    * drains. */
  val MST_ROUNDS = 18

  /** Pointer-doubling depth inside each oracle round (contraction trees
    * ≤ 2^18 deep — V-bounded, so the same 262144 budget). */
  val MST_DOUBLE = 18

  /** Minimum spanning forest at data scale — distributed Borůvka over the
    * weighted co-purchase graph ([[coEdges]]' deterministic w ∈ {1,2,3};
    * ties broken by (src, dst), so edge keys are a TOTAL order and the
    * MSF is unique — both engines must produce the identical edge list).
    * The backbone extraction a similarity graph gets before taxonomy /
    * blocking passes, and THE textbook log-V-round distributed MST:
    * each round every component picks its minimum outgoing edge (one
    * keyed agg), the chosen-edge pseudo-forest star-contracts (2-cycle
    * break at the mutual-min pair, then pointer doubling to the root —
    * all node-keyed joins on component-count-sized frames), and the edge
    * set relabels. Component count at least halves per round, so rounds
    * = O(log V) at ANY scale; per-round state is the cross-edge set
    * labeled with its endpoints' components, plus the round's chosen
    * edges (the forest is their union).
    *
    * Oracle: the same algorithm unrolled [[MST_ROUNDS]]× with
    * MATERIALIZED per-round CTEs (each is referenced 2-3×; a plain CTE
    * chain would expand exponentially — the q_bradley_terry trap). */
  val qMst: Q = (s, d) => msfOf(coEdges(s, d)).orderBy("src", "dst")

  /** Parent maps at or below this row count contract in a single task
    * (union-find over one partition — the multi-level design every
    * production CC/MST runs: distributed supersteps while the state is
    * huge, local finish once it fits an executor). 4M rows ≈ 64 MB. */
  val MST_LOCAL_CAP = 4L * 1024 * 1024

  /** Borůvka over an arbitrary (src, dst, w) frame (src < dst, unique
    * pairs) — factored so MstSpec can drive constructed graphs and the
    * Kruskal mirror. Throws if 64 rounds leave a cross edge. */
  private[graft] def msfOf(edges0: DataFrame,
      localCap: Long = MST_LOCAL_CAP): DataFrame = {
    val sess = edges0.sparkSession
    import sess.implicits._
    // a round's frame is the set of CROSS edges (src, dst, w) with their
    // endpoints' current components (ca ≠ cb), plus the edges the round
    // chose for the forest, marked ca = cb = the choosing component: it
    // drains to empty the round after the forest spans every component
    val rounds = Superstep.fixpoint(
        edges0.filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst"), col("w"), col("src").as("ca"), col("dst").as("cb")),
        64, "Borůvka MSF") { r => // 64: Borůvka halves the components per round
      val ec = r.last.filter(col("ca") =!= col("cb"))
      // min outgoing edge per component; (w, src, dst) is already unique,
      // `other` rides along without affecting the struct order
      def side(comp: String, other: String) = ec.select(
        col(comp).as("comp"), col("w"), col("src"), col("dst"), col(other).as("other"))
      val chosen = side("ca", "cb").unionByName(side("cb", "ca"))
        .groupBy(col("comp"))
        .agg(min(struct(col("w"), col("src"), col("dst"), col("other"))).as("m"))
        .select(col("comp"), col("m.w").as("w"), col("m.src").as("src"),
          col("m.dst").as("dst"), col("m.other").as("other"))
      // star contraction: parent = other-endpoint component; the chosen
      // pseudo-forest has exactly one mutual-min 2-cycle per tree — break
      // it to a root at the smaller id
      val par = chosen
        .join(chosen.select(col("comp").as("other"), col("other").as("pp")),
          Seq("other"), "left")
        .select(col("comp").as("c"),
          when(col("pp") === col("comp"), least(col("comp"), col("other")))
            .otherwise(col("other")).as("p"))
      // Contract to roots. Parent maps (≤ 2 × cross edges entries) within
      // localCap finish in ONE task — memoized pointer chasing,
      // deterministic because the root of a tree is unique. Huge maps
      // pointer-double distributed: 2^k jumps cover the longest chain.
      val bound = 2 * r.rows.last
      val roots: DataFrame =
        if (bound <= localCap) {
          par.select(col("c"), col("p")).as[(Long, Long)]
            .repartition(1)
            .mapPartitions { it =>
              val p = new scala.collection.mutable.HashMap[Long, Long]()
              it.foreach { case (c, pp) => p(c) = pp }
              val root = new scala.collection.mutable.HashMap[Long, Long]()
              def find(x: Long): Long = { // iterative: chains can be map-deep
                var cur = x
                val path = scala.collection.mutable.ArrayBuffer.empty[Long]
                while (!root.contains(cur) && p.getOrElse(cur, cur) != cur) {
                  path += cur
                  cur = p(cur)
                }
                val r = root.getOrElse(cur, cur)
                path.foreach(root(_) = r)
                r
              }
              p.keysIterator.map(c => (c, find(c))).toList.iterator
            }
            .toDF("c", "p")
        } else
          Superstep.iterate(par, Iterator.iterate(1L)(_ * 2).takeWhile(_ < bound).size) { d =>
            d.last
              .join(d.last.select(col("c").as("p"), col("p").as("p2")), Seq("p"), "left")
              .select(col("c"), coalesce(col("p2"), col("p")).as("p"))
          }.last
      ec.join(roots.select(col("c").as("ca"), col("p").as("ra")), Seq("ca"), "left")
        .join(roots.select(col("c").as("cb"), col("p").as("rb")), Seq("cb"), "left")
        .select(col("src"), col("dst"), col("w"),
          coalesce(col("ra"), col("ca")).as("ca"), coalesce(col("rb"), col("cb")).as("cb"))
        .filter(col("ca") =!= col("cb"))
        .unionByName(chosen.select(col("src"), col("dst"), col("w"),
          col("comp").as("ca"), col("comp").as("cb")))
    }(_.rows.last == 0L)
    // the forest: every round's chosen edges, read off the cut round frames
    rounds.frames.tail.map(_.filter(col("ca") === col("cb")))
      .reduce(_ unionByName _)
      .select(col("src"), col("dst"), col("w")).distinct()
  }

  // ---- DuckDB oracles ------------------------------------------------------

  /** Shared CTE chain of the label-propagation oracle (edges, weighted
    * undirected view, l0 seeds, the LP_ITERS vote/argmax rounds) — ends at
    * l$LP_ITERS. Reused by the q_modularity oracle so both engines score
    * the same communities. */
  private def sqlLabelPropCtes: String = {
    val rounds = (1 to LP_ITERS).map { i =>
      s"""votes$i AS (
         |  SELECT u.a AS node, l.lbl, sum(u.w) AS wt
         |  FROM und u JOIN l${i - 1} l ON l.node = u.b GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node ORDER BY wt DESC, lbl ASC) AS rn
         |    FROM votes$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$sqlEdges,
       |und AS (
       |  SELECT src AS a, dst AS b, 1 + (src + dst) % 3 AS w FROM edges
       |  UNION ALL
       |  SELECT dst AS a, src AS b, 1 + (src + dst) % 3 AS w FROM edges),
       |lnodes AS (SELECT DISTINCT a AS node FROM und),
       |l0 AS (SELECT node, node AS lbl FROM lnodes),
       |$rounds""".stripMargin
  }

  /** Shared CTE chain of the walk-corpus oracle — edges, undirected view,
    * id-ordered adjacency, the WC_STEPS unrolled hash-picked steps, and
    * `corpus` (start, wk, step, node). Used by q_walk_corpus and
    * q_skipgram_pairs so both engines walk the same sequences. */
  private def sqlWalkCtes: String = {
    def pick(t: Int) =
      s"1 + CAST('0x' || substr(md5(start || ':' || wk || ':' || $t), 1, 8) AS BIGINT) % adj.deg"
    val steps = (1 to WC_STEPS).map { t =>
      s"""s$t AS (
         |  SELECT s.start, s.wk, adj.b AS node
         |  FROM s${t - 1} s JOIN adj ON adj.a = s.node
         |    AND adj.rn = ${pick(t)})""".stripMargin
    }.mkString(",\n")
    val unions = (1 to WC_STEPS).map { t =>
      s"SELECT start, wk, CAST($t AS INT) AS step, node FROM s$t"
    }.mkString("\nUNION ALL ")
    s"""$sqlEdges,
       |und AS (
       |  SELECT src AS a, dst AS b FROM edges
       |  UNION ALL SELECT dst AS a, src AS b FROM edges),
       |adj AS (
       |  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS rn,
       |    count(*) OVER (PARTITION BY a) AS deg
       |  FROM und),
       |s0 AS (
       |  SELECT t.a AS start, CAST(r.wk AS INT) AS wk, t.a AS node
       |  FROM (SELECT DISTINCT a FROM und) t, range(0, $WC_WALKS) r(wk)),
       |$steps,
       |corpus AS (
       |  SELECT start, wk, CAST(0 AS INT) AS step, node FROM s0
       |  UNION ALL $unions)""".stripMargin
  }

  private val sqlEdges =
    """memb AS (
      |  SELECT DISTINCT
      |    date_diff('day', DATE '1992-01-01', o_orderdate) // 7 AS wk,
      |    o_orderpriority AS prio, o_custkey AS ck
      |  FROM orders),
      |edges AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT ck AS src,
      |      lead(ck) OVER (PARTITION BY wk, prio ORDER BY ck) AS dst
      |    FROM memb)
      |  WHERE dst IS NOT NULL),
      |start AS (SELECT min(src) AS s FROM edges)""".stripMargin

  /** Unrolled Katz rounds: k_i = 1 + Σ_in k_{i-1}, HUGEINT so no round
    * can wrap (mirrors the Spark side's decimal(38,0)). */
  private def sqlKatzRounds: String =
    (1 to KATZ_ITERS).map { i =>
      s"""k$i AS (
         |  SELECT n.node, 1 + coalesce(s.t, 0) AS score
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, sum(k.score) AS t
         |    FROM k${i - 1} k JOIN edges e ON e.src = k.node
         |    GROUP BY e.dst) s ON s.dst = n.node)""".stripMargin
    }.mkString(",\n")

  /** Unrolled HITS rounds: a_i from in-edge hub sums, h_i from out-edge
    * authority sums — the same unnormalized integer recurrence. */
  private def sqlHitsRounds: String =
    (1 to HITS_ITERS).map { i =>
      s"""a$i AS (
         |  SELECT n.node, coalesce(s.t, 0) AS a
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, sum(h.h) AS t
         |    FROM h${i - 1} h JOIN edges e ON e.src = h.node
         |    GROUP BY e.dst) s ON s.dst = n.node),
         |h$i AS (
         |  SELECT n.node, coalesce(s.t, 0) AS h
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.src, sum(a.a) AS t
         |    FROM a$i a JOIN edges e ON e.dst = a.node
         |    GROUP BY e.src) s ON s.src = n.node)""".stripMargin
    }.mkString(",\n")

  /** Unrolled Brandes twin: forward hops f1..fH carry σ with anti-join
    * dedupe before the count-sum (exact BIGINT); backward levels
    * d(H-1)..d1 fold successor terms through decimal(28,18) so the
    * doubles match the Spark sweep bit-for-bit. All MATERIALIZED — the
    * chain references each frame twice and DuckDB would otherwise
    * inline it exponentially down to the parquet scans. */
  private def sqlBetweenness: String = {
    val fwd = (1 to BC_HOPS).map { h =>
      s"""|f$h AS MATERIALIZED (
          |  SELECT t.root, t.node, CAST(sum(t.sigma) AS BIGINT) AS sigma FROM (
          |    SELECT f.root, e.dst AS node, f.sigma
          |    FROM f${h - 1} f JOIN edges e ON f.node = e.src) t
          |  LEFT JOIN r${h - 1} r ON t.root = r.root AND t.node = r.node
          |  WHERE r.node IS NULL
          |  GROUP BY 1, 2),
          |r$h AS MATERIALIZED (
          |  SELECT root, node FROM r${h - 1}
          |  UNION ALL SELECT root, node FROM f$h)""".stripMargin
    }.mkString(",\n")
    val bwd = ((BC_HOPS - 1) to 1 by -1).map { l =>
      s"""|d$l AS MATERIALIZED (
          |  SELECT v.root, v.node, v.sigma,
          |    coalesce(CAST(c.ts AS DOUBLE), 0.0::DOUBLE) AS delta
          |  FROM f$l v LEFT JOIN (
          |    SELECT v.root, v.node,
          |      sum(CAST((v.sigma / w.sigma) * (1.0::DOUBLE + w.delta)
          |        AS DECIMAL(28,18))) AS ts
          |    FROM f$l v JOIN edges e ON v.node = e.src
          |    JOIN d${l + 1} w ON v.root = w.root AND e.dst = w.node
          |    GROUP BY 1, 2) c ON v.root = c.root AND v.node = c.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $sqlEdges,
       |roots AS MATERIALIZED (SELECT src AS root FROM (
       |  SELECT DISTINCT src FROM edges ORDER BY src LIMIT $BC_ROOTS)),
       |f0 AS MATERIALIZED (
       |  SELECT root, root AS node, CAST(1 AS BIGINT) AS sigma FROM roots),
       |r0 AS MATERIALIZED (SELECT root, node FROM f0),
       |$fwd,
       |d$BC_HOPS AS MATERIALIZED (
       |  SELECT root, node, sigma, 0.0::DOUBLE AS delta FROM f$BC_HOPS),
       |$bwd
       |SELECT node,
       |  ${Fns.roundPSql(
             "CAST(sum(CAST(delta AS DECIMAL(28,18))) AS DOUBLE)", 6)} AS bc
       |FROM (SELECT node, delta FROM (
       |  ${(1 to BC_HOPS).map(l => s"SELECT node, delta FROM d$l")
             .mkString("\n|  UNION ALL ")}))
       |GROUP BY node ORDER BY bc DESC, node LIMIT $BC_TOP""".stripMargin
  }

  /** HyperANF twin: g0..gH register CTEs (MATERIALIZED — each round and
    * its estimate reference the previous frame 3×), per-round estimates
    * via the q_hll_distinct double tree at the ANF geometry. */
  private def sqlHyperAnf: String = {
    val mask = (1L << ANF_BITS) - 1
    def estSel(t: Int) =
      s"""|SELECT $t AS t, CAST(count(*) AS BIGINT) AS n_nodes,
          |  ${Fns.roundPSql(
               "CAST(sum(CAST(hll AS DECIMAL(28,18))) AS DOUBLE)", 4)} AS n_pairs
          |FROM (
          |  SELECT CASE WHEN e_raw <= ${2.5 * ANF_M} AND v_zero > 0
          |      THEN ${ANF_M.toDouble} * ln(${ANF_M.toDouble} / CAST(v_zero AS DOUBLE))
          |    WHEN e_raw > ${SketchOps.HLL_LARGE}
          |      THEN -${graft.functions.Kmv.HASH_SPACE} * ln(1.0::DOUBLE - e_raw / ${graft.functions.Kmv.HASH_SPACE})
          |    ELSE e_raw END AS hll
          |  FROM (
          |    SELECT node, CAST($ANF_M - npres AS BIGINT) AS v_zero,
          |      $ANF_ALPHA_M2 / (psum + CAST($ANF_M - npres AS DOUBLE)) AS e_raw
          |    FROM (SELECT node, count(*) AS npres,
          |        sum(1.0::DOUBLE / CAST(1::BIGINT << r AS DOUBLE)) AS psum
          |      FROM g$t GROUP BY 1)))""".stripMargin
    val rounds = (1 to ANF_HOPS).map { t =>
      s"""|g$t AS MATERIALIZED (
          |  SELECT node, bucket, max(r) AS r FROM (
          |    SELECT node, bucket, r FROM g${t - 1}
          |    UNION ALL
          |    SELECT u.a AS node, g.bucket, g.r
          |    FROM und u JOIN g${t - 1} g ON u.b = g.node)
          |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sqlEdges,
       |und AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges
       |  UNION SELECT dst, src FROM edges),
       |nodes AS (SELECT DISTINCT a AS node FROM und),
       |h0 AS (SELECT node,
       |  CAST('0x' || substr(md5('anf_' || CAST(node AS VARCHAR)), 1, 8) AS BIGINT) AS h
       |  FROM nodes),
       |g0 AS MATERIALIZED (
       |  SELECT node, h >> $ANF_BITS AS bucket,
       |    max(${ANF_BITS + 1} - length(ltrim(bin(h & $mask), '0'))) AS r
       |  FROM h0 GROUP BY 1, 2),
       |$rounds
       |SELECT * FROM (
       |${(0 to ANF_HOPS).map(estSel).mkString("\nUNION ALL\n")})
       |ORDER BY t""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("q_hyperanf", qHyperAnf, sqlHyperAnf),
    Gate("q_betweenness_big", qBetweennessBig, sqlBetweenness),
    Gate("q_katz", qKatz,
      s"""WITH $sqlEdges,
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |k0 AS (SELECT node, CAST(1 AS HUGEINT) AS score FROM nodes),
         |$sqlKatzRounds
         |SELECT node, CAST(score AS BIGINT) AS katz
         |FROM k$KATZ_ITERS ORDER BY node""".stripMargin),
    // assortativity: endpoint-degree Pearson over the symmetrized edges,
    // HUGEINT moments, one fixed double tree
    Gate("q_assortativity", qAssortativity, {
      val D = (n: String) => s"CAST($n AS DOUBLE)"
      s"""WITH $sqlEdges,
         |und AS (SELECT src AS a, dst AS b FROM edges
         |  UNION SELECT dst, src FROM edges),
         |deg AS (SELECT a AS n, count(*) AS deg FROM und GROUP BY 1),
         |p AS (
         |  SELECT da.deg AS da, db.deg AS db
         |  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
         |m AS (
         |  SELECT count(*) AS n_ends, sum(da) AS sx, sum(db) AS sy,
         |    sum(da * db) AS sxy, sum(da * da) AS sxx, sum(db * db) AS syy
         |  FROM p)
         |SELECT CAST(n_ends AS BIGINT) AS n_ends,
         |  ${Fns.roundPSql(
             s"(${D("n_ends")} * ${D("sxy")} - ${D("sx")} * ${D("sy")}) / " +
               s"nullif(sqrt((${D("n_ends")} * ${D("sxx")} - ${D("sx")} * ${D("sx")}) * " +
               s"(${D("n_ends")} * ${D("syy")} - ${D("sy")} * ${D("sy")})), 0.0)", 6)}
         |    AS assortativity
         |FROM m""".stripMargin
    }),
    // double sweep: two DS_HOPS-bounded recursive BFS unrolls, min-id
    // tie-breaks on both farthest picks
    Gate("q_diameter", qDiameter,
      s"""WITH RECURSIVE $sqlEdges,
         |und AS (SELECT src AS a, dst AS b FROM edges
         |  UNION SELECT dst, src FROM edges),
         |r1(n, d) AS (
         |  SELECT s, 0 FROM start
         |  UNION
         |  SELECT u.b, r.d + 1 FROM r1 r JOIN und u ON u.a = r.n
         |  WHERE r.d < $DS_HOPS),
         |d1 AS (SELECT n, min(d) AS d FROM r1 GROUP BY 1),
         |f1 AS (SELECT n, d FROM d1 ORDER BY d DESC, n LIMIT 1),
         |r2(n, d) AS (
         |  SELECT n, 0 FROM f1
         |  UNION
         |  SELECT u.b, r.d + 1 FROM r2 r JOIN und u ON u.a = r.n
         |  WHERE r.d < $DS_HOPS),
         |d2 AS (SELECT n, min(d) AS d FROM r2 GROUP BY 1),
         |f2 AS (SELECT n, d FROM d2 ORDER BY d DESC, n LIMIT 1)
         |SELECT (SELECT s FROM start) AS start,
         |  f1.n AS far1, CAST(f1.d AS INT) AS ecc1,
         |  f2.n AS far2, CAST(f2.d AS INT) AS diameter_lb
         |FROM f1, f2""".stripMargin),
    // local clustering: definitional triangle join (each triangle once as
    // a<b<c), three-corner credit, integer ratio rounded once
    Gate("q_local_clustering", qLocalClustering,
      s"""WITH $sqlEdges,
         |und AS (SELECT src AS n FROM edges UNION ALL SELECT dst FROM edges),
         |deg AS (SELECT n, count(*) AS deg FROM und GROUP BY 1),
         |tri AS (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM edges e1
         |  JOIN edges e2 ON e2.src = e1.dst
         |  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         |pn AS (
         |  SELECT n, count(*) AS tri FROM (
         |    SELECT a AS n FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri)
         |  GROUP BY 1)
         |SELECT d.n AS node, CAST(d.deg AS BIGINT) AS deg,
         |  CAST(coalesce(p.tri, 0) AS BIGINT) AS tri,
         |  ${Fns.roundPSql(
             "(2.0::DOUBLE * CAST(coalesce(p.tri, 0) AS DOUBLE)) / " +
               "CAST(d.deg * (d.deg - 1) AS DOUBLE)", 6)} AS lcc
         |FROM deg d LEFT JOIN pn p ON p.n = d.n
         |WHERE d.deg >= 2 ORDER BY node""".stripMargin),
    Gate("q_hits", qHits,
      s"""WITH $sqlEdges,
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |h0 AS (SELECT node, CAST(1 AS HUGEINT) AS h FROM nodes),
         |$sqlHitsRounds
         |SELECT h.node, CAST(h.h AS BIGINT) AS hub, CAST(a.a AS BIGINT) AS auth
         |FROM h$HITS_ITERS h JOIN a$HITS_ITERS a ON a.node = h.node
         |ORDER BY h.node""".stripMargin),
    // RA link prediction: wedge-joined candidates, existing edges removed,
    // 1/deg weights decimal-summed (IEEE-exact division on both engines)
    Gate("q_link_predict", qLinkPredict,
      s"""WITH $sqlEdges,
         |und AS (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION ALL SELECT dst AS a, src AS b FROM edges),
         |deg AS (SELECT a AS node, count(*) AS deg FROM und GROUP BY 1),
         |wedges AS (
         |  SELECT u1.a AS a, u1.b AS mid, u2.b AS c
         |  FROM und u1 JOIN und u2 ON u1.b = u2.a
         |  WHERE u1.a < u2.b),
         |cand AS (
         |  SELECT w.a, w.mid, w.c FROM wedges w
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM und e WHERE e.a = w.a AND e.b = w.c))
         |SELECT cand.a, cand.c,
         |  CAST(count(*) AS BIGINT) AS common_neighbors,
         |  ${Fns.roundPSql(
              "CAST(sum(CAST(1.0::DOUBLE / deg AS DECIMAL(18,12))) AS DOUBLE)", 6)} AS ra_score
         |FROM cand JOIN deg ON deg.node = cand.mid
         |GROUP BY cand.a, cand.c
         |ORDER BY ra_score DESC, cand.a, cand.c
         |LIMIT $LP_TOPK""".stripMargin),
    // UNION (not UNION ALL) in the recursive terms: the chain DAG has
    // exponentially many paths, but the deduped (node, hop)/(node, cost,
    // depth) state space is linear in V × depth.
    Gate("q_bfs_big", qBfsBig,
      s"""WITH RECURSIVE $sqlEdges,
         |walk(node, hop) AS (
         |  SELECT s, 0 FROM start
         |  UNION
         |  SELECT e.dst, w.hop + 1 FROM walk w JOIN edges e ON e.src = w.node
         |  WHERE w.hop < $BFS_HOPS)
         |SELECT node, min(hop) AS hops FROM walk GROUP BY node ORDER BY node""".stripMargin),
    Gate("q_sssp_big", qSsspBig,
      s"""WITH RECURSIVE $sqlEdges,
         |wedges AS (SELECT src, dst, 1 + (src + dst) % 3 AS w FROM edges),
         |walk(node, cost, depth) AS (
         |  SELECT s, CAST(0 AS BIGINT), 0 FROM start
         |  UNION
         |  SELECT e.dst, w.cost + e.w, w.depth + 1
         |  FROM walk w JOIN wedges e ON e.src = w.node
         |  WHERE w.depth < $SSSP_ROUNDS)
         |SELECT node, min(cost) AS cost FROM walk GROUP BY node ORDER BY node""".stripMargin),
    Gate("q_label_prop", qLabelProp,
      s"""WITH $sqlLabelPropCtes
         |SELECT node, lbl AS community FROM l$LP_ITERS ORDER BY node""".stripMargin),
    Gate("q_modularity", qModularity,
      s"""WITH $sqlLabelPropCtes,
         |comm AS (SELECT node, lbl AS community FROM l$LP_ITERS),
         |deg AS (SELECT a AS node, sum(w) AS deg FROM und GROUP BY 1),
         |m2t AS (SELECT sum(w) AS m2 FROM und),
         |inw AS (
         |  SELECT ca.community, sum(u.w) AS in_w
         |  FROM und u
         |  JOIN comm ca ON ca.node = u.a
         |  JOIN comm cb ON cb.node = u.b
         |  WHERE ca.community = cb.community GROUP BY 1),
         |tot AS (
         |  SELECT c.community, count(*) AS n_nodes, sum(d.deg) AS tot_w
         |  FROM comm c JOIN deg d ON d.node = c.node GROUP BY 1)
         |SELECT t.community, t.n_nodes,
         |  CAST(coalesce(i.in_w, 0) AS BIGINT) AS in_w,
         |  CAST(t.tot_w AS BIGINT) AS tot_w,
         |  ${Fns.roundPSql(
             "CAST(coalesce(i.in_w, 0) AS DOUBLE) / m.m2 - " +
               "(CAST(t.tot_w AS DOUBLE) / m.m2) * (CAST(t.tot_w AS DOUBLE) / m.m2)", 6)} AS contrib
         |FROM tot t LEFT JOIN inw i ON i.community = t.community, m2t m
         |ORDER BY t.community""".stripMargin),
    // ground truth, not an algorithm mirror: full reachability closure,
    // mutual pairs, min-id per node — any correct SCC algorithm matches
    Gate("q_scc_big", qSccBig,
      """WITH RECURSIVE memb AS (
        |  SELECT DISTINCT date_diff('day', DATE '1992-01-01', o_orderdate) // 7 AS wk,
        |    o_orderpriority AS prio, o_custkey // 100 AS band, o_custkey AS ck
        |  FROM orders),
        |chain AS (SELECT DISTINCT src, dst FROM (
        |    SELECT ck AS src,
        |      lead(ck) OVER (PARTITION BY wk, prio, band ORDER BY ck) AS dst
        |    FROM memb)
        |  WHERE dst IS NOT NULL),
        |wrap AS (SELECT max(ck) AS src, min(ck) AS dst FROM memb
        |  GROUP BY wk, prio, band HAVING count(*) >= 2 AND (wk + band) % 4 = 0),
        |e2 AS (SELECT src, dst FROM chain UNION SELECT src, dst FROM wrap),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e2
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e2 e ON e.src = r.dst),
        |nodes AS (SELECT src AS node FROM e2 UNION SELECT dst FROM e2),
        |mutual AS (
        |  SELECT a.src AS u, a.dst AS v
        |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src)
        |SELECT n.node, least(n.node, coalesce(min(m.v), n.node)) AS scc_id
        |FROM nodes n LEFT JOIN mutual m ON m.u = n.node
        |GROUP BY n.node ORDER BY node""".stripMargin),
    // ground truth, not an algorithm mirror: undirected reachability
    // closure seeded with every node's own id, min label per node
    Gate("q_mst", qMst, {
      // one unrolled Borůvka round: relabel → per-component min edge →
      // 2-cycle break → MST_DOUBLE pointer doublings → component relabel.
      // Every CTE referenced more than once is MATERIALIZED (the
      // q_bradley_terry exponential-inline trap).
      def round(r: Int): String = {
        val doublings = (1 to MST_DOUBLE).map { k =>
          s"""d${r}_$k AS MATERIALIZED (
             |  SELECT a.c, coalesce(b.p, a.p) AS p
             |  FROM d${r}_${k - 1} a LEFT JOIN d${r}_${k - 1} b ON a.p = b.c)""".stripMargin
        }.mkString(",\n")
        s"""ec$r AS MATERIALIZED (
           |  SELECT ca.c AS ca, cb.c AS cb, e.w, e.src, e.dst
           |  FROM wedges e
           |  JOIN comp${r - 1} ca ON e.src = ca.node
           |  JOIN comp${r - 1} cb ON e.dst = cb.node
           |  WHERE ca.c <> cb.c),
           |cand$r AS (
           |  SELECT ca AS comp, w, src, dst, cb AS other FROM ec$r
           |  UNION ALL SELECT cb AS comp, w, src, dst, ca AS other FROM ec$r),
           |ch$r AS MATERIALIZED (
           |  SELECT comp, w, src, dst, other FROM (
           |    SELECT comp, w, src, dst, other,
           |      row_number() OVER (PARTITION BY comp ORDER BY w, src, dst) AS rn
           |    FROM cand$r) WHERE rn = 1),
           |d${r}_0 AS MATERIALIZED (
           |  SELECT a.comp AS c,
           |    CASE WHEN b.other = a.comp THEN least(a.comp, a.other)
           |         ELSE a.other END AS p
           |  FROM ch$r a LEFT JOIN ch$r b ON a.other = b.comp),
           |$doublings,
           |comp$r AS MATERIALIZED (
           |  SELECT p0.node, coalesce(dd.p, p0.c) AS c
           |  FROM comp${r - 1} p0 LEFT JOIN d${r}_$MST_DOUBLE dd ON p0.c = dd.c)""".stripMargin
      }
      val rounds = (1 to MST_ROUNDS).map(round).mkString(",\n")
      val picks = (1 to MST_ROUNDS)
        .map(r => s"SELECT src, dst, w FROM ch$r").mkString(" UNION ALL ")
      s"""WITH $sqlEdges,
         |wedges AS (SELECT src, dst, 1 + (src + dst) % 3 AS w FROM edges),
         |comp0 AS MATERIALIZED (
         |  SELECT node, node AS c FROM
         |    (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
         |$rounds,
         |mst AS (SELECT DISTINCT src, dst, w FROM ($picks))
         |SELECT src, dst, CAST(w AS BIGINT) AS w FROM mst ORDER BY src, dst""".stripMargin
    }),
    Gate("q_wcc_big", qWccBig,
      """WITH RECURSIVE memb AS (
        |  SELECT DISTINCT date_diff('day', DATE '1992-01-01', o_orderdate) // 7 AS wk,
        |    o_orderpriority AS prio, o_custkey // 100 AS band, o_custkey AS ck
        |  FROM orders),
        |chain AS (SELECT DISTINCT src, dst FROM (
        |    SELECT ck AS src,
        |      lead(ck) OVER (PARTITION BY wk, prio, band ORDER BY ck) AS dst
        |    FROM memb)
        |  WHERE dst IS NOT NULL),
        |wrap AS (SELECT max(ck) AS src, min(ck) AS dst FROM memb
        |  GROUP BY wk, prio, band HAVING count(*) >= 2 AND (wk + band) % 4 = 0),
        |e2 AS (SELECT src, dst FROM chain UNION SELECT src, dst FROM wrap),
        |und AS (SELECT src AS a, dst AS b FROM e2 UNION SELECT dst, src FROM e2),
        |seeds AS (SELECT DISTINCT a AS n FROM und),
        |reach(n, l) AS (
        |  SELECT n, n FROM seeds
        |  UNION
        |  SELECT u.b, r.l FROM reach r JOIN und u ON u.a = r.n)
        |SELECT n AS node, min(l) AS wcc_id FROM reach
        |GROUP BY n ORDER BY node""".stripMargin),
    Gate("q_pagerank_big", qPagerankBig, {
      val iters = (1 to PR_ITERS).map { i =>
        s"""r$i AS (
           |  SELECT n.node,
           |    0.15::DOUBLE / (SELECT c FROM cnt)
           |      + 0.85::DOUBLE * coalesce(cb.in_sum, 0.0::DOUBLE) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst,
           |      CAST(sum(CAST(r.rank / dg.deg AS DECIMAL(28,18))) AS DOUBLE) AS in_sum
           |    FROM r${i - 1} r
           |    JOIN edges e ON r.node = e.src
           |    JOIN deg dg ON e.src = dg.src
           |    GROUP BY e.dst) cb ON n.node = cb.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlEdges,
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |cnt AS (SELECT count(*) AS c FROM nodes),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT node, 1.0::DOUBLE / (SELECT c FROM cnt) AS rank FROM nodes),
         |$iters
         |SELECT node, ${Fns.roundPSql("rank", 8)} AS pagerank
         |FROM r$PR_ITERS ORDER BY node""".stripMargin
    }),
    // walk corpus: id-ordered adjacency index + hash-picked transitions,
    // WC_STEPS unrolled step CTEs, all-steps union (shared with skipgram)
    Gate("q_walk_corpus", qWalkCorpus,
      s"""WITH $sqlWalkCtes
         |SELECT start, wk, step, node FROM corpus
         |ORDER BY start, wk, step""".stripMargin),
    // node2vec: uniform first step, then 2nd-order biased steps — integer
    // weight kernel cumulated over the id-ordered neighbor list, modular
    // pick; MATERIALIZED adjacency (referenced once per step)
    Gate("q_node2vec", qNode2vec, {
      def h(t: Int) =
        s"CAST('0x' || substr(md5(start || ':' || wk || ':' || $t), 1, 8) AS BIGINT)"
      val steps = (2 to WC_STEPS).map { t =>
        s"""cand$t AS (
           |  SELECT s.start, s.wk, s.prev, s.node, adj.b AS cand, adj.rn,
           |    CASE WHEN adj.b = s.prev THEN $N2V_RET
           |         WHEN EXISTS (SELECT 1 FROM und e
           |                      WHERE e.a = s.prev AND e.b = adj.b) THEN $N2V_COMMON
           |         ELSE $N2V_FAR END AS w
           |  FROM n${t - 1} s JOIN adj ON adj.a = s.node),
           |cum$t AS (
           |  SELECT *,
           |    sum(w) OVER (PARTITION BY start, wk ORDER BY rn) AS cw,
           |    sum(w) OVER (PARTITION BY start, wk) AS tw
           |  FROM cand$t),
           |n$t AS (
           |  SELECT start, wk, node AS prev, cand AS node
           |  FROM cum$t
           |  WHERE ${h(t)} % tw >= cw - w AND ${h(t)} % tw < cw)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to WC_STEPS).map { t =>
        s"SELECT start, wk, CAST($t AS INT) AS step, node FROM n$t"
      }.mkString("\nUNION ALL ")
      s"""WITH $sqlEdges,
         |und AS MATERIALIZED (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION ALL SELECT dst AS a, src AS b FROM edges),
         |adj AS MATERIALIZED (
         |  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS rn,
         |    count(*) OVER (PARTITION BY a) AS deg
         |  FROM und),
         |n0 AS (
         |  SELECT t.a AS start, CAST(r.wk AS INT) AS wk, t.a AS node
         |  FROM (SELECT DISTINCT a FROM und) t, range(0, $WC_WALKS) r(wk)),
         |n1 AS (
         |  SELECT s.start, s.wk, s.node AS prev, adj.b AS node
         |  FROM n0 s JOIN adj ON adj.a = s.node
         |    AND adj.rn = 1 + ${h(1)} % adj.deg),
         |$steps
         |SELECT start, wk, CAST(0 AS INT) AS step, node FROM n0
         |UNION ALL $unions
         |ORDER BY start, wk, step""".stripMargin
    }),
    // skip-gram pairs: walk-id-keyed self-join of the same corpus CTE
    Gate("q_skipgram_pairs", qSkipgramPairs,
      s"""WITH $sqlWalkCtes
         |SELECT a.node AS center, b.node AS context,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM corpus a JOIN corpus b
         |  ON a.start = b.start AND a.wk = b.wk AND a.step <> b.step
         |  AND abs(a.step - b.step) <= $SG_WINDOW
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // personalized PageRank: qPagerankBig's unroll with seeded start and
    // seed-only restart; only positive-mass nodes (the seed's <=PR_ITERS-
    // hop out-neighborhood) are emitted
    Gate("q_ppr", qPpr, {
      val iters = (1 to PR_ITERS).map { i =>
        s"""p$i AS (
           |  SELECT n.node,
           |    CASE WHEN n.node = (SELECT s FROM start)
           |      THEN $PPR_ALPHA::DOUBLE ELSE 0.0::DOUBLE END
           |      + ${1.0 - PPR_ALPHA}::DOUBLE * coalesce(cb.in_sum, 0.0::DOUBLE) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst,
           |      CAST(sum(CAST(r.rank / dg.deg AS DECIMAL(28,18))) AS DOUBLE) AS in_sum
           |    FROM p${i - 1} r
           |    JOIN edges e ON r.node = e.src
           |    JOIN deg dg ON e.src = dg.src
           |    GROUP BY e.dst) cb ON n.node = cb.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlEdges,
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |p0 AS (
         |  SELECT node,
         |    CASE WHEN node = (SELECT s FROM start)
         |      THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS rank
         |  FROM nodes),
         |$iters
         |SELECT node, ${Fns.roundPSql("rank", 8)} AS ppr
         |FROM p$PR_ITERS WHERE rank > 0.0 ORDER BY node""".stripMargin
    }),
    // exactly KCORE_ROUNDS unrolled peel rounds — see qKcoreBig's
    // early-break-is-identity argument for why this always matches.
    // MATERIALIZED is load-bearing: each round references the previous
    // survivor set twice, so DuckDB's default CTE inlining would expand
    // the tree 2^ROUNDS-fold (measured: "too many open files" at 12
    // rounds); materialization makes the unroll linear.
    Gate("q_truss", qTruss, {
      val rounds = (1 to TRUSS_ROUNDS).map { i =>
        val p = i - 1
        s"""tri$i AS MATERIALIZED (
           |  SELECT e1.a, e1.b, e2.b AS c FROM t$p e1
           |  JOIN t$p e2 ON e1.b = e2.a
           |  JOIN t$p e3 ON e3.a = e1.a AND e3.b = e2.b),
           |sup$i AS MATERIALIZED (
           |  SELECT x AS a, y AS b, count(*) AS sup FROM (
           |    SELECT a AS x, b AS y FROM tri$i
           |    UNION ALL SELECT b, c FROM tri$i
           |    UNION ALL SELECT a, c FROM tri$i)
           |  GROUP BY 1, 2),
           |t$i AS MATERIALIZED (
           |  SELECT t.a, t.b FROM t$p t
           |  JOIN sup$i s ON s.a = t.a AND s.b = t.b
           |  WHERE s.sup >= ${TRUSS_K - 2})""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlEdges,
         |t0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges),
         |$rounds
         |SELECT node, count(*) AS deg_truss FROM (
         |  SELECT a AS node FROM t$TRUSS_ROUNDS
         |  UNION ALL SELECT b FROM t$TRUSS_ROUNDS)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    Gate("q_kcore_big", qKcoreBig, {
      val rounds = (1 to KCORE_ROUNDS).map { i =>
        s"""a$i AS MATERIALIZED (
           |  SELECT u.a AS node FROM und u
           |  JOIN a${i - 1} x ON u.a = x.node JOIN a${i - 1} y ON u.b = y.node
           |  GROUP BY 1 HAVING count(*) >= $KCORE_K)""".stripMargin
      }.mkString(",\n")
      s"""WITH $sqlEdges,
         |und AS MATERIALIZED (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION ALL SELECT dst AS a, src AS b FROM edges),
         |a0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM und),
         |$rounds
         |SELECT u.a AS node, CAST(count(*) AS BIGINT) AS deg_core
         |FROM und u
         |JOIN a$KCORE_ROUNDS x ON u.a = x.node JOIN a$KCORE_ROUNDS y ON u.b = y.node
         |GROUP BY 1 ORDER BY node""".stripMargin
    }),
    Gate("q_harmonic_big", qHarmonicBig,
      s"""WITH RECURSIVE $sqlEdges,
         |und AS MATERIALIZED (
         |  SELECT src AS a, dst AS b FROM edges
         |  UNION ALL SELECT dst AS a, src AS b FROM edges),
         |pv AS MATERIALIZED (
         |  SELECT node FROM (SELECT DISTINCT a AS node FROM und)
         |  ORDER BY node LIMIT $CENT_PIVOTS),
         |walk(pvt, node, hop) AS (
         |  SELECT node, node, 0 FROM pv
         |  UNION
         |  SELECT w.pvt, u.b, w.hop + 1
         |  FROM walk w JOIN und u ON u.a = w.node
         |  WHERE w.hop < $CENT_HOPS),
         |dd AS (SELECT pvt, node, min(hop) AS d FROM walk GROUP BY 1, 2)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
         |  ${Fns.roundPSql("CAST(sum(CAST(1.0::DOUBLE / d AS DECIMAL(18,12))) AS DOUBLE)", 6)} AS harmonic
         |FROM dd WHERE d > 0 GROUP BY node ORDER BY node""".stripMargin),
    Gate("q_clustering_big", qClusteringBig,
      s"""WITH $sqlEdges,
         |wedges AS (
         |  SELECT e1.src AS a, e2.dst AS c
         |  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM wedges w JOIN edges e ON e.src = w.a AND e.dst = w.c),
         |wc AS (SELECT count(*) AS n_wedges FROM wedges)
         |SELECT wc.n_wedges, tri.n_triangles,
         |  ${Fns.roundPSql("CAST(tri.n_triangles AS DOUBLE) / wc.n_wedges", 6)}
         |    AS closure_rate
         |FROM wc, tri""".stripMargin),
  )
}
