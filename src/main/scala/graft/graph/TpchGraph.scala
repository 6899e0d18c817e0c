package graft.graph

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Property-graph view over the driver testdata (SURVEY.md §1.3 model:
  * `nodes(key, label, name)` + directed typed `edges(src, dst, etype)`),
  * derived from the TPC-H hierarchy:
  *
  *   customer:{k} --in_nation-->  nation:{k} --in_region--> region:{k}
  *   supplier:{k} --in_nation-->  nation:{k}
  *   nation:{a}  --same_region--  nation:{b}   (undirected clique per region)
  *
  * This yields five trees (one per region) plus five 5-cliques — enough
  * structure for BFS, shortest paths, components, triangles and PageRank
  * with deterministic, SQL-checkable answers.
  */
object TpchGraph {
  private def k(prefix: String, c: String) = concat(lit(prefix + ":"), col(c).cast("string"))

  /** The base graph: `nodes` and `edges` are each built once per
    * (session, dir), cached and materialized when built, and held in a
    * [[graft.Memo.artifact]] map, so [[graft.Memo.clearArtifacts]] drops
    * and unpersists them with every other derived frame. They derive from
    * TPC-H *dimension* tables (≤ tens of MB even at sf100), and the
    * iterative algorithms re-reference them every round: a 10-iteration
    * PageRank does 1 scan, not 10. Every edge read, [[treeEdges]] and
    * [[sameRegionEdges]] included, is a filter over the one cached
    * `edges` frame, an `InMemoryRelation` leaf in every plan.
    */
  def nodes(s: SparkSession, d: String): DataFrame = held(s, d, "nodes") {
    val r = Tables(s, d, "region").select(k("region", "r_regionkey").as("key"), lit("region").as("label"), col("r_name").as("name"))
    val n = Tables(s, d, "nation").select(k("nation", "n_nationkey").as("key"), lit("nation").as("label"), col("n_name").as("name"))
    val c = Tables(s, d, "customer").select(k("customer", "c_custkey").as("key"), lit("customer").as("label"), col("c_name").as("name"))
    val p = Tables(s, d, "supplier").select(k("supplier", "s_suppkey").as("key"), lit("supplier").as("label"), col("s_name").as("name"))
    r.union(n).union(c).union(p)
  }

  /** All edges: the directed tree edges (child → parent), then the
    * undirected same-region nation cliques, stored once with src < dst. */
  def edges(s: SparkSession, d: String): DataFrame = held(s, d, "edges") {
    val n = Tables(s, d, "nation")
    val n2r = n.select(k("nation", "n_nationkey").as("src"), k("region", "n_regionkey").as("dst"), lit("in_region").as("etype"))
    val c2n = Tables(s, d, "customer")
      .select(k("customer", "c_custkey").as("src"), k("nation", "c_nationkey").as("dst"), lit("in_nation").as("etype"))
    val s2n = Tables(s, d, "supplier")
      .select(k("supplier", "s_suppkey").as("src"), k("nation", "s_nationkey").as("dst"), lit("in_nation").as("etype"))
    val a = n.select(col("n_nationkey").as("ka"), col("n_regionkey").as("ra"))
    val b = n.select(col("n_nationkey").as("kb"), col("n_regionkey").as("rb"))
    val cliques = a.join(b, col("ra") === col("rb") && col("ka") < col("kb"))
      .select(k("nation", "ka").as("src"), k("nation", "kb").as("dst"), lit("same_region").as("etype"))
    n2r.union(c2n).union(s2n).union(cliques)
  }

  /** Directed tree edges (child → parent). */
  def treeEdges(s: SparkSession, d: String): DataFrame =
    edges(s, d).filter(col("etype") =!= "same_region")

  /** Undirected same-region nation cliques. */
  def sameRegionEdges(s: SparkSession, d: String): DataFrame =
    edges(s, d).filter(col("etype") === "same_region")

  private val base = graft.Memo.artifact[(SparkSession, String, String), DataFrame]()
  private def held(s: SparkSession, d: String, name: String)(build: => DataFrame): DataFrame =
    base.getOrElseUpdate((s, d, name), { val df = build.cache(); df.count(); df })

  /** Directed ring over each region's nations (n₀→n₁→…→n₀), giving the
    * directed graph nontrivial SCCs (one 5-nation cycle per region).
    */
  def nationCycleEdges(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_regionkey").orderBy("n_nationkey")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("n_regionkey")
    Tables(s, d, "nation")
      .withColumn("nxt", lead("n_nationkey", 1).over(w))
      .withColumn("fst", min("n_nationkey").over(wAll))
      .select(k("nation", "n_nationkey").as("src"),
        concat(lit("nation:"), coalesce(col("nxt"), col("fst")).cast("string")).as("dst"),
        lit("cycle").as("etype"))
  }

  /** Symmetric closure for undirected traversal. */
  def undirected(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"), col("etype"))
      .union(e.select(col("dst").as("src"), col("src").as("dst"), col("etype")))

  /** Canonical distinct SIMPLE-graph frame — columns `(u, v)` with
    * u < v in STRING order (the order [[Algorithms.triangleTriples]]'s
    * closure check canonicalizes on; numeric key order "nation:2" >
    * "nation:10" silently drops triangles), duplicates and self-loops
    * removed. Memoized per (session, dir, scope) and cache()d like the
    * other dimension-derived frames: g07/g36/g38/g47/g51 and the
    * no-overlay GRAPH TRIANGLES / CLUSTERING / TRANSITIVITY statement
    * fronts are all views over the SAME frame, and before round 12 each
    * caller re-ran its own least/greatest+distinct exchange per query
    * (VERDICT r11 carried item 2). Overlay-aware statement paths (a
    * live entity store) must NOT use this — they canonicalize their own
    * mutable edge view.
    */
  def canonicalEdges(s: SparkSession, d: String): DataFrame =
    canonOf(s, d, "all", edges(s, d))

  /** g07's scope: the same_region cliques only (see [[canonicalEdges]]). */
  def canonicalSameRegionEdges(s: SparkSession, d: String): DataFrame =
    canonOf(s, d, "same_region", sameRegionEdges(s, d))

  private val canonMemo =
    graft.Memo.artifact[(SparkSession, String, String), DataFrame]()
  private def canonOf(s: SparkSession, d: String, scope: String, e: DataFrame): DataFrame =
    canonMemo.getOrElseUpdate((s, d, scope),
      Algorithms.memo(e
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .filter(col("u") < col("v")) // drop self-loops: simple-graph precondition
        .distinct()))
}

/** Iterative-join graph algorithms. Every loop runs on [[Superstep]],
  * which owns the round counter, the per-round lineage cut and the stop
  * rule. Gate queries run fixed round counts ([[Superstep.Rounds]]), so
  * results are deterministic and the driver's oracle can unroll the same
  * steps in SQL; the statement path runs the same functions to a probed
  * fixpoint, where the graph is user-shaped and no round count can be
  * justified up front. At cluster scale each round is one shuffle on the
  * node key.
  *
  * Reference counterparts: BFS `graph_engine/src/lib.rs:4674-4790`,
  * shortest path `:4794-4930`, weighted `:4933-5070`, connected components
  * `:6898-6941`, PageRank `:6943-7055`.
  */
object Algorithms {
  import Superstep.{cut, Fixpoint, Rounds, Stop, UpTo}

  /** Materialization for SHARED artifacts — memoized frames consumed by
    * several queries (the g08/g28 co-occurrence aggregate, the d04/d10
    * shingle table, the d03/d07 pair set) or by several stages of one
    * query. Unlike [[Superstep.cut]], whose job is severing ITERATIVE
    * lineage and which pays an RDD write + re-read of every row up front,
    * a shared artifact wants the columnar cache: compressed in-memory
    * batches, built on first use, spilled only under pressure, and a leaf
    * (InMemoryRelation) in every downstream plan, so lineage is equally
    * truncated. Measured at sf1.0 (PERF.md round 9): g08 paid 156 s
    * with an eager localCheckpoint of its 5e7-row pair aggregate vs
    * 34.6 s bare — the checkpoint write+re-read was 3.5× the query.
    * At cluster scale this is the difference between caching a hot
    * table and re-shipping it through the block manager row by row. */
  def memo(df: DataFrame): DataFrame = df.cache()

  /** A one-row seed frame (`key`) for single-source traversals. */
  def source(s: SparkSession, key: String): DataFrame = s.range(1).select(lit(key).as("key"))

  /** The one level-synchronous expansion step, shared by every BFS-shaped
    * loop ([[bfs]], [[sourceDistances]], the forward pass of
    * [[betweennessBrandes]], the forest of [[biconnectedComponents]], NQL
    * FIND PATH). In Pregelix terms (VLDB 2014) it is one fixed superstep
    * plan whose message combine is one group-by: level i is
    * `frontier ⋈ e on key = src`, grouped by `group :+ dst` (as `key`) with
    * `agg` (no `agg`: distinct), minus every `(group, key)` already reached
    * (left anti-join), tagged `depth = i` and cut.
    *
    * `start` is level 0, columns `group`, `key` and the columns `agg`
    * names; `e` is `(src, dst)`, directed as given, passed uncut: the
    * kernel cuts it once, and level 0, so the reached set every round's
    * anti-join reads is a union of stored frames. Every stop rule prunes
    * to first visits, so a key's depth is its min hop count from any
    * start row of its group, whatever the rule; only duplicate start
    * rows repeat a `(group, key)`.
    *
    * `done` probes each new level under [[Superstep.UpTo]] and
    * [[Superstep.Fixpoint]] (default: the level is empty). Returns the
    * reached frame (start's columns and `depth`) and the deepest level that
    * may hold rows: the last level run, or the one before it when the
    * default probe ended the loop on an empty level.
    */
  def expand(e: DataFrame, start: DataFrame, stop: Stop, group: Seq[String] = Nil,
      agg: Seq[Column] = Nil, done: Option[DataFrame => Boolean] = None): (DataFrame, Int) = {
    val edges = cut(e.select("src", "dst"))
    val keys = group :+ "key"
    val to = group.map(col) :+ col("dst").as("key")
    val level0 = cut(start.withColumn("depth", lit(0)))
    var endedEmpty = false
    val (reached, _, last) = Superstep.run(stop, (level0, level0, 0)) { case ((reached, frontier, _), i) =>
      val hop = frontier.join(edges, col("key") === col("src"))
      val level = if (agg.isEmpty) hop.select(to: _*).distinct()
        else hop.groupBy(to: _*).agg(agg.head, agg.tail: _*)
      val next = cut(level.join(reached.select(keys.map(col): _*), keys, "left_anti")
        .withColumn("depth", lit(i)))
      (reached.unionByName(next), next, i)
    } { case (_, (_, next, _)) => done match {
      case Some(probe) => probe(next)
      case None => endedEmpty = next.count() == 0; endedEmpty
    } }
    (reached, if (endedEmpty) last - 1 else last)
  }

  /** Min-depth BFS from the `seeds` keys (depth 0) over `edges` (directed
    * as given — pass the symmetric closure for undirected semantics), one
    * [[expand]] level per round for all seeds at once, so several seeds
    * give distance-to-nearest-seed without |seeds| separate traversals.
    * Returns (key, depth).
    *
    * `stop`: [[Superstep.Rounds]] explores exactly that many levels (the
    * gate queries); [[Superstep.Fixpoint]] runs until the frontier is
    * empty, giving every reachable node its true distance, and throws
    * past the cap.
    *
    * Traversal filters (reference `graph_engine/src/lib.rs:4674-4790`
    * takes a `TraversalFilter`, `lib.rs:482-654`, with node and edge
    * predicates): `edgePred` keeps only edges satisfying the predicate
    * (e.g. `col("etype") === "in_nation"`); `allowedNodes` restricts
    * which nodes the frontier may ENTER (a one-column `key` frame,
    * semi-joined against edge destinations). The seeds are always
    * included, matching the reference's start-node semantics. Both
    * filters shape the edge frame [[expand]] cuts once before the loop,
    * so the per-round plan shape is identical to the unfiltered BFS.
    */
  def bfs(edges: DataFrame, seeds: DataFrame, stop: Stop,
      edgePred: Option[Column] = None,
      allowedNodes: Option[DataFrame] = None): DataFrame = {
    val eFiltered = edgePred.map(edges.filter).getOrElse(edges)
    val e = allowedNodes.fold(eFiltered)(allowed =>
      eFiltered.join(allowed.select(col("key").as("dst")), Seq("dst"), "left_semi"))
    // min() folds duplicate seeds, the only repeated keys
    expand(e, seeds.select("key"), stop)._1
      .groupBy("key").agg(min("depth").cast("int").as("depth"))
  }

  /** Deterministic hash-greedy random walk: from each seed, `steps` hops;
    * at hop i the walker moves to the neighbor minimizing
    * md5("<i>|<cur>|<next>") — node2vec-style neighborhood sampling with
    * the RNG replaced by a content hash so any engine replays the exact
    * walk. One frontier⋈edges join per hop (keyed on the current node),
    * so the frontier stays ∝ the number of walks, never the graph size.
    * The walk frame is not cut: a few hops stay one fused plan.
    * Returns (walk_id, cur, path); a walk whose node has no out-edge
    * simply ends (drops out of the frontier).
    */
  def hashGreedyWalk(und: DataFrame, seeds: DataFrame, steps: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val e = cut(und.select("src", "dst")) // loop-invariant (see [[expand]])
    val start = seeds.select(col("key").as("walk_id"), col("key").as("cur"),
      col("key").as("path"))
    Superstep.rounds(steps, start) { (f, i) =>
      f.join(e, col("cur") === col("src"))
        .withColumn("h",
          md5(concat_ws("|", lit(i.toString), col("cur"), col("dst")).cast("binary")))
        .withColumn("rn", row_number().over(
          w.partitionBy("walk_id").orderBy(col("h"), col("dst"))))
        .filter(col("rn") === 1)
        .select(col("walk_id"), col("dst").as("cur"),
          concat(col("path"), lit("->"), col("dst")).as("path"))
    }
  }

  /** Bounded-hop single-source shortest paths over weighted edges
    * (src, dst, w) — Bellman-Ford style relaxation, `iters` rounds.
    * Returns (key, cost) for reached nodes.
    */
  def sssp(edges: DataFrame, source: String, iters: Int): DataFrame = {
    val e = cut(edges.select("src", "dst", "w")) // loop-invariant (see [[expand]])
    val start = edges.sparkSession.range(1).select(lit(source).as("key"), lit(0.0).as("cost"))
    Superstep.rounds(iters, start) { (dist, _) =>
      val relaxed = dist.join(e, col("key") === col("src"))
        .select(col("dst").as("key"), (col("cost") + col("w")).as("cost"))
      cut(dist.union(relaxed).groupBy("key").agg(min("cost").as("cost")))
    }
  }

  /** One min-label propagation round: every node takes the min of its
    * own and its neighbors' components. */
  private def minLabelHop(labels: DataFrame, e: DataFrame): DataFrame =
    labels.union(labels.join(e, col("key") === col("src"))
        .select(col("dst").as("key"), col("component")))
      .groupBy("key").agg(min("component").as("component"))

  /** Convergence probe: one more [[minLabelHop]] leaves every label
    * unchanged. */
  private def stable(labels: DataFrame, e: DataFrame): Boolean =
    labels.join(minLabelHop(labels, e).select(col("key"), col("component").as("c2")), Seq("key"))
      .filter(col("component") =!= col("c2")).count() == 0

  /** Connected components by min-key label propagation. Returns (key,
    * component = min key in the component).
    *
    * `stop`: [[Superstep.Rounds]] runs that many rounds (pick them ≥ the
    * graph diameter). [[Superstep.Fixpoint]] probes after every round that
    * one more round would change no label, and throws if the cap is
    * reached first: below the diameter the labeling is silently split
    * into sub-components, an error class a fixed-round oracle CANNOT
    * catch, because both engines would be wrong identically. Labels at a
    * probed fixpoint equal the fixed-round labels.
    */
  def connectedComponents(undirectedEdges: DataFrame, nodes: DataFrame, stop: Stop): DataFrame = {
    // the edge frame is loop-invariant — materialize once (see [[pageRank]])
    val e = cut(undirectedEdges.select("src", "dst"))
    Superstep.run(stop, nodes.select(col("key"), col("key").as("component")))(
      (labels, _) => cut(minLabelHop(labels, e)))((_, labels) => stable(labels, e))
  }

  /** Every triangle of the u<v-canonical simple edge frame `e0`, listed
    * EXACTLY once as a (a, b, c) corner triple (b < c in key order), via
    * the degree-ordered orientation (Schank & Wagner 2005, "Finding,
    * Counting and Listing All Triangles in Large Graphs" — the standard
    * node-iterator++ / forward algorithm): orient each edge toward its
    * (deg, key)-larger endpoint, build wedges only over each node's
    * OUT-adjacency, close against the canonical edge set. The wedge
    * shuffle is Σ_v d⁺(v)² ≤ O(|E|^{3/2}) because an out-degree counts
    * only HIGHER-degree neighbors — an SF-linear hub (a nation with all
    * its customers, a crawl host with all its pages) emits O(1) wedges
    * instead of O(deg²). The naive center-keyed wedge join this replaces
    * measured exponent 1.78 on 10× data (g38, PERF.md round 9); the
    * oriented plan is the 100 TB shape. Each triangle's minimal corner
    * in the (deg, key) total order has both out-edges, and no other
    * corner has both, so the listing is exact — per-node and per-edge
    * counts follow by scattering corners/sides.
    *
    * PRECONDITION: `e0` must be a DUPLICATE-FREE u<v-canonical frame
    * (`.distinct()` it if in doubt): a duplicated pair doubles both
    * endpoint degrees and lists each affected triangle repeatedly, and
    * the left_semi closure cannot absorb that. Every caller in this
    * repo canonicalizes with least/greatest + distinct.
    * Reference counterpart: graph_engine/src/lib.rs triangle counting
    * (per-node adjacency intersection). */
  def triangleTriples(e0: DataFrame): DataFrame = {
    val und = e0.select(col("u").as("x"), col("v").as("w"))
      .union(e0.select(col("v").as("x"), col("u").as("w")))
    val deg = und.groupBy("x").agg(count(lit(1)).as("dg"))
    val dir = e0
      .join(deg.select(col("x").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("dg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"))
    dir.select(col("a"), col("b").as("p"))
      .join(dir.select(col("a"), col("b").as("q")), Seq("a"))
      .filter(col("p") < col("q"))
      .join(e0, col("p") === col("u") && col("q") === col("v"), "left_semi")
      .select(col("a"), col("p").as("b"), col("q").as("c"))
  }

  /** Per-node triangle counts (key, tri) over the u<v-canonical simple
    * edge frame — each [[triangleTriples]] triple scattered to its three
    * corners. Nodes in no triangle are absent (callers coalesce). */
  def localTriangleCounts(e0: DataFrame): DataFrame =
    triangleTriples(e0)
      .select(explode(array(col("a"), col("b"), col("c"))).as("key"))
      .groupBy("key").agg(count(lit(1)).as("tri"))

  /** Per-edge triangle support (u, v, sup) over the u<v-canonical simple
    * edge frame — each triple scattered to its three canonical sides.
    * Zero-support edges are absent (k-truss peeling drops them anyway). */
  def edgeSupport(e0: DataFrame): DataFrame =
    triangleTriples(e0)
      .select(explode(array(
        struct(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"), greatest(col("a"), col("c")).as("v")),
        struct(col("b").as("u"), col("c").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))

  /** k-truss edge subgraph: iteratively delete every edge whose support
    * (number of triangles it closes) is < k−2, until fixpoint. `und` is
    * the u<v-normalized undirected edge list. This is the distributed
    * edge-peeling formulation (no per-node DFS state): each round
    * recomputes [[edgeSupport]] on the shrinking edge set — the
    * degree-ordered O(|E|^{3/2}) wedge bound, not the Σ deg² of a
    * center-keyed adjacency intersection — and the edge set only
    * shrinks. The loop stops at the first round whose edge set a further
    * peel leaves unchanged, and throws if that takes more than `rounds`
    * rounds (silent non-convergence would match an identically-unrolled
    * oracle and pass the parity gate undetected).
    */
  def ktruss(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    def peel(e: DataFrame): DataFrame =
      e.join(edgeSupport(e).filter(col("sup") >= k - 2).select("u", "v"), Seq("u", "v"))
    // state (edges, their peel): the probe compares the two, and the next
    // round's edges are that peel, so every round peels once
    val e0 = cut(und.select("u", "v"))
    Superstep.run(Fixpoint(rounds), (e0, cut(peel(e0))))((s, _) => (s._2, cut(peel(s._2))))(
      (_, s) => s._1.count() == s._2.count())._1
  }

  /** Connected components to FIXPOINT with pointer jumping, for
    * statement-path use where the graph is user-shaped (overlay
    * nodes/edges of arbitrary diameter). Each round is one
    * min-of-neighbors hop PLUS one pointer-jump (component ←
    * label(component)), so chains collapse in O(log diameter) rounds
    * rather than O(diameter). The convergence probe (the same one-more-
    * hop check as [[connectedComponents]]) runs after batches of 4, 8,
    * 16, … rounds and at the cap, so the probe count is logarithmic in
    * the rounds actually needed; `stop` defaults to
    * [[Superstep.Fixpoint]], which throws if the cap is reached first
    * (a graph that deep is a misuse signal, not a silent-wrong-answer
    * license). Returns (key, component = min key in the component) —
    * identical labeling to [[connectedComponents]] at convergence.
    *
    * Reference runs CC on the live graph including created nodes
    * (`graph_engine/src/lib.rs:6898-6941`); this is the Spark analogue
    * with a convergence guarantee instead of Rust's in-memory BFS.
    */
  def connectedComponentsFixpoint(undirectedEdges: DataFrame, nodes: DataFrame,
      stop: Stop = Fixpoint()): DataFrame = {
    val e = cut(undirectedEdges.select("src", "dst"))
    val start = cut(nodes.select(col("key"), col("key").as("component")))
    def batchEnd(i: Int) = i == stop.n || (i % 4 == 0 && Integer.bitCount(i / 4 + 1) == 1)
    Superstep.run(stop, (start, 0)) { case ((labels, _), i) =>
      val merged = minLabelHop(labels, e)
      // pointer-jump: every label value is itself a node key, so one
      // self-join rewrites component → label(component), halving chain
      // depth per round (the classic CC shortcut).
      (cut(merged.join(
          merged.select(col("key").as("component"), col("component").as("__jump")),
          Seq("component"), "left")
        .select(col("key"), coalesce(col("__jump"), col("component")).as("component"))), i)
    } { case (_, (labels, i)) => batchEnd(i) && stable(labels, e) }._1
  }

  /** Directed reachability closure by squaring: after k rounds the frame
    * holds every (src, dst) with a path of length ≤ 2^k. log(diameter)
    * shuffle rounds instead of diameter rounds — the right trade when
    * per-round latency dominates (it does: each round is a full
    * shuffle+checkpoint barrier) AND the closure stays sparse. That holds
    * for asymmetric reachability like this DAG-plus-small-cycles graph
    * (leaves only reach their ancestor chain); do NOT use it for
    * undirected/symmetric closures, where the closure is quadratic in
    * component size.
    */
  def reachClosure(edges: DataFrame, rounds: Int): DataFrame =
    Superstep.rounds(rounds, edges.select("src", "dst").distinct()) { (c, _) =>
      val two = c.select(col("src"), col("dst").as("mid"))
        .join(c.select(col("src").as("mid"), col("dst")), Seq("mid"))
        .select("src", "dst")
      cut(c.union(two).distinct())
    }

  /** Strongly connected components via forward/backward min-label
    * reachability: nodes sharing the pair (min forward-reachable label,
    * min backward-reachable label) form one SCC. Exact when distinct SCCs
    * have distinct signatures (true for this graph's region cycles;
    * the general algorithm peels and repeats — reference Tarjan
    * `algorithms/scc.rs` is inherently sequential and doesn't map to a
    * cluster). Returns (key, scc) with scc = min key in the component.
    *
    * Both label directions derive from ONE squared reachability closure
    * (⌈log₂ iters⌉ rounds) instead of two iters-round propagations —
    * 14 sequential shuffle barriers became 3.
    */
  def stronglyConnectedComponents(edges: DataFrame, nodes: DataFrame, iters: Int,
      trimRounds: Int = 2): DataFrame = {
    // Trim prephase (the standard SCC reduction): a node with no
    // in-edges or no out-edges in the surviving subgraph lies on no
    // cycle, so it is a singleton SCC — peel those to (bounded)
    // fixpoint FIRST and run the expensive squared closure only over
    // the cyclic core. On this topology one round drops every
    // customer/supplier leaf and every region sink, shrinking the
    // closure's input from corpus-sized to the 25-nation cycle set;
    // partial trims are still exact (leftover acyclic nodes keep
    // distinct closure signatures), so trimRounds is a performance
    // knob, not a correctness one.
    // The edge frame is re-read 4× per trim round — materialize it once up
    // front, and once per round after the semi-joins (round 13, §2.4). The
    // has-out ∩ has-in core set is ONE endpoint aggregation instead of the
    // previous two distincts + join: same membership (max(o)=1 ⇔ the key
    // appears as some src, max(i)=1 ⇔ as some dst), one exchange.
    val e = Superstep.rounds(trimRounds, cut(edges.select("src", "dst"))) { (e, _) =>
      val core = cut(
        e.select(col("src").as("key"), lit(1).as("o"), lit(0).as("i"))
          .union(e.select(col("dst").as("key"), lit(0).as("o"), lit(1).as("i")))
          .groupBy("key").agg(max("o").as("o"), max("i").as("i"))
          .filter(col("o") === 1 && col("i") === 1)
          .select("key"))
      cut(
        e.join(core.select(col("key").as("src")), Seq("src"), "left_semi")
          .join(core.select(col("key").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst"))
    }
    val rounds = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, iters - 1)))
    val cl = reachClosure(e, rounds) // materialized by its last round's cut
    val coreNodes = e.select(col("src").as("key"))
      .union(e.select(col("dst").as("key"))).distinct()
    val fwd = coreNodes.select(col("key"), col("key").as("lbl"))
      .union(cl.select(col("src").as("key"), col("dst").as("lbl")))
      .groupBy("key").agg(min("lbl").as("flbl"))
    val bwd = coreNodes.select(col("key"), col("key").as("lbl"))
      .union(cl.select(col("dst").as("key"), col("src").as("lbl")))
      .groupBy("key").agg(min("lbl").as("blbl"))
    val sig = fwd.join(bwd, Seq("key"))
    val sccId = sig.groupBy("flbl", "blbl").agg(min("key").as("scc"))
    val coreScc = sig.join(sccId, Seq("flbl", "blbl")).select("key", "scc")
    // trimmed-away nodes are singleton SCCs by construction
    val singletons = nodes.select("key")
      .join(coreNodes, Seq("key"), "left_anti")
      .select(col("key"), col("key").as("scc"))
    coreScc.union(singletons)
  }

  /** Label propagation (the g15 engine, parameterized for the
    * `GRAPH LABELPROP` statement): `iters` rounds of majority-label
    * adoption with (count desc, label) tie-break — one neighbor-join +
    * one min-struct argmax aggregation per round, lineage-cut. Returns
    * (key, lbl). */
  def labelPropagation(und: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    // edge frame is loop-invariant — materialize once (see [[pageRank]])
    val e = cut(und.select("src", "dst"))
    Superstep.rounds(iters, nodes.select(col("key"), col("key").as("lbl"))) { (labels, _) =>
      val counts = e
        .join(labels.select(col("key").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax by (count desc, lbl asc) as ONE aggregation: min of the
      // struct (-c, lbl) — structs compare field-by-field, so smallest
      // -c = largest c, ties broken by smallest lbl: exactly the window's
      // (desc(c), lbl) row_number()=1 row, but with map-side partial
      // aggregation and no per-round sort (guide §2.3 "aggregate before
      // you shuffle"; round 13).
      cut(counts
        .groupBy(col("src").as("key"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl"))).as("s"))
        .select(col("key"), col("s.lbl").as("lbl")))
    }
  }

  /** Multi-source BFS distances (source, key, dd = min hops) from every
    * `sources` key, all sources sweeping in ONE batched frame: one
    * [[expand]] grouped by `source`. Each round keeps only first-visited
    * (source, key) pairs under every stop rule, so the frontier strictly
    * shrinks, and a probed rule ends when every source has exhausted its
    * component. */
  def sourceDistances(und: DataFrame, sources: DataFrame, stop: Stop): DataFrame =
    expand(und, sources.select(col("key").as("source"), col("key")), stop, group = Seq("source"))._1
      .groupBy("source", "key").agg(min("depth").as("dd"))

  /** Closeness centrality (the g18 engine, and `GRAPH CLOSENESS` run to
    * fixpoint): (reached − 1) / Σdist per source over
    * [[sourceDistances]]. Returns (key, closeness). */
  def closeness(und: DataFrame, sources: DataFrame, stop: Stop): DataFrame =
    sourceDistances(und, sources, stop)
      .groupBy("source").agg(count(lit(1)).as("cnt"), sum("dd").as("sd"))
      .select(col("source").as("key"),
        round((col("cnt") - 1) / col("sd"), 6).as("closeness"))

  /** One-level Louvain sweeps (the g21 engine, both g23 levels, and
    * `GRAPH LOUVAIN`): each sweep moves every node to the
    * modularity-argmax neighboring community ((gain desc, comm)
    * tie-break). Edges carry weight `w` when `und` has that column (g23's
    * contracted super-graph), else 1. Returns (key, comm).
    *
    * `resolution` is the reference's CommunityConfig resolution γ
    * (`graph_engine/src/lib.rs:7442`): gain = evc − γ·deg·tot/2m, so
    * γ > 1 favors smaller communities, γ < 1 larger ones. Every gain
    * input is an integer and γ = 1.0 multiplies exactly, so the gains
    * are the bit-identical doubles the unrolled oracle computes. */
  def louvainSweeps(und: DataFrame, nodes: DataFrame, sweeps: Int,
      resolution: Double = 1.0): DataFrame = {
    // edge + degree frames are loop-invariant — materialize once (§2.4)
    val w = if (und.columns.contains("w")) col("w") else lit(1L)
    val e = cut(und.select(col("src"), col("dst"), w.as("w")))
    val deg = cut(e.groupBy(col("src").as("key")).agg(sum("w").as("deg")))
    // = 2m: the symmetric closure's total edge weight
    val m2 = e.agg(coalesce(sum("w"), lit(0L))).first().getLong(0).toDouble
    Superstep.rounds(sweeps, nodes.select(col("key"), col("key").as("comm"))) { (comm, _) =>
      val tot = comm.join(deg, Seq("key")).groupBy("comm").agg(sum("deg").as("tot"))
      val evc = e
        .join(comm.select(col("key").as("dst"), col("comm")), Seq("dst"))
        .groupBy(col("src").as("key"), col("comm")).agg(sum("w").as("evc"))
      val gains = evc.join(tot, Seq("comm")).join(deg, Seq("key"))
        .withColumn("gain",
          col("evc") - lit(resolution) * (col("deg").cast("double") * col("tot")) / lit(2.0 * (m2 / 2)))
      // argmax by (gain desc, comm asc) as ONE aggregation: min of the
      // struct (-gain, comm). The sign flip is exact, and the gains are
      // finite (integer inputs, 2m > 0 whenever an edge exists), so the
      // NaN ordering difference between the struct min and the desc
      // window cannot arise; Spark orders -0.0 and 0.0 as equal in both,
      // falling through to comm. The winning (key, comm) rows are the
      // row_number()=1 rows of the window (see [[labelPropagation]]).
      cut(gains
        .groupBy("key")
        .agg(min(struct((-col("gain")).as("ng"), col("comm").as("comm"))).as("s"))
        .select(col("key"), col("s.comm").as("comm")))
    }
  }

  /** Max |Δ| of column `c` between two rounds' (key, c) frames — the
    * tolerance probe of [[pageRank]] and [[eigenvector]]. */
  private def maxChange(prev: DataFrame, next: DataFrame, c: String): Double =
    next.join(prev.select(col("key"), col(c).as("__prev")), Seq("key"))
      .agg(max(abs(col(c) - col("__prev")))).collect()(0).getDouble(0)

  /** Eigenvector centrality: power iteration x ← A·x / max(A·x) over the
    * undirected adjacency, `iters` fixed rounds from x₀ = 1. Max-
    * normalization keeps the scale exact (max is order-insensitive,
    * unlike a sum), so the oracle can unroll the same steps.
    *
    * `tolerance` > 0 adds the reference's convergence stop
    * (`parser.rs:2471-2510` EigenvectorCentrality{max_iterations,
    * tolerance}): end early once max|Δx| < tolerance. Gate queries keep
    * tolerance = 0 for the exact unrolled step count.
    */
  def eigenvector(undirectedEdges: DataFrame, nodes: DataFrame, iters: Int,
      tolerance: Double = 0.0): DataFrame = {
    // loop-invariant frames materialize once (see [[pageRank]])
    val e = cut(undirectedEdges.select("src", "dst"))
    val keys = cut(nodes.select(col("key")))
    val stop = if (tolerance > 0) UpTo(iters) else Rounds(iters)
    Superstep.run(stop, keys.select(col("key"), lit(1.0).as("x"))) { (x, _) =>
      val ax = x.join(e, col("key") === col("src"))
        .groupBy(col("dst").as("key")).agg(sum("x").as("ax"))
      val mx = ax.agg(max("ax").as("mx"))
      cut(keys
        .join(ax, Seq("key"), "left")
        .crossJoin(mx)
        .select(col("key"), (coalesce(col("ax"), lit(0.0)) / col("mx")).as("x")))
    } { (prev, x) => maxChange(prev, x, "x") < tolerance }
  }

  /** HITS hubs & authorities (Kleinberg): `iters` rounds of
    * auth ← Aᵀ·hub, hub ← A·auth over the DIRECTED edge set, each
    * max-normalized (max is order-insensitive, so the oracle can unroll
    * the identical steps — same policy as [[eigenvector]]). Returns
    * (key, hub, auth). Each half-round is one shuffle keyed on the
    * receiving endpoint; at cluster scale the edge frame partitions once
    * and both joins reuse it.
    */
  def hits(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    // the auth frame is first built in round 1; iters < 1 would return
    // the placeholder below — fail loudly at the boundary instead.
    require(iters >= 1, s"HITS requires iters >= 1, got $iters")
    // both half-rounds re-read the edge frame — materialize once (§2.4)
    val e = cut(edges.select("src", "dst"))
    val keys = nodes.select(col("key"))
    // SPARSE score frames: a node with zero auth (no in-edges from
    // hub-carrying nodes) or zero hub contributes only +0.0 terms to the
    // next half-round's sums, and x + 0.0 == x for the nonnegative
    // scores here — so dropping zero rows from the LOOP is bit-identical
    // to the dense recurrence (max-normalization sees the same nonzero
    // population). The dense view is reconstructed ONCE at the end.
    val hub0 = keys.select(col("key"), lit(1.0).as("hub"))
    val (h, a) = Superstep.rounds(iters, (hub0, hub0)) { case ((h, _), _) =>
      val a0 = h.join(e, col("key") === col("src"))
        .groupBy(col("dst").as("key")).agg(sum("hub").as("a0"))
      val am = a0.agg(max("a0").as("am"))
      val a = cut(a0.crossJoin(am)
        .select(col("key"), (col("a0") / col("am")).as("auth")))
      val h0 = a.join(e, col("key") === col("dst"))
        .groupBy(col("src").as("key")).agg(sum("auth").as("h0"))
      val hm = h0.agg(max("h0").as("hm"))
      (cut(h0.crossJoin(hm).select(col("key"), (col("h0") / col("hm")).as("hub"))), a)
    }
    keys.join(h, Seq("key"), "left").join(a, Seq("key"), "left")
      .select(col("key"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
  }

  /** Sampled Brandes betweenness (reference Brandes `lib.rs:7058-7220`,
    * generalized beyond the diameter-2 midpoint form of g20): the forward
    * multi-source BFS ([[expand]] grouped by source, σ summed) accumulates
    * shortest-path counts σ(s,v) (each level's σ is the sum over
    * predecessors — exact because the whole frontier is aggregated before
    * the first-visit prune), then the backward
    * pass accumulates dependencies δ(v) = Σ_w (σ_v/σ_w)(1+δ_w) level by
    * level from the deepest ring inward. bc(v) = Σ_{s∈sources} δ_s(v).
    *
    * `stop` bounds the forward BFS: [[Superstep.Rounds]] is a fixed
    * horizon (the gate query); [[Superstep.Fixpoint]] runs until every
    * source exhausts its component — on user-shaped graphs a fixed
    * horizon silently drops every shortest path longer than it — and
    * throws past the cap. The backward accumulation walks down from the
    * deepest level [[expand]] reports.
    *
    * With all sources it is exact Brandes; with a deterministic sample it
    * is the standard pivot estimator — O(|sources|·E) instead of O(V·E),
    * which is the only form that survives 100 TB graphs. Every stage is a
    * shuffle on (source, key): at cluster scale the frontier frames
    * partition by source and stream.
    */
  def betweennessBrandes(und: DataFrame, sources: DataFrame, stop: Stop): DataFrame = {
    // the backward pass re-reads the edges; expand keeps this stored frame
    val e = cut(und.select("src", "dst"))
    // forward: (source, key, sigma, depth)
    val (reached, maxDepth) = expand(e,
      sources.select(col("key").as("source"), col("key"), lit(1L).as("sigma")), stop,
      group = Seq("source"), agg = Seq(sum("sigma").as("sigma")))
    // backward: delta per (source, key), deepest level = 0.0, then each
    // level pulls (σ_v/σ_w)(1+δ_w) from its successors one ring out.
    // Level 0 is the sources themselves — δ_s(s) never counts, skip it.
    val deepest = reached.filter(col("depth") === maxDepth).withColumn("delta", lit(0.0))
    val delta = Superstep.rounds(maxDepth - 1, deepest) { (delta, i) =>
      val lvl = maxDepth - i
      val upper = delta.filter(col("depth") === lvl + 1)
        .select(col("source"), col("key").as("dst"), col("sigma").as("sigw"), col("delta").as("dw"))
      val level = reached.filter(col("depth") === lvl)
      val contrib = level.join(e, col("key") === col("src"))
        .join(upper, Seq("source", "dst"))
        .groupBy("source", "key")
        .agg(sum((col("sigma").cast("double") / col("sigw")) * (lit(1.0) + col("dw"))).as("dsum"))
      delta.union(cut(level.join(contrib, Seq("source", "key"), "left")
        .select(col("source"), col("key"), col("sigma"), col("depth"),
          coalesce(col("dsum"), lit(0.0)).as("delta"))))
    }
    delta.filter(col("key") =!= col("source"))
      .groupBy("key").agg(sum("delta").as("betweenness"))
  }

  /** A* shortest path: bounded Bellman-Ford relaxation with heuristic
    * pruning — after each round, any node whose f = cost + h exceeds the
    * best-known complete path to `target` is dropped from the frontier
    * (reference A* `algorithms/astar.rs` is a sequential priority queue;
    * the distributed analogue keeps the *pruning*, which is what makes A*
    * A*, and trades the strict expansion order for per-round parallelism).
    * With an admissible h (h(v) ≤ true remaining cost) the returned cost
    * equals Dijkstra's: nodes on an optimal path satisfy g*+h ≤ C* ≤ bound
    * once their label converges, so they always survive, and a prematurely
    * pruned node is re-relaxed from its surviving predecessor.
    *
    * `h`: (key, h) frame. Returns one row (from_key, to_key, cost).
    */
  def astar(edges: DataFrame, h: DataFrame, source: String, target: String, iters: Int): DataFrame = {
    astarLoop(edges, h, source, target, iters)
      .filter(col("key") === target)
      .select(lit(source).as("from_key"), col("key").as("to_key"), col("cost"))
  }

  /** Frontier size probe for [[astar]] pruning tests: same loop, returns
    * the surviving label count after `iters` rounds. */
  def astarSettledCount(edges: DataFrame, h: DataFrame, source: String, target: String, iters: Int): Long =
    astarLoop(edges, h, source, target, iters).count()

  /** Shared A* relaxation loop. The prune bound is read from the PREVIOUS
    * round's labels — it is still the cost of a known complete path (an
    * upper bound on C*, so nodes on an optimal path always survive: g*+h ≤
    * C* ≤ bound), just one round laggier than recomputing it mid-plan.
    * That halves the per-round plan: the merged frame is referenced once,
    * and the bound is a one-row aggregate over the materialized labels.
    */
  private def astarLoop(edges: DataFrame, h: DataFrame, source: String, target: String, iters: Int): DataFrame = {
    // loop-invariant frames materialize once (see [[expand]])
    val e = cut(edges.select("src", "dst", "w"))
    val hp = cut(h.select("key", "h"))
    val start = edges.sparkSession.range(1).select(lit(source).as("key"), lit(0.0).as("cost"))
    Superstep.rounds(iters, start) { (dist, _) =>
      val bound = dist.filter(col("key") === target).agg(min("cost").as("bound"))
      val relaxed = dist.join(e, col("key") === col("src"))
        .select(col("dst").as("key"), (col("cost") + col("w")).as("cost"))
      cut(dist.union(relaxed).groupBy("key").agg(min("cost").as("cost"))
        .join(hp, Seq("key"), "left")
        .crossJoin(bound)
        .filter(col("bound").isNull ||
          (col("cost") + coalesce(col("h"), lit(0.0))) <= col("bound"))
        .select("key", "cost"))
    }
  }

  /** Biconnected components, Tarjan–Vishkin style (the sequential
    * reference uses a DFS low-link stack — `algorithms/biconnected.rs` —
    * which has no distributed analogue; the auxiliary-graph formulation
    * does): build a BFS spanning forest from `roots`, walk each non-tree
    * edge's fundamental cycle to its LCA (join-based climb, one round per
    * tree level), link the cycle's tree edges to the non-tree edge in an
    * edge-auxiliary graph, and run min-label connected components over it.
    * Fundamental cycles generate the cycle space, so the transitive
    * closure of "shares a fundamental cycle" is exactly the biconnected
    * relation. Edges in no cycle (bridges) stay singleton components.
    *
    * Every stage is a join/groupBy on node or edge keys — at cluster scale
    * it is O(depth + cycleLen + ccIters) shuffles, each partitioned by
    * key, with no driver-side state.
    *
    * Returns (src, dst, bicomp) for each undirected edge (src < dst),
    * bicomp = min edge id in its component.
    *
    * The defaults run on an arbitrary graph (the statement path, where
    * the overlay may hold cycles at any depth or whole components
    * detached from the bundled topology): roots are each component's min
    * key (one [[connectedComponentsFixpoint]] pass), the forest grows
    * until its frontier is empty, the climb runs until every non-tree
    * edge's endpoints meet, and the auxiliary CC is
    * [[connectedComponentsFixpoint]] — each throwing past its cap,
    * matching the reference's run-to-completion DFS
    * (`graph_engine/src/algorithms/biconnected.rs:112-280`).
    *
    * The gate path passes `roots` and [[Superstep.Rounds]] bounds
    * (deterministic, oracle-unrollable); a [[Superstep.Rounds]] `cc`
    * runs plain [[connectedComponents]]. A non-tree edge with an endpoint
    * outside a bounded forest never joins the climb state and stays a
    * singleton component — correct exactly when no cycle crosses the
    * forest horizon, so the forest may stop at the deepest cycle level
    * rather than the graph's full depth, and the climb at the largest
    * endpoint-to-LCA distance.
    */
  def biconnectedComponents(und: DataFrame, roots: Option[DataFrame] = None,
      forest: Stop = Fixpoint(), climb: Stop = Fixpoint(), cc: Stop = Fixpoint()): DataFrame = {
    val e = cut(und.select("src", "dst")) // loop-invariant (see [[expand]])
    def components(u: DataFrame, n: DataFrame) = cc match {
      case Rounds(_) => connectedComponents(u, n, cc)
      case _ => connectedComponentsFixpoint(u, n, cc)
    }
    // self-roots: the component label IS the min node key — a valid,
    // deterministic root for every component
    val rootKeys = roots.getOrElse(
      components(e, e.select(col("src").as("key")).distinct())
        .select(col("component").as("key")).distinct())
    // BFS forest: (key, parent, depth). Roots are their own parents; a
    // node's parent is its min-key neighbor one level up (deterministic).
    val (tree, _) = expand(e, rootKeys.select(col("key"), col("key").as("parent")), forest,
      agg = Seq(min("src").as("parent")))
    // tree is read ~6 more times below (edge ids + two parent joins per
    // climb round) — one cut here pays for itself.
    val treeCut = cut(tree)
    val eid = (a: Column, b: Column) => concat(least(a, b), lit("|"), greatest(a, b))
    val treeEdgeIds = treeCut.filter(col("depth") > 0).select(eid(col("key"), col("parent")).as("id"))
    // canonical undirected edges + their ids
    val edgesC = cut(e.filter(col("src") < col("dst")).distinct()
      .select(col("src"), col("dst"), eid(col("src"), col("dst")).as("id")))
    val nonTree = edgesC.join(treeEdgeIds, Seq("id"), "left_anti")
    // climb both endpoints of each non-tree edge to the LCA, emitting the
    // tree edges on the way: state (cid, a, da, b, db), the deeper side
    // steps to its parent each round (both step on a tie).
    val pa = treeCut.select(col("key"), col("parent"), col("depth"))
    val state0 = cut(nonTree
      .join(pa.select(col("key").as("src"), col("depth").as("da")), Seq("src"))
      .join(pa.select(col("key").as("dst"), col("depth").as("db")), Seq("dst"))
      .select(col("id").as("cid"), col("src").as("a"), col("da"), col("dst").as("b"), col("db")))
    val links0 = state0.limit(0).select(col("cid"), col("cid").as("tid")) // (cycle id, tree-edge id)
    val (_, links) = Superstep.run(climb, (state0, links0)) { case ((state, links), _) =>
      val stepA = col("da") >= col("db") // deeper (or tied) a-side steps
      val stepB = col("db") >= col("da")
      val stepped = state.filter(col("a") =!= col("b"))
        .join(pa.select(col("key").as("a"), col("parent").as("pa2"), col("depth").as("da2")), Seq("a"))
        .join(pa.select(col("key").as("b"), col("parent").as("pb2"), col("depth").as("db2")), Seq("b"))
      (cut(stepped.select(col("cid"),
          when(stepA, col("pa2")).otherwise(col("a")).as("a"),
          when(stepA, col("da2") - 1).otherwise(col("da")).as("da"),
          when(stepB, col("pb2")).otherwise(col("b")).as("b"),
          when(stepB, col("db2") - 1).otherwise(col("db")).as("db"))),
        links
          .union(stepped.filter(stepA).select(col("cid"), eid(col("a"), col("pa2")).as("tid")))
          .union(stepped.filter(stepB).select(col("cid"), eid(col("b"), col("pb2")).as("tid"))))
    } { case (_, (state, _)) => state.filter(col("a") =!= col("b")).count() == 0 }
    // edge-auxiliary graph: every edge id is a node; a cycle's non-tree id
    // links to each tree edge id on it. Min-label CC over it.
    val auxEdges = links.select(col("cid").as("src"), col("tid").as("dst"))
    val auxUnd = auxEdges.union(auxEdges.select(col("dst").as("src"), col("src").as("dst")))
    val comp = components(auxUnd, edgesC.select(col("id").as("key")))
    edgesC.join(comp, edgesC("id") === comp("key"))
      .select(col("src"), col("dst"), col("component").as("bicomp"))
  }

  /** PageRank, `iters` fixed iterations, damping 0.85, init 1.0, no
    * dangling-mass redistribution (sinks absorb; matches the unrolled
    * oracle). Returns (key, pr).
    *
    * `tolerance` > 0 adds the reference's convergence stop
    * (`ast.rs:1267-1279` PageRank{damping, tolerance, …}): the loop ends
    * early once max|Δpr| < tolerance. The check is one small agg over the
    * node-sized frame per round — statement-path convenience; the
    * oracle-gated queries keep tolerance = 0 so their unrolled step count
    * stays exact. */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int, damping: Double = 0.85,
      tolerance: Double = 0.0): DataFrame = {
    // Loop-invariant frames materialize ONCE (round 13; guide §2.4): the
    // un-cut contrib plan re-ran its degree aggregation + join inside
    // EVERY round's job (profiled at ~8 scheduler jobs per iteration,
    // task time trivial — the loop was paying per-round stages for
    // loop-invariant work). One cut each; every round then reads the
    // materialized rows. Same rows, same arithmetic, fewer stages.
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val contrib = cut(edges.join(outDeg, "src").select("src", "dst", "od"))
    val keys = cut(nodes.select(col("key")))
    val stop = if (tolerance > 0) UpTo(iters) else Rounds(iters)
    Superstep.run(stop, keys.select(col("key"), lit(1.0).as("pr"))) { (pr, _) =>
      val mass = pr.join(contrib, col("key") === col("src"))
        .select(col("dst"), (col("pr") / col("od")).as("m"))
        .groupBy("dst").agg(sum("m").as("mass"))
      cut(keys
        .join(mass, col("key") === col("dst"), "left")
        .select(col("key"), (lit(1 - damping) + lit(damping) * coalesce(col("mass"), lit(0.0))).as("pr")))
    } { (prev, pr) => maxChange(prev, pr, "pr") < tolerance }
  }

  /** Personalized PageRank (random walk with restart; Jeh & Widom): the
    * teleport vector is uniform over `seeds("key")` instead of the whole
    * node set, so scores rank proximity TO THE SEEDS. Same lineage
    * policy as [[pageRank]], but the score frame is SPARSE: only nodes
    * the walk has touched carry rows (the rest are exactly 0, and both
    * consumers filter `pr > 0`) — so each round's join/agg is sized by
    * the seed component, not the whole graph, and the dense per-round
    * teleport join disappears. Bit-identical to the dense form: the
    * per-key update is the same two-term double sum (commutative), and
    * dropped rows only ever contributed +0.0 terms. `nodes` stays in
    * the signature for call-site symmetry with [[pageRank]]. No
    * dangling redistribution — callers pass an undirected (sink-free)
    * edge frame, mirroring the unrolled oracle.
    */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double = 0.85): DataFrame = {
    val ns = seeds.agg(count(lit(1)).as("ns"))
    val seedT = cut(seeds.select("key").crossJoin(broadcast(ns))
      .select(col("key"), (lit(1.0) / col("ns")).as("t")))
    // contrib is loop-invariant — materialize once (see [[pageRank]])
    val deg = edges.groupBy("src").agg(count(lit(1)).as("od"))
    val contrib = cut(edges.join(deg, "src").select("src", "dst", "od"))
    Superstep.rounds(iters, seedT.select(col("key"), col("t").as("pr"))) { (pr, _) =>
      val mass = pr.join(contrib, col("key") === col("src"))
        .select(col("dst"), (col("pr") / col("od")).as("m"))
        .groupBy("dst").agg(sum("m").as("mass"))
      cut(mass.select(col("dst").as("key"), (lit(damping) * col("mass")).as("pr"))
        .union(seedT.select(col("key"), (lit(1 - damping) * col("t")).as("pr")))
        .groupBy("key").agg(sum("pr").as("pr")))
    }
  }
}
