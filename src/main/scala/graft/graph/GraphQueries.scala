package graft.graph

import graft.{QDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Superstep.{cut, Fixpoint, Rounds, UpTo}

/** Graph operator inventory (SURVEY.md §2.10) over the TPC-H-derived
  * property graph: neighbors/degree, BFS, shortest paths (unweighted and
  * weighted), variable-length paths, connected components, triangles,
  * PageRank, node similarity, and motif/pattern matching.
  *
  * Every iterative algorithm runs a fixed number of [[Superstep]] rounds
  * (`graft.graph.Algorithms`), so the DuckDB oracle can unroll the same
  * number of steps and hash-match exactly.
  */
object GraphQueries {

  // Shared oracle CTE fragments (keys are '<label>:<id>' strings).
  private val nodesSql =
    """nds AS (
      |  SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS key, 'region' AS label, r_name AS name FROM region
      |  UNION ALL SELECT 'nation:' || CAST(n_nationkey AS VARCHAR), 'nation', n_name FROM nation
      |  UNION ALL SELECT 'customer:' || CAST(c_custkey AS VARCHAR), 'customer', c_name FROM customer
      |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR), 'supplier', s_name FROM supplier)""".stripMargin

  private val treeEdgesSql =
    """edt AS (
      |  SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS src, 'region:' || CAST(n_regionkey AS VARCHAR) AS dst, 'in_region' AS etype FROM nation
      |  UNION ALL SELECT 'customer:' || CAST(c_custkey AS VARCHAR), 'nation:' || CAST(c_nationkey AS VARCHAR), 'in_nation' FROM customer
      |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR), 'nation:' || CAST(s_nationkey AS VARCHAR), 'in_nation' FROM supplier)""".stripMargin

  private val cliqueEdgesSql =
    """edc AS (
      |  SELECT 'nation:' || CAST(a.n_nationkey AS VARCHAR) AS src, 'nation:' || CAST(b.n_nationkey AS VARCHAR) AS dst, 'same_region' AS etype
      |  FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey)""".stripMargin

  // Component-census oracle shared by g06 (fixed-round engine) and g50
  // (fixpoint engine). Exploits known structure: component = region tree,
  // label = lexicographic min key among its members.
  private val componentCensusOracleSql =
    s"""WITH memb AS (
       |  SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS key, r_regionkey AS rk FROM region
       |  UNION ALL SELECT 'nation:' || CAST(n_nationkey AS VARCHAR), n_regionkey FROM nation
       |  UNION ALL SELECT 'customer:' || CAST(c_custkey AS VARCHAR), n.n_regionkey
       |    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  UNION ALL SELECT 'supplier:' || CAST(s_suppkey AS VARCHAR), n.n_regionkey
       |    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey),
       |comp AS (SELECT rk, min(key) AS component FROM memb GROUP BY rk)
       |SELECT c.component, count(*) AS n_nodes
       |FROM memb m JOIN comp c ON m.rk = c.rk
       |GROUP BY c.component ORDER BY c.component""".stripMargin

  private val allEdgesSql =
    s"""$treeEdgesSql,
       |$cliqueEdgesSql,
       |ed AS (SELECT * FROM edt UNION ALL SELECT * FROM edc),
       |und AS (SELECT src, dst, etype FROM ed UNION ALL SELECT dst AS src, src AS dst, etype FROM ed)""".stripMargin

  /** Unrolled fixed-iteration PageRank oracle (must mirror Algorithms.pageRank). */
  private def pageRankSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $nodesSql,\n$treeEdgesSql,\n"
    sb ++= "deg AS (SELECT src, count(*) AS od FROM edt GROUP BY src),\n"
    sb ++= "pr0 AS (SELECT key, 1.0 AS pr FROM nds)"
    for (i <- 1 to iters) {
      sb ++= s""",
                |pr$i AS (SELECT n.key, 0.15 + 0.85 * coalesce(m.mass, 0) AS pr FROM nds n
                |  LEFT JOIN (SELECT e.dst, sum(p.pr / d.od) AS mass FROM edt e
                |             JOIN pr${i - 1} p ON p.key = e.src JOIN deg d ON d.src = e.src
                |             GROUP BY e.dst) m ON m.dst = n.key)""".stripMargin
    }
    sb ++= s"\nSELECT key, round(pr, 6) AS pr FROM pr$iters ORDER BY pr DESC, key LIMIT 20"
    sb.toString
  }

  /** Shared biconnected labeling for g25/g26 (articulation points are BY
    * DEFINITION derived from the component labeling, so the two gate
    * queries legitimately consume one artifact). Memoized per
    * (session, data dir) but not cache()d: the labeling's loop frames are
    * already cut, so every later use re-reads their stored partitions.
    */
  private val bicompMemo =
    graft.Memo.artifact[(SparkSession, String), DataFrame]()
  private def bicompLabels(s: SparkSession, d: String): DataFrame =
    bicompMemo.getOrElseUpdate((s, d), {
      val und = TpchGraph.undirected(TpchGraph.edges(s, d)).select("src", "dst")
      val roots = TpchGraph.nodes(s, d).filter(col("label") === "region").select("key")
      // no cache(): the labeling's loop frames are already materialized
      // (eager per-round cuts), so the memoized frame re-reads those
      // stored partitions on every later use.
      // Round bounds from the (SF-invariant) topology: every cycle lives
      // among the 25 nations at forest depth 1 — customer/supplier edges
      // are bridges and stay singletons whether or not they join the
      // forest — so maxDepth=1; both endpoints of every non-tree edge sit
      // one level above their LCA (the region), so climbRounds=1; the
      // cycle↔tree-edge auxiliary graph of a 5-clique-plus-root has
      // eccentricity ≤ 4 from any min-label seat, so ccIters=4.
      Algorithms.biconnectedComponents(und, Some(roots),
        forest = Rounds(1), climb = Rounds(1), cc = Rounds(4))
    })

  /** g46 engine (parameterized for the `GRAPH CORES` statement): nested-
    * shell k-core peeling over any undirected edge/node frame; a node's
    * core number is the max k it survives. Each level peels to FIXPOINT
    * (the alive set stops shrinking) — exact core numbers for arbitrary
    * overlay topologies, not just the bundled TPC-H one: a store-created
    * 5-node chain cascades 3+ rounds at k=2 and must end with every chain
    * node at core 1. The per-round count() rides the already-eager
    * lineage cut (materialized partitions, no recompute), so a level
    * costs (cascade depth + 1) cheap rounds — for the bundled topology
    * that is the same 2 rounds as before plus one confirming count. */
  def coreDecomposition(und: DataFrame, nodes: DataFrame, maxK: Int = 6): DataFrame = {
    // Cost shape: each round joins the edge frame against the alive set,
    // and only the SMALL alive frame is lineage-cut (cutting the full
    // edge frame per round measures slower than the joins it saves). The
    // edge frame is materialized down to the induced core ONCE, after
    // the k=2 level strips the leaf layer — every later level then
    // aggregates the residual core's edges, not the corpus. k=1 runs a
    // single round: removing degree-0 nodes deletes no edges, so it can
    // never cascade.
    // materialize the starting edge frame once — every peel round re-read
    // it (plus its union/concat lineage) twice via the semi-joins (r13 §2.4)
    val e0 = cut(und.select("src", "dst"))
    def inCore(e: DataFrame, alive: DataFrame) =
      e.join(alive.select(col("key").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("key").as("dst")), Seq("dst"), "left_semi")
    // level k: state (edges, alive, |alive| or -1 before the first count,
    // levels found); the loop ends early once no node survives
    val (_, _, _, levels) = Superstep.run(UpTo(maxK),
        (e0, nodes.select("key"), -1L, List.empty[DataFrame])) { case ((e, alive0, aliveN, levels), k) =>
      // Cascade: removals can push survivors below k; peel until the
      // alive count stops shrinking (it strictly shrinks, so this ends).
      val start = (alive0, if (aliveN >= 0) aliveN else Long.MaxValue)
      val (alive, n) = Superstep.run(if (k == 1) UpTo(1) else Fixpoint(Int.MaxValue), start) {
        case ((alive, _), _) =>
          val deg = inCore(e, alive).groupBy("src").agg(count(lit(1)).as("deg"))
          val next = cut(deg.filter(col("deg") >= k).select(col("src").as("key")))
          (next, next.count())
      } { case ((_, prev), (_, n)) => n == 0 || n >= prev }
      (if (k == 2 && n > 0) cut(inCore(e, alive).select("src", "dst")) else e,
        alive, n, if (n > 0) alive.withColumn("core", lit(k)) :: levels else levels)
    } { case (_, (_, _, n, _)) => n == 0 }
    val base = nodes.withColumn("core", lit(0))
    levels.reverse.foldLeft(base)(_ union _)
      .groupBy("key").agg(max("core").as("core"))
      .groupBy("core").agg(count(lit(1)).as("n_nodes"))
      .orderBy("core")
  }

  /** g47 engine (parameterized for the `GRAPH TRANSITIVITY` statement):
    * corpus-level transitivity (Σtri/Σwedge, integer sums) and average
    * local clustering over any canonical (u < v) edge frame. */
  def clusteringGlobal(edges: DataFrame): DataFrame =
    clusteringGlobalCanonical(edges.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v")).distinct())

  /** [[clusteringGlobal]] over an ALREADY-canonical (u < v, distinct)
    * simple-graph frame — overlay statement paths build their stats
    * live; the gate queries read the memoized [[triStatsCanonical]]. */
  def clusteringGlobalCanonical(e0: DataFrame): DataFrame =
    clusteringFromStats(triStatsOf(e0))

  /** (key, deg, tri) over a canonical simple-graph frame: degree plus
    * the degree-ordered triangle listing (Algorithms.triangleTriples —
    * Σ d⁺² wedges, not the Σ deg² center-keyed join; SF-linear hubs
    * made the naive wedge frame quadratic at sf1.0), tri coalesced to 0
    * for triangle-less nodes. */
  private def triStatsOf(e0: DataFrame): DataFrame = {
    val und = e0.select(col("u").as("x"), col("v").as("w"))
      .union(e0.select(col("v").as("x"), col("u").as("w")))
    val deg = und.groupBy(col("x").as("key")).agg(count(lit(1)).as("deg"))
    deg.join(Algorithms.localTriangleCounts(e0), Seq("key"), "left")
      .select(col("key"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
  }

  /** The (key, deg, tri) stats of the WHOLE-GRAPH canonical frame,
    * memoized per (session, dir) — g38, g47, g51 and the no-overlay
    * GRAPH TRIANGLES / CLUSTERING / TRANSITIVITY fronts are all views
    * over this one frame (round 12: each used to re-run the listing;
    * the first consumer now pays it once, the rest read the cache). */
  private val triStatsMemo =
    graft.Memo.artifact[(SparkSession, String, String), DataFrame]()
  private[graft] def triStatsCanonical(s: SparkSession, d: String): DataFrame =
    triStatsMemo.getOrElseUpdate((s, d, "all"),
      Algorithms.memo(triStatsOf(TpchGraph.canonicalEdges(s, d))))

  /** Same stats over the same_region clique scope — g07's frame, shared
    * with the no-overlay `GRAPH TRIANGLES EDGE TYPE 'same_region'`. */
  private[graft] def triStatsSameRegion(s: SparkSession, d: String): DataFrame =
    triStatsMemo.getOrElseUpdate((s, d, "same_region"),
      Algorithms.memo(triStatsOf(TpchGraph.canonicalSameRegionEdges(s, d))))

  /** Corpus-level transitivity + average local clustering from a
    * (key, deg, tri) stats frame (integer sums, doubles only at the
    * final division). */
  private[graft] def clusteringFromStats(stats: DataFrame): DataFrame = stats
    .withColumn("wed", expr("CAST(deg * (deg - 1) DIV 2 AS BIGINT)"))
    .agg(
      sum("tri").as("sum_tri"), sum("wed").as("sum_wedges"),
      round(sum("tri") / sum("wed"), 6).as("transitivity"),
      round(avg(when(col("wed") > 0, col("tri") / col("wed"))), 6).as("avg_clustering"))

  /** Shared supplier co-occurrence aggregate for g08/g28: both queries
    * are BY DEFINITION views over the same (sa, sb) pair statistics —
    * common-neighbor count plus the quantized-long Adamic-Adar /
    * resource-allocation sums — so the Σ_p pdeg² pair shuffle is paid
    * ONCE per (session, dir), like the d03/d07 pair set and the g25/g26
    * bicomp labeling — but materialized via Algorithms.memo (columnar
    * cache), NOT a localCheckpoint: the pair aggregate is a wide
    * NARROW-TYPED frame (two keys + three numeric sums) that the
    * columnar cache compresses well, and the checkpoint's RDD
    * write+re-read measured 156 s vs 76 s cached at sf1.0 (PERF.md
    * round 9; the d-family's string-heavy artifacts measured the
    * OPPOSITE ordering and keep their cuts). The pdeg ≤ 200 hot-key
    * cap bounds per-part
    * fan-out (oracle-mirrored; vacuous at test SFs). Scaled-INTEGER
    * sums: a float sum's result depends on partition order, so each
    * term quantizes to a long at 1e6 (also absorbing ln()'s cross-libm
    * last-ulp) — exact and order-independent in both engines.
    */
  private val suppCoocMemo =
    graft.Memo.artifact[(SparkSession, String), (DataFrame, DataFrame)]()
  private def suppCooc(s: SparkSession, d: String): (DataFrame, DataFrame) =
    suppCoocMemo.getOrElseUpdate((s, d), {
      val sp = Tables(s, d, "lineitem").select(col("l_suppkey"), col("l_partkey")).distinct()
      val sz = sp.groupBy("l_suppkey").agg(count(lit(1)).as("n"))
      // Round-10 rebuild (PERF.md, DevG08/DevG08b A/B at sf1.0): the old
      // spc self-join re-exchanged the 20M-row (supp, part) frame twice
      // and measured BIMODAL 52–112 s run to run; generating the wedges
      // ROW-LOCALLY — suppliers collected per part, pairs emitted by
      // codegen'd higher-order array functions — needs ONE exchange of
      // the compact per-part rows and lands at a stable 26–28 s cold.
      // The Σ pdeg² wedge rows still flow into the partial aggregation,
      // but they are born in the same task that folds them, never
      // shuffled. The pdeg ≤ 200 hot-key cap is applied on the exact
      // collected size (oracle-mirrored; vacuous at test SFs).
      val parts0 = Algorithms.memo(sp.groupBy("l_partkey")
        .agg(sort_array(collect_set(col("l_suppkey"))).as("ss"))
        .withColumn("pdeg", size(col("ss")))
        .filter(col("pdeg") <= 200))
      // Pin the fan-out width DATA-PROPORTIONALLY (round 12, VERDICT r11
      // item 3): the per-part frame is only kilobytes per thousand
      // wedges, so AQE coalesces it to a handful of partitions and the
      // Σ pdeg² explode below would run on 1-4 tasks (measured 14 s →
      // ~7 s at sf0.1 with an explicit repartition). But a FIXED width
      // is right at exactly one SF — sized for sf1.0 it overshoots the
      // sf0.1 run with scheduling overhead, sized for sf0.1 it starves
      // sf1.0. Width = max(cores, rows/2000): one part-row ≈ a few
      // hundred wedge rows, so ~2000 part-rows per task keeps every
      // task in the 0.1-1 s sweet spot at any SF. The count() is one
      // job over the memoized aggregate, paid once per (session, dir).
      val width = math.max(s.sparkContext.defaultParallelism,
        (parts0.count() / 2000L).toInt)
      val parts = parts0.repartition(width, col("l_partkey"))
      val wedges = parts.select(col("pdeg"),
        explode(expr(
          """flatten(transform(ss, (x, i) ->
            |  transform(slice(ss, i + 2, size(ss) - i - 1), y ->
            |    struct(x AS sa, y AS sb))))""".stripMargin)).as("p"))
        .select(col("p.sa"), col("p.sb"), col("pdeg"))
      // The CACHED frame keeps the quantized sums as LONGS and divides
      // at read: the double-sum cache measured 33 s for g08's
      // build-and-read vs ~11 s for the all-integer frame (PERF.md round 9) —
      // scaled-integer sums also keep the values order-independent and
      // oracle-exact, as before.
      val agg = wedges.groupBy("sa", "sb")
        .agg(count(lit(1)).as("common_n"),
          sum(round(lit(1e6) / log(col("pdeg")), 0).cast("long")).as("aa_q"),
          sum(round(lit(1e6) / col("pdeg"), 0).cast("long")).as("ra_q"))
      val widened = Algorithms.memo(agg)
        .select(col("sa"), col("sb"), col("common_n"),
          (col("aa_q") / 1e6).as("adamic_adar"), (col("ra_q") / 1e6).as("resource_alloc"))
      (widened, Algorithms.memo(sz))
    })

  val defs: Seq[(String, QDef)] = Seq(

    "g01_node_degree" -> QDef(
      (s, d) => TpchGraph.undirected(TpchGraph.edges(s, d))
        .groupBy(col("src").as("key")).agg(count(lit(1)).as("degree"))
        .orderBy(desc("degree"), col("key")).limit(30),
      s"""WITH $allEdgesSql
         |SELECT src AS key, count(*) AS degree FROM und GROUP BY src
         |ORDER BY degree DESC, key LIMIT 30""".stripMargin),

    "g02_neighbors" -> QDef(
      (s, d) => TpchGraph.undirected(TpchGraph.edges(s, d))
        .filter(col("src") === "nation:0")
        .select(col("dst").as("neighbor"), col("etype"))
        .orderBy("neighbor", "etype"),
      s"""WITH $allEdgesSql
         |SELECT dst AS neighbor, etype FROM und WHERE src = 'nation:0'
         |ORDER BY neighbor, etype""".stripMargin),

    "g03_bfs_depth3" -> QDef(
      (s, d) => Algorithms.bfs(TpchGraph.undirected(TpchGraph.edges(s, d)),
        Algorithms.source(s, "region:0"), Rounds(3))
        .orderBy("key"),
      s"""WITH $allEdgesSql,
         |d0 AS (SELECT 'region:0' AS key, 0 AS depth),
         |d1 AS (SELECT DISTINCT u.dst AS key, 1 AS depth FROM und u JOIN d0 ON u.src = d0.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0)),
         |d2 AS (SELECT DISTINCT u.dst AS key, 2 AS depth FROM und u JOIN d1 ON u.src = d1.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0 UNION ALL SELECT key FROM d1)),
         |d3 AS (SELECT DISTINCT u.dst AS key, 3 AS depth FROM und u JOIN d2 ON u.src = d2.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0 UNION ALL SELECT key FROM d1 UNION ALL SELECT key FROM d2))
         |SELECT key, CAST(min(depth) AS INT) AS depth
         |FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3) t
         |GROUP BY key ORDER BY key""".stripMargin),

    "g04_shortest_path_len" -> QDef(
      (s, d) => Algorithms.bfs(TpchGraph.undirected(TpchGraph.edges(s, d)),
        Algorithms.source(s, "region:0"), Rounds(3))
        .filter(col("key").isin((0 to 9).map(i => s"customer:$i"): _*))
        .orderBy("key"),
      s"""WITH $allEdgesSql,
         |d0 AS (SELECT 'region:0' AS key, 0 AS depth),
         |d1 AS (SELECT DISTINCT u.dst AS key, 1 AS depth FROM und u JOIN d0 ON u.src = d0.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0)),
         |d2 AS (SELECT DISTINCT u.dst AS key, 2 AS depth FROM und u JOIN d1 ON u.src = d1.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0 UNION ALL SELECT key FROM d1)),
         |d3 AS (SELECT DISTINCT u.dst AS key, 3 AS depth FROM und u JOIN d2 ON u.src = d2.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0 UNION ALL SELECT key FROM d1 UNION ALL SELECT key FROM d2))
         |SELECT key, CAST(min(depth) AS INT) AS depth
         |FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3) t
         |WHERE key IN ('customer:0','customer:1','customer:2','customer:3','customer:4',
         |              'customer:5','customer:6','customer:7','customer:8','customer:9')
         |GROUP BY key ORDER BY key""".stripMargin),

    "g05_pagerank" -> QDef(
      (s, d) => Algorithms.pageRank(TpchGraph.treeEdges(s, d), TpchGraph.nodes(s, d), 10)
        .select(col("key"), round(col("pr"), 6).as("pr"))
        .orderBy(desc("pr"), col("key")).limit(20),
      pageRankSql(10)),

    "g06_connected_components" -> QDef(
      (s, d) => Algorithms.connectedComponents(
        TpchGraph.undirected(TpchGraph.edges(s, d)), TpchGraph.nodes(s, d), Rounds(6))
        .groupBy("component").agg(count(lit(1)).as("n_nodes"))
        .orderBy("component"),
      componentCensusOracleSql),

    // Round 9: the statement path's FIXPOINT engine, oracle-gated on the
    // bundled graph. At convergence the probed, pointer-jumping loop must
    // produce the identical min-key labeling as g06's fixed unroll — the
    // batching/shortcutting change the SCHEDULE, never the answer — so
    // the same closed-form oracle gates both engines.
    "g50_components_fixpoint" -> QDef(
      (s, d) => Algorithms.connectedComponentsFixpoint(
        TpchGraph.undirected(TpchGraph.edges(s, d)), TpchGraph.nodes(s, d))
        .groupBy("component").agg(count(lit(1)).as("n_nodes"))
        .orderBy("component"),
      componentCensusOracleSql),

    // Per-node triangle counts over the same_region cliques. The oracle
    // unrolls the canonical a<b<c 3-way join; the Spark side uses the
    // shared degree-ordered listing (Algorithms.triangleTriples) — same
    // exactly-once-per-triangle semantics, but Σ d⁺² wedge cost instead
    // of the self-join's Σ deg², so the statement front stays safe on
    // hub-heavy user overlays (PERF.md round 9).
    "g07_triangle_count" -> QDef(
      // memoized same_region (key, deg, tri) stats (round 12), shared
      // with the scoped GRAPH TRIANGLES statement front; tri > 0
      // restores the nodes-in-triangles-only output set
      (s, d) => triStatsSameRegion(s, d).filter(col("tri") > 0)
        .select(col("key"), col("tri").as("n_triangles"))
        .orderBy("key"),
      s"""WITH $cliqueEdgesSql,
         |tri AS (
         |  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
         |  FROM edc ab JOIN edc bc ON ab.dst = bc.src
         |              JOIN edc ac ON ac.src = ab.src AND ac.dst = bc.dst),
         |uns AS (SELECT a AS key FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT key, count(*) AS n_triangles FROM uns GROUP BY key ORDER BY key""".stripMargin),

    // Round-10 gate for the widened `GRAPH TRIANGLES` default
    // (VERDICT r9 item 1): per-node triangle counts over the WHOLE
    // canonicalized simple graph — the reference TriangleConfig scope
    // (`triangles.rs:18,30,99-130`), which g07's same_region slice does
    // not cover (region hubs close region–nation–nation triangles via
    // in_region + same_region edges and only appear here). The oracle
    // unrolls the canonical a<b<c 3-way join over the distinct
    // least/greatest edge frame.
    "g51_triangles_whole_graph" -> QDef(
      // memoized whole-graph (key, deg, tri) stats, shared with g38/g47;
      // tri > 0 restores localTriangleCounts' nodes-in-triangles-only set
      (s, d) => triStatsCanonical(s, d).filter(col("tri") > 0)
        .select(col("key"), col("tri").as("n_triangles"))
        .orderBy("key"),
      s"""WITH $allEdgesSql,
         |e0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM ed),
         |tri AS (
         |  SELECT ab.u AS a, ab.v AS b, bc.v AS c
         |  FROM e0 ab JOIN e0 bc ON ab.v = bc.u
         |             JOIN e0 ac ON ac.u = ab.u AND ac.v = bc.v),
         |uns AS (SELECT a AS key FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT key, count(*) AS n_triangles FROM uns GROUP BY key ORDER BY key""".stripMargin),

    // node similarity by Jaccard of neighbor sets (reference
    // `algorithms/similarity.rs`): suppliers compared by the set of parts
    // they ship (bipartite projection of lineitem).
    // Hot-key bound: the part-keyed self-join emits deg(p)² pairs per
    // part, so ONE hot part (10⁴ suppliers at 100×) would put 10⁸ rows on
    // a single key. Parts with pdeg > 200 are excluded from candidate
    // generation (the standard similarity-pipeline prefilter — a part
    // shared by hundreds of suppliers carries ~no similarity signal,
    // exactly like a stopword in d03/t07). Set sizes (sz) stay uncapped so
    // surviving pairs keep exact Jaccard. Cap mirrored in the oracle;
    // vacuous at test SFs (max pdeg = 52 at sf0.1) so the gate result is
    // unchanged, while the plan is provably ≤ 200²/2 pairs per part key.
    "g08_node_similarity_jaccard" -> QDef(
      (s, d) => {
        val (agg, sz) = suppCooc(s, d)
        agg
          .join(sz.select(col("l_suppkey").as("sa"), col("n").as("na")), Seq("sa"))
          .join(sz.select(col("l_suppkey").as("sb"), col("n").as("nb")), Seq("sb"))
          .select(col("sa"), col("sb"),
            round(col("common_n") / (col("na") + col("nb") - col("common_n")), 4).as("jaccard"))
          .orderBy(desc("jaccard"), col("sa"), col("sb")).limit(20)
      },
      """WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
        |sz AS (SELECT l_suppkey, count(*) AS n FROM sp GROUP BY 1),
        |pd AS (SELECT l_partkey, count(*) AS pdeg FROM sp GROUP BY 1),
        |spc AS (SELECT sp.* FROM sp JOIN pd USING (l_partkey) WHERE pd.pdeg <= 200),
        |inter AS (
        |  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS c
        |  FROM spc a JOIN spc b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2)
        |SELECT sa, sb, round(c / (x.n + y.n - c), 4) AS jaccard
        |FROM inter JOIN sz x ON sa = x.l_suppkey JOIN sz y ON sb = y.l_suppkey
        |ORDER BY jaccard DESC, sa, sb LIMIT 20""".stripMargin),

    // Node-similarity suite (reference `algorithms/similarity.rs` —
    // Jaccard is g08): common-neighbors, preferential-attachment,
    // Adamic-Adar and resource-allocation over the supplier co-purchase
    // neighborhoods, ranked by the integer common-neighbor count so the
    // top-20 cut is float-free and deterministic. All four are one
    // neighbor-set self-join + aggregations — the clean DF fit.
    "g28_node_similarity_suite" -> QDef(
      (s, d) => {
        val (agg, sz) = suppCooc(s, d)
        agg
          .join(sz.select(col("l_suppkey").as("sa"), col("n").as("na")), Seq("sa"))
          .join(sz.select(col("l_suppkey").as("sb"), col("n").as("nb")), Seq("sb"))
          .select(col("sa"), col("sb"), col("common_n"),
            (col("na") * col("nb")).as("pref_attach"),
            col("adamic_adar"), col("resource_alloc"))
          .orderBy(desc("common_n"), col("sa"), col("sb")).limit(20)
      },
      """WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
        |sz AS (SELECT l_suppkey, count(*) AS n FROM sp GROUP BY 1),
        |pd AS (SELECT l_partkey, count(*) AS pdeg FROM sp GROUP BY 1),
        |spc AS (SELECT sp.* FROM sp JOIN pd USING (l_partkey) WHERE pd.pdeg <= 200),
        |pairs AS (SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, a.l_partkey
        |          FROM spc a JOIN spc b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |agg AS (SELECT sa, sb, count(*) AS common_n,
        |          CAST(sum(CAST(round(1e6 / ln(pd.pdeg), 0) AS BIGINT)) AS DOUBLE) / 1e6 AS adamic_adar,
        |          CAST(sum(CAST(round(1e6 / pd.pdeg, 0) AS BIGINT)) AS DOUBLE) / 1e6 AS resource_alloc
        |        FROM pairs JOIN pd USING (l_partkey) GROUP BY sa, sb)
        |SELECT sa, sb, common_n, CAST(x.n * y.n AS BIGINT) AS pref_attach,
        |       adamic_adar, resource_alloc
        |FROM agg JOIN sz x ON sa = x.l_suppkey JOIN sz y ON sb = y.l_suppkey
        |ORDER BY common_n DESC, sa, sb LIMIT 20""".stripMargin),

    // ALL PATHS (reference `lib.rs:5076-5400`): bounded cycle-free path
    // ENUMERATION (not just endpoint census — the full path string is the
    // output), depth ≤ 2 from region:0 over parent→child tree edges.
    // Each round extends the frontier's path array by one join and drops
    // extensions that revisit a node (array_contains cycle check).
    "g27_all_paths" -> QDef(
      (s, d) => {
        val rev = TpchGraph.treeEdges(s, d).select(col("dst").as("src"), col("src").as("dst"))
        var frontier = rev.filter(col("src") === "region:0")
          .select(col("dst").as("key"), array(lit("region:0"), col("dst")).as("path"))
        var all = frontier
        for (_ <- 2 to 2) {
          frontier = frontier.join(rev, col("key") === col("src"))
            .filter(!array_contains(col("path"), col("dst")))
            .select(col("dst").as("key"), concat(col("path"), array(col("dst"))).as("path"))
          all = all.union(frontier)
        }
        all.select(array_join(col("path"), "->").as("path"),
            (size(col("path")) - 1).as("hops"))
          .orderBy("path")
      },
      """WITH p1 AS (
        |  SELECT 'region:0' || '->' || ('nation:' || CAST(n_nationkey AS VARCHAR)) AS path, 1 AS hops
        |  FROM nation WHERE n_regionkey = 0),
        |p2 AS (
        |  SELECT 'region:0' || '->' || ('nation:' || CAST(n.n_nationkey AS VARCHAR))
        |         || '->' || ('customer:' || CAST(c.c_custkey AS VARCHAR)) AS path, 2 AS hops
        |  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = 0
        |  UNION ALL
        |  SELECT 'region:0' || '->' || ('nation:' || CAST(n.n_nationkey AS VARCHAR))
        |         || '->' || ('supplier:' || CAST(s.s_suppkey AS VARCHAR)), 2
        |  FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = 0)
        |SELECT path, hops FROM p1 UNION ALL SELECT path, hops FROM p2 ORDER BY path""".stripMargin),

    // variable-length path enumeration *1..2 from region:0 following
    // reversed tree edges (parent → children), endpoint census by depth.
    "g09_var_length_paths" -> QDef(
      (s, d) => {
        val rev = TpchGraph.treeEdges(s, d).select(col("dst").as("src"), col("src").as("dst"))
        val h1 = rev.filter(col("src") === "region:0").select(col("dst").as("key"), lit(1).as("depth"))
        val h2 = h1.join(rev, col("key") === col("src"))
          .select(col("dst").as("key"), lit(2).as("depth"))
        h1.union(h2)
          .select(substring_index(col("key"), ":", 1).as("label"), col("depth"))
          .groupBy("depth", "label").agg(count(lit(1)).as("n"))
          .orderBy("depth", "label")
      },
      s"""WITH $treeEdgesSql,
         |rev AS (SELECT dst AS src, src AS dst FROM edt),
         |h1 AS (SELECT dst AS key, 1 AS depth FROM rev WHERE src = 'region:0'),
         |h2 AS (SELECT r.dst AS key, 2 AS depth FROM h1 JOIN rev r ON h1.key = r.src),
         |hs AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
         |SELECT depth, split_part(key, ':', 1) AS label, count(*) AS n
         |FROM hs GROUP BY 1, 2 ORDER BY depth, label""".stripMargin),

    // weighted shortest path (reference PATH WEIGHTED / Dijkstra):
    // 3-round Bellman-Ford relaxation, weights by edge type.
    "g10_weighted_sssp" -> QDef(
      (s, d) => {
        val w = TpchGraph.undirected(TpchGraph.edges(s, d))
          .withColumn("w", expr(
            "CASE etype WHEN 'in_region' THEN 2.0 WHEN 'in_nation' THEN 1.0 ELSE 1.5 END"))
        Algorithms.sssp(w, "customer:0", 3)
          .filter(col("key").like("nation:%") || col("key").like("region:%"))
          .select(col("key"), round(col("cost"), 4).as("cost"))
          .orderBy("key")
      },
      s"""WITH $allEdgesSql,
         |uw AS (SELECT src, dst, CASE etype WHEN 'in_region' THEN 2.0 WHEN 'in_nation' THEN 1.0 ELSE 1.5 END AS w FROM und),
         |d0 AS (SELECT 'customer:0' AS key, 0.0 AS cost),
         |d1 AS (SELECT key, min(cost) AS cost FROM (
         |  SELECT * FROM d0 UNION ALL SELECT u.dst, d0.cost + u.w FROM d0 JOIN uw u ON u.src = d0.key) t GROUP BY key),
         |d2 AS (SELECT key, min(cost) AS cost FROM (
         |  SELECT * FROM d1 UNION ALL SELECT u.dst, d1.cost + u.w FROM d1 JOIN uw u ON u.src = d1.key) t GROUP BY key),
         |d3 AS (SELECT key, min(cost) AS cost FROM (
         |  SELECT * FROM d2 UNION ALL SELECT u.dst, d2.cost + u.w FROM d2 JOIN uw u ON u.src = d2.key) t GROUP BY key)
         |SELECT key, round(cost, 4) AS cost FROM d3
         |WHERE key LIKE 'nation:%' OR key LIKE 'region:%' ORDER BY key""".stripMargin),

    // fulltext fuzzy search (reference `graph_engine/src/fulltext.rs`:
    // tokenize + prefix + Levenshtein): words within edit distance 2 of
    // 'spark' plus prefix matches.
    "g12_fulltext_fuzzy" -> QDef(
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), explode(array_distinct(split(col("text"), "\\s+"))).as("w"))
        .filter(col("w") =!= "")
        .withColumn("dist", levenshtein(col("w"), lit("spark")))
        .filter(col("dist") <= 2 || col("w").startsWith("spar"))
        .groupBy("w").agg(min("dist").cast("int").as("dist"), count(lit(1)).as("n_docs"))
        .orderBy("dist", "w"),
      """WITH w AS (
        |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS w
        |  FROM documents),
        |w2 AS (SELECT doc_id, w, levenshtein(w, 'spark') AS dist FROM w WHERE w <> '')
        |SELECT w, CAST(min(dist) AS INT) AS dist, count(*) AS n_docs
        |FROM w2 WHERE dist <= 2 OR w LIKE 'spar%'
        |GROUP BY w ORDER BY dist, w""".stripMargin),

    // geo radius search (reference `graph_engine/src/geo.rs:93-260`):
    // deterministic synthetic coordinates per customer, Haversine ≤ 3000 km
    // of (10, 20). Formula text is identical on both sides so libm noise
    // stays below the 2-decimal rounding.
    "g13_geo_radius" -> QDef(
      (s, d) => {
        import graft.functions.GeoFunctions.haversine_km
        Tables(s, d, "customer")
          .withColumn("lat", (col("c_custkey") * 7 % 17000) / lit(100.0) - 85.0)
          .withColumn("lon", (col("c_custkey") * 13 % 36000) / lit(100.0) - 180.0)
          .withColumn("dist_km", round(haversine_km(col("lat"), col("lon"), lit(10.0), lit(20.0)), 2))
          .filter(col("dist_km") <= 3000)
          .select("c_custkey", "lat", "lon", "dist_km")
          .orderBy("c_custkey")
      },
      """WITH pts AS (
        |  SELECT c_custkey,
        |    (c_custkey * 7 % 17000) / 100.0 - 85.0 AS lat,
        |    (c_custkey * 13 % 36000) / 100.0 - 180.0 AS lon
        |  FROM customer),
        |dist AS (
        |  SELECT c_custkey, lat, lon,
        |    round(2 * 6371.0 * asin(sqrt(
        |      pow(sin(radians(10.0 - lat) / 2), 2) +
        |      cos(radians(lat)) * cos(radians(10.0)) * pow(sin(radians(20.0 - lon) / 2), 2))), 2) AS dist_km
        |  FROM pts)
        |SELECT c_custkey, lat, lon, dist_km FROM dist
        |WHERE dist_km <= 3000 ORDER BY c_custkey""".stripMargin),

    // geo bbox + k-nearest (reference `geo.rs:93-260` — completes the geo
    // index surface next to g13's radius): bbox is a pure predicate
    // (partition-prunable on geohash-bucketed storage), knn ranks by the
    // ROUNDED distance with the key as tiebreaker so the cut is
    // deterministic on both engines.
    "g29_geo_bbox_knn" -> QDef(
      (s, d) => {
        import graft.functions.GeoFunctions.haversine_km
        val pts = Tables(s, d, "customer")
          .withColumn("lat", (col("c_custkey") * 7 % 17000) / lit(100.0) - 85.0)
          .withColumn("lon", (col("c_custkey") * 13 % 36000) / lit(100.0) - 180.0)
        // box sited in the band the synthetic coordinates populate at
        // EVERY scale factor (low custkeys map far south-west)
        pts.filter(col("lat").between(-85.0, -40.0) && col("lon").between(-180.0, -60.0))
          .withColumn("dist_km", round(haversine_km(col("lat"), col("lon"), lit(-60.0), lit(-120.0)), 2))
          .select("c_custkey", "lat", "lon", "dist_km")
          .orderBy("dist_km", "c_custkey").limit(15)
      },
      """WITH pts AS (
        |  SELECT c_custkey,
        |    (c_custkey * 7 % 17000) / 100.0 - 85.0 AS lat,
        |    (c_custkey * 13 % 36000) / 100.0 - 180.0 AS lon
        |  FROM customer),
        |boxed AS (
        |  SELECT c_custkey, lat, lon,
        |    round(2 * 6371.0 * asin(sqrt(
        |      pow(sin(radians(-60.0 - lat) / 2), 2) +
        |      cos(radians(lat)) * cos(radians(-60.0)) * pow(sin(radians(-120.0 - lon) / 2), 2))), 2) AS dist_km
        |  FROM pts
        |  WHERE lat BETWEEN -85.0 AND -40.0 AND lon BETWEEN -180.0 AND -60.0)
        |SELECT c_custkey, lat, lon, dist_km FROM boxed
        |ORDER BY dist_km, c_custkey LIMIT 15""".stripMargin),

    // Multi-label node model (reference node labels add/remove,
    // `graph_engine/src/lib.rs` label sets): labels are an array<string>
    // column — membership is array_contains, label add is array_union —
    // over the same single-label base nodes. The census explodes the
    // label sets and counts members per label; 'hub' is a degree-derived
    // label added to well-connected nodes, demonstrating label ADD as a
    // plain column rewrite (no graph mutation machinery).
    "g30_multilabel_census" -> QDef(
      (s, d) => {
        val deg = TpchGraph.undirected(TpchGraph.edges(s, d))
          .groupBy(col("src").as("key")).agg(count(lit(1)).as("degree"))
        val labeled = TpchGraph.nodes(s, d)
          .withColumn("labels",
            when(col("label").isin("nation", "region"), array(col("label"), lit("place")))
              .otherwise(array(col("label"), lit("party"))))
          .join(deg, Seq("key"), "left")
          .withColumn("labels",
            when(coalesce(col("degree"), lit(0L)) >= 20,
              array_union(col("labels"), array(lit("hub"))))
              .otherwise(col("labels")))
        labeled.select(explode(col("labels")).as("lbl"))
          .groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
          .orderBy("lbl")
      },
      s"""WITH $allEdgesSql,
        |deg AS (SELECT src AS key, count(*) AS degree FROM und GROUP BY src),
        |nodes AS (
        |  SELECT 'region:' || r_regionkey AS key, 'region' AS label FROM region
        |  UNION ALL SELECT 'nation:' || n_nationkey, 'nation' FROM nation
        |  UNION ALL SELECT 'customer:' || c_custkey, 'customer' FROM customer
        |  UNION ALL SELECT 'supplier:' || s_suppkey, 'supplier' FROM supplier),
        |labeled AS (
        |  SELECT n.key, label,
        |    CASE WHEN label IN ('nation', 'region') THEN 'place' ELSE 'party' END AS label2,
        |    coalesce(d.degree, 0) >= 20 AS is_hub
        |  FROM nodes n LEFT JOIN deg d ON n.key = d.key),
        |exploded AS (
        |  SELECT key, label AS lbl FROM labeled
        |  UNION ALL SELECT key, label2 FROM labeled
        |  UNION ALL SELECT key, 'hub' FROM labeled WHERE is_hub)
        |SELECT lbl, count(*) AS n_nodes FROM exploded GROUP BY lbl ORDER BY lbl""".stripMargin),

    // Grid-bucketed spatial join (geohash-style): bucket both point sets
    // into 10-degree cells, explode the probe side to its 3x3 cell
    // neighborhood, equi-join on the cell key, then verify the exact
    // haversine band. Within |lat| <= 40 a 10-degree cell is >= 850 km
    // on both axes, so the 1-cell neighborhood provably covers the
    // 500 km radius — the join is lossless, never all-pairs, and
    // partitions by cell at any scale (the same banding idea as q34's
    // time buckets, in two dimensions).
    // Coordinate siting is SF-invariant by construction: multipliers
    // 1913/2711 spread even single-digit keys over the full range (the
    // old 7/11 put every sub-sf0.01 key near the south pole → 0 rows),
    // and suppliers reuse the customer mapping shifted +0.5° (~78 km),
    // so supplier k and customer k always pair within 500 km; keys 3-6
    // land inside |lat|<=40 at every SF.
    "g31_geo_grid_join" -> QDef(
      (s, d) => {
        import graft.functions.GeoFunctions.haversine_km
        def pts(t: DataFrame, key: String, off: Double) = t
          .withColumn("lat", (col(key) * 1913 % 17000) / lit(100.0) - 85.0 + off)
          .withColumn("lon", (col(key) * 2711 % 36000) / lit(100.0) - 180.0 + off)
          .filter(col("lat").between(-40.0, 40.0))
          .withColumn("cx", floor((col("lon") + 180.0) / 10.0))
          .withColumn("cy", floor((col("lat") + 85.0) / 10.0))
        val cust = pts(Tables(s, d, "customer"), "c_custkey", 0.0)
          .select(col("c_custkey"), col("lat").as("clat"), col("lon").as("clon"), col("cx"), col("cy"))
        val supp = pts(Tables(s, d, "supplier"), "s_suppkey", 0.5)
          .select(col("s_suppkey"), col("lat").as("slat"), col("lon").as("slon"),
            explode(expr("flatten(transform(sequence(-1, 1), dx -> transform(sequence(-1, 1), dy -> struct(cx + dx AS x, cy + dy AS y))))")).as("cell"))
          .select(col("s_suppkey"), col("slat"), col("slon"),
            col("cell.x").as("cx"), col("cell.y").as("cy"))
        supp.join(cust, Seq("cx", "cy"))
          .withColumn("dist_km", round(haversine_km(col("slat"), col("slon"), col("clat"), col("clon")), 2))
          .filter(col("dist_km") <= 500.0)
          .groupBy("s_suppkey")
          .agg(count(lit(1)).as("n_near"), min("dist_km").as("min_km"))
          .orderBy("s_suppkey")
      },
      """WITH c AS (
        |  SELECT c_custkey,
        |    (c_custkey * 1913 % 17000) / 100.0 - 85.0 AS lat,
        |    (c_custkey * 2711 % 36000) / 100.0 - 180.0 AS lon
        |  FROM customer),
        |cb AS (SELECT * FROM c WHERE lat BETWEEN -40.0 AND 40.0),
        |s AS (
        |  SELECT s_suppkey,
        |    (s_suppkey * 1913 % 17000) / 100.0 - 85.0 + 0.5 AS lat,
        |    (s_suppkey * 2711 % 36000) / 100.0 - 180.0 + 0.5 AS lon
        |  FROM supplier),
        |sb AS (SELECT * FROM s WHERE lat BETWEEN -40.0 AND 40.0),
        |pairs AS (
        |  SELECT s_suppkey,
        |    round(2 * 6371.0 * asin(sqrt(
        |      pow(sin(radians(cb.lat - sb.lat) / 2), 2) +
        |      cos(radians(sb.lat)) * cos(radians(cb.lat)) * pow(sin(radians(cb.lon - sb.lon) / 2), 2))), 2) AS dist_km
        |  FROM sb CROSS JOIN cb)
        |SELECT s_suppkey, count(*) AS n_near, min(dist_km) AS min_km
        |FROM pairs WHERE dist_km <= 500.0
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin),

    // Filtered traversal (reference BFS takes a TraversalFilter with node
    // and edge predicates, `graph_engine/src/lib.rs:4674-4790`, `:482-654`):
    // BFS depth 3 from region:0 skipping same_region clique edges (edge
    // predicate) and never entering supplier nodes (node predicate). The
    // reachable set is region:0 → its nations (depth 1, tree edges only)
    // → their customers (depth 2); suppliers are filtered out and other
    // regions are unreachable without the clique edges.
    "g32_bfs_filtered" -> QDef(
      (s, d) => {
        val und = TpchGraph.undirected(TpchGraph.edges(s, d))
        val allowed = TpchGraph.nodes(s, d)
          .filter(col("label") =!= "supplier").select("key")
        Algorithms.bfs(und, Algorithms.source(s, "region:0"), Rounds(3),
          edgePred = Some(col("etype") =!= "same_region"),
          allowedNodes = Some(allowed))
          .orderBy("key")
      },
      s"""WITH $nodesSql,
         |$allEdgesSql,
         |undf AS (
         |  SELECT u.src, u.dst FROM und u JOIN nds n ON n.key = u.dst
         |  WHERE u.etype <> 'same_region' AND n.label <> 'supplier'),
         |d0 AS (SELECT 'region:0' AS key, 0 AS depth),
         |d1 AS (SELECT DISTINCT u.dst AS key, 1 AS depth FROM undf u JOIN d0 ON u.src = d0.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0)),
         |d2 AS (SELECT DISTINCT u.dst AS key, 2 AS depth FROM undf u JOIN d1 ON u.src = d1.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0 UNION ALL SELECT key FROM d1)),
         |d3 AS (SELECT DISTINCT u.dst AS key, 3 AS depth FROM undf u JOIN d2 ON u.src = d2.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0 UNION ALL SELECT key FROM d1 UNION ALL SELECT key FROM d2))
         |SELECT key, CAST(min(depth) AS INT) AS depth
         |FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3) t
         |GROUP BY key ORDER BY key""".stripMargin),

    // k-core decomposition (reference `algorithms/kcore.rs`): iteratively
    // prune nodes with degree < 2; 3 fixed rounds (converged — leaves drop
    // in round 1, the nation/region core is stable).
    "g14_kcore" -> QDef(
      (s, d) => {
        val und = TpchGraph.undirected(TpchGraph.edges(s, d)).select("src", "dst")
        Superstep.rounds(3, TpchGraph.nodes(s, d).select("key")) { (alive, _) =>
          val deg = und
            .join(alive.select(col("key").as("src")), Seq("src"))
            .join(alive.select(col("key").as("dst")), Seq("dst"))
            .groupBy("src").agg(count(lit(1)).as("deg"))
          cut(deg.filter(col("deg") >= 2).select(col("src").as("key")))
        }.select(substring_index(col("key"), ":", 1).as("label"))
          .groupBy("label").agg(count(lit(1)).as("n_nodes"))
          .orderBy("label")
      },
      s"""WITH $nodesSql,
         |$allEdgesSql,
         |e0 AS (SELECT src, dst FROM und),
         |a1 AS (SELECT src AS key FROM e0 GROUP BY src HAVING count(*) >= 2),
         |a2 AS (SELECT e.src AS key FROM e0 e
         |       JOIN a1 x ON e.src = x.key JOIN a1 y ON e.dst = y.key
         |       GROUP BY e.src HAVING count(*) >= 2),
         |a3 AS (SELECT e.src AS key FROM e0 e
         |       JOIN a2 x ON e.src = x.key JOIN a2 y ON e.dst = y.key
         |       GROUP BY e.src HAVING count(*) >= 2)
         |SELECT split_part(key, ':', 1) AS label, count(*) AS n_nodes
         |FROM a3 GROUP BY 1 ORDER BY label""".stripMargin),

    // synchronous label propagation (reference `lib.rs:7361-7440`), 3
    // rounds: each node takes the most frequent neighbor label, ties →
    // lexicographically smallest; deterministic, oracle unrolls the rounds.
    "g15_label_propagation" -> QDef(
      (s, d) => Algorithms.labelPropagation(
          TpchGraph.undirected(TpchGraph.edges(s, d)).select("src", "dst"),
          TpchGraph.nodes(s, d), 3)
        .groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
        .orderBy(desc("n_nodes"), col("lbl")).limit(20),
      s"""WITH $nodesSql,
         |$allEdgesSql,
         |l0 AS (SELECT key, key AS lbl FROM nds),
         |c1 AS (SELECT u.src, l.lbl, count(*) AS c FROM und u JOIN l0 l ON u.dst = l.key GROUP BY 1, 2),
         |l1 AS (SELECT src AS key, lbl FROM (
         |   SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM c1) t WHERE rn = 1),
         |c2 AS (SELECT u.src, l.lbl, count(*) AS c FROM und u JOIN l1 l ON u.dst = l.key GROUP BY 1, 2),
         |l2 AS (SELECT src AS key, lbl FROM (
         |   SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM c2) t WHERE rn = 1),
         |c3 AS (SELECT u.src, l.lbl, count(*) AS c FROM und u JOIN l2 l ON u.dst = l.key GROUP BY 1, 2),
         |l3 AS (SELECT src AS key, lbl FROM (
         |   SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn FROM c3) t WHERE rn = 1)
         |SELECT lbl, count(*) AS n_nodes FROM l3 GROUP BY lbl
         |ORDER BY n_nodes DESC, lbl LIMIT 20""".stripMargin),

    // Louvain-style community detection (reference `lib.rs:7442-7610`),
    // one-level synchronous variant: each sweep every node moves to the
    // neighboring community maximizing the modularity gain proxy
    // e(v,c) − deg(v)·Σtot(c)/(2m), ties → smallest community label.
    // The gain arithmetic is a fixed-shape IEEE expression over integers,
    // so both engines compute bit-identical doubles and the argmax
    // (and therefore the oracle) is deterministic. 2 sweeps.
    "g21_louvain_communities" -> QDef(
      (s, d) => Algorithms.louvainSweeps(
          TpchGraph.undirected(TpchGraph.edges(s, d)).select("src", "dst"),
          TpchGraph.nodes(s, d), 2)
        .groupBy("comm").agg(count(lit(1)).as("n_nodes"))
        .filter(col("n_nodes") >= 2)
        .orderBy(desc("n_nodes"), col("comm")).limit(30), {
        def sweep(prev: String, i: Int): String =
          s"""tot$i AS (SELECT comm, CAST(sum(deg) AS BIGINT) AS tot FROM $prev JOIN deg USING (key) GROUP BY comm),
             |evc$i AS (SELECT u.src AS key, p.comm, count(*) AS evc
             |          FROM und u JOIN $prev p ON p.key = u.dst GROUP BY u.src, p.comm),
             |gain$i AS (SELECT e.key, e.comm,
             |             e.evc - (CAST(d.deg AS DOUBLE) * t.tot) / (2.0 * (SELECT count(*) FROM und) / 2.0) AS gain
             |           FROM evc$i e JOIN tot$i t USING (comm) JOIN deg d ON d.key = e.key),
             |c$i AS (SELECT key, comm FROM (
             |          SELECT key, comm, row_number() OVER (PARTITION BY key ORDER BY gain DESC, comm) AS rn
             |          FROM gain$i) q WHERE rn = 1)""".stripMargin
        s"""WITH $nodesSql,
           |$allEdgesSql,
           |u2 AS (SELECT src, dst FROM und),
           |deg AS (SELECT src AS key, count(*) AS deg FROM und GROUP BY src),
           |c0 AS (SELECT key, key AS comm FROM nds),
           |${sweep("c0", 1)},
           |${sweep("c1", 2)}
           |SELECT comm, count(*) AS n_nodes FROM c2 GROUP BY comm
           |HAVING count(*) >= 2 ORDER BY n_nodes DESC, comm LIMIT 30""".stripMargin
      }),

    // closeness centrality (reference `lib.rs:7222-7277`) over the
    // nation–region star subgraph: multi-source BFS (2 hops = diameter),
    // closeness = (reached−1)/Σdist.
    "g18_closeness_centrality" -> QDef(
      (s, d) => {
        val e = TpchGraph.treeEdges(s, d).filter(col("etype") === "in_region")
        val und = e.select(col("src"), col("dst"))
          .union(e.select(col("dst").as("src"), col("src").as("dst")))
        val n30 = und.select(col("src").as("key")).distinct()
        Algorithms.closeness(und, n30, Rounds(2))
          .orderBy(desc("closeness"), col("key")).limit(30)
      },
      s"""WITH $treeEdgesSql,
         |e AS (SELECT src, dst FROM edt WHERE etype = 'in_region'),
         |und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
         |n30 AS (SELECT DISTINCT src AS key FROM und),
         |r0 AS (SELECT key AS source, key, 0 AS dd FROM n30),
         |r1 AS (SELECT r0.source, u.dst AS key, 1 AS dd FROM r0 JOIN und u ON r0.key = u.src),
         |r2 AS (SELECT r1.source, u.dst AS key, 2 AS dd FROM r1 JOIN und u ON r1.key = u.src),
         |mind AS (SELECT source, key, min(dd) AS dd FROM
         |         (SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2) t
         |         GROUP BY 1, 2)
         |SELECT source AS key, round((count(*) - 1) * 1.0 / sum(dd), 6) AS closeness
         |FROM mind GROUP BY source ORDER BY closeness DESC, key LIMIT 30""".stripMargin),

    // betweenness centrality (reference Brandes `lib.rs:7058-7220`) over
    // the nation–region star subgraph. Exact for diameter-2 graphs: v is
    // on the (unique-length-2) shortest s→t path iff d(s,v)=d(v,t)=1 and
    // d(s,t)=2, weighted by 1/σ_st (σ = number of such midpoints). The
    // general sampled-Brandes variant stays a round-2 item.
    "g20_betweenness" -> QDef(
      (s, d) => {
        val e = TpchGraph.treeEdges(s, d).filter(col("etype") === "in_region")
        val und = e.select(col("src"), col("dst"))
          .union(e.select(col("dst").as("src"), col("src").as("dst")))
        val d1 = und.select(col("src").as("a"), col("dst").as("b"))
        // d(s,t)=2 pairs with midpoint count σ (s < t to halve work)
        val two = d1.select(col("a").as("s"), col("b").as("m"))
          .join(d1.select(col("a").as("m"), col("b").as("t")), Seq("m"))
          .filter(col("s") < col("t"))
          .join(d1.select(col("a").as("s"), col("b").as("t")), Seq("s", "t"), "left_anti") // exclude d=1 pairs
        val sigma = two.groupBy("s", "t").agg(count(lit(1)).as("sigma"))
        two.join(sigma, Seq("s", "t"))
          .groupBy(col("m").as("key"))
          .agg(round(sum(lit(1.0) / col("sigma")), 6).as("betweenness"))
          .orderBy(desc("betweenness"), col("key")).limit(10)
      },
      s"""WITH $treeEdgesSql,
         |e AS (SELECT src, dst FROM edt WHERE etype = 'in_region'),
         |und AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e),
         |two AS (
         |  SELECT x.a AS s, x.b AS m, y.b AS t FROM und x JOIN und y ON x.b = y.a
         |  WHERE x.a < y.b AND NOT EXISTS (SELECT 1 FROM und z WHERE z.a = x.a AND z.b = y.b)),
         |sigma AS (SELECT s, t, count(*) AS sigma FROM two GROUP BY s, t)
         |SELECT m AS key, round(sum(1.0 / sigma), 6) AS betweenness
         |FROM two JOIN sigma USING (s, t)
         |GROUP BY m ORDER BY betweenness DESC, key LIMIT 10""".stripMargin),

    // minimum spanning tree via Borůvka rounds (reference Kruskal-style
    // `algorithms/mst.rs`): each component picks its cheapest outgoing
    // edge, components merge, repeat. Unique weights w = ka·1000 + kb make
    // the MST deterministic (a star around each region's min nation),
    // which the oracle derives in closed form.
    "g19_mst_boruvka" -> QDef(
      (s, d) => {
        val n = Tables(s, d, "nation")
        // loop-invariant edge/node frames materialize once (r13 §2.4)
        val e = cut(
          n.select(col("n_nationkey").as("ka"), col("n_regionkey").as("ra"))
          .join(n.select(col("n_nationkey").as("kb"), col("n_regionkey").as("rb")),
            col("ra") === col("rb") && col("ka") < col("kb"))
          .select(concat(lit("nation:"), col("ka").cast("string")).as("src"),
            concat(lit("nation:"), col("kb").cast("string")).as("dst"),
            (col("ka") * 1000 + col("kb")).cast("long").as("w")))
        val nodes = cut(
          n.select(concat(lit("nation:"), col("n_nationkey").cast("string")).as("key")))
        val start = (nodes.select(col("key"), col("key").as("cmp")), e.limit(0))
        val (_, mst) = Superstep.rounds(2, start) { case ((comp, mst0), _) =>
          val labeled = e
            .join(comp.select(col("key").as("src"), col("cmp").as("csrc")), Seq("src"))
            .join(comp.select(col("key").as("dst"), col("cmp").as("cdst")), Seq("dst"))
            .filter(col("csrc") =!= col("cdst"))
          val cand = labeled.select(col("csrc").as("c"), col("w"), col("src"), col("dst"))
            .union(labeled.select(col("cdst").as("c"), col("w"), col("src"), col("dst")))
          // per-component cheapest edge by (w, src, dst) asc as ONE
          // aggregation — min of the struct, identical to the old
          // row_number()=1 window row (see Algorithms.labelPropagation)
          val picked = cand.groupBy("c")
            .agg(min(struct(col("w"), col("src"), col("dst"))).as("s"))
            .select(col("s.src").as("src"), col("s.dst").as("dst"), col("s.w").as("w"))
          val mst = cut(mst0.union(picked).distinct())
          val undMst = mst.select("src", "dst").union(mst.select(col("dst").as("src"), col("src").as("dst")))
          (Algorithms.connectedComponents(undMst, nodes, Rounds(4))
            .select(col("key"), col("component").as("cmp")), mst)
        }
        mst.join(Tables(s, d, "nation")
            .select(concat(lit("nation:"), col("n_nationkey").cast("string")).as("src"),
              col("n_regionkey").as("region")), Seq("src"))
          .groupBy("region")
          .agg(count(lit(1)).as("n_edges"), sum("w").as("total_w"))
          .orderBy("region")
      },
      """WITH m AS (SELECT n_regionkey AS region, min(n_nationkey) AS k0 FROM nation GROUP BY 1)
        |SELECT m.region, count(*) AS n_edges,
        |  CAST(sum(m.k0 * 1000 + n.n_nationkey) AS BIGINT) AS total_w
        |FROM nation n JOIN m ON n.n_regionkey = m.region AND n.n_nationkey <> m.k0
        |GROUP BY m.region ORDER BY m.region""".stripMargin),

    // strongly connected components (reference Tarjan `algorithms/scc.rs`)
    // over tree edges + directed per-region nation rings: each ring is one
    // 5-nation SCC, everything else is a singleton. Oracle derives the
    // expected size histogram independently from the table counts.
    "g17_scc" -> QDef(
      (s, d) => {
        val e = TpchGraph.treeEdges(s, d).union(TpchGraph.nationCycleEdges(s, d))
        Algorithms.stronglyConnectedComponents(e, TpchGraph.nodes(s, d), 7)
          .groupBy("scc").agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("scc_size")).agg(count(lit(1)).as("n_sccs"))
          .orderBy("scc_size")
      },
      """SELECT CAST(1 AS BIGINT) AS scc_size,
        |  CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier) + 5 AS BIGINT) AS n_sccs
        |UNION ALL SELECT 5, 5 ORDER BY scc_size""".stripMargin),

    // eigenvector centrality (reference `lib.rs:7278-7360`): 4 power
    // iterations with max-normalization, top 20.
    "g16_eigenvector_centrality" -> QDef(
      (s, d) => Algorithms.eigenvector(
        TpchGraph.undirected(TpchGraph.edges(s, d)), TpchGraph.nodes(s, d), 4)
        .select(col("key"), round(col("x"), 6).as("score"))
        .orderBy(desc("score"), col("key")).limit(20), {
        val sb = new StringBuilder
        sb ++= s"WITH $nodesSql,\n$allEdgesSql,\n"
        sb ++= "x0 AS (SELECT key, 1.0 AS x FROM nds)"
        for (i <- 1 to 4) {
          sb ++= s""",
                    |ax$i AS (SELECT u.dst AS key, sum(p.x) AS ax FROM und u JOIN x${i - 1} p ON p.key = u.src GROUP BY u.dst),
                    |x$i AS (SELECT n.key, coalesce(a.ax, 0) / (SELECT max(ax) FROM ax$i) AS x
                    |        FROM nds n LEFT JOIN ax$i a ON a.key = n.key)""".stripMargin
        }
        sb ++= "\nSELECT key, round(x, 6) AS score FROM x4 ORDER BY score DESC, key LIMIT 20"
        sb.toString
      }),

    // motif / pattern match (reference Pattern chains + Cypher MATCH):
    // (c:customer)-[:in_nation]->(n:nation)-[:in_region]->(r {name:'ASIA'})
    "g11_motif_match" -> QDef(
      (s, d) => {
        val e = TpchGraph.treeEdges(s, d)
        val nodes = TpchGraph.nodes(s, d)
        val cn = e.filter(col("etype") === "in_nation" && col("src").like("customer:%"))
          .select(col("src").as("c"), col("dst").as("n"))
        val nr = e.filter(col("etype") === "in_region")
          .select(col("src").as("n"), col("dst").as("r"))
        val asia = nodes.filter(col("label") === "region" && col("name") === "ASIA")
          .select(col("key").as("r"))
        cn.join(nr, Seq("n")).join(asia, Seq("r"))
          .join(nodes.select(col("key").as("n"), col("name").as("nation_name")), Seq("n"))
          .groupBy("nation_name").agg(count(lit(1)).as("n_customers"))
          .orderBy("nation_name")
      },
      s"""WITH $nodesSql,
         |$treeEdgesSql
         |SELECT nn.name AS nation_name, count(*) AS n_customers
         |FROM edt cn
         |JOIN edt nr ON cn.dst = nr.src AND nr.etype = 'in_region'
         |JOIN nds r ON nr.dst = r.key AND r.label = 'region' AND r.name = 'ASIA'
         |JOIN nds nn ON cn.dst = nn.key
         |WHERE cn.etype = 'in_nation' AND cn.src LIKE 'customer:%'
         |GROUP BY nn.name ORDER BY nation_name""".stripMargin),

    // General sampled-Brandes betweenness (Algorithms.betweennessBrandes;
    // supersedes the diameter-2-only midpoint form of g20). Graph: nations
    // + regions + every-10th customer, with customers dual-homed to their
    // nation AND region so σ(s,t) > 1 genuinely occurs (σ ∈ {1,2}: every
    // depth-2 node has ≤ 2 predecessors, so σ ratios are dyadic and the
    // δ accumulation is bit-exact across engines — no FP-order hazard).
    // Sources: all nations + regions + every-250th customer (the pivot
    // sample); diameter is exactly 2 (each region hub is universal).
    "g22_betweenness_brandes" -> QDef(
      (s, d) => {
        val n = Tables(s, d, "nation")
        val cust = Tables(s, d, "customer").filter(col("c_custkey") % 10 === 1)
        val n2r = n.select(concat(lit("nation:"), col("n_nationkey").cast("string")).as("src"),
          concat(lit("region:"), col("n_regionkey").cast("string")).as("dst"))
        val cliq = TpchGraph.sameRegionEdges(s, d).select("src", "dst")
        val c2n = cust.select(concat(lit("customer:"), col("c_custkey").cast("string")).as("src"),
          concat(lit("nation:"), col("c_nationkey").cast("string")).as("dst"))
        val c2r = cust.join(n, col("c_nationkey") === col("n_nationkey"))
          .select(concat(lit("customer:"), col("c_custkey").cast("string")).as("src"),
            concat(lit("region:"), col("n_regionkey").cast("string")).as("dst"))
        val ed = n2r.union(cliq).union(c2n).union(c2r)
        val und = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
        val sources = n.select(concat(lit("nation:"), col("n_nationkey").cast("string")).as("key"))
          .union(Tables(s, d, "region")
            .select(concat(lit("region:"), col("r_regionkey").cast("string")).as("key")))
          .union(cust.filter(col("c_custkey") % 250 === 1)
            .select(concat(lit("customer:"), col("c_custkey").cast("string")).as("key")))
        Algorithms.betweennessBrandes(und, sources, Rounds(2))
          .select(col("key"), round(col("betweenness"), 6).as("betweenness"))
          .orderBy(desc("betweenness"), col("key")).limit(20)
      },
      """WITH cust AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 10 = 1),
        |ed AS (
        |  SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS src, 'region:' || CAST(n_regionkey AS VARCHAR) AS dst FROM nation
        |  UNION ALL SELECT 'nation:' || CAST(a.n_nationkey AS VARCHAR), 'nation:' || CAST(b.n_nationkey AS VARCHAR)
        |    FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        |  UNION ALL SELECT 'customer:' || CAST(c_custkey AS VARCHAR), 'nation:' || CAST(c_nationkey AS VARCHAR) FROM cust
        |  UNION ALL SELECT 'customer:' || CAST(c.c_custkey AS VARCHAR), 'region:' || CAST(n.n_regionkey AS VARCHAR)
        |    FROM cust c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |und AS (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed),
        |srcs AS (
        |  SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS key FROM nation
        |  UNION ALL SELECT 'region:' || CAST(r_regionkey AS VARCHAR) FROM region
        |  UNION ALL SELECT 'customer:' || CAST(c_custkey AS VARCHAR) FROM cust WHERE c_custkey % 250 = 1),
        |b0 AS (SELECT key AS source, key, CAST(1 AS BIGINT) AS sigma FROM srcs),
        |b1 AS (SELECT b.source, u.dst AS key, CAST(sum(b.sigma) AS BIGINT) AS sigma
        |       FROM b0 b JOIN und u ON u.src = b.key
        |       WHERE NOT EXISTS (SELECT 1 FROM b0 p WHERE p.source = b.source AND p.key = u.dst)
        |       GROUP BY 1, 2),
        |b2 AS (SELECT b.source, u.dst AS key, CAST(sum(b.sigma) AS BIGINT) AS sigma
        |       FROM b1 b JOIN und u ON u.src = b.key
        |       WHERE NOT EXISTS (SELECT 1 FROM b0 p WHERE p.source = b.source AND p.key = u.dst)
        |         AND NOT EXISTS (SELECT 1 FROM b1 p WHERE p.source = b.source AND p.key = u.dst)
        |       GROUP BY 1, 2),
        |d2 AS (SELECT source, key, sigma, CAST(0.0 AS DOUBLE) AS delta FROM b2),
        |d1 AS (SELECT b.source, b.key, b.sigma,
        |              coalesce(sum((CAST(b.sigma AS DOUBLE) / w.sigma) * (1.0 + w.delta)), 0.0) AS delta
        |       FROM b1 b
        |       LEFT JOIN und u ON u.src = b.key
        |       LEFT JOIN d2 w ON w.source = b.source AND w.key = u.dst
        |       GROUP BY b.source, b.key, b.sigma)
        |SELECT key, round(sum(delta), 6) AS betweenness
        |FROM (SELECT source, key, delta FROM d1 UNION ALL SELECT source, key, delta FROM d2) t
        |WHERE key <> source
        |GROUP BY key ORDER BY betweenness DESC, key LIMIT 20""".stripMargin),

    // Multi-level Louvain (reference `lib.rs:7442-7610`): 2 g21-style
    // sweeps at level 0, contract communities into a weighted super-graph
    // (edge weight = symmetric-closure edge count, self-loops included on
    // both sides identically), 2 weighted sweeps at level 1, then project
    // super-communities back onto the original nodes. Total edge mass 2m
    // is invariant under contraction, and the weighted gain keeps the g21
    // fixed-IEEE-shape property (all inputs integers), so the argmax and
    // the oracle stay deterministic.
    "g23_louvain_multilevel" -> QDef(
      (s, d) => {
        // both levels are the g21 sweeps (Algorithms.louvainSweeps), which
        // materialize their edge and degree frames once per level
        val und = TpchGraph.undirected(TpchGraph.edges(s, d)).select("src", "dst")
        val comm = Algorithms.louvainSweeps(und, TpchGraph.nodes(s, d).select("key"), 2)
        // contraction: super-nodes = level-0 communities, weighted edges.
        // 2m (the total weight) is invariant under contraction.
        // louvainSweeps cuts it once. Its super-nodes are the level-0
        // communities: the sweeps keep only nodes with an edge, so every
        // community is an `src` of su.
        val su = und
          .join(comm.select(col("key").as("src"), col("comm").as("csrc")), Seq("src"))
          .join(comm.select(col("key").as("dst"), col("comm").as("cdst")), Seq("dst"))
          .groupBy(col("csrc").as("src"), col("cdst").as("dst")).agg(count(lit(1)).as("w"))
        val comm2 = Algorithms.louvainSweeps(su, comm.select(col("comm").as("key")).distinct(), 2)
        comm.select(col("key"), col("comm").as("c0"))
          .join(comm2.select(col("key").as("c0"), col("comm").as("cf")), Seq("c0"))
          .groupBy(col("cf").as("comm")).agg(count(lit(1)).as("n_nodes"))
          .filter(col("n_nodes") >= 2)
          .orderBy(desc("n_nodes"), col("comm")).limit(30)
      }, {
        def sweep(prev: String, out: String, edges: String, evcExpr: String,
            degT: String): String =
          s"""tot_$out AS (SELECT comm, CAST(sum(deg) AS BIGINT) AS tot FROM $prev JOIN $degT USING (key) GROUP BY comm),
             |evc_$out AS (SELECT u.src AS key, p.comm, CAST($evcExpr AS BIGINT) AS evc
             |          FROM $edges u JOIN $prev p ON p.key = u.dst GROUP BY u.src, p.comm),
             |gain_$out AS (SELECT e.key, e.comm,
             |             e.evc - (CAST(d.deg AS DOUBLE) * t.tot) / (2.0 * (SELECT count(*) FROM und) / 2.0) AS gain
             |           FROM evc_$out e JOIN tot_$out t USING (comm) JOIN $degT d ON d.key = e.key),
             |$out AS (SELECT key, comm FROM (
             |          SELECT key, comm, row_number() OVER (PARTITION BY key ORDER BY gain DESC, comm) AS rn
             |          FROM gain_$out) q WHERE rn = 1)""".stripMargin
        s"""WITH $nodesSql,
           |$allEdgesSql,
           |deg AS (SELECT src AS key, count(*) AS deg FROM und GROUP BY src),
           |c0 AS (SELECT key, key AS comm FROM nds),
           |${sweep("c0", "c1", "und", "count(*)", "deg")},
           |${sweep("c1", "c2", "und", "count(*)", "deg")},
           |su AS (SELECT p1.comm AS src, p2.comm AS dst, CAST(count(*) AS BIGINT) AS w
           |       FROM und u JOIN c2 p1 ON p1.key = u.src JOIN c2 p2 ON p2.key = u.dst
           |       GROUP BY 1, 2),
           |degw AS (SELECT src AS key, CAST(sum(w) AS BIGINT) AS deg FROM su GROUP BY 1),
           |s0 AS (SELECT DISTINCT src AS key, src AS comm FROM su),
           |${sweep("s0", "s1", "su", "sum(u.w)", "degw")},
           |${sweep("s1", "s2", "su", "sum(u.w)", "degw")}
           |SELECT s2.comm AS comm, count(*) AS n_nodes
           |FROM c2 l0 JOIN s2 ON s2.key = l0.comm
           |GROUP BY 1 HAVING count(*) >= 2 ORDER BY n_nodes DESC, s2.comm LIMIT 30""".stripMargin
      }),

    // A* weighted path (reference `algorithms/astar.rs`): band graph over
    // all 25 nations (edge iff |Δkey| ≤ 7, w = Δkey² — convex, so hopping
    // key-by-key is optimal) with the admissible 1-D embedding heuristic
    // h(v) = |key(v) − key(target)| (each hop moves ≥ 1 key and costs ≥
    // its key distance). Cost parity with plain Bellman-Ford is the
    // oracle; the pruning effect is asserted in AlgorithmsSpec.
    // Biconnected components (reference `algorithms/biconnected.rs`, a
    // sequential DFS low-link — rebuilt as the distributed auxiliary-graph
    // formulation, see Algorithms.biconnectedComponents). On this graph
    // every region's wheel (5 clique nations + 5 spokes to the region hub)
    // is one 15-edge biconnected component and every customer/supplier
    // edge is a bridge, so the oracle is closed-form from the table
    // counts; the Spark side computes it generically (BFS forest → LCA
    // cycle climb → edge-graph CC).
    "g25_biconnected" -> QDef(
      (s, d) => bicompLabels(s, d)
          .groupBy("bicomp").agg(count(lit(1)).as("n_edges"))
          .groupBy(col("n_edges").as("component_edges")).agg(count(lit(1)).as("n_components"))
          .orderBy("component_edges"),
      """SELECT CAST(1 AS BIGINT) AS component_edges,
        |       (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier) AS n_components
        |UNION ALL
        |SELECT CAST(15 AS BIGINT), (SELECT count(*) FROM region)
        |ORDER BY component_edges""".stripMargin),

    // Articulation points from the biconnected labeling: a node is an
    // articulation point iff it touches ≥ 2 biconnected components. Here
    // that is exactly the nations that own at least one customer or
    // supplier leaf (wheel + bridge), which the oracle states directly.
    "g26_articulation_points" -> QDef(
      (s, d) => bicompLabels(s, d)
          .select(explode(array(col("src"), col("dst"))).as("key"), col("bicomp"))
          .groupBy("key").agg(countDistinct("bicomp").as("nc"))
          .filter(col("nc") >= 2)
          .select(substring_index(col("key"), ":", 1).as("label"))
          .groupBy("label").agg(count(lit(1)).as("n_articulation"))
          .orderBy("label"),
      """SELECT 'nation' AS label, count(*) AS n_articulation
        |FROM nation n
        |WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
        |   OR EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
        |ORDER BY label""".stripMargin),

    // Bridges (cut edges) from the same shared biconnected labeling: an
    // edge is a bridge iff it is ALONE in its biconnected component —
    // the edge analogue of g26's articulation points, completing the
    // bridge/articulation family (reference biconnected machinery,
    // `graph_engine/src/algorithms/`). In this topology the bridges are
    // exactly the customer/supplier leaf edges (nation-region edges ride
    // the per-region wheels), which the oracle states directly — an
    // 'other' bucket or a missing leaf would break the hash match.
    "g45_bridges" -> QDef(
      (s, d) => {
        val w = Window.partitionBy("bicomp")
        bicompLabels(s, d)
          .withColumn("comp_edges", count(lit(1)).over(w))
          .filter(col("comp_edges") === 1)
          .withColumn("edge_kind",
            when(col("src").like("customer:%") || col("dst").like("customer:%"), "customer_leaf")
              .when(col("src").like("supplier:%") || col("dst").like("supplier:%"), "supplier_leaf")
              .otherwise("other"))
          .groupBy("edge_kind").agg(count(lit(1)).as("n_bridges"))
          .orderBy("edge_kind")
      },
      """SELECT 'customer_leaf' AS edge_kind, (SELECT count(*) FROM customer) AS n_bridges
        |UNION ALL
        |SELECT 'supplier_leaf', (SELECT count(*) FROM supplier)
        |ORDER BY edge_kind""".stripMargin),

    "g24_astar_path" -> QDef(
      (s, d) => {
        val n = Tables(s, d, "nation")
        val a = n.select(col("n_nationkey").as("ka"))
        val b = n.select(col("n_nationkey").as("kb"))
        val band = a.join(b, col("ka") =!= col("kb") && abs(col("ka") - col("kb")) <= 7)
          .select(concat(lit("nation:"), col("ka").cast("string")).as("src"),
            concat(lit("nation:"), col("kb").cast("string")).as("dst"),
            ((col("ka") - col("kb")) * (col("ka") - col("kb"))).cast("double").as("w"))
        val h = n.select(concat(lit("nation:"), col("n_nationkey").cast("string")).as("key"),
          abs(col("n_nationkey") - lit(8)).cast("double").as("h"))
        Algorithms.astar(band, h, "nation:0", "nation:8", 8)
          .select(col("from_key"), col("to_key"), round(col("cost"), 4).as("cost"))
      }, {
        val sb = new StringBuilder
        sb ++= """WITH e AS (SELECT 'nation:' || CAST(a.n_nationkey AS VARCHAR) AS src,
                 |            'nation:' || CAST(b.n_nationkey AS VARCHAR) AS dst,
                 |            CAST((a.n_nationkey - b.n_nationkey) * (a.n_nationkey - b.n_nationkey) AS DOUBLE) AS w
                 |          FROM nation a JOIN nation b
                 |          ON a.n_nationkey <> b.n_nationkey AND abs(a.n_nationkey - b.n_nationkey) <= 7),
                 |c0 AS (SELECT 'nation:0' AS key, CAST(0 AS DOUBLE) AS cost)""".stripMargin
        for (i <- 1 to 8) {
          sb ++= s""",
                    |c$i AS (SELECT key, min(cost) AS cost FROM (
                    |  SELECT key, cost FROM c${i - 1}
                    |  UNION ALL SELECT e.dst, p.cost + e.w FROM c${i - 1} p JOIN e ON e.src = p.key) t
                    |  GROUP BY key)""".stripMargin
        }
        sb ++= "\nSELECT 'nation:0' AS from_key, key AS to_key, round(cost, 4) AS cost FROM c8 WHERE key = 'nation:8'"
        sb.toString
      }),

    // Harmonic centrality (g18's closeness made robust to disconnection:
    // sum of 1/d instead of n/sum(d), the form recommended for graphs
    // with unreachable pairs — Boldi & Vigna, "Axioms for Centrality").
    // Same 2-hop multi-source BFS frame as g18 over the nation/region
    // tree; with distances capped at 2 the score is (2·n1 + n2)/2, an
    // INTEGER expression until the final halving, so no float-sum order
    // dependence between engines. One shuffle per BFS round on the
    // frontier key — the multi-source form that batches all sources in
    // one frame instead of |V| sequential traversals.
    "g34_harmonic_centrality" -> QDef(
      (s, d) => {
        val e = TpchGraph.treeEdges(s, d).filter(col("etype") === "in_region")
        val und = e.select(col("src"), col("dst"))
          .union(e.select(col("dst").as("src"), col("src").as("dst")))
        val n30 = und.select(col("src").as("key")).distinct()
        Algorithms.sourceDistances(und, n30, Rounds(2))
          .filter(col("dd") > 0)
          .groupBy("source").agg(
            sum(when(col("dd") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("dd") === 2, 1L).otherwise(0L)).as("n2"))
          .select(col("source").as("key"),
            ((col("n1") * 2 + col("n2")) / lit(2.0)).as("harmonic"))
          .orderBy(desc("harmonic"), col("key")).limit(30)
      },
      s"""WITH $treeEdgesSql,
         |e AS (SELECT src, dst FROM edt WHERE etype = 'in_region'),
         |und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
         |n30 AS (SELECT DISTINCT src AS key FROM und),
         |r0 AS (SELECT key AS source, key, 0 AS dd FROM n30),
         |r1 AS (SELECT r0.source, u.dst AS key, 1 AS dd FROM r0 JOIN und u ON r0.key = u.src),
         |r2 AS (SELECT r1.source, u.dst AS key, 2 AS dd FROM r1 JOIN und u ON r1.key = u.src),
         |mind AS (SELECT source, key, min(dd) AS dd FROM
         |         (SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2) t
         |         GROUP BY 1, 2)
         |SELECT source AS key,
         |  CAST((sum(CASE WHEN dd = 1 THEN 1 ELSE 0 END) * 2
         |        + sum(CASE WHEN dd = 2 THEN 1 ELSE 0 END)) AS DOUBLE) / 2 AS harmonic
         |FROM mind WHERE dd > 0
         |GROUP BY source ORDER BY harmonic DESC, key LIMIT 30""".stripMargin),

    // Deterministic hash-greedy random walk (node2vec-style neighborhood
    // sampling with the RNG replaced by md5 so the oracle replays the
    // exact walk): from each seed node, 3 steps; each step moves to the
    // neighbor minimizing md5("<step>|<cur>|<next>"). Each step is ONE
    // frontier⋈edges join (shuffle keyed on the current node) plus a
    // per-walk argmin — at scale the frontier is ∝ number of walks, not
    // graph size, which is exactly how a distributed embedding-corpus
    // walk generator stays bounded on a 100 TB graph.
    "g35_random_walk" -> QDef(
      (s, d) => {
        val und = TpchGraph.undirected(TpchGraph.edges(s, d))
        val seeds = TpchGraph.nodes(s, d)
          .filter(col("key").isin((0 until 5).map(i => s"supplier:$i"): _*))
          .select("key")
        Algorithms.hashGreedyWalk(und, seeds, 3)
          .select(col("walk_id"), col("cur").as("final_node"), col("path"))
          .orderBy("walk_id")
      }, {
        val steps = (1 to 3).map { i =>
          s"""s$i AS (SELECT walk_id, cur, path FROM (
             |  SELECT w.walk_id, u.dst AS cur, w.path || '->' || u.dst AS path,
             |    row_number() OVER (PARTITION BY w.walk_id
             |      ORDER BY md5('$i|' || w.cur || '|' || u.dst), u.dst) AS rn
             |  FROM s${i - 1} w JOIN und u ON u.src = w.cur) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH $nodesSql,
           |$allEdgesSql,
           |s0 AS (SELECT key AS walk_id, key AS cur, key AS path FROM nds
           |       WHERE key IN ('supplier:0','supplier:1','supplier:2','supplier:3','supplier:4')),
           |$steps
           |SELECT walk_id, cur AS final_node, path FROM s3 ORDER BY walk_id""".stripMargin
      }),

    // 4-truss of the full graph (clique + hierarchy edges): every edge
    // must close ≥ 2 triangles; customer/supplier spokes (support 0) peel
    // off, the nation-clique + nation-region core (support 4) survives.
    // Distributed edge-peeling (`Algorithms.ktruss`) with a recompute
    // that PROVES the fixpoint; the oracle unrolls the same 2 rounds.
    // On this topology round 1 already converges — the 2-round cascade
    // case (bowtie) is exercised in AlgorithmsSpec.
    "g36_ktruss" -> QDef(
      (s, d) => {
        // memoized canonical frame = the listing's simple-graph precondition
        val und = TpchGraph.canonicalEdges(s, d)
        Algorithms.ktruss(und, k = 4, rounds = 2)
          .select(explode(array(col("u"), col("v"))).as("key"))
          .groupBy("key").agg(count(lit(1)).as("n_truss_edges"))
          .orderBy("key")
      }, {
        val peels = (1 to 2).map { i =>
          s"""adj$i AS (SELECT u AS x, v AS w FROM e${i - 1} UNION ALL SELECT v, u FROM e${i - 1}),
             |sup$i AS (SELECT e.u, e.v, count(*) AS sup FROM e${i - 1} e
             |          JOIN adj$i a ON a.x = e.u JOIN adj$i b ON b.x = e.v AND b.w = a.w
             |          GROUP BY e.u, e.v),
             |e$i AS (SELECT e.u, e.v FROM e${i - 1} e
             |        JOIN sup$i s ON s.u = e.u AND s.v = e.v AND s.sup >= 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH $allEdgesSql,
           |e0 AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v FROM ed),
           |$peels
           |SELECT key, count(*) AS n_truss_edges
           |FROM (SELECT u AS key FROM e2 UNION ALL SELECT v FROM e2)
           |GROUP BY key ORDER BY key""".stripMargin
      }),

    // HITS hubs & authorities (Kleinberg) over the DIRECTED edge set —
    // the query-dependent companion to g05 PageRank / g16 eigenvector
    // (reference centrality suite, graph_engine/src/lib.rs:7058-7220
    // neighborhood). 4 unrolled rounds, max-normalized per half-step so
    // the oracle mirrors the exact arithmetic. Each half-round is one
    // shuffle keyed on the receiving endpoint.
    "g37_hits" -> QDef(
      (s, d) => Algorithms.hits(TpchGraph.edges(s, d), TpchGraph.nodes(s, d), 4)
        .select(col("key"), round(col("hub"), 6).as("hub"), round(col("auth"), 6).as("auth"))
        .orderBy(desc("auth"), desc("hub"), col("key")).limit(20), {
        val sb = new StringBuilder
        sb ++= s"WITH $nodesSql,\n$allEdgesSql,\n"
        // AS MATERIALIZED: the two interleaved score chains reference each
        // CTE twice per half-step (value + max); inlined, the plan copies
        // multiply 4× per iteration and DuckDB's planner blows up.
        sb ++= "h0 AS MATERIALIZED (SELECT key, 1.0 AS hub FROM nds)"
        for (i <- 1 to 4) {
          sb ++= s""",
                    |a${i}0 AS MATERIALIZED (SELECT e.dst AS key, sum(p.hub) AS a0 FROM ed e JOIN h${i - 1} p ON p.key = e.src GROUP BY e.dst),
                    |a$i AS MATERIALIZED (SELECT n.key, coalesce(x.a0, 0) / (SELECT max(a0) FROM a${i}0) AS auth
                    |        FROM nds n LEFT JOIN a${i}0 x ON x.key = n.key),
                    |h${i}0 AS MATERIALIZED (SELECT e.src AS key, sum(p.auth) AS h0 FROM ed e JOIN a$i p ON p.key = e.dst GROUP BY e.src),
                    |h$i AS MATERIALIZED (SELECT n.key, coalesce(x.h0, 0) / (SELECT max(h0) FROM h${i}0) AS hub
                    |        FROM nds n LEFT JOIN h${i}0 x ON x.key = n.key)""".stripMargin
        }
        sb ++= """
                 |SELECT h4.key, round(h4.hub, 6) AS hub, round(a4.auth, 6) AS auth
                 |FROM h4 JOIN a4 ON a4.key = h4.key
                 |ORDER BY auth DESC, hub DESC, h4.key LIMIT 20""".stripMargin
        sb.toString
      }),

    // Local clustering coefficient per node: cc(v) = 2·T(v)/(deg(v)·
    // (deg(v)−1)) over the undirected simple graph — the per-node form of
    // g07's global triangle count. Triangles are listed once each via the
    // degree-ordered orientation (Algorithms.triangleTriples, Σ d⁺² ≤
    // O(|E|^{3/2}) wedges) and scattered to their corners; the naive
    // center-keyed wedge join measured exponent 1.78 at sf1.0 (nation
    // hubs have SF-linear degree, so Σ deg² is quadratic — PERF.md round
    // 9). The one division of two integers is bit-exact on both engines.
    "g38_local_clustering" -> QDef(
      // memoized whole-graph (key, deg, tri) stats, shared with g47/g51
      (s, d) => triStatsCanonical(s, d).filter(col("deg") >= 2)
        .select(col("key"), col("deg"), col("tri"),
          round(col("tri") * lit(2.0) / (col("deg") * (col("deg") - lit(1))), 6).as("cc"))
        .orderBy(desc("cc"), col("key")).limit(20),
      s"""WITH $allEdgesSql,
         |e0 AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v FROM ed),
         |u2 AS (SELECT u AS x, v AS w FROM e0 UNION ALL SELECT v, u FROM e0),
         |deg AS (SELECT x AS key, count(*) AS deg FROM u2 GROUP BY x),
         |tri AS (SELECT a.x AS key, count(*) AS tri
         |        FROM u2 a JOIN u2 b ON b.x = a.x AND a.w < b.w
         |        JOIN e0 e ON e.u = a.w AND e.v = b.w
         |        GROUP BY a.x)
         |SELECT d.key, d.deg, CAST(coalesce(t.tri, 0) AS BIGINT) AS tri,
         |  round(CAST(coalesce(t.tri, 0) AS BIGINT) * 2.0 / (d.deg * (d.deg - 1)), 6) AS cc
         |FROM deg d LEFT JOIN tri t ON t.key = d.key
         |WHERE d.deg >= 2
         |ORDER BY cc DESC, d.key LIMIT 20""".stripMargin),

    // Full k-core decomposition + degeneracy (reference kcore.rs
    // `kcore_decomposition`/`degeneracy` — g14 gates only the k=2 shell):
    // peel at k = 1..6, starting each level from the (k-1)-core (the
    // standard nested-shell recurrence), and a node's core number is the
    // max k it survives. Two peel rounds per level reach the fixpoint in
    // this SF-invariant topology (the only removable layer is the
    // customer/supplier leaves at depth 1 — no cascade chains; the K6
    // region wheels drop atomically at k=6), mirroring g25's derived
    // round-count policy. Per level each round is one degree agg on the
    // alive-induced subgraph — node-keyed shuffles, lineage-cut.
    "g46_core_decomposition" -> QDef(
      (s, d) => coreDecomposition(TpchGraph.undirected(TpchGraph.edges(s, d)).select("src", "dst"),
        TpchGraph.nodes(s, d).select("key")),
      """SELECT CAST(1 AS INT) AS core,
        |  (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier) AS n_nodes
        |UNION ALL
        |SELECT CAST(5 AS INT),
        |  (SELECT count(*) FROM nation) + (SELECT count(*) FROM region)
        |ORDER BY core""".stripMargin),

    // Global transitivity + average local clustering (reference
    // `global_clustering_coefficient` / `average_clustering`): the same
    // wedge/triangle frames as g38, reduced to the two corpus-level
    // coefficients. Numerators/denominators accumulate as INTEGER sums
    // (transitivity = Σtri / Σwedge with each triangle counted at its 3
    // centers); only the final divisions are doubles.
    "g47_clustering_global" -> QDef(
      (s, d) => clusteringFromStats(triStatsCanonical(s, d)),
      s"""WITH $allEdgesSql,
         |e0 AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v FROM ed),
         |u2 AS (SELECT u AS x, v AS w FROM e0 UNION ALL SELECT v, u FROM e0),
         |deg AS (SELECT x AS key, count(*) AS deg FROM u2 GROUP BY x),
         |tri AS (SELECT a.x AS key, count(*) AS tri
         |        FROM u2 a JOIN u2 b ON b.x = a.x AND a.w < b.w
         |        JOIN e0 e ON e.u = a.w AND e.v = b.w
         |        GROUP BY a.x),
         |j AS (SELECT d.deg, CAST(coalesce(t.tri, 0) AS BIGINT) AS tri,
         |             CAST(d.deg * (d.deg - 1) // 2 AS BIGINT) AS wed
         |      FROM deg d LEFT JOIN tri t ON t.key = d.key)
         |SELECT CAST(sum(tri) AS BIGINT) AS sum_tri,
         |  CAST(sum(wed) AS BIGINT) AS sum_wedges,
         |  round(CAST(sum(tri) AS DOUBLE) / sum(wed), 6) AS transitivity,
         |  round(avg(CASE WHEN wed > 0 THEN CAST(tri AS DOUBLE) / wed END), 6) AS avg_clustering
         |FROM j""".stripMargin),

    // Degree assortativity (Newman 2002): Pearson correlation of endpoint
    // degrees over the symmetrized edge list. Both orientations are
    // summed, so Σx = Σy and Σx² = Σy² and r reduces to
    // (M·Σxy − Σx·Σy)/(M·Σx² − Σx·Σy). Every sum is an INTEGER
    // aggregate — the single double division at the end is bit-exact on
    // both engines. One shuffle for the degree count, one broadcast-ish
    // join of deg onto each endpoint, one global aggregate: at 100 TB the
    // degree table shuffles on node key and the final reduce is 5 longs.
    "g39_assortativity" -> QDef(
      (s, d) => {
        val und = TpchGraph.undirected(TpchGraph.edges(s, d)).select("src", "dst")
        val deg = und.groupBy(col("src").as("k")).agg(count(lit(1)).as("deg"))
        val xy = und
          .join(deg.select(col("k").as("src"), col("deg").as("x")), Seq("src"))
          .join(deg.select(col("k").as("dst"), col("deg").as("y")), Seq("dst"))
        xy.agg(count(lit(1)).as("m"), sum("x").as("sx"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
          .select(col("m"), col("sx"), col("sxy"),
            round((col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
              (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"), 6).as("assortativity"))
      },
      s"""WITH $allEdgesSql,
         |deg AS (SELECT src AS k, count(*) AS deg FROM und GROUP BY src),
         |xy AS (SELECT dx.deg AS x, dy.deg AS y
         |       FROM und u JOIN deg dx ON dx.k = u.src JOIN deg dy ON dy.k = u.dst),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sx,
         |             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
         |      FROM xy)
         |SELECT m, sx, sxy,
         |  round(CAST(m * sxy - sx * sx AS DOUBLE) /
         |        CAST(m * sxx - sx * sx AS DOUBLE), 6) AS assortativity
         |FROM s""".stripMargin),

    // Bipartite / odd-cycle check via BFS 2-coloring: multi-source BFS
    // from the region roots (every component contains exactly one) gives
    // each node a depth, and an edge whose endpoints share depth parity
    // witnesses an odd cycle. The tree edges alternate parity by
    // construction; the same_region cliques are triangles, so every one
    // of their edges violates — per-etype counts make the structure
    // visible. One frontier⋈edges join per level (diameter 2 here, 3 for
    // margin) + one deg-table-style parity join per endpoint: at 100 TB
    // the parity frame shuffles on node key once and the verdict is a
    // dictionary-sized per-etype aggregate.
    "g40_bipartite_check" -> QDef(
      (s, d) => {
        val seeds = TpchGraph.nodes(s, d).filter(col("label") === "region").select("key")
        // cut: the parity frame is consumed TWICE below (ps and pd joins) —
        // un-cut, the whole 4-level BFS union+min-depth aggregate subtree
        // was duplicated into both join sides of the final plan (r13 §2.4;
        // the before-plan's two identical HashAggregate(Union ...) branches)
        val par = cut(Algorithms
          .bfs(TpchGraph.undirected(TpchGraph.edges(s, d)), seeds, Rounds(3))
          .select(col("key"), (col("depth") % 2).as("p")))
        TpchGraph.edges(s, d)
          .join(par.select(col("key").as("src"), col("p").as("ps")), Seq("src"))
          .join(par.select(col("key").as("dst"), col("p").as("pd")), Seq("dst"))
          .groupBy("etype")
          .agg(count(lit(1)).as("n_edges"),
            sum(when(col("ps") === col("pd"), 1L).otherwise(0L)).as("n_odd"))
          .withColumn("bipartite_ok", col("n_odd") === 0)
          .orderBy("etype")
      },
      s"""WITH $allEdgesSql,
         |d0 AS (SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS key, 0 AS depth FROM region),
         |d1 AS (SELECT DISTINCT u.dst AS key, 1 AS depth FROM und u JOIN d0 ON u.src = d0.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0)),
         |d2 AS (SELECT DISTINCT u.dst AS key, 2 AS depth FROM und u JOIN d1 ON u.src = d1.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0 UNION ALL SELECT key FROM d1)),
         |d3 AS (SELECT DISTINCT u.dst AS key, 3 AS depth FROM und u JOIN d2 ON u.src = d2.key
         |       WHERE u.dst NOT IN (SELECT key FROM d0 UNION ALL SELECT key FROM d1 UNION ALL SELECT key FROM d2)),
         |dep AS (SELECT key, CAST(min(depth) AS INT) AS depth
         |        FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1
         |              UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3) t GROUP BY key),
         |par AS (SELECT key, depth % 2 AS p FROM dep)
         |SELECT e.etype, count(*) AS n_edges,
         |  CAST(sum(CASE WHEN a.p = b.p THEN 1 ELSE 0 END) AS BIGINT) AS n_odd,
         |  CAST(sum(CASE WHEN a.p = b.p THEN 1 ELSE 0 END) AS BIGINT) = 0 AS bipartite_ok
         |FROM ed e JOIN par a ON e.src = a.key JOIN par b ON e.dst = b.key
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Personalized PageRank (random walk with restart): the teleport
    // vector concentrates on a seed set — here region 0's five nations —
    // so scores rank proximity TO THE SEEDS, the recommendation/expansion
    // form of PageRank (Jeh & Widom, "Scaling Personalized Web Search").
    // Same fixed-iteration one-shuffle-per-round shape as g05 (mass agg
    // keyed on the receiving node, per-round lineage cut), with the
    // teleport frame computed once and rejoined each round; nodes outside
    // the seeds' component stay at exactly 0 in both engines and are
    // filtered, keeping the output non-vacuous. 8 iterations, α = 0.85,
    // no dangling redistribution (the undirected graph has no sinks).
    "g41_personalized_pagerank" -> QDef(
      (s, d) => {
        val seeds = graft.Tables(s, d, "nation").filter(col("n_regionkey") === 0)
          .select(concat(lit("nation:"), col("n_nationkey").cast("string")).as("key"))
        Algorithms.personalizedPageRank(
            TpchGraph.undirected(TpchGraph.edges(s, d)), TpchGraph.nodes(s, d), seeds, 8)
          .filter(col("pr") > 0)
          .select(col("key"), round(col("pr"), 6).as("pr"))
          .orderBy(desc("pr"), col("key")).limit(20)
      }, {
        val sb = new StringBuilder
        sb ++= s"WITH $nodesSql,\n$allEdgesSql,\n"
        sb ++= """deg AS (SELECT src, count(*) AS od FROM und GROUP BY src),
                 |sd AS (SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS key FROM nation WHERE n_regionkey = 0),
                 |ns AS (SELECT count(*) AS ns FROM sd),
                 |tele AS (SELECT n.key,
                 |    CASE WHEN n.key IN (SELECT key FROM sd) THEN CAST(1 AS DOUBLE) / ns.ns ELSE CAST(0 AS DOUBLE) END AS t
                 |  FROM nds n CROSS JOIN ns),
                 |pr0 AS (SELECT key, t AS pr FROM tele)""".stripMargin
        for (i <- 1 to 8) {
          sb ++= s""",
                    |pr$i AS (SELECT t.key, 0.15 * t.t + 0.85 * coalesce(m.mass, 0) AS pr FROM tele t
                    |  LEFT JOIN (SELECT u.dst, sum(p.pr / d.od) AS mass FROM und u
                    |             JOIN pr${i - 1} p ON p.key = u.src JOIN deg d ON d.src = u.src
                    |             GROUP BY u.dst) m ON m.dst = t.key)""".stripMargin
        }
        sb ++= "\nSELECT key, round(pr, 6) AS pr FROM pr8 WHERE pr > 0 ORDER BY pr DESC, key LIMIT 20"
        sb.toString
      }),

    // Eccentricity + pseudo-diameter over the connected banded nation
    // graph (g24's |ka−kb| ≤ 7 band): batched multi-source BFS
    // ([[Algorithms.sourceDistances]]) — ALL sources advance in one frame
    // per round (4 rounds cover the band graph's diameter ⌈24/7⌉ = 4),
    // per-round first-visit pruning keeps the frame ≤ |V|² rows, then ecc
    // = max min-distance per source and the diameter broadcasts back.
    // The batched frame is the scale shape for a bounded source set; an
    // all-nodes sweep at 100 TB would switch to the double-sweep
    // pseudo-diameter heuristic (two BFS passes from a far pair), which
    // this operator's frame structure already provides.
    "g42_eccentricity" -> QDef(
      (s, d) => {
        val n = Tables(s, d, "nation")
        // cut once: the sources and the kernel both read it
        val e = cut(n.select(col("n_nationkey").as("ka"))
          .join(n.select(col("n_nationkey").as("kb")),
            col("ka") =!= col("kb") && abs(col("ka") - col("kb")) <= 7)
          .select(concat(lit("nation:"), col("ka").cast("string")).as("src"),
            concat(lit("nation:"), col("kb").cast("string")).as("dst")))
        val ecc = Algorithms.sourceDistances(e, e.select(col("src").as("key")).distinct(), Rounds(4))
          .groupBy("source").agg(max("dd").as("ecc"))
        val diam = ecc.agg(max("ecc").as("diameter"))
        ecc.crossJoin(broadcast(diam))
          .select(col("source").as("key"), col("ecc"), col("diameter"))
          .orderBy(desc("ecc"), col("key"))
      },
      """WITH e AS (SELECT 'nation:' || CAST(a.n_nationkey AS VARCHAR) AS src,
        |            'nation:' || CAST(b.n_nationkey AS VARCHAR) AS dst
        |          FROM nation a JOIN nation b
        |          ON a.n_nationkey <> b.n_nationkey AND abs(a.n_nationkey - b.n_nationkey) <= 7),
        |n AS (SELECT DISTINCT src AS key FROM e),
        |r0 AS (SELECT key AS source, key, 0 AS dd FROM n),
        |r1 AS (SELECT DISTINCT r0.source, e.dst AS key, 1 AS dd FROM r0 JOIN e ON e.src = r0.key),
        |r2 AS (SELECT DISTINCT r1.source, e.dst AS key, 2 AS dd FROM r1 JOIN e ON e.src = r1.key),
        |r3 AS (SELECT DISTINCT r2.source, e.dst AS key, 3 AS dd FROM r2 JOIN e ON e.src = r2.key),
        |r4 AS (SELECT DISTINCT r3.source, e.dst AS key, 4 AS dd FROM r3 JOIN e ON e.src = r3.key),
        |mind AS (SELECT source, key, min(dd) AS dd FROM
        |         (SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |          UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4) t GROUP BY 1, 2),
        |ecc AS (SELECT source, max(dd) AS ecc FROM mind GROUP BY source),
        |diam AS (SELECT max(ecc) AS diameter FROM ecc)
        |SELECT source AS key, ecc, diameter FROM ecc CROSS JOIN diam
        |ORDER BY ecc DESC, key""".stripMargin)
  )
}
