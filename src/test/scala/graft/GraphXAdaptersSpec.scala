package graft

import graft.graph.{Algorithms, GraphXAdapters, TpchGraph}
import graft.graph.Superstep.Rounds
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-validates the GraphX adapters against the oracle-checked
  * DataFrame algorithms on the same graph.
  */
class GraphXAdaptersSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val nodes = TpchGraph.nodes(spark, sf)
  private lazy val edges = TpchGraph.undirected(TpchGraph.edges(spark, sf))

  test("GraphX connected components partition nodes identically to the DF impl") {
    val gx = GraphXAdapters.connectedComponents(nodes, edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val df = Algorithms.connectedComponents(edges, nodes, Rounds(6))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(gx.keySet == df.keySet)
    // same partition = same groups, even if the representative differs
    val gxGroups = gx.groupBy(_._2).values.map(_.keySet).toSet
    val dfGroups = df.groupBy(_._2).values.map(_.keySet).toSet
    assert(gxGroups == dfGroups)
    assert(gxGroups.size == 5)
  }

  test("GraphX triangle counts match the motif-join counts on the cliques") {
    val clique = TpchGraph.sameRegionEdges(spark, sf)
    val nationNodes = nodes.filter(col("label") === "nation")
    val gx = GraphXAdapters.triangleCount(nationNodes, clique)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val df = SparkEntry.queries("g07_triangle_count")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // every nation in a 5-clique sits on C(4,2)=6 triangles
    df.foreach { case (k, n) => assert(gx.getOrElse(k, 0L) == n, s"mismatch at $k") }
  }

  test("GraphX SCC partitions match the closure-squaring DF impl") {
    val e = TpchGraph.treeEdges(spark, sf).union(TpchGraph.nationCycleEdges(spark, sf))
    val gx = GraphXAdapters.stronglyConnectedComponents(nodes, e, 7)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val df = Algorithms.stronglyConnectedComponents(e, nodes, 7)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(gx.keySet == df.keySet)
    // same partition into SCCs (representative choice may differ)
    val gxGroups = gx.groupBy(_._2).values.map(_.keySet).toSet
    val dfGroups = df.groupBy(_._2).values.map(_.keySet).toSet
    assert(gxGroups == dfGroups)
    // 5 nation rings of size 5, everything else a singleton
    assert(gxGroups.count(_.size == 5) == 5)
  }

  test("GraphX label propagation groups the nation cliques like the DF impl") {
    val clique = TpchGraph.sameRegionEdges(spark, sf)
    val nationNodes = nodes.filter(col("label") === "nation")
    val df = Algorithms.labelPropagation(
        TpchGraph.undirected(clique), nationNodes.select("key"), 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val gx = GraphXAdapters.labelPropagation(nationNodes, clique, 5)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(gx.keySet == df.keySet)
    // same partition into communities (label/representative may differ —
    // the two impls use different tie-break rules, but each 5-clique's
    // majority vote converges to one community either way)
    val gxGroups = gx.groupBy(_._2).values.map(_.keySet).toSet
    val dfGroups = df.groupBy(_._2).values.map(_.keySet).toSet
    assert(dfGroups.size == 5)
    assert(gxGroups == dfGroups, s"gx=$gxGroups df=$dfGroups")
  }

  test("GraphX PageRank rank order agrees with the DF impl: zero discordant pairs") {
    // The two impls normalize dangling mass differently, so absolute
    // scores differ — but the induced ORDER must agree. For every node
    // pair that BOTH impls separate clearly (>5% relative), the ordering
    // must be identical: zero discordant pairs over the full fixture.
    val tree = TpchGraph.treeEdges(spark, sf)
    val gx = GraphXAdapters.pageRank(nodes, tree, 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val df = Algorithms.pageRank(tree, nodes, 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gx.keySet == df.keySet)
    def sep(m: Map[String, Double], a: String, b: String): Boolean =
      math.abs(m(a) - m(b)) > 0.05 * math.max(m(a), m(b))
    val keys = gx.keySet.toIndexedSeq.sorted
    var checked = 0L
    for (i <- keys.indices; j <- (i + 1) until keys.size) {
      val (a, b) = (keys(i), keys(j))
      if (sep(gx, a, b) && sep(df, a, b)) {
        assert((gx(a) > gx(b)) == (df(a) > df(b)),
          s"discordant pair: $a (gx=${gx(a)}, df=${df(a)}) vs $b (gx=${gx(b)}, df=${df(b)})")
        checked += 1
      }
    }
    // the fixture must actually exercise the claim (hubs vs leaves etc.)
    assert(checked > 1000, s"only $checked well-separated pairs compared")
  }

  test("GraphX static PageRank ranks hubs like the DF impl") {
    val tree = TpchGraph.treeEdges(spark, sf)
    val gx = GraphXAdapters.pageRank(nodes, tree, 10)
      .orderBy(desc("pr"), col("key")).limit(5).collect().map(_.getString(0)).toSet
    val df = Algorithms.pageRank(tree, nodes, 10)
      .orderBy(desc("pr"), col("key")).limit(5).collect().map(_.getString(0)).toSet
    // top-5 hubs (regions/nations) should coincide despite GraphX's
    // different dangling-mass normalization
    assert((gx intersect df).size >= 3, s"gx=$gx df=$df")
  }
}
