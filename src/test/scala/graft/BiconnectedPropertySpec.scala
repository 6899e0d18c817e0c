package graft

import graft.graph.Algorithms
import graft.graph.Superstep.Rounds
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style cross-validation of the distributed biconnected
  * algorithm (BFS forest → fundamental-cycle LCA climb → edge-graph CC)
  * against brute-force definitions on random connected graphs:
  *   - articulation point: removing the vertex disconnects the rest;
  *   - bridge: removing the edge disconnects the graph (= singleton
  *     biconnected component).
  * Deterministic seeds, graphs up to 9 nodes — small enough to brute
  * force, rich enough to produce nested blocks, bridges, and cycles.
  */
class BiconnectedPropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def reachableFrom(adj: Map[String, Set[String]], start: String, banned: Set[String]): Set[String] = {
    var seen = Set(start)
    var frontier = List(start)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(k => adj.getOrElse(k, Set.empty).diff(banned).diff(seen))
      seen ++= next
      frontier = next.distinct
    }
    seen
  }

  private def bruteArticulation(nodes: Seq[String], edges: Seq[(String, String)]): Set[String] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    nodes.filter { v =>
      val rest = nodes.filterNot(_ == v)
      rest.size > 1 && {
        val reached = reachableFrom(adj, rest.head, Set(v))
        !rest.forall(reached.contains)
      }
    }.toSet
  }

  private def bruteBridges(nodes: Seq[String], edges: Seq[(String, String)]): Set[(String, String)] =
    edges.filter { e =>
      val remaining = edges.filterNot(_ == e)
      val adj = (remaining ++ remaining.map(x => (x._2, x._1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val reached = reachableFrom(adj, e._1, Set.empty)
      !reached.contains(e._2)
    }.toSet

  test("articulation points and bridges match brute force on random connected graphs") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 12) {
      val n = 4 + rng.nextInt(6) // 4..9 nodes
      val nodes = (0 until n).map(i => s"v$i")
      // random spanning tree (connected) + random extra edges
      val tree = (1 until n).map(i => (s"v${rng.nextInt(i)}", s"v$i"))
      val extra = (for {
        a <- 0 until n; b <- a + 1 until n
        if !tree.contains((s"v$a", s"v$b")) && !tree.contains((s"v$b", s"v$a")) && rng.nextDouble() < 0.25
      } yield (s"v$a", s"v$b"))
      val edges = (tree ++ extra).distinct
      val und = edges.toDF("src", "dst")
      val undSym = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      val roots = Seq("v0").toDF("key")

      val bc = Algorithms.biconnectedComponents(undSym, Some(roots),
        forest = Rounds(n), climb = Rounds(n), cc = Rounds(n + 2))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      assert(bc.size == edges.size, s"trial $trial: edge count mismatch")

      // bridges = singleton components
      val sizes = bc.values.groupBy(identity).map { case (k, vs) => k -> vs.size }
      // note: .toSeq first — Map.collect producing pairs would rebuild a
      // Map and collapse edges sharing a source endpoint
      val gotBridges = bc.toSeq.collect { case (e, comp) if sizes(comp) == 1 => e }.toSet
      val wantBridges = bruteBridges(nodes, edges)
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }
      assert(gotBridges == wantBridges,
        s"trial $trial bridges: got $gotBridges want $wantBridges\nedges=$edges\nbc=$bc")

      // articulation points = incident to >= 2 components
      val gotArts = bc.toSeq.flatMap { case ((a, b), comp) => Seq(a -> comp, b -> comp) }
        .distinct.groupBy(_._1).collect { case (v, cs) if cs.map(_._2).distinct.size >= 2 => v }.toSet
      val wantArts = bruteArticulation(nodes, edges)
      assert(gotArts == wantArts, s"trial $trial arts: got $gotArts want $wantArts\nedges=$edges")
    }
  }
}
