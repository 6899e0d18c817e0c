package graft

import graft.graph.Algorithms
import graft.graph.Superstep.{Fixpoint, Rounds}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed ground truth for the round-2 graph algorithms:
  * sampled-Brandes betweenness (path + diamond fixtures cover σ=1 and
  * σ=2), and A* (cost parity with plain relaxation, pruning actually
  * prunes).
  */
class AlgorithmsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def und(pairs: (String, String)*) = {
    val e = pairs.toDF("src", "dst")
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("Brandes on a path graph: bc(inner) = 4 with all sources (2x unordered pairs)") {
    val g = und("a" -> "b", "b" -> "c", "c" -> "d")
    val sources = Seq("a", "b", "c", "d").toDF("key")
    val bc = Algorithms.betweennessBrandes(g, sources, Rounds(3))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bc("b") == 4.0 && bc("c") == 4.0)
    assert(bc("a") == 0.0 && bc("d") == 0.0)
  }

  test("Brandes on a diamond: sigma=2 splits dependency evenly") {
    // a-b-d and a-c-d: two shortest a→d paths, so b and c each carry 1/2
    // per direction → bc = 1.0 over all four sources.
    val g = und("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")
    val sources = Seq("a", "b", "c", "d").toDF("key")
    val bc = Algorithms.betweennessBrandes(g, sources, Rounds(2))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bc("b") == 1.0 && bc("c") == 1.0)
    assert(bc("a") == 1.0 && bc("d") == 1.0) // a,d relay b↔c paths (σ=2 each way)
  }

  test("biconnected components: two triangles sharing a vertex + a pendant bridge") {
    // a-b-c triangle, c-d-e triangle, e-f pendant. Expected: each triangle
    // is one 3-edge component, e-f is a bridge (singleton); articulation
    // points are c (joins the triangles) and e (triangle + bridge).
    val g = und("a" -> "b", "b" -> "c", "a" -> "c", "c" -> "d", "d" -> "e", "c" -> "e", "e" -> "f")
    val roots = Seq("a").toDF("key")
    val bc = Algorithms.biconnectedComponents(g, Some(roots), Rounds(4), Rounds(4), Rounds(6))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(bc.size == 7)
    val t1 = Set(("a", "b"), ("b", "c"), ("a", "c")).map(bc)
    val t2 = Set(("c", "d"), ("d", "e"), ("c", "e")).map(bc)
    assert(t1.size == 1, s"triangle 1 split: $t1")
    assert(t2.size == 1, s"triangle 2 split: $t2")
    assert(t1 != t2, "distinct triangles merged")
    assert(!t1.contains(bc(("e", "f"))) && !t2.contains(bc(("e", "f"))), "bridge absorbed")
    // articulation points = nodes incident to >= 2 components
    val arts = Algorithms.biconnectedComponents(g, Some(roots), Rounds(4), Rounds(4), Rounds(6))
      .select(explode(array(col("src"), col("dst"))).as("key"), col("bicomp"))
      .groupBy("key").agg(countDistinct("bicomp").as("nc"))
      .filter(col("nc") >= 2).collect().map(_.getString(0)).toSet
    assert(arts == Set("c", "e"))
  }

  test("A* returns the Dijkstra cost and prunes the frontier") {
    // 0..9 line-with-shortcuts: edge iff |i-j| <= 3, w = (i-j)^2; optimal
    // 0→5 walks key-by-key (convex weights), cost 5.
    val ids = (0 to 9).map(_.toString)
    val edges = (for {
      i <- 0 to 9; j <- 0 to 9
      if i != j && math.abs(i - j) <= 3
    } yield (i.toString, j.toString, ((i - j) * (i - j)).toDouble)).toDF("src", "dst", "w")
    val h = ids.map(k => (k, math.abs(k.toInt - 5).toDouble)).toDF("key", "h")
    val got = Algorithms.astar(edges, h, "0", "5", 5).collect()(0)
    assert(got.getDouble(2) == 5.0)
    // pruning beyond what the plain bound gives: from source 4 the bound
    // is 1 immediately, but node 3 (g=1, so bound-feasible) fails
    // g + h = 1 + 2 <= 1 only with the heuristic.
    val settled = Algorithms.astarSettledCount(edges, h, "4", "5", 3)
    val noHeuristic = ids.map(k => (k, 0.0)).toDF("key", "h")
    val settledAll = Algorithms.astarSettledCount(edges, noHeuristic, "4", "5", 3)
    assert(settled < settledAll, s"A* kept $settled vs $settledAll without heuristic")
  }

  test("A* euclidean and manhattan heuristics find the Dijkstra cost on a grid") {
    // Reference astar.rs ships astar_path_euclidean / astar_path_manhattan
    // as named variants; here the heuristic is a FRAME, so each variant
    // is just a different h input over node coordinates. 4x4 grid,
    // unit edges between 4-neighbors; optimal (0,0)->(3,3) cost = 6.
    def key(x: Int, y: Int) = s"$x:$y"
    val cells = for { x <- 0 to 3; y <- 0 to 3 } yield (x, y)
    val edges = (for {
      (x, y) <- cells
      (dx, dy) <- Seq((1, 0), (-1, 0), (0, 1), (0, -1))
      if x + dx >= 0 && x + dx <= 3 && y + dy >= 0 && y + dy <= 3
    } yield (key(x, y), key(x + dx, y + dy), 1.0)).toDF("src", "dst", "w")
    // target (3,0): the grid is then ASYMMETRIC around the optimum (cost
    // 3 along the bottom edge), so off-path rows y >= 1 have g + h > C*
    // and become prunable once the bound exists
    val manhattan = cells.map { case (x, y) =>
      (key(x, y), (math.abs(3 - x) + y).toDouble) }.toDF("key", "h")
    val euclidean = cells.map { case (x, y) =>
      (key(x, y), math.sqrt((3.0 - x) * (3 - x) + y.toDouble * y)) }.toDF("key", "h")
    val zero = cells.map { case (x, y) => (key(x, y), 0.0) }.toDF("key", "h")
    val costs = Seq(manhattan, euclidean, zero).map(h =>
      Algorithms.astar(edges, h, "0:0", "3:0", 6).collect()(0).getDouble(2))
    assert(costs.forall(_ == 3.0), s"heuristic variants disagree: $costs")
    // both admissible heuristics prune vs the zero-heuristic Dijkstra
    // (which keeps every g <= bound node), and manhattan (= the true
    // grid distance) prunes at least as hard as euclidean
    val Seq(sm, se, s0) = Seq(manhattan, euclidean, zero).map(h =>
      Algorithms.astarSettledCount(edges, h, "0:0", "3:0", 6))
    assert(sm <= se && se < s0, s"expected manhattan <= euclidean < zero, got $sm/$se/$s0")
  }

  test("connectedComponents under a Fixpoint cap fails loudly below the graph diameter") {
    // path a0-a1-...-a9: min-label propagation needs 9 rounds to reach a9
    val g = und((0 until 9).map(i => s"a$i" -> s"a${i + 1}"): _*)
    val nodes = (0 to 9).map(i => s"a$i").toDF("key")
    assertThrows[IllegalStateException](
      Algorithms.connectedComponents(g, nodes, Fixpoint(3)))
    val ok = Algorithms.connectedComponents(g, nodes, Fixpoint(9))
    assert(ok.select("component").distinct().count() == 1)
  }

  test("BFS traversal filters restrict edges and enterable nodes") {
    // a -t1-> b -t1-> c, a -t2-> d: edge filter t1 drops d; node filter
    // without c stops the frontier at b (c never entered).
    val e = Seq(("a", "b", "t1"), ("b", "c", "t1"), ("a", "d", "t2"))
      .toDF("src", "dst", "etype")
    val a = Algorithms.source(spark, "a")
    val all = Algorithms.bfs(e, a, Rounds(3)).collect().map(_.getString(0)).toSet
    assert(all == Set("a", "b", "c", "d"))
    val t1Only = Algorithms.bfs(e, a, Rounds(3), edgePred = Some(col("etype") === "t1"))
      .collect().map(_.getString(0)).toSet
    assert(t1Only == Set("a", "b", "c"))
    val allowed = Seq("a", "b", "d").toDF("key")
    val noC = Algorithms.bfs(e, a, Rounds(3), allowedNodes = Some(allowed))
      .collect().map(_.getString(0)).toSet
    assert(noC == Set("a", "b", "d"))
    val both = Algorithms.bfs(e, a, Rounds(3), edgePred = Some(col("etype") === "t1"),
      allowedNodes = Some(allowed)).collect().map(_.getString(0)).toSet
    assert(both == Set("a", "b"))
  }

  private def uvEdges(pairs: (String, String)*) =
    pairs.toDF("u", "v").select(least(col("u"), col("v")).as("u"),
      greatest(col("u"), col("v")).as("v"))

  test("ktruss: K4 plus a pendant triangle — K4 survives k=4, triangle peels") {
    // K4 edges each close 2 triangles (support 2 ≥ k−2); the pendant
    // triangle d-e-f shares only vertex d, its edges have support 1.
    val g = uvEdges("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d",
      "c" -> "d", "d" -> "e", "d" -> "f", "e" -> "f")
    val t = Algorithms.ktruss(g, 4, rounds = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(t == Set(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")))
  }

  private def bruteHits(edges: Seq[(String, String)], nodes: Seq[String], iters: Int)
      : Map[String, (Double, Double)] = {
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val a0 = nodes.map(n => n -> edges.filter(_._2 == n).map(e => hub(e._1)).sum).toMap
      val am = a0.values.max
      auth = a0.map { case (k, v) => k -> v / am }
      val h0 = nodes.map(n => n -> edges.filter(_._1 == n).map(e => auth(e._2)).sum).toMap
      val hm = h0.values.max
      hub = h0.map { case (k, v) => k -> v / hm }
    }
    nodes.map(n => n -> (hub(n), auth(n))).toMap
  }

  test("hits matches an in-memory power iteration on a directed fixture") {
    // two hubs (a, b) pointing into two authorities (x, y), plus a chain
    val edges = Seq("a" -> "x", "a" -> "y", "b" -> "x", "x" -> "y", "c" -> "a")
    val nodes = Seq("a", "b", "c", "x", "y")
    val want = bruteHits(edges, nodes, 4)
    val got = Algorithms.hits(edges.toDF("src", "dst"), nodes.toDF("key"), 4)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for (n <- nodes) {
      assert(math.abs(got(n)._1 - want(n)._1) < 1e-12, s"hub($n)")
      assert(math.abs(got(n)._2 - want(n)._2) < 1e-12, s"auth($n)")
    }
    // x receives from both hubs → top authority
    assert(want.maxBy(_._2._2)._1 == "x")
  }

  private def bruteKtruss(edges: Set[(String, String)], k: Int): (Set[(String, String)], Int) = {
    var e = edges
    var rounds = 0
    var changed = true
    while (changed) {
      val adj = (e ++ e.map(_.swap)).groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
      val kept = e.filter { case (u, v) =>
        (adj.getOrElse(u, Set.empty).toSet & adj.getOrElse(v, Set.empty).toSet).size >= k - 2
      }
      changed = kept != e
      if (changed) rounds += 1
      e = kept
    }
    (e, math.max(rounds, 1))
  }

  test("ktruss matches brute-force peeling on random graphs") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 5 + rng.nextInt(3) // 5..7 nodes
      val all = for { a <- 0 until n; b <- a + 1 until n } yield (s"v$a", s"v$b")
      val edges = all.filter(_ => rng.nextDouble() < 0.55).toSet
      if (edges.nonEmpty) {
        val (want, rounds) = bruteKtruss(edges, 4)
        val got = Algorithms.ktruss(uvEdges(edges.toSeq: _*), 4, rounds)
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(got == want, s"edges=$edges rounds=$rounds")
      }
    }
  }

  test("ktruss: bowtie cascade needs 2 rounds and ends empty at k=4") {
    // Two triangles sharing edge a-b: a-b has support 2, the other four
    // edges support 1. Round 1 peels the four spokes; only then does a-b
    // lose its triangles, so round 2 removes it — a genuine cascade.
    val g = uvEdges("a" -> "b", "a" -> "c", "b" -> "c", "a" -> "d", "b" -> "d")
    assert(Algorithms.ktruss(g, 4, rounds = 2).count() == 0)
    // One round is NOT a fixpoint: the checked recompute must throw.
    assertThrows[IllegalStateException](Algorithms.ktruss(g, 4, rounds = 1))
  }
}
