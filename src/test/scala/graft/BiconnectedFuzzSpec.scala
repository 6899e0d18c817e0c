package graft

import graft.graph.Algorithms
import org.scalatest.funsuite.AnyFunSuite

/** Randomized differential for the fixpoint biconnected engine (round
  * 10, VERDICT r9 item 7): `Algorithms.biconnectedComponents` run to
  * fixpoint (BFS forest → LCA climb → edge-auxiliary CC, the Tarjan–Vishkin
  * formulation) against a local SEQUENTIAL Hopcroft–Tarjan low-link
  * oracle computed here, on 50+ seeded graphs — 44 random G(n, p)
  * overlays plus the structured shapes that stress each stage (deep
  * paths for the forest, long cycles for the climb, glued cliques and
  * barbells for the articulation logic). Compared: the exact edge
  * partition into biconnected components (as a set of edge sets,
  * labels ignored) and the articulation set (nodes incident to ≥ 2
  * components — the same derivation the GRAPH ARTICULATION statement
  * uses). The triangle engine got this treatment in round 9
  * (TriangleListingSpec); the biconnected engine was pinned only on
  * hand fixtures until now.
  */
class BiconnectedFuzzSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Sequential Hopcroft–Tarjan biconnected components + articulation
    * points over a simple undirected graph given as canonical (u < v)
    * pairs. Returns (edge partition, articulation set). */
  private def oracle(edges: Set[(String, String)])
      : (Set[Set[(String, String)]], Set[String]) = {
    import scala.collection.mutable
    val adj = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    for ((u, v) <- edges) {
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
      adj.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += u
    }
    def canon(a: String, b: String) = if (a < b) (a, b) else (b, a)
    val disc = mutable.Map.empty[String, Int]
    val low = mutable.Map.empty[String, Int]
    var time = 0
    val stack = mutable.Stack.empty[(String, String)]
    val comps = mutable.ListBuffer.empty[Set[(String, String)]]
    val arts = mutable.Set.empty[String]
    def dfs(u: String, parent: String): Unit = {
      disc(u) = time; low(u) = time; time += 1
      var children = 0
      for (v <- adj(u).sorted) {
        if (!disc.contains(v)) {
          children += 1
          stack.push(canon(u, v))
          dfs(v, u)
          low(u) = math.min(low(u), low(v))
          if (low(v) >= disc(u)) {
            if (parent != null) arts += u
            val comp = mutable.Set.empty[(String, String)]
            var e = stack.pop(); comp += e
            while (e != canon(u, v)) { e = stack.pop(); comp += e }
            comps += comp.toSet
          }
        } else if (v != parent && disc(v) < disc(u)) {
          stack.push(canon(u, v))
          low(u) = math.min(low(u), disc(v))
        }
      }
      if (parent == null && children > 1) arts += u
    }
    adj.keys.toSeq.sorted.foreach(u => if (!disc.contains(u)) dfs(u, null))
    (comps.toSet, arts.toSet)
  }

  private def check(raw: Set[(String, String)], ctx: String): Unit = {
    val edges = raw.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }
    val und = edges.toSeq.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val got = Algorithms.biconnectedComponents(und).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val gotParts = got.groupBy(_._3).values
      .map(_.map { case (s, d, _) => (s, d) }.toSet).toSet
    val gotArts = got.flatMap { case (s, d, c) => Seq((s, c), (d, c)) }
      .distinct.groupBy(_._1).collect { case (k, cs) if cs.length >= 2 => k }.toSet
    val (wantParts, wantArts) = oracle(edges)
    assert(gotParts == wantParts,
      s"$ctx: edge partition diverged\n engine: $gotParts\n oracle: $wantParts")
    assert(gotArts == wantArts,
      s"$ctx: articulation set diverged: engine $gotArts vs oracle $wantArts")
  }

  test("structured shapes: path, cycle, glued cliques, barbell, star, theta") {
    def clique(pfx: String, n: Int) =
      (for (i <- 0 until n; j <- i + 1 until n) yield (f"$pfx$i%02d", f"$pfx$j%02d")).toSet
    // deep path: every edge its own component, every interior node a cut
    check((0 until 12).map(i => (f"p$i%02d", f"p${i + 1}%02d")).toSet, "path-13")
    // long cycle: one component, no cut vertices
    check((0 until 15).map(i => (f"c$i%02d", f"c${(i + 1) % 15}%02d")).toSet, "cycle-15")
    // two K5s sharing exactly one vertex: that vertex is the cut
    check(clique("a", 5) ++ clique("b", 5).map {
      case (u, v) => (if (u == "b00") "a00" else u, if (v == "b00") "a00" else v)
    }, "glued-K5s")
    // barbell: two K4s joined by a 3-edge path
    check(clique("x", 4) ++ clique("y", 4) +
      (("x00", "m01")) + (("m01", "m02")) + (("m02", "y00")), "barbell")
    // star: hub is the single articulation point, all edges bridges
    check((1 to 9).map(i => ("hub", f"s$i%02d")).toSet, "star-9")
    // theta graph (two vertices joined by three disjoint paths): one
    // biconnected component, no cut vertices
    check(Set(("t0", "u1"), ("u1", "t9"), ("t0", "v1"), ("v1", "v2"), ("v2", "t9"),
      ("t0", "w1"), ("w1", "w2"), ("w2", "w3"), ("w3", "t9")), "theta")
  }

  test("44 seeded random graphs match the sequential Tarjan oracle") {
    val rnd = new scala.util.Random(0xB1C02026L)
    for (trial <- 1 to 44) {
      val n = 8 + rnd.nextInt(17) // 8..24 nodes
      val p = 0.12 + rnd.nextDouble() * 0.18
      val nodes = (0 until n).map(i => f"r$trial%02dn$i%02d")
      val edges = (for {
        i <- 0 until n; j <- i + 1 until n
        if rnd.nextDouble() < p
      } yield (nodes(i), nodes(j))).toSet
      if (edges.nonEmpty) check(edges, f"random trial $trial (n=$n, p=$p%.2f)")
    }
  }
}
