package graft

import graft.graph.Algorithms
import graft.graph.Superstep.{Fixpoint, Rounds, Stop}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every caller of the frontier kernel (`Algorithms.expand`) against a
  * plain in-memory Scala BFS, on seeded random directed graphs with
  * self-loops, edge-less nodes and two disconnected parts, under a fixed
  * round count and under a fixpoint: `bfs` (duplicate seeds included),
  * `sourceDistances`, Brandes σ (the forward pass's call shape) and
  * betweenness (σ and δ), the biconnected forest's min-key parents, and
  * FIND PATH's hop list.
  */
class FrontierSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val stops: Seq[Stop] = Seq(Rounds(1), Rounds(3), Fixpoint())
  private def horizon(stop: Stop) = stop match { case Rounds(n) => n; case _ => Int.MaxValue }

  /** Directed edges over `v00…`: two parts with no edge between them, the
    * last one or two nodes without edges, and at least one self-loop. */
  private def randomGraph(seed: Int): (IndexedSeq[String], Set[(String, String)]) = {
    val r = new scala.util.Random(seed)
    val nodes = (0 until 9 + r.nextInt(6)).map(i => f"v$i%02d")
    val live = nodes.dropRight(1 + r.nextInt(2))
    val (a, b) = live.splitAt(2 + r.nextInt(live.size - 3))
    val edges = Seq(a, b).flatMap(p =>
      Seq.fill(p.size * 2)((p(r.nextInt(p.size)), p(r.nextInt(p.size))))).toSet
    (nodes, edges + ((a.head, a.head)))
  }

  private val graphs = Seq(11, 12, 13).map(randomGraph)

  private def adjacency(edges: Set[(String, String)]): Map[String, Seq[String]] =
    edges.toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }

  /** In-memory BFS: min depth from the nearest seed, at most `h` levels. */
  private def depths(adj: Map[String, Seq[String]], seeds: Seq[String], h: Int): Map[String, Int] = {
    var depth = seeds.map(_ -> 0).toMap
    var frontier = seeds.distinct
    var i = 0
    while (frontier.nonEmpty && i < h) {
      i += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(depth.contains)
      depth ++= frontier.map(_ -> i)
    }
    depth
  }

  /** Predecessors of `v` one level up in a BFS from `depth`'s seeds. */
  private def preds(edges: Set[(String, String)], depth: Map[String, Int], v: String) =
    edges.toSeq.collect { case (u, w) if w == v && depth.get(u).contains(depth(v) - 1) => u }

  /** Shortest-path counts σ from one source, over the levels in `depth`. */
  private def sigmas(edges: Set[(String, String)], depth: Map[String, Int]): Map[String, Long] =
    depth.toSeq.sortBy(_._2).foldLeft(Map.empty[String, Long]) { case (sg, (v, d)) =>
      sg + (v -> (if (d == 0) 1L else preds(edges, depth, v).map(sg).sum))
    }

  /** Brandes dependencies δ_s(v) over the levels in `depth`. */
  private def deltas(edges: Set[(String, String)], depth: Map[String, Int],
      sg: Map[String, Long]): Map[String, Double] =
    depth.toSeq.sortBy(-_._2).foldLeft(Map.empty[String, Double]) { case (dl, (v, d)) =>
      val succ = edges.toSeq.collect { case (u, w) if u == v && depth.get(w).contains(d + 1) => w }
      dl + (v -> succ.map(w => sg(v).toDouble / sg(w) * (1.0 + dl(w))).sum)
    }

  private def edgeFrame(edges: Set[(String, String)]) = edges.toSeq.toDF("src", "dst")

  test("bfs equals an in-memory BFS from several seeds, duplicates included") {
    for ((nodes, edges) <- graphs; stop <- stops) {
      val seeds = Seq(nodes(0), nodes(nodes.size - 3), nodes(0))
      val got = Algorithms.bfs(edgeFrame(edges), seeds.toDF("key"), stop)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(got == depths(adjacency(edges), seeds, horizon(stop)), s"$stop on $edges")
    }
  }

  test("sourceDistances equals an in-memory BFS per source") {
    for ((nodes, edges) <- graphs; stop <- stops) {
      val sources = nodes.take(4) :+ nodes.last
      val got = Algorithms.sourceDistances(edgeFrame(edges), sources.toDF("key"), stop)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
      val want = sources.flatMap(s =>
        depths(adjacency(edges), Seq(s), horizon(stop)).map { case (k, d) => (s, k) -> d }).toMap
      assert(got == want, s"$stop on $edges")
    }
  }

  test("the forward Brandes expansion counts shortest paths and reports the deepest level") {
    for ((nodes, edges) <- graphs; stop <- stops) {
      val sources = nodes.take(3)
      val (reached, deepest) = Algorithms.expand(edgeFrame(edges),
        sources.toDF("key").select(col("key").as("source"), col("key"), lit(1L).as("sigma")),
        stop, group = Seq("source"), agg = Seq(sum("sigma").as("sigma")))
      val got = reached.select("source", "key", "depth", "sigma").collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getInt(2), r.getLong(3))).toMap
      val perSource = sources.map(s => s -> depths(adjacency(edges), Seq(s), horizon(stop)))
      val want = perSource.flatMap { case (s, dp) =>
        val sg = sigmas(edges, dp)
        dp.map { case (k, d) => (s, k) -> (d, sg(k)) }
      }.toMap
      assert(got == want, s"$stop on $edges")
      val maxDepth = perSource.flatMap(_._2.values).max
      assert(deepest == (stop match { case Rounds(n) => n; case _ => maxDepth }), s"$stop")
    }
  }

  test("betweennessBrandes equals in-memory Brandes σ and δ") {
    for ((nodes, edges) <- graphs; stop <- stops) {
      val sources = nodes.take(3)
      val got = Algorithms.betweennessBrandes(edgeFrame(edges), sources.toDF("key"), stop)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = sources.flatMap { s =>
        val dp = depths(adjacency(edges), Seq(s), horizon(stop))
        deltas(edges, dp, sigmas(edges, dp)).filter(_._1 != s).toSeq
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      assert(got.keySet == want.keySet, s"$stop on $edges")
      for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-9, s"$k: ${got(k)} vs $v, $stop on $edges")
    }
  }

  test("the biconnected forest gives each node its min-key parent one level up") {
    for ((nodes, edges) <- graphs; stop <- stops) {
      val roots = Seq(nodes(0), nodes(nodes.size - 3))
      val (tree, _) = Algorithms.expand(edgeFrame(edges),
        roots.toDF("key").select(col("key"), col("key").as("parent")), stop,
        agg = Seq(min("src").as("parent")))
      val got = tree.collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
      val dp = depths(adjacency(edges), roots, horizon(stop))
      val want = dp.map { case (k, d) => k -> ((if (d == 0) k else preds(edges, dp, k).min), d) }
      assert(got == want, s"$stop on $edges")
    }
  }

  test("FIND PATH returns the min-key-parent shortest path") {
    val (nodes, edges) = graphs.head
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("frontier-store").toString)
    def nql(q: String) = graft.nql.Nql.execute(spark, sf, store, q)
    val key = (v: String) => s"fx:$v"
    nodes.foreach(v => nql(s"NODE CREATE '${key(v)}' LABEL 'thing' NAME '$v'"))
    edges.foreach { case (u, v) => nql(s"EDGE CREATE '${key(u)}' TO '${key(v)}' TYPE 'link'") }
    // FIND PATH walks the undirected closure
    val und = edges.flatMap { case (u, v) => Set((u, v), (v, u)) }
    for (to <- nodes.take(6) :+ nodes.last) {
      val from = nodes(0)
      val dp = depths(adjacency(und), Seq(from), 6)
      val want = dp.get(to).toSeq.flatMap { d =>
        Iterator.iterate(to)(v => preds(und, dp, v).min).take(d + 1).toSeq.reverse.zipWithIndex
          .map { case (v, hop) => (hop, key(v)) }
      }
      val got = nql(s"FIND PATH FROM '${key(from)}' TO '${key(to)}'")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(got == want, s"$from -> $to on $edges")
    }
  }
}
