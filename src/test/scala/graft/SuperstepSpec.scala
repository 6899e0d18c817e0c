package graft

import graft.graph.{Algorithms, Superstep}
import graft.graph.Superstep.{Fixpoint, Rounds, UpTo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The loop driver's three stop rules, on plain values and on the graph
  * loops that run to a probed fixpoint (each must throw at a cap below
  * the depth its graph needs, instead of returning a truncated answer),
  * and its cut of an already stored frame.
  */
class SuperstepSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("a Rounds rule runs exactly n rounds and never probes") {
    var probes = 0
    val seen = Superstep.run(Rounds(7), List.empty[Int])((s, i) => i :: s) { (_, _) =>
      probes += 1; true
    }
    assert(seen == (7 to 1 by -1).toList)
    assert(probes == 0)
    assert(Superstep.rounds(0, "init")((_, _) => "stepped") == "init")
  }

  test("an UpTo rule exits after the first round within tolerance, or runs out quietly") {
    // x ← x/2 from 1.0: |Δ| after round i is 2^-i, first below 1e-3 at i = 10
    val halve = (x: (Double, Int), i: Int) => (x._1 / 2, i)
    val within = (prev: (Double, Int), next: (Double, Int)) => math.abs(prev._1 - next._1) < 1e-3
    assert(Superstep.run(UpTo(100), (1.0, 0))(halve)(within)._2 == 10)
    assert(Superstep.run(UpTo(4), (1.0, 0))(halve)(within)._2 == 4)
  }

  test("a Fixpoint rule stops when its probe says done and throws if round n is not") {
    val count = (s: Int, _: Int) => s + 1
    assert(Superstep.run(Fixpoint(5), 0)(count)((_, s) => s == 5) == 5)
    assertThrows[IllegalStateException](Superstep.run(Fixpoint(4), 0)(count)((_, s) => s == 5))
  }

  test("a cut of a stored frame, or of its projection onto all its columns, stores nothing new") {
    def rdd(df: DataFrame) = df.queryExecution.optimizedPlan.asInstanceOf[LogicalRDD].rdd
    val stored = Superstep.cut(Seq((1, "a"), (2, "b")).toDF("n", "s"))
    assert(Superstep.cut(stored) eq stored)
    val all = stored.select("n", "s")
    assert(Superstep.cut(all) eq all)
    val part = Superstep.cut(stored.select("s"))
    assert(rdd(part).isCheckpointed && (rdd(part) ne rdd(stored)))
    assert(part.collect().map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  /** Undirected path p00 – p01 – … – p11 (12 nodes, depth 11 from p00). */
  private val keys = (0 until 12).map(i => f"p$i%02d")
  private def path: DataFrame = {
    val e = keys.zip(keys.tail).toDF("src", "dst")
    e.union(e.select($"dst".as("src"), $"src".as("dst")))
  }
  private def p00 = Seq("p00").toDF("key")

  test("BFS to fixpoint reaches depth 11 on a 12-node path and throws at cap 5") {
    val depth = Algorithms.bfs(path, p00, Fixpoint())
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(depth == keys.zipWithIndex.toMap)
    assertThrows[IllegalStateException](Algorithms.bfs(path, p00, Fixpoint(5)).collect())
  }

  test("CC to fixpoint labels a long path as one component and throws below the rounds it needs") {
    val nodes = keys.toDF("key")
    val cc = Algorithms.connectedComponentsFixpoint(path, nodes)
    assert(cc.select("component").distinct().collect().map(_.getString(0)).toSeq == Seq("p00"))
    assertThrows[IllegalStateException](Algorithms.connectedComponentsFixpoint(path, nodes, Fixpoint(2)))
  }

  test("closeness, Brandes and the biconnected forest and climb throw below their depth") {
    assertThrows[IllegalStateException](Algorithms.closeness(path, p00, Fixpoint(5)))
    assertThrows[IllegalStateException](Algorithms.betweennessBrandes(path, p00, Fixpoint(5)))
    assertThrows[IllegalStateException](Algorithms.biconnectedComponents(path, forest = Fixpoint(5)))
    // a 12-cycle: the one non-tree edge's endpoints sit 6 levels below their LCA
    val ring = keys.zip(keys.tail :+ keys.head).toDF("src", "dst")
    val cycle = ring.union(ring.select($"dst".as("src"), $"src".as("dst")))
    assert(Algorithms.biconnectedComponents(cycle).select("bicomp").distinct().count() == 1)
    assertThrows[IllegalStateException](Algorithms.biconnectedComponents(cycle, climb = Fixpoint(3)))
  }
}
