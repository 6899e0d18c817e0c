package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  test("pass order is a seeded permutation of the whole pool") {
    val pool = Workloads.graphLoops
    val o = Workloads.order(pool, 7L, 0)
    assert(o.sorted == pool.sorted)
    assert(o == Workloads.order(pool, 7L, 0))
    assert(o != Workloads.order(pool, 8L, 0))
    assert(o != Workloads.order(pool, 7L, 1))
  }

  test("statement generator is deterministic in (seed, pass)") {
    def texts(seed: Long, p: Int) = WriteScript.pass(seed, p, WriteScript.preload(seed))._1.map(_.text)
    assert(texts(3L, 0) == texts(3L, 0))
    assert(texts(3L, 0) != texts(4L, 0))
    assert(texts(3L, 0) != texts(3L, 1))
    val a = WriteScript.preload(5L); val b = WriteScript.preload(5L)
    assert(a.model.state == b.model.state)
    assert(a.entityBatches.flatten.map(_.key) == b.entityBatches.flatten.map(_.key))
    assert(a.edgeBatches == b.edgeBatches)
  }

  test("a pass has the stated size, mixes writes and reads, and never updates a dead key") {
    val pre = WriteScript.preload(11L)
    assert(pre.entityBatches.size == WriteScript.PreloadEntityBatches)
    assert(pre.edgeBatches.size == WriteScript.PreloadEdgeBatches)
    for (p <- 0 until 20) {
      val (stmts, _) = WriteScript.pass(11L, p, pre)
      assert(stmts.size == WriteScript.PassOps)
      assert(stmts.groupBy(_.name).map { case (k, v) => k -> v.size } ==
        Map("entity_create" -> 5, "entity_update" -> 2, "entity_delete" -> 1, "entity_connect" -> 3,
          "cypher_match_set" -> 1, "entity_get" -> 6, "neighbors" -> 3, "find_nodes" -> 1,
          "similar_connected_to" -> 2))
      assert(stmts.filter(_.name == "cypher_match_set").forall(_.expect == Seq(Seq(1L, "updated"))))
      assert(stmts.exists(_.write) && stmts.exists(!_.write))
      // replaying the pass against the model: every UPDATE target is live
      val m = pre.model.copy()
      stmts.foreach { s =>
        def key = s.text.split('\'')(1)
        s.name match {
          case "entity_update" => assert(m.update(key, Map.empty), s.text)
          case "entity_delete" => m.delete(key)
          case "entity_create" => m.create(key, Map.empty, None)
          case _ => ()
        }
      }
    }
  }

  test("statement names cover every form") {
    val names = (0 until 10).flatMap(p => WriteScript.pass(1L, p, WriteScript.preload(1L))._1.map(_.name)).toSet
    assert(names == Set("entity_create", "entity_update", "entity_delete", "entity_connect",
      "cypher_match_set", "entity_get", "neighbors", "find_nodes", "similar_connected_to"))
  }

  test("the pass count follows --seconds only; a traced pass sits between untraced ones") {
    assert(Workloads.passes("graph-loops", 10, trace = false) == 1)
    assert(Workloads.passes("graph-loops", 60, trace = false) == 3)
    assert(Workloads.passes("entity-writes", 10, trace = true) == 3)
    assert((0 until 3).map(Workloads.traced(_, trace = true)) == Seq(false, true, false))
    assert(!Workloads.traced(1, trace = false))
    assert(Workloads.passes("data-pipeline", 1, trace = false) == 1)
  }

  test("every catalog op has an owning module") {
    Workloads.catalog.values.flatten.foreach(n => assert(Workloads.module(n).nonEmpty))
  }
}
