package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WriteModelSpec extends AnyFunSuite {
  private val v1 = Vector(1f, 0f)
  private val v2 = Vector(0.6f, 0.8f)
  private val v3 = Vector(0f, 1f)

  test("latest record wins; update merges; delete hides; update on a dead key fails") {
    val m = new WriteModel
    m.create("a", Map("label" -> "item", "name" -> "x"), Some(v1))
    assert(m.update("a", Map("name" -> "y", "tag" -> "t")))
    assert(m.get("a") == Seq(Seq("a", Map("label" -> "item", "name" -> "y", "tag" -> "t"), v1)))
    m.create("a", Map("label" -> "doc"), None)
    assert(m.get("a") == Seq(Seq("a", Map("label" -> "doc"), null)))
    m.delete("a")
    assert(m.get("a").isEmpty)
    assert(!m.update("a", Map("name" -> "z")))
    assert(!m.update("never", Map("name" -> "z")))
  }

  test("Cypher SET matches on label and live key only") {
    val m = new WriteModel
    m.create("a", Map("label" -> "item"), Some(v1))
    assert(m.set("a", "doc", "name", "q") == 0L)
    assert(m.set("a", "item", "name", "q") == 1L)
    assert(m.live("a").get.props("name") == "q")
    m.delete("a")
    assert(m.set("a", "item", "name", "r") == 0L)
  }

  test("edges are independent of entity deletes; neighbors is a multiset both ways") {
    val m = new WriteModel
    m.connect("a", "b", "link")
    m.connect("c", "a", "rel")
    m.connect("a", "a", "link")
    m.delete("b")
    assert(m.neighbors("a") == Seq(Seq("a", "link"), Seq("a", "link"), Seq("b", "link"), Seq("c", "rel")))
    assert(m.neighbors("z").isEmpty)
  }

  test("FIND NODES lists live keys of a label in key order") {
    val m = new WriteModel
    m.create("b", Map("label" -> "item"), None)
    m.create("a", Map("label" -> "item"), None)
    m.create("c", Map("label" -> "doc"), None)
    m.create("d", Map.empty, None)
    m.delete("b")
    assert(m.findNodes("item") == Seq(Seq("a")))
    assert(m.findNodes("entity") == Seq(Seq("d")))
  }

  test("SIMILAR … CONNECTED TO keeps adjacent keys of the top 2n, by score then key") {
    val m = new WriteModel
    m.create("q", Map.empty, Some(v1))
    m.create("x", Map.empty, Some(v2))
    m.create("y", Map.empty, Some(v3))
    m.create("w", Map.empty, Some(v1))
    m.create("n", Map.empty, None)
    Seq("x", "y", "w", "n", "q").foreach(k => m.connect("hub", k, "link"))
    assert(m.similarConnected("q", "hub", 2) == Seq(Seq("w", 1.0), Seq("x", 0.6)))
    // n = 1 oversamples to the top 2 only: y (score 0) is out of reach
    assert(m.similarConnected("q", "hub", 1) == Seq(Seq("w", 1.0)))
    assert(m.similarConnected("n", "hub", 2).isEmpty)
  }

  test("score mirrors the engine: double accumulation, HALF_UP to 4 places") {
    assert(WriteModel.score(Vector(1f, 0f), Vector(1f, 1f)) == 0.7071)
    assert(WriteModel.score(Vector(0f, 0f), Vector(1f, 1f)) == 0.0)
  }

  test("copy is independent of the original") {
    val m = new WriteModel
    m.create("a", Map.empty, None)
    val c = m.copy()
    c.delete("a")
    assert(m.live("a").isDefined && c.live("a").isEmpty)
  }
}
