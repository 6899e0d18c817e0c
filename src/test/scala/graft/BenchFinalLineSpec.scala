package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s last stdout line is all a harness that keeps a ~2 KB
  * tail sees. It must stay a complete, parseable JSON line with every
  * query in it, within [[Bench.TailBudget]], also when queries fail. */
class BenchFinalLineSpec extends AnyFunSuite {
  private val names = SparkEntry.allDefs.map(_._1).sorted

  private def check(results: Seq[(String, Double)]): Unit = {
    val line = Bench.finalLine(results, runs = 3, sfDir = "data/sf0.1")
    assert(line.getBytes("UTF-8").length <= Bench.TailBudget, s"${line.length} bytes")
    val json = new ObjectMapper().readTree(line)
    val qs = json.get("queries")
    assert(qs != null, s"total-only fallback: $line")
    assert(qs.size == results.size)
    val failed = results.filter(_._2 < 0).map(r => Bench.shortKeys(names)(r._1)).toSet
    assert(json.get("n_failed").asInt == failed.size)
    if (failed.nonEmpty) {
      val listed = (0 until json.get("failed").size).map(json.get("failed").get(_).asText).toSet
      assert(listed == failed)
      failed.foreach(k => assert(qs.get(k).asDouble == -1.0))
    }
  }

  test("180 results with 10 failures give a complete line within the budget") {
    assert(names.size == 180)
    val rnd = new scala.util.Random(7)
    val failedIdx = rnd.shuffle(names.indices.toList).take(10).toSet
    // every value long at the finest rung: 3 decimals, above 10 s
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (failedIdx(i)) -1.0 else 10.123 + rnd.nextDouble() * 80)
    }
    check(results)
  }

  test("the finest rung that fits is used") {
    val few = names.take(20).map(_ -> 0.125)
    assert(Bench.finalLine(few, 3, "data/sf0.1").contains("\":0.125,"))
    check(names.map(_ -> 0.125))
  }
}
