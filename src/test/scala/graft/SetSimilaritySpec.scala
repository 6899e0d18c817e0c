package graft

import graft.pipeline.SetSimilarity
import graft.pipeline.SetSimilarity.{Containment, Jaccard}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The set-similarity kernel behind d03/d07/d10 against brute-force
  * all-pairs overlap, for both bounds, on a seeded family of near-
  * duplicate sets over a vocabulary far above 64 tokens (so the
  * unforced dispatch takes the general prefix path), with planted pairs
  * sitting exactly on each threshold and one step below it. The brute
  * force uses the oracles' own tests: the double comparison
  * `c / (na + nb − c) >= 0.8` for Jaccard (d03's oracle) and the integer
  * `c·10 >= 9·na` for containment (d10's oracle). */
class SetSimilaritySpec extends AnyFunSuite {
  import TestSpark._

  case class S(group: String, id: Long, toks: Set[Long])

  /** 40 seeded base sets of 8–30 tokens over a 300-token vocabulary, two
    * perturbed copies of each (up to 3 tokens dropped and 3 added), the
    * copies spread over two groups; plus planted boundary pairs on
    * private token ranges. */
  private val family: Seq[S] = {
    val rnd = new scala.util.Random(42)
    def draw(k: Int): Set[Long] = Iterator.continually(rnd.nextInt(300).toLong).distinct.take(k).toSet
    val perturbed = (0 until 40).flatMap { i =>
      val base = draw(8 + rnd.nextInt(23))
      (0 until 3).map { v =>
        val kept = if (v == 0) base else base.drop(rnd.nextInt(4)) ++ draw(rnd.nextInt(4))
        (if ((i + v) % 3 == 0) "g1" else "g0", kept)
      }
    }
    def r(lo: Long, n: Int): Set[Long] = (lo until lo + n).toSet
    val planted = Seq(
      "g0" -> r(7000, 10), "g0" -> r(7000, 8),                  // j = 8/10, exactly 4/5
      "g0" -> r(8000, 19), "g0" -> r(8000, 15),                 // j = 15/19, just below
      "g0" -> r(9000, 9), "g0" -> (r(9000, 8) + 9100L),         // j = 8/10 at na = nb
      "g0" -> r(5000, 10), "g1" -> (r(5000, 9) ++ r(5100, 11)), // c·10 = 9·na exactly
      "g0" -> r(6000, 19), "g1" -> (r(6000, 17) + 6100L))       // c·10 = 9·na − 1
    (perturbed ++ planted).zipWithIndex.map { case ((g, t), i) => S(g, i.toLong, t) }
  }

  private def frame(sets: Seq[S]): DataFrame = {
    import spark.implicits._
    sets.map(s => (s.group, s.id, s.toks.size, s.toks.toSeq.sorted))
      .toDF("group", "id", "n", "tokens")
  }

  private def planted(lo: Long): Long = family.find(_.toks.contains(lo)).get.id

  /** (ida, idb, c) of the kernel's output; Jaccard pairs as (min, max). */
  private def kernel(sets: Seq[S], bound: SetSimilarity.Bound, sameGroup: Boolean,
      unordered: Boolean): Set[(Long, Long, Int)] = {
    val out = SetSimilarity.pairs(frame(sets), bound,
        if (sameGroup) _ === _ else _ =!= _)
      .select("ida", "idb", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val toks = sets.map(s => s.id -> s.toks).toMap
    out.foreach { case (a, b, c) => assert((toks(a) & toks(b)).size == c) }
    out.map { case (a, b, c) => if (unordered) (a min b, a max b, c) else (a, b, c) }.toSet
      .ensuring(_.size == out.length, "a pair was emitted twice")
  }

  private def bruteJaccard(sets: Seq[S], t: Double): Set[(Long, Long, Int)] =
    (for (a <- sets; b <- sets if a.group == b.group && a.id < b.id;
          c = (a.toks & b.toks).size
          if c.toDouble / (a.toks.size + b.toks.size - c) >= t) yield (a.id, b.id, c)).toSet

  private def bruteContainment(sets: Seq[S]): Set[(Long, Long, Int)] =
    (for (a <- sets; b <- sets if a.group != b.group;
          c = (a.toks & b.toks).size if c * 10 >= 9 * a.toks.size) yield (a.id, b.id, c)).toSet

  test("the family's vocabulary is over 64 tokens, so dispatch takes the prefix path") {
    assert(family.flatMap(_.toks).distinct.size > 64)
    val plan = SetSimilarity.pairs(frame(family), Jaccard(4, 5), _ === _)
      .queryExecution.analyzed.toString
    assert(plan.contains("array_intersect") && !plan.contains("bit_count"))
  }

  test("Jaccard 4/5, same group: kernel = brute force, boundary pairs included") {
    val want = bruteJaccard(family, 0.8)
    assert(want.size >= 20, s"family must plant near-dup pairs, got ${want.size}")
    val pairIds = want.map(p => (p._1, p._2))
    assert(pairIds.contains((planted(7000), planted(7000) + 1)), "exact 4/5 pair missing")
    assert(pairIds.contains((planted(9000), planted(9000) + 1)), "exact 4/5 tie pair missing")
    assert(!pairIds.contains((planted(8000), planted(8000) + 1)), "15/19 pair must fail")
    assert(kernel(family, Jaccard(4, 5), sameGroup = true, unordered = true) == want)
  }

  test("Containment 9/10, cross group: kernel = brute force, boundary pairs included") {
    val want = bruteContainment(family)
    assert(want.size >= 10, s"family must plant contained pairs, got ${want.size}")
    val pairIds = want.map(p => (p._1, p._2))
    assert(pairIds.contains((planted(5000), planted(5000) + 1)), "c·10 = 9·na pair missing")
    assert(!pairIds.contains((planted(6000), planted(6000) + 1)), "17/19 pair must fail")
    assert(kernel(family, Containment(9, 10), sameGroup = false, unordered = false) == want)
  }

  test("a vocabulary of at most 64 tokens takes the bitmask path, with the same pairs") {
    val small = family.map(s => s.copy(toks = s.toks.map(_ % 64)))
    val plan = SetSimilarity.pairs(frame(small), Jaccard(4, 5), _ === _)
      .queryExecution.analyzed.toString
    assert(plan.contains("bit_count"))
    val want = bruteJaccard(small, 0.8)
    assert(want.nonEmpty)
    assert(kernel(small, Jaccard(4, 5), sameGroup = true, unordered = true) == want)
  }

  test("integer verify forms agree with the oracles' double comparisons") {
    // every (na, nb, c) with 1 ≤ na, nb ≤ 200 and 0 ≤ c ≤ min(na, nb)
    val grid = spark.range(1, 201).toDF("na").crossJoin(spark.range(1, 201).toDF("nb"))
      .withColumn("c", explode(sequence(lit(0L), least(col("na"), col("nb")))))
    for ((bound, t) <- Seq(Jaccard(4, 5) -> 0.8, Jaccard(3, 5) -> 0.6)) {
      val (c, na, nb) = (col("c"), col("na"), col("nb"))
      val r = grid.agg(
        sum(when(bound.verify(c, na, nb) =!= (c / (na + nb - c) >= t), 1).otherwise(0)),
        sum(when(bound.verify(c, na, nb) && c * bound.q === (na + nb - c) * bound.p, 1)
          .otherwise(0))).head()
      assert(r.getLong(0) == 0, s"$bound disagrees with >= $t on ${r.getLong(0)} triples")
      assert(r.getLong(1) > 0, s"$bound: grid must hold exact-threshold triples")
    }
  }
}
