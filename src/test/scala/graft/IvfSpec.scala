package graft

import graft.vector.AnnIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The IVF kernel (`AnnIndex`: label-cell build, probe, exact in-cell
  * top-k) against an IVF written out in plain Scala: per-cell mean
  * centroid, cells ranked by (cosine desc, cell), then the exact top-k of
  * the probed cells by (rounded cosine desc, id) with the query excluded.
  *
  * The corpus is 300 seeded 8-d vectors over 6 labels. Every component is
  * a multiple of 1/8, so each per-dimension sum is exact in any order and
  * both sides agree on the centroids to the bit. Label 5 holds copies of
  * label 4's vectors under other ids: the two cells have identical
  * centroids, so for every query they tie in the probe and the smaller
  * cell must win, and every vector of one has a score twin in the other,
  * so the top-k's id tie-break decides too. */
class IvfSpec extends AnyFunSuite {
  import TestSpark._

  private val nCells = 6

  /** (id, embedding, label) */
  private val corpus: Seq[(Long, Array[Float], Int)] = {
    val rnd = new scala.util.Random(11)
    val bases = Seq.fill(5)(Array.fill(8)(rnd.nextInt(33) - 16))
    val drawn = (0 until 5).flatMap(l =>
      Seq.fill(50)(l -> bases(l).map(b => (b + rnd.nextInt(9) - 4) / 8f)))
    val twins = drawn.filter(_._1 == 4).map { case (_, e) => 5 -> e }
    rnd.shuffle(drawn ++ twins).zipWithIndex.map { case ((l, e), i) => (i.toLong, e, l) }
  }

  private lazy val frame: DataFrame =
    spark.createDataFrame(corpus).toDF("vec_id", "embedding", "label")

  private lazy val index = AnnIndex.labelIvf(frame)

  /** Query ids: one vector of each label plus two more. */
  private val queries: Seq[Long] =
    ((0 until nCells).map(l => corpus.find(_._3 == l).get._1) ++ Seq(100L, 200L)).distinct

  private def queryFrame(ids: Seq[Long]): DataFrame =
    frame.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  // --- the plain-Scala IVF -------------------------------------------------

  /** The kernel's cosine: sequential double sums over float components. */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Spark's `round(x, 4)` on a double. */
  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val vec: Map[Long, Array[Float]] = corpus.map(r => r._1 -> r._2).toMap

  private val centroids: Map[Int, Array[Float]] = corpus.groupBy(_._3).map { case (l, rows) =>
    l -> (0 until 8).map(i => (rows.map(_._2(i).toDouble).sum / rows.size).toFloat).toArray
  }

  /** Cells in probe order for query vector `q`. */
  private def ranked(q: Array[Float]): Seq[Int] =
    centroids.toSeq.sortBy { case (c, v) => (-cosine(v, q), c) }.map(_._1)

  /** (id, cell, score) of the exact top-k inside `cells`, query excluded. */
  private def topK(qid: Long, cells: Set[Int], k: Int): Seq[(Long, Int, Double)] =
    corpus.filter(r => cells(r._3) && r._1 != qid)
      .map(r => (r._1, r._3, round4(cosine(r._2, vec(qid)))))
      .sortBy(r => (-r._3, r._1)).take(k)

  /** (qid → cells in rank order) of a probe result. */
  private def probed(df: DataFrame): Map[Long, Seq[Int]] =
    df.select("qid", "cell", "rn").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2) }

  // --- checks ---------------------------------------------------------------

  test("label cells: per-cell mean centroids, and the planted tie is real") {
    val got = index.centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
    assert(got.keySet == centroids.keySet)
    got.foreach { case (c, v) => assert(v.sameElements(centroids(c)), s"cell $c: ${v.toSeq}") }
    assert(centroids(4).sameElements(centroids(5)))
    // cells 4 and 5 are adjacent in every query's probe order, 4 first
    queries.foreach { q =>
      val r = ranked(vec(q))
      assert(r.indexOf(5) == r.indexOf(4) + 1, s"query $q ranks $r")
    }
  }

  test("single-query and batch probes match the plain IVF and each other at nprobe = 1 .. cells") {
    for (np <- 1 to nCells) {
      val batch = probed(AnnIndex.probe(index.centroids, queryFrame(queries), np))
      assert(batch.keySet == queries.toSet)
      queries.foreach { q =>
        val single = probed(AnnIndex.probe(index.centroids, queryFrame(Seq(q)), np))
        assert(single == Map(q -> ranked(vec(q)).take(np)), s"single q=$q np=$np")
        assert(batch(q) == single(q), s"batch q=$q np=$np")
      }
    }
  }

  test("the exact in-cell top-k matches the plain IVF at nprobe = 1 .. cells") {
    for (np <- 1 to nCells; q <- queries) {
      val got = AnnIndex.searchIvf(index, queryFrame(Seq(q)), 10, np).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(got == topK(q, ranked(vec(q)).take(np).toSet, 10), s"q=$q np=$np")
    }
  }

  test("KMeans cells probed at nprobe = k give the exact brute-force top-k") {
    val k = 4
    val km = AnnIndex.buildIvf(frame, k)
    assert(km.centroids.count() == k)
    queries.foreach { q =>
      val got = AnnIndex.searchIvf(km, q, vec(q), 10, k).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(got == topK(q, (0 until nCells).toSet, 10).map(r => (r._1, r._3)), s"query $q")
    }
  }
}
