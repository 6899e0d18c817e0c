package graft

import graft.vector.AnnIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** sf1.0 ANN recall, ASSERTED (round 12, VERDICT r11 item 8 — formerly
  * the report-only DevAnnSf1 main). The CI floors (AnnIndexSpec) run on
  * gate-sized vectors; this spec re-runs the same contract on the
  * 10×-denser generated table, where IVF cell balance could in principle
  * shift: the curve must stay monotone in nprobe and clear every gate
  * floor. (Measured r10/r12: sf1.0 sits FAR above the floors — gen_sf1's
  * noise-perturbed replicas make each query's top-10 a single-cell
  * micro-cluster — so the floors bind loosely here by construction; the
  * assertion's job is to fail if an index change breaks AT SCALE what
  * the gate-SF spec can't see.)
  *
  * Skips (cancels) when target/sf1.0 hasn't been generated — run
  * `python3 tools/gen_sf1.py` first; the committed run lives in
  * tools/ann_recall_sf1_r12.log.
  */
class AnnRecallSf1Spec extends AnyFunSuite {
  import TestSpark.spark

  private val sf1 = "/root/repo/target/sf1.0"

  test("sf1.0 IVF recall@10 curve: monotone in nprobe, >= gate floors") {
    assume(new java.io.File(s"$sf1/embeddings.parquet").exists(),
      s"$sf1 not generated (tools/gen_sf1.py) - sf1.0 recall not re-asserted")
    val emb = Tables(spark, sf1, "embeddings")
    val all = emb.filter(col("vec_id") >= 20) // corpus = everything not a query
    val index = AnnIndex.buildIvf(all, k = 8)
    val queries = emb.filter(col("vec_id") < 20)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(queries.length == 20)

    // exact baseline once per query: nprobe = k probes every cell
    val exactSets = queries.map { case (id, q) =>
      id -> AnnIndex.searchIvf(index, id, q, k = 10, nprobe = 8)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    def recallAt(nprobe: Int): Double = {
      val per = queries.map { case (id, q) =>
        val approx = AnnIndex.searchIvf(index, id, q, k = 10, nprobe = nprobe)
          .collect().map(_.getLong(0)).toSet
        (exactSets(id) intersect approx).size.toDouble / exactSets(id).size
      }
      per.sum / per.length
    }

    val rs = (1 to 6).map(np => np -> recallAt(np))
    info(rs.map { case (np, r) => f"nprobe=$np $r%.3f" }
      .mkString("sf1.0 mean recall@10: ", ", ", ""))
    rs.sliding(2).foreach { case Seq((_, a), (_, b)) =>
      assert(a <= b + 1e-9, s"recall must be monotone in nprobe: $rs")
    }
    // same floors as the gate-SF contract (AnnIndexSpec)
    val floors = Map(1 -> 0.25, 2 -> 0.40, 3 -> 0.60, 4 -> 0.70, 5 -> 0.80, 6 -> 0.85)
    rs.foreach { case (np, r) =>
      assert(r >= floors(np),
        f"sf1.0 recall@10 with nprobe=$np fell to $r%.3f (floor ${floors(np)})")
    }
  }
}
