package graft.vector

import graft.functions.VectorFunctions._
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, Tokenizer}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one IVF index of the vector layer (reference IVF
  * `vector_engine/src/lib.rs:2647-2860`; HNSW is intentionally not ported —
  * SURVEY §1.4). v08/v10/v12/v13/v20/v22, `EMBED BUILD INDEX`,
  * `SIMILAR … USING INDEX` and `SHOW VECTOR INDEX` all read it.
  *
  * An [[IvfIndex]] has two builds:
  *  - [[labelIvf]]: one cell per label, centroid = per-dimension mean —
  *    the oracle-checkable construction (DuckDB mirrors it in SQL);
  *  - [[buildIvf]]: MLlib KMeans cells (fixed seed), the scale path.
  *
  * A search is [[probe]] then an exact rank inside the probed cells
  * ([[searchIvf]]). The probe ranks centroids by (cosine desc, cell), so
  * two cells with equal cosine go to the smaller `cell` value, compared
  * in the cell column's own type. At 100 TB the cell id is a partition
  * column and probing prunes partitions.
  */
object AnnIndex {

  private val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))

  /** `assigned(id, embedding, cell)` + `centroids(cell, centroid: array<float>)`. */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  /** Per-dimension values `(cell, i, cx)` → `(cell, centroid)`, the array in
    * dimension order and cast to float once. */
  def centroidArrays(perDim: DataFrame): DataFrame =
    perDim.groupBy("cell").agg(
      expr("transform(array_sort(collect_list(struct(i, cx))), p -> p.cx)")
        .cast("array<float>").as("centroid"))

  /** One cell per `label` (kept in its own type), centroid = mean embedding.
    * `id` names the id column of `emb`, as in [[buildIvf]]. */
  def labelIvf(emb: DataFrame, id: String = "vec_id"): IvfIndex = {
    val assigned = emb.select(col(id).as("id"), col("embedding"), col("label").as("cell"))
    IvfIndex(assigned, centroidArrays(
      assigned.select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(avg("x").as("cx"))))
  }

  /** Cluster embeddings into k KMeans cells (deterministic via fixed seed). */
  def buildIvf(emb: DataFrame, k: Int, id: String = "vec_id", seed: Long = 42L): IvfIndex = {
    val feat = emb.withColumn("features", toVec(col("embedding")))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features").fit(feat)
    val assigned = model.transform(feat)
      .select(col(id).as("id"), col("embedding"), col("prediction").as("cell"))
    val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }
    val centroids = emb.sparkSession.createDataFrame(cents.toSeq).toDF("cell", "centroid")
    IvfIndex(assigned, centroids)
  }

  /** The probe: for each query of `q(qid, qv)` — one row, or a batch —
    * every centroid ranked by (cosine desc, cell), ranks `rn` ≤ nprobe
    * kept. Returns q's columns with `cell` and `rn`. A batch is shuffled
    * by qid to rank; a one-partition `q` (a single query, `coalesce(1)`)
    * is ranked where it is, with no shuffle stage. */
  def probe(centroids: DataFrame, q: DataFrame, nprobe: Int): DataFrame =
    q.crossJoin(broadcast(centroids))
      .withColumn("cs", cosine_similarity(col("centroid"), col("qv")))
      .withColumn("rn", row_number().over(Window.partitionBy("qid").orderBy(desc("cs"), col("cell"))))
      .filter(col("rn") <= nprobe)
      .drop("centroid", "cs")

  /** Exact top-k inside the `nprobe` probed cells for the one-row query
    * `q(qid, qv)`: score = cosine rounded to 4 places, ties on id, the
    * query itself excluded. Returns (id, cell, score). */
  def searchIvf(index: IvfIndex, q: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val one = q.coalesce(1)
    index.assigned.join(broadcast(probe(index.centroids, one, nprobe).select("cell")), Seq("cell"))
      .crossJoin(broadcast(one))
      .filter(col("id") =!= col("qid"))
      .select(col("id"), col("cell"),
        round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
      .orderBy(desc("score"), col("id")).limit(k)
  }

  /** [[searchIvf]] for a query vector given by value. */
  def searchIvf(index: IvfIndex, qid: Long, query: Array[Float], k: Int, nprobe: Int): DataFrame =
    searchIvf(index, index.assigned.sparkSession.createDataFrame(Seq((qid, query))).toDF("qid", "qv"),
      k, nprobe)

  /** MLlib MinHashLSH near-dup candidate pairs over document word sets.
    * Returns (da, db, jaccardDist) with da < db for pairs with Jaccard
    * distance ≤ maxDist.
    */
  def minHashNearDups(docs: DataFrame, maxDist: Double, numHashTables: Int = 8): DataFrame = {
    val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
    val tf = new HashingTF().setInputCol("words").setOutputCol("features")
      .setNumFeatures(1 << 16).setBinary(true)
    val featured = tf.transform(tok.transform(docs.select("doc_id", "text")))
      .filter(udf((v: MlVector) => v.numNonzeros > 0).apply(col("features")))
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(featured)
    model.approxSimilarityJoin(featured, featured, maxDist, "jaccardDist")
      .select(col("datasetA.doc_id").as("da"), col("datasetB.doc_id").as("db"),
        round(col("jaccardDist"), 4).as("jaccardDist"))
      .filter(col("da") < col("db"))
      .orderBy("da", "db")
  }
}
