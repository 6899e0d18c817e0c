package graft.vector

import graft.{QDef, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector-engine operators (SURVEY.md §2.11): SIMILAR top-k by key with
  * cosine/euclidean/dot metrics, metadata-filtered search, batched search,
  * all-pairs near-duplicate detection, and an IVF-style pruned search.
  *
  * Semantics follow the reference's brute-force search
  * (`vector_engine/src/lib.rs:1950-2277`: top-k by score, metric selectable)
  * with scores computed by the native codegen expressions in
  * `graft.functions`. Scores are rounded to 4 decimals *before* ranking on
  * both the Spark and oracle side, with `vec_id` as tiebreaker, so the
  * driver's hash compare is deterministic.
  *
  * Scale notes: the scan side never collects; the single query vector (or
  * small query set) is a broadcast cross join, so a 100 TB embedding table
  * stays a single parquet scan with codegen'd similarity + TakeOrderedAndProject.
  */
object VectorQueries {
  private def emb(s: SparkSession, d: String): DataFrame = Tables(s, d, "embeddings")

  /** Query vector `id` as a 1-row broadcastable frame (qid, qv). */
  private def qv(s: SparkSession, d: String, id: Long): DataFrame =
    emb(s, d).filter(col("vec_id") === id).select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** Exact top-10 for vec 0 inside its `nprobe` nearest label cells, as
    * (vec_id, label, score). */
  private def labelSearch(s: SparkSession, d: String, nprobe: Int): DataFrame =
    AnnIndex.searchIvf(AnnIndex.labelIvf(emb(s, d)), qv(s, d, 0), 10, nprobe)
      .select(col("id").as("vec_id"), col("cell").as("label"), col("score"))

  /** 16 deterministic ±1 hyperplanes over the 64-d embeddings (signs from
    * a Knuth-multiplicative parity, same constants inlined into the
    * oracle SQL). ±1 components make each dot product an exact
    * same-order double sum on both engines — no FP sign-flip hazard at
    * the bucket boundary.
    */
  private val lshPlanes: Seq[Seq[Float]] = (0 until 16).map { i =>
    (0 until 64).map { j =>
      if (((2654435761L * (i * 64 + j + 1)) % 2147483647L) % 2 == 0) 1f else -1f
    }
  }

  /** MMR diversified re-ranking (the v18 engine, parameterized for the
    * `MMR <id> [POOL p] [LIMIT k]` statement): top-`poolK` relevance
    * pool for query vector `qid`, then `k` greedy picks maximizing
    * 0.7·rel − 0.3·max-sim-to-selected. Returns (r, vec_id, mmr). The
    * corpus is scanned once (pool retrieval); every greedy round runs on
    * the lineage-cut pool with the selected rows broadcast.
    */
  def mmrRerank(s: SparkSession, d: String, qid: Long, poolK: Int, k: Int): DataFrame = {
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    val q0 = emb(s, d).filter(col("vec_id") === qid)
      .select(col("embedding").as("qvec"))
    val pool = graft.graph.Superstep.cut(
      e.filter(col("vec_id") =!= qid).crossJoin(broadcast(q0))
        .select(col("vec_id"), col("embedding"),
          cosine_similarity(col("embedding"), col("qvec")).as("rel"))
        .orderBy(desc("rel"), col("vec_id")).limit(poolK))
    var sel = pool.orderBy(desc("rel"), col("vec_id")).limit(1)
      .select(col("vec_id").as("sid"), col("embedding").as("sv"))
    val picks = scala.collection.mutable.ArrayBuffer(
      pool.orderBy(desc("rel"), col("vec_id")).limit(1)
        .select(lit(1).as("r"), col("vec_id"), col("rel").as("mmr")))
    for (r <- 2 to k) {
      val pick = pool
        .join(sel.select(col("sid").as("vec_id")), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(sel))
        .groupBy("vec_id", "rel")
        .agg(max(cosine_similarity(col("embedding"), col("sv"))).as("msim"))
        .withColumn("mmr", lit(0.7) * col("rel") - lit(0.3) * col("msim"))
        .orderBy(desc("mmr"), col("vec_id")).limit(1)
      picks += pick.select(lit(r).as("r"), col("vec_id"), col("mmr"))
      sel = graft.graph.Superstep.cut(sel.union(
        pool.join(pick.select("vec_id"), Seq("vec_id"))
          .select(col("vec_id").as("sid"), col("embedding").as("sv"))))
    }
    picks.reduce(_ union _)
      .select(col("r"), col("vec_id"), round(col("mmr"), 4).as("mmr"))
      .orderBy("r")
  }

  val defs: Seq[(String, QDef)] = Seq(

    "v01_similar_topk_cosine" -> QDef(
      (s, d) => emb(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv(s, d, 0)))
        .select(col("vec_id"),
          round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(10),
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]),4) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin),

    "v02_similar_topk_euclidean" -> QDef(
      (s, d) => emb(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv(s, d, 0)))
        .select(col("vec_id"),
          round(l2_distance(col("embedding"), col("qv")), 4).as("dist"))
        .orderBy(asc("dist"), col("vec_id")).limit(10),
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]),4) AS dist
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY dist ASC, e.vec_id LIMIT 10""".stripMargin),

    "v03_similar_topk_dot" -> QDef(
      (s, d) => emb(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv(s, d, 0)))
        .select(col("vec_id"),
          round(dot_product(col("embedding"), col("qv")), 4).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(10),
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_inner_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]),4) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin),

    // metadata-filtered search — pre-filter compiled into the scan
    // (reference strategy logic `vector_engine/src/lib.rs:387-455` is
    // unnecessary: Catalyst pushes the filter below the sort).
    "v04_similar_filtered" -> QDef(
      (s, d) => emb(s, d).filter(col("vec_id") =!= 0 && col("label").isin(1, 3, 5, 7))
        .crossJoin(broadcast(qv(s, d, 0)))
        .select(col("vec_id"), col("label"),
          round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(10),
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, e.label,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]),4) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label IN (1,3,5,7)
        |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin),

    // top-k per group — reference has per-collection search
    // (`lib.rs:1585-1697`); labels stand in for collections.
    "v05_similar_topk_per_label" -> QDef(
      (s, d) => {
        val scored = emb(s, d).filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv(s, d, 0)))
          .select(col("label"), col("vec_id"),
            round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
        val w = Window.partitionBy("label").orderBy(desc("score"), col("vec_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .orderBy("label", "rn")
      },
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.label, e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]),4) AS score
        |  FROM embeddings e, q WHERE e.vec_id <> 0)
        |SELECT label, vec_id, score, CAST(rn AS INT) AS rn FROM (
        |  SELECT label, vec_id, score,
        |    row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rn
        |  FROM scored) t
        |WHERE rn <= 3 ORDER BY label, rn""".stripMargin),

    // batched SIMILAR (reference EMBED BATCH + per-key search):
    // 5 query vectors resolved and ranked in one distributed plan.
    "v06_similar_batch" -> QDef(
      (s, d) => {
        val queries = emb(s, d).filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val scored = emb(s, d).crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
        val w = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .orderBy("qid", "rn")
      },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]),4) AS score
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid)
        |SELECT qid, vec_id, score, CAST(rn AS INT) AS rn FROM (
        |  SELECT qid, vec_id, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
        |  FROM scored) t
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),

    // embedding near-duplicate pairs — DECLARED EXACT BASELINE, not a
    // scale path: all-pairs by construction, kept as v09's recall ground
    // truth (v09's banded hyperplane-LSH is the 100 TB variant of this
    // same query). The 0.45 threshold sits in the bulk of the random-
    // vector score distribution (no planted near-dups in this table), so
    // no lossless candidate filter can prune it — run this form only at
    // lab scale.
    "v07_near_dup_pairs_cosine" -> QDef(
      (s, d) => {
        val e = emb(s, d)
        val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
        val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
        a.join(b, col("va") < col("vb"))
          .withColumn("score", cosine_similarity(col("ea"), col("eb")))
          .filter(col("score") >= 0.45)
          .select(col("va"), col("vb"), round(col("score"), 4).as("score"))
          .orderBy("va", "vb")
      },
      """SELECT a.vec_id AS va, b.vec_id AS vb,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),4) AS score
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        |ORDER BY va, vb""".stripMargin),

    // IVF-style pruned ANN: coarse cells = label clusters, centroid = mean
    // embedding per cell, probe nprobe=1 nearest cell, exact rank inside it.
    // (Reference IVF: `vector_engine/src/lib.rs:2647-2860`; k-means cells
    // there, pre-assigned cells here so the oracle stays deterministic.)
    "v08_ivf_pruned_search" -> QDef(
      (s, d) => labelSearch(s, d, 1),
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |flat AS (SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings),
        |cent AS (SELECT label, list(cx ORDER BY i) AS centroid
        |         FROM (SELECT label, i, avg(x) AS cx FROM flat GROUP BY label, i) GROUP BY label),
        |best AS (SELECT label AS best_label FROM cent, q
        |         ORDER BY list_cosine_similarity(CAST(centroid AS FLOAT[])::DOUBLE[], q.embedding::DOUBLE[]) DESC, label
        |         LIMIT 1)
        |SELECT e.vec_id, e.label,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]),4) AS score
        |FROM embeddings e, best, q WHERE e.label = best.best_label AND e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin),

    // Multiprobe IVF (nprobe = 3): same coarse cells as v08, but the
    // probe visits the 3 nearest centroids and exact-ranks across their
    // union — the standard recall knob (one more probe ≈ one fewer
    // recall miss) at 3× the in-cell scan cost, still never a full scan.
    "v10_ivf_multiprobe" -> QDef(
      (s, d) => labelSearch(s, d, 3),
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |flat AS (SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings),
        |cent AS (SELECT label, list(cx ORDER BY i) AS centroid
        |         FROM (SELECT label, i, avg(x) AS cx FROM flat GROUP BY label, i) GROUP BY label),
        |probed AS (SELECT label AS probe_label FROM cent, q
        |         ORDER BY list_cosine_similarity(CAST(centroid AS FLOAT[])::DOUBLE[], q.embedding::DOUBLE[]) DESC, label
        |         LIMIT 3)
        |SELECT e.vec_id, e.label,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]),4) AS score
        |FROM embeddings e JOIN probed ON e.label = probed.probe_label, q
        |WHERE e.vec_id <> 0
        |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin),

    // Banded hyperplane-LSH near-dup — the 100 TB path that replaces v07's
    // all-pairs scan: 16 sign bits → 4 bands × 4 bits, candidates = pairs
    // sharing any band bucket (∝ Σ bucket², never |V|²), then exact cosine
    // verification on candidates only. ~99% recall on the planted ≥0.99
    // near-dups at these parameters; the oracle mirrors the full pipeline
    // (same plane constants), so parity is exact regardless of recall.
    "v09_lsh_banded_near_dup" -> QDef(
      (s, d) => {
        val e = emb(s, d)
        val bits = lshPlanes.map(pl =>
          when(dot_product(col("embedding"), array(pl.map(lit): _*)) >= 0, lit("1")).otherwise(lit("0")))
        val bands = (0 until 4).map(k =>
          concat((lit(k.toString) +: (4 * k until 4 * k + 4).map(bits)): _*))
        val sig = e.select(col("vec_id"), col("embedding"), explode(array(bands: _*)).as("bkt"))
        val cand = sig.select(col("vec_id").as("va"), col("embedding").as("ea"), col("bkt"))
          .join(sig.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("bkt")), Seq("bkt"))
          .filter(col("va") < col("vb"))
          .select("va", "vb", "ea", "eb").distinct()
        cand.withColumn("score", cosine_similarity(col("ea"), col("eb")))
          .filter(col("score") >= 0.45)
          .select(col("va"), col("vb"), round(col("score"), 4).as("score"))
          .orderBy("va", "vb")
      }, {
        val planesSql = lshPlanes.map(pl =>
          "[" + pl.map(v => if (v > 0) "1.0" else "-1.0").mkString(", ") + "]")
        val bitsSql = planesSql.map(p =>
          s"CASE WHEN list_dot_product(embedding::DOUBLE[], $p) >= 0 THEN '1' ELSE '0' END")
        val bandSelects = (0 until 4).map { k =>
          val bs = (4 * k until 4 * k + 4).map(bitsSql).mkString(" || ")
          s"SELECT vec_id, embedding, '$k' || $bs AS bkt FROM embeddings"
        }.mkString(" UNION ALL ")
        s"""WITH bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
           |         FROM bands a JOIN bands b ON a.bkt = b.bkt AND a.vec_id < b.vec_id)
           |SELECT va, vb, round(list_cosine_similarity(ea::DOUBLE[], eb::DOUBLE[]), 4) AS score
           |FROM cand WHERE list_cosine_similarity(ea::DOUBLE[], eb::DOUBLE[]) >= 0.45
           |ORDER BY va, vb""".stripMargin
      }),

    // Batch k-NN JOIN via IVF cells — the scale path for "dedup/enrich a
    // whole shard of embeddings against the corpus" (vs v01's single
    // query). Every query vector (deterministic vec_id % 37 sample) is
    // routed to its nearest coarse cell (label cells + mean centroids,
    // same oracle-checkable construction as v08), then exact-ranked
    // top-3 inside that cell only. At 100 TB the assignment frame is
    // queries × 10-10⁴ centroids (broadcast-sized), the corpus is
    // scanned ONCE with the assignments broadcast onto it (no corpus
    // shuffle), and the per-query window ranks only cell-sized
    // candidate sets. Scores round to 4 decimals BEFORE ranking with
    // vec_id tiebreak (file convention) so ranks are engine-stable.
    "v12_knn_join_ivf" -> QDef(
      (s, d) => {
        val index = AnnIndex.labelIvf(emb(s, d))
        val q = emb(s, d).filter(col("vec_id") % 37 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val assigned = AnnIndex.probe(index.centroids, q, 1).select("qid", "qv", "cell")
        val wRank = Window.partitionBy("qid").orderBy(desc("score"), col("id"))
        index.assigned.join(broadcast(assigned), Seq("cell"))
          .filter(col("id") =!= col("qid"))
          .withColumn("score", round(cosine_similarity(col("embedding"), col("qv")), 4))
          .withColumn("rnk", row_number().over(wRank).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("id").as("nbr_id"), col("rnk"), col("score"))
          .orderBy("qid", "rnk")
      },
      """WITH flat AS (SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings),
        |cent AS (SELECT label, list(cx ORDER BY i) AS centroid
        |         FROM (SELECT label, i, avg(x) AS cx FROM flat GROUP BY label, i) GROUP BY label),
        |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 37 = 0),
        |assigned AS (SELECT qid, qv, label FROM (
        |  SELECT q.qid, q.qv, cent.label,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(CAST(centroid AS FLOAT[])::DOUBLE[], q.qv::DOUBLE[]) DESC, cent.label) AS rn
        |  FROM q, cent) WHERE rn = 1),
        |scored AS (SELECT a.qid, e.vec_id AS nbr_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], a.qv::DOUBLE[]), 4) AS score
        |  FROM assigned a JOIN embeddings e ON e.label = a.label AND e.vec_id <> a.qid)
        |SELECT qid, nbr_id, rnk, score FROM (
        |  SELECT qid, nbr_id, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nbr_id) AS rnk
        |  FROM scored) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin),

    // Cluster-separation audit: pairwise cosine between per-label mean
    // centroids — the "are my data domains embedding-distinct?" check a
    // training pipeline runs before mixing sources (high inter-centroid
    // similarity ⇒ domains overlap ⇒ near-dup sweep across them, low ⇒
    // they stratify cleanly). The centroid reduction is the only pass
    // over the corpus (posexplode + per-dim avg = partial-agg friendly);
    // the pair stage is centroids × centroids — always domain-count
    // sized, broadcast territory at any corpus scale.
    "v13_centroid_separation" -> QDef(
      (s, d) => {
        val cent = AnnIndex.labelIvf(emb(s, d)).centroids
        val a = cent.select(col("cell").as("la"), col("centroid").as("ca"))
        val b = cent.select(col("cell").as("lb"), col("centroid").as("cb"))
        a.join(b, col("la") < col("lb"))
          .select(col("la"), col("lb"),
            round(cosine_similarity(col("ca"), col("cb")), 4).as("score"))
          .orderBy("la", "lb")
      },
      """WITH flat AS (SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings),
        |cent AS (SELECT label, list(cx ORDER BY i) AS centroid
        |         FROM (SELECT label, i, avg(x) AS cx FROM flat GROUP BY label, i) GROUP BY label)
        |SELECT a.label AS la, b.label AS lb,
        |  round(list_cosine_similarity(CAST(a.centroid AS FLOAT[])::DOUBLE[],
        |                               CAST(b.centroid AS FLOAT[])::DOUBLE[]), 4) AS score
        |FROM cent a JOIN cent b ON a.label < b.label
        |ORDER BY la, lb""".stripMargin),

    // Scalar-quantized (int8) similarity search — the SQ half of the
    // IVF+SQ pairing that serves large-corpus ANN in practice: store d
    // int8 codes + one scale per vector (4× less scan bandwidth than
    // float32), rank candidates by the integer dot product rescaled by
    // the two scales, touch float vectors only to verify survivors.
    // Determinism: quantization is floor(x/scale) with scale =
    // max|x|/127 (floor, not round — no half-up/half-even divergence),
    // the code dot is exact integer arithmetic on both engines, and the
    // two rescale multiplications are ordered identically. approx_ok
    // gates the quantization error at 5% of the exact dot (q32's
    // sketch-accuracy pattern); the driver hash-checks the boolean.
    // All quantization/scoring is map-side per row — at 100 TB this is
    // one pruned column scan + TakeOrderedAndProject, and the codes
    // column would be written once at ingest, not recomputed per query.
    "v14_scalar_quantized_search" -> QDef(
      (s, d) => {
        val e = emb(s, d)
          .withColumn("sc", expr(
            "CAST(array_max(transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0"))
          .filter(col("sc") > 0)
          .withColumn("qv8", expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / sc) AS INT))"))
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"), col("sc").as("qsc"), col("qv8").as("qq8"))
        e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .withColumn("qdot", expr(
            "aggregate(zip_with(qv8, qq8, (a, b) -> CAST(a AS BIGINT) * b), 0L, (acc, x) -> acc + x)"))
          .withColumn("qscore", round(expr("(CAST(qdot AS DOUBLE) * sc) * qsc"), 4))
          .withColumn("exact_dot", round(dot_product(col("embedding"), col("qe")), 4))
          .withColumn("approx_ok", expr(
            "abs(qscore - exact_dot) <= 0.05 * greatest(abs(exact_dot), 0.0001)"))
          .select("vec_id", "qscore", "exact_dot", "approx_ok")
          .orderBy(desc("qscore"), col("vec_id")).limit(10)
      },
      """WITH sq AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS sc
        |  FROM embeddings),
        |q8 AS (SELECT vec_id, v, sc, list_transform(v, x -> CAST(floor(x / sc) AS INT)) AS qv8
        |       FROM sq WHERE sc > 0),
        |qq AS (SELECT v AS qv, sc AS qsc, qv8 AS qq8 FROM q8 WHERE vec_id = 0),
        |du AS (SELECT d.vec_id, generate_subscripts(d.qv8, 1) AS i, unnest(d.qv8) AS a
        |       FROM q8 d WHERE d.vec_id <> 0),
        |qu AS (SELECT generate_subscripts(qq8, 1) AS i, unnest(qq8) AS b FROM qq),
        |dots AS (SELECT vec_id, CAST(sum(CAST(a AS BIGINT) * b) AS BIGINT) AS qdot
        |         FROM du JOIN qu USING (i) GROUP BY 1),
        |scored AS (
        |  SELECT s.vec_id,
        |    round((CAST(t.qdot AS DOUBLE) * s.sc) * qq.qsc, 4) AS qscore,
        |    round(list_inner_product(s.v, qq.qv), 4) AS exact_dot
        |  FROM dots t JOIN q8 s USING (vec_id), qq)
        |SELECT vec_id, qscore, exact_dot,
        |  abs(qscore - exact_dot) <= 0.05 * greatest(abs(exact_dot), 0.0001) AS approx_ok
        |FROM scored ORDER BY qscore DESC, vec_id LIMIT 10""".stripMargin),

    // Product quantization with asymmetric distance computation (ADC) —
    // the remaining rung of the ANN ladder (brute v01, IVF v08/v10, LSH
    // v09, scalar-quant v14): split the 64-d space into M=4 subspaces of
    // 16 dims, build one sub-codebook per subspace (per-label sub-
    // centroids, the same deterministic KMeans stand-in as v08's coarse
    // cells, quantized to 6 dp so both engines share bit-identical
    // codebooks), encode every vector as 4 code bytes (argmin sub-
    // distance), and score a query via a 4×10 lookup table of
    // query⋅sub-centroid dots — the scan never touches the float
    // vectors. All distances/LUT entries are 1e-9-quantized BIGINT sums
    // (g28's order-independence trick), so encode and scoring are exact
    // integer arithmetic on both engines. At 100 TB the codes column
    // (4 bytes vs 256) is written once at ingest; a query is one
    // broadcast of the 40-entry LUT + a codes-column scan +
    // TakeOrderedAndProject, 64× less bandwidth than the float scan.
    "v15_pq_adc_search" -> QDef(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        val flat = e.select(col("vec_id"), col("label"),
          posexplode(col("v")).as(Seq("i", "x")))
        val cent = flat.groupBy(col("label").as("cl"), col("i"))
          .agg(round(avg("x"), 6).as("cx"))
        val dists = flat.drop("label")
          .join(broadcast(cent), Seq("i"))
          .groupBy(col("vec_id"), col("cl"), expr("CAST(i DIV 16 AS INT)").as("m"))
          .agg(sum(expr("CAST(round((x - cx) * (x - cx) * 1e9) AS BIGINT)")).as("dq"))
        val codes = dists.withColumn("rn",
            row_number().over(Window.partitionBy("vec_id", "m").orderBy(col("dq"), col("cl"))))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("m"), col("cl").as("code"))
        val lut = flat.filter(col("vec_id") === 0).drop("label")
          .join(broadcast(cent), Seq("i"))
          .groupBy(col("cl"), expr("CAST(i DIV 16 AS INT)").as("m"))
          .agg(sum(expr("CAST(round(x * cx * 1e9) AS BIGINT)")).as("lq"))
        codes.filter(col("vec_id") =!= 0)
          .join(broadcast(lut), codes("m") === lut("m") && codes("code") === lut("cl"))
          .groupBy("vec_id")
          .agg(round(sum("lq") / 1e9, 4).as("adc_score"))
          .orderBy(desc("adc_score"), col("vec_id")).limit(10)
      },
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |flat AS (SELECT vec_id, label, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM e),
        |cent AS (SELECT label AS cl, i, round(avg(x), 6) AS cx FROM flat GROUP BY 1, 2),
        |dists AS (SELECT f.vec_id, c.cl, CAST(f.i // 16 AS INT) AS m,
        |                 sum(CAST(round((f.x - c.cx) * (f.x - c.cx) * 1e9) AS BIGINT)) AS dq
        |          FROM flat f JOIN cent c ON f.i = c.i GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, m, cl AS code FROM (
        |            SELECT vec_id, m, cl,
        |                   row_number() OVER (PARTITION BY vec_id, m ORDER BY dq, cl) AS rn
        |            FROM dists) WHERE rn = 1),
        |lut AS (SELECT c.cl, CAST(f.i // 16 AS INT) AS m,
        |               sum(CAST(round(f.x * c.cx * 1e9) AS BIGINT)) AS lq
        |        FROM flat f JOIN cent c ON f.i = c.i WHERE f.vec_id = 0 GROUP BY 1, 2)
        |SELECT k.vec_id, round(sum(l.lq) / 1e9, 4) AS adc_score
        |FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.cl
        |WHERE k.vec_id <> 0
        |GROUP BY 1 ORDER BY adc_score DESC, vec_id LIMIT 10""".stripMargin),

    // IVF recall curve — the evaluation artifact every ANN deployment
    // ships: recall@10 of the probed search vs the exact top-10, for
    // nprobe = 1..3. Here the cells are deterministic (v08's per-label
    // mean centroids) so the curve is EXACT on both engines and the
    // gate hashes real recall numbers; at scale the same query runs
    // against sampled ground truth. Monotone in nprobe by construction.
    "v22_ivf_recall_curve" -> QDef(
      (s, d) => {
        val index = AnnIndex.labelIvf(emb(s, d))
        val q = qv(s, d, 0)
        val exact = index.assigned.filter(col("id") =!= 0).crossJoin(broadcast(q))
          .select(col("id"), round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
          .orderBy(desc("score"), col("id")).limit(10)
          .select("id")
        val branches = (1 to 3).map { np =>
          AnnIndex.searchIvf(index, q, 10, np).select("id").join(exact, Seq("id"))
            .agg((count(lit(1)).cast("double") / 10).as("recall_at_10"))
            .select(lit(np).as("n_probe"), col("recall_at_10"))
        }
        branches.reduce(_ union _).orderBy("n_probe")
      }, {
        val recCtes = (1 to 3).map { np =>
          s"""rec$np AS (SELECT $np AS n_probe, CAST(count(*) AS DOUBLE) / 10 AS recall_at_10
             |  FROM (SELECT s.vec_id FROM scored s JOIN ranked r ON s.label = r.label AND r.rn <= $np
             |        ORDER BY s.score DESC, s.vec_id LIMIT 10) a
             |  JOIN exact USING (vec_id))""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
           |scored AS (SELECT e.vec_id, e.label,
           |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS score
           |  FROM embeddings e, q WHERE e.vec_id <> 0),
           |exact AS (SELECT vec_id FROM scored ORDER BY score DESC, vec_id LIMIT 10),
           |flat AS (SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings),
           |cent AS (SELECT label, list(cx ORDER BY i) AS centroid
           |         FROM (SELECT label, i, avg(x) AS cx FROM flat GROUP BY label, i) GROUP BY label),
           |ranked AS (SELECT label, row_number() OVER (
           |    ORDER BY list_cosine_similarity(CAST(centroid AS FLOAT[])::DOUBLE[], q.embedding::DOUBLE[]) DESC, label) AS rn
           |  FROM cent, q),
           |$recCtes
           |SELECT n_probe, recall_at_10 FROM (
           |  SELECT * FROM rec1 UNION ALL SELECT * FROM rec2 UNION ALL SELECT * FROM rec3) t
           |ORDER BY n_probe""".stripMargin
      }),

    // IVF + PQ combined (the FAISS IVFADC shape — the production ANN
    // layout at 100 TB): the coarse quantizer prunes to the 2 nearest
    // cells (v08/v10's probe), and only vectors IN those cells pay the
    // ADC table-lookup scoring over their 4×16-dim PQ codes (v15's
    // quantized-long LUT — codes and cells are both written at ingest,
    // so a query reads 2 cells' worth of 4-byte codes, never raw
    // vectors). Deterministic end to end: rounded sub-centroids feed
    // both the probe and the codebook, every sum is a quantized long,
    // and all ties break on (value, id).
    "v20_ivf_pq_search" -> QDef(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        val flat = e.select(col("vec_id"), col("label"),
          posexplode(col("v")).as(Seq("i", "x")))
        val cent = flat.groupBy(col("label").as("cl"), col("i"))
          .agg(round(avg("x"), 6).as("cx"))
        val cellCent = AnnIndex.centroidArrays(cent.select(col("cl").as("cell"), col("i"), col("cx")))
        val probed = AnnIndex.probe(cellCent, qv(s, d, 0).coalesce(1), 2).select(col("cell").as("probe_cl"))
        val dists = flat.drop("label")
          .join(broadcast(cent), Seq("i"))
          .groupBy(col("vec_id"), col("cl"), expr("CAST(i DIV 16 AS INT)").as("m"))
          .agg(sum(expr("CAST(round((x - cx) * (x - cx) * 1e9) AS BIGINT)")).as("dq"))
        val codes = dists.withColumn("rn",
            row_number().over(Window.partitionBy("vec_id", "m").orderBy(col("dq"), col("cl"))))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("m"), col("cl").as("code"))
        val lut = flat.filter(col("vec_id") === 0).drop("label")
          .join(broadcast(cent), Seq("i"))
          .groupBy(col("cl").as("lcl"), expr("CAST(i DIV 16 AS INT)").as("lm"))
          .agg(sum(expr("CAST(round(x * cx * 1e9) AS BIGINT)")).as("lq"))
        val inProbed = e.join(broadcast(probed), col("label") === col("probe_cl"))
          .select("vec_id")
        codes.join(inProbed, Seq("vec_id"), "left_semi")
          .filter(col("vec_id") =!= 0)
          .join(broadcast(lut), col("m") === col("lm") && col("code") === col("lcl"))
          .groupBy("vec_id")
          .agg(round(sum("lq") / 1e9, 4).as("adc_score"))
          .orderBy(desc("adc_score"), col("vec_id")).limit(8)
      },
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |flat AS (SELECT vec_id, label, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM e),
        |cent AS (SELECT label AS cl, i, round(avg(x), 6) AS cx FROM flat GROUP BY 1, 2),
        |cellcent AS (SELECT cl, list(cx ORDER BY i) AS centroid FROM cent GROUP BY cl),
        |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |probed AS (SELECT cl FROM cellcent, q
        |           ORDER BY list_cosine_similarity(CAST(centroid AS FLOAT[])::DOUBLE[], q.embedding::DOUBLE[]) DESC, cl
        |           LIMIT 2),
        |dists AS (SELECT f.vec_id, c.cl, CAST(f.i // 16 AS INT) AS m,
        |                 sum(CAST(round((f.x - c.cx) * (f.x - c.cx) * 1e9) AS BIGINT)) AS dq
        |          FROM flat f JOIN cent c ON f.i = c.i GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, m, cl AS code FROM (
        |            SELECT vec_id, m, cl,
        |                   row_number() OVER (PARTITION BY vec_id, m ORDER BY dq, cl) AS rn
        |            FROM dists) WHERE rn = 1),
        |lut AS (SELECT c.cl, CAST(f.i // 16 AS INT) AS m,
        |               sum(CAST(round(f.x * c.cx * 1e9) AS BIGINT)) AS lq
        |        FROM flat f JOIN cent c ON f.i = c.i WHERE f.vec_id = 0 GROUP BY 1, 2)
        |SELECT k.vec_id, round(sum(l.lq) / 1e9, 4) AS adc_score
        |FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.cl
        |JOIN e ON e.vec_id = k.vec_id
        |WHERE k.vec_id <> 0 AND e.label IN (SELECT cl FROM probed)
        |GROUP BY 1 ORDER BY adc_score DESC, k.vec_id LIMIT 8""".stripMargin),

    // Binary sign quantization + Hamming prefilter — the last rung of the
    // compression ladder (int8 v14 → 4×, PQ v15 → 16×, sign bits → 32×):
    // each 64-d float vector packs to ONE 64-bit code (bit i = sign of
    // dim i), Hamming distance (codegen'd bit_count(xor)) ranks a
    // candidate set of 50, and only those 50 pay the exact cosine rerank.
    // At 100 TB the code column is written at ingest and the prefilter
    // scans 8 bytes/vector instead of 256 — the rerank cost is constant
    // in the corpus. Candidate cut is total-order deterministic
    // (hamming, vec_id), so recall is engine-identical and the gate
    // hashes real ranks.
    "v19_binary_sign_search" -> QDef(
      (s, d) => {
        // sum of distinct power-of-two bits == bitwise OR; the code packs
        // into TWO 32-bit halves (lo = dims 0-31, hi = 32-63) so neither
        // engine ever shifts into a BIGINT's sign bit
        def half(lo: Int): org.apache.spark.sql.Column = expr(
          s"aggregate(zip_with(slice(embedding, ${lo + 1}, 32), sequence(0, 31), " +
            "(x, i) -> IF(x > 0, shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), CAST(0 AS BIGINT))), " +
            "CAST(0 AS BIGINT), (acc, b) -> acc + b)")
        val e = emb(s, d).withColumn("sig_lo", half(0)).withColumn("sig_hi", half(32))
        val q = e.filter(col("vec_id") === 0)
          .select(col("sig_lo").as("qlo"), col("sig_hi").as("qhi"), col("embedding").as("qv"))
        e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .withColumn("hamming", expr(
            "CAST(bit_count(sig_lo ^ qlo) + bit_count(sig_hi ^ qhi) AS INT)"))
          .orderBy(col("hamming"), col("vec_id")).limit(50)
          .withColumn("score", round(cosine_similarity(col("embedding"), col("qv")), 4))
          .select("vec_id", "hamming", "score")
          .orderBy(desc("score"), col("vec_id")).limit(10)
      },
      """WITH u AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings),
        |sig AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN x > 0 AND i <= 32 THEN (1::BIGINT << (i - 1)) ELSE 0 END) AS BIGINT) AS sig_lo,
        |    CAST(sum(CASE WHEN x > 0 AND i > 32 THEN (1::BIGINT << (i - 33)) ELSE 0 END) AS BIGINT) AS sig_hi
        |  FROM u GROUP BY vec_id),
        |q AS (SELECT s.sig_lo AS qlo, s.sig_hi AS qhi, e.embedding AS qv
        |      FROM sig s JOIN embeddings e USING (vec_id) WHERE vec_id = 0),
        |cand AS (
        |  SELECT s.vec_id,
        |    CAST(bit_count(xor(s.sig_lo, q.qlo)) + bit_count(xor(s.sig_hi, q.qhi)) AS INT) AS hamming
        |  FROM sig s, q WHERE s.vec_id <> 0
        |  ORDER BY hamming, s.vec_id LIMIT 50)
        |SELECT c.vec_id, c.hamming,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 4) AS score
        |FROM cand c JOIN embeddings e USING (vec_id), q
        |ORDER BY score DESC, c.vec_id LIMIT 10""".stripMargin),

    // Hard-negative mining for contrastive training (CLIP/DPR-style data
    // prep): for each anchor, the top-5 most-similar embeddings whose
    // label DIFFERS — the near-misses a contrastive loss learns most
    // from. The 5 anchors broadcast onto a single corpus scan (v06's
    // batch shape + the label-exclusion predicate fused into the join),
    // the rank is computed on the ROUNDED score so tie order is
    // engine-identical, and rn <= 5 pushes down as WindowGroupLimit on
    // both sides of the per-anchor exchange (the v12-audited pattern) —
    // candidates truncate before shuffling, so the plan holds at any
    // corpus width.
    "v16_hard_negative_mining" -> QDef(
      (s, d) => {
        val a = emb(s, d).filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("embedding").as("qv"))
        val w = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
        emb(s, d).crossJoin(broadcast(a))
          .filter(col("label") =!= col("qlabel") && col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), col("label"),
            round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .orderBy("qid", "rn")
      },
      """WITH a AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |sc AS (SELECT a.qid, e.vec_id, e.label,
        |         round(list_cosine_similarity(e.embedding::DOUBLE[], a.qv::DOUBLE[]), 4) AS score
        |       FROM embeddings e JOIN a ON e.label <> a.qlabel AND e.vec_id <> a.qid),
        |rk AS (SELECT qid, vec_id, label, score,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS INT) AS rn
        |       FROM sc)
        |SELECT qid, vec_id, label, score, rn FROM rk WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),

    // Greedy k-center diversity sampling (farthest-point coreset
    // selection — the data-pruning/curation pick rule): seed with
    // vec_id 0, then 4 rounds of "select the point farthest from the
    // selected set". Each round is ONE corpus scan with the ≤5-row
    // selected set broadcast (min-distance agg keyed on the candidate),
    // truncated to the argmax via TakeOrderedAndProject — no all-pairs
    // stage, so rounds cost O(|corpus|·k) at any scale. Distances
    // accumulate sequentially in doubles in both engines (the codegen'd
    // L2Distance mirrors DuckDB's list_distance element order), so the
    // argmax — compared on UNROUNDED values — is engine-identical;
    // output rounds to 4 for display only. Tie-break on vec_id.
    "v17_kcenter_diversity" -> QDef(
      (s, d) => {
        val e = emb(s, d).select(col("vec_id"), col("embedding"))
        var sel = e.filter(col("vec_id") === 0)
          .select(col("vec_id").as("sid"), col("embedding").as("sv"))
        val picks = scala.collection.mutable.ArrayBuffer(
          e.filter(col("vec_id") === 0)
            .select(lit(1).as("r"), col("vec_id"), lit(0.0).as("mind")))
        for (r <- 2 to 5) {
          val pick = e.crossJoin(broadcast(sel))
            .select(col("vec_id"), l2_distance(col("embedding"), col("sv")).as("dd"))
            .groupBy("vec_id").agg(min("dd").as("mind"))
            .orderBy(desc("mind"), col("vec_id")).limit(1)
          picks += pick.select(lit(r).as("r"), col("vec_id"), col("mind"))
          sel = graft.graph.Superstep.cut(sel.union(
            e.join(pick.select("vec_id"), Seq("vec_id"))
              .select(col("vec_id").as("sid"), col("embedding").as("sv"))))
        }
        picks.reduce(_ union _)
          .select(col("r"), col("vec_id"), round(col("mind"), 4).as("mind"))
          .orderBy("r")
      }, {
        val sb = new StringBuilder
        sb ++= """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                 |s1 AS (SELECT vec_id, v FROM e WHERE vec_id = 0)""".stripMargin
        for (r <- 2 to 5) {
          sb ++= s""",
                    |c$r AS (SELECT e.vec_id, min(list_distance(e.v, s.v)) AS mind
                    |  FROM e CROSS JOIN s${r - 1} s GROUP BY e.vec_id
                    |  ORDER BY mind DESC, e.vec_id LIMIT 1),
                    |s$r AS (SELECT * FROM s${r - 1}
                    |  UNION ALL SELECT e.vec_id, e.v FROM e JOIN c$r USING (vec_id))""".stripMargin
        }
        sb ++= """
                 |SELECT r, vec_id, round(mind, 4) AS mind FROM (
                 |  SELECT 1 AS r, CAST(0 AS BIGINT) AS vec_id, CAST(0 AS DOUBLE) AS mind
                 |  UNION ALL SELECT 2, vec_id, mind FROM c2
                 |  UNION ALL SELECT 3, vec_id, mind FROM c3
                 |  UNION ALL SELECT 4, vec_id, mind FROM c4
                 |  UNION ALL SELECT 5, vec_id, mind FROM c5) z
                 |ORDER BY r""".stripMargin
        sb.toString
      }),

    // MMR (maximal marginal relevance) diversified re-ranking: retrieve a
    // top-20 relevance pool for the query vector, then greedily select 5
    // results maximizing 0.7·relevance − 0.3·max-similarity-to-selected —
    // the standard redundancy-suppressing re-rank between ANN retrieval
    // and the consumer. The corpus is touched ONCE (the pool retrieval,
    // v01's broadcast + TakeOrderedAndProject shape); every greedy round
    // runs on the 20-row lineage-cut pool with the ≤5 selected rows
    // broadcast, so re-ranking cost is independent of corpus size. All
    // scores are sequentially-accumulated doubles combined by single
    // IEEE ops, so the UNROUNDED argmax is engine-identical (v17's
    // argument); ties break on vec_id.
    "v18_mmr_rerank" -> QDef(
      (s, d) => mmrRerank(s, d, 0L, 20, 5), {
        val sb = new StringBuilder
        sb ++= """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                 |q AS (SELECT v FROM e WHERE vec_id = 0),
                 |pool AS (SELECT e.vec_id, e.v, list_cosine_similarity(e.v, q.v) AS rel
                 |         FROM e, q WHERE e.vec_id <> 0 ORDER BY rel DESC, e.vec_id LIMIT 20),
                 |s1 AS (SELECT vec_id, v, rel FROM pool ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin
        for (r <- 2 to 5) {
          sb ++= s""",
                    |c$r AS (SELECT p.vec_id, p.rel, 0.7 * p.rel - 0.3 * max(list_cosine_similarity(p.v, s.v)) AS mmr
                    |  FROM pool p CROSS JOIN s${r - 1} s
                    |  WHERE p.vec_id NOT IN (SELECT vec_id FROM s${r - 1})
                    |  GROUP BY p.vec_id, p.rel
                    |  ORDER BY mmr DESC, p.vec_id LIMIT 1),
                    |s$r AS (SELECT * FROM s${r - 1} UNION ALL SELECT p.vec_id, p.v, p.rel FROM pool p JOIN c$r USING (vec_id))""".stripMargin
        }
        sb ++= """
                 |SELECT r, vec_id, round(mmr, 4) AS mmr FROM (
                 |  SELECT 1 AS r, vec_id, rel AS mmr FROM s1
                 |  UNION ALL SELECT 2, vec_id, mmr FROM c2
                 |  UNION ALL SELECT 3, vec_id, mmr FROM c3
                 |  UNION ALL SELECT 4, vec_id, mmr FROM c4
                 |  UNION ALL SELECT 5, vec_id, mmr FROM c5) z
                 |ORDER BY r""".stripMargin
        sb.toString
      })
  )
}
