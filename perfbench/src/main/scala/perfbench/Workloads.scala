package perfbench

/** The catalog workloads' pools, and the pass count and order of every
  * workload.
  *
  * A pass runs every op of the workload's pool exactly once, in an order
  * drawn from (seed, pass). Runs therefore differ in order, never in the
  * multiset of work, so their percentiles and throughput are comparable.
  */
object Workloads {

  /** Iterative graph algorithms: per-round jobs and lineage cuts. Both
    * connected-components variants are in, so folding one into the
    * other shows. */
  val graphLoops: Seq[String] = Seq(
    "g03_bfs_depth3", "g10_weighted_sssp", "g06_connected_components",
    "g50_components_fixpoint", "g05_pagerank", "g15_label_propagation",
    "g46_core_decomposition", "g18_closeness_centrality", "g22_betweenness_brandes",
    "g19_mst_boruvka")

  /** Name of the op that drives the library's streaming plan over a
    * file-source stream (see Run.streamOp); its result must equal the
    * batch query it is named after. */
  val liveStreamBatch = "s01_stream_tumbling_window"
  val liveStream = s"$liveStreamBatch.live"

  /** Compute-, shuffle- and spill-heavy batch pipelines. */
  val dataPipeline: Seq[String] = Seq(
    "d05_neardup_simhash", "d09_duplicate_passages", "d10_cross_source_containment",
    "t01_token_stats", "t09_contamination_ngrams", "t14_bigram_lm_score",
    "m02_multimodal_decode", "s05_stream_session_window", liveStream, "v12_knn_join_ivf")

  val catalog: Map[String, Seq[String]] = Map(
    "graph-loops" -> graphLoops, "data-pipeline" -> dataPipeline)

  val names: Seq[String] = Seq("graph-loops", "data-pipeline", "entity-writes")

  /** Untimed warm-up ops run during set-up: they take the JVM, codegen
    * and base-table caches out of the first timed op. data-pipeline runs
    * its whole pool, in a fixed order: with fewer warm-up ops, whichever
    * ops the seed put first ran up to twice as slow as later in the pass,
    * and throughput spread by 15% across seeds. */
  val warmUp: Map[String, Seq[String]] = Map(
    "graph-loops" -> Seq("g01_node_degree"),
    "data-pipeline" -> dataPipeline)

  /** Nominal seconds of one pass on a 4-core box. A run makes
    * `round(seconds / passSeconds)` passes (at least one), so the work a
    * run does depends on `--seconds` alone, never on how fast it goes. */
  val passSeconds: Map[String, Double] = Map(
    "graph-loops" -> 20.0, "data-pipeline" -> 15.0, "entity-writes" -> 12.0)

  def passes(workload: String, seconds: Double, trace: Boolean): Int = {
    val n = math.max(1, math.round(seconds / passSeconds(workload)).toInt)
    if (trace) math.max(3, n) else n
  }

  /** In a traced run the odd passes are traced: untraced passes on both
    * sides of a traced one, so the JVM's warming does not bias the
    * traced-to-untraced throughput ratio. */
  def traced(pass: Int, trace: Boolean): Boolean = trace && pass % 2 == 1

  /** The pass order: a permutation of `pool` drawn from (seed, pass). */
  def order[A](pool: Seq[A], seed: Long, pass: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(pool)

  /** The module that owns a catalog op, by its name's family letter. */
  def module(name: String): String = name.head match {
    case 'v' => "vector"
    case 'g' => "graph"
    case 'd' | 'm' => "pipeline"
    case 't' => "text"
    case 's' => "streaming"
    case other => throw new IllegalArgumentException(s"no module for family '$other'")
  }
}
