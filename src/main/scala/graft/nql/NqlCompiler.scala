package graft.nql

import graft.Tables
import graft.functions.VectorFunctions._
import graft.graph.{Algorithms, GraphXAdapters, Superstep, TpchGraph}
import graft.graph.Superstep.{cut, Fixpoint, Rounds, UpTo}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AST → DataFrame compiler (the Spark analogue of the reference's
  * `query_router` dispatch, `query_router/src/lib.rs:1969-2091`). Every
  * statement compiles to a declarative plan over the catalog frames —
  * Catalyst owns optimization, so there is no interpreter here at all.
  *
  * Entity routing: keys `vec:{id}` resolve to the embeddings/entity store
  * (graph relation = same-label); all other keys (`nation:0`, …) resolve
  * to the property graph.
  */
final class NqlCompiler(spark: SparkSession, sfDir: String,
    store: Option[graft.unified.EntityStore] = None) {

  /** Key routing: vec:* → bundled embeddings; region/nation/customer/
    * supplier:* → the property graph; anything else → the writable
    * EntityStore (when configured).
    */
  private def isVecKey(k: String) = k.startsWith("vec:")
  private def isGraphKey(k: String) =
    Seq("region:", "nation:", "customer:", "supplier:").exists(k.startsWith)
  private def storeOrFail(op: String): graft.unified.EntityStore =
    store.getOrElse(throw NqlParseException(
      s"$op requires a writable entity store (configure a store dir)"))
  private def status(key: String, op: String): DataFrame =
    spark.createDataFrame(Seq((key, op))).toDF("key", "status")

  private def emb: DataFrame = Tables(spark, sfDir, "embeddings")
    .withColumn("key", concat(lit("vec:"), col("vec_id").cast("string")))

  private def collCfg(name: String): Option[(Int, Metric)] =
    NqlCompiler.collections.get((spark, sfDir, name))

  /** Loud metric check against a registered collection (unregistered
    * names pass — labels double as ad-hoc collections, v05 style). */
  private def requireCollectionMetric(name: String, m: Metric): Unit =
    collCfg(name).foreach { case (_, cm) =>
      if (cm != m) throw NqlParseException(
        s"collection '$name' is configured for metric $cm; query uses $m")
    }

  private def embOf(key: String): DataFrame =
    emb.filter(col("key") === key).select(col("embedding").as("qv"))

  private def labelOf(key: String): DataFrame =
    emb.filter(col("key") === key).select(col("label").as("elabel"))

  /** Register the relational tables as temp views for SQL passthrough. */
  def registerViews(): Unit =
    Tables.names.foreach(n => Tables(spark, sfDir, n).createOrReplaceTempView(n))

  /** Property-graph node view: the TPC-H-derived base overlaid with
    * store-created nodes (NODE CREATE writes an entity whose props carry
    * label/name; store wins on key collision — the lakehouse overlay
    * pattern, no base rewrite). Store tombstones mask base rows too, so
    * NODE DELETE of a base key (or of a previously-overlaid base key)
    * deletes the node instead of resurrecting the base row.
    */
  private def allNodes: DataFrame = {
    val base = TpchGraph.nodes(spark, sfDir)
    store match {
      case None => base
      case Some(st) =>
        val overlay = st.entities.select(col("key"),
          coalesce(element_at(col("props"), "label"), lit("entity")).as("label"),
          coalesce(element_at(col("props"), "name"), col("key")).as("name"))
        val masked = overlay.select("key").union(st.deletedKeys)
        overlay.union(base.join(masked, Seq("key"), "left_anti"))
    }
  }

  /** Edge view: derived base edges plus store-created edges; edge
    * tombstones mask base edges of the same (src, dst, etype) identity. */
  private def allEdges: DataFrame = {
    val base = TpchGraph.edges(spark, sfDir)
    store match {
      case None => base
      case Some(st) =>
        base.join(st.deletedEdges, Seq("src", "dst", "etype"), "left_anti")
          .union(st.edges.select("src", "dst", "etype"))
    }
  }

  /** CREATE/MERGE one node into the store (merge = only if absent). */
  private def cypherPutNode(node: CypherParser.NodePat, merge: Boolean): DataFrame = {
    val key = node.props("key")
    val label = node.label.getOrElse("entity")
    val props = Map("label" -> label) ++ (node.props - "key")
    if (merge && allNodes.filter(col("key") === key).limit(1).count() > 0)
      status(key, "merge_matched")
    else {
      storeOrFail(if (merge) "MERGE" else "CREATE")
        .put(Seq(graft.unified.EntityStore.EntityRow(key, props, None)))
      status(key, s"created:$label")
    }
  }

  /** FIND PATH FROM+TO executor: level-synchronous BFS over the
    * undirected closure of `edges`, tracking a deterministic min-key
    * parent per node, then backtracking `to → from` into an ordered
    * (hop, key) list. The BFS is the same keyed-shuffle-per-round shape
    * as every other iterative loop here, ending early once the target is
    * reached or the frontier is empty (one probe action per round); the
    * backtrack is ONE composed job of ≤ maxDepth broadcast point-lookup
    * self-joins against the MATERIALIZED tree frame (plus a single
    * one-row collect for the target's depth) — bounded by the depth cap,
    * never by data size.
    * Unreachable targets return an empty frame (reference returns zero
    * path items). */
  private def findPathBfs(edges: DataFrame, from: String, to: String,
      maxDepth: Int = 6): DataFrame = {
    import spark.implicits._
    val und = TpchGraph.undirected(edges).select("src", "dst")
    val start = cut(Seq((from, from, 0)).toDF("key", "parent", "depth"))
    // state: (tree, target found, frontier non-empty)
    val (tree, found, _) = Superstep.run(UpTo(if (from == to) 0 else maxDepth),
        (start, from == to, true)) { case ((tree, _, _), i) =>
      val frontier = tree.filter(col("depth") === i - 1).select(col("key").as("src"))
      val nxt = und.join(frontier, Seq("src"))
        .join(tree.select(col("key").as("dst")), Seq("dst"), "left_anti")
        .groupBy("dst").agg(min("src").as("parent"))
        .select(col("dst").as("key"), col("parent"), lit(i).as("depth"))
      val next = cut(tree.union(nxt))
      val probe = next.agg(max((col("key") === to).cast("int")), max(col("depth"))).first()
      (next, probe.getInt(0) == 1, probe.getInt(1) == i)
    } { case (_, (_, found, alive)) => found || !alive }
    if (!found) return Seq.empty[(Int, String)].toDF("hop", "key")
    // Backtrack to → from as ONE composed job: the parent chain is d
    // bounded self-joins against the materialized tree (each a broadcast
    // point lookup), unioned lazily — a single collect fetches the
    // target's depth and a single job materializes the whole hop list,
    // instead of one driver round-trip per hop.
    val d = tree.filter(col("key") === to).select("depth").collect()(0).getInt(0)
    var step = tree.filter(col("key") === to)
    val steps = Seq.newBuilder[DataFrame]
    steps += step
    for (_ <- 1 to d) {
      step = tree.join(broadcast(step.select(col("parent").as("__k"))),
          col("key") === col("__k"))
        .select("key", "parent", "depth")
      steps += step
    }
    steps.result().reduce(_ union _)
      .select(col("depth").as("hop"), col("key")).orderBy("hop")
  }

  /** Edge frame per the reference's Direction + edge_type algorithm
    * params: etype filters the overlay edge set; OUT walks edges as
    * stored, IN reverses them, BOTH takes the symmetric closure. */
  private def orientedEdges(etype: Option[String], direction: Option[String],
      defaultDir: String): DataFrame = {
    val f = etype.fold(allEdges)(t => allEdges.filter(col("etype") === t))
    direction.getOrElse(defaultDir) match {
      case "out" => f
      case "in" => f.select(col("dst").as("src"), col("src").as("dst"), col("etype"))
      case _ => TpchGraph.undirected(f)
    }
  }

  /** Biconnected labeling of the (overlay-aware) property graph — backs
    * GRAPH BICONNECTED / GRAPH ARTICULATION. The statement path takes the
    * graph as the user shaped it (overlay cycles at any depth, components
    * detached from the bundled topology), so it runs the FIXPOINT variant:
    * per-component min-key roots, frontier-exhausted BFS forest, LCA climb
    * to convergence, checked CC — no topology-derived round constants.
    * Fixed bounds stay on the memoized gate artifact only (GraphQueries
    * g25/g26/g45, whose bounds carry an SF-invariance proof for the
    * bundled graph). */
  private def biconnectedEdges(): DataFrame =
    Algorithms.biconnectedComponents(TpchGraph.undirected(allEdges).select("src", "dst"))

  def compile(st: Statement): DataFrame = st match {
    case SqlPassthrough(sql) =>
      registerViews()
      spark.sql(sql)

    // Executable DML (reference router `query_router/src/lib.rs:1974-1975`).
    // No registerViews() here: DML targets catalog tables, and registering
    // the read-only sf views would shadow a same-named catalog table.
    case st: SqlUpdate => graft.relational.TableDml.update(spark, st)
    case st: SqlDelete => graft.relational.TableDml.delete(spark, st)

    // Graph nodes have no embedding anywhere — reject loudly instead of
    // silently returning an empty frame (or hijacking the entity store).
    case Similar(key, _, _, _, _, _, _) if isGraphKey(key) =>
      throw NqlParseException(
        s"SIMILAR requires an embedding key ('vec:*') or a store entity; " +
          s"'$key' is a property-graph node (use NEIGHBORS / PATH for graph proximity)")

    // Index-routed SIMILAR (reference routes HNSW-vs-brute in
    // `query_router/src/lib.rs:5414-5447`; here the routing is explicit —
    // USING INDEX = approximate IVF probe, plain SIMILAR = exact scan).
    case Similar(key, metric, limit, connectedTo, where, Some(nprobe), collection) =>
      if (metric != Metric.Cosine) throw NqlParseException(
        "SIMILAR USING INDEX supports METRIC COSINE only (the index metric)")
      if (connectedTo.nonEmpty || where.nonEmpty || collection.nonEmpty)
        throw NqlParseException(
          "SIMILAR USING INDEX does not compose with CONNECTED TO / WHERE / IN " +
            "(drop USING INDEX for the exact path)")
      if (!isVecKey(key)) throw NqlParseException(
        "SIMILAR USING INDEX requires a 'vec:*' key")
      val idx = NqlCompiler.ivfIndexes.getOrElse((spark, sfDir),
        throw NqlParseException("no ANN index built — run EMBED BUILD INDEX IVF first"))
      val q = embOf(key)
      val probed = idx.centroids.crossJoin(broadcast(q))
        .select(col("cell"), cosine_similarity(col("centroid"), col("qv")).as("cs"))
        .orderBy(desc("cs"), col("cell")).limit(nprobe)
        .select("cell")
      idx.assigned.join(broadcast(probed), Seq("cell"))
        .filter(col("key") =!= key)
        .crossJoin(broadcast(q))
        .select(col("key"), round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
        .orderBy(desc("score"), col("key")).limit(limit)

    case Similar(key, metric, limit, connectedTo, where, None, collection) if !isVecKey(key) && store.isDefined =>
      // The entity store's native metric is cosine, and its props are not
      // the embeddings metadata — surface unsupported clauses instead of
      // silently ignoring them.
      if (metric != Metric.Cosine) throw NqlParseException(
        "store-entity SIMILAR supports METRIC COSINE only (the store's native metric)")
      if (where.nonEmpty || collection.nonEmpty) throw NqlParseException(
        "store-entity SIMILAR does not support WHERE / IN (metadata filters and collections apply to the bundled embeddings)")
      connectedTo match {
        case Some(e) => storeOrFail("SIMILAR").similarConnectedTo(key, e, limit)
        case None => storeOrFail("SIMILAR").similar(key, limit)
      }

    // Range search: threshold-bounded instead of k-bounded — one scan,
    // codegen'd similarity, the filter prunes before any ordering (no
    // TakeOrdered heap needed; the sort is output-sized).
    case SimilarRange(key, pct, metric) =>
      val tau = pct / 100.0
      val scoreCol = metric match {
        case Metric.Cosine => cosine_similarity(col("embedding"), col("qv"))
        case Metric.Euclidean => l2_distance(col("embedding"), col("qv"))
        case Metric.Dot => dot_product(col("embedding"), col("qv"))
      }
      val scored = emb.filter(col("key") =!= key)
        .crossJoin(broadcast(embOf(key)))
        .select(col("key"), round(scoreCol, 4).as("score"))
      metric match {
        case Metric.Euclidean =>
          scored.filter(col("score") <= tau).orderBy(asc("score"), col("key"))
        case _ =>
          scored.filter(col("score") >= tau).orderBy(desc("score"), col("key"))
      }

    case SimilarVector(vec, metric, limit, where, collection) =>
      collection.foreach(c => requireCollectionMetric(c, metric))
      val scoreCol = metric match {
        case Metric.Cosine => cosine_similarity(col("embedding"), col("qv"))
        case Metric.Euclidean => l2_distance(col("embedding"), col("qv"))
        case Metric.Dot => dot_product(col("embedding"), col("qv"))
      }
      val q = spark.range(1).select(typedLit(vec).cast("array<float>").as("qv"))
      // label doubles as the ad-hoc collection id (v05 style) and is
      // numeric in the bundled frame — compare as strings so a textual
      // collection name yields an empty result, not an ANSI cast error
      val inColl = collection.foldLeft(emb)(
        (df, c) => df.filter(col("label").cast("string") === c))
      // dimension guard: a mismatched literal would otherwise fail mid-job
      // with an executor-side exception — probe ONE row (metadata-cheap)
      // and raise the typed domain error up front instead
      val probe = inColl.select(size(col("embedding")).as("d")).limit(1).collect()
      if (probe.nonEmpty && probe(0).getInt(0) != vec.length) throw NqlExecException(
        s"SIMILAR: query vector has dimension ${vec.length}, " +
          s"stored embeddings have ${probe(0).getInt(0)}")
      val base = where.foldLeft(inColl)((df, c) => df.filter(cond(c)))
        .crossJoin(broadcast(q))
        .select(col("key"), round(scoreCol, 4).as("score"))
      val ordered = metric match {
        case Metric.Euclidean => base.orderBy(asc("score"), col("key"))
        case _ => base.orderBy(desc("score"), col("key"))
      }
      ordered.limit(limit)

    case Similar(key, metric, limit, None, where, None, collection) =>
      collection.foreach(c => requireCollectionMetric(c, metric))
      val scoreCol = metric match {
        case Metric.Cosine => cosine_similarity(col("embedding"), col("qv"))
        case Metric.Euclidean => l2_distance(col("embedding"), col("qv"))
        case Metric.Dot => dot_product(col("embedding"), col("qv"))
      }
      val inColl = collection.foldLeft(emb.filter(col("key") =!= key))(
        (df, c) => df.filter(col("label").cast("string") === c))
      val base = where.foldLeft(inColl)((df, c) => df.filter(cond(c)))
        .crossJoin(broadcast(embOf(key)))
        .select(col("key"), round(scoreCol, 4).as("score"))
      val ordered = metric match {
        case Metric.Euclidean => base.orderBy(asc("score"), col("key"))
        case _ => base.orderBy(desc("score"), col("key"))
      }
      ordered.limit(limit)

    case s @ Similar(key, metric, limit, Some(e), where, None, _) =>
      // top-2k similar ∩ neighbors(e), top-k — tensor_unified/src/lib.rs:884-938
      val top2k = compile(s.copy(connectedTo = None, limit = 2 * limit))
      val nb = emb.crossJoin(broadcast(labelOf(e)))
        .filter(col("label") === col("elabel") && col("key") =!= e)
        .select("key")
      // Rank direction follows the metric, like the plain SIMILAR case:
      // euclidean is a distance (smaller = closer), the rest are
      // similarities.
      val ranked = metric match {
        case Metric.Euclidean => top2k.join(nb, Seq("key")).orderBy(asc("score"), col("key"))
        case _ => top2k.join(nb, Seq("key")).orderBy(desc("score"), col("key"))
      }
      ranked.limit(limit)

    case Neighbors(key, Some(simTo), _, limit, _) =>
      val nb = emb.crossJoin(broadcast(labelOf(key)))
        .filter(col("label") === col("elabel") && col("key") =!= key)
      nb.crossJoin(broadcast(embOf(simTo)))
        .select(col("key"), round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
        .orderBy(desc("score"), col("key"))
        .limit(limit.getOrElse(10))

    case Neighbors(key, None, etype, limit, dir) if !isGraphKey(key) && store.isDefined =>
      val st = storeOrFail("NEIGHBORS")
      val e = st.edges
      val nb = dir match {
        case "out" => e.filter(col("src") === key).select(col("dst").as("key"), col("etype"))
        case "in" => e.filter(col("dst") === key).select(col("src").as("key"), col("etype"))
        case _ => st.neighbors(key)
      }
      val filtered = etype.fold(nb)(t => nb.filter(col("etype") === t)).orderBy("key")
      limit.fold(filtered)(filtered.limit)

    case Neighbors(key, None, etype, limit, dir) =>
      val e = dir match {
        case "out" => allEdges.filter(col("src") === key)
          .select(col("dst").as("neighbor"), col("etype"))
        case "in" => allEdges.filter(col("dst") === key)
          .select(col("src").as("neighbor"), col("etype"))
        case _ => TpchGraph.undirected(allEdges).filter(col("src") === key)
          .select(col("dst").as("neighbor"), col("etype"))
      }
      val filtered = etype.fold(e)(t => e.filter(col("etype") === t))
      val out = filtered.orderBy("neighbor")
      limit.fold(out)(out.limit)

    // PATH statements walk the overlay graph (like NEIGHBORS / FIND PATH);
    // MAX is a user knob, so the bound is the caller's contract.
    case PathShortest(from, to, maxDepth) =>
      Algorithms.bfs(TpchGraph.undirected(allEdges), Algorithms.source(spark, from), Rounds(maxDepth))
        .filter(col("key") === to)
        .select(lit(from).as("from"), col("key").as("to"), col("depth"))

    case PathWeighted(from, to, maxHops) =>
      val w = TpchGraph.undirected(allEdges)
        .withColumn("w", expr(
          "CASE etype WHEN 'in_region' THEN 2.0 WHEN 'in_nation' THEN 1.0 ELSE 1.5 END"))
      Algorithms.sssp(w, from, maxHops)
        .filter(col("key") === to)
        .select(lit(from).as("from"), col("key").as("to"), round(col("cost"), 4).as("cost"))

    case NodeGet(key) =>
      allNodes.filter(col("key") === key)

    case NodeList(label, limit, offset) =>
      val n = allNodes
      val f = label.fold(n)(l => n.filter(col("label") === l)).orderBy("key")
      val off = offset.fold(f)(f.offset) // deterministic key order → stable pages
      limit.fold(off)(off.limit)

    case NodeCreate(key, label, name, props) =>
      storeOrFail("NODE CREATE").put(Seq(graft.unified.EntityStore.EntityRow(
        key, props ++ Map("label" -> label) ++ name.map("name" -> _), None)))
      status(key, s"node_created:$label")

    case NodeDelete(key) =>
      storeOrFail("NODE DELETE").delete(Seq(key))
      status(key, "node_deleted")

    // Batch graph DML (reference CreateNodes/CreateEdges,
    // `graph_engine/src/lib.rs:8027-8380`): one log append per batch.
    case NodeBatchCreate(items) =>
      storeOrFail("NODE BATCH CREATE").put(items.map { n =>
        graft.unified.EntityStore.EntityRow(
          n.key, n.props ++ Map("label" -> n.label) ++ n.name.map("name" -> _), None)
      })
      spark.createDataFrame(Seq((items.size.toLong, "batch_nodes_created")))
        .toDF("n_created", "status")

    // Reference GraphBatchOp::DeleteNodes (`parser.rs:2836-2860`): one
    // tombstone append for the whole key list.
    case NodeBatchDelete(keys) =>
      storeOrFail("BATCH DELETE NODES").delete(keys)
      spark.createDataFrame(Seq((keys.size.toLong, "batch_nodes_deleted")))
        .toDF("n_deleted", "status")

    // Reference GraphBatchOp::UpdateNodes (`parser.rs:2862-2878`):
    // EntityUpdate merge semantics, batched — ONE read of the current rows
    // (collect bounded by the statement's literal batch size, never
    // corpus-sized) and one log append.
    case NodeBatchUpdate(items) =>
      val st = storeOrFail("BATCH UPDATE NODES")
      st.withMergeLock { // read-merge-append: serialize vs other merges
        val keys = items.map(_._1)
        val current = st.entities.filter(col("key").isin(keys: _*))
          .select("key", "props", "embedding").collect()
          .map(r => r.getAs[String]("key") -> r).toMap
        val missing = keys.filterNot(current.contains)
        if (missing.nonEmpty) throw NqlExecException(
          s"BATCH UPDATE NODES: node(s) ${missing.sorted.mkString(", ")} do not exist")
        st.put(items.map { case (key, props) =>
          val row = current(key)
          val curProps = Option(row.getAs[Map[String, String]]("props")).getOrElse(Map.empty)
          val curEmb = Option(row.getAs[scala.collection.Seq[Float]]("embedding")).map(_.toArray)
          graft.unified.EntityStore.EntityRow(key, curProps ++ props, curEmb)
        })
      }
      spark.createDataFrame(Seq((items.size.toLong, "batch_nodes_updated")))
        .toDF("n_updated", "status")

    case EdgeBatchCreate(items) =>
      storeOrFail("EDGE BATCH CREATE").connectBatch(items)
      spark.createDataFrame(Seq((items.size.toLong, "batch_edges_created")))
        .toDF("n_created", "status")

    case EdgeCreate(src, dst, etype) =>
      storeOrFail("EDGE CREATE").connect(src, dst, etype)
      status(s"$src->$dst", s"edge_created:$etype")

    case EdgeDelete(src, dst, etype) =>
      storeOrFail("EDGE DELETE").disconnect(src, dst, etype)
      status(s"$src->$dst", s"edge_deleted:$etype")

    case EdgeList(etype, limit, offset) =>
      val e = allEdges
      val f = etype.fold(e)(t => e.filter(col("etype") === t)).orderBy("src", "dst")
      val off = offset.fold(f)(f.offset)
      limit.fold(off)(off.limit)

    case Degree(key) =>
      TpchGraph.undirected(allEdges)
        .filter(col("src") === key)
        .groupBy(col("src").as("key")).agg(count(lit(1)).as("degree"))

    case GraphPageRank(iters, engine, damping, tolerance, etype, direction) =>
      if (engine == "graphx" && (damping != 0.85 || tolerance != 0.0 ||
          etype.nonEmpty || direction.nonEmpty))
        throw NqlParseException(
          "ENGINE 'graphx' does not take DAMPING/TOLERANCE/EDGE TYPE/direction — use the dataframe engine")
      // default (no TYPE/direction) keeps the round-1 tree-edge walk,
      // expressed as the overlay-aware in_region/in_nation slice so store
      // writes (created edges, tombstones) participate — with no store
      // the slice IS treeEdges exactly; parameterized forms walk the
      // overlay edge set filtered/oriented per the reference's edge_type
      // + Direction (`ast.rs:1267-1279`)
      val treeSlice = allEdges.filter(col("etype").isin("in_region", "in_nation"))
      val prEdges = (etype, direction) match {
        case (None, None) => treeSlice
        case _ =>
          val f = etype.fold(allEdges)(t => allEdges.filter(col("etype") === t))
          direction.getOrElse("out") match {
            case "out" => f
            case "in" => f.select(col("dst").as("src"), col("src").as("dst"), col("etype"))
            case _ => TpchGraph.undirected(f)
          }
      }
      val pr =
        if (engine == "graphx")
          GraphXAdapters.pageRank(allNodes, treeSlice, iters)
        else
          Algorithms.pageRank(prEdges, allNodes, iters, damping, tolerance)
      pr.select(col("key"), round(col("pr"), 6).as("pr"))
        .orderBy(desc("pr"), col("key"))

    // Overlay-aware (NODE CREATE / ENTITY CONNECT rows participate, like
    // every sibling GRAPH statement) and convergence-GUARANTEED: the DF
    // engine runs min-label to fixpoint with a probe, so an overlay chain
    // deeper than any fixed round count can never silently split a
    // component; GraphX's Pregel CC is a fixpoint algorithm already.
    // Reference runs CC on the live graph (`graph_engine/src/lib.rs:6898`).
    case GraphComponents(engine) =>
      val und = TpchGraph.undirected(allEdges)
      val cc =
        if (engine == "graphx") GraphXAdapters.connectedComponents(allNodes, und)
        else Algorithms.connectedComponentsFixpoint(und, allNodes)
      cc.groupBy("component").agg(count(lit(1)).as("n_nodes"))
        .orderBy("component")

    // Defined over the WHOLE overlay graph by default, optionally
    // restricted to one edge type — the reference's TriangleConfig
    // (`triangles.rs:18,30`; adjacency from all neighbors, :99-130).
    // Consistent with GRAPH CLUSTERING / GRAPH TRANSITIVITY, which
    // already count triangles over all overlay edges.
    case GraphTriangles(engine, etype) =>
      // canonicalize (base rows ship src<dst once, but user-created edges
      // arrive in either orientation, possibly duplicating a base edge);
      // the no-overlay whole-graph default reads the memoized canonical
      // frame shared with g38/g47/g51 — a live store's mutable edge view
      // must canonicalize itself.
      def slice = etype.fold(allEdges)(t => allEdges.filter(col("etype") === t))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .filter(col("src") < col("dst")).distinct()
      if (engine == "graphx")
        GraphXAdapters.triangleCount(
          slice.select(col("src").as("key")).union(slice.select(col("dst").as("key"))).distinct(),
          slice)
          .filter(col("n_triangles") > 0).orderBy("key")
      else if (store.isEmpty && (etype.isEmpty || etype.contains("same_region")))
        // no-overlay default / same_region scope: the memoized
        // (key, deg, tri) stats shared with g38/g47/g51 (resp. g07)
        (if (etype.isEmpty) graft.graph.GraphQueries.triStatsCanonical(spark, sfDir)
         else graft.graph.GraphQueries.triStatsSameRegion(spark, sfDir))
          .filter(col("tri") > 0)
          .select(col("key"), col("tri").as("n_triangles"))
          .orderBy("key")
      else
        // shared degree-ordered listing (Algorithms.triangleTriples):
        // the canonical 3-way self-join lists each triangle once too,
        // but its a⋈b wedge step is Σ deg² on a key-ordered hub — a
        // user overlay hub whose key sorts low emits deg² wedge rows.
        // Output is identical (one count per triangle per corner).
        graft.graph.Algorithms.localTriangleCounts(
          slice.select(col("src").as("u"), col("dst").as("v")))
          .withColumnRenamed("tri", "n_triangles")
          .orderBy("key")

    case GraphBiconnected() =>
      biconnectedEdges()
        .groupBy("bicomp").agg(count(lit(1)).as("n_edges"))
        .orderBy(desc("n_edges"), col("bicomp"))

    case GraphArticulation() =>
      biconnectedEdges()
        .select(explode(array(col("src"), col("dst"))).as("key"), col("bicomp"))
        .groupBy("key").agg(countDistinct("bicomp").as("n_components"))
        .filter(col("n_components") >= 2)
        .orderBy("key")

    // GRAPH HITS [ITERATIONS n] — the g37 plan without the top-k cap.
    case GraphHits(iters) =>
      Algorithms.hits(allEdges, allNodes, iters)
        .select(col("key"), round(col("hub"), 6).as("hub"), round(col("auth"), 6).as("auth"))
        .orderBy(desc("auth"), desc("hub"), col("key"))

    // GRAPH CLUSTERING — per-node local clustering coefficient (g38
    // shape, degree-ordered triangle listing). Canonicalize + distinct
    // first: user-created edges arrive in either orientation and may
    // duplicate a base edge, and the coefficient is defined on the
    // SIMPLE undirected graph (same precedent as GRAPH TRIANGLES).
    case GraphClustering() =>
      // no-overlay path reads the memoized (key, deg, tri) stats (g38's
      // frame); a live store's mutable edge view builds its stats live
      val stats =
        if (store.isEmpty) graft.graph.GraphQueries.triStatsCanonical(spark, sfDir)
        else {
          val e0 = allEdges
            .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
            .filter(col("u") < col("v")).distinct()
          val und = e0.select(col("u").as("x"), col("v").as("w"))
            .union(e0.select(col("v").as("x"), col("u").as("w")))
          und.groupBy(col("x").as("key")).agg(count(lit(1)).as("deg"))
            .join(graft.graph.Algorithms.localTriangleCounts(e0), Seq("key"), "left")
            .select(col("key"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
        }
      stats.filter(col("deg") >= 2)
        .select(col("key"), col("deg"), col("tri"),
          round(col("tri") * lit(2.0) / (col("deg") * (col("deg") - lit(1))), 6).as("cc"))
        .orderBy(desc("cc"), col("key"))

    // GRAPH ASSORTATIVITY — Newman degree-correlation r (g39 shape).
    case GraphAssortativity() =>
      val und = TpchGraph.undirected(allEdges).select("src", "dst")
      val deg = und.groupBy(col("src").as("k")).agg(count(lit(1)).as("deg"))
      und.join(deg.select(col("k").as("src"), col("deg").as("x")), Seq("src"))
        .join(deg.select(col("k").as("dst"), col("deg").as("y")), Seq("dst"))
        .agg(count(lit(1)).as("m"), sum("x").as("sx"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("m"),
          round((col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"), 6).as("assortativity"))

    // GRAPH PPR FROM '<key>' — personalized PageRank seeded on one node
    // (overlay-aware: walks the same node/edge frames as NEIGHBORS).
    // An unknown seed yields an empty result, matching WALK's behavior.
    case GraphPpr(from, iters) =>
      val seeds = allNodes.filter(col("key") === from).select("key")
      Algorithms.personalizedPageRank(
          TpchGraph.undirected(allEdges), allNodes, seeds, iters)
        .filter(col("pr") > 0)
        .select(col("key"), round(col("pr"), 6).as("pr"))
        .orderBy(desc("pr"), col("key"))

    // GRAPH DIAMETER — double-sweep pseudo-diameter: BFS from the min
    // key, hop to the farthest node, BFS again; the farthest distance of
    // sweep 2 lower-bounds (and on trees equals) the true diameter. Two
    // frontier-exhausted BFS passes instead of an all-sources sweep — the
    // form that survives a 100 TB graph (each sweep runs to ITS fixpoint,
    // so a deep overlay chain is measured, not truncated at a constant).
    // Deterministic tie-breaks on key.
    case GraphDiameter() =>
      val und = TpchGraph.undirected(allEdges)
      // seeds are cut: every round's anti-join re-reads them
      val start = cut(allNodes.orderBy("key").limit(1).select("key"))
      val far1 = cut(Algorithms.bfs(und, start, Fixpoint())
        .orderBy(desc("depth"), col("key")).limit(1).select("key"))
      Algorithms.bfs(und, far1, Fixpoint())
        .orderBy(desc("depth"), col("key")).limit(1)
        .select(col("key").as("peripheral_key"),
          col("depth").as("pseudo_diameter"))

    // Remaining reference GraphAlgorithm statement variants — each runs
    // its parameterized engine over the overlay-aware frames.
    case GraphEigenvector(iters, tolerance, etype, direction) =>
      Algorithms.eigenvector(orientedEdges(etype, direction, "both"), allNodes,
          iters, tolerance)
        .select(col("key"), round(col("x"), 6).as("score"))
        .orderBy(desc("score"), col("key")).limit(20)

    // Sampled-source Brandes from the hub layer (nation ∪ region) —
    // the g22 construction without the customer sample.
    case GraphBetweenness(samplePct, etype, direction) =>
      // traversed edge set: default = undirected overlay closure; with
      // EDGE TYPE / direction, the reference's filtered/oriented form
      val bwEdges = {
        val f = etype.fold(allEdges)(t => allEdges.filter(col("etype") === t))
        direction.getOrElse("both") match {
          case "out" => f
          case "in" => f.select(col("dst").as("src"), col("src").as("dst"), col("etype"))
          case _ => TpchGraph.undirected(f)
        }
      }
      samplePct match {
        case None =>
          // hub-layer sources (the g22 construction), but the BFS runs to
          // fixpoint: every shortest path from a hub counts, whatever its
          // length — a fixed horizon silently zeroes deep overlay paths
          Algorithms.betweennessBrandes(
              bwEdges,
              allNodes.filter(col("label").isin("nation", "region")).select("key"), Fixpoint())
            .select(col("key"), round(col("betweenness"), 6).as("betweenness"))
            .orderBy(desc("betweenness"), col("key")).limit(20)
        case Some(pct) =>
          // Reference sampling_ratio semantics (`graph_engine/src/lib.rs:
          // 7058-7130`): sources = deterministic hash-sample of
          // ⌈n·pct/100⌉ nodes, scores scaled by n/|sample| (pivot
          // estimator). md5 ordering = same coordination-free sampling
          // rule as the SAMPLE statement.
          val n = allNodes.count()
          val k = math.ceil(n * pct / 100.0).toLong
          val sources = cut(allNodes.select("key")
            .orderBy(md5(col("key")), col("key")).limit(k.toInt))
          val scale = n.toDouble / k
          Algorithms.betweennessBrandes(bwEdges, sources, Fixpoint())
            .select(col("key"), round(col("betweenness") * scale, 6).as("betweenness"))
            .orderBy(desc("betweenness"), col("key")).limit(20)
      }

    // Closeness over the selected edge slice (default: the g18
    // nation/region in_region tree), run to BFS fixpoint per source.
    case GraphCloseness(etype, direction) =>
      // default keeps the g18 nation/region in_region-tree form; EDGE
      // TYPE / direction select the reference's filtered/oriented set
      val e = allEdges.filter(col("etype") === etype.getOrElse("in_region"))
      val walked = direction.getOrElse("both") match {
        case "out" => e.select("src", "dst")
        case "in" => e.select(col("dst").as("src"), col("src").as("dst"))
        case _ => e.select(col("src"), col("dst"))
          .union(e.select(col("dst").as("src"), col("src").as("dst")))
      }
      // fixpoint BFS per source: exact closeness on whatever slice the
      // user selected, however deep the overlay makes it (on the base
      // in_region default the slice is 5 disjoint stars — the fixpoint
      // exhausts at depth 2, so base results are unchanged)
      Algorithms.closeness(walked,
          cut(walked.select(col("src").as("key")).distinct()), Fixpoint())
        .orderBy(desc("closeness"), col("key")).limit(30)

    case GraphLabelProp(iters, etype, direction) =>
      Algorithms.labelPropagation(
          orientedEdges(etype, direction, "both").select("src", "dst"), allNodes, iters)
        .groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
        .orderBy(desc("n_nodes"), col("lbl")).limit(20)

    case GraphLouvain(sweeps, resolution, etype, direction) =>
      Algorithms.louvainSweeps(
          orientedEdges(etype, direction, "both").select("src", "dst"),
          allNodes.select("key"), sweeps, resolution)
        .groupBy("comm").agg(count(lit(1)).as("n_nodes"))
        .filter(col("n_nodes") >= 2)
        .orderBy(desc("n_nodes"), col("comm")).limit(30)

    // GRAPH CORES [MAX k] — full k-core decomposition (g46 engine),
    // overlay-aware (store nodes/edges join the peel).
    case GraphCores(maxK) =>
      graft.graph.GraphQueries.coreDecomposition(
        TpchGraph.undirected(allEdges).select("src", "dst"),
        allNodes.select("key"), maxK)

    // GRAPH TRANSITIVITY — global + average clustering (g47 engine; the
    // no-overlay path shares the memoized canonical frame).
    case GraphTransitivity() =>
      if (store.isEmpty)
        graft.graph.GraphQueries.clusteringFromStats(
          graft.graph.GraphQueries.triStatsCanonical(spark, sfDir))
      else graft.graph.GraphQueries.clusteringGlobal(allEdges)

    // SHOW EMBEDDINGS analogue: key + dimension + label/collection of
    // every stored vector (bundled table ∪ store), deterministic order.
    case EmbedList(collection, limit) =>
      val bundled = emb.select(col("key"),
        size(col("embedding")).as("dimension"), col("label").cast("string").as("collection"))
      val all = store match {
        case None => bundled
        case Some(st) =>
          bundled.union(st.entities.filter(col("embedding").isNotNull)
            .select(col("key"), size(col("embedding")).as("dimension"),
              coalesce(element_at(col("props"), "collection"), lit("entity")).as("collection")))
      }
      val f = collection.fold(all)(c => all.filter(col("collection") === c))
      val ordered = f.orderBy("key")
      limit.fold(ordered)(ordered.limit)

    case EmbedGet(key) =>
      if (isVecKey(key) || store.isEmpty) emb.filter(col("key") === key).select("key", "embedding")
      else storeOrFail("EMBED GET").entities.filter(col("key") === key).select("key", "embedding")

    // EMBED DELETE (reference EmbedOp::Delete, `parser.rs:1792-1794`) —
    // props-preserving, mirroring EMBED STORE's merge: the vector goes,
    // the entity/node under the same key stays (vector and graph engines
    // are orthogonal in the reference). A props-less row tombstones.
    case EmbedDelete(key) =>
      if (isVecKey(key)) throw NqlExecException(
        "EMBED DELETE: bundled 'vec:*' embeddings are read-only driver data")
      val st = storeOrFail("EMBED DELETE")
      val cur = st.entities.filter(col("key") === key).limit(1).collect()
      if (cur.isEmpty || cur.head.isNullAt(cur.head.fieldIndex("embedding")))
        throw NqlExecException(s"EMBED DELETE: no embedding stored under '$key'")
      val props = Option(cur.head.getAs[Map[String, String]]("props"))
        .getOrElse(Map.empty[String, String])
      if (props.nonEmpty)
        st.put(Seq(graft.unified.EntityStore.EntityRow(key, props, None)))
      else st.delete(Seq(key))
      status(key, "embedding_deleted")

    // COUNT EMBEDDINGS (reference `parser.rs:1550-1562`): bundled +
    // store vectors in one count.
    case CountEmbeddings() =>
      val bundled = emb.select("key")
      val stored = store.map(_.entities.filter(col("embedding").isNotNull).select("key"))
        .getOrElse(bundled.limit(0))
      bundled.union(stored).agg(count(lit(1)).as("n_embeddings"))

    // SHOW VECTOR INDEX (reference ShowVectorIndex, `parser.rs:1497`):
    // per-cell census of the session ANN index, or a no-index row.
    case ShowVectorIndex() =>
      NqlCompiler.ivfIndexes.get((spark, sfDir)) match {
        case Some(idx) =>
          idx.assigned.groupBy("cell").agg(count(lit(1)).as("n_vectors")).orderBy("cell")
        case None => status("ivf", "no_index_built")
      }

    // DESCRIBE NODE <label> / DESCRIBE EDGE <type> (reference
    // DescribeTarget::Node/Edge, `parser.rs:1527-1548`): property census
    // over the overlay-aware frame — fixed schema columns plus any
    // store-entity props carried by that label.
    case DescribeNode(label) =>
      val n = allNodes.filter(col("label") === label)
      val base = n.agg(count("key").as("key"), count("label").as("label"),
          count("name").as("name"))
        .selectExpr("stack(3, 'key', key, 'label', label, 'name', name) AS (property, n_present)")
      val storeProps = store.map(_.entities
          .filter(coalesce(element_at(col("props"), "label"), lit("entity")) === label)
          .select(explode(map_keys(col("props"))).as("property"))
          .filter(!col("property").isin("label", "name"))
          .groupBy("property").agg(count(lit(1)).as("n_present")))
        .getOrElse(base.limit(0))
      base.union(storeProps).orderBy("property")

    case DescribeEdge(etype) =>
      allEdges.filter(col("etype") === etype)
        .agg(count("src").as("src"), count("dst").as("dst"), count("etype").as("etype"))
        .selectExpr("stack(3, 'src', src, 'dst', dst, 'etype', etype) AS (property, n_present)")
        .orderBy("property")

    // CONSTRAINT statements (reference `parser.rs:2701-2800`, enforced
    // on write at `graph_engine/src/lib.rs:7613-7700`): CREATE registers
    // the declaration; CHECK runs the validate-on-scan job (SURVEY §2.1
    // decision) and returns the VIOLATING rows — empty result = holds.
    case c @ ConstraintCreate(name, _, _, _, ctype, typeName) =>
      if (ctype == "type") {
        val allowed = Set("int", "bigint", "double", "float", "date",
          "timestamp", "boolean", "string")
        val t = typeName.map(_.toLowerCase).getOrElse("")
        if (!allowed.contains(t)) throw NqlParseException(
          s"CONSTRAINT TYPE expects one of ${allowed.toSeq.sorted.mkString("/")}, got '${typeName.getOrElse("")}'")
      }
      NqlCompiler.constraintDefs.put((spark, sfDir, name), c)
      status(name, s"constraint_created:$ctype")

    case ConstraintDrop(name) =>
      if (NqlCompiler.constraintDefs.remove((spark, sfDir, name)).isEmpty)
        throw NqlExecException(s"CONSTRAINT DROP: no constraint named '$name'")
      status(name, "constraint_dropped")

    case ConstraintList() =>
      import spark.implicits._
      NqlCompiler.constraintDefs.collect {
        case ((s, d, _), c) if s == spark && d == sfDir =>
          (c.name, if (c.onEdges) "edge" else "node", c.filter.getOrElse(""),
            c.property, c.ctype + c.typeName.fold("")(":" + _))
      }.toSeq.sortBy(_._1)
        .toDF("name", "target", "filter", "property", "constraint")

    case ConstraintGet(name) =>
      import spark.implicits._
      val c = NqlCompiler.constraintDefs.getOrElse((spark, sfDir, name),
        throw NqlExecException(s"CONSTRAINT GET: no constraint named '$name'"))
      Seq((c.name, if (c.onEdges) "edge" else "node", c.filter.getOrElse(""),
        c.property, c.ctype + c.typeName.fold("")(":" + _)))
        .toDF("name", "target", "filter", "property", "constraint")

    case ConstraintCheck(name) =>
      val c = NqlCompiler.constraintDefs.getOrElse((spark, sfDir, name),
        throw NqlExecException(s"CONSTRAINT CHECK: no constraint named '$name' (CONSTRAINT CREATE it first)"))
      if (c.onEdges) {
        val e = c.filter.fold(allEdges)(t => allEdges.filter(col("etype") === t))
        if (!e.columns.contains(c.property)) throw NqlExecException(
          s"CONSTRAINT CHECK: edges carry no property '${c.property}'")
        c.ctype match {
          case "unique" =>
            graft.unified.Constraints.uniqueViolations(e, Seq(c.property))
              .orderBy("src", "dst", "etype")
          case "exists" => e.filter(col(c.property).isNull).orderBy("src", "dst")
          case _ => e.filter(col(c.property).isNotNull &&
              expr(s"try_cast(${c.property} AS ${c.typeName.get})").isNull)
            .orderBy("src", "dst")
        }
      } else {
        // node property resolution: fixed schema columns from the
        // overlay node view; anything else from the store's props map
        val base = c.filter.fold(allNodes)(l => allNodes.filter(col("label") === l))
        val withV =
          if (Seq("key", "label", "name").contains(c.property))
            base.withColumn("__v", col(c.property))
          else store match {
            case Some(st) => base.join(
              st.entities.select(col("key"),
                element_at(col("props"), c.property).as("__v")), Seq("key"), "left")
            case None => base.withColumn("__v", lit(null).cast("string"))
          }
        c.ctype match {
          case "unique" =>
            graft.unified.Constraints.uniqueViolations(
                withV.filter(col("__v").isNotNull), Seq("__v"))
              .select(col("key"), col("label"), col("__v").as(c.property),
                col("n_occurrences"))
              .orderBy("key")
          case "exists" =>
            withV.filter(col("__v").isNull).select("key", "label", "name").orderBy("key")
          case _ =>
            withV.filter(col("__v").isNotNull &&
                expr(s"try_cast(__v AS ${c.typeName.get})").isNull)
              .select(col("key"), col("label"), col("__v").as(c.property))
              .orderBy("key")
        }
      }

    case EntityGet(key) =>
      if (isVecKey(key) || store.isEmpty) emb.filter(col("key") === key).select("key", "label", "embedding")
      else storeOrFail("ENTITY GET").entities.filter(col("key") === key)

    case EntityCreate(key, props, embedding) =>
      storeOrFail("ENTITY CREATE").put(Seq(graft.unified.EntityStore.EntityRow(key, props, embedding)))
      status(key, "created")

    case EntityDelete(key) =>
      storeOrFail("ENTITY DELETE").delete(Seq(key))
      status(key, "deleted")

    // Merge-props update (reference ENTITY UPDATE, `tensor_unified/src/
    // lib.rs:475-880`): the latest row's props/embedding are read (one
    // bounded 1-key lookup), named props overwrite, everything else is
    // preserved, and the merged row appends as a new version — the
    // lakehouse analogue of the reference's in-place field update.
    // Concurrency note: the read-merge-append is NOT atomic — a writer
    // landing between the lookup and the put() is overwritten by this
    // statement's stale merge (last-writer-wins at statement granularity,
    // the standard append-log semantics; reference single-threaded engine
    // has no sharper guarantee either).
    case EntityUpdate(key, props, newEmb) =>
      val st = storeOrFail("ENTITY UPDATE")
      // read-merge-append under the store's merge lock: a concurrent
      // merge on the same key cannot interleave between the lookup and
      // the put, so neither statement's assignments are lost
      st.withMergeLock {
        val cur = st.entities.filter(col("key") === key).limit(1).collect()
        if (cur.isEmpty) throw NqlExecException(
          s"ENTITY UPDATE: entity '$key' does not exist (use ENTITY CREATE)")
        val row = cur.head
        val curProps = Option(row.getAs[Map[String, String]]("props")).getOrElse(Map.empty)
        val curEmb = Option(row.getAs[scala.collection.Seq[Float]]("embedding")).map(_.toArray)
        // EMBEDDING clause replaces the vector; without it the old one stays
        st.put(Seq(graft.unified.EntityStore.EntityRow(key, curProps ++ props,
          newEmb.orElse(curEmb))))
      }
      status(key, s"updated:${props.keys.toSeq.sorted.mkString(",")}")

    case EntityConnect(src, dst, etype) =>
      storeOrFail("ENTITY CONNECT").connect(src, dst, etype)
      status(s"$src->$dst", s"connected:$etype")

    case EmbedStore(key, vector, collection) =>
      // Per-collection dimension check (reference validates on store,
      // `vector_engine/src/lib.rs:1369-1585`): a registered collection
      // rejects mismatched vectors loudly at statement time, before any
      // parquet append.
      collection.foreach { c =>
        val (dim, _) = collCfg(c).getOrElse(throw NqlParseException(
          s"unknown collection '$c' — EMBED COLLECTION CREATE it first"))
        if (vector.length != dim) throw NqlParseException(
          s"collection '$c' expects dimension $dim, got ${vector.length}")
      }
      // The reference's vector and graph engines are orthogonal: storing
      // an embedding must not clobber node/entity props living under the
      // same key (knowledge-base sample: NODE CREATE then EMBED STORE).
      // Merge: existing props preserved, collection tag overlaid,
      // embedding replaced. One bounded 1-key lookup per statement.
      val st = storeOrFail("EMBED STORE")
      st.withMergeLock { // read-merge-append: serialize vs other merges
        val existing = st.entities.filter(col("key") === key).limit(1).collect()
          .headOption.flatMap(r => Option(r.getAs[Map[String, String]]("props")))
          .getOrElse(Map.empty[String, String])
        st.put(Seq(graft.unified.EntityStore.EntityRow(
          key, existing ++ collection.map("collection" -> _).toMap, Some(vector))))
      }
      status(key, "stored")

    // Batch vector store — ONE versioned log append for the whole batch
    // (that is the point of the batch form: n items, one parquet write).
    // The collection registry check applies to every item before any
    // write, so a partial batch never lands.
    case EmbedBatch(items, collection) =>
      collection.foreach { c =>
        val (dim, _) = collCfg(c).getOrElse(throw NqlParseException(
          s"unknown collection '$c' — EMBED COLLECTION CREATE it first"))
        items.find(_._2.length != dim).foreach { case (k, v) =>
          throw NqlParseException(
            s"collection '$c' expects dimension $dim, got ${v.length} for '$k'")
        }
      }
      // Same props-preserving merge as EMBED STORE, batched: ONE bounded
      // lookup for all keys (the item list is statement-literal-sized).
      val stb = storeOrFail("EMBED BATCH")
      val itemKeys = items.map(_._1)
      val existingProps = stb.entities.filter(col("key").isin(itemKeys: _*))
        .select("key", "props").collect()
        .map(r => r.getString(0) -> Option(r.getAs[Map[String, String]]("props"))
          .getOrElse(Map.empty[String, String])).toMap
      stb.put(items.map { case (k, v) =>
        graft.unified.EntityStore.EntityRow(
          k, existingProps.getOrElse(k, Map.empty) ++ collection.map("collection" -> _).toMap,
          Some(v))
      })
      spark.createDataFrame(Seq((items.size.toLong, "batch_stored")))
        .toDF("n_stored", "status")

    // Batch entity create — one log append for the whole batch.
    case EntityBatchCreate(items) =>
      storeOrFail("ENTITY BATCH CREATE").put(items.map { case (k, props) =>
        graft.unified.EntityStore.EntityRow(k, props, None)
      })
      spark.createDataFrame(Seq((items.size.toLong, "batch_created")))
        .toDF("n_created", "status")

    case EmbedCollectionCreate(name, dim, metric) =>
      NqlCompiler.collections.put((spark, sfDir, name), (dim, metric))
      status(name, s"collection_created:dim=$dim")

    // Build + register the session ANN index (reference `EMBED BUILD
    // INDEX`, `neumann_parser/src/ast.rs:703`). Default cells are the
    // deterministic per-label cells with mean centroids (exactly the v08
    // construction, so the statement path is oracle-checkable); CLUSTERS k
    // switches to MLlib KMeans cells (fixed seed — deterministic within a
    // session, not SQL-expressible, so API/spec-level only).
    case EmbedBuildIndex(clusters) =>
      val built = clusters match {
        case Some(k) =>
          val idx = graft.vector.AnnIndex.buildIvf(Tables(spark, sfDir, "embeddings"), k)
          NqlCompiler.IvfState(
            idx.assigned.select(
              concat(lit("vec:"), col("vec_id").cast("string")).as("key"),
              col("embedding"), col("cell").cast("string").as("cell")),
            idx.centroids.select(col("cell").cast("string").as("cell"),
              col("centroid").cast("array<float>").as("centroid")))
        case None =>
          val e = emb
          val cent = e.select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
            .groupBy("label", "i").agg(avg("x").as("cx"))
            .groupBy("label")
            .agg(expr("transform(array_sort(collect_list(struct(i, cx))), p -> p.cx)").as("centroid"))
            .select(col("label").as("cell"), col("centroid").cast("array<float>").as("centroid"))
          NqlCompiler.IvfState(e.select(col("key"), col("embedding"), col("label").as("cell")), cent)
      }
      NqlCompiler.ivfIndexes.put((spark, sfDir), built)
      built.centroids.agg(count(lit(1)).as("n_cells"))
        .withColumn("status", lit("ivf_index_built"))

    case EmbedDropIndex() =>
      NqlCompiler.ivfIndexes.remove((spark, sfDir))
      status("ivf", "index_dropped")

    // Pattern-match count/exists statement forms (reference
    // `graph_engine/src/lib.rs:5945-6090`): the full binding frame of the
    // motif chain is aggregated, not projected.
    case GraphMatchCount(m) =>
      matchBindings(m).agg(count(lit(1)).as("n_matches"))

    // COUNT NODES / COUNT EDGES statement forms (reference `ast.rs:
    // 1430-1487`; `graph_engine/src/lib.rs:5705-5829`) — overlay-aware
    // via allNodes/allEdges, one map-side-combined count.
    case GraphCountNodes(label) =>
      label.fold(allNodes)(l => allNodes.filter(col("label") === l))
        .agg(count(lit(1)).as("n_nodes"))

    case GraphCountEdges(etype) =>
      etype.fold(allEdges)(t => allEdges.filter(col("etype") === t))
        .agg(count(lit(1)).as("n_edges"))

    // Property aggregation over nodes/edges (reference
    // AggregateNodeProperty / AggregateEdgeProperty). SUM/AVG run on
    // 1e-2-quantized longs (acctbal carries 2 decimals) so the result is
    // exact and partition-order independent — the g28 float-sum policy.
    case GraphAggregate(func, prop, overEdges, filter, where) =>
      val frame =
        if (overEdges) {
          if (prop != "weight") throw NqlParseException(
            s"unknown edge property '$prop' (available: weight)")
          filter.fold(allEdges)(t => allEdges.filter(col("etype") === t))
            .withColumn("value", expr(
              "CASE etype WHEN 'in_region' THEN 2.0 WHEN 'in_nation' THEN 1.0 ELSE 1.5 END"))
        } else {
          if (prop != "acctbal") throw NqlParseException(
            s"unknown node property '$prop' (available: acctbal)")
          val c = Tables(spark, sfDir, "customer").select(
            concat(lit("customer:"), col("c_custkey").cast("string")).as("key"),
            lit("customer").as("label"), col("c_name").as("name"),
            col("c_acctbal").cast("double").as("value"))
          val su = Tables(spark, sfDir, "supplier").select(
            concat(lit("supplier:"), col("s_suppkey").cast("string")).as("key"),
            lit("supplier").as("label"), col("s_name").as("name"),
            col("s_acctbal").cast("double").as("value"))
          val base = c.union(su)
          val masked = store.fold(base)(st =>
            base.join(st.deletedKeys, Seq("key"), "left_anti"))
          filter.fold(masked)(l => masked.filter(col("label") === l))
        }
      val f = where.foldLeft(frame)((df, c) => df.filter(cond(c)))
      val q = f.withColumn("q", round(col("value") * 100).cast("long"))
      val aggCol = func match {
        case "SUM" => sum(col("q")) / 100.0
        case "AVG" => sum(col("q")) / 100.0 / count(lit(1))
        case "MIN" => min(col("value"))
        case "MAX" => max(col("value"))
        case _     => count(col("value")).cast("double")
      }
      q.agg(round(aggCol, 4).as("value"))
        .select(lit(func.toLowerCase).as("func"), lit(prop).as("prop"), col("value"))

    case GraphMatchExists(m) =>
      matchBindings(m).limit(1).agg((count(lit(1)) > 0).as("exists_match"))

    case m: CypherParser.MatchStmt => compileMatch(m)

    case c: CypherParser.CypherCreate =>
      cypherPutNode(c.node, c.merge)

    case r: CypherParser.CypherCreateRel =>
      val op = if (r.merge) "MERGE" else "CREATE"
      val st = storeOrFail(op)
      // One existence scan covers both endpoints. BOUNDEDNESS GUARANTEE:
      // `keys` is always statement-literal-sized (exactly the two endpoint
      // keys written in the CREATE/MERGE text), so the isin-filtered
      // collect below returns ≤ 2 rows regardless of store size — this is
      // a keyed point lookup, not a scan-collect.
      val endpoints = Seq(r.from, r.to)
      val keys = endpoints.map(_.props("key"))
      val existing = allNodes.filter(col("key").isin(keys: _*))
        .select("key").collect().map(_.getString(0)).toSet
      // endpoints with a label or extra props are created (if absent) in
      // ONE batched put; bare `(x {key: '…'})` endpoints are references
      // and must already exist — a dangling edge on a typo'd key would be
      // invisible to MATCH but visible to EDGE LIST/DEGREE.
      val (creatable, refs) = endpoints.partition(np =>
        np.label.isDefined || (np.props - "key").nonEmpty)
      refs.find(np => !existing.contains(np.props("key"))).foreach(np =>
        throw NqlParseException(
          s"$op: endpoint '${np.props("key")}' does not exist (add a label/props to create it)"))
      val toPut = creatable.filterNot(np => existing.contains(np.props("key")))
      if (toPut.nonEmpty) st.put(toPut.map(np =>
        graft.unified.EntityStore.EntityRow(np.props("key"),
          Map("label" -> np.label.getOrElse("entity")) ++ (np.props - "key"), None)))
      st.connect(r.from.props("key"), r.to.props("key"), r.etype)
      status(s"${r.from.props("key")}->${r.to.props("key")}", s"connected:${r.etype}")

    // BLOB similarity: the v01 top-k plan over a binary-payload table —
    // blobs join their embeddings on id, the 1-row query vector
    // broadcasts, cosine is the codegen'd native Expression, and the
    // top-k is TakeOrderedAndProject (per-partition heap, no global
    // sort). Blobs without an embedding are simply not searchable.
    case BlobsSimilar(key, limit) =>
      val blobs = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      blobs.join(emb.select(col("vec_id"), col("embedding"), col("key").as("ekey")),
          col("doc_id") === col("vec_id"))
        .filter(col("ekey") =!= key)
        .crossJoin(broadcast(embOf(key)))
        .select(concat(lit("blob:"), col("doc_id")).as("blob_key"),
          length(col("payload")).as("n_bytes"),
          round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
        .orderBy(desc("score"), col("blob_key")).limit(limit)

    case Find(target, where, limit, ret) =>
      val base = Tables(spark, sfDir, target)
      val f = where.foldLeft(base)((df, c) => df.filter(cond(c)))
      val ordered = f.orderBy(f.columns.head)
      val lim = limit.fold(ordered)(ordered.limit)
      if (ret.nonEmpty) lim.select(ret.map(col): _*) else lim

    // FIND NODES/EDGES (reference FindPattern::Nodes/Edges, router
    // `query_router/src/lib.rs:5470-5487`): overlay-aware scans with the
    // same WHERE/RETURN/LIMIT tail as FIND ROWS. Deterministic key order
    // before LIMIT so pagination is stable.
    case FindNodes(label, where, ret, limit) =>
      val n0 = label.fold(allNodes)(l => allNodes.filter(col("label") === l))
      // WHERE/RETURN columns beyond the overlay schema (key/label/name)
      // are store properties (reference FindStmt property conditions):
      // resolve them through the props map with the same element_at join
      // ConstraintCheck uses; without a store session that's a typed
      // domain error, never a raw AnalysisException.
      val schemaCols = Set("key", "label", "name")
      val propCols = (where.map(_.column) ++ ret).distinct
        .filterNot(c => schemaCols.contains(c.toLowerCase))
      val n1 =
        if (propCols.isEmpty) n0
        else store match {
          case Some(st) => n0.join(
            st.entities.select(
              col("key") +: propCols.map(pc => element_at(col("props"), pc).as(pc)): _*),
            Seq("key"), "left")
          case None => throw NqlExecException(
            s"FIND NODES: unknown column(s) ${propCols.mkString(", ")} — " +
              "node schema is key, label, name; store properties need a store session")
        }
      val f = where.foldLeft(n1)((df, c) => df.filter(cond(c)))
      val lim = limit.fold(f.orderBy("key"))(f.orderBy("key").limit)
      if (ret.nonEmpty) lim.select(ret.map(col): _*)
      else lim.select(n0.columns.map(col): _*) // prop join columns are filter-only

    case FindEdges(etype, where, ret, limit) =>
      val e0 = etype.fold(allEdges)(t => allEdges.filter(col("etype") === t))
      val badCols = (where.map(_.column) ++ ret).distinct
        .filterNot(c => Set("src", "dst", "etype").contains(c.toLowerCase))
      if (badCols.nonEmpty) throw NqlExecException(
        s"FIND EDGES: unknown column(s) ${badCols.mkString(", ")} — " +
          "edge schema is src, dst, etype (overlay edges carry no properties)")
      val f = where.foldLeft(e0)((df, c) => df.filter(cond(c)))
      val ordered = f.orderBy("src", "dst", "etype")
      val lim = limit.fold(ordered)(ordered.limit)
      if (ret.nonEmpty) lim.select(ret.map(col): _*) else lim

    // FIND PATH (reference `tensor_unified/src/lib.rs:1154-1240`):
    // FROM+TO = BFS shortest path as a hop list; FROM only = outgoing
    // connections; TO only = incoming (reference default limit 100).
    case FindPath(fromOpt, via, toOpt, limit) =>
      val e0 = via.fold(allEdges)(t => allEdges.filter(col("etype") === t))
      (fromOpt, toOpt) match {
        // LIMIT on the FROM+TO form bounds the path SEARCH depth (clamped
        // to 8 hops — each BFS round is a keyed shuffle): paths longer
        // than the limit report as not found. The reference's limit caps
        // returned path items; with one (from, to) pair it returns at
        // most one path either way, so for n >= path length the results
        // agree and the hop cap gives the knob a real, documented effect.
        case (Some(from), Some(to)) =>
          findPathBfs(e0, from, to, maxDepth = math.min(limit.getOrElse(6), 8))
        case (Some(from), None) =>
          e0.filter(col("src") === from).select("src", "dst", "etype")
            .orderBy("dst", "etype").limit(limit.getOrElse(100))
        case (None, Some(to)) =>
          e0.filter(col("dst") === to).select("src", "dst", "etype")
            .orderBy("src", "etype").limit(limit.getOrElse(100))
        case (None, None) =>
          throw NqlParseException("FIND PATH requires FROM and/or TO") // parser rejects already
      }

    // ASOF: the q33 union+window plan, parameterized — one shuffle on the
    // key, a single window pass, no range-exploding join (the form that
    // survives 100 TB of events).
    case AsofJoin(leftType, rightType, key, tsCol) =>
      val ev = Tables(spark, sfDir, "events")
        .filter(col("event_type").isin(leftType, rightType))
        .withColumn("is_l", (col("event_type") === leftType).cast("int"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
        .orderBy(col(tsCol), col("is_l"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      ev.withColumn("matched_id",
          last(when(col("is_l") === 0, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("matched_ts",
          last(when(col("is_l") === 0, col(tsCol)), ignoreNulls = true).over(w))
        .filter(col("is_l") === 1)
        .select(col("event_id"), col("matched_id"),
          (unix_micros(col(tsCol)) - unix_micros(col("matched_ts"))).as("gap_us"))
        .orderBy("event_id")

    // SAMPLE: md5-derived deterministic keep decision — map-side,
    // reproducible on any engine, restratifiable without coordination
    // (the d06 mechanism as a statement).
    case Sample(table, ratePct, keyCol) =>
      Tables(spark, sfDir, table)
        .filter(expr(s"CAST(conv(substr(md5(cast(cast($keyCol AS STRING) AS BINARY)), 1, 4), 16, 10) AS BIGINT) % 100") < ratePct)
        .orderBy(keyCol)

    // TRAVERSE: the g32 filtered-BFS engine as a statement — both
    // filters apply once to the edge frame before the loop, so the
    // per-round plan is the unfiltered BFS's (filters ride the scan).
    case Traverse(from, depth, etype, label) =>
      Algorithms.bfs(TpchGraph.undirected(allEdges), Algorithms.source(spark, from), Rounds(depth),
          edgePred = etype.map(t => col("etype") === t),
          allowedNodes = label.map(l =>
            allNodes.filter(col("label") === l).select("key")))
        .orderBy("key")

    // REBALANCE: the d08 equal-share budget mix as a statement. The
    // per-group census is broadcast-sized (groups, not rows); the keep
    // decision is map-side deterministic integer arithmetic.
    case Rebalance(table, byCol, budgetPct, keyCol) =>
      val base = Tables(spark, sfDir, table)
      val counts = base.groupBy(byCol).agg(count(lit(1)).as("__n_grp"))
      val tgt = counts.agg(expr(s"(sum(__n_grp) * $budgetPct div 100) div count(1)").as("__n_tgt"))
      val pct = expr(s"CAST(conv(substr(md5(cast(cast($keyCol AS STRING) AS BINARY)), 1, 4), 16, 10) AS BIGINT) % 10000")
      base.join(broadcast(counts), byCol)
        .crossJoin(broadcast(tgt))
        .filter(pct * col("__n_grp") < col("__n_tgt") * 10000L)
        .drop("__n_grp", "__n_tgt")
        .orderBy(keyCol)

    // SEMDEDUP: the d11 semantic-dedup census as a statement. The pair
    // stage joins on the cluster column, so fan-out is Σ_c |c|² — the
    // SemDeDup bound — and the keep rule (lowest key survives) is
    // deterministic.
    case SemDedup(table, byCol, thresholdPct, keyCol, vecCol) =>
      val base = Tables(spark, sfDir, table)
      val tau = thresholdPct / 100.0
      val a = base.select(col(byCol), col(keyCol).as("__ka"), col(vecCol).as("__va"))
      val b = base.select(col(byCol), col(keyCol).as("__kb"), col(vecCol).as("__vb"))
      val rm = a.join(b, Seq(byCol)).filter(col("__ka") < col("__kb"))
        .filter(graft.functions.VectorFunctions.cosine_similarity(
          col("__va"), col("__vb")) >= tau)
        .select(col(byCol), col("__kb")).distinct()
      val census = base.groupBy(byCol).agg(count(lit(1)).as("n_total"))
      val removed = rm.groupBy(byCol).agg(count(lit(1)).as("n_removed"))
      census.join(removed, Seq(byCol), "left")
        .select(col(byCol), col("n_total"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          (col("n_total") - coalesce(col("n_removed"), lit(0L))).as("n_kept"))
        .orderBy(byCol)

    // WALK: the g35 hash-greedy deterministic walk as a statement. A
    // missing start key yields an empty result (the walk never begins),
    // matching NEIGHBORS' behavior for unknown keys.
    case Walk(from, steps) =>
      val seeds = allNodes.filter(col("key") === from).select("key")
      Algorithms.hashGreedyWalk(TpchGraph.undirected(allEdges), seeds, steps)
        .select(col("walk_id"), col("cur").as("final_node"), col("path"))

    // HYBRID: keyword + vector RRF fusion (the u05 engine); the term is
    // parser-validated to a plain word before it reaches the plan.
    case Hybrid(term, vecId, limit) =>
      graft.unified.UnifiedQueries.hybridRrf(spark, sfDir, term, vecId, limit)

    // BPE TRAIN ROUNDS n — distributed tokenizer-merge discovery (t18).
    case BpeTrain(rounds) =>
      graft.pipeline.PipelineQueries.bpeMerges(spark, sfDir, rounds)

    // HEAVY HITTERS TOP k — count-min-sketch heavy hitters (t19).
    case HeavyHitters(top) =>
      graft.pipeline.PipelineQueries.cmsHeavyHitters(spark, sfDir, top)

    // MMR <id> [POOL p] [LIMIT k] — diversified re-ranking (v18).
    case MmrRerank(vid, pool, k) =>
      graft.vector.VectorQueries.mmrRerank(spark, sfDir, vid, pool, k)

    // CHUNK WINDOW w STRIDE s — fixed-window chunk census (t21 engine).
    case ChunkCensus(w, stride) =>
      graft.pipeline.PipelineQueries.chunkCensus(spark, sfDir, w, stride)

    // DEDUP AGAINST '<source>' — incremental near-dedup of every other
    // source against that corpus's band signatures (d13 engine).
    case DedupAgainst(corpusSource) =>
      graft.pipeline.PipelineQueries.incrementalDedup(spark, sfDir, corpusSource)

    // DEDUP: exact hash dedup keeping the min-key row per duplicate group
    // (the d02 mechanism as a statement); one shuffle on the text hash.
    case Dedup(table, byCol, keyCol) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("__h")
      Tables(spark, sfDir, table)
        .withColumn("__h", md5(col(byCol).cast("binary")))
        .withColumn("__keep", min(keyCol).over(w))
        .filter(col(keyCol) === col("__keep"))
        .drop("__h", "__keep")
        .orderBy(keyCol)
  }

  /** Cypher MATCH → chain of joins over the property graph (the motif
    * machinery of GraphQueries.g11, generalized). `var.col` references
    * compile to `var_col` columns; variable-length hops expand to a
    * bounded union of h-hop pair frames (cap 8, mirroring the reference's
    * max_depth guard `graph_engine/src/lib.rs:857-884`).
    */
  private def compileMatch(m: CypherParser.MatchStmt): DataFrame = {
    val filtered = matchBindings(m)
    m.delete.foreach { v =>
      // Write command: matched keys stream to the driver in bounded
      // batches, each appended as one tombstone parquet batch — a broad
      // DELETE never materializes the full key set in driver memory.
      // Batches are idempotent (tombstones are latest-wins), so a retry
      // after a mid-stream failure converges.
      val st = storeOrFail("MATCH ... DELETE")
      val it = filtered.select(col(s"${v}_key")).distinct().toLocalIterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var n = 0L
      while (it.hasNext) {
        buf += it.next().getString(0)
        n += 1
        if (buf.length >= NqlCompiler.DeleteBatchSize) { st.delete(buf.toSeq); buf.clear() }
      }
      if (buf.nonEmpty) st.delete(buf.toSeq)
      return spark.createDataFrame(Seq((n, "deleted")))
        .toDF("n_deleted", "status")
    }
    if (m.set.nonEmpty) {
      // Write command: SET merges the assignments into each matched
      // entity's current props (store row wins; a matched base-graph
      // node materializes into the overlay, same masking rule as NODE
      // CREATE on a base key). Streams in the same bounded batches as
      // MATCH ... DELETE; puts are latest-wins, so retries converge.
      val st = storeOrFail("MATCH ... SET")
      var total = 0L
      // Read-merge-append under the store's merge lock — but PER KEY
      // BATCH, not across the whole statement (round 12, carried ADVICE
      // item: the old body held the monitor across the full match scan,
      // so one big MATCH…SET starved every concurrent merge for the
      // scan's duration). The match scan — store-independent and
      // potentially data-sized — streams OUTSIDE the lock; each batch
      // then re-reads its pre-images and appends the merged rows inside
      // one bounded critical section. A key lands in exactly one batch,
      // so the per-key read-merge-append stays atomic and lost updates
      // remain impossible (MergeConcurrencyFuzzSpec races this path);
      // statement-level atomicity was never promised — puts already
      // streamed in batches.
      for ((v, assigns) <- m.set.groupBy(_._1).toSeq.sortBy(_._1)) {
        val setProps = assigns.map(a => (a._2, a._3)).toMap
        val matched = filtered.select(col(s"${v}_key").as("key")).distinct()
          .join(allNodes.select(col("key"), col("label").as("__label"),
            col("name").as("__name")), Seq("key"), "left")
        val it = matched.toLocalIterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
        def flush(): Unit = if (buf.nonEmpty) {
          val batch = buf.toSeq; buf.clear()
          st.withMergeLock {
            val pre = st.entities
              .filter(col("key").isin(batch.map(_._1): _*))
              .select(col("key"), col("props"), col("embedding"))
              .collect() // bounded: <= DeleteBatchSize pre-image rows
              .map(r => r.getAs[String]("key") -> r).toMap
            st.put(batch.map { case (k, lbl, nm) =>
              pre.get(k) match {
                case Some(r) =>
                  val cur = Option(r.getAs[scala.collection.Map[String, String]]("props"))
                    .map(_.toMap).getOrElse(Map.empty)
                  val emb = Option(r.getAs[scala.collection.Seq[Float]]("embedding")).map(_.toArray)
                  graft.unified.EntityStore.EntityRow(k, cur ++ setProps, emb)
                case None => // matched base node materializes into the overlay
                  graft.unified.EntityStore.EntityRow(k,
                    Map("label" -> Option(lbl).getOrElse("entity"),
                      "name" -> Option(nm).getOrElse(k)) ++ setProps, None)
              }
            })
          }
          total += batch.size
        }
        while (it.hasNext) {
          val r = it.next()
          buf += ((r.getAs[String]("key"), r.getAs[String]("__label"), r.getAs[String]("__name")))
          if (buf.length >= NqlCompiler.DeleteBatchSize) flush()
        }
        flush()
      }
      return spark.createDataFrame(Seq((total, "updated")))
        .toDF("n_updated", "status")
    }
    def ref(name: String): Column = col(name.replace('.', '_'))
    val projected = filtered.select(m.returns.map(ref): _*)
    val ordered =
      if (m.orderBy.nonEmpty)
        projected.orderBy(m.orderBy.map { case (c, asc) => if (asc) ref(c).asc else ref(c).desc }: _*)
      else projected
    val skipped = m.skip.fold(ordered)(ordered.offset)
    m.limit.fold(skipped)(skipped.limit)
  }

  /** The filtered binding frame of a MATCH pattern (chain + OPTIONAL
    * extension + WHERE), before projection — shared by MATCH statements
    * and the GRAPH MATCH COUNT/EXISTS aggregate forms. */
  private def matchBindings(m: CypherParser.MatchStmt): DataFrame = {
    import CypherParser.{EdgePat, NodePat}
    // overlay-aware: Cypher reads (and MATCH…DELETE tombstones) the same
    // store-overlaid graph the NODE/EDGE statements operate on
    val nodes = allNodes
    val edges = allEdges

    def nodeDf(np: NodePat): DataFrame = {
      var df = nodes
      np.label.foreach(l => df = df.filter(col("label") === l))
      np.props.foreach { case (k, v) => df = df.filter(col(k) === v) }
      df.select(df.columns.map(c => col(c).as(s"${np.variable}_$c")): _*)
    }

    def hopPairs(ep: EdgePat): DataFrame = {
      val oriented = ep.direction match {
        case 1 => edges.select(col("src").as("f"), col("dst").as("t"), col("etype"))
        case -1 => edges.select(col("dst").as("f"), col("src").as("t"), col("etype"))
        case 0 => TpchGraph.undirected(edges).select(col("src").as("f"), col("dst").as("t"), col("etype"))
      }
      val base = ep.etype.fold(oriented)(t => oriented.filter(col("etype") === t)).select("f", "t")
      var hop = base
      var acc: DataFrame = if (ep.minHops <= 1) base else null
      for (h <- 2 to ep.maxHops) {
        hop = hop.select(col("f"), col("t").as("mid"))
          .join(base.select(col("f").as("mid"), col("t")), Seq("mid"))
          .select("f", "t").distinct().transform(cut)
        if (h >= ep.minHops) acc = if (acc == null) hop else acc.union(hop)
      }
      acc.distinct()
    }

    def ref(name: String): Column = col(name.replace('.', '_'))

    def chain(ns: Seq[NodePat], es: Seq[EdgePat], start: DataFrame): DataFrame = {
      var df = start
      for (i <- es.indices) {
        val srcVar = ns(i).variable
        val dstVar = ns(i + 1).variable
        df = df.join(hopPairs(es(i)), col(s"${srcVar}_key") === col("f"))
          .join(nodeDf(ns(i + 1)), col("t") === col(s"${dstVar}_key"))
          .drop("f", "t")
      }
      df
    }

    var df = chain(m.nodes, m.edges, nodeDf(m.nodes.head))
    // Additional comma-separated pattern chains: each chain compiles
    // independently, then joins the accumulated binding frame on the
    // keys of every shared variable (Cypher semantics: same variable =
    // same node; disjoint chains = cartesian product). Shared-variable
    // node filters are already applied inside the chain, so the right
    // side keeps only its join keys + newly-bound columns.
    var bound = m.nodes.map(_.variable).toSet
    val nodeCols = nodes.columns
    for ((ns, es) <- m.morePatterns) {
      val sub = chain(ns, es, nodeDf(ns.head))
      val shared = ns.map(_.variable).distinct.filter(bound.contains)
      if (shared.isEmpty) df = df.crossJoin(sub)
      else {
        var right = sub
        for (v <- shared) {
          right = right.withColumnRenamed(s"${v}_key", s"__j_${v}_key")
          nodeCols.filter(_ != "key").foreach(c => right = right.drop(s"${v}_$c"))
        }
        val on = shared.map(v => col(s"${v}_key") === col(s"__j_${v}_key")).reduce(_ && _)
        df = df.join(right, on).drop(shared.map(v => s"__j_${v}_key"): _*)
      }
      bound ++= ns.map(_.variable)
    }
    // Cypher WHERE scoping: predicates on variables bound by OPTIONAL
    // MATCH filter the extension BEFORE the left-outer join (anchor rows
    // survive with nulls); predicates on base variables filter after.
    val optVars = m.optNodes.drop(1).map(_.variable).toSet
    val (optWhere, baseWhere) =
      m.where.partition(c => optVars.contains(c.column.takeWhile(_ != '.')))
    if (m.optEdges.nonEmpty) {
      // build the extension chain anchored on the bound variable, keep
      // only its key + the newly-bound columns (exact set difference —
      // a prefix test would eat optional variables named like the
      // anchor), and left-outer join.
      val anchor = m.optNodes.head.variable
      val anchorCols = nodeDf(m.optNodes.head).columns.toSet
      val extAll = chain(m.optNodes, m.optEdges, nodeDf(m.optNodes.head))
      val ext = optWhere.foldLeft(extAll)((acc, c) =>
        acc.filter(condOn(ref(c.column), c)))
      val newCols = ext.columns.filterNot(anchorCols.contains)
      val extSlim = ext.select(
        (col(s"${anchor}_key").as("__opt_anchor") +: newCols.map(col)): _*)
      df = df.join(extSlim, col(s"${anchor}_key") === col("__opt_anchor"), "left_outer")
        .drop("__opt_anchor")
    }
    baseWhere.foldLeft(df)((acc, c) => acc.filter(condOn(ref(c.column), c)))
  }

  private def condOn(l: Column, c: Cond): Column = c.op match {
    case "=" => l === lit(c.value)
    case "!=" => l =!= lit(c.value)
    case "<" => l < lit(c.value)
    case "<=" => l <= lit(c.value)
    case ">" => l > lit(c.value)
    case ">=" => l >= lit(c.value)
    // reference vector metadata-filter forms (vector_engine/src/lib.rs:
    // 297-324): In / Contains / StartsWith / Exists
    case "in" => l.isin(c.value.asInstanceOf[Seq[Any]]: _*)
    case "contains" => l.contains(lit(c.value))
    case "startswith" => l.startsWith(c.value.toString)
    case "exists" => l.isNotNull
  }

  private def cond(c: Cond): Column = condOn(col(c.column), c)
}

object NqlCompiler {
  /** A built IVF index: `assigned(key, embedding, cell)` +
    * `centroids(cell, centroid)`. At cluster scale `cell` is a partition
    * column and probing prunes partitions (SURVEY §1.4). */
  final case class IvfState(assigned: DataFrame, centroids: DataFrame)

  /** Session-scoped registries, keyed by (session, data dir): the built
    * ANN index (EMBED BUILD INDEX → SIMILAR ... USING INDEX) and the
    * per-collection vector config (name → dimension, metric). The
    * reference keeps both in engine state (`vector_engine/src/lib.rs:
    * 455, 1369-1585`); here they are driver-side metadata only — the
    * data they describe lives in DataFrames/parquet. */
  private[nql] val ivfIndexes =
    graft.Memo.state[(SparkSession, String), IvfState]()
  private[nql] val collections =
    graft.Memo.state[(SparkSession, String, String), (Int, Metric)]()
  /** Registered graph constraints (CONSTRAINT CREATE … → CHECK), keyed
    * by (session, data dir, constraint name) like [[collections]]. */
  private[nql] val constraintDefs =
    graft.Memo.state[(SparkSession, String, String), ConstraintCreate]()

  /** Tombstone batch size for MATCH ... DELETE streaming. */
  private[nql] val DeleteBatchSize = 10000
}

/** Front door: `Nql.execute(spark, sfDir, "SIMILAR 'vec:0' LIMIT 5")`. */
object Nql {
  def parse(query: String): Statement = NqlParser.parse(query)
  def execute(spark: SparkSession, sfDir: String, query: String): DataFrame =
    new NqlCompiler(spark, sfDir).compile(parse(query))
  def execute(spark: SparkSession, sfDir: String, store: graft.unified.EntityStore, query: String): DataFrame =
    new NqlCompiler(spark, sfDir, Some(store)).compile(parse(query))
}
