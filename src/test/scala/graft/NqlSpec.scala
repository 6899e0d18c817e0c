package graft

import graft.nql._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parses and executes every NQL statement kind end-to-end on sf0.001,
  * cross-checking results against the equivalent direct DataFrame plans.
  */
class NqlSpec extends AnyFunSuite {
  import TestSpark._

  private def run(q: String) = Nql.execute(spark, sf, q)

  test("SQL passthrough reaches Catalyst with registered views") {
    val df = run("SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1")
    assert(df.count() == 3)
  }

  test("SIMILAR matches the direct vector plan") {
    val got = run("SIMILAR 'vec:0' LIMIT 10").collect().map(r => (r.getString(0), r.getDouble(1)))
    val want = SparkEntry.queries("v01_similar_topk_cosine")(spark, sf)
      .collect().map(r => ("vec:" + r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("SIMILAR VECTOR searches by literal query vector") {
    // a literal equal to vec:0's embedding ranks vec:0 itself first
    val v0 = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") === 0).collect()(0)
      .getAs[scala.collection.Seq[Float]]("embedding")
    val lit = v0.map(x => f"$x%.6f").mkString("(", ", ", ")")
    val got = run(s"SIMILAR VECTOR $lit LIMIT 3").collect()
    assert(got.head.getString(0) == "vec:0" && got.head.getDouble(1) >= 0.9999)
    assert(run(s"SIMILAR VECTOR $lit METRIC EUCLIDEAN WHERE label = 3 LIMIT 5").count() == 5)
  }

  test("SIMILAR metrics + WHERE filter parse and run") {
    assert(run("SIMILAR 'vec:0' METRIC EUCLIDEAN LIMIT 5").count() == 5)
    assert(run("SIMILAR 'vec:0' METRIC DOT LIMIT 5").count() == 5)
    val filtered = run("SIMILAR 'vec:0' WHERE label = 3 LIMIT 5")
    assert(filtered.count() == 5)
  }

  test("SIMILAR CONNECTED TO applies the 2x-oversample intersection") {
    val got = run("SIMILAR 'vec:0' CONNECTED TO 'vec:1' LIMIT 10")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val want = SparkEntry.queries("u02_similar_connected_to")(spark, sf)
      .collect().map(r => ("vec:" + r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("NEIGHBORS graph and BY SIMILARITY variants") {
    val nb = run("NEIGHBORS 'nation:0'")
    assert(nb.filter(col("neighbor") === "region:0").count() == 1)
    val typed = run("NEIGHBORS 'nation:0' TYPE 'same_region'")
    assert(typed.count() == 4) // 5-nation clique
    assert(run("NEIGHBORS 'vec:1' BY SIMILARITY TO 'vec:2' LIMIT 5").count() == 5)
  }

  test("PATH SHORTEST and PATH WEIGHTED") {
    val p = run("PATH SHORTEST 'customer:0' TO 'region:0' MAX 4").collect()
    assert(p.length <= 1)
    val pw = run("PATH WEIGHTED 'customer:0' TO 'region:0' MAX 4").collect()
    assert(pw.length == p.length)
  }

  test("NODE / EDGE / DEGREE / GRAPH algorithms") {
    assert(run("NODE GET 'nation:0'").count() == 1)
    assert(run("NODE LIST LABEL 'region' LIMIT 10").count() == 5)
    assert(run("EDGE LIST TYPE 'in_region' LIMIT 100").count() == 25)
    val deg = run("DEGREE 'region:0'").collect()(0)
    assert(deg.getLong(1) >= 5)
    assert(run("GRAPH COMPONENTS").count() == 5)
    assert(run("GRAPH PAGERANK ITERATIONS 5").count() > 0)
    // whole-graph default (reference TriangleConfig): the 25 nations in
    // their same_region 5-cliques PLUS the 5 region hubs (each closes
    // region–nation–nation triangles via in_region + same_region)
    assert(run("GRAPH TRIANGLES").count() == 30)
    // EDGE TYPE filter restricts to one etype's subgraph
    assert(run("GRAPH TRIANGLES EDGE TYPE 'same_region'").count() == 25)
    assert(run("GRAPH TRIANGLES EDGE TYPE 'in_region'").count() == 0)
    // 5 region wheels (15 edges each) + every leaf edge its own bridge
    assert(run("GRAPH BICONNECTED").filter(col("n_edges") === 15).count() == 5)
    // articulation points are exactly the leaf-owning nations
    val arts = run("GRAPH ARTICULATION")
    assert(arts.count() == 25 &&
      arts.collect().forall(_.getString(0).startsWith("nation:")))
    // HITS: leaves point at hubs, so top authority is a nation and every
    // score is in [0, 1] with at least one exact 1.0 per column
    val hits = run("GRAPH HITS ITERATIONS 4").collect()
    assert(hits.head.getString(0).startsWith("nation:"))
    assert(hits.forall(r => r.getDouble(1) <= 1.0 && r.getDouble(2) <= 1.0))
    assert(hits.exists(_.getDouble(2) == 1.0))
    // clustering: region wheel hubs see fully-connected 5-cliques below
    val cc = run("GRAPH CLUSTERING").collect()
    assert(cc.nonEmpty && cc.forall(r => r.getDouble(3) <= 1.0))
    assert(cc.filter(_.getString(0).startsWith("region:")).forall(_.getDouble(3) == 1.0))
    // hub-leaf topology is disassortative
    val r = run("GRAPH ASSORTATIVITY").collect()(0)
    assert(r.getDouble(1) < 0)
  }

  test("EMBED GET / ENTITY GET / FIND ROWS") {
    assert(run("EMBED GET 'vec:42'").count() == 1)
    assert(run("ENTITY GET 'vec:42'").count() == 1)
    val f = run("FIND ROWS orders WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 1000.0 LIMIT 20")
    assert(f.count() == 20)
  }

  test("FIND NODES / EDGES / PATH statement forms round-trip") {
    // nodes: label filter (bare ident and quoted), WHERE, RETURN, LIMIT
    val regions = run("FIND NODES region")
    assert(regions.count() == 5 && regions.columns.toSeq == Seq("key", "label", "name"))
    assert(run("FIND NODES 'region' RETURN key LIMIT 3").columns.toSeq == Seq("key"))
    assert(run("FIND VERTEX region").count() == 5) // reference VERTEX alias
    assert(run("FIND NODES LIMIT 10").count() == 10)
    val w = run("FIND NODES nation WHERE name = 'NATION_3' RETURN key, name").collect()
    assert(w.length == 1 && w(0).getString(0) == "nation:3")
    // edges: type filter, WHERE, RETURN
    assert(run("FIND EDGES in_region").count() == 25)
    val e = run("FIND EDGES 'in_region' WHERE dst = 'region:0' RETURN src")
    assert(e.count() == 5 && e.columns.toSeq == Seq("src"))
    // rows: reference FROM form + RETURN projection
    val f = run("FIND ROWS FROM orders WHERE o_orderpriority = '1-URGENT' RETURN o_orderkey LIMIT 5")
    assert(f.count() == 5 && f.columns.toSeq == Seq("o_orderkey"))
    // path FROM+TO: the unique customer → nation → region chain
    val p = run("FIND PATH FROM 'customer:7' TO 'region:2'").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(p == Seq((0, "customer:7"), (1, "nation:17"), (2, "region:2")))
    // from == to → single hop-0 row; VIA can make the target unreachable
    assert(run("FIND PATH FROM 'nation:0' TO 'nation:0'").count() == 1)
    assert(run("FIND PATH FROM 'customer:7' VIA 'same_region' TO 'region:2'").count() == 0)
    // FROM only = outgoing connections; TO only = incoming
    val out = run("FIND PATH FROM 'nation:17'")
    assert(out.filter(col("etype") === "in_region").count() == 1)
    assert(run("FIND PATH TO 'region:2' LIMIT 3").count() == 3)
    // FROM or TO is required (reference: "Path query requires 'from' or 'to'")
    assertThrows[NqlParseException](run("FIND PATH LIMIT 3"))
    // LIMIT on FROM+TO bounds the search depth: the customer→region chain
    // is 2 hops, so LIMIT 2 finds it and LIMIT 1 reports unreachable
    assert(run("FIND PATH FROM 'customer:7' TO 'region:2' LIMIT 2").count() == 3)
    assert(run("FIND PATH FROM 'customer:7' TO 'region:2' LIMIT 1").count() == 0)
  }

  test("FIND NODES property predicates resolve through the store props map") {
    // without a store, a non-schema WHERE column is a typed domain error
    val ex = intercept[NqlExecException](run("FIND NODES person WHERE age > 30"))
    assert(ex.getMessage.contains("age") && ex.getMessage.contains("key, label, name"))
    assert(intercept[NqlExecException](run("FIND EDGES WHERE weight > 1"))
      .getMessage.contains("src, dst, etype"))
    // with a store, property predicates filter via the props map
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-findprop-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("BATCH CREATE NODES [{labels: [person], name: 'ann', age: 25}, " +
      "{labels: [person], name: 'ben', age: 41}, {labels: [person], name: 'cal', age: 33}]")
    val older = runS("FIND NODES person WHERE age > 30").collect()
    assert(older.map(_.getString(0)).toSeq == Seq("ben", "cal"))
    // default output schema stays key/label/name (prop columns filter-only)
    assert(runS("FIND NODES person WHERE age > 30").columns.toSeq == Seq("key", "label", "name"))
    // RETURN projects schema columns; combined schema+prop WHERE works
    assert(runS("FIND NODES person WHERE age > 30 AND name = 'ben' RETURN key")
      .collect().map(_.getString(0)).toSeq == Seq("ben"))
    // nodes WITHOUT the property (base graph rows) never match (3VL)
    assert(runS("FIND NODES region WHERE age > 30").count() == 0)
  }

  test("PAGERANK DAMPING/TOLERANCE, LOUVAIN RESOLUTION, BETWEENNESS SAMPLE reach the engines") {
    def scores(q: String) = run(q).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    // damping changes the stationary scores
    val base = scores("GRAPH PAGERANK ITERATIONS 5")
    val damped = scores("GRAPH PAGERANK ITERATIONS 5 DAMPING 0.5")
    assert(base.toMap.apply("region:0") != damped.toMap.apply("region:0"))
    // a huge tolerance converges after round 1 → identical to ITERATIONS 1
    assert(scores("GRAPH PAGERANK ITERATIONS 8 TOLERANCE 1000.0")
      == scores("GRAPH PAGERANK ITERATIONS 1"))
    // graphx engine rejects the new knobs loudly
    assertThrows[NqlParseException](run("GRAPH PAGERANK DAMPING 0.5 ENGINE 'graphx'"))

    // LOUVAIN RESOLUTION γ flips the argmax on a weighted fixture: x has
    // 2 edges into high-degree a (evc 2, tot 12) and 1 into low-degree b
    // (evc 1, tot 1); crossover at γ = 26/33 ≈ 0.79 — γ=0.5 picks a,
    // γ=2 picks b.
    import spark.implicits._
    val hub = (1 to 10).map(i => ("a", s"h$i"))
    val dir = Seq(("x", "a"), ("x", "a"), ("x", "b")) ++ hub
    val und = dir.toDF("src", "dst")
      .union(dir.map(_.swap).toDF("src", "dst"))
    val nodes = (Seq("x", "a", "b") ++ (1 to 10).map(i => s"h$i")).toDF("key")
    def commOfX(res: Double) =
      graft.graph.Algorithms.louvainSweeps(und, nodes, 1, res)
        .filter(col("key") === "x").collect()(0).getString(1)
    assert(commOfX(0.5) == "a" && commOfX(2.0) == "b")
    // statement front parses and executes
    assert(run("GRAPH LOUVAIN SWEEPS 1 RESOLUTION 2.0").count() >= 0)

    // BETWEENNESS SAMPLE: different deterministic source sets → different
    // scores; SAMPLE 100 covers every node (scale 1)
    val s100 = scores("GRAPH BETWEENNESS SAMPLE 100")
    val s10 = scores("GRAPH BETWEENNESS SAMPLE 10")
    assert(s100.nonEmpty && s10.nonEmpty && s100 != s10)
  }

  test("SHOW/COUNT EMBEDDINGS, SHOW VECTOR INDEX, EMBED DELETE") {
    val nEmb = Tables(spark, sf, "embeddings").count()
    assert(run("SHOW EMBEDDINGS").count() == nEmb)
    assert(run("SHOW EMBEDDINGS LIMIT 5").count() == 5)
    assert(run("COUNT EMBEDDINGS").collect()(0).getLong(0) == nEmb)
    // bundled driver data is read-only
    assertThrows[NqlExecException](
      Nql.execute(spark, sf,
        new graft.unified.EntityStore(spark,
          java.nio.file.Files.createTempDirectory("nql-emb-ro").toString),
        "EMBED DELETE 'vec:0'"))

    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-embdel-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    // a node that later gains a vector: EMBED DELETE removes ONLY the
    // vector (props-preserving, like EMBED STORE's merge)
    runS("NODE CREATE 'p:1' LABEL 'place' NAME 'Point One'")
    runS("EMBED STORE 'p:1' (0.5, 0.5)")
    assert(runS("COUNT EMBEDDINGS").collect()(0).getLong(0) == nEmb + 1)
    runS("EMBED DELETE 'p:1'")
    assert(runS("COUNT EMBEDDINGS").collect()(0).getLong(0) == nEmb)
    assert(runS("NODE GET 'p:1'").count() == 1) // node survives
    // a props-less vector key tombstones entirely
    runS("EMBED STORE 'v:1' (1.0, 0.0)")
    runS("EMBED DELETE 'v:1'")
    assert(runS("ENTITY GET 'v:1'").count() == 0)
    // deleting a missing embedding fails loudly as a runtime error
    assertThrows[NqlExecException](runS("EMBED DELETE 'absent'"))

    // SHOW VECTOR INDEX: status row when absent, cell census after a
    // build. The index registry is session-scoped and another spec (or
    // the v11 gate) may have built one — DROP first so the no-index
    // branch is deterministic in any suite order.
    run("EMBED DROP INDEX")
    val none = run("SHOW VECTOR INDEX").collect()(0)
    assert(none.getString(1) == "no_index_built")
    run("EMBED BUILD INDEX IVF")
    val cells = run("SHOW VECTOR INDEX").collect()
    assert(cells.length > 1 && cells.map(_.getLong(1)).sum == nEmb)
    run("EMBED DROP INDEX")
  }

  test("NEIGHBORS direction variants (reference OUTGOING/INCOMING/BOTH)") {
    val out = run("NEIGHBORS 'nation:0' OUTGOING").collect().map(_.getString(0))
    // out-edges of nation:0: its region + the 4 higher-keyed clique peers
    assert(out.length == 5 && out.contains("region:0"))
    val in = run("NEIGHBORS 'nation:0' INCOMING").collect().map(_.getString(0))
    // in-edges: that nation's customers/suppliers only
    assert(in.nonEmpty && in.forall(k =>
      k.startsWith("customer:") || k.startsWith("supplier:")))
    val both = run("NEIGHBORS 'nation:0' BOTH").count()
    assert(both == out.length + in.length)
    // BOTH is the default (round-1 compatibility)
    assert(run("NEIGHBORS 'nation:0'").count() == both)
  }

  test("DESCRIBE NODE / DESCRIBE EDGE property census") {
    val d = run("DESCRIBE NODE region").collect()
    assert(d.map(_.getString(0)).toSeq == Seq("key", "label", "name"))
    assert(d.forall(_.getLong(1) == 5))
    val e = run("DESCRIBE EDGE in_region").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(e == Seq(("dst", 25L), ("etype", 25L), ("src", 25L)))
    // DESCRIBE <table> still reaches Catalyst untouched
    assert(run("DESCRIBE lineitem").count() > 0)
  }

  test("CONSTRAINT CREATE/LIST/GET/CHECK/DROP validate-on-scan") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-constraint-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("NODE CREATE 'a1' LABEL 'proj' NAME 'dup'")
    runS("NODE CREATE 'a2' LABEL 'proj' NAME 'dup'")
    runS("NODE CREATE 'a3' LABEL 'proj' NAME 'solo'")
    runS("ENTITY CREATE 'e1' SET age = 'abc', label = 'person'")
    runS("ENTITY CREATE 'e2' SET age = '31', label = 'person'")

    // UNIQUE: the two 'dup'-named proj nodes violate, 'solo' doesn't
    runS("CONSTRAINT CREATE uniq_name ON NODE proj PROPERTY name UNIQUE")
    val uv = runS("CONSTRAINT CHECK uniq_name").collect()
    assert(uv.map(_.getString(0)).toSeq == Seq("a1", "a2"))
    // EXISTS on a store prop: proj nodes carry no 'team'
    runS("CONSTRAINT CREATE team_req ON NODE proj PROPERTY team EXISTS")
    assert(runS("CONSTRAINT CHECK team_req").count() == 3)
    // TYPE: 'abc' fails try_cast to int, '31' passes
    runS("CONSTRAINT CREATE age_int ON NODE person PROPERTY age TYPE int")
    val tv = runS("CONSTRAINT CHECK age_int").collect()
    assert(tv.map(_.getString(0)).toSeq == Seq("e1"))
    // edge constraint: every edge has an etype → holds
    runS("CONSTRAINT CREATE et_req ON EDGE PROPERTY etype EXISTS")
    assert(runS("CONSTRAINT CHECK et_req").count() == 0)

    assert(runS("CONSTRAINT LIST").count() == 4)
    assert(runS("CONSTRAINT GET uniq_name").collect()(0).getString(4) == "unique")
    runS("CONSTRAINT DROP uniq_name")
    assertThrows[NqlExecException](runS("CONSTRAINT CHECK uniq_name"))
    assertThrows[NqlExecException](runS("CONSTRAINT DROP uniq_name"))
    // unknown TYPE target rejected at CREATE
    assertThrows[NqlParseException](
      runS("CONSTRAINT CREATE bad ON NODE PROPERTY x TYPE blob"))
    Seq("team_req", "age_int", "et_req").foreach(n => runS(s"CONSTRAINT DROP $n"))
  }

  test("centrality statements take direction and EDGE TYPE") {
    // walking only customer/supplier→nation edges concentrates rank on
    // nations; the INCOMING (reversed) walk pushes it back to the leaves
    val fwd = run("GRAPH PAGERANK ITERATIONS 3 EDGE TYPE 'in_nation'").collect()
    assert(fwd.head.getString(0).startsWith("nation:"))
    val rev = run("GRAPH PAGERANK ITERATIONS 3 EDGE TYPE 'in_nation' INCOMING").collect()
    assert(!rev.head.getString(0).startsWith("nation:"))
    // CLOSENESS/BETWEENNESS parameterized forms execute (CENTRALITY
    // keyword accepted, per the reference grammar)
    assert(run("GRAPH CLOSENESS CENTRALITY EDGE TYPE 'in_nation'").count() > 0)
    assert(run("GRAPH BETWEENNESS CENTRALITY EDGE TYPE 'same_region' BOTH").count() > 0)
  }

  test("Cypher MATCH chain, property map, var-length, reverse arrow") {
    val chain = run("MATCH (n:nation)-[:in_region]->(r:region {name: 'ASIA'}) RETURN n.name ORDER BY n.name")
    assert(chain.count() == 5)
    val vl = run("MATCH (a:nation {name: 'NATION_3'})-[:same_region*1..2]-(b:nation) RETURN b.name ORDER BY b.name")
    assert(vl.count() == 5) // full region incl. start (2-hop returns)
    val rev = run("MATCH (r:region {name: 'EUROPE'})<-[:in_region]-(n:nation) RETURN n.key ORDER BY n.key")
    assert(rev.count() == 5)
    val lim = run("MATCH (c:customer)-[:in_nation]->(n:nation) RETURN c.key, n.name ORDER BY c.key LIMIT 7")
    assert(lim.count() == 7)
  }

  test("entity write statements round-trip through a store") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("ENTITY CREATE 'user:a' SET team = 'ml' EMBEDDING (1.0, 0.0)")
    runS("ENTITY CREATE 'user:b' EMBEDDING (0.9, 0.1)")
    runS("ENTITY CONNECT 'user:a' TO 'user:b' TYPE 'knows'")
    assert(runS("ENTITY GET 'user:a'").count() == 1)
    assert(runS("NEIGHBORS 'user:a'").collect().map(_.getString(0)).toSeq == Seq("user:b"))
    assert(runS("SIMILAR 'user:b' LIMIT 1").collect()(0).getString(0) == "user:a")
    runS("ENTITY DELETE 'user:b'")
    assert(runS("ENTITY GET 'user:b'").count() == 0)
    // vec:* keys still route to the bundled embeddings with a store present
    assert(runS("SIMILAR 'vec:0' LIMIT 3").count() == 3)
    // writes without a store fail with a clear message
    assertThrows[NqlParseException](run("ENTITY CREATE 'x' SET a = 'b'"))
  }

  test("EMBED BATCH and ENTITY BATCH CREATE land whole batches atomically") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-batch-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("EMBED COLLECTION CREATE 'docs' DIMENSION 2")
    val r = runS("EMBED BATCH 'b:1' (1.0, 0.0), 'b:2' (0.0, 1.0), 'b:3' (0.7, 0.7) IN 'docs'")
    assert(r.collect()(0).getLong(0) == 3)
    assert(runS("EMBED LIST IN 'docs'").count() == 3)
    // a dimension mismatch anywhere rejects the WHOLE batch before any write
    assertThrows[NqlParseException](
      runS("EMBED BATCH 'b:4' (1.0, 0.0), 'b:5' (1.0, 0.0, 0.0) IN 'docs'"))
    assert(runS("EMBED LIST IN 'docs'").count() == 3)
    val e = runS("ENTITY BATCH CREATE 'u:1' SET team = 'ml' AND 'u:2' AND 'u:3' SET team = 'infra', site = 'sfo'")
    assert(e.collect()(0).getLong(0) == 3)
    assert(runS("ENTITY GET 'u:3'").collect()(0)
      .getAs[Map[String, String]]("props")("site") == "sfo")
    // batch writes without a store fail loudly like the single forms
    assertThrows[NqlParseException](run("ENTITY BATCH CREATE 'x'"))
    // graph batch DML overlays the derived property graph in one append
    val n = runS("NODE BATCH CREATE 'city:1' LABEL 'city' NAME 'sf' AND 'city:2' LABEL 'city'")
    assert(n.collect()(0).getLong(0) == 2)
    val ed = runS("EDGE BATCH CREATE 'city:1' TO 'city:2' TYPE 'road' AND 'city:2' TO 'city:1' TYPE 'rail'")
    assert(ed.collect()(0).getLong(0) == 2)
    assert(runS("NODE LIST LABEL 'city'").count() == 2)
    assert(runS("NEIGHBORS 'city:1' TYPE 'road'").collect().map(_.getString(0)).toSeq == Seq("city:2"))
  }

  test("reference AGGREGATE NODE|EDGE PROPERTY spelling aliases GRAPH AGGREGATE") {
    // both spellings build the SAME AST — alias at the parser, one engine
    assert(NqlParser.parse("AGGREGATE NODE PROPERTY acctbal MIN BY LABEL customer") ==
      NqlParser.parse("GRAPH AGGREGATE MIN 'acctbal' NODES LABEL 'customer'"))
    assert(NqlParser.parse("AGGREGATE EDGE PROPERTY weight SUM BY TYPE in_nation") ==
      NqlParser.parse("GRAPH AGGREGATE SUM 'weight' EDGES TYPE 'in_nation'"))
    assert(NqlParser.parse("AGGREGATE EDGE PROPERTY weight COUNT WHERE value >= 1.5") ==
      NqlParser.parse("GRAPH AGGREGATE COUNT 'weight' EDGES WHERE value >= 1.5"))
    // quoted property names accepted too (our round-1 convention)
    assert(NqlParser.parse("AGGREGATE NODE PROPERTY 'acctbal' AVG") ==
      NqlParser.parse("GRAPH AGGREGATE AVG 'acctbal' NODES"))
    // and the aliased statement executes through the same gate plan
    val minBal = Tables(spark, sf, "customer")
      .agg(org.apache.spark.sql.functions.min("c_acctbal")).collect()(0).getDouble(0)
    val viaAlias = run("AGGREGATE NODE PROPERTY age MIN BY LABEL customer".replace("age", "acctbal")).collect()(0)
    assert(viaAlias.getString(0) == "min" && math.abs(viaAlias.getDouble(2) - minBal) < 1e-9)
    // malformed forms fail with typed errors, reference-shaped messages
    assert(intercept[NqlParseException](NqlParser.parse("AGGREGATE NODE PROPERTY x MEDIAN"))
      .getMessage.contains("SUM/AVG/MIN/MAX/COUNT"))
    assert(intercept[NqlParseException](NqlParser.parse("AGGREGATE TABLE PROPERTY x SUM"))
      .getMessage.contains("NODE or EDGE"))
  }

  test("reference BATCH CREATE/DELETE/UPDATE spellings alias the batch engines") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-refbatch-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    // BATCH CREATE NODES with labels + props (reference test shape,
    // query_router/src/lib.rs BATCH CREATE NODES cases)
    val n = runS("BATCH CREATE NODES [{labels: [person, employee], name: 'Alice', age: 30}, " +
      "{labels: [person], key: 'p:bob', name: 'Bob'}]")
    assert(n.collect()(0).getLong(0) == 2)
    val alice = runS("NODE GET 'Alice'").collect()(0)
    assert(alice.getAs[String]("label") == "person")
    assert(runS("ENTITY GET 'Alice'").collect()(0)
      .getAs[Map[String, String]]("props")("age") == "30")
    // BATCH CREATE EDGES from/to/type maps — numeric reference ids stringify
    val e = runS("BATCH CREATE EDGES [{from: 'Alice', to: 'p:bob', type: knows}]")
    assert(e.collect()(0).getLong(0) == 1)
    assert(runS("NEIGHBORS 'Alice' TYPE 'knows'").collect().map(_.getString(0)).toSeq == Seq("p:bob"))
    // BATCH UPDATE NODES merges props per id
    runS("BATCH UPDATE NODES [{id: 'p:bob', age: 31, team: 'ml'}]")
    val bob = runS("ENTITY GET 'p:bob'").collect()(0).getAs[Map[String, String]]("props")
    assert(bob("age") == "31" && bob("team") == "ml" && bob("name") == "Bob")
    assertThrows[NqlExecException](runS("BATCH UPDATE NODES [{id: 'absent', a: 1}]"))
    // BATCH DELETE NODES tombstones the whole list in one append
    val d = runS("BATCH DELETE NODES ['Alice', 'p:bob']")
    assert(d.collect()(0).getLong(0) == 2)
    assert(runS("NODE GET 'Alice'").count() == 0)
    // adaptations fail loudly, not silently: no auto-ids, no edge props,
    // no edge-id deletes
    assert(intercept[NqlParseException](NqlParser.parse("BATCH CREATE NODES [{labels: [x]}]"))
      .getMessage.contains("key"))
    assert(intercept[NqlParseException](
      NqlParser.parse("BATCH CREATE EDGES [{from: 1, to: 2, type: knows, weight: 0.5}]"))
      .getMessage.contains("weight"))
    assert(intercept[NqlParseException](NqlParser.parse("BATCH DELETE EDGES [1, 2]"))
      .getMessage.contains("EDGE DELETE"))
    // empty list parses (reference: BATCH CREATE NODES []) and creates nothing
    assert(NqlParser.parse("BATCH CREATE NODES []") == NodeBatchCreate(Seq.empty))
    // reference NODE LIST pagination: bare label + LIMIT/OFFSET pages are
    // disjoint and ordered (deterministic key order under the hood)
    runS("BATCH CREATE NODES [{labels: [town], key: 't:1'}, {labels: [town], key: 't:2'}, " +
      "{labels: [town], key: 't:3'}]")
    val page1 = runS("NODE LIST town LIMIT 2").collect().map(_.getString(0)).toSeq
    val page2 = runS("NODE LIST town LIMIT 2 OFFSET 2").collect().map(_.getString(0)).toSeq
    assert(page1 == Seq("t:1", "t:2") && page2 == Seq("t:3"))
    // reference NODE CREATE label-brace spelling lands props in the store
    runS("NODE CREATE town {key: 't:4', mayor: 'ann'}")
    assert(runS("ENTITY GET 't:4'").collect()(0)
      .getAs[Map[String, String]]("props")("mayor") == "ann")
    assert(runS("NODE LIST town LIMIT 10").count() == 4)
  }

  test("ENTITY UPDATE merges props and preserves the embedding") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-update-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("ENTITY CREATE 'user:u' SET team = 'ml', site = 'sfo' EMBEDDING (0.6, 0.8)")
    runS("ENTITY UPDATE 'user:u' SET site = 'nyc', role = 'lead'")
    val row = runS("ENTITY GET 'user:u'").collect()(0)
    val props = row.getAs[Map[String, String]]("props")
    assert(props("team") == "ml")      // unnamed prop preserved
    assert(props("site") == "nyc")     // named prop overwritten
    assert(props("role") == "lead")    // new prop added
    val emb = row.getAs[scala.collection.Seq[Float]]("embedding")
    assert(emb == Seq(0.6f, 0.8f))     // embedding untouched
    // reference brace-props spelling merges the same way, and EMBEDDING
    // replaces the stored vector (parser.rs EntityUpdate tests)
    runS("ENTITY UPDATE 'user:u' {site: 'par'} EMBEDDING (1.0, 0.0)")
    val row2 = runS("ENTITY GET 'user:u'").collect()(0)
    assert(row2.getAs[Map[String, String]]("props")("site") == "par")
    assert(row2.getAs[Map[String, String]]("props")("team") == "ml")
    assert(row2.getAs[scala.collection.Seq[Float]]("embedding") == Seq(1.0f, 0.0f))
    // an update is not an upsert: missing key fails loudly — and as a
    // RUNTIME error (the statement is well-formed), not a parse error
    assertThrows[NqlExecException](runS("ENTITY UPDATE 'user:absent' SET a = 'b'"))
    // duplicate keys inside one batch resolve deterministically last-wins
    runS("EMBED BATCH 'user:dup' (1.0, 0.0), 'user:dup' (0.0, 1.0)")
    val dup = runS("EMBED GET 'user:dup'").collect()(0)
    assert(dup.getAs[scala.collection.Seq[Float]]("embedding") == Seq(0.0f, 1.0f))
  }

  test("EMBED LIST surfaces keys, dimensions, and store overlays") {
    val nEmb = Tables(spark, sf, "embeddings").count()
    val all = run("EMBED LIST")
    assert(all.count() == nEmb)
    assert(all.columns.toSeq == Seq("key", "dimension", "collection"))
    assert(run("EMBED LIST LIMIT 5").count() == 5)
    // store-written vectors appear alongside the bundled table
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-embedlist-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("EMBED COLLECTION CREATE 'docs' DIMENSION 2")
    runS("EMBED STORE 'doc:1' (0.1, 0.2) IN 'docs'")
    assert(runS("EMBED LIST IN 'docs'").collect().map(_.getString(0)).toSeq == Seq("doc:1"))
    assert(runS("EMBED LIST").count() == nEmb + 1)
  }

  test("centrality/community statement fronts match their gate engines") {
    // eigenvector: statement equals the g16 gate (same engine + shaping)
    val ev = run("GRAPH EIGENVECTOR").collect().map(_.toSeq)
    val evGate = SparkEntry.queries("g16_eigenvector_centrality")(spark, sf).collect().map(_.toSeq)
    assert(ev.toSeq == evGate.toSeq)
    // closeness: statement equals the g18 gate (nation/region tree form)
    val cl = run("GRAPH CLOSENESS").collect().map(_.toSeq)
    val clGate = SparkEntry.queries("g18_closeness_centrality")(spark, sf).collect().map(_.toSeq)
    assert(cl.toSeq == clGate.toSeq)
    // labelprop: statement equals the g15 gate histogram
    val lp = run("GRAPH LABELPROP ITERATIONS 3").collect().map(_.toSeq)
    val lpGate = SparkEntry.queries("g15_label_propagation")(spark, sf).collect().map(_.toSeq)
    assert(lp.toSeq == lpGate.toSeq)
    // louvain: statement equals the g21 gate census
    val lv = run("GRAPH LOUVAIN").collect().map(_.toSeq)
    val lvGate = SparkEntry.queries("g21_louvain_communities")(spark, sf).collect().map(_.toSeq)
    assert(lv.toSeq == lvGate.toSeq)
    // betweenness: hub layer ranks regions/nations above leaves and is
    // non-trivially ordered
    val bw = run("GRAPH BETWEENNESS").collect()
    assert(bw.nonEmpty && bw.head.getDouble(1) > 0)
    assert(bw.head.getString(0).startsWith("region:") || bw.head.getString(0).startsWith("nation:"))
  }

  test("DEDUP AGAINST matches the d13 gate and re-parameterizes") {
    val got = run("DEDUP AGAINST 'src0'").collect().map(_.toSeq)
    val gate = SparkEntry.queries("d13_incremental_dedup")(spark, sf).collect().map(_.toSeq)
    assert(got.toSeq == gate.toSeq)
    // a different corpus source excludes itself from the incoming census
    val alt = run("DEDUP AGAINST 'src1'").collect()
    assert(alt.nonEmpty && !alt.map(_.getString(0)).contains("src1"))
    assertThrows[NqlParseException](run("DEDUP AGAINST 'src0' EXTRA"))
  }

  test("GRAPH CORES, GRAPH TRANSITIVITY, and CHUNK statement fronts") {
    // cores: histogram matches the g46 gate; max row is the degeneracy
    val cores = run("GRAPH CORES").collect().map(r => (r.getInt(0), r.getLong(1)))
    val gate = SparkEntry.queries("g46_core_decomposition")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(cores.toSeq == gate.toSeq)
    assert(cores.map(_._1).max == 5) // the K6 region wheels
    // transitivity: matches the g47 gate row
    val t = run("GRAPH TRANSITIVITY").collect()(0)
    val tg = SparkEntry.queries("g47_clustering_global")(spark, sf).collect()(0)
    assert(t.toSeq == tg.toSeq)
    // chunk census: statement equals the parameterized engine; window
    // large enough that no doc splits -> expansion ratio exactly 1.0
    val c = run("CHUNK WINDOW 64 STRIDE 48").collect()
    val cg = SparkEntry.queries("t21_chunk_census")(spark, sf).collect()
    assert(c.toSeq == cg.toSeq)
    val whole = run("CHUNK WINDOW 10000 STRIDE 10000").collect()
    assert(whole.forall(r => r.getDouble(r.fieldIndex("expansion_ratio")) == 1.0))
    assertThrows[NqlParseException](run("CHUNK WINDOW 10 STRIDE 20"))
  }

  test("GRAPH COUNT and GRAPH AGGREGATE statement forms") {
    val nCust = Tables(spark, sf, "customer").count()
    val nSupp = Tables(spark, sf, "supplier").count()
    assert(run("GRAPH COUNT NODES LABEL 'customer'").collect()(0).getLong(0) == nCust)
    assert(run("GRAPH COUNT EDGES TYPE 'in_nation'").collect()(0).getLong(0) == nCust + nSupp)
    // MIN over a filtered label matches the relational answer
    val minBal = Tables(spark, sf, "customer")
      .agg(org.apache.spark.sql.functions.min("c_acctbal")).collect()(0).getDouble(0)
    val viaNql = run("GRAPH AGGREGATE MIN 'acctbal' NODES LABEL 'customer'").collect()(0)
    assert(viaNql.getString(0) == "min" && math.abs(viaNql.getDouble(2) - minBal) < 1e-9)
    // COUNT over edges with a WHERE on the derived weight
    val heavy = run("GRAPH AGGREGATE COUNT 'weight' EDGES WHERE value >= 1.5").collect()(0).getDouble(2)
    assert(heavy > 0)
    // unknown property fails loudly, listing what exists
    val err = intercept[NqlParseException](run("GRAPH AGGREGATE SUM 'nope' NODES"))
    assert(err.getMessage.contains("acctbal"))
    // a tombstoned node drops out of the count (overlay-aware)
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-gcount-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("NODE DELETE 'customer:0'")
    assert(runS("GRAPH COUNT NODES LABEL 'customer'").collect()(0).getLong(0) == nCust - 1)
  }

  test("NODE/EDGE CREATE overlay the derived property graph") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-graph-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    // fresh store: base graph reads still work through the overlay
    assert(runS("NODE GET 'nation:0'").count() == 1)
    runS("NODE CREATE 'city:1' LABEL 'city' NAME 'Metropolis'")
    runS("EDGE CREATE 'city:1' TO 'nation:0' TYPE 'in_nation'")
    val got = runS("NODE GET 'city:1'").collect()(0)
    assert(got.getString(1) == "city" && got.getString(2) == "Metropolis")
    assert(runS("NODE LIST LABEL 'city'").count() == 1)
    // the created edge shows up in traversal + degree alongside base edges
    val nb = runS("NEIGHBORS 'city:1'").collect().map(_.getString(0)).toSeq
    assert(nb == Seq("nation:0"))
    val degBase = run("DEGREE 'nation:0'").collect()(0).getLong(1)
    val degOverlay = runS("DEGREE 'nation:0'").collect()(0).getLong(1)
    assert(degOverlay == degBase + 1)
    // store wins on key collision (relabel a base node)
    runS("NODE CREATE 'nation:0' LABEL 'nation' NAME 'renamed'")
    assert(runS("NODE GET 'nation:0'").collect()(0).getString(2) == "renamed")
    runS("NODE DELETE 'city:1'")
    assert(runS("NODE GET 'city:1'").count() == 0)
    runS("EDGE DELETE 'city:1' TO 'nation:0' TYPE 'in_nation'")
    assert(runS("DEGREE 'nation:0'").collect()(0).getLong(1) == degBase)
    // writes without a store fail loudly
    assertThrows[NqlParseException](run("NODE CREATE 'x' LABEL 'l'"))
  }

  test("GRAPH COMPONENTS is overlay-aware and converges on deep chains") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-cc-overlay-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    // a 10-node overlay chain: diameter 9, beyond any fixed round count
    // a bundled-topology bound would justify — the r8 code (base graph +
    // 6 fixed rounds) silently omitted it entirely
    for (i <- 1 to 10) runS(f"NODE CREATE 'x:$i%02d' LABEL 'xchain' NAME 'x$i'")
    for (i <- 1 until 10) runS(f"EDGE CREATE 'x:$i%02d' TO 'x:${i + 1}%02d' TYPE 'link'")
    val comps = runS("GRAPH COMPONENTS").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(comps.size == 6, s"expected 5 base components + 1 overlay chain, got $comps")
    assert(comps("x:01") == 10, "the whole chain must land in ONE component")
    // GraphX engine sees the same overlay graph
    val gx = runS("GRAPH COMPONENTS ENGINE 'graphx'").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gx == comps)
    // base-graph result (no store) is unchanged by the fixpoint switch
    assert(run("GRAPH COMPONENTS").count() == 5)
  }

  test("GRAPH BICONNECTED/ARTICULATION handle deep and detached overlay cycles") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-bicc-overlay-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    // a cycle 4 hops off a region-attached node: the r8 statement bounds
    // (BFS depth 2 from region roots) never reached it — its edges were
    // silently misclassified as singletons
    for (i <- 1 to 6) runS(s"NODE CREATE 'c:$i' LABEL 'deep' NAME 'c$i'")
    runS("EDGE CREATE 'nation:0' TO 'c:1' TYPE 'link'")
    for (i <- 1 until 4) runS(s"EDGE CREATE 'c:$i' TO 'c:${i + 1}' TYPE 'link'")
    runS("EDGE CREATE 'c:4' TO 'c:5' TYPE 'link'")
    runS("EDGE CREATE 'c:5' TO 'c:6' TYPE 'link'")
    runS("EDGE CREATE 'c:6' TO 'c:4' TYPE 'link'")
    // a component with NO region node at all: r8's region-label roots
    // never rooted it, so its cycle never entered the BFS forest
    for (i <- 1 to 3) runS(s"NODE CREATE 'd:$i' LABEL 'detached' NAME 'd$i'")
    runS("EDGE CREATE 'd:1' TO 'd:2' TYPE 'link'")
    runS("EDGE CREATE 'd:2' TO 'd:3' TYPE 'link'")
    runS("EDGE CREATE 'd:3' TO 'd:1' TYPE 'link'")
    val bicc = runS("GRAPH BICONNECTED").collect().map(r => (r.getString(0), r.getLong(1)))
    // both 3-cycles are single biconnected components of exactly 3 edges
    assert(bicc.count(_._2 == 3) == 2,
      s"expected the deep and the detached triangle as 3-edge components, got ${bicc.toSeq}")
    // the 5 base region wheels keep their 15-edge components
    assert(bicc.count(_._2 == 15) == 5)
    val arts = runS("GRAPH ARTICULATION").collect().map(_.getString(0)).toSet
    // c:4 separates the deep triangle from the chain back to nation:0
    assert(Set("c:1", "c:2", "c:3", "c:4", "nation:0").subsetOf(arts), s"got $arts")
    // pure-cycle nodes are never articulation points
    assert(!arts.exists(_.startsWith("d:")), s"detached-triangle nodes are not cut vertices: $arts")
  }

  test("GRAPH statement overlay-awareness sweep: every algorithm sees user writes") {
    // One overlay fixture, asserted against EVERY GRAPH statement family:
    // - a 5-node chain hung off nation:0 via etype 'link' (deep paths)
    // - a detached 'same_region' triangle t:1-t:2-t:3 (slice semantics)
    // - a detached 'link' triangle y:1-y:2-y:3 (documented slice EXCLUSION)
    // - an 'in_nation' leaf z:1 → nation:0 (tree-slice default semantics)
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-overlay-sweep-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    for (i <- 1 to 5) runS(s"NODE CREATE 'c:$i' LABEL 'chain' NAME 'c$i'")
    runS("EDGE CREATE 'nation:0' TO 'c:1' TYPE 'link'")
    for (i <- 1 until 5) runS(s"EDGE CREATE 'c:$i' TO 'c:${i + 1}' TYPE 'link'")
    for (i <- 1 to 3) runS(s"NODE CREATE 't:$i' LABEL 'tri' NAME 't$i'")
    runS("EDGE CREATE 't:1' TO 't:2' TYPE 'same_region'")
    runS("EDGE CREATE 't:2' TO 't:3' TYPE 'same_region'")
    runS("EDGE CREATE 't:3' TO 't:1' TYPE 'same_region'")
    for (i <- 1 to 3) runS(s"NODE CREATE 'y:$i' LABEL 'ytri' NAME 'y$i'")
    runS("EDGE CREATE 'y:1' TO 'y:2' TYPE 'link'")
    runS("EDGE CREATE 'y:2' TO 'y:3' TYPE 'link'")
    runS("EDGE CREATE 'y:3' TO 'y:1' TYPE 'link'")
    runS("NODE CREATE 'z:1' LABEL 'leaf' NAME 'z1'")
    runS("EDGE CREATE 'z:1' TO 'nation:0' TYPE 'in_nation'")

    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.head).collect().map(_.getString(0)).toSet

    // PAGERANK default = overlay-aware in_region/in_nation tree slice:
    // the created in_nation leaf participates; both engines agree on the
    // node universe
    assert(keysOf(runS("GRAPH PAGERANK ITERATIONS 3")).contains("z:1"))
    assert(keysOf(runS("GRAPH PAGERANK ITERATIONS 3 ENGINE 'graphx'")).contains("z:1"))
    // HITS walks the full overlay edge set
    assert(keysOf(runS("GRAPH HITS ITERATIONS 3")).contains("c:1"))
    // CLUSTERING: the same_region triangle closes perfectly
    val tcc = runS("GRAPH CLUSTERING").filter(col("key") === "t:1").collect()
    assert(tcc.length == 1 && tcc(0).getDouble(3) == 1.0)
    // CLUSTERING/TRANSITIVITY are SIMPLE-graph coefficients: a duplicate
    // reversed user edge over an existing triangle side must not move
    // degrees or counts (canonicalize + distinct — the round-9 policy)
    val trBefore = runS("GRAPH TRANSITIVITY").collect()(0)
    runS("EDGE CREATE 't:2' TO 't:1' TYPE 'same_region'")
    val tccDup = runS("GRAPH CLUSTERING").filter(col("key") === "t:1").collect()
    assert(tccDup.length == 1 && tccDup(0).getLong(1) == tcc(0).getLong(1) &&
      tccDup(0).getDouble(3) == 1.0, "duplicate edge must not inflate simple-graph degree")
    val trAfter = runS("GRAPH TRANSITIVITY").collect()(0)
    assert(trBefore.getDouble(2) == trAfter.getDouble(2) &&
      trBefore.getLong(0) == trAfter.getLong(0),
      "duplicate edge must not move the simple-graph transitivity")
    // TRIANGLES defaults to the WHOLE overlay graph (reference
    // TriangleConfig, triangles.rs:18,30): BOTH detached triangles
    // are counted regardless of etype
    val triKeys = keysOf(runS("GRAPH TRIANGLES"))
    assert(Set("t:1", "t:2", "t:3", "y:1", "y:2", "y:3").subsetOf(triKeys), s"got $triKeys")
    val triKeysGx = keysOf(runS("GRAPH TRIANGLES ENGINE 'graphx'"))
    assert(Set("t:1", "t:2", "t:3", "y:1", "y:2", "y:3").subsetOf(triKeysGx))
    // EDGE TYPE restricts to one etype's subgraph (either argument order)
    val triSr = keysOf(runS("GRAPH TRIANGLES EDGE TYPE 'same_region'"))
    assert(Set("t:1", "t:2", "t:3").subsetOf(triSr) && !triSr.exists(_.startsWith("y:")),
      s"same_region filter must exclude the link triangle: $triSr")
    val triLink = keysOf(runS("GRAPH TRIANGLES EDGE TYPE 'link' ENGINE 'dataframe'"))
    assert(Set("y:1", "y:2", "y:3").subsetOf(triLink) && !triLink.exists(_.startsWith("t:")),
      s"link filter must exclude the same_region triangle: $triLink")
    // TRIANGLES and CLUSTERING agree on every node's triangle count
    // (both run over the whole simple overlay graph)
    val triMap = runS("GRAPH TRIANGLES").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cluMap = runS("GRAPH CLUSTERING").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    for ((k, n) <- cluMap if n > 0)
      assert(triMap.get(k).contains(n),
        s"CLUSTERING says $k closes $n triangles but TRIANGLES says ${triMap.get(k)}")
    for ((k, n) <- triMap)
      assert(cluMap.get(k).contains(n),
        s"TRIANGLES lists $k with $n but CLUSTERING says ${cluMap.get(k)}")
    // ASSORTATIVITY is computed over the overlay closure
    val aBase = run("GRAPH ASSORTATIVITY").collect()(0).getDouble(1)
    val aOver = runS("GRAPH ASSORTATIVITY").collect()(0).getDouble(1)
    assert(aBase != aOver)
    // DIAMETER: extend the chain off c:5 by 10 more hops — the sweep
    // starts at the overlay view's min key ('c:1', same component), so
    // the double sweep must measure ≥ the chain depth (the r8 code
    // truncated every sweep at 8)
    for (i <- 1 to 10) runS(s"NODE CREATE 'deep:$i' LABEL 'deep' NAME 'd$i'")
    runS("EDGE CREATE 'c:5' TO 'deep:1' TYPE 'link'")
    for (i <- 1 until 10) runS(s"EDGE CREATE 'deep:$i' TO 'deep:${i + 1}' TYPE 'link'")
    val dia = runS("GRAPH DIAMETER").collect()(0)
    assert(dia.getInt(1) >= 10, s"pseudo-diameter must see the deep chain, got ${dia.getInt(1)}")
    // CLOSENESS on the link slice: c:5's component is nation:0—c:1..c:5—
    // deep:1..deep:10 (16 nodes); from c:5 the distances are 1..5 up the
    // chain and 1..10 down it → 15/70. Exact closeness needs the BFS
    // fixpoint — the r8 depth-2 truncation saw only 4 neighbors
    val clo = runS("GRAPH CLOSENESS EDGE TYPE 'link'")
      .filter(col("key") === "c:5").collect()
    assert(clo.length == 1)
    val c5 = clo(0).getDouble(1)
    assert(math.abs(c5 - 15.0 / 70.0) < 1e-4, s"closeness(c:5) must count the full chain, got $c5")
    // BETWEENNESS on the link slice: paths nation:0 → c:5 pass c:4 at
    // depth 4 — a depth-2 horizon scored it zero
    val bw = runS("GRAPH BETWEENNESS EDGE TYPE 'link'")
      .filter(col("key") === "c:4").collect()
    assert(bw.length == 1 && bw(0).getDouble(1) > 0,
      "c:4 must carry betweenness from deep shortest paths")
    // EIGENVECTOR on the link slice ranks the chain nodes
    assert(keysOf(runS("GRAPH EIGENVECTOR ITERATIONS 3 EDGE TYPE 'link'")).contains("c:3"))
    // CORES / TRANSITIVITY / PPR / WALK / TRAVERSE already walk the
    // overlay frames — pin it
    // CORES returns (core, n_nodes) — all 22 overlay nodes join the peel
    val coreN = runS("GRAPH CORES").agg(sum("n_nodes")).collect()(0).getLong(0)
    val coreNBase = run("GRAPH CORES").agg(sum("n_nodes")).collect()(0).getLong(0)
    assert(coreN == coreNBase + 22, s"expected ${coreNBase + 22} peeled nodes, got $coreN")
    val trBase = run("GRAPH TRANSITIVITY").collect()(0).getDouble(2)
    val trOver = runS("GRAPH TRANSITIVITY").collect()(0).getDouble(2)
    assert(trBase != trOver, "the overlay triangles must move global transitivity")
    assert(keysOf(runS("GRAPH PPR FROM 'c:1' ITERATIONS 4")).contains("c:2"))
    assert(runS("WALK FROM 'c:5' STEPS 2").count() == 1)
    assert(keysOf(runS("TRAVERSE FROM 'c:1' DEPTH 2")).nonEmpty)
  }

  test("NODE/EDGE DELETE tombstones mask base-graph rows") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-del-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    // deleting a base node removes it from the overlay view
    assert(runS("NODE GET 'nation:1'").count() == 1)
    runS("NODE DELETE 'nation:1'")
    assert(runS("NODE GET 'nation:1'").count() == 0)
    // deleting a previously-overlaid base key deletes the node outright
    // (must not resurrect the original base row)
    runS("NODE CREATE 'nation:2' LABEL 'nation' NAME 'renamed'")
    assert(runS("NODE GET 'nation:2'").collect()(0).getString(2) == "renamed")
    runS("NODE DELETE 'nation:2'")
    assert(runS("NODE GET 'nation:2'").count() == 0)
    // deleting a base edge reduces degree below the base count
    val degBase = run("DEGREE 'nation:0'").collect()(0).getLong(1)
    runS("EDGE DELETE 'nation:0' TO 'region:0' TYPE 'in_region'")
    assert(runS("DEGREE 'nation:0'").collect()(0).getLong(1) == degBase - 1)
  }

  test("Cypher OPTIONAL MATCH keeps unmatched rows with nulls and SKIP pages") {
    // at sf0.001 most nations have no suppliers — rows survive with null
    val rows = run("MATCH (n:nation) OPTIONAL MATCH (n)<-[:in_nation]-(sup:supplier) " +
      "RETURN n.key, sup.key ORDER BY n.key, sup.key").collect()
    assert(rows.length >= 25)
    assert(rows.exists(_.isNullAt(1)), "expected unmatched nations with null supplier")
    assert(rows.exists(!_.isNullAt(1)), "expected matched nations too")
    // SKIP drops the first ordered rows
    val all = run("MATCH (n:nation) RETURN n.key ORDER BY n.key").collect().map(_.getString(0))
    val skipped = run("MATCH (n:nation) RETURN n.key ORDER BY n.key SKIP 5").collect().map(_.getString(0))
    assert(skipped.toSeq == all.drop(5).toSeq)
    // WHERE on an optional variable scopes to the extension: anchor rows
    // with no (or only filtered-out) matches survive with nulls
    val scoped = run("MATCH (n:nation) OPTIONAL MATCH (n)<-[:in_nation]-(sup:supplier) " +
      "WHERE sup.key <> 'supplier:1' RETURN n.key, sup.key ORDER BY n.key, sup.key").collect()
    assert(scoped.count(_.isNullAt(1)) >= rows.count(_.isNullAt(1)),
      "optional-scoped WHERE must not drop null-extended rows")
    assert(!scoped.exists(r => !r.isNullAt(1) && r.getString(1) == "supplier:1"))
    // OPTIONAL MATCH must anchor on a bound variable
    assertThrows[NqlParseException](Nql.parse(
      "MATCH (a:nation) OPTIONAL MATCH (z:region)<-[:in_region]-(b:nation) RETURN a.key"))
  }

  test("Cypher CREATE/MERGE/DELETE round-trip through the store") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("cypher-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("CREATE (c:city {key: 'city:7', name: 'Gotham'})")
    val got = runS("MATCH (c:city) RETURN c.key, c.name").collect()
    assert(got.length == 1 && got(0).getString(1) == "Gotham")
    // MERGE on an existing key is a no-op; on a fresh key it creates
    assert(runS("MERGE (c:city {key: 'city:7', name: 'Other'})")
      .collect()(0).getString(1) == "merge_matched")
    assert(runS("MATCH (c:city) RETURN c.name").collect()(0).getString(0) == "Gotham")
    runS("MERGE (c:city {key: 'city:8', name: 'Metropolis'})")
    assert(runS("MATCH (c:city) RETURN c.key").count() == 2)
    // MATCH ... DELETE tombstones the matched set (store AND base keys)
    val res = runS("MATCH (c:city) DELETE c").collect()(0)
    assert(res.getLong(0) == 2 && res.getString(1) == "deleted")
    assert(runS("MATCH (c:city) RETURN c.key").count() == 0)
    runS("MATCH (n:nation {name: 'NATION_3'}) DELETE n")
    assert(runS("NODE GET 'nation:3'").count() == 0)
    // relationship CREATE: labeled endpoints are created, then connected
    runS("CREATE (a:poi {key: 'poi:1', name: 'Dock'})-[:near]->(b:poi {key: 'poi:2', name: 'Pier'})")
    assert(runS("MATCH (p:poi)-[:near]->(q:poi) RETURN p.name, q.name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("Dock", "Pier")))
    // reversed arrow creates the edge in the arrow's direction
    runS("CREATE (x {key: 'poi:1'})<-[:near]-(y {key: 'poi:2'})")
    assert(runS("MATCH (p:poi)-[:near]->(q:poi) RETURN p.key, q.key").count() == 2)
    // writes without a store fail loudly; malformed writes are rejected
    assertThrows[NqlParseException](run("CREATE (x:city {key: 'city:9'})"))
    // name falls back as the key (reference corpus writes MERGE by name);
    // a node with NEITHER key nor name still rejects typed
    assert(Nql.parse("CREATE (x:city {name: 'ByName'})") ==
      Nql.parse("CREATE (x:city {name: 'ByName', key: 'ByName'})"))
    assertThrows[NqlParseException](Nql.parse("CREATE (x:city {pop: '9'})"))
    assertThrows[NqlParseException](Nql.parse("CREATE (a {key: 'k1'})-[:t]-(b {key: 'k2'})"))
  }

  test("Cypher multi-pattern MATCH joins shared variables, crosses disjoint chains") {
    // shared variable n: customers x suppliers co-located in one nation
    val got = run("MATCH (c:customer)-[:in_nation]->(n:nation {name: 'NATION_3'}), " +
        "(sup:supplier)-[:in_nation]->(n) RETURN c.key, sup.key ORDER BY c.key, sup.key")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val cust = Tables(spark, sf, "customer").filter(col("c_nationkey") === 3)
      .select(concat(lit("customer:"), col("c_custkey")).as("ck"))
    val sup = Tables(spark, sf, "supplier").filter(col("s_nationkey") === 3)
      .select(concat(lit("supplier:"), col("s_suppkey")).as("sk"))
    val want = cust.crossJoin(sup).orderBy("ck", "sk")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    // a chain variable reused with extra filters narrows, not re-binds
    val narrowed = run("MATCH (n:nation)-[:in_region]->(r:region), " +
        "(n)-[:in_region]->(r2:region {name: 'ASIA'}) RETURN n.key ORDER BY n.key")
    assert(narrowed.count() == 5)
    // disjoint chains are a cartesian product (Cypher semantics)
    val cross = run("MATCH (r:region {name: 'ASIA'}), (r2:region) RETURN r.key, r2.key")
    assert(cross.count() == 5)
    // three chains sharing one hub variable
    val tri = run("MATCH (c:customer)-[:in_nation]->(n:nation {name: 'NATION_3'}), " +
      "(sup:supplier)-[:in_nation]->(n), (n)-[:in_region]->(r:region) " +
      "RETURN c.key, sup.key, r.name ORDER BY c.key, sup.key")
    assert(tri.count() == got.length)
  }

  test("Cypher SET updates matched entity properties through the store") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("set-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("CREATE (c:city {key: 'city:1', name: 'Gotham'})")
    runS("CREATE (c:city {key: 'city:2', name: 'Metropolis'})")
    // SET on matched store nodes rewrites the prop, latest-wins
    val res = runS("MATCH (c:city) SET c.name = 'Renamed'").collect()(0)
    assert(res.getLong(0) == 2 && res.getString(1) == "updated")
    assert(runS("MATCH (c:city {name: 'Renamed'}) RETURN c.key").count() == 2)
    // SET on a matched base-graph node materializes it into the overlay
    runS("MATCH (n:nation {name: 'NATION_3'}) SET n.name = 'RENAMED_3'")
    assert(runS("MATCH (n:nation {name: 'RENAMED_3'}) RETURN n.key")
      .collect().map(_.getString(0)).toSeq == Seq("nation:3"))
    assert(runS("MATCH (n:nation {name: 'NATION_3'}) RETURN n.key").count() == 0)
    // label is preserved across the rewrite
    assert(runS("NODE GET 'nation:3'").collect()(0).getString(1) == "nation")
    // malformed SETs fail loudly
    assertThrows[NqlParseException](Nql.parse("MATCH (c:city) SET c.key = 'other'"))
    assertThrows[NqlParseException](Nql.parse("MATCH (c:city) SET z.name = 'x'"))
    assertThrows[NqlParseException](run("MATCH (c:city) SET c.name = 'x'"))
  }

  test("BLOBS SIMILAR TO searches binary artifacts by embedding") {
    val rows = run("BLOBS SIMILAR TO 'vec:3' LIMIT 5").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getString(0).startsWith("blob:")))
    assert(!rows.exists(_.getString(0) == "blob:3")) // self excluded
    // scores are sorted descending
    val scores = rows.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
    assertThrows[NqlParseException](Nql.parse("BLOBS SIMILAR 'vec:3'"))
    assertThrows[NqlParseException](Nql.parse("BLOBS SIMILAR TO 'vec:3' FROB 2"))
  }

  test("TRAVERSE statement runs filtered BFS") {
    // unfiltered TRAVERSE == the direct bfs plan (g03's engine)
    val got = run("TRAVERSE FROM 'region:0' DEPTH 3")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    val want = graft.graph.Algorithms.bfs(
        graft.graph.TpchGraph.undirected(graft.graph.TpchGraph.edges(spark, sf)),
        graft.graph.Algorithms.source(spark, "region:0"), graft.graph.Superstep.Rounds(3))
      .orderBy("key").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == want && got.nonEmpty)
    // TYPE filter: from nation:0, in_region edges only reach the region
    val typed = run("TRAVERSE FROM 'nation:0' DEPTH 1 TYPE 'in_region'")
      .collect().map(_.getString(0)).toSeq
    assert(typed == Seq("nation:0", "region:0"))
    // LABEL filter: frontier may only enter nation nodes
    val labeled = run("TRAVERSE FROM 'region:0' DEPTH 2 LABEL 'nation'")
      .collect().map(_.getString(0))
    assert(labeled.contains("region:0") &&
      labeled.filterNot(_ == "region:0").forall(_.startsWith("nation:")))
    assertThrows[NqlParseException](Nql.parse("TRAVERSE FROM 'region:0' DEPTH 0"))
    assertThrows[NqlParseException](Nql.parse("TRAVERSE 'region:0' DEPTH 2"))
  }

  test("WALK statement replays the g35 walk engine") {
    // single-seed WALK == the same seed's row in the g35 gate query
    val got = run("WALK FROM 'supplier:0' STEPS 3")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val want = SparkEntry.queries("g35_random_walk")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("walk_id") === "supplier:0")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == want && got.nonEmpty)
    // unknown start key → empty walk, not an error
    assert(run("WALK FROM 'supplier:999999' STEPS 2").collect().isEmpty)
    assertThrows[NqlParseException](Nql.parse("WALK FROM 'supplier:0' STEPS 0"))
    assertThrows[NqlParseException](Nql.parse("WALK 'supplier:0' STEPS 2"))
  }

  test("HYBRID statement matches the u05 fusion engine") {
    val got = run("HYBRID 'join' VECTOR 0 LIMIT 10")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = SparkEntry.queries("u05_hybrid_rrf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want && got.nonEmpty)
    // a different limit truncates the same fused ranking
    assert(run("HYBRID 'join' VECTOR 0 LIMIT 3").collect().map(_.getLong(0)).toSeq
      == want.take(3).map(_._1))
    // injection-shaped terms are rejected at parse time
    assertThrows[NqlParseException](Nql.parse("HYBRID 'a'' OR 1=1' VECTOR 0"))
    assertThrows[NqlParseException](Nql.parse("HYBRID 'join' LIMIT 5"))
  }

  test("REBALANCE statement matches d08's keep rule") {
    val kept = run("REBALANCE documents BY source BUDGET 60 KEY doc_id")
    val audit = SparkEntry.queries("d08_domain_mix_rebalance")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    val got = kept.groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // groups with zero kept rows drop out of `got`; every present group
    // must match the d08 audit count exactly
    assert(got.forall { case (src, n) => audit(src) == n })
    assert(audit.filter(_._2 > 0).keySet == got.keySet)
    assert(kept.count() > 0 && kept.count() < Tables(spark, sf, "documents").count())
    assertThrows[NqlParseException](Nql.parse("REBALANCE documents BY source BUDGET 0 KEY doc_id"))
  }

  test("SEMDEDUP statement matches the d11 census") {
    val got = run("SEMDEDUP embeddings BY label THRESHOLD 35 KEY vec_id VECTOR embedding")
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = SparkEntry.queries("d11_semantic_dedup")(spark, sf)
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    assert(got.values.map(_._2).sum > 0, "threshold should remove something at this SF")
    assertThrows[NqlParseException](
      Nql.parse("SEMDEDUP embeddings BY label THRESHOLD 0 KEY vec_id VECTOR embedding"))
    assertThrows[NqlParseException](
      Nql.parse("SEMDEDUP embeddings BY label THRESHOLD 35 KEY vec_id"))
  }

  test("Cypher rejects malformed patterns") {
    assertThrows[NqlParseException](Nql.parse("MATCH (a:nation RETURN a.name"))
    assertThrows[NqlParseException](Nql.parse("MATCH (a)-[:x*3..1]->(b) RETURN a.key"))
    assertThrows[NqlParseException](Nql.parse("MATCH (a)-[:x]->(b)"))
  }

  test("parse errors are informative") {
    assertThrows[NqlParseException](Nql.parse("FROB 'x'"))
    // bare keys are legal since r8 (router legacy surface) — a NUMBER
    // where the key belongs is still a typed parse error
    assertThrows[NqlParseException](Nql.parse("SIMILAR 42"))
    assertThrows[NqlParseException](Nql.parse("PATH SHORTEST 'a' 'b'"))
  }

  test("ASOF statement matches the q33 plan") {
    val got = run("ASOF 'purchase' TO 'click' ON user_id AT ts")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    val want = SparkEntry.queries("q33_asof_join")(spark, sf)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(got.toSeq == want.toSeq && got.nonEmpty)
  }

  test("SAMPLE statement matches the deterministic hash rule") {
    val got = run("SAMPLE documents RATE 10 KEY doc_id")
    val expected = Tables(spark, sf, "documents").filter(expr(
      "CAST(conv(substr(md5(cast(cast(doc_id AS STRING) AS BINARY)), 1, 4), 16, 10) AS BIGINT) % 100 < 10"))
    assert(got.count() == expected.count() && got.count() > 0)
    // rerun is identical (deterministic, coordination-free)
    assert(run("SAMPLE documents RATE 10 KEY doc_id").collect().map(_.getLong(0)).toSeq ==
      got.collect().map(_.getLong(0)).toSeq)
    assertThrows[NqlParseException](Nql.parse("SAMPLE documents RATE 200 KEY doc_id"))
  }

  test("GRAPH MATCH COUNT / EXISTS statement forms") {
    // each customer has exactly one nation->region chain
    val n = run("GRAPH MATCH COUNT (c:customer)-[:in_nation]->(n:nation)-[:in_region]->(r:region)")
      .collect()(0).getLong(0)
    assert(n == Tables(spark, sf, "customer").count())
    // WHERE narrows the binding frame
    val asia = run("GRAPH MATCH COUNT (n:nation)-[:in_region]->(r:region) WHERE r.name = 'ASIA'")
      .collect()(0).getLong(0)
    assert(asia == 5)
    assert(run("GRAPH MATCH EXISTS (n:nation)-[:in_region]->(r:region {name: 'ASIA'})")
      .collect()(0).getBoolean(0))
    assert(!run("GRAPH MATCH EXISTS (n:nation)-[:in_region]->(r:region {name: 'ATLANTIS'})")
      .collect()(0).getBoolean(0))
    assertThrows[NqlParseException](Nql.parse("GRAPH MATCH FROB (a)-[:x]->(b)"))
  }

  test("EMBED BUILD INDEX + SIMILAR USING INDEX route through IVF cells") {
    run("EMBED DROP INDEX")
    // routing without a built index fails loudly, not silently-brute-force
    assertThrows[NqlParseException](run("SIMILAR 'vec:0' USING INDEX LIMIT 5"))
    val st = run("EMBED BUILD INDEX IVF").collect()(0)
    assert(st.getString(1) == "ivf_index_built" && st.getLong(0) > 0)
    val nCells = st.getLong(0).toInt
    // probing ALL cells makes the index search exact — must equal SIMILAR
    val viaIndex = run(s"SIMILAR 'vec:0' USING INDEX PROBES $nCells LIMIT 10")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val exact = run("SIMILAR 'vec:0' LIMIT 10")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(viaIndex.toSeq == exact.toSeq)
    // a 1-probe search returns k rows from the probed cell only
    assert(run("SIMILAR 'vec:0' USING INDEX LIMIT 5").count() == 5)
    // KMeans-cell variant builds and serves through the same route
    assert(run("EMBED BUILD INDEX IVF CLUSTERS 4").collect()(0).getLong(0) == 4)
    assert(run("SIMILAR 'vec:0' USING INDEX PROBES 2 LIMIT 5").count() == 5)
    // unsupported compositions are rejected loudly
    assertThrows[NqlParseException](run("SIMILAR 'vec:0' METRIC DOT USING INDEX LIMIT 5"))
    assertThrows[NqlParseException](run("SIMILAR 'vec:0' USING INDEX WHERE label = 3 LIMIT 5"))
    run("EMBED DROP INDEX") // leave no index behind for other tests
  }

  test("EMBED COLLECTION registry validates dimension and metric") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-coll-store").toString)
    def runS(q: String) = Nql.execute(spark, sf, store, q)
    runS("EMBED COLLECTION CREATE 'prod' DIMENSION 3 METRIC COSINE")
    assert(runS("EMBED STORE 'p:1' (1.0, 0.0, 0.0) IN 'prod'").count() == 1)
    // dimension mismatch fails loudly at statement time
    assertThrows[NqlParseException](runS("EMBED STORE 'p:2' (1.0, 0.0) IN 'prod'"))
    // unknown collection fails loudly (no silent default)
    assertThrows[NqlParseException](runS("EMBED STORE 'p:3' (1.0) IN 'ghost'"))
    // metric mismatch on SIMILAR ... IN against the registered config
    assertThrows[NqlParseException](run("SIMILAR 'vec:0' METRIC EUCLIDEAN IN 'prod' LIMIT 5"))
    // an unregistered label-collection still filters (v05 semantics)
    assert(run("SIMILAR 'vec:0' IN '3' LIMIT 5").count() == 5)
    assertThrows[NqlParseException](Nql.parse("EMBED COLLECTION CREATE 'x' DIMENSION 0"))
  }

  test("MATCH ... DELETE streams tombstones in bounded batches") {
    val store = new graft.unified.EntityStore(spark,
      java.nio.file.Files.createTempDirectory("nql-bulk-del").toString)
    val n = 12000 // > one DeleteBatchSize batch
    store.put((1 to n).map(i =>
      graft.unified.EntityStore.EntityRow(s"bulk:$i", Map("label" -> "bulk"), None)))
    val res = Nql.execute(spark, sf, store, "MATCH (b:bulk) DELETE b").collect()(0)
    assert(res.getLong(0) == n && res.getString(1) == "deleted")
    assert(Nql.execute(spark, sf, store, "MATCH (b:bulk) RETURN b.key").count() == 0)
  }

  test("DEDUP statement keeps one min-key row per duplicate text") {
    val got = run("DEDUP documents BY text KEY doc_id")
    val docs = Tables(spark, sf, "documents")
    val nUnique = docs.select(md5(col("text").cast("binary"))).distinct().count()
    assert(got.count() == nUnique)
    assert(got.columns.toSeq == docs.columns.toSeq) // helper cols dropped
    // kept doc_ids are each group's minimum
    val keep = docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    assert(got.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      keep.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("BPE TRAIN statement replays the t18 merge rounds") {
    val got = run("BPE TRAIN ROUNDS 2").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val want = SparkEntry.queries("t18_bpe_merges")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // 2 statement rounds == the first 2 of the gate query's 3 (greedy BPE
    // is prefix-stable: earlier merges don't depend on later ones)
    assert(got.toSeq == want.toSeq.take(2))
    assert(got.forall { case (_, pair, merged, w) =>
      merged == pair.replace(" ", "") && w > 0 })
    assertThrows[NqlParseException](Nql.parse("BPE TRAIN ROUNDS 0"))
    assertThrows[NqlParseException](Nql.parse("BPE TRAIN 3"))
  }

  test("HEAVY HITTERS statement: CMS never underestimates") {
    val got = run("HEAVY HITTERS TOP 5").collect()
    assert(got.length == 5)
    // CMS property: est >= exact for every token (collisions only add)
    assert(got.forall(r => r.getLong(2) >= r.getLong(1)))
    val gate = SparkEntry.queries("t19_cms_heavy_hitters")(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq == gate.take(5).map(_.getString(0)).toSeq)
    assertThrows[NqlParseException](Nql.parse("HEAVY HITTERS TOP 0"))
    assertThrows[NqlParseException](Nql.parse("HEAVY SOMETHING"))
  }

  test("GRAPH PPR statement ranks the seed's neighborhood") {
    val got = run("GRAPH PPR FROM 'nation:0' ITERATIONS 6").collect()
    assert(got.nonEmpty)
    // the seed itself holds the most mass (restart concentrates on it)
    assert(got.head.getString(0) == "nation:0")
    // mass reaches only the seed's component: every scored node is the
    // seed's region tree (region:0's nations/customers/suppliers)
    assert(got.forall(_.getDouble(1) > 0))
    // unknown seed -> empty result, WALK semantics
    assert(run("GRAPH PPR FROM 'nation:999'").collect().isEmpty)
    assertThrows[NqlParseException](Nql.parse("GRAPH PPR 'nation:0'"))
    assertThrows[NqlParseException](Nql.parse("GRAPH PPR FROM 'nation:0' ITERATIONS 99"))
  }

  test("MMR statement replays the v18 re-rank") {
    val got = run("MMR 0 POOL 20 LIMIT 5").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = SparkEntry.queries("v18_mmr_rerank")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq && got.length == 5)
    // rank 1 is pure relevance; later picks trade relevance for diversity
    assert(got.head._3 >= got.last._3)
    assertThrows[NqlParseException](Nql.parse("MMR 0 POOL 1"))
    assertThrows[NqlParseException](Nql.parse("MMR 0 LIMIT 50")) // > pool
  }

  test("GRAPH DIAMETER runs the double-sweep heuristic deterministically") {
    val a = run("GRAPH DIAMETER").collect()
    assert(a.length == 1)
    // region tree + nation cliques: a peripheral customer/supplier sits
    // 3 hops from the opposite periphery's nation, 4 from its leaves
    assert(a.head.getInt(1) >= 2 && a.head.getInt(1) <= 8)
    val b = run("GRAPH DIAMETER").collect()
    assert(a.head == b.head, "double sweep must be deterministic")
    assertThrows[NqlParseException](Nql.parse("GRAPH SOMETHING"))
  }
}
