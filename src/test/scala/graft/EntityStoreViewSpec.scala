package graft

import graft.nql.Nql
import graft.unified.EntityStore
import graft.unified.EntityStore.EntityRow
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The EntityStore's materialized latest-wins view: built once from the
  * log, folded forward on each read, rebuilt when the log directory holds
  * files the view does not account for. Pins the properties the per-read
  * log scan it replaced had — latest-wins by `seq` under racing plain
  * appends, frames that keep their version, other writers seen, reopen
  * equality — and the job ceilings of the point reads that run over it.
  */
class EntityStoreViewSpec extends AnyFunSuite {
  import TestSpark._

  private def tempDir(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def keysOf(rows: Array[Row]): Set[String] = rows.map(_.getString(0)).toSet

  /** The raw log folded in `seq` order, latest record per identity,
    * tombstones dropped: `entities` as key -> props, `edges` as identities. */
  private def logFold(dir: String): (Map[String, Map[String, String]], Set[(String, String, String)]) = {
    val ents = spark.read.parquet(s"$dir/entities").select("key", "props", "deleted", "seq")
      .collect().sortBy(_.getLong(3))
      .foldLeft(Map.empty[String, Option[Map[String, String]]]) { (m, r) =>
        m + (r.getString(0) -> (if (r.getBoolean(2)) None else Some(r.getAs[Map[String, String]](1))))
      }.collect { case (k, Some(p)) => k -> p }
    val edges = spark.read.parquet(s"$dir/edges").select("src", "dst", "etype", "deleted", "seq")
      .collect().sortBy(_.getLong(4))
      .foldLeft(Map.empty[(String, String, String), Boolean]) { (m, r) =>
        m + ((r.getString(0), r.getString(1), r.getString(2)) -> !r.getBoolean(3))
      }.collect { case (e, true) => e }.toSet
    (ents, edges)
  }

  private def viewOf(st: EntityStore): (Map[String, Map[String, String]], Set[(String, String, String)]) =
    (st.entities.select("key", "props").collect()
      .map(r => r.getString(0) -> r.getAs[Map[String, String]](1)).toMap,
      st.edges.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)

  test("4 threads of racing CREATE / DELETE / CONNECT with reads in between: view equals the seq-ordered log fold") {
    val root = new scala.util.Random(0x5EED)
    for (sched <- 1 to 6) {
      val rnd = new scala.util.Random(root.nextLong())
      val dir = tempDir(s"es-view$sched")
      val store = new EntityStore(spark, dir)
      def runS(q: String) = Nql.execute(spark, sf, store, q).collect()
      val keys = (0 until 3).map(i => s"vw:$sched:$i") // few keys: every thread overlaps
      // a view exists before the race, so the race exercises folds
      runS(s"ENTITY CREATE '${keys.head}' { name: 'seed' }")
      assert(store.entities.count() == 1)
      val plans = (0 until 4).map(t => (t, Seq.fill(6)(
        (rnd.nextInt(5), keys(rnd.nextInt(keys.size)), keys(rnd.nextInt(keys.size))))))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = plans.map { case (t, ops) =>
        new Thread(() =>
          try ops.zipWithIndex.foreach { case ((op, a, b), i) =>
            op match {
              case 0 | 1 => runS(s"ENTITY CREATE '$a' { w: 't$t.i$i' }")
              case 2 => runS(s"ENTITY DELETE '$a'")
              case 3 => runS(s"ENTITY CONNECT '$a' -> '$b' : t${i % 2}")
              case _ => runS(s"EDGE DELETE '$a' TO '$b' TYPE 't${i % 2}'")
            }
            // reads race the other threads' appends, folding them as they land
            runS(s"ENTITY GET '$b'")
            runS(s"NEIGHBORS '$a'")
          } catch { case e: Throwable => failures.add(e) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(failures.isEmpty, s"schedule $sched threw: ${failures.peek()}")
      val (wantEnts, wantEdges) = logFold(dir)
      val (gotEnts, gotEdges) = viewOf(store)
      assert(gotEnts == wantEnts, s"schedule $sched: entity view diverged from the log fold")
      assert(gotEdges == wantEdges, s"schedule $sched: edge view diverged from the log fold")
    }
  }

  test("a frame taken before a write and a compact() still collects its own version") {
    val st = new EntityStore(spark, tempDir("es-view-frame"))
    st.put(Seq(EntityRow("f:a", Map("v" -> "1"), None), EntityRow("f:b", Map("v" -> "1"), None)))
    st.connect("f:a", "f:b", "t")
    val ents = st.entities
    val edges = st.edges
    st.put(Seq(EntityRow("f:c", Map("v" -> "1"), None), EntityRow("f:a", Map("v" -> "2"), None)))
    st.delete(Seq("f:b"))
    st.disconnect("f:a", "f:b", "t")
    st.compact()
    assert(keysOf(ents.collect()) == Set("f:a", "f:b"))
    assert(ents.filter(col("key") === "f:a").collect()(0).getAs[Map[String, String]]("props") ==
      Map("v" -> "1"))
    assert(edges.count() == 1)
    // and the store itself reads the new version
    assert(keysOf(st.entities.collect()) == Set("f:a", "f:c"))
    assert(st.entities.filter(col("key") === "f:a").collect()(0).getAs[Map[String, String]]("props") ==
      Map("v" -> "2"))
    assert(st.edges.count() == 0)
  }

  test("two stores on one path each see the other's appends on their next read") {
    val dir = tempDir("es-view-two")
    val s1 = new EntityStore(spark, dir)
    val s2 = new EntityStore(spark, dir)
    s1.put(Seq(EntityRow("t:1", Map.empty, None)))
    assert(keysOf(s1.entities.collect()) == Set("t:1"))
    assert(keysOf(s2.entities.collect()) == Set("t:1"))
    s2.put(Seq(EntityRow("t:2", Map.empty, None)))
    s2.connect("t:1", "t:2", "x")
    assert(keysOf(s1.entities.collect()) == Set("t:1", "t:2"))
    assert(s1.edges.count() == 1)
    s1.delete(Seq("t:1"))
    assert(keysOf(s2.entities.collect()) == Set("t:2"))
    s2.compact()
    assert(keysOf(s1.entities.collect()) == Set("t:2"))
    assert(s1.deletedKeys.collect().map(_.getString(0)).toSet == Set("t:1"))
  }

  test("a store reopened on the path reads back the same view") {
    val dir = tempDir("es-view-reopen")
    val st = new EntityStore(spark, dir)
    st.put((1 to 5).map(i => EntityRow(s"r:$i", Map("i" -> i.toString), Some(Array(i.toFloat, 1f)))))
    st.connectBatch(Seq(("r:1", "r:2", "a"), ("r:2", "r:3", "a"), ("r:3", "r:4", "b")))
    assert(st.entities.count() == 5)
    st.put(Seq(EntityRow("r:2", Map("i" -> "two"), None)))
    st.delete(Seq("r:5"))
    st.disconnect("r:2", "r:3", "a")
    def rows(s: EntityStore) = (
      s.entityRecords.collect().map(r => (r.getString(0), r.getAs[Map[String, String]](1),
        Option(r.getSeq[Float](2)).map(_.toList), r.getBoolean(3))).toSet,
      s.edgeRecords.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getBoolean(3))).toSet)
    val before = rows(st)
    assert(before._1.size == 5 && before._2.size == 3)
    assert(rows(new EntityStore(spark, dir)) == before)
  }

  test("appends past the pending-row bound are read back through a rebuild") {
    val st = new EntityStore(spark, tempDir("es-view-bulk"))
    st.put(Seq(EntityRow("b:x", Map("v" -> "0"), None)))
    assert(st.entities.count() == 1)
    // two bulk appends, 120,000 unread rows: the second keeps only its file
    st.put((0 until 60000).map(i => EntityRow(s"b:$i", Map.empty, None)))
    st.put((60000 until 120000).map(i => EntityRow(s"b:$i", Map.empty, None)) :+
      EntityRow("b:x", Map("v" -> "1"), None))
    assert(st.entities.count() == 120001)
    assert(st.lookup(Seq("b:x", "b:119999")).keySet == Set("b:x", "b:119999"))
    assert(st.lookup(Seq("b:x"))("b:x").getAs[Map[String, String]]("props") == Map("v" -> "1"))
  }

  test("job ceilings of point reads with pending appends: store key and customer key") {
    val st = new EntityStore(spark, tempDir("es-view-jobs"))
    def runS(q: String) = Nql.execute(spark, sf, st, q).collect()
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    runS("ENTITY CREATE 'j:0' { label: 'item' }")
    runS("ENTITY CONNECT 'j:0' -> 'customer:1' : rel")
    val statements = Seq("ENTITY GET 'j:0'", "ENTITY GET 'customer:1'", "NODE GET 'j:0'",
      "NODE GET 'customer:1'", "DEGREE 'j:0'", "DEGREE 'customer:1'")
    statements.foreach(runS) // warm: views built, base graph cached
    val ceiling = Map("ENTITY" -> 2, "NODE" -> 3, "DEGREE" -> 6)
    val counted = Seq.newBuilder[(String, Int)]
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((q, i) <- statements.zipWithIndex) {
        // pending appends on both logs: the read folds them in
        runS(s"ENTITY CREATE 'j:${i + 1}' { label: 'item' }")
        runS(s"ENTITY CONNECT 'j:${i + 1}' -> 'j:0' : rel")
        val g = s"es-view-jobs-$i"
        spark.sparkContext.setJobGroup(g, q, interruptOnCancel = false)
        val out = try runS(q) finally spark.sparkContext.clearJobGroup()
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        counted += q -> Option(jobs.get(g)).map(_.intValue).getOrElse(0)
        if (q.startsWith("DEGREE 'j:0'")) assert(out.map(_.getLong(1)).toSeq == Seq(2L + i))
        if (q.startsWith("NODE GET")) assert(out.length == 1, s"$q: ${out.toSeq}")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val over = counted.result().filter { case (q, n) => n > ceiling(q.takeWhile(_ != ' ')) }
    assert(over.isEmpty, s"over the ceilings $ceiling: ${counted.result()}")
  }
}
