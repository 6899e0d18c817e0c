package graft

import graft.graph.{GraphQueries, TpchGraph}
import graft.nql.Nql
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle of the central memo registry ([[graft.Memo]]): derived
  * artifacts, the base table and base graph frames among them, drop and
  * unpersist on `clearArtifacts` and rebuild on next use with identical
  * results; session user state (a built ANN index) survives
  * `clearArtifacts` and is dropped only by `close`.
  */
class MemoLifecycleSpec extends AnyFunSuite {
  import TestSpark._

  test("clearArtifacts drops memoized frames, unpersists them, and queries rebuild identically") {
    // Build a memoized artifact (whole-graph triangle stats) via a gate query.
    val q = SparkEntry.queries("g51_triangles_whole_graph")
    val before = q(spark, sf).collect().toSeq
    val stats = GraphQueries.triStatsCanonical(spark, sf)
    assert(stats.storageLevel != StorageLevel.NONE,
      "the memoized triangle-stats frame must be cache()d")
    assert(Memo.entryCount(spark) > 0)

    Memo.clearArtifacts(spark)
    assert(stats.storageLevel == StorageLevel.NONE,
      "clearArtifacts must unpersist the dropped frame")

    // Rebuild on demand: a fresh frame instance with identical results.
    val after = q(spark, sf).collect().toSeq
    assert(after == before)
    assert(GraphQueries.triStatsCanonical(spark, sf) ne stats,
      "the artifact must have been rebuilt, not resurrected")
  }

  test("base frames are built once per session and dir, read through one cache, and dropped by clearArtifacts") {
    def frames() = Seq(Tables(spark, sf, "nation"), TpchGraph.nodes(spark, sf), TpchGraph.edges(spark, sf))
    val held = frames()
    val group = "memo-base-frames"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val again = try {
      spark.sparkContext.setJobGroup(group, "second reads of the base frames", interruptOnCancel = false)
      try frames() finally spark.sparkContext.clearJobGroup()
    } finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 0, "a second read of a held base frame must run no Spark job")
    assert(again.zip(held).forall { case (a, b) => a eq b })

    def leaves(df: DataFrame): Seq[LogicalPlan] = df.queryExecution.optimizedPlan.collectLeaves()
    for ((name, df) <- Seq("edges" -> TpchGraph.edges(spark, sf), "treeEdges" -> TpchGraph.treeEdges(spark, sf))) {
      val ls = leaves(df)
      assert(ls.exists(_.isInstanceOf[InMemoryRelation]), s"$name must read the cached edges: $ls")
      assert(!ls.exists(_.isInstanceOf[LogicalRelation]), s"$name must not scan parquet: $ls")
    }

    val rows = held.map(_.collect().toSeq)
    Memo.clearArtifacts(spark)
    assert(held.tail.forall(_.storageLevel == StorageLevel.NONE),
      "clearArtifacts must unpersist the base graph frames")
    val rebuilt = frames()
    assert(rebuilt.zip(held).forall { case (a, b) => a ne b }, "the base frames must have been rebuilt")
    assert(rebuilt.map(_.collect().toSeq) == rows)
  }

  // The index registry is private[nql]; observe it through the statement
  // surface: SIMILAR … USING INDEX routes through a built index and throws
  // "no ANN index built" without one.
  private def routedSearch() =
    Nql.execute(spark, sf, "SIMILAR 'vec:0' LIMIT 3 USING INDEX").collect()

  test("user state (built ANN index) survives clearArtifacts; close drops it") {
    Nql.execute(spark, sf, "EMBED BUILD INDEX IVF").collect()
    assert(routedSearch().nonEmpty)

    Memo.clearArtifacts(spark)
    assert(routedSearch().nonEmpty,
      "a user-built index is session STATE, not a derived artifact")

    Memo.close(spark)
    assert(Memo.entryCount(spark) == 0)
    val ex = intercept[Exception] { routedSearch() }
    assert(ex.getMessage.contains("no ANN index built"))

    // The session remains fully usable: rebuild the index afresh.
    Nql.execute(spark, sf, "EMBED BUILD INDEX IVF").collect()
    assert(routedSearch().nonEmpty)
  }
}
