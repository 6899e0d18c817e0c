package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

/** Dev-only query profiler (not part of the driver contract): runs the named
  * queries and reports, per query, wall-clock seconds next to the Spark
  * scheduler's own accounting — #jobs, #stages, #tasks, summed task run time
  * — so scheduling-floor-bound queries (wall >> task time / cores) can be
  * told apart from compute-bound ones before optimizing either.
  *
  *   sbt 'Test/runMain graft.DevProfile g05_pagerank g41_personalized_pagerank'
  *
  * SPARK_GRAFT_REPS (default 2) runs each query that many times; every rep
  * is reported (rep 1 includes shared-artifact builds, later reps are warm).
  */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt

    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
      }
    })

    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("g05_pagerank", "g41_personalized_pagerank", "g17_scc", "g23_louvain_multilevel")
    // one untimed warmup so JVM/codegen startup doesn't land on the first query
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    println(f"${"query"}%-34s rep ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"task_s"}%8s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      for (rep <- 1 to reps) {
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
        val t0 = System.nanoTime()
        fn(spark, d).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async — let the counters drain before reading
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        println(f"$n%-34s $rep%3d ${wall}%8.2f ${jobs.get}%5d ${stages.get}%7d ${tasks.get}%6d ${taskMs.get / 1e3}%8.2f")
      }
    }
    spark.stop()
  }
}
