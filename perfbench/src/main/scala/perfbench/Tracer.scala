package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer accounting for traced passes: Spark jobs, stages and
  * tasks (SparkListener), Catalyst phases and file scans
  * (QueryExecutionListener) and micro-batches (StreamingQueryListener).
  *
  * Ops run one at a time, each under its own job group. `finish` drains
  * the listener bus, so every event an op caused has arrived before its
  * counters are read. Every job that starts during an op is the op's;
  * those outside its job group (a streaming query's micro-batches run
  * under the query's own group) are also counted as foreign.
  *
  * @param storeRoot scans under this path count as entity-store reads
  */
final class Tracer(spark: SparkSession, storeRoot: Option[String]) {
  import Tracer._

  private val lock = new Object
  private var group: String = null
  private var cur = new Acc

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      cur.jobs(e.jobId) = JobSpan(e.time, e.time)
      if (g != group) cur.foreignJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      cur.jobs.get(e.jobId).foreach(j => cur.jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val key = (e.stageId, e.stageAttemptId)
      if (e.taskInfo != null)
        cur.maxTask(key) = math.max(cur.maxTask.getOrElse(key, 0L), e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      val wall = for (s <- si.submissionTime; c <- si.completionTime) yield c - s
      cur.stages += 1
      cur.tasks += si.numTasks
      cur.stageWallMs += wall.getOrElse(0L)
      cur.schedWaitMs += math.max(0L, wall.getOrElse(0L) -
        cur.maxTask.getOrElse((si.stageId, si.attemptNumber()), 0L))
      val m = si.taskMetrics
      if (m != null) {
        cur.taskRunMs += m.executorRunTime
        cur.taskCpuNs += m.executorCpuTime
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.inputBytes += m.inputMetrics.bytesRead
        cur.recordsRead += m.inputMetrics.recordsRead
        cur.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = lock.synchronized {
    cur.actions += 1
    val ph = qe.tracker.phases
    cur.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    cur.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    cur.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    storeRoot.foreach { root =>
      scans(qe.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains(root)))
        .foreach { s =>
          cur.storeFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          cur.storeBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        cur.batches += 1
        cur.streamRows += e.progress.numInputRows
        cur.batchMs += e.progress.batchDuration
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Start accounting for the op that runs under job group `g`. */
  def begin(g: String): Unit = {
    BenchBus.drain(spark.sparkContext)
    lock.synchronized { group = g; cur = new Acc }
  }

  /** Drain the bus and return the finished op's counters. `layers` are
    * the op's layer spans as (name, start ms, end ms), used to split job
    * time by layer. */
  def finish(layers: Seq[(String, Long, Long)]): Map[String, Any] = {
    BenchBus.drain(spark.sparkContext)
    lock.synchronized {
      val a = cur
      group = null
      cur = new Acc
      val jobWall = a.jobs.values.map(j => j.end - j.start).sum
      val jobsByLayer = layers.map { case (n, s, e) =>
        n -> a.jobs.values.filter(j => j.start >= s && j.start <= e).map(j => j.end - j.start).sum / 1e3
      }.toMap
      Map(
        "jobs" -> a.jobs.size, "foreign_jobs" -> a.foreignJobs, "stages" -> a.stages,
        "tasks" -> a.tasks, "job_wall_s" -> jobWall / 1e3, "stage_wall_s" -> a.stageWallMs / 1e3,
        "job_s_by_layer" -> jobsByLayer,
        "sched_wait_s" -> a.schedWaitMs / 1e3, "task_run_s" -> a.taskRunMs / 1e3,
        "task_cpu_s" -> a.taskCpuNs / 1e9, "shuffle_read_b" -> a.shuffleRead,
        "shuffle_write_b" -> a.shuffleWrite, "spill_b" -> a.spill, "input_b" -> a.inputBytes,
        "records_read" -> a.recordsRead, "records_written" -> a.recordsWritten,
        "actions" -> a.actions, "analysis_s" -> a.analysisMs / 1e3,
        "optimization_s" -> a.optimizationMs / 1e3, "planning_s" -> a.planningMs / 1e3,
        "store_files_read" -> a.storeFiles, "store_bytes_read" -> a.storeBytes,
        "batches" -> a.batches, "stream_rows" -> a.streamRows, "batch_s" -> a.batchMs / 1e3)
    }
  }
}

object Tracer {
  private final case class JobSpan(start: Long, end: Long)

  private final class Acc {
    val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
    val maxTask = mutable.HashMap.empty[(Int, Int), Long]
    var foreignJobs, stages, tasks, actions, batches = 0
    var stageWallMs, schedWaitMs, taskRunMs, taskCpuNs, shuffleRead, shuffleWrite = 0L
    var spill, inputBytes, recordsRead, recordsWritten = 0L
    var analysisMs, optimizationMs, planningMs, storeFiles, storeBytes = 0L
    var streamRows, batchMs = 0L
  }

  /** Every file scan in an executed plan, through adaptive wrappers,
    * query stages and subqueries. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
}
