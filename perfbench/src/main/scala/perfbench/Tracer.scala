package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects what Spark reports about the work the benchmark starts: job
  * and stage intervals with their task metrics, Catalyst phase intervals
  * from each action's `QueryPlanningTracker`, and RDD block sizes.
  *
  * Everything stays in memory and is written out once, at the end of the
  * run. Times are epoch seconds; Spark reports them in milliseconds. The
  * benchmark attaches a tracer only to the traced pass, so untraced passes
  * run with no listener of its own. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private def sec(ms: Long): Double = ms / 1e3

  private val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var peakCachedBytes = 0L
  private var blocksPut = 0L
  private var tasksFailed = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val j = mutable.Map[String, Any]("id" -> e.jobId, "start" -> sec(e.time),
        "end" -> sec(e.time))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobStart(e.jobId) = j
      jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(j => j("end") = sec(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val mb = 1024.0 * 1024.0
      stages += Map(
        "id" -> i.stageId, "job" -> stageJob.getOrElse(i.stageId, -1),
        "start" -> sec(i.submissionTime.getOrElse(0L)),
        "end" -> sec(i.completionTime.getOrElse(0L)),
        "tasks" -> i.numTasks,
        "task_s" -> m.executorRunTime / 1e3,
        "gc_s" -> m.jvmGCTime / 1e3,
        "input_mb" -> m.inputMetrics.bytesRead / mb,
        "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / mb,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / mb,
        "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.reason != Success) tasksFailed += 1
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val id = b.blockId.name
        cachedBytes -= blocks.getOrElse(id, 0L)
        if (b.storageLevel.isValid) {
          val size = b.memSize + b.diskSize
          blocks(id) = size
          cachedBytes += size
          blocksPut += 1
        } else blocks.remove(id)
        peakCachedBytes = math.max(peakCachedBytes, cachedBytes)
      }
    }
  }

  /** Records the phases of one query execution's planning tracker. A
    * DataFrame is analysed when it is built, before any action, so the
    * benchmark passes each built DataFrame here as well as every action. */
  def record(qe: QueryExecution, only: Set[String] = Set.empty): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      if (only.isEmpty || only(name))
        phases += Map("name" -> name, "start" -> sec(p.startTimeMs),
          "end" -> sec(p.endTimeMs))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  def cachedMb: Double = synchronized(cachedBytes / (1024.0 * 1024.0))

  def toJson: Map[String, Any] = synchronized(Map(
    "jobs" -> jobs.map(_.toMap).toList, "stages" -> stages.toList,
    "phases" -> phases.toList,
    "peak_cached_mb" -> peakCachedBytes / (1024.0 * 1024.0),
    "blocks_put" -> blocksPut, "tasks_failed" -> tasksFailed))
}
