package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftPlanBridge

import graft.{Engine, SparkEntry}

/** Times named queries the way Bench does and splits each one's wall time
  * into Spark job time and driver time, and into building and running.
  *
  * Each query is built and run three times through the noop sink, each
  * run after `Engine.isolate`. The fastest run is reported with its job
  * and task counts, its job time — the union of its job intervals, so
  * concurrent jobs (broadcasts, subqueries) count once — its driver gap,
  * wall minus job time: analysis, planning and driver work between jobs —
  * and its build: the time to construct the DataFrame and the jobs that
  * ran before the noop write started. Next to them, `compiles` counts the
  * codegen classes Janino compiled over all three runs: code Spark's
  * codegen cache still holds compiles none, so a query whose later runs
  * compile again is losing its classes to eviction. A last line totals the
  * columns over the queries that ran. A failing query prints its exception
  * class and message instead.
  *
  * Usage: tools/run_main.sh graft.tools.Probe <sfDir> <query> [query...]
  */
object Probe {
  /** One run; times in seconds. */
  final case class Run(wall: Double, jobs: Int, tasks: Int, jobTime: Double,
                       build: Double = 0.0, buildJobs: Int = 0, compiles: Long = 0) {
    def gap: Double = wall - jobTime
    def +(o: Run): Run = Run(wall + o.wall, jobs + o.jobs, tasks + o.tasks,
      jobTime + o.jobTime, build + o.build, buildJobs + o.buildJobs, compiles + o.compiles)
  }

  /** Total length of the union of `intervals` clipped to `[t0, t1]`. */
  def unionLength(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long =
    intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: done, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: done
        case (done, iv) => iv :: done
      }
      .map { case (s, e) => e - s }.sum

  /** Job intervals (scheduler epoch-ms stamps) and task count of whatever
    * ran since the last `reset`. */
  final class Jobs extends SparkListener {
    private val starts = mutable.Map.empty[Int, Long]
    private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    private var tasks = 0

    def reset(): Unit = synchronized { starts.clear(); intervals.clear(); tasks = 0 }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      starts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(e.jobId).foreach(s => intervals += (s -> e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized { tasks += 1 }

    /** The run that spanned epoch ms `[t0, t1]`. */
    def run(t0: Long, t1: Long): Run = synchronized {
      Run((t1 - t0) / 1e3, intervals.size, tasks, unionLength(intervals.toSeq, t0, t1) / 1e3)
    }

    /** The run that spanned `[t0, t1]`, built by `tb`: its build jobs are
      * those that ended by then (the noop write's jobs start after it). */
    def run(t0: Long, tb: Long, t1: Long): Run = synchronized {
      run(t0, t1).copy(build = (tb - t0) / 1e3, buildJobs = intervals.count(_._2 <= tb))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Engine.session()
    val sc = spark.sparkContext
    // Bench's warm-up: JIT/codegen and the input file index before timing
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // a query probed alone must not rely on an earlier one registering them
    graft.functions.GraftFunctions.register(spark)
    val jobs = new Jobs
    sc.addSparkListener(jobs)
    def row(name: String, r: Run): Unit =
      println(f"$name%-32s ${r.wall}%8.3f ${r.jobs}%5d ${r.tasks}%6d " +
        f"${r.jobTime}%8.3f ${r.gap}%8.3f ${r.buildJobs}%10d ${r.build}%8.3f ${r.compiles}%8d")
    println(f"${"query"}%-32s ${"wall_s"}%8s ${"jobs"}%5s ${"tasks"}%6s ${"job_s"}%8s " +
      f"${"gap_s"}%8s ${"build_jobs"}%10s ${"build_s"}%8s ${"compiles"}%8s")
    val ran = args.tail.flatMap { name =>
      try {
        val query = SparkEntry.queries(name)
        val c0 = GraftPlanBridge.codegenCompilations
        val best = (1 to 3).map { _ =>
          Engine.isolate(spark)
          GraftPlanBridge.drainListeners(sc)
          jobs.reset()
          val t0 = System.currentTimeMillis()
          val df = query(spark, sfDir)
          val tb = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
          val t1 = System.currentTimeMillis()
          GraftPlanBridge.drainListeners(sc)
          jobs.run(t0, tb, t1)
        }.minBy(_.wall).copy(compiles = GraftPlanBridge.codegenCompilations - c0)
        row(name, best)
        Some(best)
      } catch { case e: Throwable =>
        println(s"$name FAILED ${e.getClass.getName}: ${e.getMessage}")
        None
      }
    }
    row(s"TOTAL (${ran.length} queries)", ran.foldLeft(Run(0, 0, 0, 0))(_ + _))
    spark.stop()
  }
}
