package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` chooses the workload's
  * inputs and query order, starts this program once per run, checks what
  * it writes and turns it into metrics.
  *
  * Usage: perfbench.Main <args.json> <result.json>
  *
  * Order of a run: set-up (JVM start to a built session that has run one
  * warm-up scan), the workload with its output checks (see
  * `BatchWorkload` and `StreamWorkload`), in a traced run the layer probes,
  * and the host calibration.
  *
  * `args.json` names the mode (`queries` or `stream`), the data directory
  * and what else the mode needs. The result JSON holds raw timings only;
  * every metric is derived in Python. */
object Main {
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

  def main(argv: Array[String]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val args = mapper.readValue(Files.readString(Paths.get(argv(0))),
      classOf[Map[String, Any]])
    val out = mutable.LinkedHashMap.empty[String, Any]
    try {
      out("setup_s") = setup(args)
      if (args("mode") == "stream") StreamWorkload.run(SparkSession.active, args, out)
      else {
        // The output check runs first and untimed: it is also the warm-up
        // pass that JIT-compiles the workload's code before any timing.
        BatchWorkload.check(args)
        setup(args) // Verify stops the session: build and warm a new one
        BatchWorkload.run(SparkSession.active, args, out)
      }
      out("calib") = Calibration.run(SparkSession.active)
      out("heap_max_mb") = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
      out("checks_done") = true
    } finally {
      out("peak_rss_mb") = peakRssMb()
      Files.writeString(Paths.get(argv(1)), mapper.writeValueAsString(out))
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Stops any running session, builds a new one and warms it up with one
    * scan through the engine's source layer. Returns the seconds since JVM
    * start, so the first call is the cold set-up: JVM start, class loading
    * and the first job all show in it. */
  private def setup(args: Map[String, Any]): Double = {
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = session(args)
    graft.sources.Tables.region(spark, args("data_dir").toString).write.format("noop")
      .mode("overwrite").save()
    Clock.now() - jvmStart
  }

  /** Bench's session settings, with every path Spark writes under the
    * run's work directory. */
  def session(args: Map[String, Any]): SparkSession = {
    val cpus = args("cpus").toString
    val work = args("work_dir").toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Epoch seconds with nanosecond resolution, comparable with the epoch
  * milliseconds Spark puts on its events. */
object Clock {
  private val originNs = System.nanoTime()
  private val originEpoch = System.currentTimeMillis() / 1e3
  def now(): Double = originEpoch + (System.nanoTime() - originNs) / 1e9
}

/** Host context recorded with every result: the median time of a trivial
  * one-task job and of a fixed CPU loop. Neither should move with a change
  * to the engine; both move with the host. */
object Calibration {
  def run(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val jobMs = (1 to 21).map { _ =>
      val t0 = Clock.now()
      sc.parallelize(Seq(1), 1).count()
      (Clock.now() - t0) * 1e3
    }
    var sink = 0L
    val cpuMs = (1 to 3).map { _ =>
      val t0 = Clock.now()
      var x = 1L
      var i = 0
      while (i < 100000000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        i += 1
      }
      sink ^= x
      (Clock.now() - t0) * 1e3
    }
    Map("job_overhead_ms" -> median(jobMs), "cpu_ms" -> median(cpuMs),
      "cpu_checksum" -> sink)
  }
}
