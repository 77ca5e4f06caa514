package graft

import org.apache.spark.sql.{GraftPlanBridge, SparkSession}

/** The engine's one session profile. Every entry point — Bench, Verify,
  * the test session, library users (`Engine.session`) and the dev tools —
  * builds its session here, so the board, the oracle dump, the tests and
  * the plan dumps all run the same conf. Callers add deployment settings
  * (app name, warehouse or local dirs) on the returned builder. */
object Engine {
  /** Local cores: `SPARK_GRAFT_CPUS`, default 4 (the driver contract's). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The conf set at `cores` local cores, one shuffle partition per core. */
  def conf(cores: Int = cpus): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts is a nanosecond parquet timestamp → read as epoch-nanos long
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // r21: let AQE re-plan the output partitioning of cached plans. The
    // engine caches bounded/derived frames (dedup signatures, graph
    // edge/node tables, eval rotations); with the default `false` every
    // cached frame pins the static shuffle.partitions count, so each of
    // an iterative query's ~dozens of stages reads N tiny cached
    // partitions (x8_hits: 95 stages × ~20 tasks at sf0.1). With AQE
    // allowed to size them from runtime bytes the partitioning stays
    // scale-adaptive at every SF. Measured interleaved A/B (min-of-3,
    // OPTIMIZATION_r21.md): x8_hits 6.33→2.67 s, x8_pagerank 5.32→3.03 s,
    // x3_classifier_scores 7.19→2.98 s, no regressions. Results are
    // partition-count-invariant by the engine's determinism discipline.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** A builder carrying `conf(cores)`. */
  def builder(cores: Int = cpus): SparkSession.Builder =
    conf(cores).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** The engine session at `cores` local cores. Spark logging is set to
    * WARN only when this call starts the SparkContext: a session joining a
    * running context keeps that context's log level. */
  def session(cores: Int = cpus): SparkSession = {
    val joined = GraftPlanBridge.activeContext.isDefined
    val spark = builder(cores).getOrCreate()
    if (!joined) spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-query isolation: drop every cached plan and release RDD-level
    * persistence, so each query is timed (or dumped) at its own full
    * cost. Cached plans (round 8): queries sharing session-lifetime
    * operator caches otherwise time as increments over whichever
    * neighbor ran first — x1_dedup_pipeline read 1.3 s warm vs 2.2 s
    * cold. RDD persistence (round 18): localCheckpoint blocks are not
    * cache-manager entries and would otherwise linger until driver GC
    * lets ContextCleaner run, accumulating dead blocks over a board. */
  def isolate(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(GraftPlanBridge.unpersist)
  }
}
