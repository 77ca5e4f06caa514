package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge for constructing a DataFrame from a custom logical plan —
  * `Dataset.ofRows` is private[sql], which is the supported seam for
  * libraries that add their own plan nodes (same approach as delta/iceberg
  * connectors). Lives in the org.apache.spark.sql package for access; no
  * Spark internals are modified. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ Expression seam (private[sql] in Spark) — lets the engine's
    * custom codegen expressions compose as ordinary `Column`s without
    * requiring function registration at every call site. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Blocks until the listener bus has delivered every posted event
    * (`waitUntilEmpty` is private[spark]): a listener read right after an
    * action otherwise misses that action's last job events. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The running SparkContext, if any, without creating one
    * (`SparkContext.getActive` is private[spark]). */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive

  /** `df`'s rows backed by their own RDD persisted at `level`, and that
    * RDD. `toRdd` runs the jobs that cut `df`'s plan into stages (shuffle
    * maps, broadcasts) now; the final stage runs inside the first action
    * on the returned DataFrame, which stores the rows as it computes them,
    * so no separate job fills a cache. The RDD keeps its lineage: a lost
    * block is recomputed, as with `Dataset.persist`, where a local
    * checkpoint's lost block would fail the job. The caller unpersists it. */
  def persisted(df: DataFrame, level: org.apache.spark.storage.StorageLevel)
      : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    (classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false)), rdd)
  }

  /** Runs `body` on `exec` with this thread's session, local properties
    * (job group, job tags, SQL execution id) and artifact state
    * (`SQLExecution.withThreadLocalCaptured`, whose session is the classic
    * one): a job it starts is cancelled with the caller's job group. */
  def captured[T](spark: SparkSession, exec: java.util.concurrent.ExecutorService)
                 (body: => T): java.util.concurrent.CompletableFuture[T] =
    execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], exec)(body)

  /** Whole-stage and expression classes compiled by Janino in this JVM so
    * far (the count of `CodegenMetrics.METRIC_COMPILATION_TIME`). */
  def codegenCompilations: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Releases `rdd`'s persisted blocks. A locally-checkpointed RDD is
    * released through `SparkContext.unpersistRDD` (private[spark]), which
    * does what `RDD.unpersist` does without its warning that the RDD's
    * truncated lineage cannot be recomputed: each query's checkpoints are
    * dead once the query is done. The check is `RDD.isLocallyCheckpointed`'s
    * own, which is private[rdd]. */
  def unpersist(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false): Unit
}
