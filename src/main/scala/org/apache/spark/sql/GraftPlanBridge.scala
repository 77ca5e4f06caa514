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
