package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed loaders for the driver testdata (TESTDATA.md / FIXTURES.md §A).
  *
  * All tables are single parquet files per scale factor. Loaders are thin
  * on purpose: a plain parquet scan keeps the plan declarative so Catalyst
  * pushes filters/column pruning into the parquet reader — at 100 TB the
  * same call reads a partitioned directory tree and partition pruning
  * applies unchanged.
  *
  * Every loader reads through [[Parquet.read]]: the schema comes from the
  * table file's footer, read on the driver with the session conf at call
  * time, and is passed to `spark.read.schema(...)`. So building a frame
  * over a table runs no Spark job — a bare `spark.read.parquet` runs one
  * per table to infer the same schema — and a query's first job is its
  * own.
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** Scratch tag for the roundtrip queries' external writes: data-dir ×
    * session. The session UUID isolates the /tmp paths and catalog table
    * names per SparkSession, so two concurrent sessions on the same
    * machine/dataset cannot overwrite files the other is mid-read on
    * (each also re-registering catalog entries the other resolves). The
    * cost is one fresh write per session rather than cross-session reuse
    * — these are correctness fixtures, not shared caches. */
  def scratchTag(spark: SparkSession, dir: String): String = {
    // applicationId isolates JVMs (each concurrent process is its own
    // SparkContext); the identity hash distinguishes sibling sessions
    // within one JVM (sessionUUID would be ideal but is private[sql]).
    val token = spark.sparkContext.applicationId + "_" +
      java.lang.Integer.toHexString(java.lang.System.identityHashCode(spark))
    // no dots: the tag feeds saveAsTable names, where '.' splits
    // schema.table
    (dir + "_" + token).replaceAll("[^A-Za-z0-9]", "_")
  }

  def region(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** The CDC/stream table (FIXTURES.md: event_id pk, ts event-time,
    * user_id session key, value metric, props JSON).
    *
    * `ts` is normalized to epoch-nanos bigint regardless of how the file
    * stores it — lossless, totally ordered, and exactly DuckDB's
    * `epoch_ns(ts)`, which is what every oracle uses. Two generator
    * vintages exist: a nanosecond parquet timestamp (which Spark's
    * vectorized reader only accepts via `nanosAsLong`, already bigint ns)
    * and a microsecond timestamp (read as a timestamp column and scaled
    * here; sessions pin UTC so the wall-time→instant cast is exact).
    * Event-time ops derive a µs timestamp via `ts div 1000`. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(t(spark, dir, "events"))
  }

  /** Coerce an events-shaped frame's `ts` to epoch-nanos bigint (no-op if
    * already long). Exposed separately so file-STREAM readers — which must
    * pass the RAW file schema to `readStream.schema(...)` — can apply the
    * same normalization after the scan. Pure projection: pipelines into
    * the scan, never a shuffle. */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }

  /** Transition-table view over lineitem, modelling the reference's
    * ReplayBuffer ingest contract (S1, reference fawac.py:56-73):
    * reward/cost scaled on ingest, done = or-of-two-flags as 0/1 double.
    * Column-name contract enforced (reference fawac.py:56-69 requires its
    * d4rl keys; here we require the lineitem columns we map from). */
  def transitions(spark: SparkSession, dir: String,
                  rewardScale: Double = 0.1, costScale: Double = 10.0): DataFrame = {
    val li = lineitem(spark, dir)
    val required = Seq("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
    val missing = required.filterNot(li.columns.contains)
    require(missing.isEmpty, s"ingest contract violated, missing: $missing")
    li.select(
      col("l_orderkey").as("episode_id"),
      col("l_linenumber").as("t"),
      col("l_quantity").as("state0"),
      col("l_extendedprice").multiply(lit(rewardScale)).as("reward"),
      col("l_discount").multiply(lit(costScale)).as("cost"),
      (col("l_returnflag") === lit("R") || col("l_linestatus") === lit("F"))
        .cast("double").as("done"))
  }

  /** S9 — orders + customer re-materialized as bucketed tables on the
    * customer key (external path under /tmp, session catalog only). With
    * equal bucket counts on both sides, every later equi-join on the key
    * reads bucket-to-bucket with no shuffle exchange — the write-time
    * shuffle is paid ONCE and amortized across all downstream joins,
    * which is the standard layout for a fact table a 100 TB pipeline
    * joins repeatedly. 8 buckets here ≈ the sf0.01 parallelism; at scale
    * the count is sized so one bucket ≈ one task's memory budget. */
  private val bucketedDone =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def bucketedOrdersCustomer(spark: SparkSession, dir: String,
                             buckets: Int = 8): (DataFrame, DataFrame) = {
    val tag = scratchTag(spark, dir)
    val base = s"/tmp/graft_s9_buck_$tag"
    val oT = s"graft_s9_orders_$tag"
    val cT = s"graft_s9_customer_$tag"
    // write-once per (session, dir): the layout is immutable input data,
    // so repeated construction (e.g. bench min-of-3 passes) reuses the
    // already-written tables instead of paying the bucket shuffle again
    val key = s"$tag/$buckets"
    if (bucketedDone.add(key)) {
      try {
        orders(spark, dir).write.mode("overwrite")
          .option("path", s"$base/orders")
          .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
          .saveAsTable(oT)
        customer(spark, dir).write.mode("overwrite")
          .option("path", s"$base/customer")
          .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
          .saveAsTable(cT)
      } catch { case t: Throwable => bucketedDone.remove(key); throw t }
    }
    (spark.table(oT), spark.table(cT))
  }

  /** Small-file compaction for a bucketed table: streaming appends add up
    * to one file per (bucket, task) per micro-batch
    * ([[graft.streaming.StreamingOps.incrementalBucketedSink]]), and scan
    * cost grows with file COUNT long before it grows with bytes. This
    * rewrites the table into `dstName`/`dstPath` under the SAME bucket
    * spec with ZERO shuffle: forcing the bucketed scan makes each read
    * task exactly one bucket (all its fragment files), which the bucketed
    * write then lands as one file. The obvious
    * `repartition(buckets, key)` form does NOT work — the optimizer
    * elides the repartition (the table already carries that
    * partitioning), the planner then sees no operator needing the
    * distribution and disables the bucketed scan, and the write inherits
    * arbitrary file-packed partitions with buckets scattered across
    * every task (observed: MORE files out than a plain rewrite). Hence
    * the explicit autoBucketedScan pin, restored after the write. Writes
    * to a NEW location because Spark (correctly) refuses to overwrite a
    * path it is reading; the atomic name swap is the deployment's move. */
  def compactBucketedTable(spark: SparkSession, srcName: String,
                           dstName: String, dstPath: String,
                           bucketCol: String, buckets: Int): DataFrame = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      spark.table(srcName)
        .write.mode("overwrite")
        .option("path", dstPath)
        .bucketBy(buckets, bucketCol).sortBy(bucketCol)
        .saveAsTable(dstName)
    } finally spark.conf.set(key, prev)
    spark.table(dstName)
  }
}
