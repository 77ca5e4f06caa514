package graft.streaming

import java.io.IOException
import java.util.concurrent.{CompletionException, ExecutorService, Executors}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.sql.types.StructType

import graft.sources.Parquet

/** The one way a `foreachBatch` applier keeps state: parquet directories
  * that the applier itself writes, read back with the schema it knows it
  * wrote, each new version replacing the last through [[swap]], a version
  * or rows that may become visible only after another write commits
  * installed through [[afterCommit]] (the rows as a staged append), and
  * additive per-epoch state kept as a ledger through [[accrete]].
  *
  * '''read''' (`read(spark, path, schema)`): ONLY a missing directory is
  * `None`, the first batch. A directory that exists but holds no data
  * files, or whose files lack a column of `schema` (state written in
  * another layout), fails the batch on the driver with no job; a corrupt
  * part file fails the first job that scans it, before that job's write
  * commits anything. Reading a missing state as empty instead would
  * silently drop it: disable cross-batch dedup, restart versions at 1.
  *
  * '''swap''' (`swap(df, path)`) replaces `path` with `df` in four steps:
  *  1. write `df` to the hidden sibling `.<name>.staged` (the stage);
  *  2. rename the live directory aside to `.<name>.aside`;
  *  3. rename the staged copy in;
  *  4. delete the aside copy (steps 2-4 are the install).
  * An applier whose new version may become visible only after another of
  * its writes commits hands that write to [[afterCommit]], which stages
  * while it runs and installs after. Every rename is checked: a rename
  * that returns false fails the batch, and when step 3 fails the aside
  * copy is renamed back, so the previous version stays readable. A crash
  * leaves one of three torn states, and [[read]] and every stage repair
  * each before they touch `path`:
  *  - staged only (crash in step 1 or 2, or before the install began):
  *    the live directory, if any, is still the previous version and is
  *    used; the next stage overwrites the staged copy. That holds for a
  *    complete staged copy with no live directory too — a first version
  *    never installed, whose [[afterCommit]] write may have failed: the
  *    batch that staged it is replayed and stages it again;
  *  - live moved aside (crash before step 3): the install got past step 2,
  *    so the write it waited for had committed, and the staged copy is
  *    complete (it has Hadoop's `_SUCCESS` marker) — it is installed, and
  *    the batch that wrote it is replayed against its own result, which
  *    every applier here treats as already applied. Without a complete
  *    staged copy the aside copy is renamed back;
  *  - installed, aside copy not yet deleted (crash before step 4): the
  *    aside copy is deleted.
  * So a reader never mistakes a torn swap for a first batch. Readers other
  * than the applier see the previous or the new version, except between
  * steps 2 and 3, when `path` is briefly missing.
  *
  * '''staged append''' ([[afterCommit]] with `append = true`) adds rows
  * to `path` only after another write commits: they are written to the
  * hidden sibling `.<name>.append` while that write runs, and the install
  * moves its data files into `path`, one checked rename each — or renames
  * the whole sibling in when `path` does not exist yet — then deletes the
  * sibling. Part-file names are unique per write job, so a move never
  * overwrites. The repair deletes a leftover `.append` sibling whatever it
  * holds: a crash can leave it complete while the write it waited for
  * never committed, so installing it could publish rows ahead of the rows
  * they stand for. The replayed batch stages them again. After a crash
  * partway through an install the rows already moved stay, and the
  * applier's replay must treat them as applied (exact dedup drops their
  * documents as seen; its corpus already holds them).
  *
  * '''accrete''' (`accrete(rows, path, epoch, keys, fold)`) keeps
  * additive per-epoch state as a ledger: `rows` are stamped with
  * `batch_id = epoch` and appended; every [[FoldEvery]]-th epoch the
  * committed epochs fold into one `batch_id = -1` row per key, swapped in
  * by [[swap]] with the in-flight epoch's rows kept verbatim; the result
  * is the ledger folded per key. A replayed epoch re-appends byte-identical
  * rows (deterministic aggregation of the same input), which the read drops
  * by `(batch_id, keys)`; only the in-flight epoch can replay, and it is
  * never folded, so re-running a compaction gives the same ledger. `fold`
  * must be associative and commutative over committed rows (sums; HLL
  * registers fold by max).
  *
  * Single writer: each state directory belongs to one serial
  * `foreachBatch`. The protocol assumes an atomic directory rename (HDFS,
  * POSIX file systems; on an object store use a table format). */
private[graft] object StateDir {

  /** Committed epochs fold into the ledger's `batch_id = -1` rows at every
    * epoch divisible by this, keeping an [[accrete]] ledger at about
    * (keys + `FoldEvery` epochs) rows instead of growing with every batch. */
  val FoldEvery = 8

  /** `path` as the applier wrote it, repairing a torn [[swap]] first;
    * `None` only when there is no state (the contract above). */
  def read(spark: SparkSession, path: String, schema: StructType): Option[DataFrame] = {
    val live = new Path(path)
    val fs = recover(spark, live)
    if (!fs.exists(live)) None
    else {
      val df = spark.read.schema(schema).parquet(path)
      val files = df.inputFiles
      if (files.isEmpty)
        throw new IOException(s"state path $path exists but holds no data files")
      val written = Parquet.footerSchema(spark, files.head).fieldNames
      val missing = schema.fieldNames.filterNot(written.contains)
      if (missing.nonEmpty)
        throw new IOException(
          s"state path $path lacks columns ${missing.mkString(", ")}: written in another layout")
      Some(df)
    }
  }

  /** Replaces `path` with `df` (the four steps above). */
  def swap(df: DataFrame, path: String): Unit = {
    stage(df, path)
    install(df.sparkSession, path)
  }

  /** Writes `df` as `path`'s next version (a [[swap]], `append = false`)
    * or as rows to add to it (the staged append, `append = true`) while
    * `first` runs, and installs it once `first` has returned, its write
    * committed. The staging write runs on a pool thread that carries this
    * thread's session, job group and job tags, so stopping the query
    * cancels its running job too. It is waited for before the call
    * returns or throws, even when this thread is interrupted, so no write
    * of the batch outlives it (after a stop, a staging write that had not
    * started its job yet runs to its end first). A failure of either
    * fails the call, and then nothing is installed. */
  def afterCommit[A](df: DataFrame, path: String, append: Boolean)(first: => A): A = {
    val spark = df.sparkSession
    val staged = GraftPlanBridge.captured(spark, pool)(
      if (append) stageAppend(df, path) else stage(df, path))
    // join, unlike get, waits through an interrupt and keeps the flag set
    val a = try first catch { case e: Throwable =>
      try staged.join() catch { case s: CompletionException => e.addSuppressed(s.getCause) }
      throw e
    }
    try staged.join() catch { case e: CompletionException => throw e.getCause }
    if (append) installAppend(spark, path) else install(spark, path)
    a
  }

  /** Step 1 of [[swap]]: writes `df` to `path`'s staged sibling. */
  private def stage(df: DataFrame, path: String): Unit = {
    val live = new Path(path)
    recover(df.sparkSession, live)
    df.write.mode("overwrite").parquet(siblings(live)._1.toString)
  }

  /** Steps 2-4 of [[swap]]: installs the copy [[stage]] wrote. */
  private def install(spark: SparkSession, path: String): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (staged, aside) = siblings(live)
    if (!fs.exists(new Path(staged, "_SUCCESS")))
      throw new IOException(s"state swap: no complete staged copy at $staged")
    val moved = fs.exists(live)
    if (moved) rename(fs, live, aside)
    if (!fs.rename(staged, live)) {
      if (moved) fs.rename(aside, live)
      throw new IOException(s"state swap: could not rename $staged to $live")
    }
    if (moved && !fs.delete(aside, true))
      throw new IOException(s"state swap: could not delete $aside")
  }

  /** Writes `df` to `path`'s `.append` sibling (the staged append above). */
  private def stageAppend(df: DataFrame, path: String): Unit = {
    val live = new Path(path)
    recover(df.sparkSession, live)
    df.write.mode("overwrite").parquet(appendSibling(live).toString)
  }

  /** Moves the rows [[stageAppend]] wrote into `path`. */
  private def installAppend(spark: SparkSession, path: String): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val append = appendSibling(live)
    if (!fs.exists(new Path(append, "_SUCCESS")))
      throw new IOException(s"state append: no complete staged append at $append")
    if (!fs.exists(live)) rename(fs, append, live)
    else {
      fs.listStatus(append).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .foreach(p => rename(fs, p, new Path(live, p.getName)))
      if (!fs.delete(append, true))
        throw new IOException(s"state append: could not delete $append")
    }
  }

  /** Runs the staging writes of [[afterCommit]], a thread per write in
    * flight, idle threads reused. Daemon threads, so the pool never keeps
    * a JVM up. */
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-state-staging")
    t.setDaemon(true)
    t
  }

  /** Appends `rows` to the ledger at `path` as epoch `epoch` and returns
    * the ledger folded per `keys`: one row per key, every other column of
    * `rows` folded by `fold` (the contract above). */
  def accrete(rows: DataFrame, path: String, epoch: Long, keys: Seq[String],
              fold: String => Column = c => sum(col(c))): DataFrame = {
    val spark = rows.sparkSession
    // repair a torn compaction first: an append would recreate a missing
    // ledger, and the repair would then drop its aside copy
    recover(spark, new Path(path))
    val stamped = rows.withColumn("batch_id", lit(epoch))
    stamped.write.mode("append").parquet(path)
    val values = rows.columns.filterNot(keys.contains)
    def folded(ledger: DataFrame): DataFrame =
      ledger.groupBy(keys.map(col): _*)
        .agg(fold(values.head).as(values.head), values.tail.map(c => fold(c).as(c)): _*)
    def ledger = read(spark, path, stamped.schema).getOrElse(
      throw new IOException(s"ledger $path is missing after an append"))
      .dropDuplicates("batch_id" +: keys)
    if (epoch > 0 && epoch % FoldEvery == 0) {
      val all = ledger
      // folded rows keep the ledger's column types (a sum widens an int)
      swap(folded(all.where(col("batch_id") =!= epoch)).withColumn("batch_id", lit(-1L))
          .select(stamped.schema.map(f => col(f.name).cast(f.dataType)): _*)
          .unionByName(all.where(col("batch_id") === epoch)),
        path)
    }
    folded(ledger)
  }

  /** The hidden staged and aside siblings of `live`. */
  private def siblings(live: Path): (Path, Path) =
    (new Path(live.getParent, s".${live.getName}.staged"),
      new Path(live.getParent, s".${live.getName}.aside"))

  private def appendSibling(live: Path): Path =
    new Path(live.getParent, s".${live.getName}.append")

  /** Repairs a torn [[swap]] of `live` (the three states above), deletes a
    * leftover staged append, and returns `live`'s file system. */
  private def recover(spark: SparkSession, live: Path): FileSystem = {
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (staged, aside) = siblings(live)
    // no aside copy: the install never began, so a complete staged copy
    // may be ahead of the write it waited for and is left to the next stage
    if (!fs.exists(live) && fs.exists(aside)) {
      if (fs.exists(new Path(staged, "_SUCCESS"))) rename(fs, staged, live)
      else rename(fs, aside, live)
    }
    if (fs.exists(aside) && !fs.delete(aside, true))
      throw new IOException(s"state recovery: could not delete $aside")
    val append = appendSibling(live)
    if (fs.exists(append) && !fs.delete(append, true))
      throw new IOException(s"state recovery: could not delete $append")
    fs
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new IOException(s"state swap: could not rename $from to $to")
}
