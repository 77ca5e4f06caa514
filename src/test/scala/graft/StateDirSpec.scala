package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.streaming.{StateDir, StreamingOps}

/** The engine's local file system (`graft.fs`, the class that serves
  * `file:`) under the `crashfs:` scheme. A test arms one
  * trigger on a rename or delete; when it fires, the operation either
  * fails (the rename returns false, once) or crashes: it throws, and so
  * does every later rename and delete until [[CrashFs.reset]], as if the
  * process had died there. A test can also hold renames
  * ([[CrashFs.hold]]). */
class CrashFs extends graft.fs.RawLocalFileSystem {
  override def getUri: URI = CrashFs.Uri
  override def getScheme: String = CrashFs.Uri.getScheme
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.hold(src.toUri.getPath, dst.toUri.getPath)
    CrashFs.admit("rename", src, dst) && super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.admit("delete", p, p)
    super.delete(p, recursive)
  }
}

object CrashFs {
  val Uri: URI = URI.create("crashfs:///")

  /** `(op, src, dst)` of the operation to stop, and whether it crashes. */
  final case class Trigger(hit: (String, String, String) => Boolean, crash: Boolean)

  /** Runs before every rename with its source and destination paths,
    * outside the trigger's lock: a test that must keep a rename from
    * happening before some event waits here. */
  @volatile var hold: (String, String) => Unit = (_, _) => ()

  @volatile private var trigger: Option[Trigger] = None
  @volatile private var crashed = false

  def arm(t: Trigger): Unit = { trigger = Some(t); crashed = false }
  def reset(): Unit = { trigger = None; crashed = false }

  private[graft] def admit(op: String, src: Path, dst: Path): Boolean = synchronized {
    if (crashed) throw new IOException(s"crashfs: $op after the crash")
    trigger match {
      case Some(t) if t.hit(op, src.toUri.getPath, dst.toUri.getPath) =>
        trigger = None
        crashed = t.crash
        if (t.crash) throw new IOException(s"crashfs: crash at $op $src -> $dst")
        false
      case _ => true
    }
  }
}

/** `StateDir`: the torn states of a swap, a failed rename, and the
  * accreting ledger driven without a stream. */
class StateDirSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  // ---- torn swaps --------------------------------------------------------

  private def parentOf(p: String) = p.substring(0, p.lastIndexOf('/'))
  private def nameOf(p: String) = p.substring(p.lastIndexOf('/') + 1)

  /** The torn states a crash in a swap leaves behind. "live moved aside"
    * comes first: it is the one a delete-then-rename swap can also crash
    * into, and that swap then reads the missing directory as no state. */
  private val tornStates = Seq("live moved aside", "staged only", "installed, aside not deleted")

  /** The crash in the swap of the directory `live` (a path without its
    * scheme) that leaves `state` behind. */
  private def torn(state: String, live: String): CrashFs.Trigger = CrashFs.Trigger(
    state match {
      // step 2, moving the live directory aside
      case "staged only" => (op, src, _) => op == "rename" && src == live
      // step 3, renaming the staged copy in
      case "live moved aside" => (op, _, dst) => op == "rename" && dst == live
      // step 4, deleting the aside copy
      case "installed, aside not deleted" => (op, p, _) => op == "delete" &&
        parentOf(p) == parentOf(live) && nameOf(p).startsWith("." + nameOf(live))
    }, crash = true)

  /** The crash (or with `crash = false`, the failed rename) while a write
    * to the directory `out` commits: the job commit moves a part file out
    * of its `_temporary` directory. (A crash in a task's commit is reported
    * as its abort's failure, a delete after the crash.) */
  private def inJobCommit(out: String, crash: Boolean = true): CrashFs.Trigger =
    CrashFs.Trigger((op, src, dst) => op == "rename" && src.startsWith(s"$out/_temporary/") &&
      !dst.contains("/_temporary/"), crash)

  /** Feeds `batches` to the query `start` builds; with `crash`, batch
    * `crashAt` fails at the trigger, with a cause whose message starts with
    * `failure`, and the query restarts from the same checkpoint and
    * source, so that batch replays under the same epoch. */
  private def feed[T: Encoder](batches: Seq[Seq[T]], crashAt: Int,
                               crash: Option[CrashFs.Trigger],
                               failure: String = "crashfs: crash")
                              (start: Dataset[T] => StreamingQuery): Unit = {
    val mem = MemoryStream[T]
    var q = start(mem.toDS())
    try batches.zipWithIndex.foreach { case (b, i) =>
      mem.addData(b: _*)
      if (i == crashAt) crash.foreach { t =>
        CrashFs.arm(t)
        try {
          val e = intercept[StreamingQueryException](q.processAllAvailable())
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(c => String.valueOf(c.getMessage).startsWith(failure)), e)
        } finally { q.stop(); CrashFs.reset() }
        q = start(mem.toDS())
      }
      q.processAllAvailable()
    } finally q.stop()
  }

  test("incremental SCD2 restarted from every torn snapshot swap equals a run with no crash") {
    import StreamingOps.ChangeEvent
    // batch 0 closes an interval of key 1, so its history append has rows
    val batches = Seq(
      Seq(ChangeEvent(1L, 9L, 50L, 0.5), ChangeEvent(1L, 10L, 100L, 1.0),
        ChangeEvent(2L, 20L, 100L, 2.0)),
      Seq(ChangeEvent(1L, 11L, 200L, 1.5), ChangeEvent(3L, 30L, 50L, 3.0),
        ChangeEvent(2L, 20L, 100L, 2.0)),
      Seq(ChangeEvent(1L, 12L, 300L, 1.7), ChangeEvent(2L, 21L, 400L, 2.5),
        ChangeEvent(3L, 31L, 60L, 3.5)))
    /** The run with `crash` armed in batch `crashAt`, failing it with
      * `failure`; `through` (current or history) is the output written
      * through `crashfs:`, where it fires. */
    def run(crash: Option[CrashFs.Trigger], dir: String, crashAt: Int = 1,
            through: String = "current", failure: String = "crashfs: crash")
        : (Seq[String], Seq[String]) = {
      def uri(name: String) = if (name == through) s"crashfs://$dir/$name" else s"$dir/$name"
      feed(batches, crashAt, crash, failure) { ds =>
        StreamingOps.incrementalScd2(ds.toDF("user_id", "event_id", "ts", "value"), "user_id",
          uri("current"), uri("history"), s"$dir/ckpt")
      }
      (rows(spark.read.parquet(s"$dir/current")), rows(spark.read.parquet(s"$dir/history")))
    }
    val (current, history) = run(None, tmp("scd2_ref_"))
    assert(current.size == 3 && history.size == 5)
    // "staged only" is the crash after the history commit, before the install
    val crashes =
      tornStates.map(state => state -> ((dir: String) => run(Some(torn(state, s"$dir/current")),
        dir))) :+
        ("staged write" -> ((dir: String) => run(Some(inJobCommit(s"$dir/.current.staged")),
          dir))) :+
        // the first snapshot is staged in full while the first history
        // append fails (its job commit is aborted, so none of its rows is
        // left to a later commit): the replay must not find it installed
        ("history append of batch 0" -> ((dir: String) => run(
          Some(inJobCommit(s"$dir/history", crash = false)), dir, crashAt = 0,
          through = "history", failure = "Failed to rename")))
    crashes.foreach { case (state, crashed) =>
      val (c, h) = crashed(tmp("scd2_torn_"))
      assert(c == current, state)
      // the snapshot is installed after the history append commits: a crash
      // before the install replays that append (at-least-once history)
      if (state.startsWith("staged") || state.startsWith("history")) {
        assert(h.distinct == history, state)
      } else assert(h == history, state)
    }
  }

  test("incremental exact dedup restarted after a crash in its staged ledger append loses no " +
      "document and never holds a fingerprint without its corpus row") {
    // a part file per shuffle partition, so the install moves several
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.getOption(coalesce)
    spark.conf.set(coalesce, "false")
    // 10 new texts in each of the first two batches; the third repeats the first
    val batches = Seq(0, 1, 2).map(b =>
      (0 until 12).map(i => (b * 100L + i, s"doc ${i % 10} of ${b % 2}")))
    def run(crash: String => Option[CrashFs.Trigger], dir: String)
        : (Seq[String], Seq[String]) = {
      feed(batches, crashAt = 1, crash(dir)) { ds =>
        StreamingOps.incrementalExactDedup(ds.toDF("doc_id", "text"), "doc_id", "text",
          s"$dir/corpus", s"crashfs://$dir/ledger", s"$dir/ckpt")
      }
      val corpus = spark.read.parquet(s"$dir/corpus")
      val ledger = spark.read.parquet(s"$dir/ledger")
      val orphans = ledger.join(
        corpus.select(ops.TextOps.fingerprint(col("text")).as("fp")), Seq("fp"), "left_anti")
      assert(orphans.isEmpty, s"ledger fingerprints without a corpus row: ${rows(orphans)}")
      (rows(corpus), rows(ledger))
    }
    /** The `n`-th rename that moves a staged fingerprint file into the ledger. */
    def installMove(n: Int)(dir: String): CrashFs.Trigger = {
      var seen = 0
      CrashFs.Trigger((op, src, dst) => op == "rename" &&
        src.startsWith(s"$dir/.ledger.append/part-") && dst.startsWith(s"$dir/ledger/") &&
        { seen += 1; seen == n }, crash = true)
    }
    try {
      val (corpus, ledger) = run(_ => None, tmp("xdedup_ref_"))
      assert(corpus.size == 20 && ledger.size == 20)
      Seq[(String, String => CrashFs.Trigger)](
        "staged ledger write" -> (dir => inJobCommit(s"$dir/.ledger.append")),
        "before the ledger install" -> installMove(1),
        "partway through the install" -> installMove(2),
        "before the staged append is deleted" -> (dir => CrashFs.Trigger(
          (op, p, _) => op == "delete" && p == s"$dir/.ledger.append", crash = true))
      ).foreach { case (window, trigger) =>
        val (c, l) = run(dir => Some(trigger(dir)), tmp("xdedup_window_"))
        // the replay may append the batch's documents again, never lose one
        assert(c.distinct == corpus, window)
        assert(l == ledger, window)
      }
    } finally was match {
      case Some(v) => spark.conf.set(coalesce, v)
      case None => spark.conf.unset(coalesce)
    }
  }

  test("read and swap delete a leftover staged append and keep the live rows") {
    val schema = Seq((0L, "")).toDF("id", "v").schema
    Seq[String => Unit](
      live => assert(StateDir.read(spark, live, schema).map(rows).contains(Seq("[1,x]"))),
      live => StateDir.swap(Seq((1L, "x")).toDF("id", "v"), live)
    ).foreach { repairing =>
      val dir = tmp("append_left_")
      val live = s"$dir/state"
      Seq((1L, "x")).toDF("id", "v").write.parquet(live)
      Seq((2L, "y")).toDF("id", "v").write.parquet(s"$dir/.state.append")
      repairing(live)
      assert(!new java.io.File(s"$dir/.state.append").exists())
      assert(rows(spark.read.parquet(live)) == Seq("[1,x]"))
    }
  }

  test("afterCommit waits for the staging write when the first write fails on an " +
      "interrupted thread, and installs nothing") {
    val dir = tmp("after_commit_")
    val e = intercept[IllegalStateException](
      StateDir.afterCommit(spark.range(0, 1000, 1, 4).toDF("id"), s"$dir/state",
          append = false) {
        // what a query's stop() does to the batch thread
        Thread.currentThread().interrupt()
        throw new IllegalStateException("first write failed")
      })
    assert(Thread.interrupted(), "the interrupt flag stays set")
    assert(e.getMessage == "first write failed")
    assert(new java.io.File(s"$dir/.state.staged/_SUCCESS").exists(),
      "the staging write ended before the call threw")
    assert(!new java.io.File(s"$dir/state").exists())
  }

  test("drift monitor restarted from every torn ledger compaction equals a run with no crash") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val batches = (0 until 10).map { b =>
      Seq((2L * b, Seq.tabulate(4)(j => words((b + j) % 5)).mkString(" "), "a"),
        (2L * b + 1, Seq.tabulate(3)(j => words((2 * b + j * j) % 5)).mkString(" "), "b"))
    }
    // the ledger folds at epoch FoldEvery: crash in that compaction
    val crashAt = StateDir.FoldEvery
    def run(crash: Option[CrashFs.Trigger], dir: String): (Seq[String], Seq[String]) = {
      feed(batches, crashAt, crash) { ds =>
        StreamingOps.incrementalDriftMonitor(ds.toDF("doc_id", "text", "source"), "text",
          "source", s"crashfs://$dir/ledger", s"$dir/report", s"$dir/ckpt")
      }
      (rows(spark.read.parquet(s"$dir/report")), rows(spark.read.parquet(s"$dir/ledger")))
    }
    val ref = tmp("drift_ref_")
    val (report, ledger) = run(None, ref)
    assert(rows(spark.read.parquet(s"$ref/report")
        .select("source", "n_tokens", "n_vocab_source", "kl_vs_corpus")) ==
      rows(ops.TextOps.corpusDriftBySource(
        batches.flatten.toDF("doc_id", "text", "source"), "doc_id", "text", "source")))
    tornStates.foreach { state =>
      val dir = tmp("drift_torn_")
      assert(run(Some(torn(state, s"$dir/ledger")), dir) == ((report, ledger)), state)
    }
  }

  test("cosine top-k view restarted from every torn view swap equals a run with no crash") {
    val rnd = new scala.util.Random(183)
    def jitter(base: Array[Float]) = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val coneA = Array(1.0f, 0.9f, 0.8f, 0.7f)
    val coneB = Array(-1.0f, 0.8f, -0.6f, 0.4f)
    val batches = Seq(
      Seq.tabulate(5)(i => (i.toLong, jitter(coneA))) ++ Seq((100L, jitter(coneB))),
      Seq.tabulate(3)(i => (10L + i, jitter(coneA))) ++ Seq((101L, jitter(coneB))),
      Seq((20L, jitter(coneA)), (102L, jitter(coneB))))
    def run(crash: Option[CrashFs.Trigger], dir: String): (Seq[String], Seq[String]) = {
      feed(batches, crashAt = 1, crash) { ds =>
        StreamingOps.incrementalCosineTopK(ds.toDF("vec_id", "embedding"), "vec_id",
          "embedding", s"$dir/ledger", s"crashfs://$dir/view", s"$dir/ckpt",
          threshold = 0.9, bits = 4, k = 2)
      }
      (rows(spark.read.parquet(s"$dir/view")),
        rows(spark.read.parquet(s"$dir/ledger").select("id")))
    }
    val (view, ledgerIds) = run(None, tmp("ctk_ref_"))
    assert(view == rows(ops.Similarity.cosineNearDupTopK(
      batches.flatten.toDF("vec_id", "embedding"), "vec_id", "embedding",
      threshold = 0.9, bits = 4, k = 2)))
    tornStates.foreach { state =>
      val dir = tmp("ctk_torn_")
      assert(run(Some(torn(state, s"$dir/view")), dir) == ((view, ledgerIds)), state)
    }
  }

  test("a rename that returns false fails the batch and leaves the previous report readable") {
    val dir = tmp("swap_fail_")
    val report = s"$dir/report"
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.incrementalDriftMonitor(mem.toDF().toDF("doc_id", "text", "source"),
      "text", "source", s"$dir/ledger", s"crashfs://$report", s"$dir/ckpt")
    try {
      mem.addData((1L, "alpha beta", "a"), (2L, "beta gamma", "b"))
      q.processAllAvailable()
      val before = rows(spark.read.parquet(report))
      CrashFs.arm(CrashFs.Trigger((op, _, dst) => op == "rename" && dst == report,
        crash = false))
      mem.addData((3L, "gamma delta", "a"))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("could not rename")), e)
      assert(rows(spark.read.parquet(report)) == before)
    } finally { q.stop(); CrashFs.reset() }
  }

  // ---- accrete, driven without a stream ------------------------------------

  /** Epoch `e`'s ledger rows: keys 0..2 with value e + key, key 3 from epoch 4 on. */
  private def epochRows(e: Long): DataFrame =
    (0L to (if (e >= 4) 3L else 2L)).map(k => (k, e + k)).toDF("k", "v")

  private def ledgerRows(path: String): Seq[(Long, Long, Long)] =
    spark.read.parquet(path).select("batch_id", "k", "v").as[(Long, Long, Long)]
      .collect().toSeq.sorted

  private def totals(upTo: Long): Map[Long, Long] =
    (0L to upTo).flatMap(e => epochRows(e).as[(Long, Long)].collect())
      .groupMapReduce(_._1)(_._2)(_ + _)

  private def accrete(path: String, e: Long): Map[Long, Long] =
    StateDir.accrete(epochRows(e), path, e, Seq("k")).as[(Long, Long)].collect().toMap

  test("accrete: at the cadence committed epochs fold into batch_id = -1 rows without " +
      "loss, and the in-flight epoch stays verbatim") {
    val path = tmp("accrete_fold_") + "/ledger"
    val last = StateDir.FoldEvery.toLong
    (0L until last).foreach { e =>
      assert(accrete(path, e) == totals(e), s"epoch $e")
    }
    assert(ledgerRows(path).map(_._1).distinct == (0L until last))
    assert(accrete(path, last) == totals(last))
    val ledger = ledgerRows(path)
    assert(ledger.map(_._1).toSet == Set(-1L, last))
    assert(ledger.filter(_._1 == -1L).map(r => r._2 -> r._3).toMap == totals(last - 1))
    assert(ledger.filter(_._1 == last).map(r => (r._2, r._3)) ==
      epochRows(last).as[(Long, Long)].collect().toSeq.sorted)
  }

  test("accrete: compacting again gives the same ledger, and the read drops a replayed " +
      "epoch's re-appended rows") {
    val path = tmp("accrete_replay_") + "/ledger"
    val last = StateDir.FoldEvery.toLong
    (0L to 2L).foreach(accrete(path, _))
    // epoch 2 replays: its rows are appended twice, counted once
    assert(accrete(path, 2L) == totals(2L))
    assert(ledgerRows(path).count(_._1 == 2L) == 2 * epochRows(2L).count())
    (3L to last).foreach(accrete(path, _))
    val compacted = ledgerRows(path)
    // the epoch that compacted replays: the same ledger, the same totals
    assert(accrete(path, last) == totals(last))
    assert(ledgerRows(path) == compacted)
    // a fold other than a sum: maxima fold to the largest committed value
    val maxPath = tmp("accrete_max_") + "/ledger"
    (0L to last).foreach(e =>
      StateDir.accrete(epochRows(e), maxPath, e, Seq("k"), c => max(col(c))))
    assert(StateDir.accrete(epochRows(0L), maxPath, 0L, Seq("k"), c => max(col(c)))
      .as[(Long, Long)].collect().toMap == (0L to 3L).map(k => k -> (last + k)).toMap)
  }

  test("read installs a complete staged copy when the live directory is missing") {
    val dir = tmp("read_staged_")
    val live = s"$dir/state"
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$dir/.state.staged")
    Seq((0L, "old")).toDF("id", "v").write.parquet(s"$dir/.state.aside")
    val schema = Seq((0L, "")).toDF("id", "v").schema
    val got = StateDir.read(spark, live, schema).map(_.as[(Long, String)].collect().toSeq)
    assert(got.contains(Seq((1L, "x"))))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() == 1,
      "the staged copy moved in and the aside copy is gone")
    // without a complete staged copy the aside copy moves back
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$live/_SUCCESS"))
    val fs = new Path(live).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(live), new Path(s"$dir/.state.aside")))
    assert(StateDir.read(spark, live, schema).map(_.as[(Long, String)].collect().toSeq)
      .contains(Seq((1L, "x"))))
  }
}
