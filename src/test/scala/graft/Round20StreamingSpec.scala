package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.StateEvent

/** Round-20 streaming hardening, closing the two r19-verdict residues:
  *
  *  - RocksDB state-store runs for the REMAINING ledger mirrors (shard
  *    exactly-once txn, incremental PageRank end-to-end, HLL, DoReMi
  *    reweighting, DSIR). Of these only PageRank carries streaming keyed
  *    state (its statefulTransitionEdges core); the others are stateless
  *    foreachBatch pipelines today — the runs pin provider portability so
  *    a future stateful refactor (a dropDuplicates watermark, a
  *    mapGroupsWithState dedup) cannot silently become HDFS-provider-only.
  *
  *  - torn-window crash fixtures for the two staged-rename protocols
  *    that had replay tests but not the window-specific kill: the shard
  *    txn's stage-then-rename (crash DURING staging leaves `.tmp`
  *    residue) and compactAnnIndex's two-rename swap (crash BETWEEN the
  *    renames leaves the cell dir in trash and staging on disk). */
class Round20StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def withRocksDb(f: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  // ---- RocksDB provider runs (r19 verdict item 5) -------------------

  test("incremental pagerank end-to-end on the RocksDB state store — " +
      "maintained ranks equal batch bit-for-bit") { withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val ledger = tmp("graft_pr_rocks_e") + "/edges"
    val ranks = tmp("graft_pr_rocks_r") + "/ranks"
    val ckpt = tmp("graft_pr_rocks_c")
    val events = (0 until 30).map { i =>
      StateEvent(user = i % 3, order = i, tie = 0, state = (i * 7 % 5).toLong)
    }
    val mem = MemoryStream[StateEvent]
    val q = StreamingOps.incrementalPagerank(mem.toDS(), ledger, ranks, ckpt,
      iters = 5)
    events.grouped(10).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val batchEdges = ops.GraphOps.transitionEdges(
      events.toDF(), "user", Seq(col("order"), col("tie")), col("state"))
    val want = ops.GraphOps.pagerank(batchEdges, iters = 5)
      .as[(Long, Double)].collect().toSet
    val got = spark.read.parquet(ranks)
      .select(col("node"), col("rank")).as[(Long, Double)].collect().toSet
    assert(got == want)
  }}

  test("txn shard accretion runs under the RocksDB provider") { withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("graft_shard_rocks")
    val ckpt = tmp("graft_shard_rocks_ckpt")
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingOps.incrementalShardAssignTxn(
      mem.toDF().toDF("doc_id", "n_chars"), "doc_id", "n_chars",
      shards = 4, root, ckpt)
    mem.addData((1L, 900L), (2L, 100L), (3L, 100L), (4L, 100L), (5L, 80L))
    q.processAllAvailable()
    mem.addData((6L, 500L), (7L, 450L), (8L, 60L), (9L, 40L))
    q.processAllAvailable()
    q.stop()
    val m = StreamingOps.txnShardManifest(spark, root)
    assert(m.count() == 9 && m.select("doc_id").distinct().count() == 9)
    val perShard = m.groupBy(col("shard")).agg(sum(col("n_tokens")).as("t"))
      .as[(Long, Long)].collect().toMap
    assert(StreamingOps.txnShardTotals(spark, root)
      .as[(Long, Long)].collect().toMap == perShard)
  }}

  test("incremental HLL registers run under the RocksDB provider — " +
      "estimate equals batch sketch") { withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val ledger = tmp("graft_hll_rocks") + "/regs"
    val report = tmp("graft_hll_rocks_rep") + "/report"
    val ckpt = tmp("graft_hll_rocks_ckpt")
    val full = sources.Tables.documents(spark, sf001)
      .select(col("source"), explode(ops.TextOps.tokens(col("text"))).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val mem = MemoryStream[(String, String)]
    val q = StreamingOps.incrementalHllDistinct(
      mem.toDF().toDF("source", "tok"), "source", col("tok"),
      ledger, report, ckpt)
    full.grouped((full.size + 1) / 2).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val batchToks = sources.Tables.documents(spark, sf001)
      .select(col("source"), explode(ops.TextOps.tokens(col("text"))).as("tok"))
    val want = ops.HyperLogLog.estimate(
        ops.HyperLogLog.registers(batchToks, "source", col("tok")), "source")
      .select(col("source"), col("estimate")).as[(String, Double)].collect().toSet
    val got = spark.read.parquet(report)
      .select(col("source"), col("estimate")).as[(String, Double)].collect().toSet
    assert(got == want)
  }}

  test("incremental DoReMi reweighting runs under the RocksDB provider — " +
      "weights equal batch") { withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val countLedger = tmp("graft_rw_rocks_c") + "/counts"
    val statsLedger = tmp("graft_rw_rocks_s") + "/stats"
    val docLedger = tmp("graft_rw_rocks_d") + "/docs"
    val report = tmp("graft_rw_rocks_r") + "/report"
    val resampled = tmp("graft_rw_rocks_o") + "/resampled"
    val ckpt = tmp("graft_rw_rocks_ckpt")
    val loss = lit(1.0) - least(col("n_chars").cast("double") / lit(200.0), lit(1.0))
    val full = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = StreamingOps.incrementalReweightingPipeline(
      mem.toDF().toDF("doc_id", "text", "source", "n_chars"), "doc_id", "text",
      "source", loss, countLedger, statsLedger, docLedger, report, resampled, ckpt)
    full.grouped((full.size + 1) / 2).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val batchDocs = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val wantW = ops.Curation.doremiWeights(batchDocs, "source", loss)
      .select(col("source"), col("weight")).as[(String, Double)].collect().toSet
    val gotW = spark.read.parquet(report)
      .select(col("source"), col("weight")).as[(String, Double)].collect().toSet
    assert(gotW == wantW)
  }}

  test("incremental DSIR selection runs under the RocksDB provider — " +
      "top-k equals batch") { withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val countLedger = tmp("graft_dsir_rocks_c") + "/counts"
    val docLedger = tmp("graft_dsir_rocks_d") + "/docs"
    val selected = tmp("graft_dsir_rocks_o") + "/selected"
    val ckpt = tmp("graft_dsir_rocks_ckpt")
    val full = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.incrementalDsirSelect(
      mem.toDF().toDF("doc_id", "text", "lang"), "doc_id", "text",
      col("lang") === "en", countLedger, docLedger, selected, ckpt, topK = 50)
    full.grouped((full.size + 1) / 2).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val batchDocs = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("lang"))
    val want = ops.Curation.dsirWeights(batchDocs, "text", col("lang") === "en")
      .orderBy(col("weight").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), col("weight")).as[(Long, Double)].collect().toSet
    val got = spark.read.parquet(selected)
      .select(col("doc_id"), col("weight")).as[(Long, Double)].collect().toSet
    assert(got == want)
  }}

  // ---- torn-window crash fixtures (r19 verdict item 6) --------------

  test("shard txn: a crash DURING staging (stale .tmp residue, rename " +
      "never happened) replays to the same exactly-once state") {
    val root = tmp("graft_shard_torn")
    def batchDf(rows: (Long, Long)*) = rows.toDF("doc_id", "n_chars")
    assert(StreamingOps.shardAssignCommit(
      batchDf((1L, 900L), (2L, 100L), (3L, 100L), (4L, 100L), (5L, 80L)),
      0L, "doc_id", "n_chars", 4, root))
    // crash mid-stage of epoch 1: a partial .tmp-1 with WRONG content is
    // on disk (the write died partway); no rename, no commit-1
    val staging = new java.io.File(s"$root/.tmp-1/manifest")
    assert(staging.mkdirs())
    Seq((999L, 999L, 0L)).toDF("doc_id", "n_tokens", "shard")
      .write.mode("overwrite").parquet(staging.toString)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/.tmp-1/garbage.bin"), "torn")
    // replay of epoch 1 must discard the residue and commit cleanly
    assert(StreamingOps.shardAssignCommit(
      batchDf((6L, 500L), (7L, 450L), (8L, 60L), (9L, 40L)),
      1L, "doc_id", "n_chars", 4, root))
    val m = StreamingOps.txnShardManifest(spark, root)
    assert(m.count() == 9 && m.select("doc_id").distinct().count() == 9)
    assert(!m.select("doc_id").as[Long].collect().contains(999L),
      "stale staging rows must never reach the committed manifest")
    val perShard = m.groupBy(col("shard")).agg(sum(col("n_tokens")).as("t"))
      .as[(Long, Long)].collect().toMap
    assert(StreamingOps.txnShardTotals(spark, root)
      .as[(Long, Long)].collect().toMap == perShard,
      "ledger and manifest must move together through the torn replay")
    // no residue survives the successful commit
    assert(!new java.io.File(s"$root/.tmp-1").exists())
  }

  test("ANN index compaction: a crash BETWEEN the two renames (cell in " +
      "trash, staging on disk) recovers losslessly via the documented " +
      "restore + re-run") {
    implicit val sqlCtx = spark.sqlContext
    val index = tmp("graft_ann_torn") + "/index"
    val ckpt = tmp("graft_ann_torn_ckpt")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.incrementalAnnIndex(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, index, ckpt)
    for (b <- 0 until 5) {
      mem.addData((10L * b + 1L, Seq(0.9, 0.1 * b)))
      if (b == 0) mem.addData((2L, Seq(0.1, 0.8)))
      q.processAllAvailable()
    }
    q.stop()
    val before = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toSet
    // reproduce the exact torn state compactAnnIndex can crash into:
    // staging written, first rename done (cell=0 → .trash-cell=0),
    // second rename never happened — cell=0 is GONE from the live layout
    val fs = new org.apache.hadoop.fs.Path(index)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellDir = new org.apache.hadoop.fs.Path(s"$index/cell=0")
    val stagingDir = new org.apache.hadoop.fs.Path(s"$index/.compact-cell=0")
    val trashDir = new org.apache.hadoop.fs.Path(s"$index/.trash-cell=0")
    spark.read.parquet(cellDir.toString).repartition(1)
      .write.mode("overwrite").parquet(stagingDir.toString)
    assert(fs.rename(cellDir, trashDir))
    // nothing was lost: both directories are on disk (hidden names, so a
    // concurrent reader sees a missing cell, not corrupt data)
    assert(fs.exists(stagingDir) && fs.exists(trashDir) && !fs.exists(cellDir))
    // documented recovery: restore the cell dir from trash, re-run the
    // compaction (it deletes stale staging/trash itself before staging)
    assert(fs.rename(trashDir, cellDir))
    val report = StreamingOps.compactAnnIndex(spark, index, maxFilesPerCell = 2)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(report(0L)._3 == 1L, s"cell 0 must compact after recovery: $report")
    val after = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toSet
    assert(after == before, "recovery + re-run must be lossless")
    val residue = new java.io.File(index).listFiles()
      .map(_.getName).filter(n => n.startsWith(".compact") || n.startsWith(".trash"))
    assert(residue.isEmpty, residue.toSeq.toString)
  }
}
