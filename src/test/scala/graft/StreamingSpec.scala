package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{KeyedValue, EmaOut}

/** Streaming/CDC semantics (SURVEY.md §2.7): stateful EMA, session
  * windows, latest-state compaction, ingest guards. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("stateful EMA (batch dataset) matches the fold recurrence") {
    val ds = Seq(KeyedValue(1L, 0L, 0L, 10.0), KeyedValue(1L, 1L, 1L, 20.0),
      KeyedValue(1L, 2L, 2L, 30.0), KeyedValue(2L, 0L, 3L, 5.0)).toDS()
    val got = StreamingOps.statefulEma(ds, 0.5).collect()
      .groupBy(_.key).view.mapValues(_.sortBy(_.order).map(_.ema).toSeq).toMap
    assert(got(1L) == Seq(10.0, 15.0, 22.5))
    assert(got(2L) == Seq(5.0))
  }

  test("stateful EMA tie-breaks equal order values by the tie column") {
    val ds = Seq(KeyedValue(1L, 5L, 2L, 30.0), KeyedValue(1L, 5L, 1L, 20.0),
      KeyedValue(1L, 0L, 0L, 10.0)).toDS()
    val got = StreamingOps.statefulEma(ds, 0.5).collect()
      .sortBy(r => (r.order, r.tie)).map(_.ema).toSeq
    // fold order (0,0)→(5,1)→(5,2): 10, 15, 22.5 — NOT value-arrival order
    assert(got == Seq(10.0, 15.0, 22.5))
  }

  test("stateful EMA over a MemoryStream carries state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KeyedValue]
    val q = StreamingOps.statefulEma(mem.toDS(), 0.5)
      .writeStream.format("memory").queryName("ema_out").outputMode("append").start()
    mem.addData(KeyedValue(1L, 0L, 0L, 10.0))
    q.processAllAvailable()
    mem.addData(KeyedValue(1L, 1L, 1L, 20.0)) // second micro-batch: state must persist
    q.processAllAvailable()
    val got = spark.table("ema_out").as[EmaOut].collect().sortBy(_.order).map(_.ema).toSeq
    q.stop()
    assert(got == Seq(10.0, 15.0))
  }

  test("changelog stream classifies I/U/N with state carried across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.ChangeEvent]
    val q = StreamingOps.changelogStream(mem.toDS())
      .writeStream.format("memory").queryName("chg_out").outputMode("append").start()
    mem.addData(
      StreamingOps.ChangeEvent(1L, 10L, 100L, 5.0),
      StreamingOps.ChangeEvent(1L, 11L, 200L, 5.0))
    q.processAllAvailable()
    // second micro-batch: key 1's last value (5.0) must persist in state
    mem.addData(
      StreamingOps.ChangeEvent(1L, 12L, 300L, 6.0),
      StreamingOps.ChangeEvent(2L, 20L, 100L, 1.0))
    q.processAllAvailable()
    val got = spark.table("chg_out").as[StreamingOps.ChangeOp].collect()
      .sortBy(r => (r.key, r.eventId)).map(r => (r.key, r.op, r.oldValue)).toSeq
    q.stop()
    assert(got == Seq(
      (1L, "I", None), (1L, "N", Some(5.0)), (1L, "U", Some(5.0)),
      (2L, "I", None)))
  }

  test("incremental SCD2: closed history + snapshot equal the batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scd2_").toString
    val (cur, hist, ckpt) = (s"$dir/current", s"$dir/history", s"$dir/ckpt")
    val mem = MemoryStream[StreamingOps.ChangeEvent]
    val q = StreamingOps.incrementalScd2(
      mem.toDS().toDF("user_id", "event_id", "ts", "value"),
      "user_id", cur, hist, ckpt)
    mem.addData(
      StreamingOps.ChangeEvent(1L, 10L, 100L, 5.0),
      StreamingOps.ChangeEvent(1L, 11L, 200L, 6.0),
      StreamingOps.ChangeEvent(2L, 20L, 100L, 1.0))
    q.processAllAvailable()
    mem.addData(
      StreamingOps.ChangeEvent(1L, 12L, 300L, 7.0), // closes key 1's open row
      StreamingOps.ChangeEvent(3L, 30L, 50L, 9.0),  // new key
      StreamingOps.ChangeEvent(1L, 11L, 200L, 6.0)) // replay: must be dropped
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val snapshot = spark.read.parquet(cur)
    val history = spark.read.parquet(hist)
    assert(snapshot.count() == 3, "one open row per live key")
    assert(history.count() == 2, "two closed versions (key 1 v1, v2)")
    // maintained state must equal the one-shot batch rebuild on the full log
    val allEvents = Seq((1L, 10L, 100L, 5.0), (1L, 11L, 200L, 6.0), (2L, 20L, 100L, 1.0),
      (1L, 12L, 300L, 7.0), (3L, 30L, 50L, 9.0))
      .toDF("user_id", "event_id", "ts", "value")
    val rebuilt = StreamingOps.scd2History(allEvents)
      .select("user_id", "event_id", "valid_from", "valid_to", "state_value", "version")
    val maintained = history.unionByName(snapshot.withColumn("valid_to", lit(null).cast("long")))
      .select("user_id", "event_id", "valid_from", "valid_to", "state_value", "version")
    assert(maintained.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(maintained).isEmpty)
  }

  test("session windows split on gap and close at last+gap") {
    // two bursts 1h apart, 30min gap → two sessions
    val base = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC in µs
    val ev = Seq(
      (1L, (base + 0L) * 1000L, 7L, "click", 1.0, "{}"),
      (2L, (base + 60L * 1000000L) * 1000L, 7L, "click", 2.0, "{}"),
      (3L, (base + 3600L * 1000000L) * 1000L, 7L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = StreamingOps.sessionSums(ev, "30 minutes")
      .orderBy("session_start_us")
      .select("session_value", "session_events", "session_start_us", "session_end_us")
      .as[(Double, Long, Long, Long)].collect().toSeq
    assert(got.size == 2)
    assert(got(0)._1 == 3.0 && got(0)._2 == 2L)
    assert(got(0)._4 == base + 60L * 1000000L + 1800L * 1000000L) // last event + gap
    assert(got(1)._1 == 3.0 && got(1)._2 == 1L)
  }

  test("CDC latest-state keeps newest row per key, tombstones delete types") {
    val ev = Seq(
      (1L, 1000L, 7L, "click", 1.0, "{}"),
      (2L, 2000L, 7L, "purchase", 2.0, "{}"),
      (3L, 1000L, 8L, "click", 1.0, "{}"),
      (4L, 2000L, 8L, "error", 9.0, "{}")) // latest is a delete → key dropped
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = StreamingOps.cdcLatestState(ev)
      .select("user_id", "last_event_id").as[(Long, Long)].collect().toMap
    assert(got == Map(7L -> 2L))
  }

  test("file-stream tumbling aggregation equals the batch result") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft_ev_stream")
    Files.copy(Paths.get(s"$sf001/events.parquet"), tmp.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // readStream needs the RAW file schema; normalize ts afterwards the
    // same way the batch loader does
    val schema = spark.read.parquet(tmp.toString).schema
    val stream = graft.sources.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(tmp.toString))
    val q = StreamingOps.tumblingAgg(stream, "1 day")
      .writeStream.format("memory").queryName("tumbling_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tumbling_stream")
      .select("w_start_us", "event_type", "n", "total")
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = StreamingOps.tumblingAgg(graft.sources.Tables.events(spark, sf001), "1 day")
      .select("w_start_us", "event_type", "n", "total")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamed == batch) // same Catalyst plan shape → identical results
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    // the in-memory catalog forgets tables across JVMs but their warehouse
    // files persist — clear the stale location or CTAS refuses to create
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File("/tmp/graft_warehouse/ev_bucketed"))
    graft.sources.Tables.events(spark, sf001)
      .write.mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
      .saveAsTable("ev_bucketed")
    val t = spark.table("ev_bucketed")
    // merge hint pins a sort-merge join (broadcast would trivially avoid the
    // shuffle) without mutating session conf shared across suites
    val joined = t.as("a").join(t.as("b").hint("merge"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.linesIterator.take(8).mkString("\n"))
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed self-join must not shuffle")
  }

  test("stateful anomaly flags exactly the batch 3-sigma rows across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    // 30 calm readings then a spike, split mid-window across two batches
    // so the trailing context must survive the batch boundary
    val vals = (1 to 30).map(i => 10.0 + (i % 5)) :+ 500.0 :+ 11.0
    val rows = vals.zipWithIndex.map { case (v, i) =>
      StreamingOps.KeyedValue(1L, i.toLong, i.toLong, v)
    }
    // batch oracle: same frame, same polynomial predicate
    val w = Window.partitionBy(col("key")).orderBy(col("order"), col("tie"))
      .rowsBetween(-20, -1)
    val batch = rows.toDF()
      .withColumn("n", count(col("value")).over(w))
      .withColumn("s1", sum(col("value")).over(w))
      .withColumn("s2", sum(col("value") * col("value")).over(w))
      .where(col("n") >= 10)
      .where((col("value") * col("n") - col("s1"))
        * (col("value") * col("n") - col("s1"))
        > lit(9.0) * (col("n") * col("s2") - col("s1") * col("s1")))
      .select(col("order")).as[Long].collect().toSet
    val mem = MemoryStream[StreamingOps.KeyedValue]
    val q = StreamingOps.statefulAnomaly(mem.toDS())
      .writeStream.format("memory").queryName("anom_out").outputMode("append").start()
    val (b1, b2) = rows.splitAt(25)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    val streamed = spark.table("anom_out").as[StreamingOps.AnomalyOut]
      .collect().map(_.order).toSet
    q.stop()
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.contains(30L), "the spike must be flagged")
  }

  test("incremental bucketed sink: batches accrete into one join-ready layout") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS ev_stream_bucketed")
    val path = Files.createTempDirectory("graft_sbuck").toString
    val ckpt = Files.createTempDirectory("graft_sbuck_ck").toString
    val mem = MemoryStream[(Long, Long, Double)]
    val df = mem.toDF().toDF("event_id", "user_id", "value")
    val q = StreamingOps.incrementalBucketedSink(df, "ev_stream_bucketed",
      path, "user_id", 4, ckpt)
    mem.addData((1L, 10L, 1.0), (2L, 11L, 2.0))
    q.processAllAvailable()
    mem.addData((3L, 10L, 3.0), (4L, 12L, 4.0))
    q.processAllAvailable()
    q.stop()
    val t = spark.table("ev_stream_bucketed")
    assert(t.count() == 4)
    // both batches landed in the SAME bucket spec: a self-join on the
    // bucket key plans with no shuffle (merge hint pins sort-merge so
    // broadcast can't trivially hide the exchange)
    val joined = t.as("a").join(t.as("b").hint("merge"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange hashpartitioning"),
      "streamed bucketed table must join shuffle-free")
  }

  test("bucketed compaction: fewer files, same rows, join stays shuffle-free") {
    import java.nio.file.Files
    spark.sql("DROP TABLE IF EXISTS ev_frag")
    spark.sql("DROP TABLE IF EXISTS ev_compact")
    val srcPath = Files.createTempDirectory("graft_frag").toString
    val dstPath = Files.createTempDirectory("graft_compact").toString
    val ev = (1L to 100L).map(i => (i, i % 7, i * 0.5)).toDF("event_id", "user_id", "value")
    // three appends ≈ three micro-batches: file count accretes per batch
    ev.where($"event_id" <= 30).write.mode("overwrite").option("path", srcPath)
      .bucketBy(4, "user_id").sortBy("user_id").saveAsTable("ev_frag")
    ev.where($"event_id" > 30 && $"event_id" <= 60).write.mode("append")
      .bucketBy(4, "user_id").sortBy("user_id").saveAsTable("ev_frag")
    ev.where($"event_id" > 60).write.mode("append")
      .bucketBy(4, "user_id").sortBy("user_id").saveAsTable("ev_frag")
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    val before = parquetFiles(srcPath)
    val t = graft.sources.Tables.compactBucketedTable(spark, "ev_frag",
      "ev_compact", dstPath, "user_id", 4)
    assert(t.count() == 100)
    // one file per NON-EMPTY bucket (7 keys murmur-hash into 3 of the 4)
    assert(parquetFiles(dstPath) <= 4, "at most one file per bucket after compaction")
    assert(before > 4, s"fixture must fragment (saw $before files)")
    val joined = t.as("a").join(t.as("b").hint("merge"), "user_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange hashpartitioning"),
      "compacted bucketed table must join shuffle-free")
  }

  test("ingest guards mirror the reference buffer checks (fawac.py:57-63)") {
    val df = (1 to 5).toDF("x")
    assertThrows[IllegalArgumentException] {
      StreamingOps.validateIngest(df, existingCount = 1, capacity = 100)
    }
    assertThrows[IllegalArgumentException] {
      StreamingOps.validateIngest(df, existingCount = 0, capacity = 3)
    }
    assert(StreamingOps.validateIngest(df, 0, 100).count() == 5)
  }

  test("S6 metric sink: foreachBatch parquet append with checkpoint recovery dir") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft_sink").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF().toDF("step", "key", "value")
    val q = df.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("append").parquet(out): Unit
      }
      .start()
    mem.addData((1L, "loss", 0.5), (2L, "loss", 0.4))
    q.processAllAvailable()
    mem.addData((3L, "loss", 0.3))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(out).count() == 3)
  }

  test("stateful EMA runs on the RocksDB state store (the at-scale provider)") {
    // HDFSBackedStateStore holds every key on-heap; RocksDB is the
    // provider that makes 100 TB-scale keyed state feasible (spillable,
    // incremental snapshots). Same query, same results.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[KeyedValue]
      val q = StreamingOps.statefulEma(mem.toDS(), 0.5)
        .writeStream.format("memory").queryName("ema_rocks").outputMode("append").start()
      mem.addData(KeyedValue(1L, 0L, 0L, 10.0))
      q.processAllAvailable()
      mem.addData(KeyedValue(1L, 1L, 1L, 20.0))
      q.processAllAvailable()
      val got = spark.table("ema_rocks").as[EmaOut].collect().sortBy(_.order).map(_.ema).toSeq
      q.stop()
      assert(got == Seq(10.0, 15.0))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming dedup drops a replayed event inside the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = StreamingOps.dedupEvents(df, watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    val base = 1704067200L * 1000000000L
    mem.addData((1L, base, 7L, "click", 1.0, "{}"))
    q.processAllAvailable()
    // at-least-once replay of event 1 within the horizon + a fresh event
    mem.addData((1L, base, 7L, "click", 1.0, "{}"),
      (2L, base + 60L * 1000000000L, 7L, "view", 2.0, "{}"))
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("event_id").as[Long].collect().toSeq
    q.stop()
    assert(ids.sorted == Seq(1L, 2L)) // the replay was suppressed
  }

  test("stream-stream attribution join pairs clicks with in-window views only") {
    implicit val sqlCtx = spark.sqlContext
    val mkMem = () => MemoryStream[(Long, Long, Long, String, Double, String)]
    val vMem = mkMem(); val cMem = mkMem()
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = StreamingOps.attributionJoin(
        vMem.toDF().toDF(cols: _*), cMem.toDF().toDF(cols: _*),
        "1 hour", watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    val base = 1704067200L * 1000000000L
    val hour = 3600L * 1000000000L
    vMem.addData(
      (10L, base, 7L, "view", 0.0, "{}"),           // in window of click 20
      (11L, base - 2 * hour, 7L, "view", 0.0, "{}"), // too old for click 20
      (12L, base, 8L, "view", 0.0, "{}"))            // other user
    cMem.addData((20L, base + hour / 2, 7L, "click", 5.0, "{}"))
    q.processAllAvailable()
    val got = spark.table("attr_out").select("view_id", "click_id")
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(got == Set((10L, 20L)))
  }

  test("incremental exact dedup: ledger suppresses duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val corpus = Files.createTempDirectory("graft_corpus").toString
    val ledger = Files.createTempDirectory("graft_ledger").toString + "/fp"
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingOps.incrementalExactDedup(docs, "doc_id", "text",
      corpus, ledger, ckpt)
    mem.addData((1L, "alpha text"), (2L, "alpha text"), (3L, "beta text"))
    q.processAllAvailable()
    // batch 2: replays a seen text (cross-batch dup) + one new doc
    mem.addData((4L, "alpha text"), (5L, "gamma text"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L)) // in-batch dup 2, cross-batch dup 4 dropped
    assert(spark.read.parquet(ledger).count() == 3)
  }

  test("incremental reweighting loop maintains the batch DoReMi resample across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val countLedger = tmp("graft_rw_counts") + "/counts"
    val statsLedger = tmp("graft_rw_stats") + "/stats"
    val docLedger = tmp("graft_rw_docs") + "/docs"
    val report = tmp("graft_rw_rep") + "/report"
    val resampled = tmp("graft_rw_out") + "/resampled"
    val ckpt = tmp("graft_rw_ckpt")
    val loss = lit(1.0) - least(col("n_chars").cast("double") / lit(200.0), lit(1.0))
    val full = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val mem = MemoryStream[(Long, String, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "source", "n_chars")
    val q = StreamingOps.incrementalReweightingPipeline(docs, "doc_id", "text",
      "source", loss, countLedger, statsLedger, docLedger, report, resampled, ckpt)
    // three micro-batches over an arbitrary split — weights and rates
    // move every batch; only the final state must equal the batch run
    full.grouped((full.size + 2) / 3).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    // the maintained resample == batch mixtureSampleBy ∘ doremiWeights
    // (the x6_doremi_resample dataflow) on the union of all batches
    val batchDocs = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val batchWeights = ops.Curation.doremiWeights(batchDocs, "source", loss)
    val want = ops.Curation.mixtureSampleBy(batchDocs, "doc_id", "source",
        batchWeights, "weight")
      .select(col("doc_id"), col("rate")).as[(Long, Long)].collect().toSet
    val got = spark.read.parquet(resampled)
      .select(col("doc_id"), col("rate")).as[(Long, Long)].collect().toSet
    assert(got == want,
      "maintained resampled corpus must equal the batch optimize-then-apply result")
    // the report shows the monitor feeding the optimizer: per-source KL
    // beside the learned weight, and the weights equal the batch ones
    val gotW = spark.read.parquet(report)
      .select(col("source"), col("weight")).as[(String, Double)].collect().toSet
    val wantW = batchWeights.select(col("source"), col("weight"))
      .as[(String, Double)].collect().toSet
    assert(gotW == wantW, "reported weights must equal the batch DoReMi weights")
    val klCols = spark.read.parquet(report).columns.toSet
    assert(Set("kl_vs_corpus", "domain_loss", "weight", "as_of_batch").subsetOf(klCols))
  }

  test("incremental DSIR selection maintains the batch top-k across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val countLedger = tmp("graft_dsir_counts") + "/counts"
    val docLedger = tmp("graft_dsir_docs") + "/docs"
    val selected = tmp("graft_dsir_out") + "/selected"
    val ckpt = tmp("graft_dsir_ckpt")
    val full = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "lang")
    val q = StreamingOps.incrementalDsirSelect(docs, "doc_id", "text",
      col("lang") === "en", countLedger, docLedger, selected, ckpt, topK = 50)
    full.grouped((full.size + 2) / 3).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    // counts are integers → the accreted λ table and every weight are the
    // IDENTICAL doubles the batch op computes on the union of all batches
    val batchDocs = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("lang"))
    val want = ops.Curation.dsirWeights(batchDocs, "text", col("lang") === "en")
      .orderBy(col("weight").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), col("weight")).as[(Long, Double)].collect().toSet
    val got = spark.read.parquet(selected)
      .select(col("doc_id"), col("weight")).as[(Long, Double)].collect().toSet
    assert(got == want,
      "maintained DSIR selection must equal the batch weights bit-for-bit")
  }

  test("incremental HLL registers maintain the batch estimate exactly across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val ledger = tmp("graft_hll_regs") + "/regs"
    val report = tmp("graft_hll_rep") + "/report"
    val ckpt = tmp("graft_hll_ckpt")
    val full = sources.Tables.documents(spark, sf001)
      .select(col("source"), explode(ops.TextOps.tokens(col("text"))).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val mem = MemoryStream[(String, String)]
    val q = StreamingOps.incrementalHllDistinct(
      mem.toDF().toDF("source", "tok"), "source", col("tok"),
      ledger, report, ckpt)
    full.grouped((full.size + 3) / 4).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    // registers are integer maxes → the maintained estimate is the
    // IDENTICAL double the batch sketch computes on the union
    val batchToks = sources.Tables.documents(spark, sf001)
      .select(col("source"), explode(ops.TextOps.tokens(col("text"))).as("tok"))
    val want = ops.HyperLogLog.estimate(
        ops.HyperLogLog.registers(batchToks, "source", col("tok")), "source")
      .select(col("source"), col("estimate")).as[(String, Double)].collect().toSet
    val got = spark.read.parquet(report)
      .select(col("source"), col("estimate")).as[(String, Double)].collect().toSet
    assert(got == want,
      "maintained HLL estimates must equal the batch sketch bit-for-bit")
  }

  test("incremental pagerank pairs edges across batch boundaries and matches batch ranks") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    import StreamingOps.StateEvent
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val ledger = tmp("graft_pr_edges") + "/edges"
    val ranks = tmp("graft_pr_ranks") + "/ranks"
    val ckpt = tmp("graft_pr_ckpt")
    // three users walking a small state machine; the batch splits land
    // MID-SESSION so several consecutive pairs straddle batch boundaries
    // — exactly what the stateful last-state carry must recover
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
    import spark.implicits._
    val batchEdges = ops.GraphOps.transitionEdges(
      events.toDF(), "user", Seq(col("order"), col("tie")), col("state"))
    val want = ops.GraphOps.pagerank(batchEdges, iters = 5)
      .as[(Long, Double)].collect().toSet
    val got = spark.read.parquet(ranks)
      .select(col("node"), col("rank")).as[(Long, Double)].collect().toSet
    assert(got == want,
      "edge counts are additive integers → maintained ranks equal batch bit-for-bit")
  }

  test("incremental classifier retrains on accreted features to the batch weights") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val ledger = tmp("graft_clf_feat") + "/features"
    val weights = tmp("graft_clf_w") + "/weights"
    val ckpt = tmp("graft_clf_ckpt")
    val full = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.incrementalClassifier(
      mem.toDF().toDF("doc_id", "text", "lang"), "doc_id", "text",
      col("lang") === "en", ledger, weights, ckpt, iters = 3)
    full.grouped((full.size + 2) / 3).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    import spark.implicits._
    val want = ops.TextOps.trainHashClassifier(
        sources.Tables.documents(spark, sf001), "doc_id", "text",
        col("lang") === "en", buckets = 32, iters = 3)
      .as[(Long, Double)].collect().toSet
    val got = spark.read.parquet(weights)
      .select(col("bucket"), col("weight")).as[(Long, Double)].collect().toSet
    assert(got == want,
      "retrain on the accreted feature set must equal batch training bit-for-bit")
  }

  test("drift ledger compaction folds committed batches losslessly; report unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val ledger = Files.createTempDirectory("graft_cmp").toString + "/counts"
    val report = Files.createTempDirectory("graft_cmp_rep").toString + "/kl"
    val ckpt = Files.createTempDirectory("graft_cmp_ckpt").toString
    val base = Seq(
      (1L, "alpha beta gamma", "a"), (2L, "beta beta delta", "b"),
      (3L, "gamma gamma alpha", "a"), (4L, "delta alpha beta", "b"),
      (5L, "epsilon beta beta", "a"), (6L, "alpha delta delta", "b"))
    val rows = (0 until 3).flatMap(r => base.map { case (id, t, s) => (id + 6 * r, t, s) })
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.incrementalDriftMonitor(
      mem.toDF().toDF("doc_id", "text", "source"), "text", "source",
      ledger, report, ckpt)
    // 9 batches → the ledger compacts at batch 8 (StateDirSpec pins the
    // folded ledger itself)
    rows.grouped(2).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    // the report over the compacted ledger is still the exact batch report
    val streamed = spark.read.parquet(report)
      .select(col("source"), col("n_tokens"), col("n_vocab_source"),
        col("kl_vs_corpus"))
      .as[(String, Long, Long, Double)].collect().toSet
    val batch = ops.TextOps.corpusDriftBySource(
        rows.toDF("doc_id", "text", "source"), "doc_id", "text", "source")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(streamed == batch, "compaction must not change the report")
  }

  test("incremental drift monitor equals the batch KL report on the same rows split across batches") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val ledger = Files.createTempDirectory("graft_drift").toString + "/counts"
    val report = Files.createTempDirectory("graft_drift_rep").toString + "/kl"
    val ckpt = Files.createTempDirectory("graft_drift_ckpt").toString
    val full = sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "source")
    val q = StreamingOps.incrementalDriftMonitor(docs, "text", "source",
      ledger, report, ckpt)
    // three micro-batches over an arbitrary split
    full.grouped((full.size + 2) / 3).foreach { chunk =>
      mem.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.read.parquet(report)
      .select(col("source"), col("n_tokens"), col("n_vocab_source"),
        col("kl_vs_corpus"))
      .as[(String, Long, Long, Double)].collect().toSet
    val batch = ops.TextOps.corpusDriftBySource(
        sources.Tables.documents(spark, sf001), "doc_id", "text", "source")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(streamed == batch,
      "accreted count ledger must be a sufficient statistic for the exact batch report")
  }

  test("incremental near-dedup: signature ledger drops cross-batch near-copies") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val corpus = Files.createTempDirectory("graft_nd_corpus").toString
    val ledger = Files.createTempDirectory("graft_nd_ledger").toString + "/sig"
    val ckpt = Files.createTempDirectory("graft_nd_ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingOps.incrementalNearDedup(docs, "doc_id", "text",
      corpus, ledger, ckpt)
    // batch 1: two identical texts (within-batch near-pair) + one distinct
    mem.addData((1L, base), (2L, base),
      (3L, "entirely different prose about carrots and physics " * 8))
    q.processAllAvailable()
    // batch 2: a replay of the base text (cross-batch, caught via ledger
    // signatures) + one genuinely new doc
    mem.addData((4L, base), (5L, "novel content regarding ships and stars " * 8))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L), s"got $ids")
    // ledger holds one signature row per surviving doc
    assert(spark.read.parquet(ledger).count() == 3)
  }

  test("incremental cosine top-k view equals the batch capped emitter " +
      "after every micro-batch; replays are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val ledger = Files.createTempDirectory("graft_ctk").toString + "/ledger"
    val view = Files.createTempDirectory("graft_ctk").toString + "/view"
    val ckpt = Files.createTempDirectory("graft_ctk_ck").toString
    val rnd = new scala.util.Random(183)
    def jitter(base: Array[Float]) =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val coneA = Array(1.0f, 0.9f, 0.8f, 0.7f)
    val coneB = Array(-1.0f, 0.8f, -0.6f, 0.4f)
    // near-dup cliques spanning batch boundaries: later arrivals must
    // enter EARLIER ids' top-k (the cross-batch direction a per-batch
    // window cannot see)
    val b1 = Seq.tabulate(6)(i => (i.toLong, jitter(coneA))) ++
      Seq((100L, jitter(coneB)), (101L, jitter(coneB)))
    val b2 = Seq.tabulate(5)(i => (10L + i, jitter(coneA))) ++
      Seq((102L, jitter(coneB)))
    val b3 = Seq((20L, jitter(coneA)), (103L, jitter(coneB)),
      (104L, Array(0.0f, 0.0f, 1.0f, -1.0f)))
    val mem = MemoryStream[(Long, Array[Float])]
    val df = mem.toDF().toDF("vec_id", "embedding")
    val q = StreamingOps.incrementalCosineTopK(df, "vec_id", "embedding",
      ledger, view, ckpt, threshold = 0.9, bits = 4, k = 2)
    def check(acc: Seq[(Long, Array[Float])]): Unit = {
      val expect = ops.Similarity.cosineNearDupTopK(
          acc.toDF("vec_id", "embedding"), "vec_id", "embedding",
          threshold = 0.9, bits = 4, k = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = spark.read.parquet(view)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expect,
        s"view diverged: extra=${got diff expect} missing=${expect diff got}")
    }
    mem.addData(b1: _*); q.processAllAvailable(); check(b1)
    mem.addData(b2: _*); q.processAllAvailable(); check(b1 ++ b2)
    mem.addData(b3: _*); q.processAllAvailable(); check(b1 ++ b2 ++ b3)
    // at-least-once redelivery: already-ledgered ids must change nothing
    mem.addData(b3: _*); q.processAllAvailable(); check(b1 ++ b2 ++ b3)
    q.stop()
  }

  test("incremental near-dedup: cross-batch sig-prefilter positives are exact-verified") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    // premise: find a variant of `base` whose SIGNATURE estimate clears
    // the estMin prefilter while its TRUE shingle Jaccard is below the
    // 0.8 drop threshold — the bare-collision case. Pre-round-11 the
    // prefilter alone dropped such a doc; now the exact verify keeps it.
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three four " +
      "five six seven eight nine ten eleven twelve thirteen fourteen")
    val tails = Seq(
      "ten london madrid paris berlin",
      "crimson eleven nevada ridge gorge",
      "tern umbra xylo yonder zephyr",
      "umbrella vice whisk xenon yak",
      "pebble stone rock cliff ledge",
      "maple oak birch cedar willow")
    val variants = tails.map(t => base.split(" ").dropRight(5).mkString(" ") + " " + t)
    // (band-collides?, est, true-jaccard) for a (base, variant) pair —
    // band-collision is the prefilter's actual gate (a FULL r=4 band
    // must agree), est feeds its >= estMin cut
    def sigStats(a: String, b: String): (Boolean, Double, Double) = {
      val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      val sets = ops.Dedup.docShingleSets(docs, "doc_id", "text")
      val sig = ops.Dedup.minhashSignaturesFromSets(sets, 8)
        .collect().map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i))).toMap
      val agree = sig(1L).zip(sig(2L)).map { case (x, y) => x == y }
      val band = agree.take(4).forall(identity) || agree.drop(4).forall(identity)
      val est = agree.count(identity) / 8.0
      val tk = sets.collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val jac = tk(1L).intersect(tk(2L)).size.toDouble / tk(1L).union(tk(2L)).size
      (band, est, jac)
    }
    val collision = variants.find { v =>
      val (band, est, jac) = sigStats(base, v)
      band && est >= 0.75 && jac < 0.8
    }
    assert(collision.nonEmpty,
      "fixture premise: need a variant that band-collides with sig-est >= estMin but true Jaccard < threshold")
    val corpus = Files.createTempDirectory("graft_nd2_corpus").toString
    val ledger = Files.createTempDirectory("graft_nd2_ledger").toString + "/sig"
    val ckpt = Files.createTempDirectory("graft_nd2_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalNearDedup(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", corpus, ledger, ckpt)
    mem.addData((1L, base))
    q.processAllAvailable()
    // batch 2: a true near-copy of base (one word changed → J ≥ 0.8,
    // drops) and the bare-collision variant (est clears, exact fails →
    // SURVIVES under the documented policy)
    val nearCopy = base.replace("oscar", "oskar")
    locally {
      val (band, est, jac) = sigStats(base, nearCopy)
      assert(band && est >= 0.75 && jac >= 0.8,
        s"fixture premise: near-copy must clear prefilter AND threshold (band=$band est=$est jac=$jac)")
    }
    mem.addData((2L, nearCopy), (3L, collision.get))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L), s"got $ids")
    assert(spark.read.parquet(ledger).select("doc_id").distinct().count() == 2)
  }

  test("transitive chain a-b/b-c: pairwise mode keeps the tail, transitive mode matches dedupPipeline") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    // fixture: 3-word shingles over t0..t22 ⇒ J(a,b)=18/19, J(b,c)=17/21,
    // J(a,c)=16/21 — a chain where only the middle link reaches c
    // letters only — the shingle tokenizer drops digits
    val w = (0 to 22).map(i => ('a' + i).toChar.toString * 3)
    val a = w.slice(0, 20).mkString(" ")  // t0..t19
    val b = w.slice(0, 21).mkString(" ")  // t0..t20
    val c = w.slice(2, 23).mkString(" ")  // t2..t22
    def jac(x: String, y: String): Double = {
      val sets = ops.Dedup.docShingleSets(Seq((1L, x), (2L, y)).toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      sets(1L).intersect(sets(2L)).size.toDouble / sets(1L).union(sets(2L)).size
    }
    assert(jac(a, b) >= 0.8 && jac(b, c) >= 0.8 && jac(a, c) < 0.8,
      s"fixture premise: chain shape (ab=${jac(a, b)} bc=${jac(b, c)} ac=${jac(a, c)})")
    // prefilter premise: both chain links must band-collide at (k=8, r=2)
    // with est >= 0.7 — deterministic given the fixed minhash constants
    def prefilterFires(x: String, y: String): Boolean = {
      val sets = ops.Dedup.docShingleSets(Seq((1L, x), (2L, y)).toDF("doc_id", "text"), "doc_id", "text")
      val sig = ops.Dedup.minhashSignaturesFromSets(sets, 8)
        .collect().map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i))).toMap
      val agree = sig(1L).zip(sig(2L)).map { case (p, q) => p == q }
      val band = agree.grouped(2).exists(_.forall(identity))
      band && agree.count(identity) / 8.0 >= 0.7
    }
    assert(prefilterFires(a, b) && prefilterFires(b, c),
      "fixture premise: both chain links clear the LSH prefilter")
    val batchSurvivors = ops.Dedup.dedupPipeline(
        Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.8, k = 8, r = 2, estMin = 0.7)
      .as[Long].collect().sorted.toSeq
    assert(batchSurvivors == Seq(1L), s"batch pipeline collapses the chain: $batchSurvivors")
    def runMode(transitive: Boolean): Seq[Long] = {
      val corpus = Files.createTempDirectory("graft_tr_corpus").toString
      val ledger = Files.createTempDirectory("graft_tr_ledger").toString + "/led"
      val ckpt = Files.createTempDirectory("graft_tr_ckpt").toString
      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val q =
        if (transitive) StreamingOps.incrementalNearDedupTransitive(docs,
          "doc_id", "text", corpus, ledger, ckpt, k = 8, r = 2, estMin = 0.7)
        else StreamingOps.incrementalNearDedup(docs,
          "doc_id", "text", corpus, ledger, ckpt, k = 8, r = 2, estMin = 0.7)
      mem.addData((1L, a), (2L, b)); q.processAllAvailable()
      mem.addData((3L, c)); q.processAllAvailable()
      q.stop()
      spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq
    }
    // pairwise policy: b's state is gone, c only compares against a → kept
    assert(runMode(transitive = false) == Seq(1L, 3L),
      "at-most-pairwise mode keeps the chain tail (documented divergence)")
    // transitive policy: ledger carries b's shingles + root → c collapses
    assert(runMode(transitive = true) == batchSurvivors,
      "transitive mode must reproduce the batch pipeline's survivor set")
  }

  test("transitive mode: dropped docs join the ledger with their component root") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val corpus = Files.createTempDirectory("graft_tr2_corpus").toString
    val ledger = Files.createTempDirectory("graft_tr2_ledger").toString + "/led"
    val ckpt = Files.createTempDirectory("graft_tr2_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalNearDedupTransitive(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", corpus, ledger, ckpt)
    mem.addData((1L, base), (2L, base),
      (3L, "entirely different prose about carrots and physics " * 8))
    q.processAllAvailable()
    mem.addData((4L, base), (5L, "novel content regarding ships and stars " * 8))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L), s"got $ids")
    // every seen doc has a ledger row; dropped docs point at survivor 1
    val roots = spark.read.parquet(ledger).select("doc_id", "root")
      .as[(Long, Long)].collect().toMap
    assert(roots.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(roots(2L) == 1L && roots(4L) == 1L && roots(1L) == 1L)
    assert(roots(3L) == 3L && roots(5L) == 5L)
  }

  test("transitive mode: replayed docs are idempotent; zero-token exact dups collapse like dedupPipeline") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val corpus = Files.createTempDirectory("graft_tr3_corpus").toString
    val ledger = Files.createTempDirectory("graft_tr3_ledger").toString + "/led"
    val ckpt = Files.createTempDirectory("graft_tr3_ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalNearDedupTransitive(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", corpus, ledger, ckpt)
    // "12345" tokenizes to NOTHING (letters-only tokenizer): no shingles,
    // no signature — only the fingerprint stage can collapse the pair
    mem.addData((1L, base), (2L, "12345"), (3L, "12345"))
    q.processAllAvailable()
    // at-least-once redelivery: the whole first batch arrives again, plus
    // one genuinely new doc — replays must be absorbed by the ledger guard
    mem.addData((1L, base), (2L, "12345"), (3L, "12345"),
      (4L, "novel content regarding ships and stars " * 8))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 4L), s"got $got")
    assert(spark.read.parquet(corpus).count() == 3, "no duplicate corpus rows after replay")
    // parity with the batch pipeline over the same four docs
    val batchSurvivors = ops.Dedup.dedupPipeline(
        Seq((1L, base), (2L, "12345"), (3L, "12345"),
          (4L, "novel content regarding ships and stars " * 8)).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[Long].collect().sorted.toSeq
    assert(got == batchSurvivors, s"streaming $got vs batch $batchSurvivors")
    // ledger: one row per seen doc, zero-token docs included (null sig)
    val led = spark.read.parquet(ledger)
    assert(led.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    assert(led.where(col("doc_id") === 3L).select("root").as[Long].head() == 2L)
    assert(led.where(col("mh0").isNull).count() == 2, "zero-token docs carry null signatures")
  }

  test("incremental decontamination: bench gram ledger drops leaked docs across batches") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val corpus = Files.createTempDirectory("graft_dc_corpus").toString
    val ledger = Files.createTempDirectory("graft_dc_ledger").toString + "/grams"
    val ckpt = Files.createTempDirectory("graft_dc_ckpt").toString
    // static eval set → its 3-gram hashes become the read-only ledger
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    ops.TextOps.benchGramLedger(bench, "doc_id", "text", n = 3)
      .write.parquet(ledger)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.incrementalDecontaminate(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", ledger, corpus, ckpt, n = 3)
    mem.addData(
      (1L, "a quick brown fox ran off"),          // shares "quick brown fox" → drops
      (2L, "totally unrelated words right here")) // clean
    q.processAllAvailable()
    mem.addData(
      (3L, "the quick brown fox jumps high"),     // full leak in a later batch → drops
      (4L, "more clean content again"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 4L))
  }

  test("streaming curation pipeline maintains the batch x7 corpus across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val corpus = Files.createTempDirectory("graft_cur_corpus").toString
    val fpLedger = Files.createTempDirectory("graft_cur_ledger").toString + "/fp"
    val benchLedger = Files.createTempDirectory("graft_cur_bench").toString + "/grams"
    val ckpt = Files.createTempDirectory("graft_cur_ckpt").toString
    val bench = Seq((100L, "held out benchmark question about ancient roman aqueducts"))
      .toDF("doc_id", "text")
    ops.TextOps.benchGramLedger(bench, "doc_id", "text", n = 3).write.parquet(benchLedger)
    // three micro-batches exercising every stage: in-batch + cross-batch
    // exact dups, a bench leak, a repetitive doc, a too-short doc, a
    // replayed row, and clean survivors in two languages
    val b1 = Seq(
      (1L, "en", "the solar panel array generates clean power daily"),
      (2L, "en", "the solar panel array generates clean power daily"), // in-batch dup
      (3L, "en", "short text"))                                        // < 5 toks → gated
    val b2 = Seq(
      (4L, "en", "benchmark question about ancient roman aqueducts leaked here"), // leak
      (5L, "en", "spam spam spam spam spam spam spam spam"),                      // repetitive
      (6L, "fr", "une phrase parfaitement normale avec assez de mots"))
    val b3 = Seq(
      (1L, "en", "the solar panel array generates clean power daily"),  // replayed row
      (7L, "en", "the solar panel array generates clean power daily"),  // cross-batch dup
      (8L, "fr", "encore une autre phrase utile pour le corpus final"))
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingOps.incrementalCurationPipeline(
      mem.toDF().toDF("doc_id", "lang", "text"), "doc_id", "text",
      benchLedger, corpus, fpLedger, ckpt, n = 3)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    mem.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val maintained = spark.read.parquet(corpus)
    // curate-once-batch reference: the x7 stages over the distinct union
    val all = (b1 ++ b2 ++ b3).distinct.toDF("doc_id", "lang", "text")
    val keep = ops.Dedup.exactDedup(all, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val d1 = all.join(keep, Seq("doc_id"), "left_semi")
    val dirty = ops.TextOps.gramHashes(d1, "doc_id", "text", 3)
      .join(broadcast(spark.read.parquet(benchLedger)), "gh")
      .select("doc_id").distinct()
    val d2 = d1.join(dirty, Seq("doc_id"), "left_anti")
    val rep = ops.TextOps.repetitionStats(d2, "doc_id", "text", n = 2)
      .where(col("n_dup_grams") * lit(5) <= col("n_grams") && col("n_toks") >= 5)
      .select("doc_id")
    val batchGated = d2.join(rep, Seq("doc_id"))
    val gotIds = maintained.select("doc_id").as[Long].collect().sorted.toSeq
    assert(gotIds == batchGated.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(gotIds == Seq(1L, 6L, 8L), s"got $gotIds")
    // replayed row appended exactly once (ledger suppressed the replay)
    assert(maintained.where(col("doc_id") === 1L).count() == 1)
    // and x7's packing tail composes identically on the maintained corpus
    def packed(df: org.apache.spark.sql.DataFrame) = {
      val nToks = ops.TextOps.textStats(col("text")).getField("n_tokens").cast("long")
      ops.Curation.packSequences(df, "doc_id", "lang", nToks, 16)
        .select("doc_id", "lang", "n_tokens", "bin")
        .as[(Long, String, Long, Long)].collect().toSet
    }
    assert(packed(maintained) == packed(batchGated))
  }

  test("txn shard accretion: exactly-once commits survive every crash window") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_shard_txn").toString
    def batchDf(rows: (Long, Long)*) = rows.toSeq.toDF("doc_id", "n_chars")

    // epoch 0 commits normally
    assert(StreamingOps.shardAssignCommit(
      batchDf((1L, 900L), (2L, 100L), (3L, 100L), (4L, 100L), (5L, 80L)),
      0L, "doc_id", "n_chars", 4, root))
    val after0 = StreamingOps.txnShardManifest(spark, root).count()
    assert(after0 == 5)

    // CRASH BEFORE THE RENAME: a stale staging dir from a died epoch 1
    // must be discarded, not double-counted, when the batch replays
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((99L, 1L)).toDF("doc_id", "n_tokens").withColumn("shard", lit(0L))
      .write.parquet(s"$root/.tmp-1/manifest")
    assert(StreamingOps.shardAssignCommit(
      batchDf((6L, 500L), (7L, 450L), (8L, 60L), (9L, 40L)),
      1L, "doc_id", "n_chars", 4, root))
    val m1 = StreamingOps.txnShardManifest(spark, root)
    assert(m1.count() == 9 && m1.select("doc_id").distinct().count() == 9,
      "stale staging residue must not leak into the committed manifest")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/.tmp-1")))

    // CRASH AFTER THE RENAME: the replayed epoch sees its commit dir and
    // skips — no duplicate manifest rows, ledger unchanged
    val totalsBefore = StreamingOps.txnShardTotals(spark, root)
      .as[(Long, Long)].collect().toMap
    assert(!StreamingOps.shardAssignCommit(
      batchDf((6L, 500L), (7L, 450L), (8L, 60L), (9L, 40L)),
      1L, "doc_id", "n_chars", 4, root), "replay of a committed epoch must skip")
    assert(StreamingOps.txnShardManifest(spark, root).count() == 9)
    assert(StreamingOps.txnShardTotals(spark, root)
      .as[(Long, Long)].collect().toMap == totalsBefore)

    // ledger equals manifest sums, and the greedy pile-onto-lightest
    // accretion keeps the spread within the one dominant item (900)
    val perShard = StreamingOps.txnShardManifest(spark, root)
      .groupBy(col("shard")).agg(sum(col("n_tokens")).as("t"))
      .as[(Long, Long)].collect().toMap
    assert(totalsBefore == perShard)
    assert(perShard.keySet == Set(0L, 1L, 2L, 3L))
    assert(perShard.values.max - perShard.values.min <= 900L)
  }

  test("txn shard accretion streams end-to-end (foreachBatch wiring)") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_shard_txn_e2e").toString
    val ckpt = Files.createTempDirectory("graft_shard_txn_ckpt").toString
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
  }

  test("ANN index compaction: lossless rewrite, file count bounded, searches unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val index = Files.createTempDirectory("graft_ann_cmp").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_ann_cmp_ckpt").toString
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.incrementalAnnIndex(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, index, ckpt)
    // 5 micro-batches → ≥5 files accrete in cell 0, ≥1 in cell 1
    for (b <- 0 until 5) {
      mem.addData((10L * b + 1L, Seq(0.9, 0.1 * b)))
      if (b == 0) mem.addData((2L, Seq(0.1, 0.8)))
      q.processAllAvailable()
    }
    q.stop()
    def cellFiles(c: Long) = new java.io.File(s"$index/cell=$c").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toSet
    assert(cellFiles(0L) >= 5, s"fixture must accrete files, got ${cellFiles(0L)}")

    val report = StreamingOps.compactAnnIndex(spark, index, maxFilesPerCell = 2)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(report(0L)._3 == 1L && report(0L)._2 >= 5L, s"cell 0 must compact: $report")
    assert(report(1L)._3 == report(1L)._2, "cell 1 under the threshold stays as-is")
    assert(cellFiles(0L) == 1)

    // lossless: identical (pid, cell) set, and a pruned one-cell search
    // reads the same members
    val after = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toSet
    assert(after == before)
    val cell0 = spark.read.parquet(index).where(col("cell") === 0L)
      .select("pid").as[Long].collect().toSet
    assert(cell0 == before.filter(_._2 == 0L).map(_._1))
    // no staging/trash residue
    val residue = new java.io.File(index).listFiles()
      .map(_.getName).filter(n => n.startsWith(".compact") || n.startsWith(".trash"))
    assert(residue.isEmpty, residue.toSeq.toString)
  }

  test("ANN index re-split: hot cell detected, split lossless, search cost bounded") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    import graft.ops.Similarity
    val index = Files.createTempDirectory("graft_ann_rsp").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_ann_rsp_ckpt").toString
    // two centroids; the ingest is DELIBERATELY skewed: 40 points cluster
    // near (1, 0) — all landing in cell 0 — and 4 near (0, 1)
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.incrementalAnnIndex(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, index, ckpt)
    // hot cluster: two sub-lobes inside cell 0 a re-split can separate
    // (pids interleave lobes so the deterministic lowest-pid seeds start
    // one in each lobe)
    for (i <- 0L until 40L) {
      val y = if (i % 2 == 0) 0.30 else -0.30
      mem.addData((i, Seq(1.0 + 0.002 * (i / 2), y)))
    }
    for (i <- 0L until 4L) mem.addData((200L + i, Seq(0.01 * i, 1.0)))
    q.processAllAvailable()
    q.stop()

    val report = StreamingOps.cellSkewReport(spark, index)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(report(0L)._2 == 40L && report(1L)._2 == 4L, report.toString)
    assert(report(0L)._6 > 1.5 && report(1L)._6 < 0.5,
      s"skew must expose the hot cell: $report")

    val before = spark.read.parquet(index)
      .select(col("pid"), col("pv")).as[(Long, Seq[Double])].collect().toMap
    val newCents = StreamingOps.resplitHotCells(spark, index, cents,
      maxSkew = 1.5, nSplit = 2, iters = 3)
    // parent 0 replaced by two children with fresh ids; cell 1 untouched
    val ids = newCents.select("cell").as[Long].collect().sorted
    assert(!ids.contains(0L) && ids.contains(1L) && ids.length == 3,
      ids.toSeq.toString)

    // LOSSLESS: identical (pid -> vector) map across the whole index
    val after = spark.read.parquet(index)
      .select(col("pid"), col("pv")).as[(Long, Seq[Double])].collect().toMap
    assert(after == before)
    // bounded search: no cell above the threshold anymore — the probed
    // scan for any query is at most maxSkew × mean rows
    val post = StreamingOps.cellSkewReport(spark, index)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(post.forall(_._6 <= 1.5), post.toSeq.toString)
    assert(post.map(_._2).sum == 44L)
    // the two sub-lobes actually separated (the split is geometric, not
    // an arbitrary half): each child holds one lobe
    val byCell = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val lobeA = (0L until 40L by 2).toSet
    val lobeB = (1L until 40L by 2).toSet
    assert(byCell.values.exists(_ == lobeA) && byCell.values.exists(_ == lobeB),
      byCell.toString)
    // search against the returned centroids still finds exact neighbors
    val qv = Seq((9999L, Seq(1.02, 0.31))).toDF("vec_id", "embedding")
    val hits = Similarity.annIndexSearch(spark, index, qv,
      "vec_id", "embedding", newCents, k = 3)
      .select("cand_id").as[Long].collect().toSet
    assert(hits.subsetOf(lobeA), s"expected lobe-A neighbors, got $hits")
    // no staging/trash residue
    val residue = new java.io.File(index).listFiles()
      .map(_.getName).filter(n => n.startsWith(".resplit") || n.startsWith(".trash"))
    assert(residue.isEmpty, residue.toSeq.toString)
  }

  test("ANN re-split multi-pass: a still-hot child is re-checked and re-split") {
    import java.nio.file.Files
    val index = Files.createTempDirectory("graft_ann_mp").toString + "/index"
    // hot cell 0 = sub-lobe X (24 pts, y=+0.3) + sub-lobe Y (23, y=-0.3)
    // + one stray at (5, 0); cold cells 1-3 hold 4 pts each. Pass 1
    // (mean 15, skew 3.2) splits 0 into {X∪Y}=47 and {stray}=1 (seeds
    // pid 0 ∈ X, pid 1 = stray); the 47-child is STILL hot (mean 12,
    // skew 3.9) — the single-pass gap the advice named — so pass 2
    // splits it into the lobes (seeds pid 0 ∈ X, pid 2 ∈ Y); pass 3
    // verifies every skew ≤ 2.5 and stops.
    val hot = Seq((0L, Seq(1.0, 0.3)), (1L, Seq(5.0, 0.0)), (2L, Seq(1.002, -0.3))) ++
      (3L to 25L).map(i => (i, Seq(1.0 + 0.001 * i, 0.3))) ++
      (26L to 47L).map(i => (i, Seq(1.0 + 0.001 * i, -0.3)))
    val cold = (100L to 103L).map(i => (i, Seq(0.01 * (i - 100), 1.0))).map(p => (p._1, p._2, 1L)) ++
      (110L to 113L).map(i => (i, Seq(0.01 * (i - 110), -1.0), 2L)) ++
      (120L to 123L).map(i => (i, Seq(-1.0, 0.01 * (i - 120)), 3L))
    (hot.map(p => (p._1, p._2, 0L)) ++ cold).toDF("pid", "pv", "cell")
      .write.partitionBy("cell").parquet(index)
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.0, -1.0)), (3L, Seq(-1.0, 0.0))).toDF("cell", "cv")
    val before = spark.read.parquet(index)
      .select(col("pid"), col("pv")).as[(Long, Seq[Double])].collect().toMap
    val newCents = StreamingOps.resplitHotCells(spark, index, cents,
      maxSkew = 2.5, nSplit = 2, iters = 3)
    val ids = newCents.select("cell").as[Long].collect().sorted
    // 3 cold cells survive + 3 children (stray, lobe X, lobe Y): the
    // third child can only come from a SECOND pass re-splitting the
    // 47-point first-pass child
    assert(ids.length == 6 && !ids.contains(0L), ids.toSeq.toString)
    val post = StreamingOps.cellSkewReport(spark, index)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(post.forall(_._6 <= 2.5), post.toSeq.toString)
    val after = spark.read.parquet(index)
      .select(col("pid"), col("pv")).as[(Long, Seq[Double])].collect().toMap
    assert(after == before)
    val residue = new java.io.File(index).listFiles()
      .map(_.getName).filter(n => n.startsWith(".resplit") || n.startsWith(".trash"))
    assert(residue.isEmpty, residue.toSeq.toString)
  }

  test("ANN keep-both conflict auto-converges: broken pause discipline + " +
      "crash, one maintenance pass makes every row probe-reachable, zero loss") {
    import java.nio.file.Files
    import graft.ops.Artifacts
    val base = Files.createTempDirectory("graft_ann_conv").toString
    val index = s"$base/index"; val store = s"$base/centroids"
    // artifact v1 predates the split (the crash hit between the children's
    // install and the re-split's artifact save): cells 0 and 1 only
    Artifacts.saveArtifact(
      Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv"),
      store, "ivf_centroids", Map("dim" -> "2"))
    // committed children of cell 0 (trash already deleted = install done)…
    Seq((0L, Seq(1.0, 0.3)), (2L, Seq(1.02, 0.3)), (4L, Seq(1.04, 0.3)))
      .toDF("pid", "pv").write.parquet(s"$index/cell=5")
    Seq((1L, Seq(1.0, -0.3)), (3L, Seq(1.02, -0.3)))
      .toDF("pid", "pv").write.parquet(s"$index/cell=6")
    // …the manifest residue of the crash…
    val fs = new org.apache.hadoop.fs.Path(index)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$index/.resplit-manifest-cell=0"), true)
    try out.write("5\n6".getBytes("UTF-8")) finally out.close()
    // …and a broken-pause-discipline ingest that re-created cell=0 with a
    // NEW row (assigned under the stale v1 table), plus untouched cell=1
    Seq((50L, Seq(1.0, 0.01))).toDF("pid", "pv").write.parquet(s"$index/cell=0")
    Seq((100L, Seq(0.0, 1.0))).toDF("pid", "pv").write.parquet(s"$index/cell=1")

    // ONE maintenance pass (no new split: maxSkew high). recoverResplit
    // keeps both copies; convergeAnnIndex must then add centroid rows for
    // the orphan children 5 and 6 — previously a stderr note told the
    // operator to re-run by hand while search silently skipped the
    // children's rows.
    val (cents, _, _) = StreamingOps.maintainAnnIndex(spark, index, store,
      maxSkew = 100.0)
    // zero row loss, rows unmoved
    val after = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toSet
    assert(after == Set((0L, 5L), (2L, 5L), (4L, 5L), (1L, 6L), (3L, 6L),
      (50L, 0L), (100L, 1L)), s"rows moved or lost: $after")
    // every on-disk cell has a centroid row — all rows probe-reachable
    val served = cents.select(col("cell")).as[Long].collect().toSet
    assert(served == Set(0L, 1L, 5L, 6L), s"centroid table not converged: $served")
    val (loaded, metaL) = Artifacts.loadArtifact(spark, store, "ivf_centroids")
    assert(loaded.select(col("cell")).as[Long].collect().toSet == served,
      "stored table must match the returned one")
    // the convergence version recorded what it added (v2: between the v1
    // seed and the resplit's own commit)
    val (_, metaC) = Artifacts.loadArtifactVersion(spark, store, 2L, "ivf_centroids")
    assert(metaC.params("convergedCells") == "5,6", metaC.params.toString)
    // orphan centroid = member mean (k-means' update step on the dir)
    val c5 = loaded.where(col("cell") === 5L).select(col("cv"))
      .as[Seq[Double]].head()
    assert(math.abs(c5(0) - 1.02) < 1e-9 && math.abs(c5(1) - 0.3) < 1e-9, c5)
    // converged index is a fixpoint: another converge call is a no-op
    val (_, vSame, orphans) = StreamingOps.convergeAnnIndex(spark, index, store)
    assert(orphans.isEmpty && vSame == metaL.version,
      s"second converge must be a no-op: $orphans $vSame vs ${metaL.version}")
  }

  test("ANN re-split recovery: mid-install crash rolls back; committed install rolls forward") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_ann_rec").toString
    val index = s"$root/index"
    Seq((0L, Seq(1.0, 0.1), 0L), (1L, Seq(1.0, -0.1), 0L), (2L, Seq(0.0, 1.0), 1L))
      .toDF("pid", "pv", "cell").write.partitionBy("cell").parquet(index)
    val before = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toSet
    val fs = new org.apache.hadoop.fs.Path(index)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(name: String) = new org.apache.hadoop.fs.Path(s"$index/$name")
    def writeManifest(ids: Seq[Long]): Unit = {
      val out = fs.create(p(".resplit-manifest-cell=0"), true)
      try out.write(ids.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    // --- ROLLBACK: crash after the trash rename with one child installed.
    // Fabricate: children 5 (installed) and 6 (still staged), manifest
    // naming both, the hot cell moved aside to trash.
    Seq((0L, Seq(1.0, 0.1))).toDF("pid", "pv").write.parquet(s"$index/cell=5")
    Seq((1L, Seq(1.0, -0.1))).toDF("pid", "pv")
      .write.parquet(s"$index/.resplit-cell=0/cell=6")
    writeManifest(Seq(5L, 6L))
    assert(fs.rename(p("cell=0"), p(".trash-cell=0")))
    val recovered = StreamingOps.recoverResplit(spark, index)
    assert(recovered == Seq(0L))
    val after = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toSet
    assert(after == before, s"rollback must restore the pre-split index: $after")
    val residue = new java.io.File(index).listFiles()
      .map(_.getName).filter(n => n.startsWith(".resplit") || n.startsWith(".trash"))
    assert(residue.isEmpty, residue.toSeq.toString)
    // --- ROLL FORWARD: crash after the trash delete (install committed,
    // manifest residue only). The children are the only copy — recovery
    // must keep them.
    assert(fs.rename(p("cell=0"), p(".trash-tmp"))) // simulate: split done
    Seq((0L, Seq(1.0, 0.1))).toDF("pid", "pv").write.parquet(s"$index/cell=5")
    Seq((1L, Seq(1.0, -0.1))).toDF("pid", "pv").write.parquet(s"$index/cell=6")
    fs.delete(p(".trash-tmp"), true)
    writeManifest(Seq(5L, 6L))
    assert(StreamingOps.recoverResplit(spark, index) == Seq(0L))
    val fwd = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toSet
    assert(fwd == Set((0L, 5L), (1L, 6L), (2L, 1L)),
      s"roll-forward must keep the committed children: $fwd")
    // and resplitHotCells itself auto-heals a crashed install on entry
    Seq((9L, Seq(0.5, 0.5))).toDF("pid", "pv").write.parquet(s"$index/cell=7")
    writeManifest(Seq(7L))
    assert(fs.rename(p("cell=5"), p(".trash-cell=0")))
    val cents = Seq((1L, Seq(0.0, 1.0)), (5L, Seq(1.0, 0.1)), (6L, Seq(1.0, -0.1)))
      .toDF("cell", "cv")
    StreamingOps.resplitHotCells(spark, index, cents, maxSkew = 100.0)
    val healed = spark.read.parquet(index)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toSet
    assert(healed == Set((0L, 0L), (1L, 6L), (2L, 1L)),
      s"entry recovery must restore cell 0 and drop child 7: $healed")
  }

  test("ANN index restart: ingest resumes against a LOADED centroid artifact; " +
      "persisted re-split commits the next version") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    import graft.ops.{Artifacts, Similarity}
    val base = Files.createTempDirectory("graft_ann_art").toString
    val index = s"$base/index"; val store = s"$base/centroids"
    // session 1: train-equivalent centroids committed as artifact v1,
    // then ingest two batches against the LOADED table
    Artifacts.saveArtifact(
      Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv"),
      store, "ivf_centroids", Map("dim" -> "2"))
    val (cents1, meta1) = Artifacts.loadArtifact(spark, store, "ivf_centroids")
    assert(meta1.version == 1L)
    val mem1 = MemoryStream[(Long, Seq[Double])]
    val q1 = StreamingOps.incrementalAnnIndex(
      mem1.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents1, index, s"$base/ckpt1")
    for (i <- 0L until 8L) {
      val y = if (i % 2 == 0) 0.35 else -0.35
      mem1.addData((i, Seq(1.0 + 0.01 * i, y)))
    }
    mem1.addData((100L, Seq(0.0, 1.0)))
    q1.processAllAvailable(); q1.stop()
    // session 2 (the RESTART): no caller-held state — centroids come
    // from the artifact store; the replay guard must still hold (pid 3
    // re-delivered) and new rows land in the same layout
    val (cents2, meta2) = Artifacts.loadArtifact(spark, store, "ivf_centroids")
    assert(meta2.version == 1L)
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val q2 = StreamingOps.incrementalAnnIndex(
      mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents2, index, s"$base/ckpt2")
    mem2.addData((3L, Seq(1.03, -0.35)), (8L, Seq(1.08, 0.35)), (9L, Seq(1.09, -0.35)))
    q2.processAllAvailable(); q2.stop()
    val pids = spark.read.parquet(index).groupBy(col("pid"))
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    assert(pids.values.forall(_ == 1L), s"replay across restart double-inserted: $pids")
    assert(pids.keySet == (0L until 10L).toSet + 100L)
    // maintenance on the restarted index: the persisted re-split reads
    // v1, splits the hot cell, commits v2 — and the loaded v2 assigns
    // identically to the returned table
    val (updated, v2) = StreamingOps.resplitHotCellsPersisted(spark, index, store,
      maxSkew = 1.5, nSplit = 2, iters = 3)
    assert(v2 == 2L)
    val (loaded, metaL) = Artifacts.loadArtifact(spark, store, "ivf_centroids")
    assert(metaL.params("resplitOf") == "1")
    assert(loaded.as[(Long, Seq[Double])].collect().toSet ==
      updated.as[(Long, Seq[Double])].collect().toSet)
    val post = StreamingOps.cellSkewReport(spark, index)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(post.forall(_._6 <= 1.5), post.toSeq.toString)
    // a third session searching with ONLY the store + index on disk —
    // via the store-loading composition itself
    val qv = Seq((9999L, Seq(1.05, 0.36))).toDF("vec_id", "embedding")
    val hits = Similarity.annIndexSearchFromStore(spark, index, store, qv,
      "vec_id", "embedding", k = 3)
      .select("cand_id").as[Long].collect().toSet
    assert(hits.nonEmpty && hits.subsetOf((0L until 10L by 2).toSet),
      s"expected upper-lobe neighbors, got $hits")
  }

  test("ANN maintainAnnIndex: one pass compacts, re-splits, and commits the artifact") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    import graft.ops.{Artifacts, Similarity}
    val base = Files.createTempDirectory("graft_ann_mnt").toString
    val index = s"$base/index"; val store = s"$base/centroids"
    Artifacts.saveArtifact(
      Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv"),
      store, "ivf_centroids")
    val (cents, _) = Artifacts.loadArtifact(spark, store, "ivf_centroids")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.incrementalAnnIndex(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, index, s"$base/ckpt")
    // 10 micro-batches accrete files in the (skewed) hot cell 0
    for (b <- 0 until 10) {
      for (i <- 0 until 4) {
        val id = 4L * b + i
        mem.addData((id, Seq(1.0 + 0.001 * id, if (id % 2 == 0) 0.3 else -0.3)))
      }
      if (b == 0) mem.addData((100L, Seq(0.0, 1.0)))
      q.processAllAvailable()
    }
    q.stop()
    val before = spark.read.parquet(index)
      .select(col("pid"), col("pv")).as[(Long, Seq[Double])].collect().toMap
    val (newCents, version, compaction) = StreamingOps.maintainAnnIndex(
      spark, index, store, maxFilesPerCell = 2, maxSkew = 1.5,
      nSplit = 2, iters = 3)
    // compaction touched the accreted hot cell
    val comp = compaction.as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(comp(0L)._2 >= 10L && comp(0L)._3 <= 2L, comp.toString)
    // re-split bounded the skew and committed version 2
    assert(version == 2L)
    val post = StreamingOps.cellSkewReport(spark, index)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(post.forall(_._6 <= 1.5), post.toSeq.toString)
    val after = spark.read.parquet(index)
      .select(col("pid"), col("pv")).as[(Long, Seq[Double])].collect().toMap
    assert(after == before)
    // the committed artifact equals the returned centroids, and a fresh
    // store-driven search resolves against the new layout
    val (loaded, metaL) = Artifacts.loadArtifact(spark, store, "ivf_centroids")
    assert(metaL.version == 2L)
    assert(loaded.as[(Long, Seq[Double])].collect().toSet ==
      newCents.as[(Long, Seq[Double])].collect().toSet)
    val hits = Similarity.annIndexSearchFromStore(spark, index, store,
      Seq((9999L, Seq(1.02, 0.31))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3)
      .select("cand_id").as[Long].collect().toSet
    assert(hits.nonEmpty && hits.forall(_ % 2 == 0),
      s"expected upper-lobe neighbors, got $hits")
  }

  test("media codecs run unchanged on a readStream (map-only decode chain)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Multimodal
    // the decode ops are mapPartitions over a typed Dataset — the same
    // plan works incrementally; this gates that nothing in the chain
    // (builder expressions included) requires a batch-only operator
    val mem = MemoryStream[(Long, Long)]
    val media = mem.toDF().toDF("doc_id", "n")
      .select(col("doc_id"),
        Multimodal.syntheticWav(lit(8000), lit(1), lit(8),
          encode(repeat(lit("x"), 8), "UTF-8")).as("media"))
      .as[Multimodal.MediaRow]
    val q = Multimodal.decodeWav(media).writeStream
      .format("memory").queryName("wav_stream_out").outputMode("append").start()
    mem.addData((1L, 0L), (2L, 0L))
    q.processAllAvailable()
    mem.addData((3L, 0L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wav_stream_out")
      .select("doc_id", "n_frames").as[(Long, Long)].collect().toMap
    assert(rows == Map(1L -> 8L, 2L -> 8L, 3L -> 8L))
  }

  test("streaming session-window aggregation runs end-to-end with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = StreamingOps.sessionSums(df, "30 minutes", watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    val base = 1704067200L * 1000000000L
    mem.addData((1L, base, 7L, "click", 1.0, "{}"),
      (2L, base + 60L * 1000000000L, 7L, "click", 2.0, "{}"),
      // 3 hours later: pushes watermark past the first session → it closes
      (3L, base + 10800L * 1000000000L, 7L, "click", 5.0, "{}"))
    q.processAllAvailable()
    mem.addData((4L, base + 14400L * 1000000000L, 7L, "click", 1.0, "{}"))
    q.processAllAvailable()
    val rows = spark.table("sess_out")
      .select("session_value", "session_events").as[(Double, Long)].collect().toSeq
    q.stop()
    assert(rows.contains((3.0, 2L))) // first burst emitted as a closed session
  }

  test("Misra-Gries heavy hitters aggregate live-updates over a stream") {
    // the mergeable sketch drops into streaming aggregation unchanged:
    // complete-mode per-group sketches update across micro-batches (the
    // "top domains right now" dashboard query at ingest time)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val mg = udaf(new graft.ops.MisraGriesAggregator(8))
    val q = mem.toDS().toDF("grp", "tok")
      .groupBy($"grp").agg(mg($"tok").as("hh"))
      .writeStream.format("memory").queryName("hh_out").outputMode("complete").start()
    mem.addData(("a", "x"), ("a", "x"), ("a", "y"))
    q.processAllAvailable()
    mem.addData(("a", "x"), ("b", "z")) // sketch state must merge, not reset
    q.processAllAvailable()
    val got = spark.table("hh_out").as[(String, Seq[(String, Long)])].collect().toMap
    q.stop()
    assert(got("a") == Seq(("x", 3L), ("y", 1L))) // exact regime, count-desc order
    assert(got("b") == Seq(("z", 1L)))
  }

  test("incremental ANN index: batch-parity assignment, replays suppressed, cell layout") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val index = Files.createTempDirectory("graft_ann_idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_ann_ckpt").toString
    // two well-separated frozen centroids (the deployed kmeansFit output)
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv")
    val mem = MemoryStream[(Long, Seq[Double])]
    val emb = mem.toDF().toDF("vec_id", "embedding")
    val q = StreamingOps.incrementalAnnIndex(emb, "vec_id", "embedding",
      cents, index, ckpt)
    mem.addData((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.8)))
    q.processAllAvailable()
    // batch 2 replays id 1 (identical payload) + two new vectors
    mem.addData((1L, Seq(0.9, 0.1)), (3L, Seq(0.7, 0.3)), (4L, Seq(0.2, 0.9)))
    q.processAllAvailable()
    q.stop()
    val idx = spark.read.parquet(index)
    assert(idx.count() == 4) // replayed id inserted exactly once
    val got = idx.select(col("pid"), col("cell")).as[(Long, Long)].collect().toMap
    // parity with the batch assignment path over the same unique vectors
    val batchAll = Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.8)),
      (3L, Seq(0.7, 0.3)), (4L, Seq(0.2, 0.9))).toDF("vec_id", "embedding")
    val want = graft.ops.Similarity.assignCells(batchAll, "vec_id", "embedding", cents)
      .select(col("pid"), col("cell")).as[(Long, Long)].collect().toMap
    assert(got == want && got == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
    // partitioned by cell on disk: a one-cell search prunes whole
    // directories at the scan
    val cellDirs = new java.io.File(index).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cell=")).sorted.toSeq
    assert(cellDirs == Seq("cell=0", "cell=1"))
  }

  test("incremental PQ codes: batch-parity encoding against frozen codebooks, replays suppressed") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val codes = Files.createTempDirectory("graft_pq_codes").toString + "/codes"
    val ckpt = Files.createTempDirectory("graft_pq_ckpt").toString
    // frozen codebooks: 2 subspaces × 2 codes over 4-dim vectors, long
    // form (sub, cell, pos, coord) as pqTrain emits
    val cb = Seq(
      (0L, 0L, 0L, 1.0), (0L, 0L, 1L, 0.0), (0L, 1L, 0L, 0.0), (0L, 1L, 1L, 1.0),
      (1L, 0L, 0L, 1.0), (1L, 0L, 1L, 0.0), (1L, 1L, 0L, 0.0), (1L, 1L, 1L, 1.0))
      .toDF("sub", "cell", "pos", "coord")
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.incrementalPqCodes(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      m = 2, dim = 4, codebooks = cb, codes, ckpt)
    mem.addData((1L, Seq(0.9, 0.1, 0.2, 0.8)), (2L, Seq(0.1, 0.9, 0.9, 0.1)))
    q.processAllAvailable()
    // batch 2 replays id 1 + one new vector
    mem.addData((1L, Seq(0.9, 0.1, 0.2, 0.8)), (3L, Seq(0.8, 0.2, 0.1, 0.9)))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(codes)
      .select(col("pid"), col("sub"), col("code"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got.map(_._1) == Set(1L, 2L, 3L))
    assert(got.size == 6, "replayed vector must encode exactly once (m rows per id)")
    // parity with the batch encode over the same unique vectors
    val batchAll = Seq((1L, Seq(0.9, 0.1, 0.2, 0.8)), (2L, Seq(0.1, 0.9, 0.9, 0.1)),
      (3L, Seq(0.8, 0.2, 0.1, 0.9))).toDF("vec_id", "embedding")
    val want = graft.ops.Similarity.pqEncode(batchAll, "vec_id", "embedding", 2, 4, cb)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    // and the codes are the expected nearest sub-codes
    assert(got == Set((1L, 0L, 0L), (1L, 1L, 1L), (2L, 0L, 1L), (2L, 1L, 0L),
      (3L, 0L, 0L), (3L, 1L, 1L)))
  }

  // ---- CDC appliers: the state-read contract, adversarial SCD2, job budget

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Overwrites every part file under `dir` with bytes that are not parquet. */
  private def corruptParts(dir: String): Unit =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .foreach(f => java.nio.file.Files.write(f.toPath, "not parquet".getBytes))

  /** Processes what `q` has; the batch must fail with `expect` somewhere in
    * its cause chain. */
  private def assertBatchFails(q: org.apache.spark.sql.streaming.StreamingQuery,
                               expect: String): Unit = {
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.processAllAvailable())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    q.stop()
    assert(msgs.exists(_.contains(expect)), msgs.mkString(" | "))
  }

  private def scd2Query(mem: MemoryStream[StreamingOps.ChangeEvent], dir: String) =
    StreamingOps.incrementalScd2(mem.toDS().toDF("user_id", "event_id", "ts", "value"),
      "user_id", s"$dir/current", s"$dir/history", s"$dir/ckpt")

  private def exactDedupQuery(mem: MemoryStream[(Long, String)], dir: String) =
    StreamingOps.incrementalExactDedup(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/corpus", s"$dir/ledger", s"$dir/ckpt")

  test("incremental SCD2: a snapshot dir without data files fails the batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("scd2_nofiles_")
    new java.io.File(s"$dir/current").mkdirs()
    new java.io.File(s"$dir/current/_SUCCESS").createNewFile()
    val mem = MemoryStream[StreamingOps.ChangeEvent]
    val q = scd2Query(mem, dir)
    mem.addData(StreamingOps.ChangeEvent(1L, 10L, 100L, 5.0))
    assertBatchFails(q, "holds no data files")
    assert(!new java.io.File(s"$dir/history").exists(), "nothing was appended")
  }

  test("incremental SCD2: a corrupt snapshot part fails the batch; history gains no rows") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("scd2_corrupt_")
    val mem = MemoryStream[StreamingOps.ChangeEvent]
    val q = scd2Query(mem, dir)
    mem.addData(StreamingOps.ChangeEvent(1L, 10L, 100L, 5.0),
      StreamingOps.ChangeEvent(1L, 11L, 200L, 6.0))
    q.processAllAvailable()
    val before = spark.read.parquet(s"$dir/history").count()
    assert(before == 1)
    corruptParts(s"$dir/current")
    // would close key 1's open row, i.e. append one history row
    mem.addData(StreamingOps.ChangeEvent(1L, 12L, 300L, 7.0))
    assertBatchFails(q, "parquet")
    assert(spark.read.parquet(s"$dir/history").count() == before)
  }

  test("incremental exact dedup: a ledger dir without data files fails the batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("xdedup_nofiles_")
    new java.io.File(s"$dir/ledger").mkdirs()
    val mem = MemoryStream[(Long, String)]
    val q = exactDedupQuery(mem, dir)
    mem.addData((1L, "alpha text"))
    assertBatchFails(q, "holds no data files")
    assert(!new java.io.File(s"$dir/corpus").exists(), "nothing was appended")
  }

  test("incremental exact dedup: a corrupt ledger part fails the batch; corpus gains no rows") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("xdedup_corrupt_")
    val mem = MemoryStream[(Long, String)]
    val q = exactDedupQuery(mem, dir)
    mem.addData((1L, "alpha text"), (2L, "beta text"))
    q.processAllAvailable()
    corruptParts(s"$dir/ledger")
    mem.addData((3L, "gamma text"))
    assertBatchFails(q, "parquet")
    assert(spark.read.parquet(s"$dir/corpus").count() == 2)
  }

  test("near-dedup ledgers restarted with a larger k fail the batch, not read null signatures") {
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again " * 5
    for (transitive <- Seq(false, true)) {
      val dir = tmpDir("ndedup_k_")
      def start(mem: MemoryStream[(Long, String)], k: Int, ckpt: String) = {
        val docs = mem.toDF().toDF("doc_id", "text")
        if (transitive) StreamingOps.incrementalNearDedupTransitive(docs, "doc_id", "text",
          s"$dir/corpus", s"$dir/ledger", ckpt, k = k)
        else StreamingOps.incrementalNearDedup(docs, "doc_id", "text",
          s"$dir/corpus", s"$dir/ledger", ckpt, k = k)
      }
      val mem1 = MemoryStream[(Long, String)]
      val q1 = start(mem1, 8, s"$dir/ckpt8")
      mem1.addData((1L, text))
      q1.processAllAvailable()
      q1.stop()
      val mem2 = MemoryStream[(Long, String)]
      val q2 = start(mem2, 16, s"$dir/ckpt16")
      mem2.addData((2L, text))  // a duplicate of doc 1
      assertBatchFails(q2, "lacks columns mh8")
      assert(spark.read.parquet(s"$dir/corpus").count() == 1, s"transitive=$transitive")
    }
  }

  test("incremental SCD2 over 4 batches: ts ties, open-edge replays, idle and late keys " +
      "equal the batch rebuild of the log without replays") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.ChangeEvent
    val dir = tmpDir("scd2_adv_")
    val mem = MemoryStream[ChangeEvent]
    val q = scd2Query(mem, dir)
    // (key, event_id, ts, value)
    val batches: Seq[(Seq[ChangeEvent], Seq[ChangeEvent])] = Seq(
      // (accepted, replays) per batch
      (Seq(ChangeEvent(1L, 11L, 100L, 2.0), ChangeEvent(1L, 10L, 100L, 1.0), // ts tie
          ChangeEvent(2L, 20L, 50L, 7.0), ChangeEvent(2L, 21L, 60L, 8.0)),    // key 2 idles after
        Seq.empty),
      // key 1's open edge is (100, 11): equal ts with a lower and with an
      // equal event_id replays; equal ts with a higher event_id is new
      (Seq(ChangeEvent(1L, 12L, 100L, 3.0), ChangeEvent(1L, 13L, 200L, 4.0),
          ChangeEvent(3L, 30L, 10L, 1.5)),
        Seq(ChangeEvent(1L, 10L, 100L, 1.0), ChangeEvent(1L, 11L, 100L, 2.0))),
      // replays of the open edge and of an older closed row; a ts tie
      // inside the batch
      (Seq(ChangeEvent(3L, 32L, 20L, 2.5), ChangeEvent(3L, 31L, 20L, 2.0),
          ChangeEvent(1L, 14L, 300L, 5.0)),
        Seq(ChangeEvent(1L, 13L, 200L, 4.0), ChangeEvent(3L, 30L, 10L, 1.5))),
      // key 9 first seen in the last batch, with a ts tie
      (Seq(ChangeEvent(9L, 91L, 5L, 0.5), ChangeEvent(9L, 90L, 5L, 0.25),
          ChangeEvent(3L, 33L, 30L, 3.0)),
        Seq(ChangeEvent(1L, 14L, 300L, 5.0), ChangeEvent(3L, 31L, 20L, 2.0))))
    batches.foreach { case (accepted, replays) =>
      mem.addData(accepted ++ replays)
      q.processAllAvailable()
    }
    q.stop()
    val cols = Seq("user_id", "event_id", "valid_from", "valid_to", "state_value", "version")
    val snapshot = spark.read.parquet(s"$dir/current")
    val maintained = spark.read.parquet(s"$dir/history")
      .unionByName(snapshot.withColumn("valid_to", lit(null).cast("long")))
      .select(cols.map(col): _*)
    val rebuilt = StreamingOps.scd2History(
        batches.flatMap(_._1).toDF("user_id", "event_id", "ts", "value"))
      .select(cols.map(col): _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq.sorted
    assert(rows(maintained) == rows(rebuilt))
    // spot checks the comparison could hide behind a symmetric mistake
    val open = snapshot.select("user_id", "event_id", "version")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(open(2L) == ((21L, 2L)), "key 2, untouched after batch 1, keeps version 2")
    assert(open(1L) == ((14L, 5L)), "key 1: 10, 11, 12, 13, 14")
    assert(open(9L) == ((91L, 2L)), "key 9, first seen last, ties broken by event_id")
    assert(maintained.groupBy("user_id", "version").count().where(col("count") > 1).isEmpty)
  }

  /** Per batch after the first (which creates the state), for the query
    * `start(dir)` builds: its job count, and whether the job writing its
    * second output (the plan names `staged`) started before the job
    * writing its first output (to `$dir/$first`, which `start` must write
    * through `crashfs:`) ended, in listener-bus order. While a batch runs,
    * each task commit of the first write waits until the staging job has
    * started (10 s at most), so a staging write that runs alongside the
    * first always overlaps it and one that runs after it never does. */
  private def writeJobsPerBatch(dir: String, first: String, staged: String,
                                feed: Seq[() => Unit])
                               (start: String => org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[(Int, Boolean)] = {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
      SparkListenerJobStart}
    import org.apache.spark.sql.GraftPlanBridge
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    // ("start" | "end", "first" | "staged" | "") of each job event
    val events = new ConcurrentLinkedQueue[(String, String)]
    val stagingStarted = new AtomicReference(new CountDownLatch(0))
    val holds = new AtomicInteger
    val listener = new SparkListener {
      // one thread delivers every event, in the order they were posted
      private val plans = scala.collection.mutable.Map.empty[String, String]
      private val outputs = scala.collection.mutable.Map.empty[Int, String]
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          plans(x.executionId.toString) = x.physicalPlanDescription
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val plan = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(plans.get).getOrElse("")
        val out = if (plan.contains(staged)) "staged"
          else if (plan.contains(s"$dir/$first")) "first" else ""
        outputs(e.jobId) = out
        events.add("start" -> out)
        if (out == "staged") stagingStarted.get.countDown()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        events.add("end" -> outputs.getOrElse(e.jobId, ""))
    }
    val q = start(dir)
    sc.addSparkListener(listener)
    try {
      feed.head(); q.processAllAvailable()
      CrashFs.hold = (src, dst) =>
        // a task commit: the attempt directory moves within `_temporary`
        if (src.startsWith(s"$dir/$first/_temporary/") && dst.contains("/_temporary/")) {
          holds.incrementAndGet()
          stagingStarted.get.await(10, TimeUnit.SECONDS): Unit
        }
      feed.tail.map { add =>
        GraftPlanBridge.drainListeners(sc)
        events.clear(); holds.set(0); stagingStarted.set(new CountDownLatch(1))
        add(); q.processAllAvailable()
        GraftPlanBridge.drainListeners(sc)
        assert(holds.get > 0, "no task commit of the first write was held")
        val log = events.asScala.toSeq
        val overlap = log.indexOf("start" -> "staged") match {
          case -1 => false
          case s => log.indexOf("end" -> "first") > s
        }
        (log.count(_._1 == "start"), overlap)
      }
    } finally { CrashFs.hold = (_, _) => (); q.stop(); sc.removeSparkListener(listener) }
  }

  private def changeBatches(changes: MemoryStream[StreamingOps.ChangeEvent], n: Int) =
    (0 until n).map { b =>
      () => changes.addData((0 until 20).map(i =>
        StreamingOps.ChangeEvent(i % 7L, b * 100L + i, b * 1000L + i, i.toDouble))): Unit
    }

  test("CDC appliers stay within their per-batch Spark job budget") {
    implicit val sqlCtx = spark.sqlContext
    val changes = MemoryStream[StreamingOps.ChangeEvent]
    val scd2 = writeJobsPerBatch(tmpDir("scd2_jobs_"), "history", ".current.staged",
        changeBatches(changes, 4)) { dir =>
      StreamingOps.incrementalScd2(changes.toDS().toDF("user_id", "event_id", "ts", "value"),
        "user_id", s"$dir/current", s"crashfs://$dir/history", s"$dir/ckpt")
    }
    val docs = MemoryStream[(Long, String)]
    val dedup = writeJobsPerBatch(tmpDir("xdedup_jobs_"), "corpus", ".ledger.append",
        (0 until 4).map { b =>
          () => docs.addData((0 until 20).map(i => (b * 100L + i, s"text ${i % 9}"))): Unit
        }) { dir =>
      StreamingOps.incrementalExactDedup(docs.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"crashfs://$dir/corpus", s"$dir/ledger", s"$dir/ckpt")
    }
    info(s"(jobs, write jobs overlap) per batch: scd2 $scd2, exact dedup $dedup")
    // the stages' shuffle maps and broadcasts, then the two writes; no
    // job of its own fills the batch result's cache
    assert(scd2.forall(_._1 <= 3), s"incrementalScd2 jobs per batch: $scd2")
    assert(dedup.forall(_._1 <= 4), s"incrementalExactDedup jobs per batch: $dedup")
    // the second output is staged while the first is written
    assert(scd2.forall(_._2), s"incrementalScd2 write jobs overlap per batch: $scd2")
    assert(dedup.forall(_._2), s"incrementalExactDedup write jobs overlap per batch: $dedup")
  }

  // ---- the persisted batch result and the staged write of the appliers ----

  test("persisted: the first action stores the rows, and a lost block is recomputed " +
      "from the lineage") {
    val sc = spark.sparkContext
    val df = spark.range(0, 2000, 1, 4).groupBy((col("id") % 13).as("k"))
      .agg(sum(col("id")).as("s"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).toSeq.sorted
    val expected = rows(df)
    val before = sc.getPersistentRDDs.keySet
    StreamingOps.persisted(df) { p =>
      assert(rows(p) == expected)
      val ids = sc.getPersistentRDDs.keySet -- before
      assert(ids.size == 1, ids)
      assert(sc.getRDDStorageInfo.exists(i => i.id == ids.head && i.numCachedPartitions > 0),
        "the first action stored the rows")
      // drop every block: a local checkpoint would now fail the action
      sc.getPersistentRDDs(ids.head).unpersist(blocking = true)
      assert(rows(p) == expected)
    }
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("CDC appliers release their persisted batch results every batch") {
    implicit val sqlCtx = spark.sqlContext
    val sc = spark.sparkContext
    val changes = MemoryStream[StreamingOps.ChangeEvent]
    val docs = MemoryStream[(Long, String)]
    val before = sc.getPersistentRDDs.size
    val scd2 = scd2Query(changes, tmpDir("scd2_release_"))
    val dedup = exactDedupQuery(docs, tmpDir("xdedup_release_"))
    try changeBatches(changes, 10).zipWithIndex.foreach { case (add, b) =>
      add(); docs.addData((0 until 20).map(i => (b * 100L + i, s"text ${i % 9} $b")): _*)
      scd2.processAllAvailable(); dedup.processAllAvailable()
      assert(sc.getPersistentRDDs.size <= before, s"batch $b: ${sc.getPersistentRDDs}")
    } finally { scd2.stop(); dedup.stop() }
  }

  test("the staged write runs under the query's job group and job tags") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val tag = "graft-staging-test"
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]
    // (SQL execution id, job group, job tags) of every job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Seq[String])]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          plans.put(x.executionId.toString, x.physicalPlanDescription): Unit
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.sql.execution.id"),
          e.properties.getProperty("spark.jobGroup.id"),
          Option(e.properties.getProperty("spark.job.tags")).toSeq.flatMap(_.split(",")))): Unit
    }
    val changes = MemoryStream[StreamingOps.ChangeEvent]
    sc.addJobTag(tag)
    // the query thread takes this thread's job tags when it starts
    val q = try scd2Query(changes, tmpDir("scd2_tags_")) finally sc.removeJobTag(tag)
    sc.addSparkListener(listener)
    try changeBatches(changes, 3).foreach { add => add(); q.processAllAvailable() }
    finally { q.stop(); sc.removeSparkListener(listener) }
    org.apache.spark.sql.GraftPlanBridge.drainListeners(sc)
    // the jobs of the writes to the staged snapshot, one per batch
    val staged = jobs.asScala.toSeq.filter(j =>
      Option(plans.get(j._1)).exists(_.contains(".current.staged")))
    assert(staged.size == 3, jobs.asScala.mkString("\n"))
    assert(staged.forall(j => j._2 == q.runId.toString && j._3.contains(tag)), staged)
  }
}
