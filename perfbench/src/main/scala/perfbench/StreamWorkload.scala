package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{ChangeEvent, KeyedValue}

/** The cdc-stream workload: generated change batches fed through
  * `MemoryStream`s into five streaming operators, one batch at a time and
  * one query at a time (`addData`, then `processAllAvailable`). Fed
  * together, the five queries contend for the four cores and batch times
  * scatter by a third between runs.
  *
  * A run starts the operators once, on fresh state. Its first batches are
  * fed untimed as warm-up: the first is each query's first micro-batch,
  * which also creates its state store and checkpoint, and all of them
  * JIT-compile the per-batch path. Every later batch is timed on its own.
  * After the last batch, and outside any timing, every stream output is
  * compared with its operator's batch form over the concatenated input. */
object StreamWorkload {
  final case class Ev(event_id: Long, ts: Long, user_id: Long,
                      event_type: String, value: Double, props: String)
  final case class Doc(doc_id: Long, text: String)
  final case class Batch(events: Seq[Ev], replays: Seq[Ev], docs: Seq[Doc])

  private val Alpha = 0.3
  private val DedupWatermark = "1 hour"
  private val DeleteTypes = Seq("delete")

  def load(path: String, n: Int): Seq[Batch] = {
    val mapper = new ObjectMapper()
    def evs(a: JsonNode): Seq[Ev] = a.elements().asScala.map { e =>
      Ev(e.get("event_id").asLong, e.get("ts").asLong, e.get("user_id").asLong,
        e.get("event_type").asText, e.get("value").asDouble, e.get("props").asText)
    }.toSeq
    Files.readAllLines(Paths.get(path)).asScala.take(n).map { line =>
      val b = mapper.readTree(line)
      Batch(evs(b.get("events")), evs(b.get("replays")),
        b.get("docs").elements().asScala.map(d =>
          Doc(d.get("doc_id").asLong, d.get("text").asText)).toSeq)
    }.toSeq
  }

  /** The five streaming queries of one pass, each on its own source. */
  final class Pipeline(spark: SparkSession, dir: String, tag: String) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val changes = MemoryStream[ChangeEvent]
    private val values = MemoryStream[KeyedValue]
    private val raw = MemoryStream[Ev]
    private val clean = MemoryStream[Ev]
    private val docs = MemoryStream[Doc]
    val changelogTable = s"changelog_$tag"
    val emaTable = s"ema_$tag"
    val dedupTable = s"dedup_$tag"
    val scd2Current = s"$dir/scd2/current"
    val scd2History = s"$dir/scd2/history"
    val corpus = s"$dir/exactdedup/corpus"

    private def memory(df: DataFrame, name: String): StreamingQuery =
      df.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"$dir/checkpoints/$name").start()

    val queries: Seq[(String, StreamingQuery)] = Seq(
      "changelog" -> memory(StreamingOps.changelogStream(changes.toDS()).toDF(),
        changelogTable),
      "ema" -> memory(StreamingOps.statefulEma(values.toDS(), Alpha).toDF(), emaTable),
      "dedup" -> memory(StreamingOps.dedupEvents(raw.toDF(), Some(DedupWatermark)),
        dedupTable),
      "scd2" -> StreamingOps.incrementalScd2(
        clean.toDF().select("user_id", "event_id", "ts", "value"), "user_id",
        scd2Current, scd2History, s"$dir/checkpoints/scd2"),
      "exactdedup" -> StreamingOps.incrementalExactDedup(docs.toDF(), "doc_id", "text",
        corpus, s"$dir/exactdedup/ledger", s"$dir/checkpoints/exactdedup"))

    /** Feeds one batch: each query in turn gets its rows and processes them. */
    def feed(b: Batch): Unit = {
      val inputs: Seq[() => Unit] = Seq(
        () => changes.addData(b.events.map(e => ChangeEvent(e.user_id, e.event_id, e.ts, e.value))),
        () => values.addData(b.events.map(e => KeyedValue(e.user_id, e.ts, e.event_id, e.value))),
        () => raw.addData(b.events ++ b.replays),
        () => clean.addData(b.events),
        () => docs.addData(b.docs))
      inputs.zip(queries).foreach { case (add, (_, q)) => add(); q.processAllAvailable() }
    }

    /** Each query's progress for every batch after the first `skip`. */
    def progress(skip: Int): Seq[Map[String, Any]] = queries.flatMap { case (name, q) =>
      q.recentProgress.filter(_.numInputRows > 0).drop(skip).map { p =>
        val ops = p.stateOperators
        Map("query" -> name, "batch" -> p.batchId,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mb" -> ops.map(_.memoryUsedBytes).sum / (1024.0 * 1024.0),
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "dropped_late" -> ops.map(_.numRowsDroppedByWatermark).sum)
      }
    }

    def stop(): Unit = queries.foreach(_._2.stop())
  }

  /** Feeds and times each batch on its own. */
  private def timed(p: Pipeline, batches: Seq[Batch],
                    tracer: Option[Tracer]): Seq[Map[String, Any]] =
    batches.map { b =>
      tracer.foreach(_.drain())
      val t0 = Clock.now()
      val error = try { p.feed(b); null } catch {
        case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      Map("start" -> t0, "end" -> Clock.now(), "error" -> error)
    }

  /** The run: warm-up batches, timed batches, in a traced run as many
    * traced batches and then as many untimed ones again, so that untraced
    * batches bracket the traced ones; then the output check. */
  def run(spark: SparkSession, args: Map[String, Any],
          out: mutable.Map[String, Any]): Unit = {
    val work = args("work_dir").toString
    val warm = args("warmup_batches").asInstanceOf[Int]
    val n = args("timed_batches").asInstanceOf[Int]
    val batches = load(args("cdc_file").toString, args("batches").asInstanceOf[Int])
    val p = new Pipeline(spark, s"$work/stream", "run")
    val w0 = Clock.now()
    batches.take(warm).foreach(p.feed)
    out("warmup_s") = Clock.now() - w0
    val passes = mutable.ArrayBuffer(timed(p, batches.slice(warm, warm + n), None))
    if (args("trace") == 1) {
      val tracer = new Tracer(spark)
      tracer.attach()
      out("traced_pass") = timed(p, batches.slice(warm + n, warm + 2 * n), Some(tracer))
      tracer.detach()
      out("progress") = p.progress(warm + n)
      passes += timed(p, batches.slice(warm + 2 * n, warm + 3 * n), None)
      out("trace") = tracer.toJson
    }
    out("passes") = passes.toList
    p.stop()
    out("checks") = compare(spark, p, batches)
    if (args("trace") == 1) {
      val dir = args("data_dir").toString
      out("kernels") = BatchWorkload.kernels(spark, dir)
      out("sources") = BatchWorkload.sources(spark, dir)
    }
  }

  /** Compares every stream output of the finished run with its batch form
    * over the concatenated input. Returns one entry per check. */
  private def compare(spark: SparkSession, p: Pipeline, batches: Seq[Batch]): Map[String, Any] = {
    import spark.implicits._
    val cleanAll = batches.flatMap(_.events).toDF()
    val rawAll = batches.flatMap(b => b.events ++ b.replays).toDF()
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def same(a: DataFrame, b: DataFrame): Map[String, Any] = {
      val (x, y) = (rows(a), rows(b))
      Map("ok" -> (x == y), "stream_rows" -> x.size, "batch_rows" -> y.size)
    }

    val changelog = same(
      spark.table(p.changelogTable)
        .select("key", "eventId", "ts", "op", "oldValue", "newValue"),
      StreamingOps.changelogOps(cleanAll)
        .select("user_id", "event_id", "ts", "op", "old_value", "value"))
    val ema = same(
      spark.table(p.emaTable).select("key", "order", "tie", "ema"),
      StreamingOps.statefulEma(batches.flatMap(_.events)
        .map(e => KeyedValue(e.user_id, e.ts, e.event_id, e.value)).toDS(), Alpha).toDF())
    val streamDedup = spark.table(p.dedupTable)
    val batchDedup = StreamingOps.dedupEvents(rawAll, None)
    val dedup = same(streamDedup.select(rawAll.columns.map(col).toIndexedSeq: _*),
      batchDedup.select(rawAll.columns.map(col).toIndexedSeq: _*))
    val scd2Cols = Seq("user_id", "event_id", "valid_from", "state_value", "version",
      "valid_to")
    val scd2Stream = spark.read.parquet(p.scd2History)
      .unionByName(spark.read.parquet(p.scd2Current)
        .withColumn("valid_to", lit(null).cast("long")))
    val scd2 = same(scd2Stream.select(scd2Cols.map(col): _*),
      StreamingOps.scd2History(cleanAll).select(scd2Cols.map(col): _*))
    val latestBatch = StreamingOps.cdcLatestState(batchDedup, "user_id", DeleteTypes)
    val latest = same(StreamingOps.cdcLatestState(streamDedup, "user_id", DeleteTypes),
      latestBatch)
    Map(
      "changelog" -> changelog, "ema" -> ema, "dedup" -> dedup, "scd2" -> scd2,
      "latest_state" -> latest,
      // checked in Python against the generator's own bookkeeping
      "latest_values" -> latestBatch.select("user_id", "last_value").collect()
        .map((r: Row) => r.getLong(0).toString -> r.getDouble(1)).toMap,
      "survivors" -> spark.read.parquet(p.corpus).select("doc_id").collect()
        .map(_.getLong(0)).toSeq.sorted)
  }
}
