package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftPlanBridge, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.sources.Parquet

/** Structured-Streaming / CDC operators (SURVEY.md §2.7).
  *
  * The reference's training loop is natively incremental — bounded append
  * buffer, per-episode accumulation, EMA soft-updates, best-so-far
  * tracking. Re-expressed here over the `events` stream:
  *   - append ingest with watermarked event time,
  *   - session windows per user/episode,
  *   - stateful EMA via flatMapGroupsWithState,
  *   - CDC latest-state materialization (upsert/delete log → table).
  *
  * Each op has a batch form (same Catalyst plan shape, used by the
  * correctness gate) and works unchanged on a `readStream` input where
  * noted. Late data policy: watermark `withWatermark("ts_t", d)` — rows
  * later than d are dropped from open windows (documented; reference has
  * a single writer and no late data).
  */
object StreamingOps {

  /** events.ts arrives as nanosecond epoch (read as long); derive the
    * event-time timestamp column Structured Streaming needs. */
  def withEventTime(events: DataFrame): DataFrame =
    // integer `div`, not `/`: double division of epoch-nanos (~1.7e18)
    // loses ulps near integer boundaries and could mis-truncate.
    events.withColumn("ts_t", timestamp_micros(expr("ts div 1000")))

  /** Session-window accumulation (reference rollout W3): per user, windows
    * closed by a gap of inactivity. Works in batch and streaming. */
  def sessionSums(events: DataFrame, gap: String = "30 minutes",
                  watermark: Option[String] = None): DataFrame = {
    val src = withEventTime(events)
    val marked = watermark.map(src.withWatermark("ts_t", _)).getOrElse(src)
    marked
      .groupBy(session_window(col("ts_t"), gap).as("session"), col("user_id"))
      .agg(sum(col("value")).as("session_value"), count(lit(1)).as("session_events"))
      .select(col("user_id"),
        unix_micros(col("session.start")).as("session_start_us"),
        unix_micros(col("session.end")).as("session_end_us"),
        col("session_value"), col("session_events"))
  }

  /** Tumbling-window cadence aggregation (reference eval-every W5). */
  def tumblingAgg(events: DataFrame, width: String = "1 day",
                  watermark: Option[String] = None): DataFrame = {
    val src = withEventTime(events)
    val marked = watermark.map(src.withWatermark("ts_t", _)).getOrElse(src)
    marked.groupBy(window(col("ts_t"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
        col("n"), col("total"))
  }

  /** Sliding (hopping) window aggregation — each event lands in
    * width/slide overlapping windows (the smoothing-over-steps view of the
    * reference's eval cadence). Works in batch and streaming. */
  def slidingAgg(events: DataFrame, width: String = "1 day",
                 slide: String = "12 hours",
                 watermark: Option[String] = None): DataFrame = {
    val src = withEventTime(events)
    val marked = watermark.map(src.withWatermark("ts_t", _)).getOrElse(src)
    marked.groupBy(window(col("ts_t"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
        col("n"), col("total"))
  }

  case class EmaState(ema: Double)
  case class KeyedValue(key: Long, order: Long, tie: Long, value: Double)
  case class EmaOut(key: Long, order: Long, tie: Long, ema: Double)

  /** Stateful EMA per key (reference soft-update J3 / smoothing W2 as a
    * stream): s ← α·s + (1−α)·x per arriving row, emitted per row.
    * State is one double per key — O(keys) memory, the canonical
    * mapGroupsWithState shape. Batch input: rows within a key are folded
    * in (order, tie) order — the tie-break makes the fold deterministic
    * when two rows share an `order` value (ADVICE r1). */
  def statefulEma(ds: Dataset[KeyedValue], alpha: Double): Dataset[EmaOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[EmaState, EmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[KeyedValue], state: GroupState[EmaState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.order, r.tie))
          var s = state.getOption.map(_.ema)
          val out = sorted.map { r =>
            s = Some(s.fold(r.value)(prev => alpha * prev + (1 - alpha) * r.value))
            EmaOut(key, r.order, r.tie, s.get)
          }
          if (s.isDefined) state.update(EmaState(s.get))
          out.iterator
      }
  }

  case class AnomalyOut(key: Long, order: Long, tie: Long, value: Double,
                        nCtx: Long)
  case class AnomalyState(window: Seq[Double])

  /** Streaming form of `w8_anomaly_zscore`: per-key trailing-window 3σ
    * detection with the window carried across micro-batches by
    * `flatMapGroupsWithState`. The candidate row is judged against the
    * PREVIOUS `window` values only (itself excluded, exactly the batch
    * frame `rowsBetween(-window, -1)`), then pushed; the predicate is the
    * same squared polynomial — (x·n − Σx)² > σ²·9·(n·Σx² − (Σx)²) — so
    * batch and stream flag identical rows on identical input order.
    *
    * State is ≤ `window` doubles per key — O(live keys · window), the
    * sliding-window analogue of statefulEma's single double; a watermark
    * + timeout would bound idle keys in production (same note as the
    * other stateful ops). */
  def statefulAnomaly(ds: Dataset[KeyedValue], window: Int = 20,
                      minCtx: Int = 10, sigmas: Double = 3.0): Dataset[AnomalyOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[AnomalyState, AnomalyOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[KeyedValue], state: GroupState[AnomalyState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.order, r.tie))
          var w = state.getOption.map(_.window.toVector).getOrElse(Vector.empty)
          val out = Vector.newBuilder[AnomalyOut]
          sorted.foreach { r =>
            val n = w.length.toLong
            if (n >= minCtx) {
              val s1 = w.sum
              val s2 = w.map(x => x * x).sum
              val dev = r.value * n - s1
              if (dev * dev > sigmas * sigmas * (n * s2 - s1 * s1))
                out += AnomalyOut(key, r.order, r.tie, r.value, n)
            }
            w = (w :+ r.value).takeRight(window)
          }
          state.update(AnomalyState(w))
          out.result().iterator
      }
  }

  case class ChangeEvent(key: Long, eventId: Long, ts: Long, value: Double)
  case class ChangeOp(key: Long, eventId: Long, ts: Long, op: String,
                      oldValue: Option[Double], newValue: Double)
  case class LastValue(value: Double)

  /** Streaming form of [[changelogOps]]: per-key last-value state carried
    * across micro-batches by `flatMapGroupsWithState`, each arriving change
    * emitted as I (first sighting), U (value changed), or N (idempotent
    * replay). State is ONE double per key — O(live keys) memory, the same
    * bound as `cdcLatestState`'s streaming form; at 100 TB of history the
    * state is still only the key cardinality, because classification needs
    * the previous value, never the previous rows. Within a batch, rows of
    * a key fold in (ts, eventId) order so replayed batches classify
    * identically. */
  def changelogStream(ds: Dataset[ChangeEvent]): Dataset[ChangeOp] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[LastValue, ChangeOp](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[ChangeEvent], state: GroupState[LastValue]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts, r.eventId))
          var prev = state.getOption.map(_.value)
          val out = sorted.map { r =>
            val op = prev match {
              case None                    => "I"
              case Some(p) if p != r.value => "U"
              case _                       => "N"
            }
            val o = ChangeOp(key, r.eventId, r.ts, op, prev, r.value)
            prev = Some(r.value)
            o
          }
          prev.foreach(p => state.update(LastValue(p)))
          out.iterator
      }
  }

  /** CDC latest-state materialization: treat events as an upsert/delete
    * log keyed by user_id — the canonical change-data-capture compaction.
    * `deleteTypes` rows tombstone the key. Batch form = window rank on
    * (ts desc); streaming form = the same via `flatMapGroupsWithState`
    * (latest-row state per key). */
  def cdcLatestState(events: DataFrame, keyCol: String = "user_id",
                     deleteTypes: Seq[String] = Seq("error")): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      // null-proof membership: a NULL event_type is NOT a delete marker.
      // A bare `!isInCollection` yields NULL for NULL input and silently
      // drops the row — the one membership-test class that diverges
      // between engines (three-valued logic), so it is spelled out.
      .where(col("event_type").isNull ||
        !col("event_type").isInCollection(deleteTypes))
      .select(col(keyCol), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), col("event_type").as("last_type"),
        col("value").as("last_value"))
  }

  /** At-least-once delivery dedup — the first streaming op of any real
    * CDC ingest: upstream replays deliver the same event twice, the sink
    * must see it once. Streaming form: `dropDuplicatesWithinWatermark`
    * (state = one key per event inside the watermark horizon — bounded,
    * unlike plain dropDuplicates whose state grows forever). Batch form:
    * deterministic rank so the same single row per event_id survives in
    * both engines. */
  def dedupEvents(events: DataFrame, watermark: Option[String] = None): DataFrame =
    watermark match {
      case Some(d) =>
        withEventTime(events).withWatermark("ts_t", d)
          .dropDuplicatesWithinWatermark("event_id").drop("ts_t")
      case None =>
        // tie-break covers the FULL payload: if the same event_id arrives
        // with different values (an upsert, not a byte-identical replay),
        // the surviving row must not depend on partition order — props
        // included, or two rows differing only there race nondeterministically
        val w = Window.partitionBy(col("event_id"))
          .orderBy(col("ts"), col("user_id"), col("event_type"), col("value"),
            col("props"))
        events.withColumn("__rk", row_number().over(w))
          .where(col("__rk") === 1).drop("__rk")
    }

  /** SCD Type-2 history build from a CDC change log: one versioned row per
    * change, `[valid_from, valid_to)` half-open intervals per key, the open
    * (`valid_to` null) row is current. Pure per-key windowing — one shuffle
    * on the key, `lead` for the closing edge, no self-join; at 100 TB this
    * is a single repartition-and-sort per key, the same shape the streaming
    * form reaches with `flatMapGroupsWithState` closing the previous
    * version as each change arrives. Ties on ts break by event_id so the
    * version chain is deterministic under replays. */
  def scd2History(changes: DataFrame, keyCol: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("valid_from"), col("event_id"))
    changes.select(col(keyCol), col("event_id"), col("ts").as("valid_from"),
        col("value").as("state_value"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** CDC changelog classification: compare each event to the key's
    * previous state and emit an op code — 'I' (first sighting of the key),
    * 'U' (value changed), 'N' (idempotent replay / no-op). The downstream
    * shape of a Debezium-style before/after stream, derived here from a
    * bare event log with one `lag` pass per key (no join against a state
    * table — at scale the state IS the previous row in the same sorted
    * partition). */
  def changelogOps(events: DataFrame, keyCol: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("ts"), col("event_id"))
    events.select(col(keyCol), col("event_id"), col("ts"), col("value"))
      .withColumn("old_value", lag(col("value"), 1).over(w))
      .withColumn("op",
        when(col("old_value").isNull, lit("I"))
          .when(col("old_value") =!= col("value"), lit("U"))
          .otherwise(lit("N")))
  }

  /** CDC snapshot differencing — derive the changelog BETWEEN two keyed
    * snapshots when no event log exists (the other direction from
    * [[changelogOps]], which derives state from a log): emit one row per
    * key whose state changed, op ∈ {'I' (key only in the new snapshot),
    * 'U' (present in both, value differs), 'D' (key only in the old)}.
    * Unchanged keys are omitted — a snapshot diff that mostly says
    * "nothing happened" must not be corpus-sized.
    *
    * Both inputs must be one-row-per-key (apply a latest-state compaction
    * first if they're logs). Plan: one full outer sort-merge join keyed on
    * `keyCol` — each side shuffles once on the key it is already
    * aggregated by, and AQE handles the skewed-key case the same way it
    * does for any join. This is the standard lakehouse "diff two table
    * versions" primitive; at 100 TB the output is proportional to the
    * CHANGE volume, not the table. Null state values are compared
    * null-safely ('U' when exactly one side is null). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCol: String, valueCol: String): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("k"), col(valueCol).as("old_value"),
      lit(1).as("__in_old"))
    val n = newSnap.select(col(keyCol).as("k"), col(valueCol).as("new_value"),
      lit(1).as("__in_new"))
    o.join(n, Seq("k"), "full_outer")
      .withColumn("op",
        when(col("__in_old").isNull, lit("I"))
          .when(col("__in_new").isNull, lit("D"))
          .when(!(col("old_value") <=> col("new_value")), lit("U"))
          .otherwise(lit("N")))
      .where(col("op") =!= "N")
      .select(col("k").as(keyCol), col("op"), col("old_value"), col("new_value"))
  }

  /** Incremental SCD Type-2 maintenance over micro-batches — the applier
    * form of [[scd2History]]: closed version rows are APPEND-ONLY at
    * `historyPath` (at 100 TB this is the big immutable table), while the
    * one open row per key lives in a compact snapshot at `currentPath`,
    * replaced per batch by [[StateDir.swap]]. The history table
    * is never re-read, because closing an interval needs only the key's
    * open row, and the version counter rides on the snapshot.
    *
    * Plan: one per batch — the snapshot rows (tagged with their version
    * as `__v0`) unioned with the batch rows, ONE hash exchange on the key,
    * then windows over that key. The key's open edge is the tagged row's
    * (valid_from, event_id), taken as a windowed max over the key; the
    * filter below drops rows at or before it; `row_number` continues the
    * open row's version and `lead` closes each interval. The result is
    * [[persisted]] and both outputs are cut from it: closed rows
    * (`valid_to` set) append to history while open rows are staged as the
    * next snapshot, which is installed once the history append has
    * committed ([[StateDir.afterCommit]]).
    * Trade-off: snapshot rows of keys the batch does not touch go through
    * the key exchange too (they come out unchanged), where a semi/anti
    * join split would have filtered them against the broadcast batch keys
    * — but that split scanned the snapshot twice and ran five joins and a
    * window as separate jobs. Per-batch work stays O(batch + live keys),
    * with the snapshot scanned once; both plans rewrite the whole
    * snapshot. Measured with 100-event batches over a pre-seeded snapshot
    * (4 local cores, median per batch after 3 warm-up batches, two runs
    * each), this plan stays faster than the split: 0.58-0.61 vs
    * 0.81-0.89 s at 1e4 keys, 0.74-0.80 vs 0.99-1.07 s at 1e5, 1.48-1.51
    * vs 1.84-1.95 s at 1e6.
    *
    * Ordering/idempotency policy: batch rows at or before the key's open
    * `valid_from` (ties broken by event_id) are DROPPED — this makes
    * checkpoint replays self-suppressing (an already-applied event can't
    * re-close an interval) and rejects out-of-order changes, the standard
    * SCD2-applier contract (late rows would need a history rewrite).
    *
    * Failure window: the history append and the snapshot install are two
    * commits. A crash BETWEEN them (history written, snapshot still old)
    * makes the retry re-append that batch's closed rows — at-least-once on
    * `historyPath`, exact on `currentPath`; a crash while the snapshot is
    * staged leaves the old snapshot live, so the retry may re-append too.
    * Closed rows are unique by (key, version), so readers needing
    * exactly-once semantics without a transactional table format dedup on
    * that pair. The snapshot is kept
    * under the [[StateDir]] contract. */
  def incrementalScd2(changes: DataFrame, keyCol: String,
                      currentPath: String, historyPath: String,
                      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val newRows = batch.select(col(keyCol), col("event_id"),
          col("ts").as("valid_from"), col("value").as("state_value"))
        // the snapshot is this applier's own output: the batch projection
        // plus the version counter
        val curSchema = newRows.schema.add("version", LongType)
        val cur = StateDir.read(spark, currentPath, curSchema).getOrElse(empty(spark, curSchema))
        val w = Window.partitionBy(col(keyCol)).orderBy(col("valid_from"), col("event_id"))
        // same partitioning and order as `w`, so both window passes share
        // one exchange and one sort
        val wKey = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val open = col("__v0").isNotNull
        // one select per window pass: each Dataset step re-analyzes the plan
        val versioned = cur.withColumnRenamed("version", "__v0")
          .unionByName(newRows.withColumn("__v0", lit(null).cast(LongType)))
          .select(col("*"), max(when(open, col("valid_from"))).over(wKey).as("__f0"),
            max(when(open, col("event_id"))).over(wKey).as("__e0"),
            max(col("__v0")).over(wKey).as("__base"))
          // drop already-applied / out-of-order rows (policy above)
          .where(open || col("__f0").isNull || col("valid_from") > col("__f0") ||
            (col("valid_from") === col("__f0") && col("event_id") > col("__e0")))
          // the open row sorts first in its key, so it keeps its version
          .select(col(keyCol), col("event_id"), col("valid_from"), col("state_value"),
            (row_number().over(w).cast(LongType) + coalesce(col("__base") - 1L, lit(0L)))
              .as("version"),
            lead(col("valid_from"), 1).over(w).as("valid_to"))
        persisted(versioned) { v =>
          StateDir.afterCommit(v.where(col("valid_to").isNull).drop("valid_to"), currentPath,
              append = false) {
            v.where(col("valid_to").isNotNull).write.mode("append").parquet(historyPath)
          }
        }
      }
      .start()

  /** Stream-stream interval join (view→click attribution): pair each
    * click with the same user's views in the preceding `lookback`. With
    * watermarks on BOTH sides plus the time-range join condition,
    * Structured Streaming bounds each side's join state to the lookback +
    * watermark horizon — the canonical bounded-state stream-stream join.
    * Batch form: the identical plan minus watermarks (range join; the
    * per-user key keeps candidates bucket-sized). */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
                      lookback: String = "1 hour",
                      watermark: Option[String] = None): DataFrame = {
    val v = withEventTime(views).select(col("user_id").as("v_user"),
      col("ts_t").as("v_ts"), col("event_id").as("view_id"))
    val c = withEventTime(clicks).select(col("user_id").as("c_user"),
      col("ts_t").as("c_ts"), col("event_id").as("click_id"),
      col("value").as("click_value"))
    val (vm, cm) = watermark match {
      case Some(d) => (v.withWatermark("v_ts", d), c.withWatermark("c_ts", d))
      case None => (v, c)
    }
    vm.join(cm, col("v_user") === col("c_user") &&
      col("v_ts") <= col("c_ts") &&
      col("v_ts") >= col("c_ts") - expr(s"INTERVAL $lookback"))
  }

  /** Incremental exact corpus dedup — the CDC form of X1: documents
    * arrive as a stream; each micro-batch keeps the first document per
    * fingerprint within the batch, drops documents whose fingerprint the
    * persisted fingerprint LEDGER holds from any earlier batch, then
    * appends survivors to the corpus and their fingerprints to the ledger.
    *
    * Plan: one per batch — a `row_number` window over the fingerprint
    * keeps each fingerprint's lowest-id document, then an anti-join drops
    * the ledger's fingerprints; Spark broadcasts the ledger while it is
    * under the broadcast threshold and sort-merges it above. The ledger
    * is read with its known schema, so no footer-inference job. Two
    * other plans were measured against this one (100-document batches,
    * 4 local cores, the plans interleaved batch by batch in one JVM,
    * median per batch after 3 warm-up batches; this plan first):
    * - the rank and the ledger folded into ONE exchange (batch rows ∪
    *   ledger rows, one window with ledger rows ranked first): 0.38 vs
    *   0.38 s over a 300-row ledger, 0.58 vs 0.69 s at 1e5 rows, 1.18 vs
    *   1.90 s at 1e6 — it shuffles the whole ledger every batch;
    * - that fold with the ledger first semi-joined against the batch's
    *   broadcast fingerprints: 0.38 vs 0.47 s at 300 rows, 0.58 vs 0.59 s
    *   at 1e5, 1.18 vs 0.59 s at 1e6 — the broadcast is one more job that
    *   must finish before the exchange starts.
    * The result is [[persisted]] and feeds both appends: the corpus
    * append runs while the fingerprints are staged beside the ledger, and
    * they are moved in once the corpus append has committed
    * ([[StateDir.afterCommit]], a staged append).
    *
    * The ledger row is 32 hex chars — at 100 TB it is the compacted,
    * bucketable state table this job shares across restarts (checkpoint
    * restores the stream position; the ledger makes the dedup decision
    * durable). It is kept under the [[StateDir]] contract. A failed batch
    * can replay after the corpus append — at-least-once on the corpus
    * sink. Exactly-once needs an ATOMIC commit of corpus + ledger (a
    * transactional table format); letting a fingerprint become visible
    * before its corpus row — a ledger-first order, or a staged append
    * installed by the crash repair — would turn crash-replays into silent
    * data LOSS (fp durably "seen", document never appended).
    * Returns the started query. */
  def incrementalExactDedup(docs: DataFrame, idCol: String, textCol: String,
                            corpusPath: String, ledgerPath: String,
                            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        persisted(firstUnseen(batch, idCol, textCol, fpLedger(spark, ledgerPath))) { fresh =>
          StateDir.afterCommit(fresh.select(col("fp")), ledgerPath, append = true) {
            fresh.drop("fp").write.mode("append").parquet(corpusPath)
          }
        }
      }
      .start()

  /** The fingerprint ledger at `path`, empty before the first batch: this
    * applier family writes it with one `fp` string column. */
  private def fpLedger(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(StructField("fp", StringType)))
    StateDir.read(spark, path, schema).getOrElse(empty(spark, schema))
  }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Runs `body` over `df`'s rows persisted as they are first computed
    * ([[org.apache.spark.sql.GraftPlanBridge.persisted]]), and releases
    * them after. The first action's job fills the store, where `.cache()`
    * under AQE's `canChangeCachedPlanOutputPartitioning` fills it in a job
    * of its own before that action can start; a lost block is recomputed
    * from the lineage either way. */
  private[graft] def persisted[T](df: DataFrame)(body: DataFrame => T): T = {
    val (rows, rdd) = GraftPlanBridge.persisted(df, StorageLevel.MEMORY_AND_DISK)
    try body(rows) finally GraftPlanBridge.unpersist(rdd)
  }

  /** `batch` plus its `fp` column, cut to the lowest-id document of every
    * fingerprint that `seen` (a fingerprint ledger) does not hold — the
    * stage [[incrementalExactDedup]] and [[incrementalCurationPipeline]]
    * share (plan and measurements at [[incrementalExactDedup]]). */
  private def firstUnseen(batch: DataFrame, idCol: String, textCol: String,
                          seen: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    batch.select(col("*"), graft.ops.TextOps.fingerprint(col(textCol)).as("fp"))
      .select(col("*"), row_number().over(w).as("__rk"))
      .where(col("__rk") === 1).drop("__rk")
      .join(seen, Seq("fp"), "left_anti")
  }

  /** Incremental NEAR-dedup — the streaming counterpart of the batch
    * MinHash-LSH pipeline: each micro-batch computes signatures for the
    * new documents, drops (a) the higher-id member of every within-batch
    * near-pair (exact-verified, same as the batch pipeline) and (b) any
    * new document EXACT-VERIFIED as a near-dup of a ledger survivor,
    * then appends survivors to the corpus and their SIGNATURES to the
    * ledger.
    *
    * The ledger holds k longs per surviving document — signatures only,
    * never shingle sets, so the cross-batch PREFILTER is a
    * candidate-bounded bucket join against a compact table. The
    * positives it yields are then exact-verified: every ledger survivor's
    * full text lives in the corpus, so the verify fetches ONLY candidate
    * refs (a keyed semi-join prune — candidate-bounded, never a corpus
    * scan per batch beyond the pruned read) and compares true shingle
    * Jaccard at `threshold`, the same verify the within-batch path and
    * the batch pipeline run. A bare signature collision (est ≥ estMin
    * but true Jaccard < threshold) therefore KEEPS the document — no
    * false cross-batch drops.
    *
    * POLICY — AT-MOST-PAIRWISE, by design: matches are only ever taken
    * against SURVIVORS (within-batch pair losers and ledger rows), so a
    * transitive chain through a dropped doc does NOT collapse. Concretely,
    * with a–b arriving in batch 1 (b drops against a) and c in batch 2
    * where J(b,c) ≥ threshold but J(a,c) < threshold, c is KEPT — the
    * batch [[graft.ops.Dedup.dedupPipeline]] over the same three docs
    * runs connected components and keeps only a. This buys a compact
    * ledger (k longs per SURVIVOR — dropped docs leave no state at all)
    * at the cost of chain collapse; it never drops a doc the batch
    * pipeline would keep, it only keeps chain tails the batch pipeline
    * would drop. When streaming must reproduce batch survivor sets
    * exactly, use [[incrementalNearDedupTransitive]] and pay its
    * shingle-ledger state. The divergence is pinned by a StreamingSpec
    * fixture (the a–b / b–c chain above) asserting both modes. */
  def incrementalNearDedup(docs: DataFrame, idCol: String, textCol: String,
                           corpusPath: String, ledgerPath: String, checkpoint: String,
                           k: Int = 8, r: Int = 4, estMin: Double = 0.75,
                           threshold: Double = 0.8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        import graft.ops.{Dedup, DedupCaches}
        val spark = batch.sparkSession
        val b = batch.cache()
        // every intermediate the dedup calls cache goes on a per-batch
        // handle, released at batch end — each micro-batch has a fresh
        // plan, so caches left behind would accumulate for the stream's
        // lifetime.
        val batchCaches = new DedupCaches
        val sets = batchCaches.track(Dedup.docShingleSets(b, idCol, textCol))
        val sig = Dedup.minhashSignaturesFromSets(sets, k, batchCaches)
        // (a) within-batch: exact-verified LSH pairs, higher id loses
        val withinLosers = Dedup.minhashLshPairs(b, idCol, textCol, k, r, estMin,
            threshold, caches = batchCaches)
          .select(col("doc_b").as("__loser")).distinct()
        // (b) cross-batch: bucket join against the signature ledger; the
        // ledger holds `sig` rows and the corpus batch rows, both written here
        val crossLosers = StateDir.read(spark, ledgerPath, sig.schema).map { seen =>
          val cands = Dedup.lshBands(sig, k, r).as("l")
            .join(Dedup.lshBands(seen, k, r).as("r"),
              col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
            .where(Dedup.signatureEstJaccard(k) >= lit(estMin))
            .select(col("l.doc_id").as("doc_id"), col("r.doc_id").as("ref_id"))
            .distinct()
          // exact verify of the prefilter positives against the corpus
          // text (candidate-bounded; see scaladoc)
          val corpus = StateDir.read(spark, corpusPath, b.schema).getOrElse(
            throw new java.io.FileNotFoundException(s"$corpusPath: ledger without corpus"))
          val refSets = Dedup.docShingleSets(
            corpus.join(
              cands.select(col("ref_id").as(idCol)).distinct(),
              Seq(idCol), "left_semi"),
            idCol, textCol)
            .select(col("doc_id").as("ref_id"),
              col("toks").as("toks_r"), col("n_toks").as("nr"))
          val newSets = sets.select(col("doc_id"),
            col("toks").as("toks_n"), col("n_toks").as("nn"))
          cands.join(newSets, Seq("doc_id")).join(refSets, Seq("ref_id"))
            .withColumn("inter",
              size(array_intersect(col("toks_n"), col("toks_r"))))
            .where(col("inter").cast("double") /
              (col("nn") + col("nr") - col("inter")).cast("double")
              >= lit(threshold))
            .select(col("doc_id").as("__loser")).distinct()
        }
        val losers = crossLosers.fold(withinLosers)(withinLosers.unionAll).distinct()
        val survivors = b.join(losers,
          b(idCol) === losers("__loser"), "left_anti").cache()
        survivors.write.mode("append").parquet(corpusPath)
        sig.join(survivors.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")
          .write.mode("append").parquet(ledgerPath)
        survivors.unpersist(); batchCaches.unpersistAll(); b.unpersist(): Unit
      }
      .start()

  /** Incremental near-dedup with BATCH-EQUIVALENT transitive-chain
    * semantics — the streaming counterpart of
    * [[graft.ops.Dedup.dedupPipeline]] (pairs → connected components →
    * one survivor per component), where [[incrementalNearDedup]] is the
    * compact at-most-pairwise variant.
    *
    * State: the ledger keeps one row per EVER-SEEN doc (kept or dropped)
    * — its normalized-text FINGERPRINT, its k-long minhash signature
    * (null for zero-token texts, which have no shingles), its DISTINCT
    * SHINGLE SET, and `root`, the corpus survivor of its component.
    * Storing shingles for dropped docs is precisely what makes a chain
    * THROUGH a dropped doc verifiable with the same true-Jaccard test
    * the batch pipeline runs; signatures alone cannot exact-verify, and
    * survivor text alone cannot see dropped-doc links (the
    * [[incrementalNearDedup]] tradeoff). The fingerprint column mirrors
    * dedupPipeline's exactDedup stage — identical raw texts collapse
    * even when tokenization yields nothing — and doubles as the REPLAY
    * GUARD: a crash-replayed batch anti-joins against the ledger's doc
    * ids to empty instead of re-appending survivors. Ledger size is
    * O(tokenized corpus) — columnar shingle arrays compress well, but
    * this mode's state grows with everything ever ingested, which is
    * the honest price of exact transitive equivalence.
    *
    * Per micro-batch, all candidate work stays bucketed and
    * candidate-bounded: within-batch verified pairs (LSH bands → est
    * prefilter → true Jaccard), cross-batch bands against the FULL
    * ledger (same prefilter + exact verify on ledger shingles), then
    * connected components over the batch-local graph with every seen doc
    * CONTRACTED to its root — edge count ∝ batch near-dup links, never
    * corpus-sized. A new component with no root keeps its min-id member;
    * a component touching a root drops all its new members into that
    * root's cluster.
    *
    * Equivalence contract: when doc ids arrive in non-decreasing order,
    * the corpus equals `dedupPipeline` over the accumulated input after
    * every batch. Two inherent append-only caveats, both deterministic
    * and documented rather than silent: (1) if a later doc BRIDGES two
    * previously-distinct components, both already-written survivors stay
    * (batch would keep only the min; nothing is retracted) — the bridge
    * doc itself is dropped and both clusters share the min root going
    * forward; (2) if a component's global min id arrives AFTER another
    * member, the earlier arrival stays the survivor (first-seen vs
    * batch's min-id). */
  def incrementalNearDedupTransitive(docs: DataFrame, idCol: String, textCol: String,
                                     corpusPath: String, ledgerPath: String, checkpoint: String,
                                     k: Int = 8, r: Int = 4, estMin: Double = 0.75,
                                     threshold: Double = 0.8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: Dataset[org.apache.spark.sql.Row], _: Long) =>
        import graft.ops.{Dedup, DedupCaches, TextOps}
        val spark = batch0.sparkSession
        // the ledger's one format: the append below writes exactly these
        // columns, and StateDir.read fails on files written with another k
        val ledgerSchema = StructType(Seq(
            StructField("doc_id", LongType), StructField("fp", StringType),
            StructField("toks", ArrayType(StringType)), StructField("n_toks", IntegerType)) ++
          (0 until k).map(i => StructField(s"mh$i", LongType)) :+
          StructField("root", LongType))
        val seenAll = StateDir.read(spark, ledgerPath, ledgerSchema)
        // REPLAY GUARD: the ledger holds one row per EVER-processed doc,
        // so it doubles as the idempotence ledger — a crash-replayed
        // batch anti-joins to empty instead of re-appending survivors
        // (the same self-ledger move incrementalExactDedup makes). The
        // residual window is the corpus-append → ledger-append gap: a
        // crash exactly between them re-appends that batch's survivors
        // once (plain at-least-once on the corpus sink; dedupe
        // downstream by doc id), never loses a doc.
        val b = seenAll.map(sn => batch0.join(
            sn.select(col("doc_id").as("__seen")),
            batch0(idCol) === col("__seen"), "left_anti"))
          .getOrElse(batch0).cache()
        val batchCaches = new DedupCaches
        val sets = batchCaches.track(Dedup.docShingleSets(b, idCol, textCol))
        val sig = Dedup.minhashSignaturesFromSets(sets, k, batchCaches)
        // exact-fingerprint stage (dedupPipeline's exactDedup mirror):
        // covers docs the shingle path cannot see — zero-token texts have
        // EMPTY shingle sets, no signature, and no LSH presence, yet
        // identical raw texts must still collapse exactly as the batch
        // pipeline's fingerprint stage collapses them
        val fpB = batchCaches.track(b.select(
          col(idCol).cast("long").as("doc_id"),
          TextOps.fingerprint(col(textCol)).as("fp")))
        val withinNear = Dedup.minhashLshPairs(b, idCol, textCol, k, r, estMin,
            threshold, caches = batchCaches)
          .select(col("doc_a"), col("doc_b"))
        val fpMin = fpB.groupBy(col("fp")).agg(min(col("doc_id")).as("__m"))
        val withinExact = fpB.join(fpMin, Seq("fp"))
          .where(col("doc_id") =!= col("__m"))
          .select(col("__m").as("doc_a"), col("doc_id").as("doc_b"))
        val within = withinNear.unionAll(withinExact)
        // verified (new doc → existing component root) links, one row per
        // distinct (doc_id, root): near (bands → est prefilter → exact
        // Jaccard on ledger shingles) ∪ exact (fingerprint match)
        val cross = batchCaches.track(seenAll match {
          case Some(seen) =>
            val sigCols = col("doc_id") +: (0 until k).map(i => col(s"mh$i"))
            val cands = Dedup.lshBands(sig, k, r).as("l")
              .join(Dedup.lshBands(
                  seen.where(col("mh0").isNotNull).select(sigCols: _*), k, r).as("r"),
                col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
              .where(Dedup.signatureEstJaccard(k) >= lit(estMin))
              .select(col("l.doc_id").as("doc_id"), col("r.doc_id").as("ref_id"))
              .distinct()
            val refSets = seen.select(col("doc_id").as("ref_id"),
              col("toks").as("toks_r"), col("n_toks").as("nr"), col("root"))
            val newSets = sets.select(col("doc_id"),
              col("toks").as("toks_n"), col("n_toks").as("nn"))
            val crossNear = cands.join(newSets, Seq("doc_id")).join(refSets, Seq("ref_id"))
              .withColumn("inter",
                size(array_intersect(col("toks_n"), col("toks_r"))))
              .where(col("inter").cast("double") /
                (col("nn") + col("nr") - col("inter")).cast("double")
                >= lit(threshold))
              .select(col("doc_id"), col("root"))
            val crossExact = fpB
              .join(seen.select(col("fp"), col("root")), Seq("fp"))
              .select(col("doc_id"), col("root"))
            crossNear.unionAll(crossExact).distinct()
          case None => spark.createDataFrame(java.util.Collections.emptyList[Row](),
            StructType(Seq(StructField("doc_id", LongType), StructField("root", LongType))))
        })
        // batch-local graph: (new,new) links + (new, contracted root)
        val edges = within.unionAll(
          cross.select(col("doc_id").as("doc_a"), col("root").as("doc_b")))
        val labels = Dedup.connectedComponents(edges, "doc_a", "doc_b",
          caches = batchCaches)
        // components that touch an existing cluster inherit its (min) root
        val compRoot = labels
          .join(cross.select(col("root").as("id")).distinct(), Seq("id"))
          .groupBy(col("component")).agg(min(col("id")).as("comp_root"))
        val newLabels = labels
          .join(b.select(col(idCol).cast("long").as("id")), Seq("id"), "left_semi")
          .join(compRoot, Seq("component"), "left")
        val newOnly = newLabels.where(col("comp_root").isNull)
        val minNew = newOnly.groupBy(col("component"))
          .agg(min(col("id")).as("__surv"))
        val inGraph = newOnly.join(minNew, Seq("component"))
            .select(col("id").as("doc_id"), col("__surv").as("root"))
          .unionAll(newLabels.where(col("comp_root").isNotNull)
            .select(col("id").as("doc_id"), col("comp_root").as("root")))
        val isolated = b.select(col(idCol).cast("long").as("doc_id"))
          .join(inGraph.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .withColumn("root", col("doc_id"))
        val assignment = batchCaches.track(inGraph.unionAll(isolated))
        val survivors = assignment.where(col("doc_id") === col("root"))
          .select(col("doc_id"))
        b.join(survivors, b(idCol) === survivors("doc_id"), "left_semi")
          .write.mode("append").parquet(corpusPath)
        // EVERY batch doc enters the ledger — dropped docs carry the
        // state that makes future chains through them verifiable, and
        // zero-token docs (no signature row) keep their fingerprint row
        // via the LEFT join so the replay guard and exact stage see them
        fpB.join(sets.select(col("doc_id"), col("toks"), col("n_toks")), Seq("doc_id"))
          .join(sig, Seq("doc_id"), "left")
          .join(assignment, Seq("doc_id"))
          .select(ledgerSchema.map(f => col(f.name).cast(f.dataType)): _*)
          .write.mode("append").parquet(ledgerPath)
        batchCaches.unpersistAll(); b.unpersist(): Unit
      }
      .start()

  /** Incremental decontamination — streaming hygiene against a STATIC
    * benchmark n-gram ledger (built once via
    * [[graft.ops.TextOps.benchGramLedger]], a broadcast-sized table of
    * gram hashes): each micro-batch drops any new doc sharing a gram with
    * the eval set and appends the clean remainder to the corpus.
    *
    * Unlike the dedup appliers the durable state here is READ-ONLY — no
    * ledger write, so there is no corpus/ledger commit-ordering hazard;
    * a crash-replayed batch can only re-append CLEAN docs (plain
    * at-least-once on the corpus sink, dedupe downstream by doc id). */
  def incrementalDecontaminate(docs: DataFrame, idCol: String, textCol: String,
                               benchLedgerPath: String, corpusPath: String,
                               checkpoint: String, n: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // the ledger is a precondition, not optional state: a missing path
        // must fail the batch, not silently pass everything as clean
        val bench = Parquet.read(spark, benchLedgerPath)
        val contaminated = graft.ops.TextOps.gramHashes(batch, idCol, textCol, n)
          .join(broadcast(bench), "gh")
          .select(col("doc_id").as("__dirty")).distinct()
        batch.join(contaminated, batch(idCol) === col("__dirty"), "left_anti")
          .write.mode("append").parquet(corpusPath): Unit
      }
      .start()

  /** Incremental corpus-drift monitor — the CDC mirror of
    * `x3_corpus_drift`: each micro-batch's (source, token) counts accrete
    * to a durable ledger ([[StateDir.accrete]]: counts are additive, so
    * the fold is lossless and a replayed batch counts once), and the
    * per-source KL report is recomputed from the accreted counts and
    * swapped in at `reportPath` ([[StateDir.swap]]).
    *
    * The count ledger is the sufficient statistic for the whole report
    * ([[graft.ops.TextOps.driftFromCounts]]): token counts are additive
    * across batches, so maintain-incrementally equals compute-once-batch
    * exactly — proven in StreamingSpec against [[graft.ops.TextOps.corpusDriftBySource]]
    * on the same rows split across micro-batches. */
  def incrementalDriftMonitor(docs: DataFrame, textCol: String, sourceCol: String,
                              ledgerPath: String, reportPath: String,
                              checkpoint: String, alpha: Double = 0.5,
                              roundDigits: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val accreted = StateDir.accrete(tokenCounts(batch, textCol, sourceCol),
          ledgerPath, batchId, Seq("source", "tok"))
        StateDir.swap(
          graft.ops.TextOps.driftFromCounts(accreted, alpha, roundDigits)
            .withColumn("as_of_batch", lit(batchId)).coalesce(1),
          reportPath)
      }
      .start()

  /** Per (source, tok) token counts of `batch`: the drift ledger's rows. */
  private def tokenCounts(batch: DataFrame, textCol: String, sourceCol: String): DataFrame =
    batch.select(col(sourceCol).as("source"),
        explode(graft.ops.TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cs"))

  /** Incremental reweighting loop — the X6 mirror of
    * [[incrementalCurationPipeline]], closing the monitor→optimizer→
    * resampler chain under one `foreachBatch`: the drift monitor's
    * ledgers measure each source, DoReMi turns the measurement into
    * domain weights, and the mixture resampler applies them to the
    * accreted corpus. Per micro-batch:
    *
    *  1. *measure* — accrete two additive ledgers ([[StateDir.accrete]]):
    *     (source, tok, cs) token counts (the [[incrementalDriftMonitor]]
    *     ledger) and (source, loss_sum, n) per-source loss statistics (the
    *     sufficient statistic for the DoReMi domain loss — a mean is
    *     (Σloss, n)-reconstructible, exactly as the KL report is
    *     count-reconstructible); append the raw docs themselves;
    *  2. *optimize* — [[graft.ops.Curation.doremiFromStats]] on the
    *     accreted per-source stats (domains-sized table, corpus-tiny);
    *  3. *report* — the per-source drift KL joined with the learned
    *     weights, overwritten at `reportPath`: one frame showing WHY each
    *     source is weighted as it is (the monitor feeding the optimizer,
    *     visible);
    *  4. *apply* — [[graft.ops.Curation.mixtureSampleBy]] over the
    *     accreted corpus with the learned weights, overwritten at
    *     `resampledPath`. The resample is recomputed (not accreted):
    *     new batches move counts AND weights, so a previously-dropped
    *     doc can become kept — keep-rates are corpus-level state, not
    *     per-row state.
    *
    * A replayed batch counts once in the accreted ledgers, and the doc
    * ledger dedups on `idCol`.
    *
    * Maintain-incrementally equals compute-once-batch: ledger sums are
    * the same numbers the batch aggregates produce (counts exactly; the
    * loss mean up to the portable rounding that already gates it), so
    * the maintained resample equals batch
    * `mixtureSampleBy(doremiWeights(corpus))` — proven in StreamingSpec
    * against the x6_doremi_resample dataflow across ≥3 micro-batches. */
  def incrementalReweightingPipeline(docs: DataFrame, idCol: String, textCol: String,
                                     sourceCol: String, lossCol: Column,
                                     countLedgerPath: String, statsLedgerPath: String,
                                     docLedgerPath: String, reportPath: String,
                                     resampledPath: String, checkpoint: String,
                                     eta: Double = 0.5, iters: Int = 3,
                                     alpha: Double = 0.5, klRoundDigits: Int = 4,
                                     wRoundDigits: Int = 6): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // 1. measure: two additive ledgers and the raw docs
        val counts = StateDir.accrete(tokenCounts(batch, textCol, sourceCol),
          countLedgerPath, batchId, Seq("source", "tok"))
        val totals = StateDir.accrete(batch.groupBy(col(sourceCol).as("source"))
            .agg(sum(lossCol).as("loss_sum"), count(lit(1)).as("n")),
          statsLedgerPath, batchId, Seq("source"))
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(docLedgerPath)
        // 2. optimize: weights from the accreted loss statistics
        val s = math.pow(10.0, wRoundDigits)
        val stats = totals.select(col("source").as(sourceCol),
          (floor(col("loss_sum") / col("n") * lit(s) + lit(0.5)) / lit(s)).as("domain_loss"),
          col("n").as("n_docs"))
        val weights = graft.ops.Curation.doremiFromStats(stats, sourceCol,
          eta, iters, wRoundDigits)
        // 3. report: drift KL beside the weight it motivates
        StateDir.swap(
          graft.ops.TextOps.driftFromCounts(counts, alpha, klRoundDigits)
            .join(weights.withColumnRenamed(sourceCol, "source"), Seq("source"))
            .withColumn("as_of_batch", lit(batchId)).coalesce(1),
          reportPath)
        // 4. apply: resample the accreted corpus with the learned weights
        val corpus = Parquet.read(spark, docLedgerPath)
          .dropDuplicates(idCol).drop("batch_id")
        StateDir.swap(
          graft.ops.Curation.mixtureSampleBy(corpus, idCol, sourceCol, weights, "weight"),
          resampledPath)
      }
      .start()

  /** Incremental DSIR selection — the streaming mirror of
    * [[graft.ops.Curation.dsirWeights]] + top-k: maintain the per-bucket
    * (raw, target) token counts as ONE additive ledger ([[StateDir.accrete]];
    * the λ table's sufficient statistic — a fixed `buckets`-sized key
    * space, so the ledger is corpus-independent), accrete the raw docs,
    * and per micro-batch re-score the accreted corpus against the λ map
    * rebuilt from the accreted counts, overwriting the top-`topK`
    * selection at `selectedPath`.
    *
    * Maintain-incrementally equals compute-once-batch EXACTLY: bucket
    * counts are integers (ledger sums reproduce the batch aggregates
    * bit-for-bit), so λ, every doc weight, and the selection are the
    * identical doubles [[graft.ops.Curation.dsirWeights]] produces on
    * the union of all batches — proven in StreamingSpec across ≥3
    * micro-batches. Re-scoring is recomputed, not accreted: new batches
    * move BOTH count tables, so every stored weight can shift (weights
    * are corpus-level state, the mixture-resample argument). The doc
    * ledger dedups on `idCol`. */
  def incrementalDsirSelect(docs: DataFrame, idCol: String, textCol: String,
                            targetPred: Column,
                            countLedgerPath: String, docLedgerPath: String,
                            selectedPath: String, checkpoint: String,
                            buckets: Int = 128, alpha: Double = 0.5,
                            topK: Int = 100,
                            roundDigits: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val counts = StateDir.accrete(
          graft.ops.Curation.dsirBucketCounts(batch, textCol, targetPred, buckets),
          countLedgerPath, batchId, Seq("bucket"))
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(docLedgerPath)
        val corpus = Parquet.read(spark, docLedgerPath)
          .dropDuplicates(idCol).drop("batch_id")
        StateDir.swap(
          graft.ops.Curation.dsirWeightsFromCounts(corpus, textCol, counts,
              buckets, alpha, roundDigits)
            .orderBy(col("weight").desc, col(idCol))
            .limit(topK).coalesce(1),
          selectedPath)
      }
      .start()

  /** Incremental HyperLogLog cardinality monitor — the CDC mirror of
    * `x5_hll_distinct`: each micro-batch's register table
    * ([[graft.ops.HyperLogLog.registers]]) accretes to a durable ledger
    * folded by bucket-wise MAX ([[StateDir.accrete]]), and the per-group
    * estimate report is rebuilt from it and swapped in at `reportPath`.
    * Register maxes are associative, commutative AND idempotent, which
    * makes this the cheapest possible distinct-count state: no raw items,
    * no fingerprint ledger, just the sketch.
    *
    * Maintain-incrementally equals compute-once-batch EXACTLY: registers
    * are integer maxes, so the accreted sketch — and therefore every
    * estimate double — is identical to the batch op on the union of all
    * batches (StreamingSpec, ≥3 micro-batches).
    *
    * `items` must carry one row per item occurrence (pre-exploded): a
    * generator can't nest inside the hash expression. */
  def incrementalHllDistinct(items: DataFrame, groupCol: String, item: Column,
                             regLedgerPath: String, reportPath: String,
                             checkpoint: String, p: Int = 8,
                             window: Int = 20): org.apache.spark.sql.streaming.StreamingQuery =
    items.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val regs = StateDir.accrete(
          graft.ops.HyperLogLog.registers(batch, groupCol, item, p, window),
          regLedgerPath, batchId, Seq(groupCol, "bucket"), c => max(col(c)))
        StateDir.swap(
          graft.ops.HyperLogLog.estimate(regs, groupCol, p)
            .withColumn("as_of_batch", lit(batchId)).coalesce(1),
          reportPath)
      }
      .start()

  /** X2 — incrementally maintained BOUNDED top-k cosine near-dup view:
    * the streaming mirror of [[graft.ops.Similarity.cosineNearDupTopK]]
    * (r18, closing the r17 verdict's "capped emitters are batch-only"
    * gap). The uncapped pair mirrors maintain the full pair set — correct
    * but quadratic in clique size; the 100 TB consumer chain wants each
    * doc's best survivors, which this maintains incrementally.
    *
    * State:
    *  - `vecLedgerPath`: one (id, v, bucket) row per ever-seen vector
    *    (the corpus side every new batch must score against — O(corpus),
    *    append-only, the same honest price as the dedup ledgers);
    *  - `viewPath`: the top-k view itself, ≤ k rows per id, replaced per
    *    batch by [[StateDir.swap]].
    *
    * Per micro-batch: bucket the batch, score it against itself AND both
    * directions against the ledger (bucket-keyed joins — never
    * all-pairs), keep threshold survivors, then merge ONLY the touched
    * ids' current view rows with the new pairs and re-rank. Correctness
    * rests on top-k's monotone-merge property over an insert-only pair
    * set: top-k(S ∪ T) = top-k(top-k(S) ∪ T), so evicted neighbors can
    * never re-enter and the ≤ k-per-id state is sufficient — after every
    * batch the view EQUALS the batch operator over the accumulated input
    * (StreamingSpec, ≥3 micro-batches, crash-replay included).
    *
    * Crash/replay: a replayed batch's ids are already in the vector
    * ledger — the anti-join empties the batch, making the whole
    * read-modify-swap idempotent (ledger append happens LAST, after the
    * view swap, so a crash between the two replays into a no-op merge of
    * already-present pairs rather than a lost update). */
  def incrementalCosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                            vecLedgerPath: String, viewPath: String,
                            checkpoint: String, threshold: Double = 0.99,
                            bits: Int = 8, k: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        import graft.ops.Similarity
        val spark = batch.sparkSession
        val newAll = Similarity.lshBucketFrame(batch, idCol, vecCol, bits)
        // the ledger holds `newAll` rows, the view `newPairs` rows
        val seen = StateDir.read(spark, vecLedgerPath, newAll.schema)
        // replay guard: a crash-redelivered batch is already in the ledger
        val newB = seen.fold(newAll)(sn =>
          newAll.join(sn.select(col("id")), Seq("id"), "left_anti")).cache()
        val withinPairs = Similarity.cosineDirectedBetween(newB, newB)
        val crossPairs = seen.fold(withinPairs.limit(0))(sn =>
          Similarity.cosineDirectedBetween(newB, sn)
            .unionAll(Similarity.cosineDirectedBetween(sn, newB)))
        val newPairs = withinPairs.unionAll(crossPairs)
          .where(col("cosine") >= lit(threshold))
          .cache()
        val touched = newPairs.select(col("id")).distinct()
        val oldView = StateDir.read(spark, viewPath, newPairs.schema)
          .getOrElse(newPairs.limit(0))
        // merge is bounded: ≤ k existing rows + this batch's pairs per id
        val rk = Window.partitionBy(col("id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        // dropDuplicates makes the merge idempotent across the one replay
        // window the ledger guard can't see: a crash BETWEEN the view swap
        // and the ledger append replays pairs already in oldView — without
        // the dedup a duplicated (id, neighbor_id) would take two of the k
        // rank slots and permanently evict a distinct legitimate neighbor.
        // Cosine is deterministic per pair, so keeping either row is exact.
        val updated = oldView.join(touched, Seq("id"), "left_semi")
          .unionByName(newPairs)
          .dropDuplicates("id", "neighbor_id")
          .withColumn("__rk", row_number().over(rk))
          .where(col("__rk") <= k).drop("__rk")
        val untouched = oldView.join(touched, Seq("id"), "left_anti")
        StateDir.swap(untouched.unionByName(updated), viewPath)
        newB.write.mode("append").parquet(vecLedgerPath)
        newPairs.unpersist(); newB.unpersist(): Unit
      }
      .start()

  case class StateEvent(user: Long, order: Long, tie: Long, state: Long)
  case class EdgeOut(user: Long, src: Long, dst: Long)
  case class LastState(state: Long)

  /** Streaming mirror of [[graft.ops.GraphOps.transitionEdges]]: each
    * user's LAST seen state is one long of `flatMapGroupsWithState`
    * state, so a session that spans micro-batches still yields its
    * boundary edge — the piece a per-batch window cannot see. Rows
    * within a batch fold in (order, tie) order (the statefulEma
    * determinism rule). Emits one (user, src, dst) row per consecutive
    * pair; multiplicity is downstream aggregation's job. */
  def statefulTransitionEdges(ds: Dataset[StateEvent]): Dataset[EdgeOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user)
      .flatMapGroupsWithState[LastState, EdgeOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[StateEvent], state: GroupState[LastState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.order, r.tie))
          var prev = state.getOption.map(_.state)
          val out = Vector.newBuilder[EdgeOut]
          sorted.foreach { r =>
            prev.foreach(p => out += EdgeOut(user, p, r.state))
            prev = Some(r.state)
          }
          prev.foreach(p => state.update(LastState(p)))
          out.result().iterator
      }
  }

  /** X8 — incrementally maintained PageRank: stateful cross-batch edge
    * pairing → additive (src, dst) count ledger ([[StateDir.accrete]]) →
    * rank recompute on the folded edge table each batch, swapped in at
    * `ranksPath`.
    *
    * The split of work is the scale design: the per-batch cost of the
    * PAIRING is O(batch) with one long of state per live user, the
    * ledger append is O(distinct batch edges), and only the RECOMPUTE
    * touches the full (edge-cardinality, corpus-independent-per-batch)
    * compacted graph — the same recompute-on-compact shape as the DSIR
    * and drift monitors. Edge counts are additive integers, so the
    * accreted graph equals the batch [[graft.ops.GraphOps
    * .transitionEdges]] weights exactly, and the recomputed ranks are
    * the batch [[graft.ops.GraphOps.pagerank]] doubles bit-for-bit
    * (StreamingSpec, ≥3 micro-batches). */
  def incrementalPagerank(events: Dataset[StateEvent], edgeLedgerPath: String,
                          ranksPath: String, checkpoint: String,
                          iters: Int = 5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    statefulTransitionEdges(events).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[EdgeOut], batchId: Long) =>
        val edges = StateDir.accrete(
            batch.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n")),
            edgeLedgerPath, batchId, Seq("src", "dst"))
          .withColumnRenamed("n", "weight")
        // scoped cache handle: the recompute re-caches the graph frames
        // every batch, so the unmanaged session-lifetime default would
        // accrete CacheManager entries forever on a long-lived stream
        val caches = new graft.ops.DedupCaches
        try StateDir.swap(
          graft.ops.GraphOps.pagerank(edges, iters = iters, caches = caches)
            .withColumn("as_of_batch", lit(batchId)).coalesce(1), ranksPath)
        finally caches.unpersistAll()
      }
      .start()

  /** X3 — incrementally maintained classifier: streamed docs featurize
    * ONCE into an append-only (doc_id, y, bucket, x) feature ledger
    * (per-doc rows are replay-idempotent — dedup by (doc_id, bucket)
    * suppresses re-delivery), and the k-step GD retrain runs on the
    * accreted features per batch, swapped in at `weightsPath`.
    * Featurization (the tokenizing scan — the expensive part at 100 TB)
    * is paid once per document; only the bucket-table-sized training
    * loop re-runs. Because [[graft.ops.TextOps.trainFromFeatures]] is a
    * deterministic function of the feature SET, the maintained weights
    * equal batch [[graft.ops.TextOps.trainHashClassifier]] on the union
    * of all batches bit-for-bit (StreamingSpec, ≥3 micro-batches). */
  def incrementalClassifier(docs: DataFrame, idCol: String, textCol: String,
                            labelPred: Column, featLedgerPath: String,
                            weightsPath: String, checkpoint: String,
                            buckets: Int = 32, iters: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        graft.ops.TextOps.classifierFeatures(batch, idCol, textCol,
            labelPred, buckets)
          .write.mode("append").parquet(featLedgerPath)
        val feats = Parquet.read(spark, featLedgerPath)
          .dropDuplicates("doc_id", "bucket")
        val caches = new graft.ops.DedupCaches
        try StateDir.swap(
          graft.ops.TextOps.trainFromFeatures(feats, buckets, iters,
              caches = caches)
            .withColumn("as_of_batch", lit(batchId)).coalesce(1),
          weightsPath)
        finally caches.unpersistAll()
      }
      .start()

  /** The STREAMING curation program — the CDC mirror of the batch
    * `x7_curation_pipeline` DAG, chaining the three incremental hygiene
    * stages in ONE `foreachBatch` so a continuously-ingested corpus is
    * maintained curated rather than re-curated from scratch:
    *  1. exact dedup (the [[incrementalExactDedup]] stage, shared): first
    *     doc per fingerprint within the batch whose fingerprint the
    *     persisted fp ledger does not hold, in one exchange;
    *  2. decontamination against the static benchmark n-gram ledger (the
    *     [[incrementalDecontaminate]] stage: read-only state, corpus side
    *     never shuffles — grams broadcast);
    *  3. the Gopher repetition gate in integer form (5·dup_grams ≤ grams,
    *     n_toks ≥ 5 — stateless projection+filter, identical to x7's).
    * Survivors append to the corpus while stage 1's first-seen
    * fingerprints are staged beside the ledger, and those move in once
    * the corpus append has committed (corpus-first crash ordering, see
    * [[incrementalExactDedup]] — at-least-once on the corpus sink).
    *
    * Batch-parity: stages 2-3 are deterministic functions of the TEXT,
    * and every member of a fingerprint group has fp-identical text (the
    * fingerprint collapses exactly the case/whitespace the gram tokenizer
    * also collapses), so maintain-incrementally and curate-once-batch
    * produce the same corpus whenever ids arrive in ascending order (the
    * batch keep-rule is min-id per fingerprint; streaming keeps
    * first-seen) — proven against the x7 program in StreamingSpec. */
  def incrementalCurationPipeline(docs: DataFrame, idCol: String, textCol: String,
                                  benchLedgerPath: String, corpusPath: String,
                                  fpLedgerPath: String, checkpoint: String,
                                  n: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // stage 1 — exact dedup against the durable fingerprint ledger
        persisted(firstUnseen(batch, idCol, textCol, fpLedger(spark, fpLedgerPath))) { d1 =>
          // stage 2 — decontaminate vs the read-only bench ledger (a missing
          // path must fail the batch, not silently pass everything as clean)
          val bench = Parquet.read(spark, benchLedgerPath)
          val dirty = graft.ops.TextOps.gramHashes(d1, idCol, textCol, n)
            .join(broadcast(bench), "gh")
            .select(col("doc_id").as("__dirty")).distinct()
          val d2 = d1.join(dirty, d1(idCol) === col("__dirty"), "left_anti")
          // stage 3 — integer-form repetition gate (same predicate as x7)
          val rep = graft.ops.TextOps.repetitionStats(d2, idCol, textCol, n = 2)
            .where(col("n_dup_grams") * lit(5) <= col("n_grams")
              && col("n_toks") >= 5)
            .select(col("doc_id").as("__keep"))
          val survivors = d2.join(rep, d2(idCol) === col("__keep"), "left_semi")
          StateDir.afterCommit(d1.select(col("fp")), fpLedgerPath, append = true) {
            survivors.drop("fp").write.mode("append").parquet(corpusPath)
          }
        }
      }
      .start()

  /** Incremental ANN (IVF) index maintenance — the CDC mirror of the
    * batch index build: centroids are FROZEN at deployment (trained by
    * [[graft.ops.Similarity.kmeansFit]] and passed as the (cell, cv)
    * table), and each micro-batch assigns only its NEW vectors via the
    * same one-row-broadcast argmin fold ivfTopK uses, appending
    * (pid, pv, cell) to a cell-partitioned parquet index. Per-batch cost
    * is O(new vectors · k·d) with no corpus shuffle — the property that
    * keeps an ANN index maintainable under a streaming ingest tail at
    * 100 TB, where re-assigning the corpus per refresh would dwarf the
    * ingest itself. Searches against the maintained index read one
    * cell = one partition directory (partition pruning at the scan).
    *
    * Replays: the index itself is the ledger — a columnar read of just
    * the id column anti-joins re-delivered vectors out, so a crashed and
    * replayed batch cannot double-insert. That anti-join is the op's
    * only index-order term, and it is CELL-PRUNED: assignment runs
    * before the guard, and because frozen centroids assign
    * deterministically, a replayed pid can only collide inside its own
    * cell — so the guard reads just the batch's cell directories
    * (partition pruning on the same layout searches use), keeping
    * per-batch cost independent of total index size. Measured FLAT at
    * probe scale even unpruned (SCALING.md round-12: last batch ≈ first
    * at 3× the batch count). The prune's invariant, stated explicitly:
    * replays deliver the SAME bytes (Structured Streaming re-runs the
    * identical batch) and `centroids` is the same frozen table for the
    * stream's lifetime — a source that re-delivers a pid with a
    * MUTATED vector is an upsert, which this append-only index does not
    * accept in any form (the pre-prune full-index guard silently
    * dropped such updates; now they would land in the new cell — either
    * way an upsert stream needs the CDC latest-state compaction in
    * front, not this op). Centroid drift is out of scope
    * by design: re-clustering is a BATCH rebuild (kmeansFit → rewrite),
    * exactly like production IVF systems that rebuild off-line and swap. */
  def incrementalAnnIndex(emb: DataFrame, idCol: String, vecCol: String,
                          centroids: DataFrame, indexPath: String,
                          checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val hPath = new org.apache.hadoop.fs.Path(indexPath)
        val indexExists =
          hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hPath)
        val pts = batch.select(col(idCol).cast("long").as("pid"), col(vecCol))
        // assign FIRST (map-only broadcast argmin), so the replay-guard
        // read prunes to the batch's cells: assignment is deterministic
        // under frozen centroids, so a replayed pid can only collide
        // inside its own cell's partition directory — the ledger
        // anti-join therefore reads |batch cells| directories, not the
        // whole index (cells are centroid-bounded, so the collected
        // prune list is broadcast-dim sized by construction).
        val assigned = graft.ops.Similarity
          .assignCells(pts, "pid", vecCol, centroids).cache()
        val fresh =
          if (indexExists) {
            val cells = assigned.select(col("cell")).distinct()
              .collect().map(_.getLong(0))
            assigned.join(
              Parquet.read(spark, indexPath)
                .where(col("cell").isin(cells.map(Long.box): _*))
                .select(col("pid")),
              Seq("pid"), "left_anti")
          } else assigned
        fresh.write.mode("append").partitionBy("cell").parquet(indexPath)
        assigned.unpersist(): Unit
      }
      .start()

  /** Compaction for the [[incrementalAnnIndex]] layout — the maintenance
    * op a cell-partitioned streaming index needs operationally: ingest
    * appends ≤ one file per (cell, batch), so a year of micro-batches
    * turns every cell into thousands of small files and the search-time
    * scan pays a per-file open cost that dwarfs the bytes. This rewrites
    * ONLY the cells whose file count exceeds `maxFilesPerCell`, sizing
    * the rewrite at `targetBytesPerFile` (so a genuinely large cell
    * still splits into scan-parallel files instead of one giant one),
    * and leaves the layout identical — searches prune the same
    * `cell=` directories before and after, with the same rows.
    *
    * Commit shape: per cell, the compacted data is written to a hidden
    * staging dir (dot-prefixed — invisible to any concurrent reader),
    * then swapped in with two directory renames. A reader between the
    * two renames of one cell would miss that single cell; run
    * compaction at a quiet point or against a paused ingest (the same
    * operational contract as production IVF rebuilds). A crash between
    * the renames leaves BOTH directories on disk (the trash name is
    * also hidden), so nothing is lost — re-running the compaction after
    * restoring the cell dir is the documented recovery.
    *
    * Returns a report of every cell: (cell, files_before, files_after,
    * bytes) — `files_after == files_before` marks cells left alone. */
  def compactAnnIndex(spark: SparkSession, indexPath: String,
                      maxFilesPerCell: Int = 4,
                      targetBytesPerFile: Long = 128L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    require(maxFilesPerCell >= 1, "maxFilesPerCell must be >= 1")
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a cell value that does not parse as a Long (e.g.
    // cell=__HIVE_DEFAULT_PARTITION__ from a null cell) is not part of
    // the numeric index layout — leave it alone rather than abort the
    // whole compaction with a NumberFormatException
    val cells = fs.listStatus(root).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("cell="))
      .filter(_.getPath.getName.stripPrefix("cell=").toLongOption.isDefined)
    val report = cells.map { st =>
      val cellDir = st.getPath
      val cell = cellDir.getName.stripPrefix("cell=").toLong
      val dataFiles = fs.listStatus(cellDir)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
          && !f.getPath.getName.startsWith("."))
      val bytes = dataFiles.map(_.getLen).sum
      if (dataFiles.length <= maxFilesPerCell)
        (cell, dataFiles.length.toLong, dataFiles.length.toLong, bytes)
      else {
        val nOut = math.max(1L, (bytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt
        // read the partition dir WITHOUT basePath: file contents only
        // (the cell value lives in the directory name, as on write)
        val staging = new org.apache.hadoop.fs.Path(root, s".compact-${cellDir.getName}")
        val trash = new org.apache.hadoop.fs.Path(root, s".trash-${cellDir.getName}")
        fs.delete(staging, true); fs.delete(trash, true)
        Parquet.read(spark, cellDir.toString)
          .repartition(nOut)
          .write.mode("overwrite").parquet(staging.toString)
        val nAfter = fs.listStatus(staging)
          .count(f => f.isFile && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
        require(fs.rename(cellDir, trash),
          s"compactAnnIndex: could not move $cellDir aside")
        require(fs.rename(staging, cellDir),
          s"compactAnnIndex: could not install compacted ${cellDir.getName} " +
            s"— original preserved at $trash")
        fs.delete(trash, true): Unit
        (cell, dataFiles.length.toLong, nAfter.toLong, bytes)
      }
    }.toSeq.sortBy(_._1)
    report.toDF("cell", "files_before", "files_after", "bytes")
  }

  /** Cell-skew diagnosis for the [[incrementalAnnIndex]] layout — the
    * OTHER maintenance signal after [[compactAnnIndex]]'s file-count
    * tax: an index whose ingest DRIFTS away from the frozen centroids
    * piles rows into a few hot cells, and a pruned search that probes a
    * hot cell scans that whole cell — one giant cell ≈ one giant scan,
    * the exact degeneracy IVF exists to avoid. Reports, per cell:
    * row count, file count, bytes, row share, and `skew` = rows ÷ mean
    * rows per cell — the trigger input for [[resplitHotCells]].
    * Row counts come from a cell-grouped count over the partition
    * column (metadata-cheap: no data column is read); files/bytes from
    * the FS listing. Cell count is centroid-bounded (broadcast-dim), so
    * the driver-side join of the two maps is bounded by design. */
  def cellSkewReport(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fsStats = fs.listStatus(root).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("cell="))
      .flatMap { st =>
        st.getPath.getName.stripPrefix("cell=").toLongOption.map { cell =>
          val files = fs.listStatus(st.getPath)
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
              && !f.getPath.getName.startsWith("."))
          cell -> (files.length.toLong, files.map(_.getLen).sum)
        }
      }.toMap
    // read ONLY the numeric cell= dirs already enumerated above (with
    // basePath so inference still yields `cell`): a root-level read
    // would fail on a foreign layout like cell=__HIVE_DEFAULT_PARTITION__
    // — the exact dir compactAnnIndex tolerates — or NPE on its null
    // cell group. Partition-dir inference may type `cell` int —
    // normalize to long.
    val numericDirs = fsStats.keys.toSeq.sorted
      .map(c => new org.apache.hadoop.fs.Path(root, s"cell=$c").toString)
    val rows =
      if (numericDirs.isEmpty) Map.empty[Long, Long]
      else spark.read.option("basePath", indexPath).parquet(numericDirs: _*)
        .groupBy(col("cell").cast("long").as("cell")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = rows.values.sum.toDouble
    val mean = if (rows.isEmpty) 0.0 else total / rows.size
    fsStats.toSeq.sortBy(_._1).map { case (cell, (nf, bytes)) =>
      val n = rows.getOrElse(cell, 0L)
      (cell, n, nf, bytes, if (total > 0) n / total else 0.0,
        if (mean > 0) n / mean else 0.0)
    }.toDF("cell", "n_rows", "n_files", "bytes", "row_share", "skew")
  }

  /** Threshold-triggered re-split of hot cells — the index-maintenance
    * completion after [[compactAnnIndex]]: every cell whose row count
    * exceeds `maxSkew` × the mean is re-clustered WITHIN the cell
    * (k-means over its own members, seeded from the `nSplit` lowest
    * pids — deterministic) and rewritten as `nSplit` child cells with
    * fresh ids past the current maximum, under a manifest + hidden-
    * staging + rename commit discipline (below). Passes repeat until no
    * cell exceeds the threshold or `maxPasses` is hit — a skewed
    * sub-split (e.g. 39/1 with nSplit=2) is re-checked and re-split on
    * the next pass, so the post-split bound holds beyond the first
    * pass's geometry (a cell whose members are IDENTICAL vectors cannot
    * be split by any vector clustering; the pass cap keeps that
    * degenerate case terminating, and the returned report shows it).
    * Returns the UPDATED centroid table (parents replaced by trained
    * children) — the caller swaps it in for future assignment/search,
    * exactly like production IVF systems rebuild off-line and swap
    * (persist it with [[graft.ops.Artifacts.saveArtifact]] so the
    * maintained index survives a restart).
    *
    * Semantics: LOSSLESS on membership (the union of (pid, vector) rows
    * is unchanged — spec-gated); assignment within a split cell is the
    * same broadcast argmin fold ingest uses. Adding child centroids can
    * move the argmin boundary for points NEAR a split cell in vector
    * space — the standard IVF boundary drift every off-line rebuild
    * accepts; the recall lever remains `nprobe`. Operational contract:
    * run against a PAUSED ingest (as with compaction) and hand the
    * returned centroid table to the restarted stream — a stream replay
    * across a re-split could otherwise re-admit a moved pid (the
    * replay-guard prune reads the batch's cells under the NEW map).
    *
    * Crash safety (per hot cell): (1) children fully staged under the
    * hidden `.resplit-cell=N`; (2) a recovery manifest
    * `.resplit-manifest-cell=N` is written at the root naming every
    * child id; (3) the hot cell renames aside to `.trash-cell=N`;
    * (4) children install one rename each (destination-checked);
    * (5) trash, staging, and manifest delete. A crash anywhere is
    * mechanically recoverable because the manifest names exactly the
    * dirs steps 3-4 touch — [[recoverResplit]] rolls the cell BACK
    * (delete any installed children from the manifest list, restore the
    * trash dir, clear residue), and runs automatically at the start of
    * every resplit/report call. Child ids are allocated past the max of
    * BOTH the centroid table and the on-disk cell dirs, so a retry that
    * is passed a stale (pre-crash) centroid table cannot collide with
    * already-installed children. */
  def resplitHotCells(spark: SparkSession, indexPath: String,
                      centroids: DataFrame, maxSkew: Double = 4.0,
                      nSplit: Int = 4, iters: Int = 2,
                      maxPasses: Int = 3): DataFrame = {
    require(maxSkew > 1.0, "maxSkew must exceed 1 (the mean itself)")
    require(nSplit >= 2, "a re-split needs at least two children")
    require(maxPasses >= 1, "resplitHotCells needs at least one pass")
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverResplit(spark, indexPath)
    var cents = centroids.select(col("cell").cast("long").as("cell"), col("cv"))
    val maxRow = cents.agg(max(col("cell"))).collect().head
    require(!maxRow.isNullAt(0), "resplitHotCells: empty centroid table")
    def diskMaxCell(): Long = fs.listStatus(root).filter(_.isDirectory)
      .flatMap(st => st.getPath.getName.stripPrefix("cell=").toLongOption)
      .foldLeft(-1L)(math.max)
    var nextId = math.max(maxRow.getLong(0), diskMaxCell()) + 1L
    var pass = 0
    var done = false
    while (pass < maxPasses && !done) {
      pass += 1
      val skew = cellSkewReport(spark, indexPath)
        .select(col("cell"), col("skew")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val hot = skew.filter(_._2 > maxSkew).keys.toSeq.sorted
      done = hot.isEmpty
      hot.foreach { cell =>
        val cellDir = new org.apache.hadoop.fs.Path(root, s"cell=$cell")
        // the [[incrementalAnnIndex]] layout stores (pid, pv) per cell dir
        val members = Parquet.read(spark, cellDir.toString)
        // deterministic seeds: the nSplit lowest pids (TakeOrdered — never
        // a full sort); a cell smaller than nSplit keeps every member as
        // its own seed
        val seeds = members.select(col("pid")).orderBy(col("pid"))
          .limit(nSplit).collect().map(_.getLong(0))
        val trained = graft.ops.Similarity.kmeansFit(
          members, "pid", "pv", col("pid").isin(seeds.map(Long.box): _*),
          iters = iters)
        // local seed-pid cells → fresh global ids in seed order
        val localIds = trained.select(col("cell")).distinct()
          .collect().map(_.getLong(0)).sorted
        val idMap = localIds.zipWithIndex.map { case (l, i) => l -> (nextId + i) }.toMap
        nextId += localIds.length
        val mapExpr = map(idMap.toSeq.flatMap { case (l, g) =>
          Seq(lit(l), lit(g)) }: _*)
        val childCents = trained
          .groupBy(col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("coord")))),
            s => s.getField("coord")).as("cv"))
          .select(element_at(mapExpr, col("cell")).as("cell"), col("cv"))
          .localCheckpoint(true)
        val assigned = graft.ops.Similarity
          .assignCells(members, "pid", "pv", childCents)
        // (1) stage all children hidden; (2) write the recovery manifest;
        // (3) move the hot cell aside; (4) install; (5) clear residue
        val staging = new org.apache.hadoop.fs.Path(root, s".resplit-cell=$cell")
        val trash = new org.apache.hadoop.fs.Path(root, s".trash-cell=$cell")
        val manifest = new org.apache.hadoop.fs.Path(root, s".resplit-manifest-cell=$cell")
        fs.delete(staging, true); fs.delete(trash, true); fs.delete(manifest, false)
        assigned.write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
        val childIds = idMap.values.toSeq.sorted
        val out = fs.create(manifest, true)
        try out.write(childIds.mkString("\n").getBytes("UTF-8")) finally out.close()
        require(fs.rename(cellDir, trash),
          s"resplitHotCells: could not move $cellDir aside")
        fs.listStatus(staging).filter(_.isDirectory)
          .filter(_.getPath.getName.startsWith("cell=")).foreach { child =>
            val dest = new org.apache.hadoop.fs.Path(root, child.getPath.getName)
            require(!fs.exists(dest),
              s"resplitHotCells: destination $dest already exists — " +
                s"recover from $manifest before re-running")
            require(fs.rename(child.getPath, dest),
              s"resplitHotCells: could not install ${child.getPath.getName} " +
                s"— original preserved at $trash")
          }
        fs.delete(trash, true); fs.delete(staging, true)
        fs.delete(manifest, false): Unit
        cents = cents.where(col("cell") =!= cell).unionByName(childCents)
          .localCheckpoint(true)
      }
    }
    cents
  }

  /** [[resplitHotCells]] wired through the artifact store — the
    * restart-safe form of the maintenance loop: the CURRENT centroid
    * table comes from the `ivf_centroids` artifact at `artifactRoot`
    * (seeded once via [[graft.ops.Artifacts.saveArtifact]] after the
    * initial [[graft.ops.Similarity.kmeansFit]]), the re-split runs
    * against it, and the updated table commits back as the NEXT version
    * (atomic staged rename) — so a restarted ingest/search session loads
    * centroids consistent with the on-disk cell layout instead of
    * depending on caller-held state. Returns (updated centroids,
    * committed version). Run against a paused ingest, as with the
    * unpersisted form. */
  def resplitHotCellsPersisted(spark: SparkSession, indexPath: String,
                               artifactRoot: String, maxSkew: Double = 4.0,
                               nSplit: Int = 4, iters: Int = 2,
                               maxPasses: Int = 3): (DataFrame, Long) = {
    val (cents, meta) = graft.ops.Artifacts.loadArtifact(spark, artifactRoot,
      family = "ivf_centroids")
    val updated = resplitHotCells(spark, indexPath, cents,
      maxSkew = maxSkew, nSplit = nSplit, iters = iters, maxPasses = maxPasses)
      .localCheckpoint(true)
    val v = graft.ops.Artifacts.saveArtifact(updated, artifactRoot,
      family = "ivf_centroids",
      params = meta.params ++ Map("maxSkew" -> maxSkew.toString,
        "nSplit" -> nSplit.toString, "resplitOf" -> meta.version.toString))
    (updated, v)
  }

  /** Converge the centroid artifact with the on-disk cell layout (r17):
    * find ORPHAN cell dirs — on disk with rows, but absent from the
    * CURRENT `ivf_centroids` artifact — and add each orphan's centroid
    * (the per-position mean of its member vectors: k-means' own update
    * step over exactly that dir) to the table, committing the result as
    * the next artifact version. Orphans are the residue of two crash
    * shapes the install discipline cannot close on its own: (a) a crash
    * BETWEEN a cell's children committing and the re-split's artifact
    * save — the children exist, the stored table still has only the
    * parent; (b) [[recoverResplit]]'s keep-both outcome, where an ingest
    * broke the paused discipline and re-created the parent dir next to
    * committed children. In both, every row is intact on disk but the
    * children are INVISIBLE to assignment and search (probing walks the
    * centroid table) until their centroid rows exist. Convergence moves
    * ZERO data — rows stay where they are and become probe-reachable.
    * Cost: one scan of the orphan dirs only. A perfectly-converged index
    * is a no-op: no new version is committed. Returns (current centroids,
    * current version, orphan cell ids added). */
  def convergeAnnIndex(spark: SparkSession, indexPath: String,
                       artifactRoot: String): (DataFrame, Long, Seq[Long]) = {
    val (cents, meta) = graft.ops.Artifacts.loadArtifact(spark, artifactRoot,
      family = "ivf_centroids")
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val diskCells =
      if (!fs.exists(root)) Seq.empty[Long]
      else fs.listStatus(root).filter(_.isDirectory)
        .filter { st => // only dirs holding at least one data file
          fs.listStatus(st.getPath).exists(f => f.isFile
            && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
        }
        .flatMap(_.getPath.getName.stripPrefix("cell=").toLongOption).toSeq.sorted
    // centroid-bounded collect (k rows), same bound as every probe path
    val known = cents.select(col("cell").cast("long")).collect()
      .map(_.getLong(0)).toSet
    val orphans = diskCells.filterNot(known)
    if (orphans.isEmpty) return (cents, meta.version, Seq.empty)
    val dirs = orphans.map(c =>
      new org.apache.hadoop.fs.Path(root, s"cell=$c").toString)
    val orphanCents = spark.read.option("basePath", indexPath)
      .parquet(dirs: _*)
      .select(col("cell").cast("long").as("cell"), posexplode(col("pv")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv"))
    val updated = cents.select(col("cell").cast("long").as("cell"), col("cv"))
      .unionByName(orphanCents).localCheckpoint(true)
    val v = graft.ops.Artifacts.saveArtifact(updated, artifactRoot,
      family = "ivf_centroids",
      params = meta.params ++ Map("convergedOf" -> meta.version.toString,
        "convergedCells" -> orphans.mkString(",")))
    (updated, v, orphans)
  }

  /** ONE maintenance pass over a maintained ANN index — the composed
    * operational entry point (run against a paused ingest, then hand the
    * returned centroids to the restarted stream):
    *   1. [[recoverResplit]] — heal any interrupted prior install;
    *   2. [[convergeAnnIndex]] — add centroid rows for any orphan cell
    *      dirs the recovery left behind (committed-children crash residue
    *      or keep-both conflicts), so no on-disk row stays
    *      probe-invisible; r17 — previously a stderr note told the
    *      operator to re-run the resplit by hand;
    *   3. [[compactAnnIndex]] — collapse the small-file accretion;
    *   4. [[resplitHotCellsPersisted]] — re-split hot cells and commit
    *      the updated centroid table as the next `ivf_centroids`
    *      artifact version;
    *   5. [[graft.ops.Artifacts.pruneArtifacts]] — drop centroid versions
    *      older than the newest `retainVersions` (default 16, generous:
    *      each version is one tiny file, but the chain must not grow
    *      FOREVER under a scheduled maintenance loop). Serving is
    *      unaffected mid-prune: readers take the highest committed
    *      version, which is never in the pruned suffix.
    * Returns (updated centroids, committed artifact version, compaction
    * report). Each stage's cost is bounded by the OFFENDING cells, not
    * the index — see the per-op scaladocs; together they are the
    * complete periodic-maintenance story a cell-partitioned streaming
    * index needs (file tax + skew + crash convergence + restart-safe
    * trained state + bounded version history). */
  def maintainAnnIndex(spark: SparkSession, indexPath: String,
                       artifactRoot: String, maxFilesPerCell: Int = 4,
                       targetBytesPerFile: Long = 128L * 1024 * 1024,
                       maxSkew: Double = 4.0, nSplit: Int = 4,
                       iters: Int = 2, maxPasses: Int = 3,
                       retainVersions: Int = 16): (DataFrame, Long, DataFrame) = {
    recoverResplit(spark, indexPath)
    convergeAnnIndex(spark, indexPath, artifactRoot)
    val compaction = compactAnnIndex(spark, indexPath, maxFilesPerCell,
      targetBytesPerFile).localCheckpoint(true)
    val (cents, version) = resplitHotCellsPersisted(spark, indexPath,
      artifactRoot, maxSkew = maxSkew, nSplit = nSplit, iters = iters,
      maxPasses = maxPasses)
    graft.ops.Artifacts.pruneArtifacts(spark, artifactRoot, keep = retainVersions)
    (cents, version, compaction)
  }

  /** Roll back any interrupted [[resplitHotCells]] install under
    * `indexPath`: for every recovery manifest `.resplit-manifest-cell=N`,
    * delete the manifest's child dirs (installed or staged), restore
    * `.trash-cell=N` to `cell=N` if the live dir is missing, and clear
    * staging + manifest. After recovery the index is byte-identical to
    * the pre-split state for that cell, so re-running the resplit is
    * always safe. Called automatically by [[resplitHotCells]]; exposed
    * for operational use. Returns the recovered cell ids. */
  def recoverResplit(spark: SparkSession, indexPath: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val manifests = fs.listStatus(root).filter(_.isFile)
      .map(_.getPath)
      .flatMap(p => p.getName.stripPrefix(".resplit-manifest-cell=")
        .toLongOption.filter(_ => p.getName.startsWith(".resplit-manifest-cell="))
        .map(_ -> p))
      .sortBy(_._1)
    manifests.map { case (cell, manifest) =>
      val in = fs.open(manifest)
      val childIds = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().flatMap(_.trim.toLongOption).toSeq
      finally in.close()
      val cellDir = new org.apache.hadoop.fs.Path(root, s"cell=$cell")
      val trash = new org.apache.hadoop.fs.Path(root, s".trash-cell=$cell")
      // Roll BACK only while the TRASH copy still exists — the trash dir
      // IS the pre-install copy being restored. When it is gone, the
      // install COMMITTED (the happy path deletes trash first, then
      // staging, then the manifest) and the children are the ONLY copy of
      // the moved rows — roll FORWARD regardless of a live cell dir: an
      // ingest may have re-created cell=N with NEW rows after the commit
      // (broken paused-ingest discipline), and deleting the children for
      // that would lose the moved rows. This distinction is what makes
      // every crash position recoverable without row loss.
      if (fs.exists(trash)) {
        childIds.foreach { id =>
          fs.delete(new org.apache.hadoop.fs.Path(root, s"cell=$id"), true)
        }
        if (!fs.exists(cellDir))
          require(fs.rename(trash, cellDir),
            s"recoverResplit: could not restore $trash to $cellDir")
        else {
          // live dir recreated by an ingest AFTER the aside-rename: merge
          // the pre-split files back in (part-file names are UUID-unique)
          // — never drop the only pre-split copy
          fs.listStatus(trash).filter(_.isFile)
            .filterNot(f => f.getPath.getName.startsWith("_")
              || f.getPath.getName.startsWith(".")).foreach { f =>
              require(fs.rename(f.getPath,
                new org.apache.hadoop.fs.Path(cellDir, f.getPath.getName)),
                s"recoverResplit: could not merge ${f.getPath} into $cellDir")
            }
          fs.delete(trash, true)
        }
      } else if (fs.exists(cellDir) && childIds.exists(id =>
          fs.exists(new org.apache.hadoop.fs.Path(root, s"cell=$id")))) {
        // committed children coexist with a re-created parent dir: rows
        // are intact in both (the parent holds only post-commit ingest),
        // but the centroid artifact may predate the split — surface it
        System.err.println(s"[graft] recoverResplit: committed children of " +
          s"cell=$cell coexist with a re-created live cell dir under " +
          s"$indexPath — an ingest ran during maintenance; keeping both " +
          s"([[convergeAnnIndex]] makes the children probe-reachable; " +
          s"maintainAnnIndex runs it automatically)")
      }
      fs.delete(new org.apache.hadoop.fs.Path(root, s".resplit-cell=$cell"), true)
      fs.delete(manifest, false)
      cell
    }.toSeq
  }

  /** Incremental PQ code maintenance (CDC × X2) — the compressed sibling
    * of [[incrementalAnnIndex]]: codebooks are FROZEN (trained once by
    * [[graft.ops.Similarity.pqTrain]]; retraining is an offline epoch
    * event, as with the IVF centroids), each micro-batch encodes only
    * vectors absent from the code table (anti-join on pid — the table is
    * its own replay ledger), and the m sub-codes append. The encode is
    * [[graft.ops.Similarity.pqEncode]]'s broadcast fold — per batch: one
    * scan of the batch, zero shuffles of it. At 100 TB the point is that
    * the MAINTAINED searchable artifact is the m-byte code table, not
    * the float vectors: ADC search over it never touches the stream's
    * history. Crash semantics: at-least-once append, duplicates
    * suppressed by the ledger anti-join on replay. */
  def incrementalPqCodes(emb: DataFrame, idCol: String, vecCol: String,
                         m: Int, dim: Int, codebooks: DataFrame, codesPath: String,
                         checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val pts = batch.select(col(idCol).cast("long").as("pid"), col(vecCol))
        // the code table's pid column (this applier writes the table)
        val fresh = StateDir.read(batch.sparkSession, codesPath,
            StructType(Seq(StructField("pid", LongType))))
          .fold(pts)(codes => pts.join(codes.distinct(), Seq("pid"), "left_anti"))
        graft.ops.Similarity.pqEncode(fresh, "pid", vecCol, m, dim, codebooks)
          .write.mode("append").parquet(codesPath)
      }
      .start()

  /** Incremental bucketed materialization — each micro-batch appends into
    * a table bucketed on the join key, so the CONTINUOUSLY-INGESTED fact
    * table keeps the layout that makes every downstream equi-join on the
    * key shuffle-free (see `Tables.bucketedOrdersCustomer` /
    * `s9_bucketed_join` for the batch form and the PlanSpec no-exchange
    * proof). The per-batch shuffle into buckets is the write-time cost
    * bucketing always pays, amortized across every later join.
    *
    * Each batch adds ≤ one file per (bucket, task) — the standard
    * small-file accretion of streaming bucketed sinks; compact on the
    * same bucket spec when file counts matter. Crash semantics: plain
    * at-least-once append (no ledger, no ordering hazard) — a replayed
    * batch re-appends rows; dedupe downstream by primary key, or put
    * [[dedupReplay]] in front. First batch creates the table (external
    * at `tablePath`), later batches must match the bucket spec. */
  def incrementalBucketedSink(rows: DataFrame, tableName: String, tablePath: String,
                              bucketCol: String, buckets: Int,
                              checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val mode = if (batch.sparkSession.catalog.tableExists(tableName)) "append"
                   else "errorifexists"
        batch.write.mode(mode)
          .option("path", tablePath)
          .bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .saveAsTable(tableName): Unit
      }
      .start()

  /** Incremental size-balanced shard accretion — the CDC mirror of
    * [[graft.ops.Curation.shardManifest]], committed exactly once per
    * batch: documents stream in; each micro-batch is first balanced WITHIN
    * itself by the batch op (round-robin over (size DESC, id) — batch-pile
    * i carries the i-th largest batch total, by the op's telescoping
    * bound), then the pile ranks map onto the INVERTED current shard
    * totals — largest pile onto lightest shard, the greedy-LPT step at
    * pile granularity. Durable state is the S-row (shard, total) ledger,
    * driver-tiny at any corpus size.
    *
    * Both artifacts of a batch live inside ONE commit directory:
    *
    *   root/commit-<epoch>/manifest/   the batch's assignment rows
    *   root/commit-<epoch>/ledger/     the S-row totals AFTER the batch
    *
    * staged under a hidden `.tmp-<epoch>` dir and installed with a
    * single filesystem rename — the commit point. Structured Streaming
    * replays a failed batch under the SAME epochId, so the guard is
    * structural: commit dir already present → the batch committed
    * before the crash → skip (idempotent replay); absent → any stale
    * `.tmp` residue is deleted and the batch re-stages from the last
    * COMMITTED ledger. Every crash position lands in exactly one of
    * those two cases, so manifest rows and totals move together,
    * exactly once. The cumulative manifest is the glob of every
    * committed epoch's manifest dir ([[txnShardManifest]]); the
    * current totals are the ledger of the
    * highest committed epoch ([[txnShardTotals]]). The rename-commit
    * pattern assumes atomic directory rename (HDFS, POSIX; on S3 use a
    * committer or table format). */
  def incrementalShardAssignTxn(docs: DataFrame, idCol: String, sizeCol: String,
                                shards: Int, rootPath: String,
                                checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        shardAssignCommit(batch.toDF(), epochId, idCol, sizeCol, shards,
          rootPath): Unit
      }
      .start()

  /** One staged-commit step of [[incrementalShardAssignTxn]] (factored
    * out so the crash-window fixtures can drive epochs directly).
    * Returns false when the epoch was already committed (replay skip),
    * true after installing a new commit. */
  private[graft] def shardAssignCommit(batch: DataFrame, epochId: Long,
                                       idCol: String, sizeCol: String,
                                       shards: Int, rootPath: String): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(rootPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitDir = new org.apache.hadoop.fs.Path(root, f"commit-$epochId%020d")
    if (fs.exists(commitDir)) return false // crashed AFTER the rename: done
    val committed = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(root, "commit-*")))
      .getOrElse(Array.empty).map(_.getPath).sortBy(_.getName)
    val totals: Map[Long, Long] = committed.lastOption match {
      case Some(last) => Parquet.read(spark, s"$last/ledger")
        .as[(Long, Long)].collect().toMap
      case None => (0L until shards.toLong).map(_ -> 0L).toMap
    }
    // batch-internal pile ranks onto the inverted committed totals
    // (greedy LPT at pile granularity)
    val piles = graft.ops.Curation.shardManifest(batch, idCol, col(sizeCol), shards)
    val lightestFirst = totals.toSeq.sortBy { case (sh, t) => (t, sh) }.map(_._1)
    val mapping = lightestFirst.zipWithIndex
      .map { case (sh, pile) => (pile.toLong, sh) }.toDF("shard", "__target")
    val assigned = piles.join(broadcast(mapping), Seq("shard"))
      .select(col("doc_id"), col("n_tokens"), col("__target").as("shard"))
      .cache()
    val staging = new org.apache.hadoop.fs.Path(root, s".tmp-$epochId")
    fs.delete(staging, true) // crashed BEFORE the rename: discard residue
    assigned.write.mode("overwrite").parquet(s"$staging/manifest")
    val delta = assigned.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("t")).as[(Long, Long)].collect().toMap
    assigned.unpersist(): Unit
    val next = totals.map { case (sh, t) => (sh, t + delta.getOrElse(sh, 0L)) }
    next.toSeq.sortBy(_._1).toDF("shard", "total")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/ledger")
    require(fs.rename(staging, commitDir),
      s"shardAssignCommit: atomic commit rename failed for epoch $epochId")
    true
  }

  /** Cumulative manifest of an [[incrementalShardAssignTxn]] root: the
    * union of every committed batch's rows (commit granularity = batch,
    * so this is a plain multi-dir parquet read with partition-less
    * pruning by commit). */
  def txnShardManifest(spark: SparkSession, rootPath: String): DataFrame =
    Parquet.read(spark, s"$rootPath/commit-*/manifest")

  /** Current totals of an [[incrementalShardAssignTxn]] root: the S-row
    * ledger inside the HIGHEST committed epoch. */
  def txnShardTotals(spark: SparkSession, rootPath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(rootPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(root, "commit-*")))
      .getOrElse(Array.empty).map(_.getPath).sortBy(_.getName)
    require(committed.nonEmpty, s"no committed epochs under $rootPath")
    Parquet.read(spark, s"${committed.last}/ledger")
  }

  /** Append-ingest validation (reference buffer guards fawac.py:57-63):
    * asserts capacity and load-once emptiness before an append write. */
  def validateIngest(batch: DataFrame, existingCount: Long, capacity: Long): DataFrame = {
    require(existingCount == 0, "loading into a non-empty buffer is not allowed")
    val n = batch.count()
    require(n <= capacity, s"dataset ($n rows) exceeds buffer capacity ($capacity)")
    batch
  }
}
