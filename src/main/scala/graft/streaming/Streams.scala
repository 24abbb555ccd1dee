package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.Encoders

/** Structured Streaming surface (SURVEY.md §2 T1–T3). The reference
  * engine is batch-only; these are the Spark-native streaming twins of
  * the events workload: watermarked tumbling windows, streaming dedup,
  * and stateful gap sessionization via flatMapGroupsWithState. All
  * operators are keyed so state is shuffle-partitioned by user at scale.
  */
object Streams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(user_id: Long, n_events: Int, duration_s: Long)

  /** T1: tumbling 1-hour counts with a 10-minute watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total_value"))

  /** T4: sliding windows — each event contributes to window_size/slide
    * overlapping windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("user_id"), col("n"))

  /** T5: stream-static enrichment join — the static dim is re-broadcast
    * per micro-batch, no state needed. */
  def enrichStatic(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** T7: stream-stream interval join — purchases matched to the views
    * that preceded them within `windowMinutes`. Both sides carry
    * watermarks and the join condition bounds the time range, so state
    * on each side is evictable (no unbounded buffers). */
  def viewPurchaseJoin(events: DataFrame, windowMinutes: Int = 30): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("value").as("view_value"))
      .withWatermark("view_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("buy_ts"), col("event_id").as("buy_id"))
      .withWatermark("buy_ts", "10 minutes")
    purchases.join(views,
      col("view_ts") <= col("buy_ts") &&
        col("view_ts") >= col("buy_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        views("user_id") === purchases("user_id"))
      .select(purchases("user_id"), col("buy_id"), col("buy_ts"),
        col("view_ts"), col("view_value"))
  }

  /** T16: stream-stream LEFT OUTER interval join — purchases with or
    * without a preceding view. Unmatched left rows CANNOT emit until
    * the watermark proves no matching view can still arrive, so the
    * null-extended output is watermark-delayed by construction (the
    * semantics that distinguish outer from inner stream joins). */
  def viewPurchaseLeftJoin(events: DataFrame, windowMinutes: Int = 30): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("value").as("view_value"))
      .withWatermark("view_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("buy_ts"), col("event_id").as("buy_id"))
      .withWatermark("buy_ts", "10 minutes")
    purchases.join(views,
      col("view_ts") <= col("buy_ts") &&
        col("view_ts") >= col("buy_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("v_user") === col("user_id"),
      "left_outer")
      .select(col("user_id"), col("buy_id"), col("buy_ts"), col("view_ts"), col("view_value"))
  }

  /** T8: native session windows (`session_window`) — the declarative
    * twin of the flatMapGroupsWithState sessionizer in [[sessionize]]:
    * Spark merges overlapping per-event gap windows in the state store. */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("n_events"))

  /** T9: foreachBatch sink — each micro-batch lands in its own
    * `batch_id=N` directory with overwrite semantics, so an
    * at-least-once replay of a batch rewrites the same directory
    * instead of duplicating rows (the standard idempotent-sink recipe
    * for sinks with no transactional writer). */
  def foreachBatchParquet(events: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }

  /** T24: DEAD-LETTER dual sink — the quarantine shape every
    * production ingest runs: each micro-batch splits ONCE on the
    * quality gates (min length, non-empty text, known language) and
    * lands accepted rows and rejected rows — the latter with a
    * per-row reject reason — in their own sinks. Both writes use the
    * T9 idempotent per-batch-directory device, so an at-least-once
    * replay rewrites both directories consistently instead of
    * duplicating either side. The split is two filters over one
    * persisted batch projection, not two stream scans. */
  def deadLetterSink(docs: DataFrame, acceptDir: String, rejectDir: String,
                     minChars: Int = 10)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    val langs = Seq("en", "de", "fr", "es", "zh")
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val tagged = batch.withColumn("reject_reason",
          when(length(trim(col("text"))) === 0, "empty_text")
            .when(length(col("text")) < minChars, "too_short")
            .when(!col("lang").isin(langs.map(lit): _*), "unknown_lang"))
        tagged.persist()
        try {
          tagged.filter(col("reject_reason").isNull).drop("reject_reason")
            .write.mode("overwrite").parquet(s"$acceptDir/batch_id=$batchId")
          tagged.filter(col("reject_reason").isNotNull)
            .write.mode("overwrite").parquet(s"$rejectDir/batch_id=$batchId")
        } finally tagged.unpersist()
    }
  }

  /** T10: Trigger.AvailableNow file-to-file copy — drains everything
    * currently in `inDir` through the streaming engine (checkpointed,
    * so a re-run picks up only NEW files) and stops. The streaming twin
    * of an incremental batch ingest job. */
  def availableNowIngest(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      inDir: String, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  case class UserSnapshot(user_id: Long, total_events: Long,
                          distinct_types: Int, recent_value_sum: Double)

  /** T11: `transformWithState` (Spark 4 arbitrary-state API, the
    * successor to flatMapGroupsWithState) — a per-user activity
    * snapshot that exercises all three state-variable kinds:
    *   - ValueState: lifetime event count,
    *   - MapState:   per-event-type counts (distinct-type cardinality),
    *   - ListState:  bounded buffer of the most recent `recentK`
    *     values, trimmed in-processor so state stays O(k) per user.
    * Emits one Update-mode row per (user, micro-batch). State lives in
    * the RocksDB state store (required by this API), keyed by user, so
    * it shards across executors like any shuffle partition. */
  class UserActivityProcessor(recentK: Int)
      extends StatefulProcessor[Long, Event, UserSnapshot] {
    @transient private var total: ValueState[Long] = _
    @transient private var byType: MapState[String, Long] = _
    @transient private var recent: ListState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)
      byType = getHandle.getMapState[String, Long](
        "byType", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      recent = getHandle.getListState[Double]("recent", Encoders.scalaDouble, TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[UserSnapshot] = {
      val batch = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
      val newTotal = (if (total.exists()) total.get() else 0L) + batch.length
      total.update(newTotal)
      batch.foreach { e =>
        val n = if (byType.containsKey(e.event_type)) byType.getValue(e.event_type) else 0L
        byType.updateValue(e.event_type, n + 1)
      }
      val buf = (recent.get().toArray ++ batch.map(_.value)).takeRight(recentK)
      recent.put(buf)
      Iterator.single(UserSnapshot(user, newTotal, byType.keys().size, buf.sum))
    }
  }

  /** T11 pipeline: events keyed by user through [[UserActivityProcessor]]. */
  def userActivitySnapshots(events: Dataset[Event], recentK: Int = 5): Dataset[UserSnapshot] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserActivityProcessor(recentK),
        TimeMode.None(), OutputMode.Update())
  }

  /** T12: event-time TIMERS via `transformWithState` — the timer-driven
    * twin of the flatMapGroupsWithState sessionizer: each input batch
    * re-arms a per-user timer at `last + gap`; when the watermark
    * passes it, `handleExpiredTimer` emits the closed session and
    * clears state. Timer bookkeeping lives in the state store alongside
    * the session envelope, so idle-key cleanup costs no scan of the
    * key space (the store surfaces expired timers directly). */
  class IdleSessionProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var sess: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessionState](
        "sess", Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      val secs = rows.map(_.ts.getTime / 1000).toArray
      if (secs.isEmpty) return Iterator.empty
      val cur = sess.get() // null when absent
      val next =
        if (cur == null) SessionState(secs.min, secs.max, secs.length)
        else SessionState(math.min(cur.start, secs.min),
          math.max(cur.last, secs.max), cur.n + secs.length)
      sess.update(next)
      getHandle.listTimers().foreach(getHandle.deleteTimer) // re-arm
      getHandle.registerTimer((next.last + gapSeconds) * 1000)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      val s = sess.get()
      sess.clear()
      if (s == null) Iterator.empty
      else Iterator.single(SessionOut(user, s.n, s.last - s.start))
    }
  }

  case class UserTotal(user_id: Long, total_events: Long)

  /** T13: `StatefulProcessorWithInitialState` — the migration path for
    * stateful jobs: per-key state is BOOTSTRAPPED from a batch relation
    * (e.g. historical totals computed by the batch engine) before the
    * first micro-batch, then maintained incrementally. This is how a
    * 100 TB backfill hands off to the streaming tail without
    * reprocessing history. */
  class BootstrappedCounter extends StatefulProcessorWithInitialState[Long, Event, UserTotal, Long] {
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInitialState(user: Long, initial: Long,
        timers: TimerValues): Unit =
      total.update(initial)

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[UserTotal] = {
      val n = (if (total.exists()) total.get() else 0L) + rows.size
      total.update(n)
      Iterator.single(UserTotal(user, n))
    }
  }

  /** T13 pipeline: stream counts seeded from a batch (user, total) set. */
  def bootstrappedCounts(events: Dataset[Event],
      initial: Dataset[(Long, Long)]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new BootstrappedCounter(),
        TimeMode.None(), OutputMode.Update(),
        initial.groupByKey(_._1).mapValues(_._2))
  }

  /** T12 pipeline: watermarked events through [[IdleSessionProcessor]]. */
  def timerSessions(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new IdleSessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** T14: Complete-mode ranked aggregate — the one output mode where
    * streaming allows a global ORDER BY (the full result is re-emitted
    * per batch, so the sort is well-defined). State is the aggregate
    * itself; no watermark needed. */
  def topTypesComplete(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .orderBy(col("n").desc, col("event_type"))

  /** T17: streaming corpus ingest — the streaming twin of the P15
    * batch cleaner (pipeline/Corpus.scala): per-row quality gates
    * (length + token floor, the weak-label recipe), EXACT content
    * dedup within the watermark horizon, then a windowed per-language
    * admission audit. Two stateful operators chain in one query
    * (Spark 4 multi-stateful append support); both states are bounded
    * by the watermark — dedup keys expire with it, windows close with
    * it — so the pipeline runs indefinitely at ingest scale, and state
    * is shuffle-partitioned by content hash / (window, lang). */
  case class Doc(doc_id: Long, ts: Timestamp, text: String, lang: String)

  /** A CDC change row: [[Doc]] plus the op tag ('I'/'U' upsert, 'D'
    * tombstone). Tombstones are full rows — see [[icebergCdcSink]]. */
  case class CdcDoc(doc_id: Long, ts: Timestamp, text: String, lang: String, op: String)

  def ingestClean(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tok", size(split(trim(lower(col("text"))), "\\s+")).cast("long"))
      .filter(length(col("text")) >= 20 && col("n_tok") >= 3)
      .withColumn("h", md5(col("text").cast("binary")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("h")
      .groupBy(window(col("ts"), "1 hour"), col("lang"))
      .agg(count(lit(1)).as("n_admitted"), sum(col("n_tok")).as("n_tokens"))
      .select(col("window.start").as("win_start"), col("lang"),
        col("n_admitted"), col("n_tokens"))

  /** T20: streaming windowed quantile monitoring — a KLL sketch as the
    * windowed aggregation state: per-(hour, event_type) p50/p95 of
    * `value` in update mode, the standard latency-SLO monitor. The
    * sketch is MERGEABLE, so map-side partial aggregation and the
    * state store's incremental merges compose without losing the
    * sketch's rank-error guarantee — the same property that makes it
    * work across 1000 executors makes it work across micro-batches;
    * state per (window, type) is one bounded sketch (~KB at k=200),
    * and the watermark expires whole windows. */
  def windowedQuantiles(events: DataFrame): DataFrame = {
    import graft.functions.KllQuantile
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(KllQuantile.sketch(col("value")).as("sk"), count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"),
        call_function("kll_quantile", col("sk"), lit(0.5)).as("p50"),
        call_function("kll_quantile", col("sk"), lit(0.95)).as("p95"))
  }

  /** T21: streaming windowed heavy hitters — Misra–Gries summaries as
    * windowed aggregation state, the streaming twin of the batch
    * `text_heavy_hitters` vocabulary monitor (same
    * functions.MisraGriesAgg). Per hour window: the top event types by
    * a k-counter summary plus the exact window count. Like T20's KLL,
    * the summary is MERGEABLE (map-side partials + state-store
    * incremental merges compose), state per window is O(k) counters
    * regardless of type cardinality, and the watermark expires whole
    * windows — the shape that survives an unbounded key domain at
    * ingest rate. MG counts are lower bounds (merge-order dependent),
    * so the contract mirrors the batch op's: every type with frequency
    * > n/(k+1) in the window is PRESENT; ordering/counts are
    * approximate. */
  def windowedHeavyHitters(events: DataFrame, k: Int = 10): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.HeavyHitters.of(col("event_type"), k).as("hh"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"), col("hh"))

  /** T19: streaming incremental near-dup gate — the streaming twin of
    * the P43 batch gate (pipeline/Dedup.incrementalLshGate). Arriving
    * docs shingle and band ROW-LOCALLY through the same minhash math
    * (Dedup.bandExplode, so the band keys are joinable against the
    * same persisted index), then STREAM-STATIC equi-join against the
    * corpus's banded index — at scale the (band, bh)-bucketed index
    * table every accepted batch appends to. Stream-static inner joins
    * are STATELESS on the stream side, so the gate runs at ingest rate
    * with no state growth; the one stateful operator is the
    * within-watermark dedup collapsing multi-band hits of the same
    * (arriving doc, corpus twin) pair to a single verdict row. Emits
    * verified near-dup hits (doc_id, ts, doc_old, jaccard); arriving
    * docs with no hit are novel — admission downstream is an anti-join
    * against this reject stream. */
  def neardupGate(docs: DataFrame, corpus: DataFrame, bands: Int = 8,
                  rowsPerBand: Int = 2, minJaccard: Double = 0.1): DataFrame = {
    import graft.pipeline.Dedup
    val idx = Dedup.bandExplode(
      corpus.select(col("doc_id").as("doc_old"),
        Dedup.hashedShingles(col("text")).as("sh_o")), "sh_o", bands, rowsPerBand)
    val arriving = Dedup.bandExplode(
      docs.withWatermark("ts", "10 minutes")
        .select(col("doc_id"), col("ts"),
          Dedup.hashedShingles(col("text")).as("sh_n")), "sh_n", bands, rowsPerBand)
    arriving.join(idx, Seq("band", "bh"))
      .select(col("doc_id"), col("ts"), col("doc_old"),
        round(Dedup.jaccard(col("sh_n"), col("sh_o")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .dropDuplicatesWithinWatermark("doc_id", "doc_old")
  }

  /** T18: streaming Iceberg ingestion — `foreachBatch` committing one
    * Iceberg SNAPSHOT per micro-batch through the S16 writer
    * (sources/IcebergSource): the first batch creates the table, every
    * later batch appends atomically (data files + manifests + new
    * metadata version, version pointer moved last), so downstream batch
    * readers get snapshot isolation, per-batch time travel
    * (`snapshot_id` = batch ordinal) and metadata-level pruning over a
    * continuously ingesting table — the standard streaming→lakehouse
    * handoff. EXACTLY-ONCE (round 7, query-scoped round 8): every
    * commit records its micro-batch id AND its streaming query id
    * (Spark's checkpoint-stable id, read from the driver-thread local
    * property StreamExecution.QUERY_ID_KEY) in the snapshot summary,
    * and a batch is a replay (foreachBatch re-runs after failure
    * recovery) only when the SAME query's max committed id already
    * covers it — the table itself is the commit log, no external
    * state. Scoping by query id matters: batch ids restart at 0 for a
    * NEW query (fresh checkpoint) writing to an existing table, and an
    * id-only check would silently drop every batch until the new query
    * outran the old table max. Same device iceberg-core's own Spark
    * sink uses (query id + epoch id in the snapshot summary). */
  def icebergSink(docs: DataFrame, tableDir: String, bucketCol: String,
                  nBuckets: Int = 4): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        icebergCommitBatch(batch, batchId, tableDir, bucketCol, nBuckets)
    }

  /** The sink's idempotent commit step, exposed so the replay contract
    * is directly testable: committing the same batchId twice must
    * leave the table unchanged. */
  def icebergCommitBatch(batch0: DataFrame, batchId: Long, tableDir: String,
                         bucketCol: String, nBuckets: Int = 4): Unit =
    icebergOnce(batch0, batchId, tableDir) { (summary, exists) =>
      val batch = nullable(batch0)
      if (exists) graft.sources.IcebergWrite.append(batch, tableDir, summary)
      else graft.sources.IcebergWrite.write(batch, tableDir, bucketCol, nBuckets, summary)
    }

  /** The exactly-once step every lakehouse sink shares. `commit` runs
    * with the marker the format records beside its commit (micro-batch
    * id, streaming query id) unless `lastCommitted(queryId)`, the
    * format's own reader of that marker, already covers the batch: a
    * replayed micro-batch of the same query. foreachBatch runs on the
    * query's driver thread, where Spark sets the query id as a
    * SparkContext local property; direct (non-query) callers — the
    * replay-contract specs — share one "unattached" lineage. */
  private def exactlyOnce(batch: DataFrame, batchId: Long)(
      lastCommitted: String => Option[Long])(commit: Map[String, String] => Unit): Unit = {
    if (batch.isEmpty) return
    val queryId = Option(batch.sparkSession.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))
      .getOrElse("unattached")
    if (lastCommitted(queryId).exists(batchId <= _)) return
    commit(Map("streaming-batch-id" -> batchId.toString, "streaming-query-id" -> queryId))
  }

  /** [[exactlyOnce]] over an Iceberg table, whose snapshot summary holds
    * the marker; `commit` also learns whether the table exists yet. */
  private def icebergOnce(batch: DataFrame, batchId: Long, tableDir: String)(
      commit: (Map[String, String], Boolean) => Unit): Unit = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    exactlyOnce(batch, batchId)(graft.sources.IcebergWrite.lastSummaryLongForId(
      tableDir, conf, "streaming-batch-id", "streaming-query-id", _)) { summary =>
      commit(summary, graft.sources.IcebergMeta.exists(tableDir, conf))
    }
  }

  /** Micro-batch schemas flip nullability between the first and later
    * executions; pin every batch to nullable so the table schema and all
    * data files agree (parquet required vs optional). Dataset.to() keeps
    * the original nullability, so rebuild from the row RDD. */
  private def nullable(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd,
      org.apache.spark.sql.types.StructType(df.schema.map(_.copy(nullable = true))))

  /** T22: streaming UPSERT sink — the CDC shape: each micro-batch is a
    * set of key-latest rows MERGED into the Iceberg table (S16i
    * copy-on-write, so per batch only the touched partitions rewrite),
    * with the same exactly-once device as the append sink (T18):
    * query id + batch id in the snapshot summary, replayed batches
    * skipped. First batch creates the table. Within-batch duplicate
    * keys collapse via dropDuplicates (a CDC feed should be key-unique
    * per batch; last-wins ordering is the upstream's job). */
  def icebergUpsertSink(docs: DataFrame, tableDir: String, keyCol: String,
                        partitionCol: String, transform: String = "identity"):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        icebergUpsertBatch(batch, batchId, tableDir, keyCol, partitionCol, transform)
    }

  /** T22's idempotent commit step (same contract as
    * [[icebergCommitBatch]]: replaying a batch id is a no-op). */
  def icebergUpsertBatch(batch0: DataFrame, batchId: Long, tableDir: String,
                         keyCol: String, partitionCol: String,
                         transform: String = "identity"): Unit =
    icebergOnce(batch0, batchId, tableDir) { (summary, exists) =>
      val batch = nullable(batch0.dropDuplicates(keyCol))
      if (exists) graft.sources.IcebergWrite.mergeUpsert(batch, tableDir, keyCol, summary)
      else graft.sources.IcebergWrite.write(batch, tableDir, partitionCol, transform, summary)
    }

  /** T23: streaming CDC sink WITH tombstones — the full
    * change-data-capture shape: each micro-batch carries inserts,
    * updates and 'D' tombstone rows; the batch merges into the Iceberg
    * table via the S16l copy-on-write CDC merge (tombstoned keys drop,
    * only touched partitions rewrite), under the T18/T22 exactly-once
    * device (query id + batch id in the snapshot summary). Tombstones
    * must be full rows — the partition value comes from the row, so a
    * delete never forces a table-wide key lookup. One op per key per
    * batch is the upstream contract (dropDuplicates enforces
    * key-uniqueness, not ordering). */
  def icebergCdcSink(changes: DataFrame, tableDir: String, keyCol: String,
                     opCol: String, partitionCol: String,
                     transform: String = "identity"):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        icebergCdcBatch(batch, batchId, tableDir, keyCol, opCol, partitionCol, transform)
    }

  /** T23's idempotent commit step (same replay contract as
    * [[icebergUpsertBatch]]). */
  def icebergCdcBatch(batch0: DataFrame, batchId: Long, tableDir: String,
                      keyCol: String, opCol: String, partitionCol: String,
                      transform: String = "identity"): Unit =
    icebergOnce(batch0, batchId, tableDir) { (summary, exists) =>
      val batch = nullable(batch0.dropDuplicates(keyCol))
      if (exists)
        graft.sources.IcebergWrite.mergeCdc(batch, tableDir, keyCol, opCol, summary)
      else {
        // first commit: tombstones against a table that doesn't exist
        // yet are no-ops; create from the surviving rows
        val live = batch.filter(col(opCol) =!= "D").drop(opCol)
        if (!live.isEmpty)
          graft.sources.IcebergWrite.write(live, tableDir, partitionCol, transform, summary)
      }
    }

  /** T28b: the Hive→Iceberg migration hop WITH DELETES — a full-ACID
    * table streamed in CDC mode (`acidMode=full`, the T27c source)
    * feeds the T23 Iceberg CDC sink. The source replays the ACID
    * change log verbatim (insert-delta rows as data, delete-delta rows
    * with NULL user columns); this hop turns each micro-batch into the
    * T23 contract:
    *  - op tag from the row's own `operation` (2 = delete → 'D');
    *  - key = the ACID ROW IDENTITY `originalTransaction:bucket:rowId`
    *    — the address Hive's own delete deltas use, so a tombstone
    *    needs NO user-column lookup;
    *  - partition = `bucket` (present on BOTH inserts and tombstones —
    *    the Hive bucket becomes the Iceberg partition, so a delete
    *    locates its partition from the row, the T23 invariant);
    *  - row-level aborted filtering on `currentTransaction` (a
    *    SOME-valid multi-id delta surfaces only committed rows — the
    *    batch reader's validWriteIdCol, applied here because full-ACID
    *    files DO carry the write id);
    *  - last-op-per-key collapse ordered by (currentTransaction, D
    *    over I) — the merge's dropDuplicates must not pick an earlier
    *    op when one batch carries both an insert and its delete.
    * Exactly-once rides the T18/T22 batch-id-in-snapshot-summary
    * device; a replayed batch is a no-op. */
  def hiveAcidCdcHop(changes: DataFrame, tableDir: String,
                     aborted: Set[Long] = Set.empty):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        hiveAcidCdcBatch(batch, batchId, tableDir, aborted)
    }

  /** T28b's idempotent commit step (delegates to [[icebergCdcBatch]]). */
  def hiveAcidCdcBatch(batch0: DataFrame, batchId: Long, tableDir: String,
                       aborted: Set[Long] = Set.empty): Unit = {
    import org.apache.spark.sql.functions._
    val acidMeta = Seq("operation", "originalTransaction", "bucket", "rowId",
      "currentTransaction")
    require(acidMeta.forall(batch0.columns.contains),
      s"hiveAcidCdcBatch expects full-ACID rows (acidMode=full), got " +
        batch0.columns.mkString(","))
    val committed =
      if (aborted.isEmpty) batch0
      else batch0.filter(!col("currentTransaction").isin(aborted.toSeq: _*))
    val tagged = committed
      .withColumn("op", when(col("operation") === 2, lit("D")).otherwise(lit("I")))
      .withColumn("acid_key", concat_ws(":",
        col("originalTransaction"), col("bucket"), col("rowId")))
    // last op per ACID key: newest write id wins; 'D' beats 'I' at a
    // tie ('D' < 'I' lexicographically → ascending op sorts D first,
    // so order op ASC under desc row_number... spelled explicitly:)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("acid_key")
      .orderBy(col("currentTransaction").desc, col("op").asc)
    val userCols = batch0.columns.filterNot(c =>
      c == "operation" || c == "currentTransaction").toSeq
    val collapsed = tagged
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(("acid_key" +: "op" +: userCols).map(col): _*)
    icebergCdcBatch(collapsed, batchId, tableDir, keyCol = "acid_key",
      opCol = "op", partitionCol = "bucket")
  }

  /** T30: the Hudi→Iceberg MIGRATION hop — the T29 instant-offset
    * source feeds the T18 exactly-once append sink, completing the
    * lakehouse-migration triptych (T26 Iceberg→Iceberg medallion,
    * T28 Hive ACID→Iceberg with deletes, T30 Hudi→Iceberg). The T29
    * source is append-only BY CONTRACT (a COW rewrite or mid-stream
    * clustering fails the stream fast rather than replaying carried
    * rows), so the hop needs no CDC collapse: the initial micro-batch
    * lands the read-optimized snapshot as one Iceberg snapshot, every
    * later Hudi commit lands as its own (admission-capped via
    * `maxCommitsPerTrigger`); exactly-once rides the T18
    * batch-id-in-snapshot-summary device, so replayed batches and
    * checkpoint restarts are no-ops. */
  def hudiMigrationHop(spark: SparkSession, hudiDir: String,
                       icebergDir: String, bucketCol: String,
                       nBuckets: Int = 4,
                       maxCommitsPerTrigger: Option[Int] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val reader = spark.readStream.format("graft.sources.HudiStreamSource")
    val withCap = maxCommitsPerTrigger
      .fold(reader)(n => reader.option("maxCommitsPerTrigger", n.toString))
    icebergSink(withCap.load(hudiDir), icebergDir, bucketCol, nBuckets)
  }

  /** T30b: the Hudi→Iceberg migration hop for UPDATING tables — the
    * T29b CDC drain (rewrite commits row-filtered to their changed
    * rows via `_hoodie_commit_time`) feeds the T22 exactly-once UPSERT
    * sink keyed on `_hoodie_record_key`. A catch-up batch spanning
    * several commits can carry multiple versions of one key (each
    * file filtered to its own commit), so the hop collapses to the
    * newest commit per key before merging — the same key-latest
    * discipline as the T28 ACID hop. Deletes do not propagate
    * (upsert-CDC); exactly-once rides the T22
    * batch-id-in-snapshot-summary device across replays/restarts. */
  def hudiMigrationHopUpsert(spark: SparkSession, hudiDir: String,
                             icebergDir: String, partitionCol: String,
                             maxCommitsPerTrigger: Option[Int] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val reader = spark.readStream.format("graft.sources.HudiStreamSource")
    val withCap = maxCommitsPerTrigger
      .fold(reader)(n => reader.option("maxCommitsPerTrigger", n.toString))
    val src = withCap.load(hudiDir)
    require(src.columns.contains("_hoodie_commit_time") &&
      src.columns.contains("_hoodie_record_key"),
      s"$hudiDir has no _hoodie_* meta columns — an updating table needs " +
        "them for CDC; use hudiMigrationHop for append-only tables")
    src.writeStream.outputMode("update").foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("_hoodie_record_key")
          .orderBy(col("_hoodie_commit_time").desc)
        val collapsed = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        icebergUpsertBatch(collapsed, batchId, icebergDir,
          keyCol = "_hoodie_record_key", partitionCol = partitionCol)
    }
  }

  /** T31: streaming HUDI COW sink — each micro-batch lands as ONE
    * completed Hudi commit through [[graft.sources.HudiSink]] (first
    * batch creates the table), exactly-once via the T18 device
    * re-expressed in the Hudi vocabulary: the commit body's
    * extraMetadata records (query id, batch id) — the timeline IS the
    * commit log, replayed batches skipped, no side state. Append shape
    * (INSERT per batch). With this sink the Hudi family closes the
    * same loop Iceberg closed in round 8: graft WRITES the table
    * (T31), READS it back (S20), and TAILS it (T29/T29b). */
  def hudiSink(docs: DataFrame, tableDir: String, keyCol: String,
               partitionCol: Option[String]):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        hudiCommitBatch(batch, batchId, tableDir, keyCol, partitionCol)
    }

  /** T31's idempotent commit step (directly testable replay
    * contract, the icebergCommitBatch shape). */
  def hudiCommitBatch(batch: DataFrame, batchId: Long, tableDir: String,
                      keyCol: String, partitionCol: Option[String]): Unit = {
    val spark = batch.sparkSession
    exactlyOnce(batch, batchId)(graft.sources.HudiSink.lastCommittedBatchId(
      spark, tableDir, _)) { marker =>
      graft.sources.HudiSink.insert(batch, tableDir, keyCol, partitionCol,
        graft.sources.HudiSink.nextInstant(spark, tableDir), extraMetadata = marker)
    }
  }

  /** T31b: streaming Hudi UPSERT sink — CDC-shaped micro-batches MERGE
    * by key (COW file-group rewrites; carried rows keep their original
    * `_hoodie_commit_time`, so a downstream T29b tail sees exactly the
    * changed rows); within-batch duplicate keys collapse to ONE row per
    * key BEFORE the upsert ([[graft.sources.HudiSink.upsert]] itself
    * REJECTS duplicate-key batches — two rows under one
    * `_hoodie_record_key` would silently both land). `orderCol` names
    * the CDC ordering column when the feed carries one (an event time /
    * LSN): the HIGHEST-ordered row per key wins; without it the
    * collapse is made deterministic by ordering over every column, so
    * a replayed batch always collapses to the same row — but which
    * duplicate "wins" is then arbitrary-but-stable, so feeds with
    * meaningful duplicates should pass `orderCol`. First batch INSERTs
    * (creates the table), later batches upsert; same exactly-once
    * device as [[hudiSink]]. */
  def hudiUpsertSink(docs: DataFrame, tableDir: String, keyCol: String,
                     partitionCol: Option[String],
                     orderCol: Option[String] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        hudiUpsertBatch(batch, batchId, tableDir, keyCol, partitionCol, orderCol)
    }

  /** T31b's idempotent commit step. */
  def hudiUpsertBatch(batch: DataFrame, batchId: Long, tableDir: String,
                      keyCol: String, partitionCol: Option[String],
                      orderCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    // last-wins collapse: orderCol first (desc), then every remaining
    // ORDERABLE column desc as the deterministic tie-break — never an
    // arbitrary dropDuplicates survivor. Unorderable payloads (MapType,
    // the common CDC property-bag shape — ADVICE r14) cannot join an
    // ORDER BY (analysis would fail, and Spark bans hashing maps too:
    // entry order is not canonical); sorted entries ARE canonical, so a
    // map column joins as array_sort(map_entries(..)) — orderable,
    // deterministic, content-equal maps compare equal. A column still
    // unorderable after that transform (e.g. map-valued map) drops out
    // of the tie-break: rows identical everywhere else collapse to an
    // arbitrary-but-single survivor.
    import org.apache.spark.sql.types._
    def orderable(dt: DataType) =
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt)
    def tieBreak(f: StructField): Option[org.apache.spark.sql.Column] = f.dataType match {
      case dt if orderable(dt) => Some(col(f.name))
      case MapType(kt, vt, vn) if orderable(ArrayType(StructType(Seq(
          StructField("key", kt, nullable = false),
          StructField("value", vt, vn))))) =>
        Some(array_sort(map_entries(col(f.name))))
      case _ => None
    }
    val rest = batch.schema.fields
      .filterNot(f => f.name == keyCol || orderCol.contains(f.name))
    val ordering = (orderCol.map(col(_).desc).toSeq ++
      rest.toSeq.flatMap(tieBreak).map(_.desc))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(ordering: _*)
    val collapsed = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    exactlyOnce(batch, batchId)(graft.sources.HudiSink.lastCommittedBatchId(
      spark, tableDir, _)) { em =>
      val tl = graft.sources.HudiRO.timeline(spark, tableDir)
      if (!tl.isTable)
        graft.sources.HudiSink.insert(collapsed, tableDir, keyCol, partitionCol,
          tl.nextInstant, extraMetadata = em)
      else
        graft.sources.HudiSink.upsert(collapsed, tableDir, keyCol, partitionCol,
          tl.nextInstant, extraMetadata = em)
    }
  }

  /** T32: the REVERSE migration hop — Iceberg→Hudi: the T25 snapshot-
    * offset source feeds the T31 exactly-once Hudi sink, so with T30
    * (Hudi→Iceberg) lakehouse migration is now BIDIRECTIONAL — either
    * table format can be the system of record and the other the
    * continuously-fed mirror. The T25 source is append-only by
    * contract (replace-in-range fails the stream fast), so the hop is
    * a pure insert feed: the initial micro-batch lands the current
    * Iceberg snapshot as one Hudi commit, each later snapshot as its
    * own; replays/restarts are no-ops via the commit-body batch log. */
  def icebergToHudiHop(spark: SparkSession, icebergDir: String,
                       hudiDir: String, keyCol: String,
                       partitionCol: Option[String],
                       maxSnapshotsPerTrigger: Option[Int] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val reader = spark.readStream.format("graft.sources.IcebergSource")
    val withCap = maxSnapshotsPerTrigger
      .fold(reader)(n => reader.option("maxSnapshotsPerTrigger", n.toString))
    hudiSink(withCap.load(icebergDir), hudiDir, keyCol, partitionCol)
  }

  /** T33: streaming Hive ACID INSERT-ONLY sink — each micro-batch is
    * one committed delta through [[graft.sources.HiveAcidSink]]
    * (atomic dir rename; dense write ids — the T27 contiguity
    * contract); exactly-once via the `_graft_batch` sidecar ((query
    * id, batch id) — the file-layout stand-in for the txn→writeId
    * mapping Hive keeps in the metastore). With T33 the lakehouse
    * WRITE triptych closes: Iceberg (T18), Hudi (T31) and Hive ACID
    * are all formats graft both WRITES and TAILS. */
  def hiveAcidSink(docs: DataFrame, tableDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        hiveAcidCommitBatch(batch, batchId, tableDir)
    }

  /** T33's idempotent commit step (directly testable replay contract). */
  def hiveAcidCommitBatch(batch: DataFrame, batchId: Long,
                          tableDir: String): Unit = {
    val spark = batch.sparkSession
    exactlyOnce(batch, batchId)(graft.sources.HiveAcidSink.lastCommittedBatchId(
      spark, tableDir, _)) { marker =>
      graft.sources.HiveAcidSink.insertOnly(batch, tableDir,
        graft.sources.HiveAcidSink.nextWriteId(spark, tableDir), sidecar = marker)
    }
  }

  /** T34–T36: the REMAINING migration hops — with T26/T28/T30/T32
    * these complete the full source×sink matrix over the three
    * lakehouse formats (Iceberg, Hive ACID, Hudi): ANY of the three
    * tables graft tails can continuously feed ANY of the three it
    * writes. Each hop composes an existing exactly-once source with an
    * existing exactly-once sink — no new state machinery, which is the
    * point: offsets live in the source table's own layout, the batch
    * log lives in the sink table's own metadata, and the hop is pure
    * plumbing. All three sources are append-only by contract on these
    * paths, so the hops are insert feeds. */

  /** T34: Hive ACID → Hudi (T27 write-id source → T31 Hudi sink). */
  def hiveAcidToHudiHop(spark: SparkSession, acidDir: String,
                        hudiDir: String, keyCol: String,
                        partitionCol: Option[String],
                        maxWriteIdsPerTrigger: Option[Int] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val reader = spark.readStream.format("graft.sources.HiveAcidStreamSource")
    val withCap = maxWriteIdsPerTrigger
      .fold(reader)(n => reader.option("maxWriteIdsPerTrigger", n.toString))
    hudiSink(withCap.load(acidDir), hudiDir, keyCol, partitionCol)
  }

  /** T35: Iceberg → Hive ACID (T25 snapshot source → T33 ACID sink). */
  def icebergToHiveAcidHop(spark: SparkSession, icebergDir: String,
                           acidDir: String,
                           maxSnapshotsPerTrigger: Option[Int] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val reader = spark.readStream.format("graft.sources.IcebergSource")
    val withCap = maxSnapshotsPerTrigger
      .fold(reader)(n => reader.option("maxSnapshotsPerTrigger", n.toString))
    hiveAcidSink(withCap.load(icebergDir), acidDir)
  }

  /** T36: Hudi → Hive ACID (T29 instant source → T33 ACID sink). */
  def hudiToHiveAcidHop(spark: SparkSession, hudiDir: String,
                        acidDir: String,
                        maxCommitsPerTrigger: Option[Int] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val reader = spark.readStream.format("graft.sources.HudiStreamSource")
    val withCap = maxCommitsPerTrigger
      .fold(reader)(n => reader.option("maxCommitsPerTrigger", n.toString))
    hiveAcidSink(withCap.load(hudiDir), acidDir)
  }

  /** T3: drop duplicate event_ids arriving within the watermark. */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** T2: gap-based sessionization (30-min inactivity) with event-time
    * timeout. Emits one row per closed session. */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.n, s.last - s.start))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                // late (out-of-order within watermark) or in-order event
                // extends the session envelope; never move `last` backwards
                case Some(s) if sec - s.last <= gapSeconds && s.start - sec <= gapSeconds =>
                  cur = Some(SessionState(math.min(s.start, sec), math.max(s.last, sec), s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(user, s.n, s.last - s.start)
                  cur = Some(SessionState(sec, sec, 1))
                case None =>
                  cur = Some(SessionState(sec, sec, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last * 1000 + gapSeconds * 1000)
            }
            closed.reverseIterator
          }
      }
  }
}
