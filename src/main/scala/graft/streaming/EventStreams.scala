package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, StatefulProcessorWithInitialState, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** Structured Streaming jobs over the event log.
  *
  * The batch operators in [[graft.operators.Temporal]] and these
  * streaming jobs share semantics: `windowedCounts` is the streaming
  * twin of `ev_window_agg` (watermark + tumbling window), and
  * `sessionize` is the stateful twin of `ev_sessionize`
  * (flatMapGroupsWithState carrying last-seen-timestamp + session
  * ordinal per user). On a cluster the same code runs against a Kafka
  * or file source by swapping `readStream` options.
  */
object EventStreams {

  final case class Ev(user_id: Long, event_id: Long, ts_s: Long)
  final case class SessionAssign(user_id: Long, sess_seq: Int, event_id: Long, ts_s: Long)
  final case class SessState(lastTs: Long, seq: Int)
  final case class Spend(user_id: Long, event_id: Long, ts_s: Long, cents: Long)
  final case class Milestone(user_id: Long, event_id: Long, ts_s: Long,
    level: Long, cum_cents: Long)
  final case class SessEvent(user_id: Long, event_id: Long, ts_s: Long)
  final case class SessAgg(start_s: Long, last_s: Long, n: Long, timer_ms: Long)
  final case class TimedSession(user_id: Long, start_s: Long, end_s: Long,
    n_events: Long)

  // The file stream source wants a directory; the test tables are bare
  // files, so stage (copy) each into a temp dir once per process. In
  // production the source would already be a directory/Kafka topic.
  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]

  private def stageDir(sfDir: String): String = staged.getOrElseUpdate(sfDir, {
    import java.nio.file._
    val src = Paths.get(s"${sfDir.stripSuffix("/")}/events.parquet")
    val dir = graft.TempDirs.deletedOnExit("graft_stream")
    Files.copy(src, dir.resolve("events.parquet"))
    dir.toString
  })

  /** File-source stream over a directory of event parquet files.
    * `maxFilesPerTrigger > 0` caps each micro-batch at that many source
    * files — the knob the multi-batch specs use to force incremental
    * state handling instead of a one-batch replay. */
  def eventStreamFromDir(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    // Streams require an explicit schema; sniff the staged files'
    // footer so a TIMESTAMP(µs)-encoded `ts` isn't misread as nanos
    // (see Tables.normalizeTs).
    val tsType = Tables.eventsFileSchema(spark, dir)("ts").dataType
    val reader = spark.readStream.schema(Tables.eventsReadSchema(tsType))
    val capped =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    Tables.normalizeTs(capped.parquet(dir))
      .withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
      .withColumn("ts_s", expr("ts div 1000000000"))
  }

  /** File-source stream of the events table (one-batch replay in tests). */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame =
    eventStreamFromDir(spark, stageDir(sfDir))

  /** Windowed counts over Spark's built-in unbounded rate source — the
    * stand-in for a Kafka topic in this container. Unlike the file
    * replays, the source never ends: state genuinely accumulates across
    * micro-batches until the watermark expires each window. */
  def rateWindowedCounts(spark: SparkSession,
      rowsPerSecond: Int = 500): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load() // schema: (timestamp: Timestamp, value: Long)
      .withWatermark("timestamp", "2 seconds")
      .groupBy(window(col("timestamp"), "1 second"), (col("value") % 4).as("lane"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("lane"),
        col("n"), col("sum_value"))

  /** Tumbling 1 h windowed counts with a 1 h watermark (append mode). */
  def windowedCounts(spark: SparkSession, sfDir: String): DataFrame =
    eventStream(spark, sfDir)
      .withWatermark("ts_us", "1 hour")
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Incremental parquet pipeline: file source → enrichment-free
    * projection → exactly-once parquet sink. The checkpoint makes the
    * pipeline restartable: a resumed query picks up only unseen source
    * files and never double-writes a batch — the production shape for
    * continuous ingest into a lakehouse table. Returns the running
    * query; caller drives/stops it. */
  def toParquetSink(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    val tsType = Tables.eventsFileSchema(spark, srcDir)("ts").dataType
    val reader = spark.readStream.schema(Tables.eventsReadSchema(tsType))
    val capped =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    Tables.normalizeTs(capped.parquet(srcDir))
      .withColumn("ts_s", expr("ts div 1000000000"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_s"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Streaming MERGE-with-deletes (Debezium-apply) sink: each
    * micro-batch of the event changelog is applied to the lakehouse
    * table through `TableSink.mergeByKey` — signup=INSERT,
    * error=DELETE, everything else=UPDATE(value), the same op
    * derivation as the batch `etl_merge_cdc` operator, so batch and
    * streaming share ONE merge algebra (graft.sources.TableMerge).
    * Exactly-once via the sink's idempotent txn = batchId (Delta's
    * txnAppId/txnVersion contract); the last op per key within a batch
    * wins by (ts_s, event_id). This is the missing link between the
    * two seams: OffsetLedgerIngest's consumer contract upstream,
    * TableSink's table-format contract downstream. */
  def cdcMergeSink(spark: SparkSession, srcDir: String, targetDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    eventStreamFromDir(spark, srcDir, maxFilesPerTrigger)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_s"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cdcMergeBatch(targetDir)(batch, batchId)
      }
      .start()

  /** The foreachBatch body of [[cdcMergeSink]], package-visible for
    * direct retry-contract testing (same discipline as
    * [[upsertBatch]]). */
  private[graft] def cdcMergeBatch(targetDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val table = new graft.sources.ParquetVersionedTable(
      batch.sparkSession, targetDir)
    val changes = batch.select(
      col("user_id"), col("value"), col("ts_s"), col("event_id"),
      when(col("event_type") === "signup", lit("I"))
        .when(col("event_type") === "error", lit("D"))
        .otherwise(lit("U")).as("op"))
    table.mergeByKey(changes, keyCols = Seq("user_id"),
      ordCols = Seq("ts_s", "event_id"), opCol = Some("op"),
      txn = Some(batchId))
    ()
  }

  /** CDC-style streaming upsert via foreachBatch: maintain a
    * latest-event-per-user table under `targetDir` as the stream
    * arrives. Each micro-batch is reduced to its per-key latest row
    * (one keyed agg, map-side combined), merged with the current table
    * snapshot, and committed as a NEW version (immutable data files +
    * a `manifest/v=<batchId>` file list) before the `_latest` pointer
    * file flips — the read-version/write-version/flip-pointer protocol
    * every lakehouse table format implements. Retried batches are
    * idempotent (spec:
    * "upsert batch function is idempotent under Spark's same-batchId
    * retry"): a retry after the flip sees pointer == batchId and
    * no-ops; a retry that lost the flip re-merges from the previous
    * version and rebuilds the identical snapshot. The merge cost scales
    * with |table| + |batch| per trigger, and the table never rewrites
    * in place, so a concurrent reader always sees a complete version.
    */
  def upsertLatestSink(spark: SparkSession, srcDir: String, targetDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    eventStreamFromDir(spark, srcDir, maxFilesPerTrigger)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_s"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(targetDir)(batch, batchId)
      }
      .start()

  private def latestOf(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts_s"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts_s"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.ts_s").as("ts_s"),
        col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
        col("r.value").as("value"))

  /** The foreachBatch body of [[upsertLatestSink]], package-visible so
    * the Spark retry contract is spec-testable directly: after a
    * failure, Spark re-invokes the batch function with the SAME
    * batchId — whether the first attempt died before or after the
    * pointer flip, the retry must converge to an identical snapshot
    * and pointer (latest-per-key re-merge is idempotent; the version
    * directory is rewritten, never appended). */
  private[graft] def upsertBatch(targetDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    // Routed through the lakehouse seam: ParquetVersionedTable owns the
    // version directories, the atomic pointer flip and the idempotent
    // transaction check (txn = batchId — Delta's txnAppId/txnVersion
    // contract). Post-commit retry: pointer == batchId means this batch
    // is fully applied — the sink no-ops before building (re-merging
    // would also read v=batchId while overwriting it, which Spark
    // rejects; found by the retry-idempotence spec). Pre-flip retry:
    // the sink re-merges from the previous version and rebuilds the
    // identical snapshot.
    val table = new graft.sources.ParquetVersionedTable(
      batch.sparkSession, targetDir)
    if (table.currentVersion.contains(batchId)) return
    val merged =
      latestOf(table.current.fold(latestOf(batch))(latestOf(batch).unionByName(_)))
    table.overwrite(merged, txn = Some(batchId))
    ()
  }

  /** Stream-static enrichment: the event stream joined to the customer
    * dimension (static side re-read per micro-batch, broadcast by size).
    * This is the standard streaming dim-enrichment shape; on a cluster
    * the static side would be a slowly-refreshed warehouse table. */
  def enrichedEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    eventStream(spark, sfDir)
      .join(dim, col("user_id") === col("c_custkey"), "left_outer")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
  }

  /** Stream-stream interval join: each purchase matched to the same
    * user's clicks in the preceding hour. Both sides are watermarked
    * and the join predicate bounds the event-time gap, so the engine
    * can expire buffered state — the attribution-join shape that at
    * cluster scale runs clicks and purchases as two Kafka topics. */
  def clickPurchaseJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventStream(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_us").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"))
  }

  /** Left-outer stream-stream interval join: like [[clickPurchaseJoin]]
    * but purchases with NO click in the preceding hour still emit (null
    * click columns) — the attribution shape where unconverted traffic
    * matters. The engine can only declare a purchase unmatched once the
    * click-side watermark passes the end of its interval, so unmatched
    * rows flush as event time advances; a finite replay needs one later
    * event to push the watermark past the tail (the spec stages a
    * sentinel). State stays watermark-bounded exactly as in the inner
    * join. */
  def clickPurchaseLeftJoin(spark: SparkSession, srcDir: String): DataFrame = {
    val ev = eventStreamFromDir(spark, srcDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_us").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      "leftOuter")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"))
  }

  /** Streaming exact dedup on event_id: state is bounded by the
    * watermark horizon (late duplicates beyond 1 h are dropped by the
    * engine, so state doesn't grow with the stream). */
  def dedupEvents(spark: SparkSession, sfDir: String): DataFrame =
    eventStream(spark, sfDir)
      .withWatermark("ts_us", "1 hour")
      .dropDuplicates("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_s"))

  /** Per-user spend-milestone detector on the `transformWithState`
    * arbitrary-stateful API (the `flatMapGroupsWithState` successor):
    * one `ValueState[Long]` holds the user's cumulative purchase cents,
    * and a row is emitted each time the running total crosses another
    * $100 boundary. Cents (exact integers) make the stream
    * replay-deterministic — no float accumulation order to disagree
    * with the batch oracle. Rows within a micro-batch are applied in
    * (ts_s, event_id) order; across batches arrival order is the
    * contract (the spec feeds batches in event-time order, as a
    * log-compacted/offset-ordered source would). State is one long per
    * user — O(users) total, independent of stream length. Requires the
    * RocksDB state store provider (the TWS v2 engine contract). */
  /** Shared milestone fold: apply a batch of spends (in event order) to
    * a running cents total, emitting a row per $step boundary crossed. */
  private def milestoneFold(key: Long, start: Long, rows: Iterator[Spend],
      stepCents: Long): (Long, Iterator[Milestone]) = {
    var c = start
    val out = Seq.newBuilder[Milestone]
    rows.toSeq.sortBy(r => (r.ts_s, r.event_id)).foreach { r =>
      val before = c / stepCents
      c += r.cents
      val after = c / stepCents
      if (after > before) out += Milestone(key, r.event_id, r.ts_s, after, c)
    }
    (c, out.result().iterator)
  }

  class MilestoneProcessor(stepCents: Long)
      extends StatefulProcessor[Long, Spend, Milestone] {
    @transient private var cum: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Spend],
        timerValues: TimerValues): Iterator[Milestone] = {
      val (c, out) = milestoneFold(key,
        if (cum.exists()) cum.get() else 0L, rows, stepCents)
      cum.update(c)
      out
    }
  }

  /** Warm-start variant: state BOOTSTRAPS from a batch table (per-user
    * cumulative cents computed over history) via
    * `StatefulProcessorWithInitialState` — the production migration
    * path when a streaming job takes over a metric a batch pipeline
    * has been maintaining. handleInitialState seeds each key exactly
    * once, before its first input row; keys absent from history start
    * at zero. */
  class MilestoneFromHistoryProcessor(stepCents: Long)
      extends StatefulProcessorWithInitialState[Long, Spend, Milestone, Long] {
    @transient private var cum: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInitialState(key: Long, initialState: Long,
        timerValues: TimerValues): Unit =
      cum.update(initialState)
    override def handleInputRows(key: Long, rows: Iterator[Spend],
        timerValues: TimerValues): Iterator[Milestone] = {
      val (c, out) = milestoneFold(key,
        if (cum.exists()) cum.get() else 0L, rows, stepCents)
      cum.update(c)
      out
    }
  }

  /** Spend milestones continuing from batch history: `history` is
    * (user_id, cum_cents) — e.g. the batch pipeline's last published
    * totals. See [[MilestoneFromHistoryProcessor]]. */
  def spendMilestonesFromHistory(spark: SparkSession, srcDir: String,
      history: DataFrame,
      maxFilesPerTrigger: Int = 0,
      stepCents: Long = 10000L): Dataset[Milestone] = {
    import spark.implicits._
    val init = history
      .select(col("user_id").cast("long"), col("cum_cents").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
    eventStreamFromDir(spark, srcDir, maxFilesPerTrigger)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_s"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[Spend]
      .groupByKey(_.user_id)
      .transformWithState(new MilestoneFromHistoryProcessor(stepCents),
        TimeMode.None(), OutputMode.Append(), init)
  }

  /** Gap sessionization on `transformWithState` with EVENT-TIME TIMERS:
    * a session closes when the watermark passes its last event + gap —
    * the engine calls [[handleExpiredTimer]] instead of the operator
    * polling for timeouts (the modern replacement for
    * flatMapGroupsWithState's GroupStateTimeout). Gaps WITHIN a batch
    * close sessions inline; the open tail session re-arms one timer at
    * (last + gap). State is one 4-field record + one timer per user —
    * bounded by the key space, not stream length. */
  class SessionTimerProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, SessEvent, TimedSession] {
    @transient private var sess: ValueState[SessAgg] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessAgg]("sess",
        org.apache.spark.sql.Encoders.product[SessAgg], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[SessEvent],
        timerValues: TimerValues): Iterator[TimedSession] = {
      val out = Seq.newBuilder[TimedSession]
      var cur = if (sess.exists()) sess.get() else null
      rows.toSeq.sortBy(r => (r.ts_s, r.event_id)).foreach { r =>
        cur match {
          case null =>
            cur = SessAgg(r.ts_s, r.ts_s, 1L, 0L)
          case c if r.ts_s - c.last_s > gapSeconds =>
            out += TimedSession(key, c.start_s, c.last_s, c.n)
            cur = SessAgg(r.ts_s, r.ts_s, 1L, c.timer_ms)
          case c =>
            cur = SessAgg(c.start_s, math.max(c.last_s, r.ts_s), c.n + 1, c.timer_ms)
        }
      }
      if (cur != null) {
        if (cur.timer_ms > 0) getHandle.deleteTimer(cur.timer_ms)
        val t = (cur.last_s + gapSeconds) * 1000 + 1000 // strictly past the gap
        getHandle.registerTimer(t)
        sess.update(SessAgg(cur.start_s, cur.last_s, cur.n, t))
      }
      out.result().iterator
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[TimedSession] = {
      if (!sess.exists()) Iterator.empty
      else {
        val c = sess.get()
        sess.clear()
        Iterator.single(TimedSession(key, c.start_s, c.last_s, c.n))
      }
    }
  }

  /** Timer-closed gap sessions (30 min default); see
    * [[SessionTimerProcessor]]. Caller must have set the RocksDB state
    * store provider on the session. */
  def sessionizeWithTimers(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int = 0,
      gapSeconds: Long = 1800L): Dataset[TimedSession] = {
    import spark.implicits._
    eventStreamFromDir(spark, srcDir, maxFilesPerTrigger)
      .withWatermark("ts_us", "1 hour")
      .select(col("user_id"), col("event_id"), col("ts_s"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming spend milestones over the purchase sub-stream; see
    * [[MilestoneProcessor]]. Caller must have set the RocksDB state
    * store provider on the session. */
  def spendMilestones(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int = 0,
      stepCents: Long = 10000L): Dataset[Milestone] = {
    import spark.implicits._
    eventStreamFromDir(spark, srcDir, maxFilesPerTrigger)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_s"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[Spend]
      .groupByKey(_.user_id)
      .transformWithState(new MilestoneProcessor(stepCents),
        TimeMode.None(), OutputMode.Append())
  }

  /** Watermark-bounded dedup (`dropDuplicatesWithinWatermark`): unlike
    * [[dedupEvents]], whose per-key state lives forever unless the key
    * column includes event time, this keeps a key's state only until
    * the watermark passes its event time + delay — the production
    * at-least-once-source dedup where duplicates arrive within a
    * bounded lag (retried producer sends, replayed batches), and state
    * provably cannot grow with stream length. */
  def dedupEventsWithinWatermark(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int = 0, delay: String = "1 hour"): DataFrame =
    eventStreamFromDir(spark, srcDir, maxFilesPerTrigger)
      .withWatermark("ts_us", delay)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_s"))

  /** Declarative gap sessionization via the native `session_window`
    * (30 min gap): the engine manages merging/expiring session state
    * under the watermark — the zero-custom-code alternative to
    * [[sessionize]] when only per-session AGGREGATES (not per-event
    * assignments) are needed. */
  def sessionWindows(spark: SparkSession, sfDir: String): DataFrame =
    eventStream(spark, sfDir)
      .withWatermark("ts_us", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts_us"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"), col("sum_value"))

  /** Stateful gap sessionization (>30 min silence = new session). State
    * per user is O(1): last event time + session ordinal. */
  def sessionize(spark: SparkSession, sfDir: String): Dataset[SessionAssign] =
    sessionizeStream(spark, eventStream(spark, sfDir))

  /** Sessionize an arbitrary event stream (multi-batch sources welcome:
    * per-user state carries last-seen ts + ordinal across batches, so a
    * session spanning micro-batches is stitched, not restarted). */
  def sessionizeStream(spark: SparkSession, events: DataFrame): Dataset[SessionAssign] = {
    import spark.implicits._
    val evs = events
      .select(col("user_id"), col("event_id"), col("ts_s")).as[Ev]

    def fn(userId: Long, events: Iterator[Ev],
        state: GroupState[SessState]): Iterator[SessionAssign] = {
      var st = state.getOption.getOrElse(SessState(Long.MinValue, 0))
      val out = events.toSeq.sortBy(e => (e.ts_s, e.event_id)).map { e =>
        val newSess = st.lastTs == Long.MinValue || e.ts_s - st.lastTs > 1800
        st = SessState(e.ts_s, if (newSess) st.seq + 1 else st.seq)
        SessionAssign(userId, st.seq, e.event_id, e.ts_s)
      }
      state.update(st)
      out.iterator
    }

    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class TokenRow(shard: Long, tok: String)
  final case class HhSnapshot(shard: Long, token: String, est_count: Long)

  /** Streaming heavy hitters: the SAME Misra-Gries structure that backs
    * the batch `sketch_heavy_hitters` aggregate, carried as
    * `transformWithState` state — per shard one serialized sketch of
    * O(capacity) bytes, NO MATTER how long the stream runs (the state
    * contract a naive per-token count state cannot make: its row count
    * grows with the distinct stream). Each micro-batch absorbs its
    * tokens into the deserialized sketch and re-emits the shard's
    * current top-k snapshot; sharding by token hash spreads the sketch
    * work and the final global top-k merges ≤ shards×k snapshot rows.
    * Update mode: each batch's snapshot supersedes the last. */
  class HeavyHittersProcessor(capacity: Int, k: Int)
      extends StatefulProcessor[Long, TokenRow, HhSnapshot] {
    import graft.plans.HeavyHittersSketch.MisraGries
    @transient private var st: ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Array[Byte]]("mg",
        org.apache.spark.sql.Encoders.BINARY, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TokenRow],
        timerValues: TimerValues): Iterator[HhSnapshot] = {
      val mg = if (st.exists()) MisraGries.fromBytes(st.get(), capacity)
      else new MisraGries(capacity)
      rows.foreach(r => mg.add(r.tok, 1L))
      st.update(mg.toBytes)
      mg.topK(k).iterator.map { case (t, c) => HhSnapshot(key, t, c) }
    }
  }

  /** Heavy-hitter tokens over a streaming documents directory: tokens
    * shard by 60-bit md5 (the cross-engine hash discipline), each
    * shard's Misra-Gries rides transformWithState state. `nShards`
    * bounds total state at nShards × capacity entries. */
  def streamingHeavyHitters(spark: SparkSession, docsDir: String,
      maxFilesPerTrigger: Int = 0, nShards: Int = 8,
      capacity: Int = 64, k: Int = 10): Dataset[HhSnapshot] = {
    import spark.implicits._
    val reader = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    val src = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader)
      .parquet(docsDir)
    src
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
      .select(pmod(conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10)
        .cast("long"), lit(nShards.toLong)).as("shard"), col("tok"))
      .as[TokenRow]
      .groupByKey(_.shard)
      .transformWithState(new HeavyHittersProcessor(capacity, k),
        TimeMode.None(), OutputMode.Update())
  }
}
