package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Structured Streaming ingestion of the `events` table shape: watermarked
  * tumbling/sliding window aggregation and gap-based sessionization.
  * The reference is batch-only; this is the north-star streaming surface
  * (SURVEY §7.1 layer 6) built on `readStream` → event-time windows.
  */
object EventsStream {

  /** Declared events schema, used when the stream directory has no files
    * yet (nothing to peek a footer from) — the canonical shape of the
    * current testdata and of [[graft.io.Tables.events]]' output. A stream
    * is routinely defined against a directory its producer hasn't written
    * to yet, so this fallback keeps that start state working.
    *
    * Boundary: the declared `ts: TIMESTAMP` reads both current on-disk
    * encodings (native TIMESTAMP, and TIMESTAMP_NTZ micros — numerically
    * identical under the engine's pinned UTC session), but NOT the
    * legacy TIMESTAMP(NANOS) int64 files: a file-source schema is fixed
    * at stream definition, so if a legacy producer starts writing nanos
    * into an initially-empty directory the microbatch fails with a
    * parquet schema-convert error — restart the stream (the schema is
    * then peekable from the footer and the nanos branch engages).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of events parquet files.
    *
    * A file stream needs its schema up front, and `events.ts` has shipped
    * in several encodings (native TIMESTAMP micros — surfaced as
    * TIMESTAMP_NTZ when isAdjustedToUTC=false — and legacy
    * TIMESTAMP(NANOS) readable only as int64 via `nanosAsLong`). One
    * batch footer-read peeks the on-disk schema at stream DEFINITION
    * time, then the stream normalizes `ts` to `TimestampType` exactly
    * like the batch loader ([[graft.io.Tables.events]]) — the engine-wide
    * event-time contract watermarks and windows type-check against.
    * An initially EMPTY (or absent) directory has no footer to peek:
    * the stream starts on [[rawSchema]] instead, the shape the current
    * producers write.
    */
  def readEvents(spark: SparkSession, dir: String,
                 options: Map[String, String] = Map.empty): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk =
      try spark.read.parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getMessage).exists(m =>
              m.contains("UNABLE_TO_INFER_SCHEMA") ||
                m.toLowerCase.contains("unable to infer schema") ||
                m.contains("PATH_NOT_FOUND")) =>
          rawSchema
      }
    val raw = spark.readStream.options(options).schema(onDisk).parquet(dir)
    onDisk("ts").dataType match {
      case _: TimestampType => raw
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalStateException(
        s"$dir: column 'ts' has unsupported type $other " +
          "(expected TIMESTAMP, TIMESTAMP_NTZ, or int64 nanos)")
    }
  }

  /** Watermarked tumbling-window aggregation: counts + sums per
    * (window, event_type). Late data beyond the watermark is dropped;
    * state is bounded by watermark horizon × window count.
    */
  def tumblingAgg(events: DataFrame, windowLen: String = "15 minutes",
                  watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Sliding-window variant (overlapping windows). */
  def slidingAgg(events: DataFrame, windowLen: String = "30 minutes",
                 slide: String = "10 minutes", watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n_events"))

  /** Per-user session aggregation via session_window (gap-based). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("session_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stream-stream interval join: for each purchase, the clicks by the
    * same user in the `lookback` before it. Both sides watermarked and
    * the join range-bounded, so state on each side is evicted past the
    * horizon — the join that correlates behavior streams at scale.
    */
  def purchaseClickJoin(events: DataFrame, lookback: String = "30 minutes",
                        watermark: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      .withWatermark("p_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookback") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_value"))
  }

  /** Streaming exact dedup on event id: duplicates arriving within the
    * watermark horizon are dropped; state is bounded by the horizon (keys
    * older than the watermark are evicted). The streaming face of
    * `graft.dedup.Dedup.exact`.
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Input/state/output rows for the custom-state operator. */
  final case class UserEvent(user_id: Long, tsMicros: Long, value: Double)
  final case class UserState(nEvents: Long, totalValue: Double, maxValue: Double)
  final case class UserSnapshot(user_id: Long, n_events: Long,
                                total_value: Double, max_value: Double)

  /** Custom per-key state via `flatMapGroupsWithState`: running per-user
    * totals (count, sum, max) emitted as an updated snapshot per batch.
    * This is the escape hatch for stateful semantics the built-in windows
    * can't express.
    *
    * `stateTtl`: optional processing-time TTL that drops abandoned keys —
    * bounded state for unbounded key spaces in production streams. Leave
    * unset for finite replays: a processing-time timer keeps the query
    * alive past the backlog under `Trigger.AvailableNow`, so a TTL'd
    * query never terminates there.
    */
  def statefulUserTotals(events: DataFrame,
                         stateTtl: Option[String] = None): Dataset[UserSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("tsMicros"),
        col("value").cast("double"))
      .as[UserEvent]
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserSnapshot](
        OutputMode.Append(), timeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserState(0L, 0.0, Double.MinValue))
            val next = rows.foldLeft(prev) { (acc, e) =>
              UserState(acc.nEvents + 1, acc.totalValue + e.value,
                math.max(acc.maxValue, e.value))
            }
            state.update(next)
            stateTtl.foreach(state.setTimeoutDuration)
            Iterator.single(UserSnapshot(userId, next.nEvents, next.totalValue,
              next.maxValue))
          }
      }
  }

  /** The same running totals on the Spark 4 `transformWithState` API
    * (`StatefulProcessor` + typed `ValueState`) — the successor to
    * `flatMapGroupsWithState`, with composable named state variables and
    * per-state TTL. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider`).
    */
  class UserTotalsProcessor extends StatefulProcessor[Long, UserEvent, UserSnapshot] {
    @transient private var totals: ValueState[UserState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserState]("totals",
        Encoders.product[UserState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[UserSnapshot] = {
      val prev = Option(totals.get()).getOrElse(UserState(0L, 0.0, Double.MinValue))
      val next = rows.foldLeft(prev) { (acc, e) =>
        UserState(acc.nEvents + 1, acc.totalValue + e.value,
          math.max(acc.maxValue, e.value))
      }
      totals.update(next)
      Iterator.single(UserSnapshot(key, next.nEvents, next.totalValue, next.maxValue))
    }
  }

  def statefulUserTotalsV2(events: DataFrame): Dataset[UserSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("tsMicros"),
        col("value").cast("double"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Input/state/output rows for the streaming funnel. `-1` = unset in
    * the state (Spark encodes `Option` fields awkwardly in state rows;
    * a sentinel keeps the state a flat 3-long struct).
    */
  final case class FunnelEvent(user_id: Long, tsMicros: Long, event_type: String)
  final case class FunnelState(v: Long, c: Long, p: Long)
  final case class FunnelUpdate(user_id: Long, funnel_stage: Int)

  /** Incremental ordered-funnel tracking — the streaming counterpart of
    * the batch `ev_funnel` query: per user, the furthest
    * view → click-within-step → purchase-within-step stage, maintained
    * as three longs of state per user and emitted as an updated stage
    * snapshot each batch (stage is monotone, so the latest snapshot is
    * the answer).
    *
    * CONTRACT: per-user event-time-ordered delivery — rows are sorted
    * within each microbatch here, ordering across batches is the
    * upstream watermark's job (the standard streaming-funnel posture).
    * Under ordered delivery the incremental anchors (first view = min
    * view, first qualifying click = min qualifying click, likewise
    * purchase) are exactly the batch query's stacked conditional
    * minimums, so a full replay's final snapshot equals the batch
    * result — `StreamingSpec` pins that equality.
    */
  class FunnelProcessor(stepMicros: Long)
      extends StatefulProcessor[Long, FunnelEvent, FunnelUpdate] {
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
                                 timerValues: TimerValues): Iterator[FunnelUpdate] = {
      var s = Option(st.get()).getOrElse(FunnelState(-1L, -1L, -1L))
      s = rows.toSeq.sortBy(_.tsMicros)
        .foldLeft(s)(foldFunnel(_, _, stepMicros))
      st.update(s)
      val stage = if (s.p >= 0) 3 else if (s.c >= 0) 2 else if (s.v >= 0) 1 else 0
      Iterator.single(FunnelUpdate(key, stage))
    }
  }

  /** The streaming funnel over an events stream (24 h step default, as
    * in the batch `ev_funnel`). Requires the RocksDB state store
    * provider like [[statefulUserTotalsV2]].
    *
    * Delivery NOT event-time-ordered (late events within a bounded
    * delay)? Use [[streamingFunnelEventTime]] — this form processes in
    * arrival order and can under-count a stage on a late click.
    */
  def streamingFunnel(events: DataFrame,
                      stepSeconds: Long = 86400L): Dataset[FunnelUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("tsMicros"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(stepSeconds * 1000000L),
        TimeMode.None(), OutputMode.Append())
  }

  /** A funnel snapshot finalized as of a watermark: `as_of_ms` orders
    * snapshots for the same user (take the row with the max `as_of_ms`;
    * anchors only ever fold events the watermark has sealed, so that
    * row is the latest finalized stage).
    */
  final case class FunnelUpdateAt(user_id: Long, funnel_stage: Int, as_of_ms: Long)

  /** Event-time funnel: correct under OUT-OF-ORDER delivery up to the
    * input watermark, where [[FunnelProcessor]] requires ordered
    * arrival.
    *
    * Arriving events are only BUFFERED (per-user `ListState`); an
    * event-time timer fires once the watermark passes, and only then are
    * the sealed events (ts <= watermark — nothing earlier can still
    * arrive, Spark drops sub-watermark rows before the operator) folded
    * in event-time order into the anchor state and a snapshot emitted.
    * A late click landing anywhere within the watermark delay therefore
    * takes the exact anchor position the batch query would give it —
    * watermark-delayed emission buys batch-equal answers at the cost of
    * result latency equal to the configured delay.
    *
    * State per user stays bounded by the watermark horizon: the buffer
    * holds only unsealed events (at most the delay window), the anchors
    * are three longs. Finite replays: the last `delay` of events seals
    * only when the watermark moves past them, so a drained backlog
    * needs one flush event with `ts > max(ts) + delay` (any key) to
    * finalize the tail — the spec demonstrates the pattern.
    */
  class EventTimeFunnelProcessor(stepMicros: Long)
      extends StatefulProcessor[Long, FunnelEvent, FunnelUpdateAt] {
    @transient private var anchors: ValueState[FunnelState] = _
    @transient private var buffer: ListState[FunnelEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      anchors = getHandle.getValueState[FunnelState]("anchors",
        Encoders.product[FunnelState], TTLConfig.NONE)
      buffer = getHandle.getListState[FunnelEvent]("buffer",
        Encoders.product[FunnelEvent], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
                                 timerValues: TimerValues): Iterator[FunnelUpdateAt] = {
      rows.foreach(buffer.appendValue)
      // fire as soon as the watermark moves at all; idempotent on the
      // (key, expiry)-keyed timer store, so re-registering is a no-op
      getHandle.registerTimer(timerValues.getCurrentWatermarkInMs() + 1)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelUpdateAt] = {
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val wmMicros = wmMs * 1000L
      // strictly BELOW the watermark: Spark's late filter admits rows at
      // ts == watermark, so a boundary-ts event could still arrive in a
      // later batch — folding its equal-ts sibling now would freeze an
      // order the batch query (which sees both) might not choose. Ties
      // at the boundary stay pending until the watermark passes them.
      val (ripe, pending) = buffer.get().toSeq.partition(_.tsMicros < wmMicros)
      var s = Option(anchors.get()).getOrElse(FunnelState(-1L, -1L, -1L))
      s = ripe.sortBy(_.tsMicros)
        .foldLeft(s)(foldFunnel(_, _, stepMicros))
      anchors.update(s)
      buffer.clear()
      if (pending.nonEmpty) {
        pending.foreach(buffer.appendValue)
        getHandle.registerTimer(wmMs + 1) // still-unsealed tail: re-arm
      }
      val stage = if (s.p >= 0) 3 else if (s.c >= 0) 2 else if (s.v >= 0) 1 else 0
      Iterator.single(FunnelUpdateAt(key, stage, wmMs))
    }
  }

  /** The event-time streaming funnel: watermark the events by `delay`,
    * then fold each user's funnel only over watermark-sealed events
    * (see [[EventTimeFunnelProcessor]]). RocksDB state store required,
    * as for [[streamingFunnel]].
    */
  def streamingFunnelEventTime(events: DataFrame,
                               stepSeconds: Long = 86400L,
                               delay: String = "1 hour"): Dataset[FunnelUpdateAt] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("tsMicros"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new EventTimeFunnelProcessor(stepSeconds * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class TransEvent(user_id: Long, tsMicros: Long, event_id: Long,
                              event_type: String)
  final case class TransState(lastTs: Long, lastId: Long, lastType: String)
  final case class Transition(user_id: Long, prev_type: String, event_type: String)

  /** Incremental first-order transition tracking — the streaming
    * counterpart of the batch `ev_transitions` lag: per user, each
    * arriving event emits one (prev_type → event_type) step against the
    * remembered last event, then becomes the new last event. State is
    * ONE (ts, id, type) triple per user; the |types|²-bounded matrix is
    * a downstream rollup over the emitted steps.
    *
    * CONTRACT: the same per-user event-time-ordered delivery the
    * documented [[FunnelProcessor]] posture assumes — rows sort within
    * each microbatch on (ts, event_id), the batch query's exact lag
    * ordering, so a full replay's emitted steps equal the batch lag
    * pairs row for row; `StreamingSpec` pins the aggregated-matrix
    * equality.
    */
  class TransitionProcessor
      extends StatefulProcessor[Long, TransEvent, Transition] {
    @transient private var st: ValueState[TransState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TransState]("last_event",
        Encoders.product[TransState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TransEvent],
                                 timerValues: TimerValues): Iterator[Transition] = {
      var s = Option(st.get()).orNull
      val out = Seq.newBuilder[Transition]
      rows.toSeq.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
        if (s != null) out += Transition(key, s.lastType, e.event_type)
        s = TransState(e.tsMicros, e.event_id, e.event_type)
      }
      // an empty row batch for a key leaves state untouched (never
      // clobber the remembered last event with null)
      if (s != null) st.update(s)
      out.result().iterator
    }
  }

  /** The streaming transition stream (one row per consecutive event
    * pair per user). Compose `.groupBy("prev_type", "event_type").count()`
    * downstream for the live matrix. Requires the RocksDB state store
    * provider like the other transformWithState processors.
    */
  def streamingTransitions(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("tsMicros"),
        col("event_id").cast("long"), col("event_type"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TransitionProcessor(),
        TimeMode.None(), OutputMode.Append())
  }

  /** Input/state/output rows for the streaming session-path tracker. */
  final case class SessEvent(user_id: Long, tsMicros: Long, event_id: Long,
                             event_type: String)
  final case class SessState(lastTs: Long, path: String, n: Long)
  final case class SealedSession(user_id: Long, path: String, n_events: Long)

  /** Incremental session paths — the streaming counterpart of the batch
    * `ev_session_paths` rollup's per-session input: one OPEN session per
    * user as state (30-min gap rule, micros arithmetic identical to the
    * batch window), sealed and emitted the moment a user's next event
    * arrives past the gap. State is bounded by the open session's length
    * (the batch form holds the same per-session list in its aggregate);
    * compose `.groupBy("path").count()` downstream for the live
    * top-journeys table. Same arrival-order contract as
    * [[TransitionProcessor]]: rows sort on (ts, event_id) within each
    * microbatch, cross-batch delivery is assumed event-time-ordered per
    * user. A user's FINAL session stays open forever by construction —
    * there is no next event to seal it; a production variant would flush
    * idle sessions with an event-time timer (the
    * [[EventTimeFunnelProcessor]] pattern), which is exactly the
    * difference the seal-parity spec accounts for.
    */
  /** The ONE session-fold rule both session processors share (a boundary
    * fix here cannot diverge the seal-parity the specs pin): returns the
    * state after `e`, plus the sealed session if `e` opened a new one.
    */
  /** One funnel event against the anchor state: view seeds, click must
    * land strictly after the view within the step, purchase strictly
    * after the click within the step — the batch `ev_funnel` rule.
    * SHARED between the arrival-order and event-time funnel processors
    * (the [[foldSession]] precedent): a boundary fix here cannot
    * diverge the seal-parity the specs pin.
    */
  private def foldFunnel(s: FunnelState, e: FunnelEvent,
                         stepMicros: Long): FunnelState =
    e.event_type match {
      case "view" if s.v < 0 => s.copy(v = e.tsMicros)
      case "click" if s.v >= 0 && s.c < 0 &&
          e.tsMicros > s.v && e.tsMicros - s.v <= stepMicros =>
        s.copy(c = e.tsMicros)
      case "purchase" if s.c >= 0 && s.p < 0 &&
          e.tsMicros > s.c && e.tsMicros - s.c <= stepMicros =>
        s.copy(p = e.tsMicros)
      case _ => s
    }

  private def foldSession(key: Long, s: SessState, e: SessEvent,
                          gapMicros: Long): (SessState, Option[SealedSession]) =
    if (s == null) (SessState(e.tsMicros, e.event_type, 1L), None)
    else if (e.tsMicros - s.lastTs >= gapMicros)
      (SessState(e.tsMicros, e.event_type, 1L),
        Some(SealedSession(key, s.path, s.n)))
    else
      (SessState(e.tsMicros, s.path + ">" + e.event_type, s.n + 1), None)

  class SessionPathProcessor(gapMicros: Long = 1800000000L)
      extends StatefulProcessor[Long, SessEvent, SealedSession] {
    @transient private var st: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessState]("open_session",
        Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SessEvent],
                                 timerValues: TimerValues): Iterator[SealedSession] = {
      var s = Option(st.get()).orNull
      val out = Seq.newBuilder[SealedSession]
      rows.toSeq.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
        val (next, closed) = foldSession(key, s, e, gapMicros)
        closed.foreach(out += _)
        s = next
      }
      // an empty row batch for a key leaves the open session untouched
      if (s != null) st.update(s)
      out.result().iterator
    }
  }

  /** The streaming sealed-session stream (one row per closed session). */
  def streamingSessionPaths(events: DataFrame,
                            gapSeconds: Long = 1800L): Dataset[SealedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("tsMicros"),
        col("event_id").cast("long"), col("event_type"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionPathProcessor(gapSeconds * 1000000L),
        TimeMode.None(), OutputMode.Append())
  }

  /** Event-time session paths: correct under OUT-OF-ORDER delivery up
    * to the watermark, and — unlike [[SessionPathProcessor]] — seals
    * IDLE sessions too. Arriving events only buffer (per-user
    * `ListState`); when the watermark moves, the sealed prefix folds
    * into the open-session state in event-time order, emitting a
    * [[SealedSession]] at every 30-min gap. The idle flush is the
    * event-time-timer argument: once the watermark passes
    * `lastTs + gap`, NO future event can extend the open session (any
    * later arrival is above the watermark and therefore past the gap),
    * so it seals immediately — every session is eventually emitted, a
    * user's last one included, as soon as the watermark advances far
    * enough. State per user = the open session + at most a
    * watermark-delay window of buffered events.
    */
  class EventTimeSessionPathProcessor(gapMicros: Long)
      extends StatefulProcessor[Long, SessEvent, SealedSession] {
    @transient private var open: ValueState[SessState] = _
    @transient private var buffer: ListState[SessEvent] = _
    @transient private var horizon: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[SessState]("open_session",
        Encoders.product[SessState], TTLConfig.NONE)
      buffer = getHandle.getListState[SessEvent]("buffer",
        Encoders.product[SessEvent], TTLConfig.NONE)
      // the currently-armed idle-flush timer (0 = none): a session
      // extension supersedes its horizon, and without deleting the old
      // timer every extension would later fire a no-op expiry that
      // rewrites the whole buffer ListState — O(buffer) churn per stale
      // timer
      horizon = getHandle.getValueState[Long]("horizon",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[SessEvent],
                                 timerValues: TimerValues): Iterator[SealedSession] = {
      rows.foreach(buffer.appendValue)
      getHandle.registerTimer(timerValues.getCurrentWatermarkInMs() + 1)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SealedSession] = {
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val wmMicros = wmMs * 1000L
      // strictly BELOW the watermark: Spark's late filter admits rows at
      // ts == watermark, so a boundary-ts event can still arrive in a
      // later batch; folding its already-buffered equal-ts sibling now
      // would freeze an order the batch (ts, event_id) sort might not
      // choose. Boundary ties stay pending until the watermark passes.
      val (ripe, pending) = buffer.get().toSeq.partition(_.tsMicros < wmMicros)
      var s = Option(open.get()).orNull
      val out = Seq.newBuilder[SealedSession]
      ripe.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
        val (next, closed) = foldSession(key, s, e, gapMicros)
        closed.foreach(out += _)
        s = next
      }
      // idle flush: the watermark passed the open session's gap horizon,
      // so nothing can ever extend it — seal now
      if (s != null && s.lastTs + gapMicros <= wmMicros) {
        out += SealedSession(key, s.path, s.n)
        s = null
      }
      if (s != null) open.update(s) else open.clear()
      buffer.clear()
      val prevHorizon = Option(horizon.get()).getOrElse(0L)
      if (pending.nonEmpty) {
        pending.foreach(buffer.appendValue)
        getHandle.registerTimer(wmMs + 1) // unsealed tail: re-arm
      } else if (s != null) {
        // nothing buffered but a session is open: arm the flush timer at
        // its gap horizon so idleness alone seals it, deleting the
        // horizon a session extension replaced
        val h = s.lastTs / 1000L + gapMicros / 1000L + 1
        if (prevHorizon != 0L && prevHorizon != h)
          getHandle.deleteTimer(prevHorizon)
        if (prevHorizon != h) getHandle.registerTimer(h)
        horizon.update(h)
      } else if (prevHorizon != 0L) {
        getHandle.deleteTimer(prevHorizon)
        horizon.clear()
      }
      out.result().iterator
    }
  }

  /** The event-time sealed-session stream (see
    * [[EventTimeSessionPathProcessor]]): watermark by `delay`, buffer,
    * fold on seal. RocksDB state store required.
    */
  def streamingSessionPathsEventTime(events: DataFrame,
                                     gapSeconds: Long = 1800L,
                                     delay: String = "1 hour"): Dataset[SealedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("tsMicros"),
        col("event_id").cast("long"), col("event_type"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new EventTimeSessionPathProcessor(gapSeconds * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Input/state/output rows for the streaming anomaly detector. */
  final case class HourlyCount(event_type: String, wStartMicros: Long, n: Long)
  final case class HistPoint(w: Long, n: Long)
  final case class AnomalyPoint(event_type: String, w_start_us: Long,
                                n_events: Long, zscore: Double)

  /** Incremental rolling z-score anomaly detection — the streaming
    * counterpart of the batch `ev_anomaly` query, composed AFTER the
    * watermarked tumbling aggregation: in Append mode the window agg
    * emits each (window, event_type) count exactly once, when the
    * watermark seals it, so this processor receives an event-time-
    * ordered feed per key without any buffering of raw events. State is
    * the trailing `frame` sealed counts per event type (a bounded
    * deque — `frame` pairs of longs, regardless of event volume), and
    * each arriving count is scored against the PREVIOUS frame
    * (`ROWS BETWEEN frame PRECEDING AND 1 PRECEDING`, exactly the batch
    * frame) before being appended. Points whose trailing frame has no
    * defined deviation (fewer than 2 priors, or zero sigma) emit
    * nothing, mirroring the batch `sigma > 0` filter.
    */
  class AnomalyProcessor(frame: Int)
      extends StatefulProcessor[String, HourlyCount, AnomalyPoint] {
    @transient private var hist: ListState[HistPoint] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getListState[HistPoint]("hist",
        Encoders.product[HistPoint], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[HourlyCount],
                                 timerValues: TimerValues): Iterator[AnomalyPoint] = {
      var h = hist.get().toVector
      val out = Vector.newBuilder[AnomalyPoint]
      rows.toSeq.sortBy(_.wStartMicros).foreach { r =>
        if (h.size >= 2) {
          val xs = h.map(_.n.toDouble)
          val mu = xs.sum / xs.size
          val sigma = math.sqrt(
            xs.map(x => (x - mu) * (x - mu)).sum / (xs.size - 1))
          if (sigma > 0)
            out += AnomalyPoint(key, r.wStartMicros, r.n, (r.n - mu) / sigma)
        }
        h = (h :+ HistPoint(r.wStartMicros, r.n)).takeRight(frame)
      }
      hist.clear()
      h.foreach(hist.appendValue)
      out.result().iterator
    }
  }

  /** The streaming anomaly detector over an events stream: watermarked
    * tumbling counts per event type, each sealed count z-scored against
    * its type's trailing `frame` windows. RocksDB state store required,
    * as for [[statefulUserTotalsV2]]. Finite replays: counts within the
    * watermark delay of the stream's end never seal — flush with one
    * event past `max(ts) + delay` (any key), as for
    * [[streamingFunnelEventTime]].
    */
  def streamingAnomaly(events: DataFrame, windowLen: String = "1 hour",
                       watermark: String = "30 minutes",
                       frame: Int = 24): Dataset[AnomalyPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), unix_micros(col("window.start")).as("wStartMicros"),
        col("n"))
      .as[HourlyCount]
      .groupByKey(_.event_type)
      .transformWithState(new AnomalyProcessor(frame), TimeMode.None(),
        OutputMode.Append())
  }

  /** Input/output rows for the streaming retention processor. A
    * snapshot carries the user's full engagement profile — first-week
    * cohort and every distinct active week — because both are bounded
    * by CALENDAR weeks, not event volume.
    */
  final case class RetentionEvent(user_id: Long, wk: Long)
  final case class RetentionSnapshot(user_id: Long, cohort_week: Long,
                                     weeks: Seq[Long])

  /** Incremental cohort retention — the streaming counterpart of the
    * batch `ev_retention` query. Per-user state is a `MapState` keyed by
    * epoch-week (the distinct active-week set; cohort = its min), and
    * both updates are COMMUTATIVE MONOIDS (set union, min), so the
    * result is identical under any arrival order and any batching — no
    * event-time timers or watermark delay needed, unlike the funnel,
    * whose anchors are order-sensitive.
    *
    * Each batch emits an updated snapshot for every user with input;
    * any state change strictly grows the week set, so the snapshot with
    * the LARGEST set per user is the latest — keep that one (e.g. via
    * [[upsertToParquetLog]] keyed on user with `size(weeks)` as the
    * version) and roll it up with [[retentionMatrix]].
    */
  class RetentionProcessor extends StatefulProcessor[Long, RetentionEvent, RetentionSnapshot] {
    @transient private var weeks: MapState[Long, Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      weeks = getHandle.getMapState[Long, Boolean]("weeks",
        Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[RetentionEvent],
                                 timerValues: TimerValues): Iterator[RetentionSnapshot] = {
      rows.foreach(e => weeks.updateValue(e.wk, true))
      val wks = weeks.keys().toSeq.sorted
      Iterator.single(RetentionSnapshot(key, wks.head, wks))
    }
  }

  /** Streaming retention over an events stream: same epoch-week
    * bucketing as the batch `ev_retention`. RocksDB state store
    * required, as for [[statefulUserTotalsV2]].
    */
  def streamingRetention(events: DataFrame): Dataset[RetentionSnapshot] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        floor(unix_timestamp(col("ts")) / 604800).cast("long").as("wk"))
      .as[RetentionEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RetentionProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Roll latest-per-user [[RetentionSnapshot]]s up to the cohort
    * engagement matrix `(cohort_week, week_offset, n_users)` — the same
    * shape the batch `ev_retention` emits. Input must hold ONE row per
    * user (the latest snapshot); the rollup is a tiny aggregation over
    * the exploded week sets, at most weeks² cells.
    */
  def retentionMatrix(snapshots: DataFrame): DataFrame =
    snapshots
      .select(col("cohort_week"), explode(col("weeks")).as("wk"))
      .groupBy(col("cohort_week"),
        (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))

  /** Run a streaming frame to completion against static input via the
    * in-memory sink (test/driver harness; `availableNow` processes the
    * backlog then stops).
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): DataFrame = {
    val q = streamed.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** CDC-style upsert over an append-only parquet log via `foreachBatch`:
    * each microbatch is deduped to its latest row per key and appended;
    * [[readUpserted]] resolves the latest version per key at read time.
    * This is the lakehouse-free upsert pattern — appends stay cheap and
    * atomic at any scale (no file rewrites, no table-format dependency),
    * the merge cost is paid by readers as one `max_by` aggregation, and a
    * periodic compaction (rewrite `readUpserted` output) bounds log
    * growth. Exactly-once across restarts comes from the checkpoint, as
    * in the plain file sink.
    */
  def upsertToParquetLog(streamed: DataFrame, keyCol: String, versionCol: String,
                         targetDir: String, checkpointDir: String): StreamingQuery = {
    // recover a compaction that crashed between its renames BEFORE this
    // stream recreates the target dir — otherwise the next compaction
    // would see both dirs and the pre-compaction log could be lost
    val conf = streamed.sparkSession.sparkContext.hadoopConfiguration
    CompactionSwap.recoverDanglingOld(CompactionSwap.fsFor(targetDir, conf), targetDir)
    streamed.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val latestPerKey = batch
          .groupBy(col(keyCol))
          .agg(max_by(struct(batch.columns.map(col): _*), col(versionCol)).as("r"))
          .select(col("r.*"))
        latestPerKey.write.mode("append").parquet(targetDir): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Latest row per key over the upsert log written by
    * [[upsertToParquetLog]].
    */
  def readUpserted(spark: SparkSession, targetDir: String,
                   keyCol: String, versionCol: String): DataFrame = {
    val log = spark.read.parquet(targetDir)
    log.groupBy(col(keyCol))
      .agg(max_by(struct(log.columns.map(col): _*), col(versionCol)).as("r"))
      .select(col("r.*"))
  }

  /** Compact the upsert log: rewrite it to exactly the latest row per key,
    * bounding log growth (run periodically; readers see the same
    * [[readUpserted]] result before and after).
    *
    * Single-writer contract: stop the [[upsertToParquetLog]] stream before
    * compacting — files appended between the read and the swap would be
    * silently dropped by the rewrite.
    *
    * The swap is the shared crash-recoverable three-step dance
    * ([[CompactionSwap.swap]]): write to `.compacting`, rename the live
    * log to `.old`, rename `.compacting` into place, then drop `.old`.
    * A dangling `.old` from an interrupted swap is recovered both here
    * and at [[upsertToParquetLog]] stream start — even if the stream
    * restarted and recreated the target in between, the pre-compaction
    * log is folded back in, never deleted.
    */
  def compactUpsertLog(spark: SparkSession, targetDir: String,
                       keyCol: String, versionCol: String): Unit = {
    val fs = CompactionSwap.fsFor(targetDir,
      spark.sparkContext.hadoopConfiguration)
    CompactionSwap.swap(fs, targetDir) { tmp =>
      readUpserted(spark, targetDir, keyCol, versionCol)
        .write.mode("overwrite").parquet(tmp)
    }: Unit
  }
}
