package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface over the `events` table: the same
  * shapes as graft.ops.Events (tumbling windows, sessionization) but
  * executed as streams — `readStream` file source → watermarked
  * event-time window aggregation / `flatMapGroupsWithState`
  * sessionization → memory sink, driven synchronously with
  * `processAllAvailable` so the driver's batch harness can check them.
  *
  * Scale notes: the streaming window agg carries per-window partial
  * state in the state store, keyed by (window, event_type) — shuffle
  * once per micro-batch on the grouping key, watermark bounds state.
  * Sessionization keys state by user_id (GroupStateTimeout evicts on
  * gap at scale; here the bounded testdata drains in one batch).
  */
/** Row/state types for the stateful queries — top-level so Catalyst's
  * generated encoder code can reach them (private nested classes fail
  * SafeProjection codegen).
  */
case class Ev(user_id: Long, tsUs: Long)
case class UserSessions(user_id: Long, n_sessions: Long, max_session_ms: Long)

/** Per-micro-batch sessionization emission: `n_events` is the size of
  * the accumulated state the row was computed from, so for any user
  * the emission with the largest n_events covers all of that user's
  * events seen so far — the key to micro-batch-count-invariant output
  * (see `sessionCounts`).
  */
case class UserSessionsAt(user_id: Long, n_sessions: Long,
    max_session_ms: Long, n_events: Long)

/** transformWithState row types (top-level for encoder codegen). */
case class EvVal(user_id: Long, value: Double)
case class UserTotalsAt(user_id: Long, n_events: Long, sum_value: Double)

/** StatefulProcessor for `twsTotals`: per-user running (count, sum) in
  * a typed ValueState cell. The transformWithState API (Spark 4's
  * successor to flatMapGroupsWithState) gives composite typed state
  * (Value/List/Map cells), per-cell TTL, and timers — this processor
  * deliberately uses the minimal shape so the oracle stays exact.
  * Emissions carry `n_events` (the state size they saw) for the same
  * max-emission reduction that makes sessionize micro-batch-count
  * invariant.
  */
class TotalsProcessor extends org.apache.spark.sql.streaming
    .StatefulProcessor[Long, EvVal, UserTotalsAt] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    val enc: Encoder[(Long, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    totals = getHandle.getValueState[(Long, Double)](
      "totals", enc, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[EvVal],
      timerValues: TimerValues): Iterator[UserTotalsAt] = {
    var (n, sum) = if (totals.exists()) totals.get() else (0L, 0.0)
    rows.foreach { r => n += 1; sum += r.value }
    totals.update((n, sum))
    Iterator(UserTotalsAt(key, n, sum))
  }
}

/** Row types for `twsMapTotals` (top-level for encoder codegen). */
case class EvTyped(user_id: Long, event_type: String, value: Double)
case class UserTypeTotalsAt(user_id: Long, event_type: String,
    n_events: Long, sum_value: Double)

/** StatefulProcessor for `twsMapTotals`: a typed MAP state cell —
  * per-user running (count, sum) PER EVENT TYPE, the composite-state
  * shape flatMapGroupsWithState forced into one opaque blob (read,
  * deserialize, mutate, reserialize the whole map per batch) and
  * MapState reads/writes per entry. Each batch updates only the
  * touched entries, then emits the full (small: |event types|)
  * snapshot; the per-(user,type) max-count emission is the complete
  * one, making the drained output micro-batch-count invariant like
  * the other tws queries.
  */
class TypedTotalsProcessor extends org.apache.spark.sql.streaming
    .StatefulProcessor[Long, EvTyped, UserTypeTotalsAt] {
  import org.apache.spark.sql.streaming.{MapState, TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var totals: MapState[String, (Long, Double)] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    val encV: Encoder[(Long, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    totals = getHandle.getMapState[String, (Long, Double)](
      "totals", Encoders.STRING, encV, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[EvTyped],
      timerValues: TimerValues): Iterator[UserTypeTotalsAt] = {
    rows.foreach { r =>
      val (n, s) =
        if (totals.containsKey(r.event_type)) totals.getValue(r.event_type)
        else (0L, 0.0)
      totals.updateValue(r.event_type, (n + 1, s + r.value))
    }
    totals.iterator().map { case (t, (n, s)) =>
      UserTypeTotalsAt(key, t, n, s)
    }
  }
}

/** Seed/emission rows for `twsBootstrap` (top-level for encoders). */
case class SeedTotals(user_id: Long, n_seed: Long, sum_seed: Double)
case class UserTotalsSeeded(user_id: Long, n_events: Long,
    sum_value: Double, n_seed_events: Long)

/** StatefulProcessorWithInitialState for `twsBootstrap`: the WARM-
  * START pattern — a batch relation seeds the state store before the
  * first micro-batch, then the stream increments it. This is how a
  * stateful job migrates (from a batch table, a lambda-architecture
  * history, or another engine's checkpoint) without replaying all of
  * history through the stream. `handleInitialState` runs once per
  * seeded key; a separate seed-count cell records what came from the
  * batch side so the output proves the seed actually flowed through
  * the initial-state path rather than the stream.
  */
class SeededTotalsProcessor extends org.apache.spark.sql.streaming
    .StatefulProcessorWithInitialState[Long, EvVal, UserTotalsSeeded,
      SeedTotals] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var totals: ValueState[(Long, Double)] = _
  @transient private var seedN: ValueState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    val enc: Encoder[(Long, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    totals = getHandle.getValueState[(Long, Double)](
      "totals", enc, TTLConfig.NONE)
    seedN = getHandle.getValueState[Long](
      "seedN", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInitialState(key: Long, initialState: SeedTotals,
      timerValues: TimerValues): Unit = {
    totals.update((initialState.n_seed, initialState.sum_seed))
    seedN.update(initialState.n_seed)
  }

  override def handleInputRows(key: Long, rows: Iterator[EvVal],
      timerValues: TimerValues): Iterator[UserTotalsSeeded] = {
    var (n, sum) = if (totals.exists()) totals.get() else (0L, 0.0)
    rows.foreach { r => n += 1; sum += r.value }
    totals.update((n, sum))
    Iterator(UserTotalsSeeded(key, n, sum,
      if (seedN.exists()) seedN.get() else 0L))
  }
}

/** StatefulProcessor exercising the BUILT-IN processing-time TTL path
  * (`TTLConfig(1 ms)`; every other tws cell uses TTLConfig.NONE).
  * The 1 ms TTL is shorter than any possible micro-batch gap, so state
  * written in batch N is always expired when batch N+1 reads it:
  * per-key totals cover exactly one micro-batch each.
  *
  * SPEC-ONLY (StreamTtlSpec): processing-time TTL is clock-driven, so
  * it can never take a hash oracle, and a query holding TTL'd state is
  * never idle — the engine schedules empty expiry micro-batches
  * forever, so the spec must stop the query by polling the sink rather
  * than draining it. The ORACLED TTL query is [[TtlCellProcessor]],
  * which implements the same evict-idle-state semantics with
  * event-time timers — a deterministic function of the data.
  */
class TtlTotalsProcessor extends org.apache.spark.sql.streaming
    .StatefulProcessor[Long, EvVal, UserTotalsAt] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    val enc: Encoder[(Long, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    totals = getHandle.getValueState[(Long, Double)](
      "totals", enc, TTLConfig(java.time.Duration.ofMillis(1)))
  }

  override def handleInputRows(key: Long, rows: Iterator[EvVal],
      timerValues: TimerValues): Iterator[UserTotalsAt] = {
    // an expired cell reads as absent — the TTL contract under test
    var (n, sum) = if (totals.exists()) totals.get() else (0L, 0.0)
    rows.foreach { r => n += 1; sum += r.value }
    totals.update((n, sum))
    Iterator(UserTotalsAt(key, n, sum))
  }
}

/** Input row for [[TtlCellProcessor]] (top-level for encoder codegen). */
case class EvTsVal(user_id: Long, tsUs: Long, value: Double)

/** One evicted TTL cell: the accumulated totals at eviction and the
  * event-time point the cell expired (`last write + TTL`, µs).
  */
case class TtlEvicted(user_id: Long, n_events: Long, sum_value: Double,
    expire_us: Long)

/** StatefulProcessor for `stream_tws_ttl`: state TTL as a DETERMINISTIC
  * function of event time (VERDICT r7 #4). Per user, ONE ValueState
  * cell `(n, sum, lastUs)` accumulates totals; the cell EXPIRES when no
  * event arrives for TTL (20 min) of EVENT time past its last write.
  * Expiry is enforced twice, the canonical cache-cell pattern:
  *
  *  - LAZILY on write: an incoming row more than TTL past `lastUs`
  *    finds its cell expired — the old snapshot is emitted as an
  *    eviction record and the cell restarts from zero;
  *  - PHYSICALLY by an event-time timer re-armed at `lastUs + TTL` on
  *    every write (delete-then-register): when the watermark strictly
  *    passes the expiry point, the snapshot is emitted and the cell
  *    CLEARED, so idle keys hold no state — the property that bounds
  *    state at 100 TB (state ∝ ACTIVE keys, not keys-ever-seen).
  *
  * Unlike built-in `TTLConfig` (processing-time: clock-driven, never
  * idle, unoracleable — see [[TtlTotalsProcessor]]), every eviction
  * here is a pure function of the event timestamps, so the full output
  * takes a DuckDB hash oracle: evicted cells are exactly the
  * >TTL-gap-separated runs of each user's event sequence, emitted iff
  * a later run exists (lazy path) or the final watermark strictly
  * passes `end + TTL` (timer path). Rows are folded in event-time
  * order within a batch, so arrival order never leaks into results.
  */
class TtlCellProcessor extends org.apache.spark.sql.streaming
    .StatefulProcessor[Long, EvTsVal, TtlEvicted] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues,
    TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoder, Encoders}

  private val TtlUs = 20L * 60 * 1000000L

  @transient private var cell: ValueState[(Long, Double, Long)] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    val enc: Encoder[(Long, Double, Long)] = Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaLong)
    cell = getHandle.getValueState[(Long, Double, Long)](
      "cell", enc, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[EvTsVal],
      timerValues: TimerValues): Iterator[TtlEvicted] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[TtlEvicted]
    var state = if (cell.exists()) Some(cell.get()) else None
    // event-time order, not arrival order: determinism within a batch
    for (r <- rows.toArray.sortBy(_.tsUs)) {
      state match {
        case Some((n, sum, lastUs)) if r.tsUs - lastUs > TtlUs =>
          // lazy expiry-on-write: the cell this row finds is past TTL
          out += TtlEvicted(key, n, sum, lastUs + TtlUs)
          state = Some((1L, r.value, r.tsUs))
        case Some((n, sum, lastUs)) =>
          state = Some((n + 1, sum + r.value, math.max(lastUs, r.tsUs)))
        case None =>
          state = Some((1L, r.value, r.tsUs))
      }
    }
    state.foreach { case st @ (_, _, lastUs) =>
      cell.update(st)
      // re-arm the physical-expiry timer at the new horizon; stale
      // timers from earlier writes are deleted so at most one is live
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer((lastUs + TtlUs) / 1000 + 1) // fire ⇔ due < wm
    }
    out.iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[TtlEvicted] = {
    if (!cell.exists()) return Iterator.empty
    val (n, sum, lastUs) = cell.get()
    val wmUs = math.max(timerValues.getCurrentWatermarkInMs,
      expiredTimerInfo.getExpiryTimeInMs) * 1000L
    // strict: at lastUs + TTL == wm an on-time row could still renew
    if (lastUs + TtlUs < wmUs) {
      cell.clear()
      Iterator.single(TtlEvicted(key, n, sum, lastUs + TtlUs))
    } else Iterator.empty
  }
}

/** One closed session, emitted by [[SessionTimerProcessor]] when the
  * event-time watermark passes the session's timeout point.
  */
case class SessionClosed(user_id: Long, start_us: Long, duration_ms: Long,
    n_events: Long)

/** StatefulProcessor for `twsSessionTimers`: EVENT-TIME TIMERS — the
  * session-timeout emission pattern, and the one timer shape with a
  * deterministic oracle (processing-time timers are wall-clock).
  *
  * Per user: a ListState holds the PENDING event timestamps (µs). A
  * session (>30-min-gap split, same rule as the sessionize suite) is
  * CLOSED once the watermark STRICTLY passes `end + gap` — no on-time
  * event can extend it. The strict inequality is load-bearing at the
  * µs-exact boundary: the gap rule keeps a row with `t − prev == gap`
  * in the SAME session, so a session may only close once every
  * on-time row that could still join it (`ts <= end + gap`, i.e.
  * `ts < watermark` would not cover `ts == end+gap == watermark`) is
  * impossible — `end + gap < watermark` guarantees any on-time row
  * (`ts >= watermark`) has `ts − end > gap` and starts a new session.
  * Late rows are filtered by the operator's watermark predicate.
  * Closed sessions are emitted and
  * their timestamps EVICTED from the list in the same handler pass:
  * state per user is bounded by the open event-time horizon
  * (watermark delay + gap), NOT by the user's history — the property
  * that keeps an infinite stream's state store finite. Eviction also
  * makes emission exactly-once by construction (a closed session no
  * longer exists to re-derive, so a stale timer re-fire emits
  * nothing), which in turn makes the output micro-batch-count
  * invariant (spec-replayed).
  *
  * Timer discipline: every input batch and every timer fire
  * (re-)registers one timer at the first PENDING session's close
  * point, `(end+gap)/1000 + 1` ms (floor-div plus one). Spark fires
  * timers with `expiryMs <= watermarkMs` (TimerStateImpl's
  * expired-timer scan is `> threshold → stop`), and
  * `floor(due/1000) + 1 <= wmMs  ⇔  due < wmMs*1000` for integer
  * wmMs — so the fire condition and the STRICT emission condition
  * `due < watermark` are exactly equivalent, and the SQL oracle can
  * replay the closed-session set from `max(event_time)` alone.
  * Duplicate registrations are idempotent (the timer key space is a
  * set) and re-fires are harmless (eviction makes them no-ops).
  */
class SessionTimerProcessor extends org.apache.spark.sql.streaming
    .StatefulProcessor[Long, Ev, SessionClosed] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
    TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}

  private val GapUs = 30L * 60 * 1000000L

  @transient private var ts: ListState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    val encL: Encoder[Long] = Encoders.scalaLong
    ts = getHandle.getListState[Long]("ts", encL, TTLConfig.NONE)
  }

  /** Sessions of the full accumulated timestamp set, start-ordered:
    * (startUs, endUs, nEvents).
    */
  private def sessions(all: Array[Long]): Seq[(Long, Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var start = all.head
    var prev = all.head
    var n = 1L
    for (t <- all.iterator.drop(1)) {
      if (t - prev > GapUs) { out += ((start, prev, n)); start = t; n = 0L }
      n += 1
      prev = t
    }
    out += ((start, prev, n))
    out.toSeq
  }

  /** Emit every closed session at watermark `wmUs`, EVICT their
    * timestamps from the pending list, and arm a timer for the next
    * pending close point (if any).
    */
  private def emitClosed(key: Long, wmUs: Long): Iterator[SessionClosed] = {
    val all = ts.get().toArray.sorted
    if (all.isEmpty) return Iterator.empty
    val sess = sessions(all)
    // session ends are strictly increasing → closed set is a prefix;
    // STRICT close (see class scaladoc): at e + gap == wm an on-time
    // row with ts == wm could still extend this session
    val closed = sess.takeWhile { case (_, e, _) => e + GapUs < wmUs }
    if (closed.nonEmpty) {
      // keep only timestamps of still-open sessions: state stays
      // bounded by the open horizon, and closed sessions cease to
      // exist — a stale timer re-fire cannot re-emit them
      val keepFrom = if (closed.size < sess.size) sess(closed.size)._1
        else Long.MaxValue
      val pending = all.filter(_ >= keepFrom)
      if (pending.isEmpty) ts.clear() else ts.put(pending)
    }
    if (closed.size < sess.size) {
      val nextDueUs = sess(closed.size)._2 + GapUs
      getHandle.registerTimer(nextDueUs / 1000 + 1) // fire ⇔ due < wm µs
    }
    closed.iterator.map { case (s0, e0, n) =>
      SessionClosed(key, s0, (e0 - s0) / 1000, n)
    }
  }

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timerValues: TimerValues): Iterator[SessionClosed] = {
    ts.appendList(rows.map(_.tsUs).toArray)
    emitClosed(key, timerValues.getCurrentWatermarkInMs * 1000L)
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionClosed] = {
    // any fired timer's expiry is ≤ the eviction watermark, so taking
    // the max guards against a stale getCurrentWatermarkInMs without
    // ever emitting beyond what the engine's own fire condition allows
    val wmMs = math.max(timerValues.getCurrentWatermarkInMs,
      expiredTimerInfo.getExpiryTimeInMs)
    emitClosed(key, wmMs * 1000L)
  }
}

object EventStream {

  private val qid = new AtomicInteger(0)

  /** Built once: each encoder build numbers its collection lambda variables
    * afresh, and Spark renumbers them in the optimized plan but not in a
    * `GroupState` serializer, so a per-run one recompiles on every run. */
  private implicit val tsListState: Encoder[List[Long]] = ExpressionEncoder()

  /** Starts a bounded stream, drains it and stops it; returns the
    * stopped query. Every graft stream starts here, under two confs
    * that `start()`'s session clone copies and that are restored after:
    *  - 4 shuffle partitions: per-batch stateful cost scales with the
    *    state-store partition count (fixed into the checkpoint at the
    *    first batch), not with data volume.
    *  - Artifact isolation off: with it on, Spark 4.1.2 gives each clone
    *    a new executor class loader, and `CodeGenerator` caches by (class
    *    loader, code), so every run recompiled identical code and pinned
    *    its loader in the cache (StreamLayoutSpec guards this). Artifacts
    *    added to one isolation-off session are visible to all of them;
    *    graft adds none, so this hides nothing.
    */
  private[graft] def drain(s: SparkSession)(
      start: => StreamingQuery): StreamingQuery =
    graft.util.Confs.withConfs(s)("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.artifact.isolation.enabled" -> "false") {
      val q = start
      try q.processAllAvailable() finally q.stop()
      q
    }

  /** Runs `body` on the RocksDB state-store provider — the backend
    * for large state (spills to local disk + changelog instead of
    * holding every key on-heap). The provider is fixed into a query at
    * stream start, so it is set for the drain and restored after;
    * results are backend-independent.
    */
  private[graft] def withRocksDb[T](s: SparkSession)(body: => T): T =
    graft.util.Confs.withConfs(s)(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** The drained memory sink `name` as a frame, with its temp view
    * dropped: the frame's plan holds the sink itself, so its rows stay
    * readable, and a session that drains many streams keeps no result
    * it no longer references.
    */
  private def drained(s: SparkSession, name: String): DataFrame = {
    val df = s.table(name)
    s.catalog.dropTempView(name)
    df
  }

  /** Run a streaming DataFrame to completion against the bounded
    * file source and return the materialized result. Memory sink +
    * processAllAvailable = deterministic synchronous drain.
    *
    * NOT usable for queries holding processing-time-TTL'd state
    * (`TTLConfig` with a duration): such a query is never idle — the
    * engine schedules empty micro-batches forever to expire state
    * (measured: 6,618 state versions before this run was killed), and
    * neither processAllAvailable nor Trigger.AvailableNow terminates
    * (the stateful operator reports needs-another-batch on every
    * trigger). TTLConfig paths are exercised by StreamTtlSpec with an
    * explicit sink-polling stop; the ORACLED ttl query implements the
    * TTL cell with event-time timers instead (see [[TtlCellProcessor]]).
    */
  private[graft] def runToCompletion(s: SparkSession, df: DataFrame,
      mode: OutputMode): DataFrame = {
    val name = s"graft_stream_${qid.incrementAndGet()}"
    // Explicit checkpoint under the scratch root (tmpfs-backed when
    // available): without it Spark puts the temp checkpoint under
    // java.io.tmpdir, and every state-store commit fsyncs there —
    // on a throttled host that disk traffic, not the plan, dominated
    // the stateful queries' measured time. Checkpoint state is
    // per-query-run and discarded, so RAM-backed storage is correct.
    drain(s)(df.writeStream.outputMode(mode)
      .option("checkpointLocation",
        graft.util.ScratchIndex.dir(s"ck_$name").toString)
      .format("memory").queryName(name).start()): Unit
    drained(s, name)
  }

  /** The events stream in the engine-canonical event-time schema
    * (`ts_us` + µs `event_time` — the same normalization batch
    * queries get from Tables.events). The file source needs the RAW
    * file schema (whatever `ts` type the driver generator wrote), so
    * probe it from a one-footer batch read, then normalize the
    * streaming frame through the shared single fix point.
    */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.util.Tables.eventsRaw(s, dir).schema
    // single-file layout streams via parent-dir glob; directory
    // layout streams the directory (see Tables.streamTable)
    graft.util.Tables.normalizeEventTime(
      graft.util.Tables.streamTable(s, dir, "events", schema))
  }

  /** Streaming tumbling 1-hour window: watermarked event-time groupBy
    * window. Complete mode → every window in the memory sink after the
    * drain. Output matches the batch/DuckDB form (bucket = epoch-hour).
    */
  def tumblingCounts(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
    runToCompletion(s, agg, OutputMode.Complete())
      .select(
        expr("unix_timestamp(window.start) div 3600").as("bucket"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("bucket", "event_type")
  }

  val tumblingCountsSql: String =
    """SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
      |       count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  /** Micro-batches the last [[stateSourceCore]] drain processed —
    * spec instrumentation (as in DedupStream.lastIndexRunBatches)
    * proving the multi-batch replay really split the landing.
    */
  private[graft] val lastStateRunBatches = new AtomicInteger(0)

  /** Drains `src`'s per-user running aggregate keeping the CHECKPOINT,
    * then answers from the checkpoint alone via Spark 4's state data
    * source. Shared by the query (whole-table one-batch drain) and
    * StreamStateSourceSpec (staged multi-file landing, one file per
    * trigger — proving the state read is batch-count invariant).
    */
  private[graft] def stateSourceCore(s: SparkSession, src: DataFrame)
      : DataFrame = {
    val ckRoot = graft.util.ScratchIndex.dir(
      s"state_src_ck_${qid.incrementAndGet()}")
    // fresh run state: a stale offsets WAL would skip files
    graft.util.ScratchIndex.deleteRecursively(ckRoot)
    val agg = src
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    // Update mode + noop batch sink: only changed keys leave the
    // operator each micro-batch and the sink discards them — ALL
    // information flows through the state store, which is the point
    drain(s)(agg.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckRoot.toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        lastStateRunBatches.incrementAndGet(): Unit
        b.write.format("noop").mode("overwrite").save()
      }
      .start()): Unit
    s.read.format("statestore").option("path", ckRoot.toString).load()
      .select(col("key.user_id").as("user_id"),
        col("value.count").as("n_events"),
        round(col("value.sum"), 4).as("sum_value"))
      .orderBy("user_id")
  }

  /** Reads a streaming aggregation's checkpointed STATE back as a
    * batch DataFrame — Spark 4's state data source
    * (`spark.read.format("statestore")`), the operational surface a
    * production deployment uses to inspect, audit, or bootstrap
    * stateful-query state without replaying the stream (reference has
    * no streaming; this extends the engine's observability surface).
    *
    * FULL ORACLE: an unwatermarked global groupBy never evicts, so
    * the final state IS the complete per-user aggregate and the state
    * read must equal the plain batch SQL. The state value schema is
    * the agg BUFFER (`value.count`, `value.sum`) — reading it is also
    * a schema contract on what Spark persists per key. At scale the
    * read parallelizes by state partition and never touches the
    * events corpus.
    */
  def stateSourceAgg(s: SparkSession, dir: String): DataFrame = {
    lastStateRunBatches.set(0)
    stateSourceCore(s, eventsStream(s, dir))
  }

  val stateSourceAggSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin

  /** Stateful sessionization with flatMapGroupsWithState: per-user
    * state machine splitting on >30-min gaps.
    *
    * Micro-batch invariance: Append mode emits one row per user PER
    * MICRO-BATCH the user appears in, so if the source splits the
    * input across triggers (more files, maxFilesPerTrigger), a user
    * surfaces multiple times with progressively-complete results.
    * Every emission is computed from the FULL accumulated state and
    * carries `n_events` (the state size it saw), so keeping each
    * user's max-`n_events` emission yields the same answer no matter
    * how the source batches — proven by StreamRecoverySpec against a
    * one-file-per-trigger replay.
    *
    * State here grows with each user's full history BY DESIGN: the
    * max-emission reduction needs complete recomputation, and this
    * query demonstrates the legacy flatMapGroupsWithState API shape.
    * The production-bounded form of the same sessionization is
    * `twsSessionTimers`, whose state is evicted down to the open
    * event-time horizon as the watermark closes sessions.
    */
  private[graft] def sessionizeCore(s: SparkSession, src: DataFrame)
      : DataFrame = {
    import s.implicits._
    val gapUs = 30L * 60 * 1000000L // µs basis, see ops.Events scaladoc
    val ds = src
      .select(col("user_id"), col("ts_us").as("tsUs")).as[Ev]
    val sessions = ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], UserSessionsAt](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[List[Long]]) =>
          val ts = (evs.map(_.tsUs) ++ state.getOption.getOrElse(Nil))
            .toArray.sorted
          state.update(ts.toList)
          var n = 0L
          var maxMs = 0L
          var start = ts.head
          var prev = ts.head
          for (t <- ts.drop(1)) {
            if (t - prev > gapUs) {
              n += 1
              maxMs = math.max(maxMs, (prev - start) / 1000)
              start = t
            }
            prev = t
          }
          n += 1
          maxMs = math.max(maxMs, (prev - start) / 1000)
          Iterator(UserSessionsAt(uid, n, maxMs, ts.length.toLong))
      }
    sessions.toDF()
  }

  /** Final per-user sessions from the drained emissions: the
    * max-`n_events` row per user is the one computed from the user's
    * complete event set (ties impossible — state only grows).
    */
  private[graft] def sessionizeFinal(emissions: DataFrame): DataFrame =
    emissions
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("n_sessions"), col("max_session_ms")), col("n_events"))
        .as("fin"))
      .select(col("user_id"), col("fin.n_sessions").as("n_sessions"),
        col("fin.max_session_ms").as("max_session_ms"))
      .orderBy("user_id")

  def sessionCounts(s: SparkSession, dir: String): DataFrame =
    sessionizeFinal(runToCompletion(s,
      sessionizeCore(s, eventsStream(s, dir)), OutputMode.Append()))

  val sessionCountsSql: String =
    """WITH marked AS (
      |  SELECT user_id, epoch_us(ts) AS tsn,
      |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
      |), sess AS (
      |  SELECT user_id, tsn,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY tsn
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked
      |), per_session AS (
      |  SELECT user_id, session_id,
      |         (max(tsn) - min(tsn)) // 1000 AS duration_ms
      |  FROM sess GROUP BY 1, 2
      |)
      |SELECT user_id, count(*) AS n_sessions,
      |       max(duration_ms) AS max_session_ms
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Stream-stream interval join: purchases joined to the same
    * user's views from the preceding hour. Both sides watermarked —
    * the state store retains only an hour of views per key, the
    * standard bounded-state recipe for stream-stream joins. Bounded
    * input drains in one micro-batch, so the append-mode result is
    * the complete interval join (oracle = plain SQL interval join on
    * the µs basis).
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
        col("event_time").as("v_time"))
      .withWatermark("v_time", "1 hour")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "1 hour")
    val joined = purchases.join(views,
      expr("""p_user = v_user AND
              v_time >= p_time - INTERVAL 1 HOUR AND
              v_time <= p_time"""))
      .select(col("p_id"), col("v_id"), col("p_user").as("user_id"))
    runToCompletion(s, joined, OutputMode.Append())
      .orderBy("p_id", "v_id")
  }

  val streamStreamJoinSql: String =
    """SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id
      | AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
      | AND epoch_us(v.ts) <= epoch_us(p.ts)
      |ORDER BY p_id, v_id""".stripMargin

  /** Streaming sliding window: 1-hour windows every 30 minutes —
    * each event lands in exactly 2 overlapping windows (the window()
    * generator expands rows before the keyed state agg). Oracle
    * replays the expansion relationally: offsets {0,1} per event.
    */
  def slidingCounts(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
    runToCompletion(s, agg, OutputMode.Complete())
      .select(
        expr("unix_timestamp(window.start)").as("win_start"),
        col("n_events"), col("sum_value"))
      .orderBy("win_start")
  }

  val slidingCountsSql: String =
    """SELECT (epoch_us(ts) // 1800000000 - off) * 1800 AS win_start,
      |       count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM events, LATERAL (SELECT unnest([0, 1]) AS off) o
      |GROUP BY 1 ORDER BY win_start""".stripMargin

  /** foreachBatch sink: the programmable-sink escape hatch — each
    * micro-batch lands in a parquet sink partition via arbitrary
    * batch-DataFrame code (here: append-mode parquet write, the
    * pattern used for sinks Structured Streaming lacks natively:
    * JDBC upserts, multi-table fanout, merge-into). The query then
    * reads the sink back and aggregates it — verifying the full
    * stream→sink→batch round trip against the batch oracle.
    */
  def foreachBatchSink(s: SparkSession, dir: String): DataFrame = {
    // deterministic pid-scoped scratch path, cleared up-front:
    // foreachBatch must append per micro-batch, so Overwrite can't be
    // used inside the sink — but a fresh createTempDirectory per
    // invocation would leak a full copy of the events table into /tmp
    // on every run (bench sweeps this twice per round)
    val out = graft.util.ScratchIndex
      .dir(s"febatch_${graft.util.ScratchIndex.corpusTag(dir)}").toString
    graft.util.ScratchIndex.deleteRecursively(new java.io.File(out))
    val src = eventsStream(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    // qid-scoped checkpoint (NOT a fixed name): the sink dir above is
    // cleared per run, so a reused source WAL would mark every file
    // already-processed and leave the fresh sink empty
    drain(s)(src.writeStream
      .option("checkpointLocation", graft.util.ScratchIndex
        .dir(s"ck_febatch_${qid.incrementAndGet()}").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()): Unit
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy("event_type")
  }

  val foreachBatchSinkSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` keyed on
    * event_id — the built-in stateful dedup operator, with the
    * watermark bounding how long each key's fingerprint is retained
    * (the at-scale requirement: unbounded dedup state is a leak). The
    * input is the stream unioned with itself, so every event arrives
    * twice and the operator provably halves it back; the oracle is
    * the plain per-type aggregate over the original events.
    */
  def dedupExactStream(s: SparkSession, dir: String): DataFrame = {
    def src = eventsStream(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        col("event_time"))
    val doubled = src.unionByName(src)
    val deduped = doubled
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
    runToCompletion(s, deduped, OutputMode.Complete())
      .orderBy("event_type")
  }

  val dedupExactStreamSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The tumbling-window aggregation on the RocksDB state store —
    * the state backend for large state at scale (spills to local
    * disk + changelog instead of holding every key on-heap like the
    * default HDFS-backed map). The provider is fixed into the query
    * at stream start, so it's set for this run and restored after;
    * results are backend-independent (same oracle as the HDFS-backed
    * form — that IS the check).
    */
  def tumblingCountsRocksDb(s: SparkSession, dir: String): DataFrame =
    withRocksDb(s)(tumblingCounts(s, dir))

  /** Rate-source smoke: the built-in synthetic streaming source
    * (`format("rate")`) driven for a bounded number of rows — the
    * kafka-less way to exercise a live unbounded source's planning
    * path. Row content is wall-clock-dependent → rows-only for the
    * driver; the row COUNT is pinned by reading exactly the first
    * trigger's batch.
    */
  def rateSource(s: SparkSession, dir: String): DataFrame = {
    val src = s.readStream.format("rate")
      .option("rowsPerSecond", "100").option("numPartitions", "2").load()
      .select(col("value"))
    val name = s"graft_rate_${qid.incrementAndGet()}"
    drain(s)(src.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation",
        graft.util.ScratchIndex.dir(s"ck_$name").toString)
      .format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()): Unit
    drained(s, name).agg(count(lit(1)).as("n_rows"),
      min(col("value")).as("first_value"))
  }

  /** Streaming gap-fill: the watermarked tumbling agg streams into
    * the sink; densification (dense hour spine + zero-fill + forward
    * fill) runs OVER the sink relation at serve time — the timeline-
    * serving shape, where the stream maintains sparse aggregates and
    * the dense view derives on read. Output equals the batch
    * `events_gapfill` exactly (shared oracle): stream+densify ≡
    * batch gap-fill on the same data.
    */
  def gapFillStream(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        // exact-cents avg — see ops.Events.gapFill (shared oracle)
        (sum(round(col("value") * 100).cast("long"))
          / (lit(100.0) * count(lit(1)))).as("avg_value"))
    val sinkOut = runToCompletion(s, agg, OutputMode.Complete())
      .select(expr("unix_timestamp(window.start) div 3600").as("bucket"),
        col("event_type"), col("n_events"), col("sum_value"),
        col("avg_value"))
    // the spine derives FROM the sink and joins back against it; the
    // memory-sink relation carries fixed attribute ids, so localize
    // the aggregate to break the self-join ambiguity. BOUNDED BY
    // CONSTRUCTION at |hours in timeline| × |event types| rows (the
    // complete-mode hourly aggregate — 3,600 at sf0.1; ~9k/type-year
    // even on a years-long timeline), NOT by the event volume; at
    // scale the sink is a real table and densifyHourly re-scans it,
    // with no driver localization anywhere
    val sink = {
      val rows = sinkOut.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), sinkOut.schema)
    }
    graft.ops.Events.densifyHourly(sink)
  }

  /** Streaming heavy hitters: the approx_top_k sketch as streaming
    * aggregation state (ObjectHashAggregate buffers in the state
    * store, merged across micro-batches), estimated after the drain.
    * Capacity ≥ distinct event types, so — like the batch
    * sketch_topk_exact — the sketch is provably exact and the oracle
    * is a full hash-match against the exact GROUP BY, not a
    * rows-only waiver: a streaming query with batch-exact semantics.
    */
  def topkSketchStream(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .select(col("event_type"))
      .agg(expr("approx_top_k(event_type, 8, 64)").as("tk"))
    runToCompletion(s, agg, OutputMode.Complete())
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("event_type"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("event_type"))
  }

  val topkSketchStreamSql: String = graft.ops.Skew.topkSketchSql

  /** Streaming QUANTILE state via Spark's `kll_sketch_agg_double`
    * at the batch rollup's `k` (`Skew.KllK`): the sketch lives in the
    * state store per event type and absorbs each micro-batch
    * incrementally — the streaming face of the batch
    * `sketch_kll_rollup`. Approximate output → rows-only; the spec
    * bounds every reported quantile's exact rank like the batch one.
    */
  def kllSketchStream(s: SparkSession, dir: String): DataFrame = {
    def q(rank: Double) =
      round(kll_sketch_get_quantile_double(col("sk"), lit(rank)), 6)
    val agg = eventsStream(s, dir)
      .select(col("event_type"), col("value"))
      .groupBy(col("event_type"))
      .agg(kll_sketch_agg_double(col("value"), graft.ops.Skew.KllK).as("sk"),
        count(lit(1)).as("n_events"))
    runToCompletion(s, agg, OutputMode.Complete())
      .select(col("event_type"), col("n_events"),
        q(0.5).as("approx_p50"), q(0.9).as("approx_p90"))
      .orderBy("event_type")
  }

  /** Checkpoint recovery / exactly-once across restarts — the
    * fault-tolerance contract that makes streaming viable at scale:
    * a file-source query consumes the first half of the landing
    * files, is STOPPED (planned restart ≈ crash, same recovery
    * path), more files arrive, and a brand-new query — same
    * checkpoint, same sink — resumes from the recorded offsets. The
    * source WAL (checkpoint offsets) guarantees no file is re-read;
    * the parquet sink's _spark_metadata commit log guarantees
    * readers see only committed batches. The result aggregate is
    * over the SINK's committed output, so the DuckDB oracle hash
    * proves end-to-end exactly-once: every event exactly once,
    * across a restart. (StreamRecoverySpec additionally pins zero
    * event_id duplicates and full coverage.)
    */
  /** Scratch root for `checkpointRecovery` — pid-scoped via
    * ScratchIndex.dir: the run starts by recursively deleting it, so
    * a path shared across JVMs would let two concurrent harnesses
    * delete each other's in-flight checkpoint/sink. Exposed so the
    * spec derives the offsets path from the same rule.
    */
  private[graft] def ckrecRoot(dir: String): java.io.File =
    graft.util.ScratchIndex.dir(s"ckrec_${graft.util.ScratchIndex.corpusTag(dir)}")

  def checkpointRecovery(s: SparkSession, dir: String): DataFrame = {
    val root = ckrecRoot(dir)
    // fresh deterministic scratch per run: recovery must be
    // demonstrated from ITS OWN first half, not a previous run's
    graft.util.ScratchIndex.deleteRecursively(root)
    val landing = s"$root/landing"
    val out = s"$root/out"
    val ck = s"$root/ck"
    // the two halves are deterministic functions of the input dir —
    // memoized per JVM so repeat runs stage them with file COPIES
    // (tmpfs) instead of two batch Spark jobs; the landing itself
    // stays per-run (the second half must arrive only mid-run)
    def half(tag: String, parity: Int): String =
      graft.util.ScratchIndex.materializePath(s,
        s"ckrec_half_${tag}_${graft.util.ScratchIndex.corpusTag(dir)}") { tmp =>
        graft.util.Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .filter(pmod(col("event_id"), lit(2)) === parity).coalesce(2)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
      }
    val (evenHalf, oddHalf) = (half("even", 0), half("odd", 1))
    def stage(src: String, prefix: String): Unit = {
      new java.io.File(landing).mkdirs(): Unit
      new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.copy(f.toPath, new java.io.File(landing,
            s"${prefix}_${f.getName}").toPath): Unit
        }
    }
    stage(evenHalf, "e")
    def runOnce(): Unit =
      drain(s)(s.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .withColumn("vcat",
          when(col("value") >= 0, "pos").otherwise("neg"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode(OutputMode.Append()).start()): Unit
    runOnce() // consumes the even half, then "crashes" (stop)
    // late arrivals land while no query is running
    stage(oddHalf, "o")
    runOnce() // NEW query, SAME checkpoint: resumes, no re-read
    s.read.parquet(out) // _spark_metadata: committed batches only
      .groupBy(col("event_type"), col("vcat"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_distinct"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("event_type", "vcat")
  }

  val checkpointRecoverySql: String =
    """SELECT event_type,
      |       CASE WHEN value >= 0 THEN 'pos' ELSE 'neg' END AS vcat,
      |       count(*) AS n,
      |       count(DISTINCT event_id) AS n_distinct,
      |       round(sum(value), 4) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY event_type, vcat""".stripMargin

  /** Arbitrary stateful processing via transformWithState — the
    * Spark 4 state-processor API that supersedes
    * flatMapGroupsWithState: typed state CELLS (Value/List/Map) per
    * key instead of one opaque blob, per-cell TTL, timers, and
    * initial-state bootstrap. Requires the RocksDB state store
    * (set for this query, restored after — the provider is fixed
    * into the query at stream start). The processor keeps per-user
    * running (count, sum) totals; emissions are reduced to each
    * user's most-complete one (the sessionize discipline), so the
    * result is micro-batch-count invariant and the plain per-user
    * SQL aggregate is an exact oracle.
    */
  def twsTotals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withRocksDb(s) {
      val src = eventsStream(s, dir)
        .select(col("user_id"), col("value")).as[EvVal]
      val out = src.groupByKey(_.user_id)
        .transformWithState(new TotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
      runToCompletion(s, out.toDF(), OutputMode.Append())
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("n_events"), col("sum_value")),
          col("n_events")).as("fin"))
        .select(col("user_id"), col("fin.n_events").as("n_events"),
          round(col("fin.sum_value"), 4).as("sum_value"))
        .orderBy("user_id")
    }
  }

  val twsTotalsSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** MapState on transformWithState: per-user per-event-type running
    * totals in a typed map cell (see [[TypedTotalsProcessor]]) —
    * with `twsTotals` (ValueState) and `twsSessionTimers` (ListState)
    * this completes the typed state-cell triple. Same RocksDB + max-
    * emission discipline; oracle = the plain two-key SQL aggregate.
    */
  def twsMapTotals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withRocksDb(s) {
      val src = eventsStream(s, dir)
        .select(col("user_id"), col("event_type"), col("value")).as[EvTyped]
      val out = src.groupByKey(_.user_id)
        .transformWithState(new TypedTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
      runToCompletion(s, out.toDF(), OutputMode.Append())
        .groupBy(col("user_id"), col("event_type"))
        .agg(max_by(struct(col("n_events"), col("sum_value")),
          col("n_events")).as("fin"))
        .select(col("user_id"), col("event_type"),
          col("fin.n_events").as("n_events"),
          round(col("fin.sum_value"), 4).as("sum_value"))
        .orderBy("user_id", "event_type")
    }
  }

  val twsMapTotalsSql: String =
    """SELECT user_id, event_type, count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin

  /** Initial-state bootstrap on transformWithState (see
    * [[SeededTotalsProcessor]]): even-event_id history is aggregated
    * as a BATCH relation and seeds the state store; only the odd half
    * streams. The final per-user totals must equal the all-events
    * aggregate — proving seeded state + incremental continuation ≡
    * full rebuild (the rel_scd2_incremental discipline, in streaming
    * form) — and `n_seed_events` surfaces what arrived via the
    * initial-state path. Users whose events are all-even never appear
    * in the stream and are absent from the output by contract (the
    * oracle is live-driven for the same reason).
    */
  def twsBootstrap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withRocksDb(s) {
      val seed = graft.util.Tables.events(s, dir)
        .filter(col("event_id") % 2 === 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_seed"), sum(col("value")).as("sum_seed"))
        .as[SeedTotals]
        .groupByKey(_.user_id)
      val src = eventsStream(s, dir)
        .filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("value")).as[EvVal]
      val out = src.groupByKey(_.user_id)
        .transformWithState(new SeededTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append(), seed)
      runToCompletion(s, out.toDF(), OutputMode.Append())
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("n_events"), col("sum_value"),
          col("n_seed_events")), col("n_events")).as("fin"))
        .select(col("user_id"), col("fin.n_events").as("n_events"),
          round(col("fin.sum_value"), 4).as("sum_value"),
          col("fin.n_seed_events").as("n_seed_events"))
        .orderBy("user_id")
    }
  }

  val twsBootstrapSql: String =
    """WITH seed AS (
      |  SELECT user_id, count(*) AS n_seed, sum(value) AS sum_seed
      |  FROM events WHERE event_id % 2 = 0 GROUP BY 1
      |), live AS (
      |  SELECT user_id, count(*) AS n_live, sum(value) AS sum_live
      |  FROM events WHERE event_id % 2 = 1 GROUP BY 1
      |)
      |SELECT l.user_id,
      |       l.n_live + COALESCE(s.n_seed, 0) AS n_events,
      |       round(COALESCE(s.sum_seed, 0) + l.sum_live, 4) AS sum_value,
      |       COALESCE(s.n_seed, 0) AS n_seed_events
      |FROM live l LEFT JOIN seed s USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** State TTL on transformWithState (see [[TtlCellProcessor]]): each
    * user's totals live in one ValueState cell that expires after
    * 20 min of EVENT-time inactivity — lazily on the write that finds
    * it stale, physically by an event-time timer that clears idle
    * state once the watermark passes `last write + TTL`. Emissions are
    * the evicted snapshots; the per-user rollup of those is a pure
    * function of the event timestamps and takes a full DuckDB oracle.
    * A TTL that failed to evict (or evicted early) would change which
    * runs are emitted and hash-diverge.
    */
  def twsTtlEvictions(s: SparkSession, dir: String): DataFrame =
    withRocksDb(s)(twsTtlEvictionsCore(s, eventsStream(s, dir)))

  /** Core of `twsTtlEvictions` against any events-shaped stream — the
    * spec feeds a staged multi-file landing through it. Caller owns
    * the state-store-provider conf.
    */
  private[graft] def twsTtlEvictionsCore(s: SparkSession, src: DataFrame)
      : DataFrame = {
    import s.implicits._
    val ds = src
      .withWatermark("event_time", "1 hour")
      .select(col("user_id"), col("ts_us").as("tsUs"), col("value"))
      .as[EvTsVal]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new TtlCellProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
    runToCompletion(s, out.toDF(), OutputMode.Append())
      // evictions are unique by construction (a cleared cell cannot
      // re-emit); dedup by eviction identity anyway so a stale timer
      // re-fire can never silently double a count
      .dropDuplicates("user_id", "expire_us")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_evictions"),
        sum(col("n_events")).as("evicted_events"),
        round(sum(col("sum_value")), 4).as("evicted_sum"),
        max(col("expire_us")).as("last_expire_us"))
      .orderBy("user_id")
  }

  /** Oracle: evicted cells are the >20-min-gap runs of each user's
    * event sequence; a run is emitted iff a LATER run exists for that
    * user (lazy expiry-on-write) or the final watermark — floor-ms of
    * max ts minus the 1 h delay — strictly passes `run end + TTL`
    * (timer expiry).
    */
  val twsTtlEvictionsSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
      |), wm AS (
      |  SELECT ((max(ts_us) // 1000) - 3600000) * 1000 AS wm_us FROM ev
      |), marked AS (
      |  SELECT user_id, ts_us, value,
      |         CASE WHEN lag(ts_us) OVER w IS NULL
      |                OR ts_us - lag(ts_us) OVER w > 1200000000
      |              THEN 1 ELSE 0 END AS new_run
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
      |), runs AS (
      |  SELECT user_id, ts_us, value,
      |         sum(new_run) OVER (PARTITION BY user_id ORDER BY ts_us
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
      |  FROM marked
      |), per_run AS (
      |  SELECT user_id, rid, count(*) AS n, sum(value) AS sv,
      |         max(ts_us) AS e
      |  FROM runs GROUP BY 1, 2
      |), flagged AS (
      |  SELECT user_id, rid, n, sv, e,
      |         max(rid) OVER (PARTITION BY user_id) AS max_rid
      |  FROM per_run
      |)
      |SELECT user_id, count(*) AS n_evictions,
      |       CAST(sum(n) AS BIGINT) AS evicted_events,
      |       round(sum(sv), 4) AS evicted_sum,
      |       max(e + 1200000000) AS last_expire_us
      |FROM flagged, wm
      |WHERE rid < max_rid OR e + 1200000000 < wm_us
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Event-time TIMERS on transformWithState: per-user session-timeout
    * emission (see [[SessionTimerProcessor]]). Each >30-min-gap
    * session is emitted by a timer once the watermark (1-hour delay)
    * passes its close point; the final answer aggregates the emitted
    * (= closed) sessions per user. The closed-session set is a pure
    * function of the data and the final watermark
    * (`floor(max(ts_us)/1000)ms − 1h`), so — unlike the other timer
    * shapes — this query has an exact SQL oracle: sessions whose
    * `end + gap ≤ watermark`, replayed by gaps-and-islands in DuckDB.
    * Requires RocksDB like every tws query. Micro-batch invariance
    * (timers firing across many triggers emit the same session set)
    * is spec-replayed one-file-per-trigger over time-range-split
    * landings.
    */
  def twsSessionTimers(s: SparkSession, dir: String): DataFrame =
    withRocksDb(s)(twsSessionTimersCore(s, eventsStream(s, dir)))

  /** Core of `twsSessionTimers` against any events-shaped stream —
    * the spec feeds a staged multi-file landing through it. Caller
    * owns the state-store-provider conf.
    */
  private[graft] def twsSessionTimersCore(s: SparkSession, src: DataFrame)
      : DataFrame = {
    import s.implicits._
    val ds = src
      .withWatermark("event_time", "1 hour")
      .select(col("user_id"), col("ts_us").as("tsUs")).as[Ev]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
    runToCompletion(s, out.toDF(), OutputMode.Append())
      // emissions are unique by construction (emitted-count guard);
      // dedup by session identity anyway so a re-fire can never
      // silently double a count
      .dropDuplicates("user_id", "start_us")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_closed_sessions"),
        sum(col("n_events")).as("n_closed_events"),
        max(col("duration_ms")).as("max_session_ms"))
      .orderBy("user_id")
  }

  /** Oracle: watermark = floor(max_ts_us/1000)ms − 1h (Spark tracks
    * event-time stats in milliseconds); a session is closed iff
    * `end + gap < watermark` in µs (strict — see
    * [[SessionTimerProcessor]]).
    */
  val twsSessionTimersSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
      |), wm AS (
      |  SELECT ((max(ts_us) // 1000) - 3600000) * 1000 AS wm_us FROM ev
      |), marked AS (
      |  SELECT user_id, ts_us,
      |         CASE WHEN lag(ts_us) OVER w IS NULL
      |                OR ts_us - lag(ts_us) OVER w > 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
      |), sess AS (
      |  SELECT user_id, ts_us,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked
      |), per_session AS (
      |  SELECT user_id, sid, min(ts_us) AS s, max(ts_us) AS e,
      |         count(*) AS n
      |  FROM sess GROUP BY 1, 2
      |)
      |SELECT user_id, count(*) AS n_closed_sessions,
      |       CAST(sum(n) AS BIGINT) AS n_closed_events,
      |       max((e - s) // 1000) AS max_session_ms
      |FROM per_session, wm
      |WHERE e + 1800000000 < wm_us
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Rows dropped by the watermark in the last `lateDataDrop` run per
    * sf dir — observability hook for the spec's dropped-rows assert.
    */
  private[graft] val lateDropCounts =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Watermark LATE-DATA semantics, proven end-to-end: the state-
    * bounding contract that makes unbounded streaming aggregation
    * viable — without it, window state grows forever and every
    * straggler reopens history.
    *
    * Staged replay (one file per trigger, modification-time ordered):
    *  1. every event, one file → the watermark advances to
    *     max(event_time) − 1 h at batch end;
    *  2. a far-future flush event → the first-stage windows are
    *     evicted + emitted under the advanced watermark, which then
    *     moves past every original window;
    *  3. LATE REPLAYS — duplicates of the first hour's events
    *     (negated ids, same values) arriving after their windows were
    *     evicted → the state operator DROPS them (they'd otherwise
    *     reopen closed windows and re-emit them). The flush's own
    *     window stays pending and never surfaces.
    *
    * Ordering matters, and is itself the documented Spark contract:
    * a watermark only GUARANTEES a drop once eviction has run, i.e.
    * data later than the threshold that arrives in the very next
    * trigger may still be aggregated ("may or may not get
    * aggregated" in the Structured Streaming guide). The flush
    * trigger between on-time and late stages is what makes the drop
    * deterministic here — at production scale that spacing is the
    * steady stream itself.
    *
    * The oracle aggregates the ORIGINAL events only: if the engine
    * failed to drop the late replays, the first hour's buckets would
    * double-count (or re-emit) and the hash would diverge — so the
    * oracle equality IS the proof of the drop. The spec additionally
    * pins numRowsDroppedByWatermark > 0 (drops really happened, the
    * late file wasn't just ignored).
    */
  def lateDataDrop(s: SparkSession, dir: String): DataFrame = {
    // The landing is a DETERMINISTIC function of the input dir (three
    // staged files with fixed mod times), and the streaming source
    // never writes into it — so it is memoized per (dir, JVM) like the
    // batch scratch indexes: rebuilding it per run cost three batch
    // Spark jobs (~1 s at sf0.1) that the measured query is not about.
    // Only the checkpoint (qid-scoped, below) must be fresh per run.
    val landingPath = graft.util.ScratchIndex.materializePath(s,
      s"late_landing_${graft.util.ScratchIndex.corpusTag(dir)}")(tmp =>
        buildLateLanding(s, dir, new java.io.File(tmp)))
    lateDataDropCore(s, dir, landingPath)
  }

  /** Stages the late-drop landing into `landing`: on-time events,
    * a watermark-flush marker, then late replays of the first hour.
    */
  private def buildLateLanding(s: SparkSession, dir: String,
      landing: java.io.File): Unit = {
    landing.mkdirs(): Unit
    val ev = graft.util.Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"), col("ts_us"))
    val bounds =
      ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val hourUs = 3600L * 1000000L
    // land each stage as ONE file with a strictly increasing mod time:
    // FileStreamSource orders by (modTime, path), and maxFilesPerTrigger=1
    // turns the three files into three deterministic micro-batches
    def land(df: DataFrame, name: String, order: Int): Unit = {
      val tmp = new java.io.File(landing.getParentFile, s"stage_$name")
      df.coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.toString)
      val part = tmp.listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(landing, f"$order%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath): Unit
      dst.setLastModified(1600000000000L + order * 60000L): Unit
      graft.util.ScratchIndex.deleteRecursively(tmp)
    }
    land(ev, "ontime", 1)
    land(ev.limit(1).select(lit(-1L).as("event_id"),
      lit("view").as("event_type"), lit(0.0).as("value"),
      lit(hi + 3 * hourUs).as("ts_us")), "flush", 2)
    land(ev.filter(col("ts_us") < lo + hourUs)
      .withColumn("event_id", -col("event_id")), "late", 3)
  }

  private def lateDataDropCore(s: SparkSession, dir: String,
      landing: String): DataFrame = {
    val agg = s.readStream
      .schema("event_id LONG, event_type STRING, value DOUBLE, ts_us LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
    val name = s"graft_stream_late_${qid.incrementAndGet()}"
    val q = drain(s)(agg.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation",
        graft.util.ScratchIndex.dir(s"ck_$name").toString)
      .format("memory").queryName(name).start())
    lateDropCounts.put(dir, q.recentProgress
      .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum)
    drained(s, name)
      .select(expr("unix_timestamp(window.start) div 3600").as("bucket"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("bucket", "event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_ckpt_recovery"   -> (checkpointRecovery _),
    "stream_quantile_sketch" -> (kllSketchStream _),
    "stream_topk_sketch"     -> (topkSketchStream _),
    "stream_gapfill"         -> (gapFillStream _),
    "stream_tumbling_window" -> (tumblingCounts _),
    "stream_sliding_window"  -> (slidingCounts _),
    "stream_sessionize"      -> (sessionCounts _),
    "stream_stream_join"     -> (streamStreamJoin _),
    "stream_foreachbatch"    -> (foreachBatchSink _),
    "stream_dedup_exact"     -> (dedupExactStream _),
    "stream_rocksdb_window"  -> (tumblingCountsRocksDb _),
    "stream_rate_source"     -> (rateSource _),
    "stream_late_drop"       -> (lateDataDrop _),
    "stream_tws_totals"      -> (twsTotals _),
    "stream_tws_timers"      -> (twsSessionTimers _),
    "stream_tws_map"         -> (twsMapTotals _),
    "stream_tws_bootstrap"   -> (twsBootstrap _),
    "stream_tws_ttl"         -> (twsTtlEvictions _),
    "stream_state_source"    -> (stateSourceAgg _),
  )

  val oracle: Map[String, String] = Map(
    "stream_ckpt_recovery"   -> checkpointRecoverySql,
    "stream_topk_sketch"     -> topkSketchStreamSql,
    "stream_gapfill"         -> graft.ops.Events.gapFillSql,
    "stream_tumbling_window" -> tumblingCountsSql,
    "stream_sliding_window"  -> slidingCountsSql,
    "stream_sessionize"      -> sessionCountsSql,
    "stream_stream_join"     -> streamStreamJoinSql,
    "stream_foreachbatch"    -> foreachBatchSinkSql,
    "stream_dedup_exact"     -> dedupExactStreamSql,
    "stream_rocksdb_window"  -> tumblingCountsSql,
    // late replays dropped ⇒ original-events aggregate: oracle equality
    // IS the late-drop proof (doubled first-hour buckets otherwise)
    "stream_late_drop"       -> tumblingCountsSql,
    "stream_tws_totals"      -> twsTotalsSql,
    "stream_tws_timers"      -> twsSessionTimersSql,
    "stream_tws_map"         -> twsMapTotalsSql,
    "stream_tws_bootstrap"   -> twsBootstrapSql,
    "stream_tws_ttl"         -> twsTtlEvictionsSql,
    "stream_state_source"    -> stateSourceAggSql,
  )
}
