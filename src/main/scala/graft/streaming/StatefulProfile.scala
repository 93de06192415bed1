package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo,
  MapState,
  OutputMode,
  StatefulProcessor,
  StatefulProcessorWithInitialState,
  TTLConfig,
  TimeMode,
  TimerValues,
  ValueState
}

/** Typed rows for the transformWithState user-profile operator. */
case class TwsEvent(user_id: Long, event_type: String, cents: Long, us: Long)
case class TwsTotals(n: Long, cents: Long, firstUs: Long, lastUs: Long)
case class TwsProfile(
    user_id: Long,
    n_events: Long,
    n_types: Long,
    cents_sum: Long,
    first_us: Long,
    last_us: Long,
    dom_type: String)

/** Per-user running profile on the new arbitrary-state API
  * (`transformWithState`, Spark 4): a [[ValueState]] carries the scalar
  * totals and a [[MapState]] the per-event-type counts, so the dominant
  * type — an argmax over a per-key DISTRIBUTION, which no single
  * streaming aggregation monoid exposes — is re-derived from live state
  * at every update. State is O(#types) per user, not O(#events): the
  * bounded-state posture that makes the operator safe against an
  * unbounded stream.
  *
  * Emission contract: one row per key per micro-batch that touched it
  * (Update mode), with strictly increasing `n_events` — so "max
  * n_events per key" is the final profile under any batch split, the
  * fact the multi-batch spec test leans on.
  */
trait ProfileStateCore { self: StatefulProcessor[Long, TwsEvent, TwsProfile] =>

  @transient protected var totals: ValueState[TwsTotals] = _
  @transient protected var typeCounts: MapState[String, Long] = _

  protected def initStates(): Unit = {
    totals = getHandle.getValueState("totals", Encoders.product[TwsTotals], TTLConfig.NONE)
    typeCounts =
      getHandle.getMapState("typeCounts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  }

  protected def currentTotals(): TwsTotals =
    if (totals.exists()) totals.get()
    else TwsTotals(0L, 0L, Long.MaxValue, Long.MinValue)

  protected def bumpType(tp: String, dn: Long): Unit = {
    val prev = if (typeCounts.containsKey(tp)) typeCounts.getValue(tp) else 0L
    typeCounts.updateValue(tp, prev + dn)
  }

  /** Fold one batch slice into state and emit the updated profile. */
  protected def foldBatch(key: Long, rows: Iterator[TwsEvent]): Iterator[TwsProfile] = {
    var t = currentTotals()
    // accumulate the batch slice locally, then touch the state store
    // O(types-in-batch) times, not O(events) — at bench scale this is the
    // difference between 1.8M and ~7.5k RocksDB point ops per drain
    val batchCounts = scala.collection.mutable.HashMap.empty[String, Long]
    rows.foreach { e =>
      t = TwsTotals(
        t.n + 1,
        t.cents + e.cents,
        math.min(t.firstUs, e.us),
        math.max(t.lastUs, e.us))
      batchCounts.update(e.event_type, batchCounts.getOrElse(e.event_type, 0L) + 1)
    }
    totals.update(t)
    batchCounts.foreach { case (tp, dn) => bumpType(tp, dn) }
    // dominant type: max count, tie broken to the lexicographically
    // smallest type (matches the oracle's (n DESC, event_type) rank)
    var domType: String = null
    var domN = -1L
    var nTypes = 0L
    typeCounts.iterator().foreach { case (tp, n) =>
      nTypes += 1
      if (n > domN || (n == domN && tp < domType)) { domN = n; domType = tp }
    }
    Iterator.single(TwsProfile(key, t.n, nTypes, t.cents, t.firstUs, t.lastUs, domType))
  }
}

class UserProfileProcessor
    extends StatefulProcessor[Long, TwsEvent, TwsProfile]
    with ProfileStateCore {

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = initStates()

  override def handleInputRows(
      key: Long,
      rows: Iterator[TwsEvent],
      timerValues: TimerValues): Iterator[TwsProfile] = foldBatch(key, rows)
}

/** Per-(user, type) backfill slice feeding the bootstrap processor. */
case class TwsTypeSlice(
    user_id: Long,
    event_type: String,
    type_n: Long,
    cents: Long,
    first_us: Long,
    last_us: Long)

/** The BACKFILL-then-stream face of the API
  * ([[StatefulProcessorWithInitialState]]): state is seeded from a batch
  * relation of per-(user, type) aggregates — `handleInitialState` runs
  * once per initial-state row BEFORE the first micro-batch — and the
  * stream then folds only the delta. This is the lake-migration story:
  * a new stateful pipeline goes live against historical state computed
  * as one batch job instead of replaying the history through the stream.
  */
class BootstrapProfileProcessor
    extends StatefulProcessorWithInitialState[Long, TwsEvent, TwsProfile, TwsTypeSlice]
    with ProfileStateCore {

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = initStates()

  override def handleInitialState(
      key: Long,
      initialState: TwsTypeSlice,
      timerValues: TimerValues): Unit = {
    val t = currentTotals()
    totals.update(
      TwsTotals(
        t.n + initialState.type_n,
        t.cents + initialState.cents,
        math.min(t.firstUs, initialState.first_us),
        math.max(t.lastUs, initialState.last_us)))
    bumpType(initialState.event_type, initialState.type_n)
  }

  override def handleInputRows(
      key: Long,
      rows: Iterator[TwsEvent],
      timerValues: TimerValues): Iterator[TwsProfile] = foldBatch(key, rows)
}

case class TwsSessEvent(user_id: Long, us: Long, cents: Long)
case class TwsSessAcc(start_us: Long, last_us: Long, n: Long, cents: Long)
case class TwsSession(user_id: Long, session_start_us: Long, n_events: Long, cents_sum: Long)

/** EVENT-TIME TIMER sessionization on transformWithState — the timer
  * half of the new API ([[StatefulProcessor.handleExpiredTimer]]), which
  * no aggregation-based session operator exposes: one ValueState session
  * accumulator per user, closed EITHER inline when a same-batch gap
  * exceeds `gapUs`, OR by the event-time timer registered at
  * last_event + gap once the watermark passes it — the live-stream
  * mechanism that emits a finished session without waiting for the
  * user's next event. Every session emits exactly once (the stale timer
  * is deleted before the new one is registered), so the Update-mode sink
  * needs no dedup.
  *
  * Cross-batch consistency with the batch gaps-and-islands oracle holds
  * whenever the watermark delay ≥ the session gap: a timer can only fire
  * early for a user whose next event lies beyond watermark + gap, a gap
  * the batch computation also splits.
  */
class SessionTimerProcessor(gapUs: Long)
    extends StatefulProcessor[Long, TwsSessEvent, TwsSession] {

  @transient private var acc: ValueState[TwsSessAcc] = _

  private def expiryMs(lastUs: Long): Long = (lastUs + gapUs) / 1000 + 1

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    acc = getHandle.getValueState("session", Encoders.product[TwsSessAcc], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[TwsSessEvent],
      timerValues: TimerValues): Iterator[TwsSession] = {
    // arrival order within a batch is arbitrary; session semantics are
    // defined over event time, so buffer-and-sort the batch slice
    val sorted = rows.toArray.sortBy(_.us)
    val closed = Array.newBuilder[TwsSession]
    var cur: TwsSessAcc = null
    if (acc.exists()) {
      cur = acc.get()
      getHandle.deleteTimer(expiryMs(cur.last_us))
    }
    sorted.foreach { e =>
      if (cur == null) cur = TwsSessAcc(e.us, e.us, 1L, e.cents)
      else if (e.us - cur.last_us > gapUs) {
        closed += TwsSession(key, cur.start_us, cur.n, cur.cents)
        cur = TwsSessAcc(e.us, e.us, 1L, e.cents)
      } else cur = TwsSessAcc(cur.start_us, e.us, cur.n + 1, cur.cents + e.cents)
    }
    acc.update(cur)
    getHandle.registerTimer(expiryMs(cur.last_us))
    closed.result().iterator
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[TwsSession] = {
    val cur = acc.get()
    acc.clear()
    Iterator.single(TwsSession(key, cur.start_us, cur.n, cur.cents))
  }
}

object StatefulProfile {

  /** Project the raw event stream/batch to the processor's typed input:
    * exact integer cents (the house `round(value*100)` idiom) and epoch
    * micros, both computed by codegen'd SQL expressions BEFORE the typed
    * boundary.
    */
  def typedEvents(events: DataFrame): DataFrame =
    events.select(
      col("user_id"),
      col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
      unix_micros(col("ts")).as("us"))

  /** The transformWithState pipeline over an event DataFrame (streaming
    * or — for plan construction only — batch).
    */
  def profileStream(events: DataFrame): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    typedEvents(events)
      .as[TwsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserProfileProcessor, TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Drain the bounded event stream through the processor with the
    * RocksDB state store (required by transformWithState), restoring the
    * session's provider afterwards. Returns the final per-user profiles:
    * within each key, `n_events` strictly increases across emissions, so
    * the max-n_events row is the final state under any micro-batch split.
    */
  def runUserProfiles(spark: SparkSession, sfDir: String): DataFrame = {
    val drained = drainUpdate(spark, profileStream(StreamingOps.eventsStream(spark, sfDir)))
    finalProfiles(drained)
  }

  /** Backfill-then-stream: per-(user, type) aggregates of events at or
    * before `cutUs` seed the processor's state as INITIAL STATE; only
    * events after `cutUs` flow through the stream. The serving answer
    * merges live updates with a bootstrap passthrough for users the
    * delta never touched — and equals the full-history batch profile
    * (q614's oracle) exactly.
    */
  def runBootstrappedProfiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = graft.sources.Tables.events(spark, sfDir)
    val mm = events.selectExpr("min(unix_micros(ts))", "max(unix_micros(ts))").collect().head
    val cutUs = (mm.getLong(0) + mm.getLong(1)) / 2

    val slices = typedEvents(events)
      .filter(col("us") <= cutUs)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("type_n"),
        sum(col("cents")).as("cents"),
        min(col("us")).as("first_us"),
        max(col("us")).as("last_us"))
      .as[TwsTypeSlice]

    val delta = StreamingOps.eventsStream(spark, sfDir).filter(unix_micros(col("ts")) > cutUs)
    val ss = delta.sparkSession
    val live = {
      import ss.implicits._
      val out = typedEvents(delta)
        .as[TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(
          new BootstrapProfileProcessor,
          TimeMode.None(),
          OutputMode.Update(),
          slices.groupByKey(_.user_id))
        .toDF()
      finalProfiles(drainUpdate(spark, out))
    }

    // bootstrap passthrough for users the delta never touched (serving
    // merge: live wins, else backfill) — dominant type by the same
    // (n DESC, type ASC) rank as the processor
    slices.toDF().createOrReplaceTempView("tws_bootstrap_slices")
    val bootstrapProfiles = spark.sql(
      """SELECT s.user_id,
                CAST(sum(s.type_n) AS BIGINT) AS n_events,
                CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(s.cents) AS BIGINT) AS cents_sum,
                CAST(min(s.first_us) AS BIGINT) AS first_us,
                CAST(max(s.last_us) AS BIGINT) AS last_us,
                min(named_struct('neg_n', -s.type_n, 'tp', s.event_type)).tp AS dom_type
         FROM tws_bootstrap_slices s GROUP BY s.user_id""")
    bootstrapProfiles
      .join(live.select(col("user_id")), Seq("user_id"), "left_anti")
      .unionByName(live)
  }

  /** Latest emission per key (max n_events — see emission contract). */
  def finalProfiles(drained: DataFrame): DataFrame = {
    val ss = drained.sparkSession
    import ss.implicits._
    drained
      .as[TwsProfile]
      .groupByKey(_.user_id)
      .reduceGroups((a, b) => if (a.n_events >= b.n_events) a else b)
      .map(_._2)
      .toDF()
  }

  /** 30 minutes, in micros — matches the session-window family's gap. */
  val SessionGapUs: Long = 30L * 60 * 1000000

  /** The timer-session pipeline over an event stream carrying a `ts`
    * watermark column. The 1-hour delay ≥ the 30-minute gap — the
    * condition under which timer closes agree with batch
    * gaps-and-islands (see [[SessionTimerProcessor]]).
    */
  def sessionTimerStream(events: DataFrame, gapUs: Long = SessionGapUs): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[TwsSessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapUs), TimeMode.EventTime(), OutputMode.Update())
      .toDF()
  }

  /** Drain timer sessions over the bounded events replay. Bounded-replay
    * flush: a far-future SENTINEL event from a side directory jumps the
    * watermark past every real session after its batch, so the trailing
    * no-data micro-batch fires all open-session timers (the
    * [[StreamingOps.runStreamingSessionAgg]] idiom); the sentinel's own
    * key is filtered out.
    */
  def runTimerSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = StreamingOps.eventsStream(spark, sfDir)
      .unionByName(StreamingOps.sentinelEvents(spark, "sentinel"))
    drainUpdate(spark, sessionTimerStream(stream))
      .filter(col("user_id") =!= StreamingOps.SentinelUser)
  }

  /** Update-mode AvailableNow drain into a memory sink under the RocksDB
    * provider.
    */
  def drainUpdate(spark: SparkSession, df: DataFrame): DataFrame =
    Drain.withRocksDb(spark)(Drain.toMemory(spark, "tws", df, "update"))
}
