package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Per-user running totals on the modern arbitrary-state API
  * (`transformWithState`, Spark 4) — the successor to
  * `flatMapGroupsWithState` that [[StreamingSim]] uses: typed per-key
  * state handles (value/list/map) with optional TTL, timers, and a
  * RocksDB-backed store. This operator is the minimal production shape:
  * one `ValueState` per user accumulating (event count, value sum),
  * emitting the updated totals every time the user appears in a batch —
  * the continuously-maintained per-entity aggregate behind rate limiting,
  * spend caps, and per-user quality accounting.
  *
  * State is per-key and incremental: a batch touches only the users it
  * contains, so at 100 TB/day the store holds one small record per ACTIVE
  * user, not the stream. transformWithState requires the RocksDB state
  * store provider (scoped to the query here).
  */
object StatefulCounter {

  final case class EventIn(user_id: Long, value: Double)
  final case class Totals(user_id: Long, n_events: Long, total_value: Double)

  class Processor extends StatefulProcessor[Long, EventIn, Totals] {
    @transient private var totals: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)](
        "totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[EventIn],
        timerValues: TimerValues
    ): Iterator[Totals] = {
      var (n, sum) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { e => n += 1; sum += e.value }
      totals.update((n, sum))
      Iterator(Totals(key, n, sum))
    }
  }

  // ------------------------------------------------------ timer variant

  final case class Seen(user_id: Long, ts_us: Long)
  final case class WentQuiet(user_id: Long, last_seen_us: Long)

  /** EVENT-TIME TIMER processor: emits one `WentQuiet(user, last_seen)`
    * when the watermark passes `last event + gap` — the inactivity-
    * detection shape (session timeout, liveness alerting, abandoned-cart)
    * that plain windowed aggregation cannot express: the OUTPUT is
    * triggered by the ABSENCE of input. Each new event re-arms the
    * per-key timer (delete + register — timers are per-key singletons
    * here); when one fires, state is cleared, so a user who returns
    * later starts a fresh quiet-watch.
    */
  class QuietTimer(gapUs: Long) extends StatefulProcessor[Long, Seen, WentQuiet] {
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState[Long](
        "last_seen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[Seen],
        timerValues: TimerValues
    ): Iterator[WentQuiet] = {
      val maxTs = rows.map(_.ts_us).max
      val prev = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
      if (maxTs > prev) {
        if (prev != Long.MinValue) getHandle.deleteTimer((prev + gapUs) / 1000L)
        lastSeen.update(maxTs)
        getHandle.registerTimer((maxTs + gapUs) / 1000L) // timers are in millis
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo
    ): Iterator[WentQuiet] = {
      val last = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
      lastSeen.clear()
      if (last == Long.MinValue) Iterator.empty
      else Iterator(WentQuiet(key, last))
    }
  }

  /** Inactivity detection over a watermarked event stream. */
  def quietUsers(events: DataFrame, gapUs: Long): org.apache.spark.sql.Dataset[WentQuiet] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 second")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Seen]
      .groupByKey(_.user_id)
      .transformWithState(new QuietTimer(gapUs), TimeMode.EventTime(), OutputMode.Append())
  }

  // --------------------------------------------------- MapState variant

  final case class TypedEvent(user_id: Long, event_type: String)
  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** MAP-STATE processor: one `MapState[event_type, count]` per user —
    * the per-key sub-keyed aggregate (per-user per-category counters,
    * feature accumulators, per-device sessions) that a `ValueState`
    * would have to serialize wholesale on every update; `MapState`
    * reads/writes only the touched sub-key, so a user with thousands of
    * categories pays O(batch), not O(state). Emits the updated count for
    * every (user, type) touched by the batch.
    */
  class TypeCounts extends StatefulProcessor[Long, TypedEvent, TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "type_counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[TypedEvent],
        timerValues: TimerValues
    ): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { e =>
        val n = touched.getOrElse(
          e.event_type,
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L) + 1L
        touched(e.event_type) = n
      }
      touched.foreach { case (t, n) => counts.updateValue(t, n) }
      touched.iterator.map { case (t, n) => TypeCount(key, t, n) }
    }
  }

  /** Keyed map-state transform: per-user per-event-type running counts. */
  def typeCounts(events: DataFrame): org.apache.spark.sql.Dataset[TypeCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"))
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCounts, TimeMode.None(), OutputMode.Update())
  }

  /** Drain the bounded replay; counts are monotonic per (user, type), so
    * the final state is the max emission. RocksDB provider scoped to the
    * query.
    */
  def runTypeCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val events = StreamingOps.eventsStream(spark, sfDir)
    Drain.withRocksDb(spark)(Drain.toMemory(spark, "tws_typecounts", typeCounts(events).toDF(), "update"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
  }

  /** The streaming transform: keyed by user, update-mode emissions. */
  def runningTotals(events: DataFrame): org.apache.spark.sql.Dataset[Totals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("value"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Update())
  }

  /** Drain the bounded events replay; the LAST emission per user is the
    * final running total. RocksDB provider scoped to this query.
    */
  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val events = StreamingOps.eventsStream(spark, sfDir)
    Drain.withRocksDb(spark)(Drain.toMemory(spark, "tws_totals", runningTotals(events).toDF(), "update"))
      // keep the final emission per user (running count is monotonic)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_value"))).as("t"))
      .select(col("user_id"), col("t.n_events"), col("t.total_value"))
  }
}
