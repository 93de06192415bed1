package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.queries.SqlFragments.snap

/** Structured Streaming surface of the engine (SURVEY §2.2 streaming rows).
  *
  * The lake's `events` table doubles as a replayable stream: `readStream`
  * over the parquet path with an explicit schema, event-time tumbling
  * windows + watermark, drained synchronously with `processAllAvailable`
  * into a memory sink for the batch-verifiable path. On a live cluster the
  * same plan runs off a file/Kafka source with a real trigger — nothing
  * here is test-only plumbing except the memory sink.
  */
object StreamingOps {

  /** events schema with `ts` as a long — the shape sentinel writers emit
    * (ns-since-epoch), and the shape a TIMESTAMP(NANOS) events file takes
    * under the nanos-as-long legacy read (see
    * [[graft.sources.Tables.events]]).
    */
  private val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // ns-since-epoch
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Streaming DataFrame over the events table with a proper µs timestamp.
    *
    * A file stream source needs an EXPLICIT schema, so the `ts` physical
    * type is probed from the parquet footer first (driver-side metadata
    * read, like [[graft.sources.Tables.events]]): a TIMESTAMP(MICROS)
    * file streams as a native TimestampType column; a TIMESTAMP(NANOS)
    * file only reads under the nanos-as-long legacy flag and is floored
    * back to µs here. Assuming either shape unconditionally corrupts
    * event time by 10^3 when the data generator flips grain.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsIsLong = spark.read.parquet(s"$sfDir/events.parquet")
      .schema("ts").dataType == LongType
    // The file stream source wants a directory; scope the listing to the
    // events table with a glob filter.
    val raw = spark.readStream
      .schema(
        if (tsIsLong) eventsRawSchema
        else StructType(eventsRawSchema.map {
          case f if f.name == "ts" => f.copy(dataType = TimestampType)
          case f => f
        }))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    if (tsIsLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Tumbling 1-hour event-time windows per event type: count + value sum.
    * Watermark bounds state at one hour of event time — at 100 TB/day of
    * events the state store holds only the open windows, not the stream.
    */
  def hourlyWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        (unix_micros(col("window.start")) / lit(1000000L)).cast("long")
          .as("window_start_sec"),
        col("event_type"),
        col("n_events"),
        col("sum_value")
      )

  /** Run the streaming aggregation to completion over the bounded parquet
    * stream and return the final result as a batch DataFrame. Complete
    * output mode so closed AND still-open windows all surface (append mode
    * would hold back windows the watermark never passes on a bounded
    * input).
    */
  def runHourlyWindowAgg(spark: SparkSession, sfDir: String): DataFrame =
    Drain.toMemory(spark, "stream_hourly", hourlyWindowAgg(eventsStream(spark, sfDir)))

  private val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  /** Streaming DataFrame over the documents table — the continuously-
    * arriving-corpus shape of a training-data ingest pipeline.
    */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      // prefix glob: a continuously-ingesting corpus grows as
      // documents_<n>.parquet arrivals next to the seed file
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(sfDir)

  /** Streaming exact dedup: content-hash groups maintained as running
    * state over the document stream (keeper = min doc_id, live dup count).
    * Same result as the batch [[graft.operators.Dedup.exactGroups]] on the
    * bounded replay — and checked against the same DuckDB oracle — but the
    * plan is a streaming stateful aggregation: at ingest time each
    * micro-batch updates only the touched hash groups, so dedup state, not
    * the corpus, is what lives in the state store. min/count are
    * order-insensitive monoids, so arrival order across micro-batches
    * cannot change the result.
    */
  def streamingDedupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Run the streaming dedup to completion over the bounded parquet stream. */
  def runStreamingDedup(spark: SparkSession, sfDir: String): DataFrame =
    Drain.toMemory(spark, "stream_dedup", streamingDedupGroups(documentsStream(spark, sfDir)))

  /** STREAMING HyperLogLog: per-event-type distinct-user registers
    * maintained as ONE stateful aggregation over the event stream —
    * `max(ρ)` is multiset-invariant, so duplicate arrivals need no
    * distinct and the state is exactly m rows per group forever (the
    * streaming-cardinality trick: bounded state for an unbounded
    * distinct problem). The estimate is computed at read time over the
    * drained registers ([[graft.operators.Hll.estimateFromRegisters]]),
    * mirroring a serving layer reading live sketch state. End state ≡
    * the batch sketch, so the batch SQL oracle checks the full pipeline.
    */
  def runStreamingHll(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Hll
    val keyStr = col("user_id").cast("string")
    val regs = eventsStream(spark, sfDir)
      .select(
        col("event_type"),
        Hll.bucketCol(keyStr, 512).as("bucket"),
        Hll.rhoCol(keyStr).as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("mj"))
    Hll.estimateFromRegisters(
      Drain.toMemory(spark, "stream_hll", regs),
      "event_type",
      512)
  }

  /** STREAMING count-min: the d×w counter matrix maintained as ONE
    * stateful aggregation over the event stream — counters are sums, so
    * per-event increments across micro-batches land on exactly the
    * batch-built matrix, and the state is d·w rows forever (bounded
    * state for an unbounded frequency problem; the companion move to
    * [[runStreamingHll]]'s max(ρ) registers). Probing happens at read
    * time ([[graft.operators.CountMin.probeCounters]]) with exact counts
    * for a fixed key set riding along — the sample-scale verification a
    * deployment runs before trusting the sketch. End state ≡ batch, so
    * the batch counter replay is the oracle.
    */
  def runStreamingCms(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.CountMin
    val d = 4
    val w = 256
    val counters = eventsStream(spark, sfDir)
      .select(col("user_id"), explode(sequence(lit(0), lit(d - 1))).as("j"))
      .select(col("j"), CountMin.bucketCol(col("j"), col("user_id"), w).as("bucket"))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val probes = graft.sources.Tables.events(spark, sfDir)
      .filter(col("user_id") < 10)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("true_cnt"))
    CountMin.probeCounters(
      Drain.toMemory(spark, "stream_cms", counters), probes, "user_id", d, w)
  }

  /** STREAMING DDSketch: per-type log-γ bin counts maintained as ONE
    * stateful streaming aggregation — bin counts are sums, so the end
    * state ≡ the batch sketch and the state is bounded by the value
    * range's bin span (a few hundred rows per group at any corpus
    * size), not by the stream. Quantiles are extracted at read time
    * ([[graft.operators.DdSketch.estimateFromBins]]) — live relative-
    * error percentiles from sketch state, the third of the bounded-
    * state sketch trilogy next to [[runStreamingHll]] (max-register)
    * and [[runStreamingCms]] (sum-counter).
    */
  def runStreamingDdSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.DdSketch
    val bins = eventsStream(spark, sfDir)
      .filter(col("value") > 0)
      .select(col("event_type"), DdSketch.binCol(col("value")).as("i"))
      .groupBy(col("event_type"), col("i"))
      .agg(count(lit(1)).as("cnt"))
    DdSketch.estimateFromBins(
      Drain.toMemory(spark, "stream_ddsketch", bins), "event_type")
  }

  /** STREAMING MOMENTS: per-type (n, Σc, Σc², max) in integer cents as
    * ONE stateful streaming aggregation — every component is a
    * sum/max, so the end state is bit-identical to the batch moments
    * and the state is |groups| rows forever. Mean/σ/z are extracted at
    * READ time from exact integer sums (the q168 no-variance-
    * accumulator posture: σ = √(nΣc²−S²)/n — one fixed double chain,
    * never an engine-internal running variance), making this the
    * fourth member of the bounded-state sketch family
    * ([[runStreamingHll]] max-register, [[runStreamingCms]]
    * sum-counter, [[runStreamingDdSketch]] bin-count). z_max — how
    * extreme is the largest observed value — rides along as the live
    * alarm statistic.
    *
    * 64-bit headroom: n·Σc² stays under 2⁶³ through sf0.1 cents; a
    * larger deployment moves the moment columns to decimal(38,0) (same
    * plan shape).
    */
  def runStreamingMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val moments = eventsStream(spark, sfDir)
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("s2"),
        max(col("c")).as("mx"))
    Drain.toMemory(spark, "stream_moments", moments)
      .withColumn("varnum", col("n") * col("s2") - col("s") * col("s"))
      .select(
        col("event_type"),
        col("n"),
        round(col("s").cast("double") / 100.0 / col("n").cast("double"), 6).as("mean"),
        round(sqrt(col("varnum").cast("double")) / col("n").cast("double") / 100.0, 6)
          .as("stddev"),
        when(col("varnum") > 0,
          round(
            (col("n") * col("mx") - col("s")).cast("double") /
              sqrt(col("varnum").cast("double")),
            6)).as("z_max"))
  }

  /** STREAMING KEY DEDUP WITH WATERMARK-BOUNDED STATE
    * (`dropDuplicatesWithinWatermark`): first arrival per
    * (user_id, event_type) is emitted, later arrivals are dropped, and —
    * unlike plain streaming `dropDuplicates`, whose key state grows
    * forever — state for a key is RECLAIMED once the watermark passes
    * its event time + delay. That is the production contract for
    * at-least-once ingest dedup: upstream retries land within the delay,
    * so a bounded-state operator suffices where exact global dedup would
    * need unbounded memory. The delay here exceeds the bounded corpus
    * span, so the drained append output covers each key exactly once and
    * the batch DISTINCT oracle checks the whole pipeline; the final
    * count is key-choice-invariant (file-stream arrival order within a
    * key is not a contract).
    */
  def runStreamingDedupWm(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = eventsStream(spark, sfDir)
      .withWatermark("ts", "365 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    Drain.toMemory(spark, "stream_dedup_wm", deduped, "append")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_keys"))
  }

  /** Incremental lake ingest: drain a streaming DataFrame into a
    * partitioned parquet table with a durable checkpoint — the
    * readStream → transform → writeStream spine of the lake architecture.
    *
    * Exactly-once at the file level: the file source tracks consumed input
    * files and the file sink commits written files through its own
    * transaction log, both rooted in `checkpoint` — re-running with the
    * same checkpoint ingests only files that arrived since the last drain,
    * and a crashed batch is re-attempted without duplicating committed
    * output (asserted in StreamingLakeSpec). `AvailableNow` processes the
    * current backlog and stops, so the same call serves both a scheduled
    * micro-batch ingest and a catch-up replay; on a live cluster swap the
    * trigger for a processing-time one and the call runs forever.
    */
  def streamToLake(
      df: DataFrame,
      outPath: String,
      checkpoint: String,
      partitionCols: Seq[String] = Nil
  ): Unit = {
    val writer = df.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
    val q = (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Stream into a SNAPSHOT-VERSIONED table ([[graft.sources.LakeLog]]):
    * one commit per micro-batch via foreachBatch, each tagged with the
    * batch id as its idempotence origin. The checkpoint gives
    * at-least-once redelivery; [[graft.sources.LakeLog.appendIfAbsent]]
    * turns that into exactly-once AT THE TABLE — a redelivered batch
    * (crash between commit and checkpoint advance) is skipped because the
    * table's own log remembers its origin. That protection extends to a
    * wiped checkpoint ONLY while the replayed batch boundaries match the
    * originals (batch ids restart at 0); if more source data arrived
    * before the wipe, batch 0's replay would bundle it with already-
    * committed rows and the origin skip would drop it — restore the
    * checkpoint, don't delete it. Readers meanwhile get atomic per-batch
    * visibility and time travel across the ingest history — the
    * transactional-sink story a bare parquet file sink cannot offer.
    */
  def streamToVersionedLake(
      df: DataFrame,
      tablePath: String,
      checkpoint: String
  ): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.sources.LakeLog.appendIfAbsent(batch.toDF(), tablePath, s"batch-$id")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Streaming state is sharded by `spark.sql.shuffle.partitions` AT QUERY
    * START (fixed for the checkpoint's lifetime) — it should be sized to
    * the state keyspace, not to the session's batch-shuffle width: each
    * state partition carries a state-store instance whose per-batch
    * open/commit cost dwarfs these small keyspaces (event types, content
    * hashes). Scopes the override to the streaming query it wraps; lake
    * deployments with wide keyspaces pass a correspondingly larger value.
    */
  def withStatePartitions[A](spark: SparkSession, n: Int = 8)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body
    finally spark.conf.set(key, prev)
  }

  /** Streaming SESSION WINDOWS: per-user 30-minute-gap sessions maintained
    * as merging state (Spark's session_window aggregation unions adjacent
    * windows as events arrive — state per OPEN session, not per event).
    *
    * Append output mode is the scale-correct choice (complete mode would
    * re-emit every closed session each batch), but append only emits a
    * session once the watermark passes its close; on a BOUNDED replay the
    * watermark stalls `delay` short of max event time, pinning the last
    * sessions open forever. The drain therefore unions a far-future
    * SENTINEL row from a side directory: after the batch containing it,
    * the watermark jumps past every real session and the trailing no-data
    * micro-batch (`noDataMicroBatches`, on by default) flushes them. The
    * sentinel's own (never-closing) session is filtered by its reserved
    * user id. On a live unbounded stream no sentinel is needed — fresh
    * events advance the watermark continuously; this is purely the
    * bounded-replay flush idiom (same role as an end-of-stream marker in
    * a Kafka replay).
    */
  def sessionAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      // late tolerance: on a live stream this is how far out-of-order an
      // event may arrive and still extend its session; a bounded replay's
      // sentinel (year 2200) out-jumps any sane delay, so the flush idiom
      // is unaffected by the setting
      watermarkDelay: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"),
        col("sum_value"))

  /** Reserved user id of the bounded-replay sentinel events. */
  private[streaming] val SentinelUser = -1L

  /** Far-future SENTINEL events (raw ts year ~2286), one per event type,
    * streamed from their own side directory. Unioned into a bounded
    * events replay, the batch holding them jumps the watermark past every
    * real event, so the trailing no-data micro-batch flushes whatever the
    * watermark was still holding back; callers filter the sentinels' own
    * output by [[SentinelUser]].
    */
  private[streaming] def sentinelEvents(spark: SparkSession, eventTypes: String*): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sentinel").resolve("data").toString
    import spark.implicits._
    eventTypes.zipWithIndex
      .map { case (t, i) => (-1L - i, 7258118400000000000L, SentinelUser, t, 0.0, "{}") }
      .toDF(eventsRawSchema.fieldNames.toIndexedSeq: _*)
      .coalesce(1).write.parquet(dir)
    spark.readStream
      .schema(eventsRawSchema)
      .parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  /** Drain the streaming session aggregation over the bounded events
    * replay (sentinel-flushed; see [[sessionAgg]]) — row-identical to the
    * batch q48 session_window query.
    */
  def runStreamingSessionAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = sessionAgg(
      eventsStream(spark, sfDir).unionByName(sentinelEvents(spark, "sentinel")))
    Drain.toMemory(spark, "stream_session", agg, "append")
      .filter(col("user_id") =!= SentinelUser)
  }

  /** STREAM-STREAM inner join with event-time range bounds: every purchase
    * matched to the same user's click events in the preceding
    * `windowMinutes` (inclusive both ends) — the funnel-attribution /
    * conversion-tracking shape.
    *
    * Both sides carry a watermark and the join condition bounds
    * `purchase_ts` relative to `click_ts`, which is exactly what Spark's
    * stream-stream join needs to BOUND STATE: a buffered click can be
    * evicted once the purchase-side watermark passes
    * `click_ts + windowMinutes`, so at 100 TB/day the state store holds
    * one window's worth of clicks per user, not the stream's history.
    * Inner-join matches emit as they are found (append mode) — only state
    * EVICTION waits for the watermark, so a bounded replay drains
    * completely.
    *
    * `joinType` also takes "leftOuter" (see
    * [[clickPurchaseAttributionLeftOuter]]) and "fullOuter": unmatched
    * CLICKS null-extend like the left join, and unmatched PURCHASES also
    * surface once their side's watermark proves no in-window click can
    * arrive. Same state bound as the inner join; under a full outer join
    * the user key is coalesced across sides so every output row names its
    * entity.
    */
  def clickPurchaseAttribution(
      clicks: DataFrame,
      purchases: DataFrame,
      windowMinutes: Int = 30,
      watermarkDelay: String = "1 hour",
      joinType: String = "inner"
  ): DataFrame = {
    val c = clicks
      .select(
        col("event_id").as("click_id"),
        col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases
      .select(
        col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermarkDelay)
    c.join(
        p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
        joinType)
      .select(
        col("click_id"),
        col("purchase_id"),
        if (joinType == "fullOuter") coalesce(col("user_id"), col("p_user_id")).as("user_id")
        else col("user_id"),
        unix_micros(col("click_ts")).as("click_ts_us"),
        unix_micros(col("purchase_ts")).as("purchase_ts_us"),
        col("purchase_value"))
  }

  /** STREAM-STREAM LEFT OUTER join, same key + event-time range condition
    * as [[clickPurchaseAttribution]]: every click emits, matched or not —
    * the "which impressions never converted" shape.
    *
    * Outer semantics force the timing difference that matters at scale:
    * an inner match can emit the moment both rows are buffered, but a
    * NULL-extended row can only emit once the watermark proves no
    * matching purchase can still arrive (`click_ts + windowMinutes` has
    * passed) — so unmatched output trails the stream by the window plus
    * the watermark delay, and the state bound is identical to the inner
    * join's. On a bounded replay that final proof never arrives for the
    * tail; the runner drains it with the same far-future sentinel idiom
    * as [[runStreamingSessionAgg]], sent through BOTH sides so both
    * watermarks jump.
    */
  def clickPurchaseAttributionLeftOuter(
      clicks: DataFrame,
      purchases: DataFrame,
      windowMinutes: Int = 30,
      watermarkDelay: String = "1 hour"
  ): DataFrame =
    clickPurchaseAttribution(clicks, purchases, windowMinutes, watermarkDelay, "leftOuter")

  /** STREAMING MATERIALIZED VIEW: every micro-batch's partial aggregate
    * ([[graft.sources.MaterializedAgg.aggOf]]) merges into a
    * [[graft.sources.LakeLog]]-versioned snapshot of the rollup —
    * incremental view maintenance driven by the stream itself. Each
    * publish is an origin-idempotent overwrite keyed on (appId, batch
    * id), so an at-least-once redelivery of a batch is skipped instead
    * of double-counted, and every intermediate MV state stays readable
    * via time travel. Per batch the work is O(batch) + O(|MV|), never a
    * rescan of history.
    *
    * `appId` scopes the idempotence token to THIS producer run — the
    * (txnAppId, txnVersion) convention of Delta's idempotent sink
    * writes. A bare batch id would collide across producers: if the MV
    * path outlives its checkpoint (checkpoint reset, or a second query
    * feeding the same path), the new run's batch 0 would silently be
    * skipped as "already applied" even though its content differs. The
    * default is a fresh token per call, which preserves idempotence
    * where it is sound (foreachBatch retries within one run share the
    * closure) and never suppresses a different run's data; a producer
    * that restarts from the SAME checkpoint should pass its stable
    * query/app id to keep cross-restart dedup.
    */
  def streamMaterializedAgg(
      stream: DataFrame,
      mvPath: String,
      keyCols: Seq[String],
      sumCols: Seq[String],
      appId: String = java.util.UUID.randomUUID().toString
  )(start: org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val writer = stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val partial = graft.sources.MaterializedAgg.aggOf(batch, keyCols, sumCols)
      val next = graft.sources.LakeLog.latestVersion(mvPath) match {
        case Some(v) =>
          graft.sources.MaterializedAgg.merge(
            graft.sources.LakeLog.read(spark, mvPath, v), partial, keyCols)
        case None => partial
      }
      graft.sources.LakeLog.overwriteIfAbsent(next, mvPath, s"$appId-batch-$batchId")
      ()
    }
    val q = start(writer)
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Drain a 3-slice replay of the events table through the streaming MV
    * (maxFilesPerTrigger=1 forces one merge per slice) and read the final
    * rollup snapshot.
    */
  def runStreamingMaterializedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_smv")
    val srcDir = base.resolve("src").toString
    val mvPath = base.resolve("mv").toString
    val ev = graft.sources.Tables
      .events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    (0 to 2).foreach(i =>
      ev.filter(col("event_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(srcDir))
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    streamMaterializedAgg(stream, mvPath, Seq("event_type"), Seq("value")) { w =>
      w.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
    }
    graft.sources.LakeLog
      .read(spark, mvPath)
      .select(col("event_type"), col("n"), round(col("value_sum"), 2).as("val_sum"))
  }

  /** STREAMING drift gate: PSI of the live value-band distribution
    * against a STATIC first-half-of-month reference — the production
    * monitor shape for q338's batch PSI. The stream contributes only a
    * tiny banded count aggregate (10 keys, complete mode); the PSI
    * arithmetic runs batch-side on the drained table against the
    * broadcast-sized reference, so the result must EQUAL the batch
    * PSI — which is exactly the oracle.
    */
  def runStreamPsi(spark: SparkSession, sfDir: String): DataFrame = {
    def band = least(lit(9L), expr("CAST(round(value * 100) AS BIGINT) div 5000"))
    // d0 is static reference config — resolved once, then a plain
    // literal filter on the stream (no stream-static cross needed)
    val d0 = graft.sources.Tables.events(spark, sfDir)
      .agg(min(to_date(col("ts")))).collect().head.getDate(0)
    val ref = graft.sources.Tables.events(spark, sfDir)
      .filter(datediff(to_date(col("ts")), lit(d0)) < 15)
      .groupBy(band.as("band")).agg(count(lit(1)).as("ca"))
    val live = eventsStream(spark, sfDir)
      .filter(datediff(to_date(col("ts")), lit(d0)) >= 15)
      .groupBy(band.as("band"))
      .agg(count(lit(1)).as("cb"))
    val banded = ref
      .join(Drain.toMemory(spark, "stream_psi", live), Seq("band"), "full_outer")
      .select(col("band"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tots = banded.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    banded
      .crossJoin(broadcast(tots))
      .select(
        snap(
          (((col("ca") + 1L).cast("double") / (col("na") + 10L)) -
            ((col("cb") + 1L).cast("double") / (col("nb") + 10L))) *
            log(((col("ca") + 1L).cast("double") / (col("na") + 10L)) /
              ((col("cb") + 1L).cast("double") / (col("nb") + 10L)))).as("term"))
      .agg(round(sum(col("term")), 6).as("psi"))
      .select(
        col("psi"),
        when(col("psi") < 0.1, "stable")
          .when(col("psi") < 0.25, "moderate")
          .otherwise("shifted").as("verdict"))
  }

  /** STREAM-STATIC dimension enrichment: the streaming fact side joins a
    * static dim BROADCAST per micro-batch — no streaming state at all
    * (unlike stream-stream joins), the canonical shape for enriching an
    * event stream with slowly-changing reference data at any scale.
    */
  def runStreamStaticEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val users = graft.sources.Tables
      .customer(spark, sfDir)
      .select(
        col("c_custkey").as("user_key"),
        col("c_mktsegment").as("segment"))
    val enriched = eventsStream(spark, sfDir)
      .join(broadcast(users), col("user_id") === col("user_key"), "inner")
    // ~25 aggregate keys: the drain's default state partitions suit it —
    // per-store open/commit is the floor at this keyspace
    Drain.toMemory(
      spark,
      "stream_static",
      enriched
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val_sum")))
  }

  /** Drain the full-outer attribution join over the bounded replay; the
    * sentinel pair matches itself and is filtered by the reserved user.
    */
  def runClickPurchaseAttributionFullOuter(spark: SparkSession, sfDir: String): DataFrame =
    drainAttribution(spark, sfDir, "fullOuter", "stream_attr_fo")

  /** Drain the left-outer attribution join over the bounded events replay.
    * Sentinel rows pass both type filters (one "click", one "purchase")
    * so each side's watermark node sees the far-future timestamp; their
    * own output rows are filtered by the reserved user id.
    */
  def runClickPurchaseAttributionLeftOuter(spark: SparkSession, sfDir: String): DataFrame =
    drainAttribution(spark, sfDir, "leftOuter", "stream_attr_lo")

  /** Run the inner attribution join over the bounded events replay and
    * return the drained match set.
    */
  def runClickPurchaseAttribution(spark: SparkSession, sfDir: String): DataFrame =
    drainAttribution(spark, sfDir, "inner", "stream_attr")

  private def drainAttribution(
      spark: SparkSession,
      sfDir: String,
      joinType: String,
      prefix: String): DataFrame = {
    // outer joins emit null-extended rows only once the watermark passes,
    // so their bounded replay needs the sentinel flush
    val outer = joinType != "inner"
    // ONE source, two filtered branches: a streaming self-join tracks a
    // single file source (one listing + one offset log) instead of two
    val events =
      if (outer) eventsStream(spark, sfDir).unionByName(sentinelEvents(spark, "click", "purchase"))
      else eventsStream(spark, sfDir)
    val joined = clickPurchaseAttribution(
      events.filter(col("event_type") === "click"),
      events.filter(col("event_type") === "purchase"),
      joinType = joinType)
    // a stream-stream join keeps FOUR state stores per partition (two per
    // side); at this keyspace fewer, fatter state partitions beat the
    // default — per-store open/commit is the floor, not the join work
    val out = Drain.toMemory(spark, prefix, joined, "append", stateParts = 4)
    if (outer) out.filter(col("user_id") =!= SentinelUser) else out
  }
}
