package graft.model

/** Domain model for the queue-system simulation engine.
  *
  * Spark-first re-expression of the reference data model
  * (reference: src/data_model.py:5-42). The reference mutates one
  * `Request` dataclass in place as it flows through the pipeline; here the
  * immutable input record ([[SimRequest]]) and the completed output record
  * ([[SimCompleted]]) are distinct case classes with `Encoders.product`
  * derivation, so they travel through Tungsten rows instead of JVM objects.
  */

/** One inbound request (reference: src/data_model.py:31-37).
  *
  * @param userId         requester id (reference `user_id`)
  * @param requestTimeMicros absolute request time as µs since epoch (UTC);
  *                       None when the source carries no absolute time.
  * @param processingTime service time in (simulated) seconds
  * @param simArrivalTime arrival time relative to simulation start, seconds
  *                       (reference: main.py:64 — `request_time − 2023-01-01Z`)
  * @param seq            stable input ordinal; reproduces the reference's
  *                       stable sort tie-break (reference: src/simulator.py:41,
  *                       Python `sorted` is stable).
  */
final case class SimRequest(
    userId: String,
    requestTimeMicros: Option[Long],
    processingTime: Double,
    simArrivalTime: Double,
    seq: Long
)

/** A finished (processed or rejected) request.
  *
  * Field semantics mirror reference `Request` post-simulation state
  * (src/data_model.py:39-42): times are seconds of virtual time;
  * `finishTime == -1` is the rejection sentinel kept for parity
  * (src/simulator.py:214, consumed src/statistics.py:104-105). The engine
  * additionally carries an explicit `status` and the queue the item was
  * routed to (the reference only keeps aggregate enqueue counters,
  * src/queue_manager.py:121-123; a per-row label lets Spark recompute those
  * counters relationally with a plain groupBy).
  */
final case class SimCompleted(
    userId: String,
    requestTimeMicros: Option[Long],
    processingTime: Double,
    simArrivalTime: Double,
    arrivalTimeInQueue: Double,
    startTime: Double,
    finishTime: Double,
    usedApiId: Option[Int],
    queue: Option[String], // "priority" | "normal"; None when rejected pre-enqueue
    status: String, // "success" | "failed_api_limit" | "rejected"
    seq: Long
)

/** Queue discipline selector (reference hard-wires the priority strategy,
  * src/simulator.py:50-53, leaving the bounded FIFO path dead — both are
  * reachable here, flag-selected, per SURVEY §4.1).
  */
sealed trait QueueStrategyConfig extends Serializable
final case class FifoConfig(maxSize: Option[Int]) extends QueueStrategyConfig
final case class PriorityConfig(
    thresholdSeconds: Double = 20.0, // reference: src/queue_manager.py:105
    bias: Double = 0.8
) extends QueueStrategyConfig {
  require(bias >= 0.0 && bias <= 1.0, "priority bias must be within [0, 1]")
}

/** Full simulation configuration (reference: config/settings.py:2,5 +
  * CLI defaults main.py:19-20).
  */
final case class SimConfig(
    numWorkers: Int = 1,
    strategy: QueueStrategyConfig = PriorityConfig(),
    numApis: Int = 5,
    rpmLimit: Int = 60,
    rateWindowSeconds: Double = 60.0,
    rngSeed: Long = 42L
) {
  require(numWorkers >= 1, s"numWorkers must be at least 1, got $numWorkers")
  require(numApis >= 1, s"numApis must be at least 1, got $numApis")
  require(rpmLimit >= 1, s"rpmLimit must be at least 1, got $rpmLimit")
  require(rateWindowSeconds > 0, s"rateWindowSeconds must be positive, got $rateWindowSeconds")
}
