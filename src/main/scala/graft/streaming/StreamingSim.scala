package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.{SimCompleted, SimConfig, SimRequest}
import graft.sim.SimCore

/** Streaming-stateful simulation: the reference's event loop hosted inside
  * `flatMapGroupsWithState` (SURVEY §2.2 "stateful ops" — the core of the
  * reference, re-expressed on Structured Streaming's state machinery).
  *
  * Each group key is an independent scenario whose full engine state
  * (queues, in-flight work, rate-limit ledger, RNG state, virtual clock)
  * lives in the GroupState between micro-batches. Two per-batch horizon
  * policies, both deterministic:
  *
  *   - `flushPerBatch = true` (default): each batch's arrivals drain to
  *     completion — the right semantics for a bounded replay (one
  *     AvailableNow batch ≡ the one-shot batch run, asserted in
  *     StreamingSimSpec). Across MULTIPLE batches the clock advances to
  *     each batch's last completion, so a later batch's arrivals that
  *     fall before it are clamped as late data (episodic semantics).
  *   - `flushPerBatch = false`: horizon = the batch's max event time —
  *     exact continuation of the one-shot simulation across batches
  *     (IncrementalSimSpec's slice-fold contract); work still in flight
  *     at the horizon completes in later batches, and the tail only
  *     drains when a final flush batch arrives.
  */
object StreamingSim {

  implicit private val outEnc: Encoder[(String, SimCompleted)] =
    Encoders.product[(String, SimCompleted)]
  implicit private val stateEnc: Encoder[SimCore.SimState] =
    Encoders.product[SimCore.SimState]
  implicit private val keyEnc: Encoder[String] = Encoders.STRING
  implicit private val inEnc: Encoder[(String, SimRequest)] =
    Encoders.product[(String, SimRequest)]

  /** Resumable per-scenario simulation (see object doc for the two
    * horizon policies).
    */
  private def simulateGroup(cfg: SimConfig, flushPerBatch: Boolean)(
      key: String,
      rows: Iterator[(String, SimRequest)],
      state: GroupState[SimCore.SimState]
  ): Iterator[(String, SimCompleted)] = {
    val st = state.getOption.getOrElse(SimCore.SimState.initial(cfg))
    val slice = rows.map(_._2).toVector
    val horizon =
      if (flushPerBatch || slice.isEmpty) Double.PositiveInfinity
      else slice.map(_.simArrivalTime).max
    val (out, next) = SimCore.runIncremental(cfg, st, slice.iterator, horizon)
    state.update(next)
    out.iterator.map(c => (key, c))
  }

  /** Per-event-type scenarios simulated statefully over the events stream,
    * drained to completion; returns (scenario, completed…) rows.
    */
  def run(
      spark: SparkSession,
      sfDir: String,
      cfg: SimConfig = SimConfig(numWorkers = 2),
      flushPerBatch: Boolean = true,
      stateParts: Int = 8
  ): DataFrame = {
    val stream = StreamingOps.eventsStream(spark, sfDir)
    val keyed = stream
      .select(
        col("event_type").as("_1"),
        struct(graft.sources.EventRequests.requestColumns: _*).as("_2")
      )
      .as[(String, SimRequest)]

    val completed = keyed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        simulateGroup(cfg, flushPerBatch)
      )

    Drain.toMemory(
      spark,
      "stream_sim",
      completed.toDF("scenario", "completed").select(col("scenario"), col("completed.*")),
      "append",
      stateParts)
  }
}
