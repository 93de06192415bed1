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
  * Each group key is an independent scenario. Each batch's arrivals drain
  * to completion — the right semantics for a bounded replay (one
  * AvailableNow batch ≡ the one-shot batch run, asserted in
  * StreamingSimSpec) — so no queued or in-service work outlives a batch:
  * the GroupState keeps only the virtual clock, the rate-limit ledger and
  * the RNG state. Across MULTIPLE batches the clock advances to each
  * batch's last completion, so a later batch's arrivals that fall before
  * it are clamped as late data (episodic semantics).
  */
object StreamingSim {

  implicit private val outEnc: Encoder[(String, SimCompleted)] =
    Encoders.product[(String, SimCompleted)]
  implicit private val stateEnc: Encoder[SimCore.SimState] =
    Encoders.product[SimCore.SimState]
  implicit private val keyEnc: Encoder[String] = Encoders.STRING
  implicit private val inEnc: Encoder[(String, SimRequest)] =
    Encoders.product[(String, SimRequest)]

  private val cfg = SimConfig(numWorkers = 2)

  /** Resumable per-scenario simulation: the batch's arrivals run to
    * completion on top of the group's saved state.
    */
  private def simulateGroup(
      key: String,
      rows: Iterator[(String, SimRequest)],
      state: GroupState[SimCore.SimState]
  ): Iterator[(String, SimCompleted)] = {
    val st = state.getOption.getOrElse(SimCore.SimState.initial(cfg))
    val (out, next) = SimCore.runIncremental(cfg, st, rows.map(_._2))
    state.update(next)
    out.iterator.map(c => (key, c))
  }

  /** Per-event-type scenarios simulated statefully over the events stream,
    * drained to completion; returns (scenario, completed…) rows.
    */
  def run(spark: SparkSession, sfDir: String): DataFrame = {
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
        simulateGroup
      )

    Drain.toMemory(
      spark,
      "stream_sim",
      completed.toDF("scenario", "completed").select(col("scenario"), col("completed.*")),
      "append")
  }
}
