package graft.sources

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SimRequest

/** Adapter from the lake's `events` table to the simulator's input record.
  *
  * Mirrors the reference's enrichment step (main.py:52-65): absolute event
  * time minus a fixed UTC origin, in seconds with µs precision, becomes
  * `simArrivalTime`; `value` plays the role of `processing_time`; the
  * stable `event_id` provides the deterministic tie-break `seq`.
  */
object EventRequests {

  /** Events begin 2024-01-01T00:00:00Z in TESTDATA; that instant is the
    * simulation origin (the analogue of SIMULATION_START_TIME, main.py:13).
    */
  val SimOriginMicros: Long = 1704067200000000L // 2024-01-01T00:00:00Z

  implicit private val reqEnc: Encoder[SimRequest] = Encoders.product[SimRequest]

  /** The events → [[SimRequest]] projection, one column per field, over
    * any events relation with a µs `ts` (batch or stream).
    */
  val requestColumns: Seq[Column] = Seq(
    col("user_id").cast("string").as("userId"),
    unix_micros(col("ts")).as("requestTimeMicros"),
    col("value").cast("double").as("processingTime"),
    ((unix_micros(col("ts")) - lit(SimOriginMicros)) / lit(1000000.0))
      .as("simArrivalTime"),
    col("event_id").cast("long").as("seq")
  )

  def requests(spark: SparkSession, sfDir: String): Dataset[SimRequest] =
    Tables.events(spark, sfDir).select(requestColumns: _*).as[SimRequest]
}
