package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{FifoConfig, PriorityConfig, QueueStrategyConfig, SimConfig}
import graft.sim.SimOperator
import graft.sources.EventRequests
import graft.stats.Statistics

/** Simulation-backed queries — the reference's actual product pipeline
  * (CSV → simulate → stats, main.py:16-159) re-hosted on the lake's
  * `events` table. Deterministic (seeded RNG, stable sort), but the
  * stateful fold is not SQL-expressible, so these are rows-only checks
  * (no DuckDB oracle), per the driver contract.
  */
object SimQueries {

  /** Default engine config for lake replays: 4 workers over the priority
    * strategy (reference defaults elsewhere: config/settings.py:2,5,
    * src/queue_manager.py:105).
    */
  val defaultConfig: SimConfig = SimConfig(numWorkers = 4)

  private def completedDF(s: SparkSession, dir: String, cfg: SimConfig): DataFrame =
    Statistics.toDF(SimOperator.simulate(EventRequests.requests(s, dir), cfg))

  /** E1/Q1-Q3/W1/C1-C2: the event loop itself — full completed set. */
  val q19SimEvents: QueryDef = QueryDef(
    "q19_sim_events",
    (s, dir) => completedDF(s, dir, defaultConfig),
    None
  )

  /** A1–A6 over the sim output: one-row summary. */
  val q20SimStats: QueryDef = QueryDef(
    "q20_sim_stats",
    (s, dir) => Statistics.summary(completedDF(s, dir, defaultConfig)),
    None
  )

  /** A4 zero-filled per-endpoint usage. */
  val q21SimApiUsage: QueryDef = QueryDef(
    "q21_sim_api_usage",
    (s, dir) => Statistics.apiUsage(completedDF(s, dir, defaultConfig), defaultConfig.numApis),
    None
  )

  /** The documented-but-dead reference configuration made reachable
    * (SURVEY §4.1): bounded FIFO, rejection path live.
    */
  val q22SimBoundedFifo: QueryDef = QueryDef(
    "q22_sim_bounded_fifo",
    (s, dir) =>
      Statistics.summary(
        completedDF(
          s,
          dir,
          SimConfig(numWorkers = 2, strategy = FifoConfig(maxSize = Some(8)))
        )
      ),
    None
  )

  /** S2 datagen re-expressed as md5-dyadic uniforms + window cumulative
    * sum (the reference's Python RNG stream is not reproducible; the
    * engine defines its own seeded stream — but one any SQL engine
    * replays, so the oracle below reproduces the generator bit-for-bit).
    */
  val q38Datagen: QueryDef = QueryDef(
    "q38_datagen",
    (s, _) => graft.sources.DataGen.generate(s, numUsers = 5, maxRequestsPerUser = 5),
    Some("""WITH ids AS (SELECT CAST(range AS BIGINT) AS id FROM range(25)),
            r AS (SELECT id,
              (CAST(('0x'||substring(md5(CAST(id AS VARCHAR)||':42:u'),1,12)) AS BIGINT)+0.5)/281474976710656.0 AS uu,
              (CAST(('0x'||substring(md5(CAST(id AS VARCHAR)||':42:g'),1,12)) AS BIGINT)+0.5)/281474976710656.0 AS ug,
              (CAST(('0x'||substring(md5(CAST(id AS VARCHAR)||':42:p'),1,12)) AS BIGINT)+0.5)/281474976710656.0 AS up
              FROM ids),
            g AS (SELECT id,
                    'user_' || chr(97 + CAST(floor(uu * 5) AS INT)) AS user_id,
                    0.1 + ug * 0.9 AS gap,
                    round(1.0 + up * 9.0, 1) AS processing_time
                  FROM r),
            c AS (SELECT *, sum(gap) OVER (ORDER BY id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS off
                  FROM g)
            SELECT user_id,
                   strftime(TIMESTAMP '2023-01-01 00:00:00'
                              + to_microseconds(CAST(floor(off * 1000000.0) AS BIGINT)),
                            '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS request_time,
                   processing_time
            FROM c ORDER BY request_time""")
  )

  /** Scenario fan-out — the 100 TB posture of the sim operator: one
    * independent simulation per event_type, distributed via
    * groupByKey/flatMapGroups, summarized per scenario (SURVEY §4.2).
    */
  val q39SimScenarios: QueryDef = QueryDef(
    "q39_sim_scenarios",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val events = graft.sources.Tables.events(s, dir)
      val keyed = events
        .select(
          col("event_type").as("_1"),
          struct(graft.sources.EventRequests.requestColumns: _*).as("_2")
        )
        .as[(String, graft.model.SimRequest)]
      val completed = SimOperator
        .simulateScenarios(keyed, (_: String) => SimConfig(numWorkers = 2))
        .toDF("scenario", "completed")
      Statistics.summaryByGroup(
        Statistics.renameToSnake(completed.select(col("scenario"), col("completed.*"))),
        Seq("scenario")
      )
    },
    None
  )

  /** 32-combo parameter grid (workers × strategy × rate limit) — the
    * measured scale-out surface of the sequential sim core.
    */
  val grid32: Map[Int, SimConfig] =
    (for {
      (w, wi) <- Seq(1, 2, 4, 8).zipWithIndex
      (st, si) <- Seq[QueueStrategyConfig](
        PriorityConfig(), PriorityConfig(bias = 0.5),
        FifoConfig(None), FifoConfig(Some(500))).zipWithIndex
      (rpm, ri) <- Seq(60, 600).zipWithIndex
    } yield (wi * 8 + si * 2 + ri) -> SimConfig(numWorkers = w, strategy = st, rpmLimit = rpm))
      .toMap

  /** Scenario fan-out at BENCHMARK scale — the 100 TB posture of the
    * sequential core made measurable, not just specified: all 32 grid
    * combos replay the full event stream concurrently (one ordinary
    * shuffle keyed by scenario, one independent sequential fold per
    * combo, 32-way parallel on local[32] exactly as it would fan out
    * across executors). Output: one summary row per scenario.
    */
  val q379SimGrid: QueryDef = QueryDef(
    "q379_sim_grid",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val keyed = EventRequests.requests(s, dir)
        .toDF()
        .withColumn("scenario", explode(lit((0 until grid32.size).toArray)))
        .select(
          col("scenario").as("_1"),
          struct(
            col("userId"), col("requestTimeMicros"), col("processingTime"),
            col("simArrivalTime"), col("seq")).as("_2"))
        .as[(Int, graft.model.SimRequest)]
      val completed = SimOperator
        .simulateScenarios(keyed, (k: Int) => grid32(k))
        .toDF("scenario", "completed")
      Statistics.summaryByGroup(
        Statistics.renameToSnake(completed.select(col("scenario"), col("completed.*"))),
        Seq("scenario")
      )
    },
    None
  )

  val all: Seq[QueryDef] = Seq(
    q19SimEvents, q20SimStats, q21SimApiUsage, q22SimBoundedFifo,
    q38Datagen, q39SimScenarios, q379SimGrid
  )
}
