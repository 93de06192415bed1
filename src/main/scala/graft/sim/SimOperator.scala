package graft.sim

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

import graft.model._

/** Spark wrapper around [[SimCore]].
  *
  * The simulation is a globally-sequential fold (one shared queue + one
  * shared rate-limit ledger couple all events — reference:
  * src/simulator.py:57, SURVEY §4.2), so a single scenario is pinned to ONE
  * task behind one shuffle (`repartition(1)`). Scale-out at 100 TB comes
  * from [[simulateScenarios]]: thousands of independent scenarios
  * (parameter sweeps, per-tenant replays) fan out across the cluster with
  * one ordinary shuffle, each group folded independently.
  */
object SimOperator {

  implicit private val completedEnc: Encoder[SimCompleted] = Encoders.product[SimCompleted]

  /** Run one simulation over the whole dataset. `repartition(1)` hands
    * every row to one task through one shuffle, so whatever produces `ds`
    * (a CSV parse, a lake scan) keeps running on every core; a narrow
    * `coalesce(1)` would pull that work into the fold's task too. The
    * shuffle's arrival order does not matter: SimCore sorts its input by
    * (simArrivalTime, seq) itself, so no cluster-side sort is needed.
    */
  def simulate(ds: Dataset[SimRequest], cfg: SimConfig): Dataset[SimCompleted] =
    ds.repartition(1).mapPartitions(it => SimCore.run(cfg, it))

  /** Scenario fan-out: one independent simulation per key. Each group is
    * materialized in memory by SimCore (a single scenario's event set must
    * fit an executor — document-sized, not lake-sized), while the set of
    * scenarios scales horizontally.
    */
  def simulateScenarios[K](
      ds: Dataset[(K, SimRequest)],
      cfgFor: K => SimConfig
  )(implicit kEnc: Encoder[K], outEnc: Encoder[(K, SimCompleted)]): Dataset[(K, SimCompleted)] =
    ds.groupByKey(_._1)
      .flatMapGroups((k: K, it: Iterator[(K, SimRequest)]) =>
        SimCore.run(cfgFor(k), it.map(_._2)).map(c => (k, c))
      )
}
