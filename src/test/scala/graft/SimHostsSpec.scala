package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sim.{SimCore, SimOperator}

/** Seeded generative check across the simulation hosts. On every drawn
  * case each host must conserve the input (every `seq` comes out exactly
  * once), and these must give the same output as `SimCore.run`:
  * `SimOperator.simulate`, a one-key `simulateScenarios`, `runIncremental`
  * as one batch, and `runIncremental` over slices cut at idle gaps (each
  * slice starts after the previous slice's last completion, within the
  * rate window, so the limiter's ledger and the RNG position must carry).
  * `runFixedStep` paces time differently and is checked for conservation
  * only.
  *
  * Each case draws from one of four regimes: a limiter under overload,
  * bounded-FIFO rejection, same-instant ties and zero service times.
  * Service times straddle the 20 s priority threshold, so the biased
  * dequeue draws from the RNG with both tiers non-empty.
  */
class SimHostsSpec extends AnyFunSuite {
  import SimHostsSpec.Case

  private lazy val spark = SparkTestSession.spark

  private val regimes = Vector("limiter overload", "bounded FIFO", "same-instant ties", "zero service")

  /** One burst of arrivals starting at `t0`, in the regime's shape. */
  private def burst(regime: Int, rng: scala.util.Random, t0: Double, firstSeq: Long): Vector[SimRequest] = {
    val n = 1 + rng.nextInt(12)
    var t = t0
    (0 until n).map { i =>
      val arrival = t
      t += (regime match {
        case 2 => if (rng.nextInt(3) == 0) 1.0 else 0.0 // runs of equal instants
        case _ => rng.nextInt(40) / 10.0
      })
      val service =
        if (regime == 3 && rng.nextInt(3) == 0) 0.0
        else rng.nextInt(400) / 10.0 // 0 to 39.9 s, across the 20 s threshold
      SimRequest(s"u${firstSeq + i}", None, service, arrival, firstSeq + i)
    }.toVector
  }

  private def config(regime: Int, rng: scala.util.Random): SimConfig = {
    val strategy =
      if (regime == 1) FifoConfig(Some(1 + rng.nextInt(3)))
      else if (rng.nextInt(4) == 0) FifoConfig(None)
      else PriorityConfig(bias = Seq(0.2, 0.5, 0.8)(rng.nextInt(3)))
    val tight = regime == 0 || rng.nextBoolean()
    SimConfig(
      numWorkers = 1 + rng.nextInt(if (regime == 1) 2 else 5),
      strategy = strategy,
      numApis = if (tight) 1 + rng.nextInt(2) else 5,
      rpmLimit = if (tight) 1 + rng.nextInt(4) else 60,
      rngSeed = rng.nextLong()
    )
  }

  /** Bursts separated by idle gaps: a burst starts 0.1 to 30 s after every
    * earlier request has finished. The prefix's completions do not depend
    * on later arrivals, so a run over the prefix alone gives that time.
    */
  private def draw(seed: Int): Case = {
    val rng = new scala.util.Random(seed)
    val regime = seed % regimes.size
    val cfg = config(regime, rng)
    val slices = Vector.newBuilder[Vector[SimRequest]]
    var sofar = Vector.empty[SimRequest]
    for (_ <- 0 until 1 + rng.nextInt(4)) {
      val t0 =
        if (sofar.isEmpty) rng.nextInt(50) / 10.0
        else lastEvent(SimCore.run(cfg, sofar.iterator).toVector) + 0.1 + rng.nextInt(300) / 10.0
      val b = burst(regime, rng, t0, sofar.size.toLong)
      slices += b
      sofar ++= b
    }
    Case(s"seed $seed (${regimes(regime)})", cfg, slices.result())
  }

  private def lastEvent(out: Seq[SimCompleted]): Double =
    out.map(c => math.max(c.finishTime, c.arrivalTimeInQueue)).max

  private def canon(v: Seq[SimCompleted]): Vector[SimCompleted] =
    v.sortBy(c =>
      (if (c.finishTime != -1) c.finishTime else Double.PositiveInfinity, c.arrivalTimeInQueue, c.seq)
    ).toVector

  private def assertConserved(c: Case, host: String, out: Seq[SimCompleted]): Unit =
    assert(out.map(_.seq).sorted == c.input.map(_.seq).sorted, s"${c.name}: $host")

  private val cases = (1 to 400).map(draw)

  test("seeded cases reach every regime, with rejections, limiter refusals and RNG draws") {
    val outs = cases.map(c => SimCore.run(c.cfg, c.input.iterator).toVector)
    assert(outs.flatten.exists(_.status == "rejected"))
    assert(outs.flatten.exists(_.status == "failed_api_limit"))
    assert(outs.flatten.exists(_.processingTime == 0.0))
    assert(cases.count(_.slices.size > 1) > 100)
    // Both tiers served: the RNG decides an order.
    assert(outs.exists(o => o.exists(_.queue.contains("priority")) && o.exists(_.queue.contains("normal"))))
  }

  test("SimCore.run, runIncremental in one batch and over idle-gap slices give one output, conserving every seq") {
    for (c <- cases) {
      val batch = SimCore.run(c.cfg, c.input.reverseIterator).toVector
      assertConserved(c, "run", batch)
      // Every slice really starts after the previous ones have drained.
      c.slices.indices.drop(1).foreach { k =>
        val before = c.slices.take(k).flatten.map(_.seq).toSet
        val start = c.slices(k).head.simArrivalTime
        assert(lastEvent(batch.filter(r => before(r.seq))) < start, s"${c.name}: slice $k")
      }
      val (oneShot, oneState) =
        SimCore.runIncremental(c.cfg, SimCore.SimState.initial(c.cfg), c.input.iterator)
      assert(oneShot == batch, s"${c.name}: runIncremental as one batch")
      var state = SimCore.SimState.initial(c.cfg)
      val chained = c.slices.flatMap { slice =>
        val (out, next) = SimCore.runIncremental(c.cfg, state, slice.iterator)
        state = next
        out
      }
      assertConserved(c, "runIncremental over slices", chained)
      assert(canon(chained) == canon(batch), s"${c.name}: runIncremental over slices")
      assert(state == oneState, s"${c.name}: carried state")
    }
  }

  test("runFixedStep conserves every seq") {
    for (c <- cases)
      assertConserved(c, "runFixedStep", SimCore.runFixedStep(c.cfg, c.input.iterator, 0.5).toVector)
  }

  test("SimOperator.simulate and a one-key simulateScenarios equal SimCore.run") {
    val s = spark
    import s.implicits._
    for (c <- cases.take(24)) {
      val batch = SimCore.run(c.cfg, c.input.iterator).toVector
      val simulated = SimOperator.simulate(c.input.toDS(), c.cfg).collect().toVector
      assertConserved(c, "simulate", simulated)
      assert(simulated == batch, s"${c.name}: simulate")
      val scenario = SimOperator
        .simulateScenarios(c.input.map(r => ("k", r)).toDS(), (_: String) => c.cfg)
        .collect()
        .toVector
      assert(scenario.forall(_._1 == "k"))
      assert(scenario.map(_._2) == batch, s"${c.name}: simulateScenarios")
    }
  }
}

object SimHostsSpec {
  final case class Case(name: String, cfg: SimConfig, slices: Vector[Vector[SimRequest]]) {
    def input: Vector[SimRequest] = slices.flatten
  }
}
