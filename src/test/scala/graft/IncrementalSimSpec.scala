package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sim.SimCore

/** The resumable increment API: chaining drained increments through
  * runIncremental, each batch arriving after the previous batch's last
  * event, must reproduce the one-shot run exactly — the clock, the
  * rate-limit ledger and the RNG position carry over.
  */
class IncrementalSimSpec extends AnyFunSuite {

  private def req(user: String, arrival: Double, proc: Double, seq: Long): SimRequest =
    SimRequest(user, None, proc, arrival, seq)

  private def incremental(
      cfg: SimConfig,
      slices: Seq[Vector[SimRequest]]
  ): Vector[SimCompleted] = {
    var state = SimCore.SimState.initial(cfg)
    slices.toVector.flatMap { slice =>
      val (done, next) = SimCore.runIncremental(cfg, state, slice.iterator)
      state = next
      done
    }
  }

  /** The time of the last event of a run over `rs`: a later batch that
    * starts after it finds every queue and worker idle.
    */
  private def lastEvent(cfg: SimConfig, rs: Seq[SimRequest]): Double =
    SimCore.run(cfg, rs.iterator).map(c => math.max(c.finishTime, c.arrivalTimeInQueue)).max

  private def canon(v: Seq[SimCompleted]): Seq[SimCompleted] =
    v.sortBy(c =>
      (if (c.finishTime != -1) c.finishTime else Double.PositiveInfinity, c.arrivalTimeInQueue, c.seq)
    )

  test("3 slices cut at idle gaps ≡ one-shot batch (priority strategy, rate limits active)") {
    for (seed <- 1 to 8) {
      val rng = new scala.util.Random(seed)
      // Tight rate limit so the ledger state matters across slices.
      val cfg = SimConfig(numWorkers = 3, numApis = 2, rpmLimit = 5, rngSeed = seed.toLong)
      // Each slice starts 1 to 20 s after the previous ones have drained:
      // an idle gap well inside the 60 s rate window. Service times
      // straddle the 20 s priority threshold, so the dequeue draws matter.
      val slices = (0 until 3).foldLeft(Vector.empty[Vector[SimRequest]]) { (acc, _) =>
        val sofar = acc.flatten
        val t0 = if (sofar.isEmpty) 0.0 else lastEvent(cfg, sofar) + 1 + rng.nextInt(20)
        acc :+ (0 until 17).map { i =>
          val seq = sofar.size + i
          req(s"u$seq", t0 + rng.nextInt(100) / 10.0, rng.nextInt(300) / 10.0, seq.toLong)
        }.toVector
      }
      val batch = SimCore.run(cfg, slices.flatten.iterator).toVector
      assert(batch.exists(_.status == "failed_api_limit"), s"seed $seed")
      val inc = incremental(cfg, slices)
      assert(canon(inc) == canon(batch), s"seed $seed")
    }
  }

  test("bounded FIFO rejection across idle-gap slices") {
    val cfg = SimConfig(numWorkers = 1, strategy = FifoConfig(Some(2)))
    val first = (0 until 6).map(i => req(s"u$i", i * 1.0, 10.0, i.toLong)).toVector
    val t0 = lastEvent(cfg, first) + 5
    val second = (6 until 12).map(i => req(s"u$i", t0 + (i - 6), 10.0, i.toLong)).toVector
    val batch = SimCore.run(cfg, (first ++ second).iterator).toVector
    val inc = incremental(cfg, Seq(first, second))
    assert(canon(inc) == canon(batch))
    // One in service and two queued: each slice's last three are rejected.
    assert(inc.filter(_.status == "rejected").map(_.seq) == Seq(3, 4, 5, 9, 10, 11))
  }

  test("the RNG position carries across increments, also when the SplitMix state is 0") {
    // This seed's first draw leaves the SplitMix state at exactly 0, the
    // state a resume must carry like any other.
    val cfg = SimConfig(numWorkers = 1, rngSeed = 7212067755985902090L)
    val first = Vector(req("a", 0.0, 1.0, 0))
    val second = (1 to 12).map(i => req(s"b$i", 10.0, if (i % 2 == 1) 5.0 else 30.0, i.toLong)).toVector
    def served(out: Seq[SimCompleted]): Seq[String] = out.sortBy(c => (c.startTime, c.seq)).map(_.userId)
    val batch = SimCore.run(cfg, (first ++ second).iterator).toVector
    val (done1, s1) = SimCore.runIncremental(cfg, SimCore.SimState.initial(cfg), first.iterator)
    assert(s1.rngState == 0L)
    val (done2, _) = SimCore.runIncremental(cfg, s1, second.iterator)
    assert(served(done1 ++ done2) == served(batch))
  }

  test("late data (arrival before the resumed clock) clamps to current virtual time") {
    val cfg = SimConfig(numWorkers = 1)
    val (done1, s1) = SimCore.runIncremental(
      cfg,
      SimCore.SimState.initial(cfg),
      Iterator(req("a", 0.0, 5.0, 0))
    )
    assert(done1.head.finishTime == 5.0 && s1.currentTime == 5.0)
    val (done2, _) = SimCore.runIncremental(cfg, s1, Iterator(req("late", 1.0, 2.0, 1)))
    // Arrived "at 1.0" but the clock is already at 5.0 → enqueued at 5.0.
    assert(done2.head.arrivalTimeInQueue == 5.0)
    assert(done2.head.startTime == 5.0 && done2.head.finishTime == 7.0)
  }
}
