package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sim.SimCore

/** Golden-timeline tests for the pure-Scala simulation core, ported from
  * reference tests/test_simulator.py, tests/test_worker.py,
  * tests/test_queue_manager.py and tests/test_api_client.py (SURVEY §5).
  * No SparkSession needed — the core is Spark-free by design.
  */
class SimCoreSpec extends AnyFunSuite {

  private def req(user: String, arrival: Double, proc: Double, seq: Long): SimRequest =
    SimRequest(user, None, proc, arrival, seq)

  private def run(cfg: SimConfig, rs: SimRequest*): Vector[SimCompleted] =
    SimCore.run(cfg, rs.iterator).toVector

  test("one worker, one request (tests/test_simulator.py:27-39)") {
    val out = run(SimConfig(numWorkers = 1), req("user1", 0.0, 2.0, 0))
    assert(out.size == 1)
    val t = out.head
    assert(t.simArrivalTime == 0.0)
    assert(t.arrivalTimeInQueue == 0.0)
    assert(t.startTime == 0.0)
    assert(t.finishTime == 2.0)
    assert(t.usedApiId.contains(1))
    assert(t.status == "success")
    assert(t.queue.contains("priority")) // 2.0 s < 20 s threshold
  }

  test("queueing cascade: start2 == finish1 (tests/test_simulator.py:41-68)") {
    val out = run(
      SimConfig(numWorkers = 1),
      req("user1", 0.0, 2.0, 0),
      req("user2", 0.5, 1.0, 1)
    )
    assert(out.size == 2)
    val t1 = out.find(_.userId == "user1").get
    val t2 = out.find(_.userId == "user2").get
    assert(t1.startTime == 0.0 && t1.finishTime == 2.0)
    assert(t2.arrivalTimeInQueue == 0.5)
    assert(t2.startTime == 2.0 && t2.finishTime == 3.0) // starts at the completion instant
  }

  test("late arrivals shift the clock (tests/test_simulator.py:70-95)") {
    val out = run(
      SimConfig(numWorkers = 1),
      req("user1", 1.0, 2.0, 0),
      req("user2", 1.5, 1.0, 1)
    )
    val t1 = out.find(_.userId == "user1").get
    val t2 = out.find(_.userId == "user2").get
    assert(t1.startTime == 1.0 && t1.finishTime == 3.0)
    assert(t2.startTime == 3.0 && t2.finishTime == 4.0)
  }

  test("two workers compete (tests/test_simulator.py:97-133)") {
    val out = run(
      SimConfig(numWorkers = 2),
      req("user1", 0.0, 3.0, 0),
      req("user2", 0.1, 1.0, 1),
      req("user3", 0.2, 2.0, 2)
    )
    val t1 = out.find(_.userId == "user1").get
    val t2 = out.find(_.userId == "user2").get
    val t3 = out.find(_.userId == "user3").get
    assert(t1.startTime == 0.0 && t1.finishTime == 3.0)
    assert(t2.startTime == 0.1 && t2.finishTime == 1.1)
    assert(t3.startTime == 1.1 && t3.finishTime == 3.1)
    // Final order: by finish time (src/simulator.py:260-265)
    assert(out.map(_.userId) == Vector("user2", "user1", "user3"))
  }

  test("all arrive at t=0, sequential drain (tests/test_simulator.py:249-274)") {
    val out = run(
      SimConfig(numWorkers = 1),
      req("a", 0.0, 1.0, 0),
      req("b", 0.0, 1.0, 1),
      req("c", 0.0, 1.0, 2)
    )
    assert(out.map(_.finishTime) == Vector(1.0, 2.0, 3.0))
    // Stable FIFO within the priority queue preserves input order
    assert(out.map(_.userId) == Vector("a", "b", "c"))
  }

  test("zero processing time (tests/test_simulator.py:281-289)") {
    val out = run(SimConfig(numWorkers = 1), req("z", 1.0, 0.0, 0))
    val t = out.head
    assert(t.startTime == 1.0 && t.finishTime == 1.0)
  }

  test("empty input (tests/test_simulator.py:276-279)") {
    assert(run(SimConfig(numWorkers = 1)).isEmpty)
  }

  test("priority threshold boundary: 19.9 → priority, 20.0 → normal (tests/test_queue_manager.py:72-110)") {
    val out = run(
      SimConfig(numWorkers = 1),
      req("fast", 0.0, 19.9, 0),
      req("slow", 0.1, 20.0, 1)
    )
    assert(out.find(_.userId == "fast").get.queue.contains("priority"))
    assert(out.find(_.userId == "slow").get.queue.contains("normal"))
  }

  test("bounded FIFO rejects when full — the reference's dead path made live (SURVEY §4.1)") {
    val cfg = SimConfig(numWorkers = 1, strategy = FifoConfig(maxSize = Some(1)))
    val out = run(
      cfg,
      req("r1", 0.0, 5.0, 0),
      req("r2", 0.0, 5.0, 1),
      req("r3", 0.0, 5.0, 2)
    )
    // Fixpoint pass at T=0: r1 fills the queue, r2/r3 rejected before any
    // worker tick (src/simulator.py:201-217 drains arrivals first).
    val rejected = out.filter(_.finishTime == -1)
    assert(rejected.map(_.userId).toSet == Set("r2", "r3"))
    assert(rejected.forall(_.status == "rejected"))
    assert(out.find(_.userId == "r1").get.finishTime == 5.0)
    // Rejected rows sort last (finish treated as +inf, src/simulator.py:262)
    assert(out.map(_.userId) == Vector("r1", "r2", "r3"))
  }

  test("rate limiter: rpm exhaustion rotates endpoints, then fails; failure still consumes time (tests/test_worker.py:58-81, tests/test_api_client.py:24-40)") {
    // 2 endpoints × 1 rpm, zero-length tasks: first two calls at T=0 use
    // api 1 then api 2; the third finds everything limited → failure.
    val cfg = SimConfig(
      numWorkers = 1,
      numApis = 2,
      rpmLimit = 1,
      strategy = PriorityConfig()
    )
    val out = run(
      cfg,
      req("a", 0.0, 0.0, 0),
      req("b", 0.0, 0.0, 1),
      req("c", 0.0, 3.0, 2)
    )
    val a = out.find(_.userId == "a").get
    val b = out.find(_.userId == "b").get
    val c = out.find(_.userId == "c").get
    assert(a.usedApiId.contains(1) && a.status == "success")
    assert(b.usedApiId.contains(2) && b.status == "success")
    assert(c.usedApiId.isEmpty && c.status == "failed_api_limit")
    assert(c.finishTime == 3.0) // processing time consumed despite API failure
  }

  test("rate-limit window expiry: a slot frees strictly after 60 s (tests/test_api_client.py:101-126)") {
    // 1 endpoint × 1 rpm. First call at T=0. Second task arrives at 60.0:
    // 60 − 0 > 60 is false ⇒ still limited ⇒ failed. Third at 60.1 succeeds.
    val cfg = SimConfig(numWorkers = 1, numApis = 1, rpmLimit = 1)
    val out = run(
      cfg,
      req("t0", 0.0, 0.0, 0),
      req("t60", 60.0, 0.0, 1),
      req("t60_1", 60.1, 0.0, 2)
    )
    assert(out.find(_.userId == "t0").get.status == "success")
    assert(out.find(_.userId == "t60").get.status == "failed_api_limit")
    assert(out.find(_.userId == "t60_1").get.status == "success")
  }

  test("biased dequeue is deterministic under a fixed seed") {
    val rs = (0 until 40).map { i =>
      // alternate short (priority) and long (normal) tasks, all queued at t=0
      req(s"u$i", 0.0, if (i % 2 == 0) 1.0 else 30.0, i.toLong)
    }
    val a = run(SimConfig(numWorkers = 2, rngSeed = 7L), rs: _*)
    val b = run(SimConfig(numWorkers = 2, rngSeed = 7L), rs: _*)
    assert(a == b)
  }

  test("determinism: same input in shuffled iterator order gives identical output") {
    val rs = (0 until 50).map(i => req(s"u$i", i * 0.3, 1.0 + (i % 7), i.toLong))
    val a = run(SimConfig(numWorkers = 3), rs: _*)
    val b = run(SimConfig(numWorkers = 3), scala.util.Random.shuffle(rs.toList): _*)
    assert(a == b) // internal stable sort restores canonical order
  }

  /** `body` on a daemon thread, so that a spinning core fails the test at
    * the await instead of hanging the suite.
    */
  private def within10s[T](body: => T): scala.util.Try[T] = {
    val outcome = scala.concurrent.Promise[scala.util.Try[T]]()
    val t = new Thread(() => outcome.success(scala.util.Try(body)))
    t.setDaemon(true)
    t.start()
    scala.concurrent.Await.result(outcome.future, scala.concurrent.duration.Duration(10, "s"))
  }

  test("a NaN arrival or service time fails the run instead of spinning") {
    for ((what, bad) <- Seq(
        "processing time" -> req("user2", 0.5, Double.NaN, 1),
        "arrival time" -> req("user2", Double.NaN, 1.0, 1))) {
      val result = within10s(run(SimConfig(), req("user1", 0.0, 1.0, 0), bad))
      val e = result.failed.toOption
      assert(e.exists(_.isInstanceOf[IllegalArgumentException]), s"NaN $what: $result")
      assert(e.get.getMessage.contains("request seq 1 has a non-finite time"), e.get.getMessage)
    }
  }

  test("an infinite arrival or service time fails every run mode, naming the request, instead of dropping requests") {
    val cfg = SimConfig(numWorkers = 1)
    val rest = Seq(req("user2", 0.5, 1.0, 1), req("user3", 1.0, 1.0, 2))
    for (bad <- Seq(
        req("user1", 0.0, Double.PositiveInfinity, 0),
        req("user1", 0.0, Double.NegativeInfinity, 0),
        req("user1", Double.PositiveInfinity, 1.0, 0))) {
      val input = bad +: rest
      for ((mode, result) <- Seq(
          "run" -> within10s(SimCore.run(cfg, input.iterator).toVector),
          "runIncremental" -> within10s(
            SimCore.runIncremental(cfg, SimCore.SimState.initial(cfg), input.iterator)._1),
          "runFixedStep" -> within10s(SimCore.runFixedStep(cfg, input.iterator).toVector))) {
        val e = result.failed.toOption
        assert(e.exists(_.isInstanceOf[IllegalArgumentException]), s"$mode on $bad: $result")
        assert(e.get.getMessage.contains("request seq 0 has a non-finite time"), e.get.getMessage)
      }
    }
  }

  test("a negative arrival is enqueued at the starting clock, 0, and keeps its own arrival time") {
    val out = run(SimConfig(numWorkers = 1), req("early", -5.0, 1.0, 0), req("late", 3.0, 1.0, 1))
    val early = out.find(_.userId == "early").get
    val late = out.find(_.userId == "late").get
    assert(early.simArrivalTime == -5.0)
    assert(early.arrivalTimeInQueue == 0.0 && early.startTime == 0.0 && early.finishTime == 1.0)
    assert(late.arrivalTimeInQueue == 3.0 && late.startTime == 3.0 && late.finishTime == 4.0)
  }
}
