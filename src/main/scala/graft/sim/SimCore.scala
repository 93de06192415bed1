package graft.sim

import scala.collection.mutable

import graft.model._

/** Pure-Scala deterministic core of the discrete-event simulation.
  *
  * This file is the one genuinely custom operator of the engine (SURVEY §7.3):
  * a globally-sequential stateful fold that Spark's relational operators
  * cannot express. It is deliberately free of any Spark dependency so the
  * golden-timeline unit tests (ported from reference tests/test_simulator.py,
  * tests/test_worker.py, tests/test_queue_manager.py, tests/test_api_client.py)
  * run without a SparkSession; the Spark wrapper in
  * [[graft.sim.SimOperator]] is a thin `mapPartitions` shim.
  *
  * Semantics are a faithful re-expression of:
  *   - event loop / fixpoint drain / time-skip  reference: src/simulator.py:195-258
  *   - worker state machine                     reference: src/worker.py:54-111
  *   - two-tier priority queue + biased dequeue reference: src/queue_manager.py:98-221
  *   - sliding-window rate-limited API client   reference: src/api_client.py:17-90
  *
  * Determinism contract: arrivals drain in (simArrivalTime, seq) order;
  * workers tick in worker-id order; the biased dequeue draws from a seeded
  * [[SimCore.SplitMixRandom]] stream (the engine defines its own seeded
  * contract rather than replicating CPython's Mersenne-Twister bit stream;
  * goldens that depend on the RNG are recomputed against this contract,
  * SURVEY §7.3b).
  *
  * Every run drains: it returns only when no request is pending, queued or
  * in service. So what one run hands the next ([[SimCore.SimState]]) is
  * only the clock, the rate-limit ledger and the RNG state.
  */
object SimCore {

  /** SplitMix64-based RNG whose full state is one Long — snapshot and
    * restore are O(1) (scala.util.Random's internal state is not
    * extractable, and replaying a draw count would cost O(total draws) per
    * resume, quadratic over a stream's lifetime).
    */
  final class SplitMixRandom(initialState: Long) {
    private var s: Long = initialState
    def nextDouble(): Double = {
      s += 0x9e3779b97f4a7c15L
      // 53-bit mantissa of the mixed state → uniform [0, 1).
      (MinHashLike.mix64(s) >>> 11) * 1.1102230246251565e-16
    }
    def state: Long = s
  }

  /** SplitMix64 finalizer: a copy of `graft.functions.MinHashSignature.mix64`,
    * kept here so that SimCore stays free of Spark.
    */
  private[sim] object MinHashLike {
    @inline def mix64(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  /** What a drained run leaves for the next one (an encodable case class,
    * so a streaming host can keep it in its GroupState): the virtual clock,
    * each endpoint's rate-limit ledger with the next endpoint to try, and
    * the RNG state.
    */
  final case class SimState(
      currentTime: Double,
      apiStamps: Seq[Seq[Double]],
      apiCurrentIndex: Int,
      rngState: Long
  )

  object SimState {
    def initial(cfg: SimConfig): SimState =
      SimState(0.0, Seq.fill(cfg.numApis)(Nil), 0, MinHashLike.mix64(cfg.rngSeed))
  }

  /** Mutable in-flight record; the engine-internal analogue of the
    * reference's in-place mutated `Request` (src/data_model.py:37-42).
    */
  final class InFlight(val req: SimRequest) {
    var arrivalTimeInQueue: Double = 0.0
    var startTime: Double = 0.0
    var finishTime: Double = 0.0
    var usedApiId: Option[Int] = None
    var queue: Option[String] = None
    var status: String = "pending"

    def toCompleted: SimCompleted = SimCompleted(
      userId = req.userId,
      requestTimeMicros = req.requestTimeMicros,
      processingTime = req.processingTime,
      simArrivalTime = req.simArrivalTime,
      arrivalTimeInQueue = arrivalTimeInQueue,
      startTime = startTime,
      finishTime = finishTime,
      usedApiId = usedApiId,
      queue = queue,
      status = status,
      seq = req.seq
    )
  }

  /** Bounded FIFO (reference: src/queue_manager.py:7-95). */
  final class FifoQueue[T](val maxSize: Option[Int] = None) {
    private val q = mutable.ArrayDeque.empty[T]
    def enqueue(item: T): Boolean =
      if (maxSize.exists(q.length >= _)) false
      else { q.append(item); true }
    def dequeue(): Option[T] = if (q.isEmpty) None else Some(q.removeHead())
    def isEmpty: Boolean = q.isEmpty
    def isFull: Boolean = maxSize.exists(q.length >= _)
    def size: Int = q.length
  }

  /** Queue facade shared by the FIFO and two-tier priority disciplines. */
  sealed trait TaskQueue {
    def enqueue(item: InFlight): Boolean
    def dequeue(): Option[InFlight]
    def isEmpty: Boolean
    def isFull: Boolean
    def size: Int
  }

  /** Plain bounded FIFO discipline — the reference's documented-but-dead
    * configuration (SURVEY §4.1): `-q` bound honored, rejection reachable.
    */
  final class FifoStrategy(maxSize: Option[Int]) extends TaskQueue {
    private val q = new FifoQueue[InFlight](maxSize)
    def enqueue(item: InFlight): Boolean = {
      val ok = q.enqueue(item)
      if (ok) item.queue = Some("normal")
      ok
    }
    def dequeue(): Option[InFlight] = q.dequeue()
    def isEmpty: Boolean = q.isEmpty
    def isFull: Boolean = q.isFull
    def size: Int = q.size
  }

  /** Two-tier priority routing with probabilistic biased dequeue
    * (reference: src/queue_manager.py:98-221; the shipped class binds
    * `dequeue = dequeue_corrected`, i.e. the fallback-capable variant at
    * :188-221 — the non-fallback one at :157-186 is dead code).
    */
  final class PriorityStrategy(
      thresholdSeconds: Double,
      bias: Double,
      rng: SplitMixRandom
  ) extends TaskQueue {
    private val priorityQ = new FifoQueue[InFlight]()
    private val normalQ = new FifoQueue[InFlight]()

    def enqueue(item: InFlight): Boolean = {
      // Items with a valid processing time below the threshold go priority;
      // everything else (incl. NaN, mirroring Python's hasattr/number check
      // at src/queue_manager.py:137) goes normal.
      val toPriority =
        !item.req.processingTime.isNaN && item.req.processingTime < thresholdSeconds
      if (toPriority) {
        priorityQ.enqueue(item)
        item.queue = Some("priority")
      } else {
        normalQ.enqueue(item)
        item.queue = Some("normal")
      }
      true
    }

    def dequeue(): Option[InFlight] = {
      val pHas = !priorityQ.isEmpty
      val nHas = !normalQ.isEmpty
      if (!pHas && !nHas) None
      else {
        // Draw exactly once per dequeue with both-queues-empty already
        // excluded — matches dequeue_corrected (src/queue_manager.py:205)
        // where random() is drawn after the emptiness check.
        val chosePriority = rng.nextDouble() < bias
        if (chosePriority) {
          if (pHas) priorityQ.dequeue() else normalQ.dequeue()
        } else {
          if (nHas) normalQ.dequeue() else priorityQ.dequeue()
        }
      }
    }

    def isEmpty: Boolean = priorityQ.isEmpty && normalQ.isEmpty
    // The reference's PriorityQueueStrategy has no bound: is_full() ≡ False
    // (src/queue_manager.py:249-256) — which is why rejection never fires in
    // its default wiring.
    def isFull: Boolean = false
    def size: Int = priorityQ.size + normalQ.size
  }

  /** Sliding-window rate-limited, fallback-capable API client
    * (reference: src/api_client.py:8-90). All simulated calls "succeed"
    * (response_status hard-wired 200, src/api_client.py:58), so the only
    * failure mode is every endpoint rate-limited at once.
    */
  final class ApiClient(
      numApis: Int,
      rpmLimit: Int,
      windowSeconds: Double,
      now: () => Double
  ) {
    private val stamps: Array[mutable.ArrayDeque[Double]] =
      Array.fill(numApis)(mutable.ArrayDeque.empty[Double])
    private var currentIndex = 0

    /** Strict-inequality eviction: a timestamp exactly `windowSeconds` old
      * still counts (reference: src/api_client.py:21 `now - ts > 60`).
      */
    private def canMakeRequest(i: Int): Boolean = {
      val t = now()
      val q = stamps(i)
      while (q.nonEmpty && t - q.head > windowSeconds) q.removeHead()
      q.length < rpmLimit
    }

    /** Returns the 1-based id of the endpoint used, or None when all
      * endpoints are rate-limited (the reference raises; the worker maps
      * that to status "failed_api_limit", src/worker.py:48-52).
      */
    def makeRequest(): Option[Int] = {
      val initial = currentIndex
      var attempts = 0
      while (attempts < numApis) {
        val i = (initial + attempts) % numApis
        if (canMakeRequest(i)) {
          stamps(i).append(now())
          currentIndex = i // remember last-successful (src/api_client.py:70)
          return Some(i + 1)
        } else {
          attempts += 1
          currentIndex = (i + 1) % numApis
        }
      }
      None
    }

    def snapshot: (Seq[Seq[Double]], Int) = (stamps.map(_.toSeq).toSeq, currentIndex)
    def restore(s: Seq[Seq[Double]], idx: Int): Unit = {
      require(
        s.size == numApis,
        s"snapshot has ${s.size} endpoint ledgers but the config has $numApis — " +
          "refusing to silently drop rate-limit state"
      )
      s.zipWithIndex.foreach { case (ts, i) =>
        stamps(i).clear() // idempotent restore
        stamps(i).appendAll(ts)
      }
      currentIndex = idx
    }
  }

  /** Worker state machine (reference: src/worker.py:54-111). One task at a
    * time; completion and start never happen in the same tick (a completed
    * worker starts its next task on the following fixpoint pass).
    */
  final class Worker(queue: TaskQueue, api: ApiClient) {
    var currentTask: Option[InFlight] = None
    var busyUntil: Double = 0.0

    def processTask(currentTime: Double): Option[InFlight] = {
      currentTask match {
        case Some(t) if currentTime >= busyUntil =>
          // finish := busy_until, NOT current time (src/worker.py:69)
          t.finishTime = busyUntil
          currentTask = None
          return Some(t)
        case _ => ()
      }
      if (currentTask.isEmpty && !queue.isEmpty) {
        queue.dequeue().foreach { t =>
          currentTask = Some(t)
          t.startTime = currentTime
          api.makeRequest() match {
            case Some(apiId) =>
              t.usedApiId = Some(apiId)
              t.status = "success"
            case None =>
              // Failure still consumes the full processing time
              // (src/worker.py:102-104; tests/test_worker.py:58-81).
              t.status = "failed_api_limit"
          }
          busyUntil = currentTime + t.req.processingTime
        }
      }
      None
    }
  }

  /** One animation frame's observable state (reference
    * src/simulator.py:104-135 gauges).
    */
  final case class Frame(
      currentTime: Double,
      pendingCount: Int,
      queuedCount: Int,
      activeWorkers: Int,
      completedCount: Int
  )

  /** Shared transition engine for both run modes: arrivals drain + worker
    * ticks over the mutable state (queue, workers, rate-limit ledger,
    * virtual clock). A fresh engine starts its clock at the first
    * non-negative arrival, a resumed one at the saved clock.
    */
  private final class Engine(
      cfg: SimConfig,
      input: Iterator[SimRequest],
      resume: Option[SimState] = None
  ) {
    // Stable sort by arrival: (simArrivalTime, seq) reproduces Python's
    // stable `sorted(key=sim_arrival_time)` over input order
    // (src/simulator.py:41).
    val pending: Array[SimRequest] = input.toArray.sortBy(r => (r.simArrivalTime, r.seq))
    // A NaN time stalls the event loop and an infinite one ends it early,
    // dropping whatever is still queued: refuse both, naming the request.
    pending.foreach { r =>
      require(
        java.lang.Double.isFinite(r.simArrivalTime) && java.lang.Double.isFinite(r.processingTime),
        s"request seq ${r.seq} has a non-finite time: arrival ${r.simArrivalTime}, " +
          s"processing ${r.processingTime}"
      )
    }
    private val start = resume.getOrElse(SimState.initial(cfg))
    private val rng = new SplitMixRandom(start.rngState)
    val queue: TaskQueue = cfg.strategy match {
      case FifoConfig(maxSize)          => new FifoStrategy(maxSize)
      case PriorityConfig(thresh, bias) => new PriorityStrategy(thresh, bias, rng)
    }
    var currentTime: Double =
      if (resume.isEmpty && pending.nonEmpty && pending(0).simArrivalTime >= 0) pending(0).simArrivalTime
      else start.currentTime
    val api =
      new ApiClient(cfg.numApis, cfg.rpmLimit, cfg.rateWindowSeconds, () => currentTime)
    api.restore(start.apiStamps, start.apiCurrentIndex)
    val workers: Array[Worker] =
      Array.fill(cfg.numWorkers)(new Worker(queue, api))
    var pi = 0 // next-pending cursor (sorted ⇒ O(1) amortized arrival scan)
    val completed = mutable.ArrayBuffer.empty[InFlight]

    def state: SimState = {
      val (stamps, idx) = api.snapshot
      SimState(currentTime, stamps, idx, rng.state)
    }

    def anyWorkerBusy: Boolean = workers.exists(_.currentTask.nonEmpty)
    def stateRemains: Boolean = pi < pending.length || !queue.isEmpty || anyWorkerBusy

    /** Arrivals with simArrivalTime <= T, in sorted stable order; returns
      * whether anything arrived (src/simulator.py:201-217).
      */
    def drainArrivals(): Boolean = {
      var action = false
      while (pi < pending.length && pending(pi).simArrivalTime <= currentTime) {
        val inf = new InFlight(pending(pi))
        pi += 1
        inf.arrivalTimeInQueue = currentTime
        action = true
        if (queue.isFull) {
          // Rejection sentinel kept for parity (src/simulator.py:213-215).
          inf.finishTime = -1
          inf.status = "rejected"
          completed += inf
        } else {
          queue.enqueue(inf)
        }
      }
      action
    }

    /** One worker pass in ascending id order (src/simulator.py:219);
      * returns whether any completion or task start occurred.
      */
    def tickWorkers(): Boolean = {
      var action = false
      var wi = 0
      while (wi < workers.length) {
        val w = workers(wi)
        val hadTask = w.currentTask
        val done = w.processTask(currentTime)
        done.foreach { t =>
          completed += t
          action = true
        }
        // Started a new task ⇒ progress (the reference's identity /
        // busy_until comparison at src/simulator.py:229-236 reduces to
        // exactly this: busy_until only changes when a task starts).
        if (w.currentTask.nonEmpty && (hadTask.isEmpty || !(hadTask.get eq w.currentTask.get)))
          action = true
        wi += 1
      }
      action
    }

    def nextEventTime: Double = {
      var t = Double.PositiveInfinity
      if (pi < pending.length) t = math.min(t, pending(pi).simArrivalTime)
      workers.foreach(w => if (w.currentTask.nonEmpty) t = math.min(t, w.busyUntil))
      t
    }

    def frame: Frame = Frame(
      currentTime,
      pending.length - pi,
      queue.size,
      workers.count(_.currentTask.nonEmpty),
      completed.size
    )
  }

  /** Advance the engine through every event until nothing is left:
    * fixpoint drains + time-skips (src/simulator.py:75-98,197-258).
    */
  private def drain(e: Engine): Unit = {
    var halted = false
    while (!halted && e.stateRemains) {
      // Fixpoint drain at time T: maximal progress before the time jump.
      var actionOccurred = true
      while (actionOccurred) {
        actionOccurred = false
        if (e.drainArrivals()) actionOccurred = true
        if (e.tickWorkers()) actionOccurred = true
      }
      // Time-skip to the next arrival or completion.
      val nextEvent = e.nextEventTime
      if (nextEvent.isInfinity) {
        // Reference breaks on inf (src/simulator.py:239-247).
        halted = true
      } else if (nextEvent > e.currentTime) {
        e.currentTime = nextEvent
      } else {
        // After a completed fixpoint every due completion and arrival has
        // been drained, so only a NaN event time lands here, and the Engine
        // refuses NaN inputs; failing beats spinning forever.
        throw new IllegalStateException(
          s"simulation cannot advance: current time ${e.currentTime}, next event time $nextEvent")
      }
    }
  }

  /** Event-driven simulation run (reference: src/simulator.py:195-265).
    *
    * Consumes the full input (the fold is globally sequential — one shared
    * queue and one shared rate-limit ledger couple all events, SURVEY
    * §4.2), then returns completed records in the reference's final order:
    * (finish if != -1 else +inf, arrivalTimeInQueue), stable.
    */
  def run(cfg: SimConfig, input: Iterator[SimRequest]): Iterator[SimCompleted] = {
    val e = new Engine(cfg, input)
    drain(e)
    finish(e.completed)
  }

  /** Resumable increment: continue a drained simulation from `state` with
    * a new batch of arrivals and run it to completion. Returns the records
    * completed in this increment (reference final order) and the state to
    * resume from.
    *
    * Chained increments equal one run over all their arrivals when each
    * batch arrives after the previous batch's last event (an idle gap):
    * the rate-limit ledger and the RNG state carry over, and nothing else
    * is live at that point. An arrival earlier than the resumed clock
    * (late data) is enqueued at the current virtual time — the same
    * clamping the reference applies to any arrival whose time has already
    * passed (src/simulator.py:203,212).
    */
  def runIncremental(
      cfg: SimConfig,
      state: SimState,
      input: Iterator[SimRequest]
  ): (Vector[SimCompleted], SimState) = {
    val e = new Engine(cfg, input, Some(state))
    drain(e)
    (finish(e.completed).toVector, e.state)
  }

  /** Fixed-step ("animation") run (E2, reference src/simulator.py:148-193):
    * the same transition function paced by `interval` seconds of virtual
    * time, ONE arrivals pass + ONE worker pass per frame (no fixpoint —
    * a worker freed in frame t starts its next task in frame t+1, exactly
    * like the reference's animation loop). `onFrame` observes each frame's
    * gauges; wall-clock pacing is the caller's concern.
    */
  def runFixedStep(
      cfg: SimConfig,
      input: Iterator[SimRequest],
      interval: Double = 1.0,
      onFrame: Frame => Unit = _ => ()
  ): Iterator[SimCompleted] = {
    require(interval > 0, "animation interval must be positive")
    val e = new Engine(cfg, input)
    var break = false
    while (!break && e.stateRemains) {
      onFrame(e.frame)
      e.drainArrivals()
      e.tickWorkers()
      if (!e.stateRemains) {
        onFrame(e.frame) // final state (src/simulator.py:178-184)
        break = true
      } else {
        e.currentTime += interval
      }
    }
    finish(e.completed)
  }

  /** Final sort: (finish if != -1 else +inf, arrivalTimeInQueue), stable —
    * rejected rows sink to the end in arrival order
    * (src/simulator.py:260-265).
    */
  private def finish(completed: mutable.ArrayBuffer[InFlight]): Iterator[SimCompleted] =
    completed
      .sortBy(t =>
        (if (t.finishTime != -1) t.finishTime else Double.PositiveInfinity, t.arrivalTimeInQueue)
      )
      .iterator
      .map(_.toCompleted)
}
