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

  /** SplitMix64 finalizer (shared with the MinHash expression family). */
  private[sim] object MinHashLike {
    @inline def mix64(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  // ----- Resumable-state snapshot model (encodable case classes) -----

  final case class InFlightSnap(
      req: SimRequest,
      arrivalTimeInQueue: Double,
      startTime: Double,
      usedApiId: Option[Int],
      queue: Option[String],
      status: String
  )

  final case class WorkerSnap(task: Option[InFlightSnap], busyUntil: Double)

  final case class SimState(
      currentTime: Double,
      priorityQ: Seq[InFlightSnap],
      normalQ: Seq[InFlightSnap],
      workers: Seq[WorkerSnap],
      apiStamps: Seq[Seq[Double]],
      apiCurrentIndex: Int,
      rngState: Long,
      priorityEnqueued: Long,
      normalEnqueued: Long
  )

  object SimState {
    def initial(cfg: SimConfig): SimState = SimState(
      currentTime = 0.0,
      priorityQ = Nil,
      normalQ = Nil,
      workers = Seq.fill(cfg.numWorkers)(WorkerSnap(None, 0.0)),
      apiStamps = Seq.fill(cfg.numApis)(Nil),
      apiCurrentIndex = 0,
      rngState = 0L, // 0 ⇒ derive from cfg.rngSeed on first use
      priorityEnqueued = 0L,
      normalEnqueued = 0L
    )
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

    def toSnap: InFlightSnap =
      InFlightSnap(req, arrivalTimeInQueue, startTime, usedApiId, queue, status)

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
    def toSeq: Seq[T] = q.toSeq // head-to-tail, non-destructive
  }

  object InFlightSnap {
    def restore(s: InFlightSnap): InFlight = {
      val inf = new InFlight(s.req)
      inf.arrivalTimeInQueue = s.arrivalTimeInQueue
      inf.startTime = s.startTime
      inf.usedApiId = s.usedApiId
      inf.queue = s.queue
      inf.status = s.status
      inf
    }
  }

  /** Queue facade shared by the FIFO and two-tier priority disciplines. */
  sealed trait TaskQueue {
    def enqueue(item: InFlight): Boolean
    def dequeue(): Option[InFlight]
    def isEmpty: Boolean
    def isFull: Boolean
    def size: Int

    /** Total enqueued per sub-queue, independent of dequeues
      * (reference: src/queue_manager.py:267-276).
      */
    def queueCounts: Map[String, Long]

    /** Snapshot / restore for the resumable streaming host. */
    def snapshotQueues: (Seq[InFlightSnap], Seq[InFlightSnap])
    def restoreQueues(priority: Seq[InFlight], normal: Seq[InFlight], pCount: Long, nCount: Long): Unit
  }

  /** Plain bounded FIFO discipline — the reference's documented-but-dead
    * configuration (SURVEY §4.1): `-q` bound honored, rejection reachable.
    */
  final class FifoStrategy(maxSize: Option[Int]) extends TaskQueue {
    private val q = new FifoQueue[InFlight](maxSize)
    private var enqueued = 0L
    def enqueue(item: InFlight): Boolean = {
      val ok = q.enqueue(item)
      if (ok) { enqueued += 1; item.queue = Some("normal") }
      ok
    }
    def dequeue(): Option[InFlight] = q.dequeue()
    def isEmpty: Boolean = q.isEmpty
    def isFull: Boolean = q.isFull
    def size: Int = q.size
    def queueCounts: Map[String, Long] =
      Map("priority_enqueued" -> 0L, "normal_enqueued" -> enqueued)
    def snapshotQueues: (Seq[InFlightSnap], Seq[InFlightSnap]) =
      (Nil, q.toSeq.map(_.toSnap))
    def restoreQueues(priority: Seq[InFlight], normal: Seq[InFlight], pCount: Long, nCount: Long): Unit = {
      require(
        priority.isEmpty && pCount == 0L,
        "cannot restore a priority-strategy snapshot into a FIFO strategy"
      )
      normal.foreach(q.enqueue)
      enqueued = nCount
    }
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
    private var priorityEnqueued = 0L
    private var normalEnqueued = 0L

    def enqueue(item: InFlight): Boolean = {
      // Items with a valid processing time below the threshold go priority;
      // everything else (incl. NaN, mirroring Python's hasattr/number check
      // at src/queue_manager.py:137) goes normal.
      val toPriority =
        !item.req.processingTime.isNaN && item.req.processingTime < thresholdSeconds
      if (toPriority) {
        priorityQ.enqueue(item)
        priorityEnqueued += 1
        item.queue = Some("priority")
      } else {
        normalQ.enqueue(item)
        normalEnqueued += 1
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
    def queueCounts: Map[String, Long] = Map(
      "priority_enqueued" -> priorityEnqueued,
      "normal_enqueued" -> normalEnqueued
    )
    def snapshotQueues: (Seq[InFlightSnap], Seq[InFlightSnap]) =
      (priorityQ.toSeq.map(_.toSnap), normalQ.toSeq.map(_.toSnap))
    def restoreQueues(priority: Seq[InFlight], normal: Seq[InFlight], pCount: Long, nCount: Long): Unit = {
      priority.foreach(priorityQ.enqueue)
      normal.foreach(normalQ.enqueue)
      priorityEnqueued = pCount
      normalEnqueued = nCount
    }
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
    * virtual clock).
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
    private val rng = new SplitMixRandom(
      resume.map(_.rngState).filter(_ != 0L).getOrElse(MinHashLike.mix64(cfg.rngSeed))
    )
    val queue: TaskQueue = cfg.strategy match {
      case FifoConfig(maxSize)          => new FifoStrategy(maxSize)
      case PriorityConfig(thresh, bias) => new PriorityStrategy(thresh, bias, rng)
    }
    var currentTime: Double = resume match {
      case Some(s) => s.currentTime
      case None =>
        if (pending.nonEmpty && pending(0).simArrivalTime >= 0) pending(0).simArrivalTime
        else 0.0
    }
    val api =
      new ApiClient(cfg.numApis, cfg.rpmLimit, cfg.rateWindowSeconds, () => currentTime)
    val workers: Array[Worker] =
      Array.fill(cfg.numWorkers)(new Worker(queue, api))
    var pi = 0 // next-pending cursor (sorted ⇒ O(1) amortized arrival scan)
    val completed = mutable.ArrayBuffer.empty[InFlight]

    resume.foreach { s =>
      // Config drift between snapshot producer and consumer would silently
      // lose in-flight tasks / rate-limit state — refuse instead.
      require(
        s.workers.size == cfg.numWorkers,
        s"snapshot has ${s.workers.size} workers but the config has ${cfg.numWorkers}"
      )
      queue.restoreQueues(
        s.priorityQ.map(InFlightSnap.restore),
        s.normalQ.map(InFlightSnap.restore),
        s.priorityEnqueued,
        s.normalEnqueued
      )
      s.workers.zipWithIndex.foreach { case (ws, i) =>
        workers(i).currentTask = ws.task.map(InFlightSnap.restore)
        workers(i).busyUntil = ws.busyUntil
      }
      api.restore(s.apiStamps, s.apiCurrentIndex)
    }

    def snapshot: SimState = {
      val (pq, nq) = queue.snapshotQueues
      val counts = queue.queueCounts
      val (stamps, idx) = api.snapshot
      SimState(
        currentTime = currentTime,
        priorityQ = pq,
        normalQ = nq,
        workers = workers.toSeq.map(w => WorkerSnap(w.currentTask.map(_.toSnap), w.busyUntil)),
        apiStamps = stamps,
        apiCurrentIndex = idx,
        rngState = rng.state,
        priorityEnqueued = counts("priority_enqueued"),
        normalEnqueued = counts("normal_enqueued")
      )
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

  /** Advance the engine through every event with time <= horizon:
    * fixpoint drains + time-skips (src/simulator.py:75-98,197-258),
    * stopping before the first event beyond the horizon (in-flight work
    * with busyUntil > horizon stays live in the engine state).
    */
  private def advanceUntil(e: Engine, horizon: Double): Unit = {
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
      if (nextEvent.isInfinity || nextEvent > horizon) {
        // Reference breaks on inf (src/simulator.py:239-247); the horizon
        // cut is the incremental-streaming extension.
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
    advanceUntil(e, Double.PositiveInfinity)
    finish(e.completed)
  }

  /** Resumable increment: continue the simulation from `state` with a new
    * slice of arrivals, processing everything up to `horizon` (typically
    * the slice's max event time). Returns the records completed in this
    * increment (reference final order) and the snapshot to resume from.
    *
    * Contract: arrivals are event-time ordered across increments, and a
    * slice boundary must fall BETWEEN distinct event times — splitting a
    * same-instant arrival group changes bounded-queue admission (the batch
    * fixpoint drains all same-time arrivals before any worker tick; a
    * split lets the worker free queue space in between). An arrival
    * earlier than the resumed clock (late data) is enqueued at the current
    * virtual time — the same clamping the reference applies to any arrival
    * whose time has already passed (src/simulator.py:203,212). An
    * increment with `horizon = +∞` flushes all remaining work.
    */
  def runIncremental(
      cfg: SimConfig,
      state: SimState,
      input: Iterator[SimRequest],
      horizon: Double
  ): (Vector[SimCompleted], SimState) = {
    val e = new Engine(cfg, input, Some(state))
    // An arrival beyond the horizon would be silently lost: advanceUntil
    // stops before it and the snapshot does not carry un-drained pending
    // requests. Refuse loudly instead.
    if (e.pending.nonEmpty) {
      val maxArrival = e.pending.last.simArrivalTime
      require(
        maxArrival <= horizon,
        s"slice contains an arrival at $maxArrival beyond horizon $horizon — " +
          "pass horizon >= the slice's max event time"
      )
    }
    advanceUntil(e, horizon)
    (finish(e.completed).toVector, e.snapshot)
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
