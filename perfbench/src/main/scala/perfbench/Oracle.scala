package perfbench

import graft.model.{SimCompleted, SimConfig, SimRequest}
import graft.sim.SimCore

/** Plain-Scala reference for the statistics the program computes in Spark.
  *
  * The completed set comes from a direct, driver-side [[SimCore.run]] over
  * the same inputs; every statistic is recomputed here without Spark, with
  * the definitions of [[graft.stats.Statistics]]: processed means
  * `finishTime != -1`, queuing time is `start - arrivalInQueue` for valid
  * processed rows, and percentiles interpolate linearly at
  * `(n - 1) * p` like Spark's exact `percentile`.
  */
object Oracle {

  final case class Expected(
      total: Long,
      processed: Long,
      rejected: Long,
      failedApiLimit: Long,
      mean: Double,
      p50: Double,
      p75: Double,
      p90: Double,
      p99: Double,
      apiUsage: Vector[Long], // index i holds api_(i+1)
      priorityEnqueued: Long,
      normalEnqueued: Long,
      digest: Long
  )

  def simulate(cfg: SimConfig, reqs: Array[SimRequest]): Array[SimCompleted] =
    SimCore.run(cfg, reqs.iterator).toArray

  def expect(cfg: SimConfig, completed: Array[SimCompleted]): Expected = {
    var processed, rejected, failed, prio, normal = 0L
    var qtSum = 0.0
    val qts = Array.newBuilder[Double]
    val usage = Array.fill(cfg.numApis)(0L)
    // Summation follows the simulator's output order, the order in which
    // the single-partition Spark aggregate adds the same values.
    completed.foreach { c =>
      val isProcessed = c.finishTime != -1.0
      if (isProcessed) {
        processed += 1
        if (c.startTime >= 0 && c.arrivalTimeInQueue >= 0 && c.startTime >= c.arrivalTimeInQueue) {
          val qt = c.startTime - c.arrivalTimeInQueue
          qtSum += qt
          qts += qt
        }
        c.usedApiId.foreach(id => if (id >= 1 && id <= cfg.numApis) usage(id - 1) += 1)
      } else rejected += 1
      if (c.status == "failed_api_limit") failed += 1
      c.queue match {
        case Some("priority") => prio += 1
        case Some("normal")   => normal += 1
        case _                => ()
      }
    }
    val sorted = qts.result()
    java.util.Arrays.sort(sorted)
    val mean = if (sorted.isEmpty) Double.NaN else qtSum / sorted.length
    def pct(p: Double) = percentile(sorted, p)
    Expected(
      completed.length.toLong, processed, rejected, failed, mean,
      pct(0.50), pct(0.75), pct(0.90), pct(0.99),
      usage.toVector, prio, normal, Digest.of(completed.iterator)
    )
  }

  /** Spark's exact `percentile`: position `(n - 1) * p`, linear between the
    * two neighbouring order statistics.
    */
  def percentile(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = (sorted.length - 1).toLong * p
      val lo = pos.floor.toLong
      val hi = pos.ceil.toLong
      val lk = sorted(lo.toInt)
      val hk = sorted(hi.toInt)
      if (hi == lo || lk == hk) lk else (hi - pos) * lk + (pos - lo) * hk
    }

  /** The CLI's 4-decimal rendering (graft.cli.Main). */
  def fmt(d: Double): String = if (d.isNaN) "N/A" else f"$d%.4f"

  /** The values the CLI report prints, keyed by their report label. */
  def reportFields(e: Expected): Map[String, String] =
    Map(
      "Total requests (input)" -> e.total.toString,
      "Processed requests" -> e.processed.toString,
      "Rejected requests" -> e.rejected.toString,
      "Average queuing time" -> fmt(e.mean),
      "Queuing time P50" -> fmt(e.p50),
      "Queuing time P75" -> fmt(e.p75),
      "Queuing time P90" -> fmt(e.p90),
      "Queuing time P99" -> fmt(e.p99),
      "priority" -> e.priorityEnqueued.toString,
      "normal" -> e.normalEnqueued.toString
    ) ++ e.apiUsage.zipWithIndex.map { case (n, i) => s"api_${i + 1}" -> n.toString }

  /** Parses the `label: value` lines of the CLI report. */
  def parseReport(text: String): Map[String, String] =
    text.linesIterator.flatMap { line =>
      val i = line.indexOf(':')
      if (i <= 0) None
      else {
        val v = line.substring(i + 1).trim
        if (v.isEmpty) None else Some(line.substring(0, i).trim -> v)
      }
    }.toMap

  /** Mismatches between an expected and an observed field map. */
  def diff(expected: Map[String, String], observed: Map[String, String]): Seq[String] =
    expected.toSeq.sortBy(_._1).collect {
      case (k, v) if !observed.get(k).contains(v) =>
        s"$k: expected $v, got ${observed.getOrElse(k, "<missing>")}"
    }
}

/** Order-independent digest of a completed set: XOR of per-row hashes over
  * every field, raw double bits included. Rows carry a unique `seq`, so two
  * sets agree exactly when the digests do (up to hash collisions), and a
  * change that only makes the program faster must leave it unchanged.
  */
object Digest {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def row(c: SimCompleted): Long = {
    var h = mix(c.seq)
    def add(x: Long): Unit = h = mix(h ^ x)
    add(c.userId.hashCode.toLong)
    add(c.requestTimeMicros.getOrElse(Long.MinValue))
    add(java.lang.Double.doubleToLongBits(c.processingTime))
    add(java.lang.Double.doubleToLongBits(c.simArrivalTime))
    add(java.lang.Double.doubleToLongBits(c.arrivalTimeInQueue))
    add(java.lang.Double.doubleToLongBits(c.startTime))
    add(java.lang.Double.doubleToLongBits(c.finishTime))
    add(c.usedApiId.fold(-1L)(_.toLong))
    add(c.queue.fold(-1L)(_.hashCode.toLong))
    add(c.status.hashCode.toLong)
    h
  }

  def of(it: Iterator[SimCompleted]): Long = it.foldLeft(0L)((acc, c) => acc ^ row(c))
}
