package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import graft.model.SimRequest
import graft.sources.RequestCsv

/** Seeded request streams for the simulator workloads.
  *
  * Every time is a whole number of microseconds. A request written to CSV
  * and parsed back by [[graft.sources.RequestCsv]] therefore carries exactly
  * the arrival and service doubles that [[toSimRequest]] builds, so the
  * driver-side oracle and the program see bit-identical inputs.
  */
object RequestGen {

  /** One request: arrival offset from the simulation origin and service
    * time, both in microseconds.
    */
  final case class Gen(userId: String, arrivalMicros: Long, serviceMicros: Long)

  sealed trait Arrivals
  final case class Poisson(ratePerSec: Double) extends Arrivals

  /** Alternating exponentially long ON and OFF periods, Poisson inside each
    * period at its own rate (`offRate` may be 0).
    */
  final case class OnOff(onRate: Double, offRate: Double, meanOnSec: Double, meanOffSec: Double)
      extends Arrivals

  def generate(
      seed: Long,
      n: Int,
      users: Int,
      arrivals: Arrivals,
      meanServiceSec: Double
  ): Array[Gen] = {
    val rnd = new SplittableRandom(seed)
    def exp(mean: Double): Double = -math.log(1.0 - rnd.nextDouble()) * mean
    def micros(sec: Double): Long = math.max(1L, math.round(sec * 1e6))

    // Seconds until the next arrival, walking through ON/OFF periods.
    val nextGap: () => Double = arrivals match {
      case Poisson(rate) => () => exp(1.0 / rate)
      case OnOff(onRate, offRate, meanOn, meanOff) =>
        var on = true
        var left = exp(meanOn)
        () => {
          var waited = 0.0
          var gap = -1.0
          while (gap < 0) {
            val rate = if (on) onRate else offRate
            val g = if (rate > 0) exp(1.0 / rate) else Double.PositiveInfinity
            if (g < left) { left -= g; gap = waited + g }
            else {
              waited += left
              on = !on
              left = exp(if (on) meanOn else meanOff)
            }
          }
          gap
        }
    }

    val out = new Array[Gen](n)
    var t = 0L
    var i = 0
    while (i < n) {
      // Gaps of at least 1 µs keep arrivals strictly increasing, so the
      // simulator's (arrival, seq) order never depends on how `seq` is made.
      t += micros(nextGap())
      val user = f"u${rnd.nextInt(users)}%05d"
      out(i) = Gen(user, t, micros(exp(meanServiceSec)))
      i += 1
    }
    out
  }

  def toSimRequest(g: Gen, seq: Long): SimRequest = {
    val abs = RequestCsv.SimStartMicros + g.arrivalMicros
    SimRequest(
      g.userId,
      Some(abs),
      g.serviceMicros / 1e6,
      (abs - RequestCsv.SimStartMicros) / 1e6,
      seq
    )
  }

  def toSimRequests(gs: Array[Gen]): Array[SimRequest] =
    gs.zipWithIndex.map { case (g, i) => toSimRequest(g, i.toLong) }

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")

  def isoMicros(absMicros: Long): String = {
    val sec = Math.floorDiv(absMicros, 1000000L)
    val nanos = Math.floorMod(absMicros, 1000000L).toInt * 1000
    LocalDateTime.ofEpochSecond(sec, nanos, ZoneOffset.UTC).format(tsFormat)
  }

  /** Six-decimal rendering of a microsecond count, built from the integer so
    * no floating-point formatting is involved.
    */
  def secondsText(micros: Long): String = f"${micros / 1000000L}.${micros % 1000000L}%06d"

  /** CSV with the reference header `user_id,request_time,processing_time`. */
  def writeCsv(path: String, gs: Array[Gen]): Unit = {
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write("user_id,request_time,processing_time\n")
      gs.foreach { g =>
        w.write(g.userId)
        w.write(',')
        w.write(isoMicros(RequestCsv.SimStartMicros + g.arrivalMicros))
        w.write(',')
        w.write(secondsText(g.serviceMicros))
        w.write('\n')
      }
    } finally w.close()
  }
}
