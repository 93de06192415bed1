package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class RequestGenSpec extends AnyFunSuite {

  private def csvSha(seed: Long, arrivals: RequestGen.Arrivals): String = {
    val f: Path = Files.createTempFile("requests", ".csv")
    try {
      RequestGen.writeCsv(f.toString, RequestGen.generate(seed, 5000, 100, arrivals, 20.0))
      MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f)).map(b => f"$b%02x").mkString
    } finally Files.delete(f)
  }

  private val shapes = Seq(RequestGen.Poisson(0.7), RequestGen.OnOff(25.6, 0.0, 60.0, 60.0))

  test("the same seed gives the same CSV bytes; another seed does not") {
    shapes.foreach { a =>
      assert(csvSha(7, a) == csvSha(7, a))
      assert(csvSha(7, a) != csvSha(8, a))
    }
  }

  test("arrivals strictly increase, and every time is whole microseconds") {
    shapes.foreach { a =>
      val gs = RequestGen.generate(3, 20000, 100, a, 20.0)
      assert(gs.sliding(2).forall(p => p(1).arrivalMicros > p(0).arrivalMicros))
      assert(gs.forall(_.serviceMicros >= 1))
      RequestGen.toSimRequests(gs).zip(gs).foreach { case (r, g) =>
        assert(r.simArrivalTime == g.arrivalMicros / 1e6)
        assert(math.round(r.processingTime * 1e6) == g.serviceMicros)
      }
    }
  }

  test("load and service follow the requested rates") {
    val gs = RequestGen.generate(11, 50000, 100, RequestGen.Poisson(0.5), 20.0)
    val meanGap = gs.last.arrivalMicros / 1e6 / gs.length
    val meanService = gs.map(_.serviceMicros).sum / 1e6 / gs.length
    assert(math.abs(meanGap - 2.0) < 0.05)
    assert(math.abs(meanService - 20.0) < 0.5)
    // ON/OFF with equal mean periods and no OFF arrivals halves the rate.
    val bursts = RequestGen.generate(11, 50000, 100, RequestGen.OnOff(2.0, 0.0, 60.0, 60.0), 20.0)
    assert(math.abs(bursts.last.arrivalMicros / 1e6 / bursts.length - 1.0) < 0.1)
  }

  test("CSV rows use the reference header and µs ISO timestamps") {
    val f = Files.createTempFile("requests", ".csv")
    try {
      RequestGen.writeCsv(f.toString, Array(RequestGen.Gen("u00001", 1500000L, 20000001L)))
      val lines = new String(Files.readAllBytes(f), "UTF-8").split("\n").toSeq
      assert(lines == Seq(
        "user_id,request_time,processing_time",
        "u00001,2023-01-01T00:00:01.500000Z,20.000001"))
    } finally Files.delete(f)
  }
}
