package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  // Tests run with the benchmark directory as working directory.
  private val spec: JsonNode =
    new ObjectMapper().readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))

  private def metrics(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("BENCHMARK.json names the benchmark's workloads and metrics, with their units") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Workloads.Names)
    assert(metrics("end_to_end") == Metrics.EndToEnd)
    assert(metrics("per_layer") == Metrics.PerLayer)
  }

  test("the result line prints every metric with its unit") {
    Seq(Metrics.EndToEnd, Metrics.PerLayer).foreach { names =>
      val values = names.zipWithIndex.map { case ((n, _), i) => n -> (i + 0.5) }.toMap
      val json = new ObjectMapper().readTree(Metrics.resultJson(true, 3, 0, names, values))
      assert(json.get("correct").asBoolean && json.get("attempted").asLong == 3 && json.get("failed").asLong == 0)
      val printed = json.get("metrics")
      assert(printed.size == names.size)
      names.foreach { case (n, u) =>
        assert(printed.get(n).get("unit").asText == u)
        assert(printed.get(n).get("value").asDouble == values(n))
      }
    }
  }

  test("self time subtracts the part of a span its children cover") {
    val spans = Seq(
      Span(0, "cli.run", -1, 0L, 100L),
      Span(1, "sources.read", 0, 10L, 30L),
      Span(2, "sim.simulate", 0, 25L, 60L), // overlaps its sibling by 5
      Span(3, "stats.summary", 0, 90L, 120L)) // runs past its parent's end
    assert(SpanTracer.selfNs(spans(0), spans) == 100L - 50L - 10L)
    assert(SpanTracer.selfNs(spans(1), spans) == 20L)
  }

  test("query digests ignore row order and floating-point noise") {
    val a = Array(Row(1, 0.1 + 0.2, "x"), Row(2, 1e-17, null))
    val b = Array(Row(2, -3e-17, null), Row(1, 0.3, "x"))
    assert(LakeCuration.digest(a) == LakeCuration.digest(b))
    assert(LakeCuration.digest(a) != LakeCuration.digest(Array(Row(1, 0.31, "x"), Row(2, 0.0, null))))
  }
}
