package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.SimCompleted
import graft.stats.Statistics

/** Golden numeric asserts for the statistics layer, ported from reference
  * tests/test_statistics.py (SURVEY §5): avg=0.65, p50=0.45, p75=1.1,
  * p90=1.46, p99=1.676 on the five-request fixture; NaN on empty;
  * zero-filled api usage with out-of-domain ids dropped.
  */
class StatisticsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def row(
      user: String,
      arrival: Double,
      start: Double,
      finish: Double,
      apiId: Option[Int] = Some(1),
      queue: Option[String] = Some("priority")
  ): SimCompleted =
    SimCompleted(user, None, 1.0, 0.0, arrival, start, finish, apiId,
      queue, if (finish == -1) "rejected" else "success", 0L)

  private def summaryOf(rows: Seq[SimCompleted]) = {
    import spark.implicits._
    Statistics.summary(Statistics.toDF(spark.createDataset(rows))).collect()(0)
  }

  test("full stats golden (tests/test_statistics.py:126-184)") {
    // Queuing times for processed rows: [0.0, 0.9, 0.0, 1.7]
    val rows = Seq(
      row("u1", 0.0, 0.0, 1.0, queue = Some("priority")),
      row("u2", 0.1, 1.0, 2.0, queue = Some("priority")),
      row("u3", 0.2, 0.2, 1.2, queue = Some("priority")),
      row("u4", 0.3, 2.0, 3.0, queue = Some("normal")),
      row("u5", 0.4, 0.0, -1.0, apiId = None, queue = Some("normal"))
    )
    val s = summaryOf(rows)
    assert(s.getAs[Long]("total_requests_processed") == 4L)
    assert(s.getAs[Long]("total_requests_rejected") == 1L)
    assert(math.abs(s.getAs[Double]("average_queuing_time") - 0.65) < 1e-9)
    assert(math.abs(s.getAs[Double]("p50") - 0.45) < 1e-9)
    assert(math.abs(s.getAs[Double]("p75") - 1.1) < 1e-9)
    assert(math.abs(s.getAs[Double]("p90") - 1.46) < 1e-9)
    assert(math.abs(s.getAs[Double]("p99") - 1.676) < 1e-9)
    assert(s.getAs[Long]("priority_queue_enqueued_total") == 3L)
    assert(s.getAs[Long]("normal_queue_enqueued_total") == 2L)
  }

  test("percentile definition matches np.percentile linear interpolation (tests/test_statistics.py:101-106)") {
    // data 1..10 as queuing times: p50=5.5, p75=7.75, p90=9.1
    val rows = (1 to 10).map(i => row(s"u$i", 0.0, i.toDouble, i.toDouble + 1))
    val s = summaryOf(rows)
    assert(math.abs(s.getAs[Double]("p50") - 5.5) < 1e-9)
    assert(math.abs(s.getAs[Double]("p75") - 7.75) < 1e-9)
    assert(math.abs(s.getAs[Double]("p90") - 9.1) < 1e-9)
  }

  test("all rejected → NaN aggregates (tests/test_statistics.py:186-216)") {
    val rows = Seq(
      row("u1", 0.0, 0.0, -1.0, apiId = None),
      row("u2", 0.1, 0.0, -1.0, apiId = None)
    )
    val s = summaryOf(rows)
    assert(s.getAs[Long]("total_requests_processed") == 0L)
    assert(s.getAs[Long]("total_requests_rejected") == 2L)
    assert(s.getAs[Double]("average_queuing_time").isNaN)
    assert(s.getAs[Double]("p50").isNaN)
    assert(s.getAs[Double]("p99").isNaN)
  }

  test("empty input → NaN + zero counts (tests/test_statistics.py:218+)") {
    val s = summaryOf(Seq.empty)
    assert(s.getAs[Long]("total_requests_processed") == 0L)
    assert(s.getAs[Long]("total_requests_rejected") == 0L)
    assert(s.getAs[Double]("average_queuing_time").isNaN)
    assert(s.getAs[Double]("p50").isNaN)
  }

  test("api usage: zero-fill, None skipped, out-of-domain dropped (tests/test_statistics.py:267-345)") {
    import spark.implicits._
    // NUM_EXTERNAL_APIS patched to 3 in the reference test; ids: two api_1,
    // one api_2, one None, one out-of-range 99 → counts (2, 1, 0), sum 3.
    val rows = Seq(
      row("u1", 0.0, 0.0, 1.0, apiId = Some(1)),
      row("u2", 0.0, 0.0, 1.0, apiId = Some(1)),
      row("u3", 0.0, 0.0, 1.0, apiId = Some(2)),
      row("u4", 0.0, 0.0, 1.0, apiId = None),
      row("u5", 0.0, 0.0, 1.0, apiId = Some(99))
    )
    val usage = Statistics
      .apiUsage(Statistics.toDF(spark.createDataset(rows)), numApis = 3)
      .collect()
      .map(r => r.getAs[String]("api_id") -> r.getAs[Long]("n_used"))
      .toMap
    assert(usage == Map("api_1" -> 2L, "api_2" -> 1L, "api_3" -> 0L))
  }

  test("report: summary columns then zero-filled api_1..api_N counts, in one aggregate") {
    import org.apache.spark.sql.Row
    import spark.implicits._
    val rows = Seq(
      row("u1", 0.0, 0.0, 1.0, apiId = Some(1), queue = Some("priority")),
      row("u2", 0.1, 1.0, 2.0, apiId = Some(1), queue = Some("priority")),
      row("u3", 0.2, 0.2, 1.2, apiId = Some(2), queue = Some("normal")),
      row("u4", 0.3, 2.0, 3.0, apiId = Some(99), queue = Some("normal")),
      row("u5", 0.4, 0.0, -1.0, apiId = Some(3), queue = None)
    )
    for (input <- Seq(rows, Seq.empty[SimCompleted])) {
      val df = Statistics.toDF(spark.createDataset(input))
      val summary = Statistics.summary(df).collect()(0)
      val usage = Statistics.apiUsage(df, numApis = 3).orderBy("api_id").collect()
      val report = Statistics.report(df, numApis = 3)
      assert(report.columns.toSeq ==
        Statistics.summary(df).columns.toSeq ++ Seq("api_1", "api_2", "api_3"))
      val r = report.collect()(0)
      // Row equality treats NaN as equal to NaN.
      assert(Row.fromSeq(r.toSeq.take(summary.length)) == summary)
      assert(r.toSeq.drop(summary.length) == usage.map(_.getAs[Long]("n_used")).toSeq)
    }
  }
}
