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

  test("percentiles equal SQL percentile bit for bit on random sets with ties, n = 0, 1, 2, …") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Set k: n valid queuing times (n = k % 4 in the first 40 sets, else
    // 0..119) drawn from a pool of 1 + k % 7 values (ties and duplicates),
    // plus rejected rows and rows whose start precedes arrival (both
    // excluded from the percentiles).
    val rng = new scala.util.Random(20261020L)
    val sets = (0 until 300).map { k =>
      val pool = Seq.fill(1 + k % 7)(rng.nextDouble() * math.pow(10, rng.nextInt(4) - 1))
      val n = if (k < 40) k % 4 else rng.nextInt(120)
      val valid = Seq.fill(n)(pool(rng.nextInt(pool.size))).map { qt =>
        val arrival = rng.nextInt(50) * 0.1
        row(s"s$k", arrival, arrival + qt, arrival + qt + 1.0)
      }
      val excluded = Seq.fill(rng.nextInt(3))(row(s"s$k", 0.5, 0.0, -1.0)) ++
        Seq.fill(rng.nextInt(2))(row(s"s$k", 2.0, 1.0, 3.0))
      rng.shuffle(valid ++ excluded)
    }
    val df = Statistics.toDF(spark.createDataset(sets.flatten))
    val names = Seq("p50", "p75", "p90", "p99")
    val got = Statistics.summaryByGroup(df, Seq("user_id")).collect()
      .map(r => r.getAs[String]("user_id") -> names.map(r.getAs[Double])).toMap
    // The reference: Spark's own percentile over the same valid queuing times.
    val valid = col("finish_time") =!= -1.0 && col("start_time") >= 0 &&
      col("arrival_time_in_queue") >= 0 && col("start_time") >= col("arrival_time_in_queue")
    val want = df
      .select(col("user_id"), when(valid, col("start_time") - col("arrival_time_in_queue")).as("qt"))
      .groupBy("user_id")
      .agg(expr("percentile(qt, array(0.50, 0.75, 0.90, 0.99))").as("p"))
      .collect()
      .map(r => r.getString(0) -> Option(r.getSeq[Double](1)).getOrElse(Seq.fill(4)(Double.NaN)))
      .toMap
    assert(got.keySet == want.keySet && got.size == sets.count(_.nonEmpty))
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    for ((k, ps) <- want) assert(bits(got(k)) == bits(ps), s"set $k: ${got(k)} vs $ps")
    // summary (and so report) shares the aggregate with summaryByGroup; a
    // set without rows has NaN percentiles
    for (k <- Seq(0, 1, 2, 3, 8, 41, 299)) {
      val s = summaryOf(sets(k))
      assert(bits(names.map(s.getAs[Double])) == bits(want.getOrElse(s"s$k", Seq.fill(4)(Double.NaN))),
        s"set $k alone")
    }
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
