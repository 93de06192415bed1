package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sim.SimOperator
import graft.sources.RequestCsv
import graft.stats.Statistics

class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("golden timeline: the queueing cascade of SimCoreSpec") {
    // One worker; user1 arrives at 0 for 2 s, user2 at 0.5 for 1 s and
    // starts when user1 finishes at 2: queuing times 0 and 1.5.
    val reqs = Array(
      SimRequest("user1", None, 2.0, 0.0, 0L),
      SimRequest("user2", None, 1.0, 0.5, 1L))
    val cfg = SimConfig(numWorkers = 1)
    val e = Oracle.expect(cfg, Oracle.simulate(cfg, reqs))
    assert(e.total == 2 && e.processed == 2 && e.rejected == 0 && e.failedApiLimit == 0)
    assert(e.mean == 0.75)
    assert(e.p50 == 0.75 && e.p75 == 1.125 && e.p90 == 1.35 && math.abs(e.p99 - 1.485) < 1e-12)
    assert(e.apiUsage == Vector(2L, 0L, 0L, 0L, 0L))
    assert(e.priorityEnqueued == 2 && e.normalEnqueued == 0)
  }

  test("oracle agrees with Spark's statistics, digest included") {
    import Workloads.{completedEnc, requestEnc}
    val gens = RequestGen.generate(5, 3000, 50, RequestGen.OnOff(5.0, 0.5, 60.0, 60.0), 20.0)
    val reqs = RequestGen.toSimRequests(gens)
    Seq(
      SimConfig(numWorkers = 64, rpmLimit = 40),
      SimConfig(numWorkers = 4, strategy = FifoConfig(Some(16)))
    ).foreach { cfg =>
      val e = Oracle.expect(cfg, Oracle.simulate(cfg, reqs))
      val completed = SimOperator.simulate(spark.createDataset(reqs.toSeq), cfg).cache()
      val df = Statistics.toDF(completed)
      assert(Workloads.summaryDiff("summary", e, Statistics.summary(df).collect()(0)).isEmpty)
      val usage = Statistics.apiUsage(df, cfg.numApis).orderBy("api_id").collect().map(_.getAs[Long]("n_used"))
      assert(usage.toVector == e.apiUsage)
      assert(Workloads.digestOf(completed) == (e.digest, e.failedApiLimit))
      completed.unpersist()
    }
  }

  test("the CLI report of a generated CSV matches the oracle field by field") {
    val gens = RequestGen.generate(9, 2000, 50, RequestGen.Poisson(0.7), 20.0)
    val f = Files.createTempFile("requests", ".csv")
    try {
      RequestGen.writeCsv(f.toString, gens)
      // The CSV parses back to exactly the generator's doubles.
      val parsed = RequestCsv.read(spark, f.toString).collect().sortBy(_.simArrivalTime)
      val direct = RequestGen.toSimRequests(gens)
      assert(parsed.map(r => (r.userId, r.requestTimeMicros, r.processingTime, r.simArrivalTime)).toSeq ==
        direct.map(r => (r.userId, r.requestTimeMicros, r.processingTime, r.simArrivalTime)).toSeq)

      val cfg = SimConfig(numWorkers = 16)
      val expected = Oracle.reportFields(Oracle.expect(cfg, Oracle.simulate(cfg, direct)))
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(graft.cli.Main.run(spark, Array(f.toString, "-w", "16")))
      assert(Oracle.diff(expected, Oracle.parseReport(buf.toString("UTF-8"))).isEmpty)
      spark.catalog.clearCache()
    } finally Files.delete(f)
  }
}
