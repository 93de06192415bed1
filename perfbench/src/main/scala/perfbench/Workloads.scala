package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder, Encoders, Row, SparkSession}

import graft.SparkEntry
import graft.cli.Main
import graft.model._
import graft.sim.SimOperator
import graft.sources.RequestCsv
import graft.stats.Statistics

/** One benchmark workload. The benchmark calls, in order: [[prepare]]
  * (untimed: inputs and oracle), [[load]] on each fresh session (part of
  * set-up), then [[job]] in a closed loop with job numbers 0, 1, 2, ...
  * A job returns the check of its outputs, which runs after the job's clock
  * stops and returns the mismatches found. A job is one operation, the unit
  * of `attempted` and `failed`.
  */
trait Workload {
  def name: String

  /** Items one job completes: simulated requests, or one query. */
  def itemsPerJob: Long

  /** Jobs in one pass over the workload's inputs; the loop runs whole
    * passes, so every run measures the same mix.
    */
  def jobsPerPass: Int = 1

  /** Untimed warm-up: at least this many passes and this many seconds. Job
    * times keep falling long after the first, cold job while the JIT
    * compiles Spark and the program: even with run.py's JIT settings they
    * still fell by up to a fifth over the first 20 s after 20 to 24 s of
    * warm-up, on both workloads. A host slowed by other load also slows
    * that warm-up, so a shorter one adds to the run-to-run spread.
    */
  def warmupPasses: Int = 1
  def warmupSeconds: Double = 30.0

  def prepare(): Unit
  def load(spark: SparkSession): Unit
  def job(spark: SparkSession, t: Tracer, i: Int): () => Seq[String]

  /** One driver-side run of the bare simulator core over the job's inputs,
    * timed for `sim.core_s`; a no-op on workloads without a simulation.
    */
  def coreRun(): Unit = ()

  /** Requests the simulator processes per job. */
  def simRequests: Long = 0L

  /** Input rows the sources layer parses per job. */
  def sourceRows: Long = 0L
}

object Workloads {
  val Names: Seq[String] = Seq("csv_report", "lake_curation")

  def apply(name: String, seed: Long, root: Path, work: Path): Workload = name match {
    case "csv_report"     => new CsvReport(seed, work)
    case "lake_curation"  => new LakeCuration(seed, root.resolve("perfbench").resolve("lake"))
    case other =>
      throw new IllegalArgumentException(s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  implicit val requestEnc: Encoder[SimRequest] = Encoders.product[SimRequest]
  implicit val completedEnc: Encoder[SimCompleted] = Encoders.product[SimCompleted]

  /** Relative comparison that treats NaN as equal to NaN. */
  def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Field-by-field comparison of an expected summary with the row of
    * [[Statistics.summary]].
    */
  def summaryDiff(label: String, e: Oracle.Expected, r: Row): Seq[String] = {
    val longs = Seq(
      "total_requests_processed" -> e.processed,
      "total_requests_rejected" -> e.rejected,
      "priority_queue_enqueued_total" -> e.priorityEnqueued,
      "normal_queue_enqueued_total" -> e.normalEnqueued
    ).collect { case (k, v) if r.getAs[Long](k) != v => s"$label $k: expected $v, got ${r.getAs[Long](k)}" }
    val doubles = Seq(
      "average_queuing_time" -> e.mean, "p50" -> e.p50, "p75" -> e.p75, "p90" -> e.p90, "p99" -> e.p99
    ).collect { case (k, v) if !close(r.getAs[Double](k), v) => s"$label $k: expected $v, got ${r.getAs[Double](k)}" }
    longs ++ doubles
  }

  /** Digest and failed_api_limit count of a cached completed set. */
  def digestOf(ds: Dataset[SimCompleted]): (Long, Long) = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      var h = 0L
      var f = 0L
      it.foreach { c =>
        h ^= Digest.row(c)
        if (c.status == "failed_api_limit") f += 1
      }
      Iterator((h, f))
    }.collect().foldLeft((0L, 0L)) { case ((h, f), (h2, f2)) => (h ^ h2, f + f2) }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

import Workloads._

/** The reference CLI path: `graft.cli.Main.run` over a seeded CSV, its
  * printed report parsed and compared with the oracle. The traced run
  * replays Main's calls one layer at a time so each gets its own span.
  */
final class CsvReport(seed: Long, work: Path) extends Workload {
  val name = "csv_report"
  val Requests = 40000
  val Workers = 16
  // Poisson arrivals at rho = 0.97 over 16 workers with 20 s mean service:
  // both queues fill and most requests wait, and 0.78 calls/s stays far
  // below the default rate limit of 5 endpoints x 60 calls/min, so the
  // limiter never refuses.
  val MeanServiceSec = 20.0
  val ArrivalRate = 0.97 * Workers / MeanServiceSec
  val cfg: SimConfig = SimConfig(numWorkers = Workers)

  private var csvPath: String = _
  private var reqs: Array[SimRequest] = _
  private var expected: Oracle.Expected = _
  private var expectedFields: Map[String, String] = _

  def itemsPerJob: Long = Requests.toLong

  def prepare(): Unit = {
    val gens = RequestGen.generate(seed, Requests, 1000, RequestGen.Poisson(ArrivalRate), MeanServiceSec)
    val dir = work.resolve("inputs")
    Files.createDirectories(dir)
    csvPath = dir.resolve(s"csv_report-$seed.csv").toString
    RequestGen.writeCsv(csvPath, gens)
    reqs = RequestGen.toSimRequests(gens)
    expected = Oracle.expect(cfg, Oracle.simulate(cfg, reqs))
    expectedFields = Oracle.reportFields(expected)
  }

  def load(spark: SparkSession): Unit = ()

  def job(spark: SparkSession, t: Tracer, i: Int): () => Seq[String] = t match {
    case NoTrace =>
      val fields = Oracle.parseReport(runCli(spark))
      () => {
        // Main.run leaves its completed set cached; a CLI process would exit.
        spark.catalog.clearCache()
        Oracle.diff(expectedFields, fields)
      }
    case _ =>
      val (fields, summary, completed) = replay(spark, t)
      () => {
        // The replay also exposes the completed set, so its traced jobs
        // check every simulated field, not only the report's 4 decimals.
        val (digest, failed) = digestOf(completed)
        spark.catalog.clearCache()
        Oracle.diff(expectedFields, fields) ++ summaryDiff("summary", expected, summary) ++
          Seq(
            (digest == expected.digest) -> f"completed-set digest: expected ${expected.digest}%016x, got $digest%016x",
            (failed == expected.failedApiLimit) -> s"failed_api_limit: expected ${expected.failedApiLimit}, got $failed"
          ).collect { case (false, msg) => msg }
      }
  }

  private def runCli(spark: SparkSession): String = {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, StandardCharsets.UTF_8)
    Console.withOut(out)(Main.run(spark, Array(csvPath, "-w", Workers.toString)))
    out.flush()
    buf.toString(StandardCharsets.UTF_8)
  }

  /** Main.run's calls in Main's order, one span per layer. The completed
    * set is materialized in its own span so the simulation is not charged
    * to the first statistics call. Returns the report's fields, the summary
    * row and the cached completed set.
    */
  private def replay(spark: SparkSession, t: Tracer): (Map[String, String], Row, Dataset[SimCompleted]) =
    t.span("cli.run") {
      val requests = t.span("sources.read")(RequestCsv.read(spark, csvPath))
      val total = t.span("sources.count")(requests.count())
      val completed = t.span("sim.simulate") {
        val c = SimOperator.simulate(requests, cfg).cache()
        c.count()
        c
      }
      val df = Statistics.toDF(completed)
      val s = t.span("stats.summary")(Statistics.summary(df).collect()(0))
      val usage = t.span("stats.api_usage")(
        Statistics.apiUsage(df, cfg.numApis).orderBy("api_id").collect())
      val fields = Map(
        "Total requests (input)" -> total.toString,
        "Processed requests" -> s.getAs[Long]("total_requests_processed").toString,
        "Rejected requests" -> s.getAs[Long]("total_requests_rejected").toString,
        "Average queuing time" -> Oracle.fmt(s.getAs[Double]("average_queuing_time")),
        "Queuing time P50" -> Oracle.fmt(s.getAs[Double]("p50")),
        "Queuing time P75" -> Oracle.fmt(s.getAs[Double]("p75")),
        "Queuing time P90" -> Oracle.fmt(s.getAs[Double]("p90")),
        "Queuing time P99" -> Oracle.fmt(s.getAs[Double]("p99")),
        "priority" -> s.getAs[Long]("priority_queue_enqueued_total").toString,
        "normal" -> s.getAs[Long]("normal_queue_enqueued_total").toString
      ) ++ usage.map(r => r.getAs[String]("api_id") -> r.getAs[Long]("n_used").toString)
      (fields, s, completed)
    }

  override def coreRun(): Unit = Oracle.simulate(cfg, reqs)
  override def simRequests: Long = Requests.toLong
  override def sourceRows: Long = Requests.toLong
}

/** A mix of catalogue queries, one per operator family, over the fixed
  * parquet lake in `perfbench/lake`. Each job is one query and a pass runs
  * every query once; `job_s` is the time of a pass. The lake is read-only,
  * so the seed only permutes the order the queries run in.
  */
final class LakeCuration(seed: Long, lakeDir: Path) extends Workload {
  val name = "lake_curation"
  private var goldens: Map[String, (Long, String)] = _
  private var order: IndexedSeq[String] = _

  def itemsPerJob: Long = 1L
  override def jobsPerPass: Int = LakeCuration.Queries.size
  // Each query's code paths warm separately: one pass is not yet steady.
  override def warmupPasses: Int = 2

  def prepare(): Unit = {
    goldens = LakeCuration.readGoldens(lakeDir)
    val missing = LakeCuration.Queries.filterNot(goldens.contains)
    require(missing.isEmpty, s"no golden for ${missing.mkString(", ")}")
    order = new scala.util.Random(seed).shuffle(LakeCuration.Queries).toIndexedSeq
  }

  def load(spark: SparkSession): Unit = ()

  def job(spark: SparkSession, t: Tracer, i: Int): () => Seq[String] = {
    val q = order(i % order.size)
    val rows = t.span(s"queries.$q")(SparkEntry.queries(q)(spark, lakeDir.toString).collect())
    () => {
      LakeCuration.resetSession(spark)
      val got = (rows.length.toLong, LakeCuration.digest(rows))
      if (got == goldens(q)) Nil else Seq(s"$q: expected ${goldens(q)}, got $got")
    }
  }
}

object LakeCuration {

  /** One query per operator family: relational join and aggregate, MinHash
    * LSH near-duplicates, ANN (IVF-PQ), BM25 retrieval, streaming stateful
    * processing. The mix is kept to five because every query needs two
    * untimed passes to warm up and a run has about a minute in all; the
    * slower PageRank (q114) and curation funnel (q500) did not fit.
    */
  val Queries: Seq[String] = Seq(
    "q6_join_chain", "q26_minhash_lsh", "q123_ann_ivfpq", "q129_bm25", "q100_stream_mapstate"
  )

  val GoldensFile = "goldens.tsv"

  def readGoldens(lakeDir: Path): Map[String, (Long, String)] =
    Files.readAllLines(lakeDir.resolve(GoldensFile)).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, n, d) = l.split('\t')
        q -> (n.toLong, d)
      }.toMap

  /** Order-independent digest of a query result. Doubles are rounded to six
    * significant digits, and values within 1e-9 of zero read as zero, so a
    * change in floating-point summation order does not change the digest.
    */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => norm(r)).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  private def normDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else f"$d%.5e"

  def norm(v: Any): String = v match {
    case null                           => "null"
    case d: Double                      => normDouble(d)
    case f: Float                       => normDouble(f.toDouble)
    case b: java.math.BigDecimal        => normDouble(b.doubleValue)
    case b: Array[Byte]                 => b.map(x => f"$x%02x").mkString
    case r: Row                         => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _]  => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]     => s.map(norm).mkString("[", ",", "]")
    case other                          => other.toString
  }

  /** Releases cached data, temp views and streaming state between jobs, as
    * graft.Bench does between queries.
    */
  def resetSession(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
    }
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }
}
