package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's metrics, by name and unit. BENCHMARK.json lists the same
  * names (checked by MetricsSpec).
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "job_s" -> "s",
    "throughput_per_s" -> "1/s"
  )

  val Layers: Seq[String] = Seq("cli", "sources", "sim", "stats", "queries", "bench")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.count_s" -> "s", "sources.rows_per_s" -> "1/s",
    "stats.summary_s" -> "s", "stats.api_usage_s" -> "s",
    "stats.parallelism" -> "ratio", "stats.tasks" -> "count",
    "sim.simulate_s" -> "s", "sim.core_s" -> "s", "sim.core_ns_per_req" -> "ns",
    "sim.hosting_ratio" -> "ratio", "sim.parallelism" -> "ratio", "sim.tasks" -> "count",
    "sim.requests" -> "count",
    "jvm.gc_s" -> "s", "spark.task_gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    // The JVM's peak resident set moved by 20-30% between runs of the same
    // input, too much for an end-to-end bound, so it is reported here.
    "jvm.peak_rss_mb" -> "MB"
  ) ++ LakeCuration.Queries.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "queries.parallelism" -> "ratio"
  ) ++ Layers.map(l => s"self.${l}_s" -> "s") ++ Seq(
    "trace.job_s" -> "s", "trace.overhead_ratio" -> "ratio", "failed_ratio" -> "ratio"
  )

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The result line: `correct`, `attempted`, `failed` and each metric with
    * its unit. Values must be finite.
    */
  def resultJson(
      correct: Boolean,
      attempted: Long,
      failed: Long,
      names: Seq[(String, String)],
      values: Map[String, Double]
  ): String = {
    val ms = names.map { case (n, u) =>
      val v = values(n)
      require(!v.isNaN && !v.isInfinite, s"metric $n is not finite: $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Benchmark entry point.
  *
  * `--workload NAME --seed N --seconds S --trace 0|1 --root DIR`
  *
  * One JVM runs one workload: it builds the inputs from the seed, sets up a
  * SparkSession several times (`setup_s` is the median), runs untimed
  * warm-up jobs, then a closed loop of jobs for `--seconds`: one client,
  * each job starting when the previous one finished and was checked. With
  * `--trace 1` traced and untraced jobs alternate, and the spans of the
  * traced ones give the per-layer metrics. The last line of standard output
  * is the JSON result.
  */
object Bench {
  val SetupRepeats = 5
  val MinJobs = 5
  val MinTracedPairs = 3
  val CoreRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val root = Paths.get(opt("root")).toAbsolutePath
    val work = root.resolve(".bench_build")
    val wl = Workloads(opt("workload"), opt("seed").toLong, root, work)
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))

    log(s"${wl.name}: preparing inputs")
    wl.prepare()

    var spark: SparkSession = null
    val setupTimes = (1 to SetupRepeats).map { _ =>
      if (spark != null) spark.stop()
      Workloads.timed {
        spark = session(cores, work)
        wl.load(spark)
      }._2
    }
    log(f"${wl.name}: set up ${setupTimes.map(x => f"$x%.2f").mkString(" ")} s")
    val run = new Run(wl, spark)
    try {
      run.warmup()
      log(s"${wl.name}: warmed up")
      val line = if (trace) run.traced(seconds, work) else run.untraced(seconds, setupTimes)
      spark.stop()
      log(s"${wl.name}: attempted ${run.attempted}, failed ${run.failed}")
      run.messages.take(20).foreach(m => log(s"  mismatch: $m"))
      println(line)
    } finally if (!spark.sparkContext.isStopped) spark.stop()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()

  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%6.1fs] $msg")

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** The closed loop of one benchmark run. */
final class Run(wl: Workload, spark: SparkSession) {
  import Bench.log
  import Metrics.median

  var attempted = 0L
  var failed = 0L
  val messages = mutable.ArrayBuffer.empty[String]

  /** Runs job `i` and its check; returns the job's seconds. Exceptions and
    * check mismatches both count the job as failed.
    */
  def once(t: Tracer, i: Int): Double = {
    val (check, dt) = Workloads.timed {
      try Right(wl.job(spark, t, i))
      catch { case e: Exception => Left(e) }
    }
    val failures = check match {
      case Right(c) =>
        try c()
        catch { case e: Exception => Seq(s"check failed: $e") }
      case Left(e) => Seq(s"job failed: $e")
    }
    attempted += 1
    if (failures.nonEmpty) failed += 1
    messages ++= failures
    dt
  }

  def warmup(): Unit =
    loop(wl.warmupSeconds, wl.warmupPasses * wl.jobsPerPass, wl.jobsPerPass)(i => once(NoTrace, i))

  /** Calls `step(i)` for i = 0, 1, ... until `seconds` passed and at
    * least `minSteps` ran, stopping only after a whole number of `unit`s.
    */
  private def loop(seconds: Double, minSteps: Int, unit: Int)(step: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minSteps || System.nanoTime() < deadline || i % unit != 0) { step(i); i += 1 }
  }

  /** Time of one pass from `(step, seconds)` samples: for each position in
    * the pass, `stat` over its samples, summed over positions. With one job
    * per pass this is `stat` over all jobs.
    */
  private def passTime(samples: Seq[(Int, Double)], stat: Seq[Double] => Double): Double =
    samples.groupBy(_._1 % wl.jobsPerPass).values.map(g => stat(g.map(_._2))).sum

  private def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  def untraced(seconds: Double, setupTimes: Seq[Double]): String = {
    val times = mutable.ArrayBuffer.empty[(Int, Double)]
    val p = wl.jobsPerPass
    loop(seconds, math.max(Bench.MinJobs, p), p)(i => times += i -> once(NoTrace, i))
    log(f"${wl.name}: ${times.size} jobs, job_s ${times.map(x => f"${x._2}%.3f").mkString(" ")}")
    val values = Map(
      "setup_s" -> median(setupTimes),
      "job_s" -> passTime(times.toSeq, median),
      "throughput_per_s" -> wl.itemsPerJob * p / passTime(times.toSeq, mean)
    )
    Metrics.resultJson(failed == 0, attempted, failed, Metrics.EndToEnd, values)
  }

  def traced(seconds: Double, work: Path): String = {
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val tracer = new SpanTracer(sc)
    val plain = mutable.ArrayBuffer.empty[(Int, Double)]
    val tracedSteps = mutable.ArrayBuffer.empty[Int]
    val gcPerJob = mutable.ArrayBuffer.empty[(Int, Double)]
    // Passes run untraced, traced, traced, untraced, ...: jobs still speed
    // up slowly, and this order gives both kinds the same average warmth.
    val p = wl.jobsPerPass
    loop(seconds, 2 * Bench.MinTracedPairs, 4 * p) { i =>
      if (Seq(0, 3).contains((i / p) % 4)) plain += i -> once(NoTrace, i)
      else {
        val gc0 = Bench.gcSeconds()
        once(tracer, i)
        gcPerJob += i -> (Bench.gcSeconds() - gc0)
        tracedSteps += i
      }
    }
    val coreTimes = (1 to Bench.CoreRepeats).map(_ => Workloads.timed(wl.coreRun())._2)
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)

    val spans = tracer.spans
    writeSpans(work, spans)
    val aggs = listener.snapshot()
    val byId = spans.map(s => s.id -> s).toMap
    def rootOf(s: Span): Int = if (s.parent < 0) s.id else rootOf(byId(s.parent))
    // The k-th traced job (spans under the k-th root) ran as step tracedSteps(k).
    val jobs = spans.groupBy(rootOf).toSeq.sortBy(_._1).map(_._2).zip(tracedSteps)

    /** A value from each traced job's spans, as the time of one pass. */
    def perJob(f: Seq[Span] => Double): Double =
      passTime(jobs.map { case (js, step) => step -> f(js) }, median)
    /** Median duration of the spans with this name. */
    def perSpan(name: String): Double = median(spans.filter(_.name == name).map(_.durNs / 1e9))
    def dur(prefix: String)(js: Seq[Span]): Double =
      js.filter(_.name.startsWith(prefix)).map(_.durNs).sum / 1e9
    def agg(js: Seq[Span], layer: String): Seq[TaskAgg] =
      js.filter(_.layer == layer).flatMap(s => aggs.get(s.id))
    // Task busy time over the layer's wall time, both per pass.
    def parallelism(layer: String): Double = {
      val wallMs = perJob(js => js.filter(_.layer == layer).map(_.durNs).sum / 1e6)
      if (wallMs > 0) perJob(js => agg(js, layer).map(_.busyMs).sum.toDouble) / wallMs else 0.0
    }
    def count(layer: String, f: TaskAgg => Long)(js: Seq[Span]): Double = agg(js, layer).map(f).sum.toDouble
    def all(f: TaskAgg => Long)(js: Seq[Span]): Double = js.flatMap(s => aggs.get(s.id)).map(f).sum.toDouble

    val traceJob = perJob(js => js.filter(_.parent < 0).map(_.durNs).sum / 1e9)
    val simS = perJob(dur("sim."))
    val coreS = median(coreTimes)
    val simReqs = wl.simRequests
    val sourcesS = perJob(dur("sources."))
    val values = mutable.LinkedHashMap[String, Double](
      "sources.read_s" -> perSpan("sources.read"),
      "sources.count_s" -> perSpan("sources.count"),
      "sources.rows_per_s" -> (if (sourcesS > 0) wl.sourceRows / sourcesS else 0.0),
      "stats.summary_s" -> perSpan("stats.summary"),
      "stats.api_usage_s" -> perSpan("stats.api_usage"),
      "stats.parallelism" -> parallelism("stats"),
      "stats.tasks" -> perJob(count("stats", _.tasks)),
      "sim.simulate_s" -> simS,
      "sim.core_s" -> (if (simReqs > 0) coreS else 0.0),
      "sim.core_ns_per_req" -> (if (simReqs > 0) coreS * 1e9 / simReqs else 0.0),
      "sim.hosting_ratio" -> (if (simReqs > 0 && coreS > 0) simS / coreS else 0.0),
      "sim.parallelism" -> parallelism("sim"),
      "sim.tasks" -> perJob(count("sim", _.tasks)),
      "sim.requests" -> simReqs.toDouble,
      "jvm.gc_s" -> passTime(gcPerJob.toSeq, median),
      "spark.task_gc_s" -> perJob(all(_.gcMs)) / 1000,
      "spark.shuffle_write_bytes" -> perJob(all(_.shuffleWriteBytes)),
      "spark.spill_bytes" -> perJob(all(_.spillBytes)),
      "jvm.peak_rss_mb" -> Bench.peakRssMb()
    )
    LakeCuration.Queries.foreach(q => values(s"queries.${q}_s") = perSpan(s"queries.$q"))
    values("queries.parallelism") = parallelism("queries")
    Metrics.Layers.foreach { l =>
      values(s"self.${l}_s") =
        perJob(js => js.filter(_.layer == l).map(s => SpanTracer.selfNs(s, js)).sum / 1e9)
    }
    values("trace.job_s") = traceJob
    values("trace.overhead_ratio") = traceJob / passTime(plain.toSeq, median)
    values("failed_ratio") = if (attempted > 0) failed.toDouble / attempted else 0.0

    log(f"${wl.name}: ${jobs.size} traced jobs, traced job_s $traceJob%.3f, untraced ${passTime(plain.toSeq, median)}%.3f")
    Metrics.Layers.foreach(l => log(f"  self.$l: ${values(s"self.${l}_s")}%.3f s"))
    Metrics.resultJson(failed == 0, attempted, failed, Metrics.PerLayer, values.toMap)
  }

  /** Spans as JSON lines, written when the run ends. */
  private def writeSpans(work: Path, spans: Seq[Span]): Unit = {
    val dir = work.resolve("trace")
    Files.createDirectories(dir)
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    Files.write(dir.resolve(s"${wl.name}.jsonl"), lines.asJava, StandardCharsets.UTF_8)
  }
}
