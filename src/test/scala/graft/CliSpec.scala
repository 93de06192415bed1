package graft

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The CLI end to end, in-process: CSV → simulate → printed report
  * (X1, reference main.py:16-159), including the bounded-FIFO rejection
  * path, the reference's error contract for bad input, the exit status
  * and the shape of the Spark work one report takes.
  */
class CliSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def csv(content: String): String = {
    val f = Files.createTempFile("graft_cli", ".csv")
    Files.writeString(f, content)
    f.toString
  }

  /** Runs the CLI; returns its exit status, stdout and stderr. */
  private def runCapturing(args: String*): (Int, String, String) = {
    val out = new ByteArrayOutputStream()
    val (status, err) = runInto(out, args: _*)
    (status, out.toString("UTF-8"), err)
  }

  /** Runs the CLI with stdout written to `out`; returns the exit status
    * and stderr.
    */
  private def runInto(out: OutputStream, args: String*): (Int, String) = {
    val _ = spark.version // init the shared session OUTSIDE the capture
    val err = new ByteArrayOutputStream()
    val status = Console.withOut(new PrintStream(out, true, "UTF-8")) {
      Console.withErr(new PrintStream(err, true, "UTF-8")) {
        val prevErr = System.err
        System.setErr(new PrintStream(err, true, "UTF-8"))
        try graft.cli.Main.run(spark, args.toArray)
        finally System.setErr(prevErr)
      }
    }
    (status, err.toString("UTF-8"))
  }

  private val fourRows =
    """user_id,request_time,processing_time
      |u1,2023-01-01T00:00:00.000000Z,1.0
      |u2,2023-01-01T00:00:00.500000Z,2.0
      |u3,2023-01-01T00:00:01.000000Z,1.5
      |u4,2023-01-01T00:00:01.500000Z,0.5
      |""".stripMargin

  test("default priority run prints the full report; everything processes") {
    val (status, out, err) = runCapturing(csv(fourRows), "-w", "2")
    assert(!err.contains("Error:"), err)
    assert(status == 0)
    assert(out.contains("Total requests (input):  4"))
    assert(out.contains("Processed requests:      4"))
    assert(out.contains("Rejected requests:       0"))
    assert(out.contains("Queuing time P99:"))
    assert(out.contains("api_1:"), "API usage block missing")
    assert(out.contains("priority:"), "queue totals block missing")
  }

  test("columns map by header name: another order with an extra column gives the same report") {
    val rows = fourRows.linesIterator.drop(1).zipWithIndex.map { case (line, i) =>
      val Array(user, time, proc) = line.split(",")
      s"$proc,x$i,$user,$time"
    }
    val reordered = ("processing_time,extra,user_id,request_time" +: rows.toSeq).mkString("", "\n", "\n")
    val (status, out, err) = runCapturing(csv(reordered), "-w", "2")
    assert(status == 0, err)
    assert(out.contains("Processed requests:      4"), out)
    assert(out == runCapturing(csv(fourRows), "-w", "2")._2)
  }

  test("--fifo -q 1 with one worker makes rejection reachable and reported") {
    // burst of simultaneous arrivals against a 1-slot queue: at most
    // (in-flight + queued) survive, the rest reject
    val burst =
      """user_id,request_time,processing_time
        |u1,2023-01-01T00:00:00.000000Z,5.0
        |u2,2023-01-01T00:00:00.000000Z,5.0
        |u3,2023-01-01T00:00:00.000000Z,5.0
        |u4,2023-01-01T00:00:00.000000Z,5.0
        |""".stripMargin
    val (_, out, _) = runCapturing(csv(burst), "-w", "1", "-q", "1", "--fifo")
    val rejected = "Rejected requests:\\s+(\\d+)".r
      .findFirstMatchIn(out).map(_.group(1).toInt).getOrElse(-1)
    assert(rejected > 0, s"expected rejections in:\n$out")
  }

  test("malformed CSV reports the reference's error message, no report") {
    val bad = csv(
      """user_id,request_time,processing_time
        |u1,not-a-time,1.0
        |""".stripMargin)
    val (status, out, err) = runCapturing(bad)
    assert(err.contains("CSV file format is invalid"))
    assert(!out.contains("Simulation statistics"))
    assert(status == 1)
    val badFloat = csv(
      """user_id,request_time,processing_time
        |u1,2023-01-01T00:00:00.000000Z,1.0
        |u2,2023-01-01T00:00:01.000000Z,abc
        |""".stripMargin)
    val (status2, out2, err2) = runCapturing(badFloat)
    assert(err2.contains(
      "Error: CSV file format is invalid. Detail: Malformed float 'abc' at data row 2"), err2)
    assert(!out2.contains("Simulation statistics"))
    assert(status2 == 1)
  }

  test("an empty processing_time field is a malformed float, not a crash") {
    val (status, out, err) = runCapturing(csv(
      """user_id,request_time,processing_time
        |u1,2023-01-01T00:00:00.000000Z,1.0
        |u2,2023-01-01T00:00:01.000000Z,
        |""".stripMargin))
    assert(err.trim == "Error: CSV file format is invalid. Detail: Malformed float '' at data row 2", err)
    assert(out.isEmpty, out)
    assert(status == 1)
  }

  test("a malformed row after good rows still prints no report") {
    val rows = (0 until 20).map(i => f"u$i,2023-01-01T00:00:$i%02d.000000Z,1.0")
    val bad = csv(("user_id,request_time,processing_time" +: rows :+
      "u20,2023-01-01T00:00:20.000000Z,nan").mkString("", "\n", "\n"))
    val (status, out, err) = runCapturing(bad, "-w", "2")
    assert(err.contains("Detail: Malformed float 'nan' at data row 21"), err)
    assert(out.isEmpty, out)
    assert(status == 1)
  }

  test("header-only CSV prints the no-data line, no report, status 0") {
    val (status, out, err) = runCapturing(csv("user_id,request_time,processing_time\n"))
    assert(out.trim == "No request data in CSV; nothing to simulate.", out)
    assert(err.isEmpty, err)
    assert(status == 0)
  }

  test("exit status: 1 after a CSV error, 2 after a bad flag value with the usage line") {
    val missing = Files.createTempDirectory("graft_cli").resolve("absent.csv").toString
    val (s1, _, e1) = runCapturing(missing)
    assert(s1 == 1 && e1.contains(s"Error: CSV file '$missing' not found."), e1)
    val (s2, _, e2) = runCapturing(csv("user_id,request_time\nu1,2023-01-01T00:00:00Z\n"))
    assert(s2 == 1 && e2.contains("missing required column(s): processing_time"), e2)
    for ((flags, msg) <- Seq(
        Seq("-w", "abc") -> "-w needs an integer, got 'abc'",
        Seq("-w", "0") -> "numWorkers must be at least 1, got 0",
        Seq("--fifo", "-q", "x") -> "-q needs an integer, got 'x'")) {
      val (s, out, e) = runCapturing(csv(fourRows) +: flags: _*)
      assert(s == 2, s"$flags: $e")
      assert(e.contains(s"Error: $msg"), e)
      assert(e.contains(graft.cli.Main.Usage), e)
      assert(out.isEmpty, out)
    }
  }

  test("a bad flag value exits 2 before Spark starts") {
    // the real main, in its own JVM: it calls sys.exit, and a Spark start
    // would show as log lines on stderr
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val p = new ProcessBuilder((Seq(javaBin, "-Xmx1g") ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"), "graft.cli.Main", csv(fourRows), "-w", "abc")): _*)
      .redirectInput(ProcessBuilder.Redirect.from(new java.io.File("/dev/null")))
      .start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val err = new String(p.getErrorStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(p.exitValue() == 2, err)
    assert(err.linesIterator.toSeq == Seq("Error: -w needs an integer, got 'abc'", graft.cli.Main.Usage), err)
    assert(out.isEmpty, out)
  }

  test("one report is one query: the parse on every core, one shuffle, the fold in one task") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"graft-cli-jobs-${System.nanoTime()}"
    val fence = s"$group-fence"
    // The SQL execution of each job of the report, the stages its jobs
    // name, every stage that ran, and the end of a later fence job: the
    // listener bus delivers events in order, so once the fence job has
    // ended, every event of the report has arrived.
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val named = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val fenceJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` =>
            executions.add(String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
            e.stageIds.foreach(named.add(_))
          case `fence` => fenceJobs.add(e.jobId)
          case _       =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = ran.add(e.stageInfo)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (fenceJobs.contains(e.jobId)) fenced.countDown()
    }
    val path = csv(fourRows)
    val _ = spark.version
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "CliSpec job count")
      val (status, out, _) =
        try runCapturing(path, "-w", "2")
        finally sc.clearJobGroup()
      assert(status == 0 && out.contains("Processed requests:      4"))
      sc.setJobGroup(fence, "CliSpec fence")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(fenced.await(10, java.util.concurrent.TimeUnit.SECONDS), "fence job never ended")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    // one action: every job (adaptive execution submits the shuffle's map
    // stage as a job of its own) belongs to one SQL execution, and no job
    // infers the header
    assert(executions.asScala.toSet.size == 1 && !executions.contains("null"), s"executions: $executions")
    val stages = ran.asScala.filter(s => named.contains(s.stageId)).toSeq.sortBy(_.stageId)
    val shape = stages.map(s => (s.numTasks, s.taskMetrics.shuffleWriteMetrics.recordsWritten,
      s.taskMetrics.shuffleReadMetrics.recordsRead))
    // the parse stage writes the 4 rows to the one shuffle, on at most one
    // task per core; the fold stage reads them in one task
    assert(stages.length == 2, s"(tasks, rows written, rows read) per stage: $shape")
    val Seq((parseTasks, written, _), (foldTasks, _, read)) = shape
    assert(parseTasks >= 1 && parseTasks <= sc.defaultParallelism && written == 4, shape)
    assert(foldTasks == 1 && read == 4, shape)
  }

  test("animation mode prints frame gauges and the same report totals") {
    // frames are paced at 1/1440 s each: the 4-row fixture takes ~3 ms
    val (status, out, err) = runCapturing(csv(fourRows), "-w", "2", "--animation")
    assert(!err.contains("Error:"), err)
    assert(status == 0)
    assert(out.contains("[t="), "no animation frames printed")
    assert(out.contains("Processed requests:      4"))
  }

  test("animation paces frame k no earlier than k / 1440 s after the first") {
    // arrivals 1440 virtual seconds apart: at least 1441 one-second frames
    val stamps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val frames = new OutputStream {
      def write(b: Int): Unit = ()
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        if (new String(b, off, len, "UTF-8").startsWith("[t=")) stamps += System.nanoTime()
    }
    val (status, err) = runInto(frames, csv(
      """user_id,request_time,processing_time
        |u1,2023-01-01T00:00:00.000000Z,1.0
        |u2,2023-01-01T00:24:00.000000Z,1.0
        |""".stripMargin), "--animation")
    assert(status == 0, err)
    assert(stamps.length >= 1441, s"${stamps.length} frames")
    val elapsed = (stamps.last - stamps.head) / 1e9
    assert(elapsed >= (stamps.length - 1) / 1440.0, s"${stamps.length} frames in $elapsed s")
  }
}
