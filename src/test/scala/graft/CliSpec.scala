package graft

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The CLI end to end, in-process: CSV → simulate → printed report
  * (X1, reference main.py:16-159), including the bounded-FIFO rejection
  * path, the reference's error contract for bad input, the exit status
  * and the number of Spark jobs one report takes.
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

  test("one report takes at most 2 Spark jobs: the header read and one single-task job") {
    val sc = spark.sparkContext
    val group = s"graft-cli-jobs-${System.nanoTime()}"
    val path = csv(fourRows)
    sc.setJobGroup(group, "CliSpec job count")
    val (status, out, _) =
      try runCapturing(path, "-w", "2")
      finally sc.clearJobGroup()
    assert(status == 0 && out.contains("Processed requests:      4"))
    // The status store fills from the listener bus, in event order: once a
    // later fence job shows as finished, every job of the group is in it.
    val fence = s"$group-fence"
    sc.setJobGroup(fence, "CliSpec fence")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    def fenced = sc.statusTracker.getJobIdsForGroup(fence).toSeq.flatMap(sc.statusTracker.getJobInfo(_))
      .exists(_.status() == org.apache.spark.JobExecutionStatus.SUCCEEDED)
    while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
    assert(fenced, "fence job never reached the status store")
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.nonEmpty && jobs.length <= 2, s"jobs: ${jobs.toSeq}")
    val tasks = jobs.toSeq.flatMap(sc.statusTracker.getJobInfo(_))
      .flatMap(_.stageIds().toSeq).flatMap(sc.statusTracker.getStageInfo(_)).map(_.numTasks())
    assert(tasks.sum <= 2, s"tasks per stage: $tasks")
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
