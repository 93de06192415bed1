package graft.cli

import java.io.FileNotFoundException
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{Dataset, Row, SparkSession}

import graft.model.{FifoConfig, PriorityConfig, SimCompleted, SimConfig, SimRequest}
import graft.sim.SimOperator
import graft.sources.RequestCsv
import graft.stats.Statistics

/** CLI entry mirroring the reference product pipeline (X1,
  * reference: main.py:16-159): CSV → enrich → simulate → statistics →
  * report.
  *
  * Flags: `<csv_file> [-w N] [-q M] [--fifo]`.
  * `-q` only binds with `--fifo` — faithfully to the reference, the
  * default priority strategy has no capacity bound (its is_full() ≡ false,
  * src/queue_manager.py:249-256), so `-q` alone is accepted-and-inert
  * exactly like the original; `--fifo` selects the bounded FIFO discipline
  * where rejection is reachable (SURVEY §4.1).
  *
  * The report comes from one parse of the CSV in one Spark action: the
  * driver reads the header, the parse check and row count ride the action
  * as observed metrics ([[RequestCsv.readWith]]), and simulation →
  * [[Statistics.report]] → collect is the action. The parse runs on every
  * core; one shuffle hands its rows to the one task that simulates and
  * aggregates. Nothing is cached.
  *
  * Exit status, unlike the reference's 0 on every error path: 0 after a
  * report (or an empty CSV), 1 after a CSV error, 2 after a bad flag value.
  */
object Main {

  val Usage = "usage: graft.cli.Main <csv_file> [-w N] [-q M] [--fifo] [--animation]"

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(Usage)
      sys.exit(2)
    }
    // A bad flag fails before Spark starts.
    parseArgs(args).left.foreach(msg => sys.exit(badFlag(msg)))
    val local = graft.SparkEntry.localSession(4, Some("graft-sim"), "WARN")
    val spark = sys.env.get("SPARK_MASTER").fold(local)(local.master).getOrCreate()
    val status =
      try run(spark, args)
      finally spark.stop()
    sys.exit(status)
  }

  /** `args` (non-empty) as (csv path, config, animation), or the message
    * for a bad flag value.
    */
  private def parseArgs(args: Array[String]): Either[String, (String, SimConfig, Boolean)] = {
    def intFlag(names: Set[String]): Option[Int] =
      args.sliding(2).collectFirst {
        case Array(f, v) if names(f) =>
          v.toIntOption.getOrElse(throw new IllegalArgumentException(s"$f needs an integer, got '$v'"))
      }
    try {
      val numWorkers = intFlag(Set("-w", "--num_workers")).getOrElse(1)
      val queueSize = intFlag(Set("-q", "--queue_size"))
      val cfg = SimConfig(
        numWorkers = numWorkers,
        strategy = if (args.contains("--fifo")) FifoConfig(queueSize) else PriorityConfig()
      )
      Right((args(0), cfg, args.contains("--animation")))
    } catch {
      case e: IllegalArgumentException => Left(e.getMessage.stripPrefix("requirement failed: "))
    }
  }

  private def badFlag(msg: String): Int = {
    System.err.println(s"Error: $msg")
    System.err.println(Usage)
    2
  }

  /** The whole pipeline against a CALLER-OWNED session — separated from
    * `main` so the CLI is end-to-end testable in-process (a test must not
    * let the CLI stop the shared SparkContext). Returns the exit status.
    */
  def run(spark: SparkSession, args: Array[String]): Int = {
    require(args.nonEmpty, "run() needs at least the csv path")
    val (csvFile, cfg, animation) = parseArgs(args) match {
      case Right(parsed) => parsed
      case Left(msg)     => return badFlag(msg)
    }

    def report(completed: Dataset[SimCompleted]): Row =
      Statistics.report(Statistics.toDF(completed), cfg.numApis).collect()(0)

    val (total, s) =
      try {
        if (animation) {
          // The whole file is parsed and checked before the first frame.
          val (n, rows) = RequestCsv.readWith(spark, csvFile)(_.collect())
          (n, report(animate(spark, cfg, rows)))
        } else RequestCsv.readWith(spark, csvFile)(rs => report(SimOperator.simulate(rs, cfg)))
      } catch {
        case e: RequestCsv.CsvParseException =>
          System.err.println(s"Error: CSV file format is invalid. Detail: ${e.message}")
          return 1
        case _: FileNotFoundException =>
          System.err.println(s"Error: CSV file '$csvFile' not found.")
          return 1
      }

    if (total == 0) {
      println("No request data in CSV; nothing to simulate.")
      return 0
    }

    def fmt(d: Double): String = if (d.isNaN) "N/A" else f"$d%.4f"
    println("\n--- Simulation statistics ---")
    println(s"  Total requests (input):  $total")
    println(s"  Processed requests:      ${s.getAs[Long]("total_requests_processed")}")
    println(s"  Rejected requests:       ${s.getAs[Long]("total_requests_rejected")}")
    println(s"  Average queuing time:    ${fmt(s.getAs[Double]("average_queuing_time"))}")
    println(s"  Queuing time P50:        ${fmt(s.getAs[Double]("p50"))}")
    println(s"  Queuing time P75:        ${fmt(s.getAs[Double]("p75"))}")
    println(s"  Queuing time P90:        ${fmt(s.getAs[Double]("p90"))}")
    println(s"  Queuing time P99:        ${fmt(s.getAs[Double]("p99"))}")
    println("\n  --- API usage ---")
    (1 to cfg.numApis).foreach(k => println(s"    api_$k: ${s.getAs[Long](s"api_$k")}"))
    println("\n  --- Queue totals (enqueued) ---")
    println(s"    priority: ${s.getAs[Long]("priority_queue_enqueued_total")}")
    println(s"    normal:   ${s.getAs[Long]("normal_queue_enqueued_total")}")
    println("-----------------------------\n")
    0
  }

  /** Animation mode (E2, reference src/simulator.py:148-193): the
    * fixed-step loop with per-frame console gauges is a driver-side
    * presentation of the same transition function; wall-clock scale is
    * 24 h simulated = 60 s real (sleep = interval / 1440,
    * src/simulator.py:44-45). Frame k prints no earlier than k / 1440 s
    * after frame 0 is out: the pause runs to a deadline in nanoseconds,
    * because `Thread.sleep`'s milliseconds would truncate 0.69 ms to 0.
    */
  private def animate(spark: SparkSession, cfg: SimConfig, rows: Array[SimRequest]): Dataset[SimCompleted] = {
    var start = 0L
    var frame = 0L
    val out = graft.sim.SimCore
      .runFixedStep(cfg, rows.iterator, interval = 1.0, onFrame = f => {
        val due = start + (frame * 1e9 / 1440).toLong
        while (frame > 0 && due - System.nanoTime() > 0) LockSupport.parkNanos(due - System.nanoTime())
        println(
          f"[t=${f.currentTime}%9.2f] pending=${f.pendingCount}%5d queued=${f.queuedCount}%5d " +
            f"active=${f.activeWorkers}%3d/${cfg.numWorkers} completed=${f.completedCount}%5d"
        )
        if (frame == 0) start = System.nanoTime()
        frame += 1
      })
      .toSeq
    import spark.implicits._
    spark.createDataset(out)
  }
}
