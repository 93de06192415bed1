package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.SimCompleted

/** Relational statistics layer over the simulation output — the Spark
  * re-expression of reference src/statistics.py:9-154 (A1–A6 in SURVEY §2).
  *
  * Everything here is a single partial+final hash aggregate over the
  * completed set; at 100 TB of completed records this is the layer that
  * scales (the sequential sim core does not need to — SURVEY §4.2).
  * NaN (not null) marks empty-aggregate results for `np.nan` parity
  * (src/statistics.py:64,118-121). The CLI's whole report — summary plus
  * API usage — is the one aggregate [[report]]; the four queuing-time
  * percentiles are read from one sorted array.
  */
object Statistics {

  /** snake_case DataFrame view of the completed set (engine-facing schema,
    * SURVEY §1.4).
    */
  def toDF(completed: Dataset[SimCompleted]): DataFrame = {
    val snake = SnakeRenames.toMap
    completed.toDF(completed.columns.toIndexedSeq.map(c => snake.getOrElse(c, c)): _*)
  }

  /** camelCase → snake_case rename for DataFrames derived from
    * [[SimCompleted]] structs (e.g. the scenario fan-out's nested column).
    */
  val SnakeRenames: Seq[(String, String)] = Seq(
    "userId" -> "user_id", "requestTimeMicros" -> "request_time_micros",
    "processingTime" -> "processing_time", "simArrivalTime" -> "sim_arrival_time",
    "arrivalTimeInQueue" -> "arrival_time_in_queue", "startTime" -> "start_time",
    "finishTime" -> "finish_time", "usedApiId" -> "used_api_id"
  )

  def renameToSnake(df: DataFrame): DataFrame =
    SnakeRenames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  private val processedPred = col("finish_time") =!= lit(-1.0)

  /** Valid queuing time per P2 (src/statistics.py:9-43): processed rows with
    * non-negative start/arrival and start >= arrival; null otherwise.
    */
  private val queuingTime =
    when(
      processedPred &&
        col("start_time") >= 0 && col("arrival_time_in_queue") >= 0 &&
        col("start_time") >= col("arrival_time_in_queue"),
      col("start_time") - col("arrival_time_in_queue")
    )

  private val summaryInputs: Seq[Column] =
    Seq(processedPred.as("is_processed"), queuingTime.as("qt"), col("queue"))

  /** Queuing-time percentiles reported by [[summary]], in output order. */
  private val Percentiles = Seq("p50" -> 0.50, "p75" -> 0.75, "p90" -> 0.90, "p99" -> 0.99)

  /** Spark's `percentile` at fraction `p` of the ascending array `sorted`,
    * computed the way `percentile` computes it: position (n - 1)·p, the
    * element at its floor if the position is whole or its floor and
    * ceiling elements are equal, otherwise linear interpolation between
    * the two; NaN when the array is empty.
    */
  private def percentileOf(sorted: Column, p: Double): Column = {
    val pos = (size(sorted) - 1) * lit(p)
    val (lo, hi) = (floor(pos), ceil(pos))
    val (a, b) = (get(sorted, lo.cast("int")), get(sorted, hi.cast("int")))
    when(size(sorted) === 0, lit(Double.NaN))
      .when(lo === hi || a === b, a)
      .otherwise((hi - pos) * a + (pos - lo) * b)
  }

  /** One-row summary (src/statistics.py:102-121,144-152): counts, mean and
    * exact linear-interpolation percentiles of queuing time, per-queue
    * enqueue totals. A single agg ⇒ one shuffle of partial buffers; the
    * four percentiles are read by [[summaryCols]] from one ascending array
    * of the valid queuing times (`qt_sorted`), which costs less than
    * Spark's `percentile` buffer and gives the same doubles.
    */
  private val summaryAggs: Seq[Column] = {
    val nan = lit(Double.NaN)
    Seq(
      sum(when(col("is_processed"), 1L).otherwise(0L)).cast("long")
        .as("total_requests_processed"),
      sum(when(!col("is_processed"), 1L).otherwise(0L)).cast("long")
        .as("total_requests_rejected"),
      coalesce(avg(col("qt")), nan).as("average_queuing_time"),
      sort_array(collect_list(col("qt"))).as("qt_sorted"),
      sum(when(col("queue") === "priority", 1L).otherwise(0L)).cast("long")
        .as("priority_queue_enqueued_total"),
      sum(when(col("queue") === "normal", 1L).otherwise(0L)).cast("long")
        .as("normal_queue_enqueued_total")
    )
  }

  /** The summary's output columns over the aggregate's: `p50..p99` read
    * from `qt_sorted`, NaN when no row had a valid queuing time.
    */
  private val summaryCols: Seq[Column] =
    Seq("total_requests_processed", "total_requests_rejected", "average_queuing_time").map(col) ++
      Percentiles.map { case (name, p) => percentileOf(col("qt_sorted"), p).as(name) } ++
      Seq("priority_queue_enqueued_total", "normal_queue_enqueued_total").map(col)

  def summary(completedDF: DataFrame): DataFrame = summaryByGroup(completedDF, Nil)

  /** Per-group summary (e.g. per scenario of a fan-out run) — the same
    * one-pass aggregate with a grouping key; scales to any number of
    * concurrent scenarios with a single shuffle. No keys is [[summary]]
    * (`Dataset.agg` is `groupBy().agg`).
    */
  def summaryByGroup(completedDF: DataFrame, groupCols: Seq[String]): DataFrame =
    completedDF
      .select(groupCols.map(col) ++ summaryInputs: _*)
      .groupBy(groupCols.map(col): _*)
      .agg(summaryAggs.head, summaryAggs.tail: _*)
      .select(groupCols.map(col) ++ summaryCols: _*)

  /** Rows that count toward an endpoint's usage (A4): processed, with an
    * id inside the `api_1..api_N` domain.
    */
  private def apiInDomain(numApis: Int): Column =
    processedPred && col("used_api_id").isNotNull && col("used_api_id").between(1, numApis)

  /** Per-endpoint usage with dense-domain zero-fill (A4,
    * src/statistics.py:126-141): only processed rows with an in-domain id
    * count; the `api_1..api_N` key dimension is generated and broadcast so
    * absent endpoints appear with count 0.
    */
  def apiUsage(completedDF: DataFrame, numApis: Int): DataFrame = {
    val spark = completedDF.sparkSession
    val domain = spark
      .range(1, numApis + 1L)
      .select(col("id").cast("int").as("api_id_num"))
    val counts = completedDF
      .filter(apiInDomain(numApis))
      .groupBy(col("used_api_id").as("api_id_num"))
      .agg(count(lit(1)).as("cnt"))
    // Hint-free: both sides are ≤ numApis rows; AQE picks the build side
    // (the preserved side of a left join cannot be the broadcast build
    // side, so only the counts side is eligible anyway).
    domain
      .join(counts, Seq("api_id_num"), "left")
      .select(
        concat(lit("api_"), col("api_id_num")).as("api_id"),
        coalesce(col("cnt"), lit(0L)).as("n_used")
      )
  }

  /** The CLI report in one aggregate: [[summary]]'s columns, then one
    * `api_1..api_N` column per endpoint holding [[apiUsage]]'s count
    * (zero-filled: `count` of no rows is 0). No key and no join, so over
    * a single-partition input (the simulation's) it runs in that
    * partition's task without an exchange.
    */
  def report(completedDF: DataFrame, numApis: Int): DataFrame = {
    val apis = (1 to numApis).map(k => s"api_$k")
    val apiCounts = (1 to numApis).map(k => count(when(col("api") === k, 1)).as(apis(k - 1)))
    completedDF
      .select(summaryInputs :+ when(apiInDomain(numApis), col("used_api_id")).as("api"): _*)
      .agg(summaryAggs.head, summaryAggs.tail ++ apiCounts: _*)
      .select(summaryCols ++ apis.map(col): _*)
  }
}
