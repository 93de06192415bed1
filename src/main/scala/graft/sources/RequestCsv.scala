package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SimRequest
import graft.operators.Observe

/** CSV request source with the reference's parse contract (S1,
  * reference: src/csv_parser.py:7-75):
  *
  *   - header must contain `user_id,request_time,processing_time`; a
  *     missing column fails naming it (KeyError analogue, :37-40)
  *   - `request_time` is ISO-8601; trailing `Z` normalizes to UTC (:50-53)
  *   - malformed timestamp / float fails with the 1-based data row number
  *     (ValueError analogue, :42,69-70); an empty field is malformed
  *     (`float('')` raises), and a `processing_time` of NaN or ±Infinity
  *     counts as a malformed float, since neither can be simulated
  *   - header-only file → empty dataset, no error
  *
  * Parse runs distributed (typed casts in a projection); the row-numbered
  * error report is only computed on the failure path. [[read]] checks the
  * whole file before it returns; [[readWith]] checks it inside the
  * caller's own action, so a reader that consumes the rows once pays for
  * one scan and one job.
  */
object RequestCsv {

  /** Simulation origin: 2023-01-01T00:00:00Z (reference main.py:13). */
  val SimStartMicros: Long = 1672531200000000L

  final case class CsvParseException(message: String) extends RuntimeException(message)

  implicit private val reqEnc: Encoder[SimRequest] = Encoders.product[SimRequest]

  /** Header check plus the typed-cast projection both readers share:
    * the raw columns ride along for error reports, and `ts` / `proc` are
    * NULL where the value does not parse.
    */
  private def parse(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .csv(path)

    val required = Seq("user_id", "request_time", "processing_time")
    val missing = required.filterNot(raw.columns.contains)
    if (missing.nonEmpty)
      throw CsvParseException(s"CSV is missing required column(s): ${missing.mkString(", ")}")

    // Normalize trailing Z, parse both zoned and naive ISO-8601 (the
    // reference accepts no-Z values as naive local = UTC here, :54-59).
    val tsStr = regexp_replace(col("request_time"), "Z$", "+00:00")
    raw.select(
      col("user_id"),
      col("request_time").as("raw_ts"),
      col("processing_time").as("raw_proc"),
      // try_* variants: ANSI mode (Spark 4 default) would otherwise throw
      // mid-task; the reference contract wants a row-numbered error instead.
      coalesce(
        try_to_timestamp(tsStr, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
        try_to_timestamp(tsStr, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        try_to_timestamp(col("request_time"), lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
        try_to_timestamp(col("request_time"), lit("yyyy-MM-dd'T'HH:mm:ss")),
        // Lenient ISO-8601 fallback for 1-5 fractional digits
        // (fromisoformat on Python >= 3.11 accepts them, :50-53).
        try_to_timestamp(tsStr)
      ).as("ts"),
      expr("try_cast(processing_time AS DOUBLE)").as("proc"),
      monotonically_increasing_id().as("seq")
    )
  }

  // An empty field or a short row reads as NULL, which is malformed too.
  // Each predicate is true or false, never NULL, so `!bad` filters
  // exactly the complement.
  private val badTs = col("ts").isNull
  private val badProc = col("proc").isNull || isnan(col("proc")) ||
    abs(col("proc")) === lit(Double.PositiveInfinity)
  private val bad = badTs || badProc

  private def typed(parsed: DataFrame): Dataset[SimRequest] =
    parsed
      .select(
        col("user_id").as("userId"),
        unix_micros(col("ts")).as("requestTimeMicros"),
        col("proc").as("processingTime"),
        ((unix_micros(col("ts")) - lit(SimStartMicros)) / lit(1000000.0)).as("simArrivalTime"),
        col("seq")
      )
      .as[SimRequest]

  def read(spark: SparkSession, path: String): Dataset[SimRequest] = {
    val parsed = parse(spark, path)
    parsed.filter(bad).orderBy("seq").limit(1).collect().headOption
      .foreach(r => throw failure(parsed, r))
    typed(parsed)
  }

  /** One-action reader: runs `action` on the typed rows of `path` with
    * malformed rows filtered out and, in the same Spark job, counts every
    * data row and records the smallest `seq` of a malformed one (observed
    * metrics on the parsed rows, see [[Observe.withMetrics]]). Returns the
    * data row count with the action's result, or throws the
    * [[CsvParseException]] [[read]] would throw, with the same message and
    * row number; that row number costs two more jobs, on the failure path
    * only.
    *
    * `action` must run one Spark action that consumes all of its input:
    * the count and the check come from the rows that action scans. A
    * metric row that never arrives is an error, never "no bad rows".
    */
  def readWith[T](spark: SparkSession, path: String)(action: Dataset[SimRequest] => T): (Long, T) = {
    val parsed = parse(spark, path)
    val (result, m) = Observe.withMetrics(
      parsed,
      "graft_request_csv",
      Seq(count(lit(1)).as("rows"), min(when(bad, col("seq"))).as("bad_seq"))
    )(observed => action(typed(observed.filter(!bad))))
    if (m.isEmpty)
      throw new IllegalStateException(s"no row count arrived from the action over $path")
    Option(m("bad_seq")).foreach(s => throw failure(parsed, parsed.filter(col("seq") === s).head()))
    (m("rows").asInstanceOf[Long], result)
  }

  /** The error for the malformed parsed row `r`. `seq` is
    * monotonically_increasing_id — file-order monotone but NOT dense
    * across input partitions (it jumps by 2^33 per partition), so the
    * 1-based data row number (header excluded, reference :42) is the count
    * of rows at-or-before the failure.
    */
  private def failure(parsed: DataFrame, r: Row): CsvParseException = {
    val rowNo = parsed.filter(col("seq") <= r.getAs[Long]("seq")).count()
    def raw(c: String) = Option(r.getAs[String](c)).getOrElse("")
    val what =
      if (r.isNullAt(r.fieldIndex("ts"))) s"timestamp '${raw("raw_ts")}'"
      else s"float '${raw("raw_proc")}'"
    CsvParseException(s"Malformed $what at data row $rowNo")
  }

  /** LENIENT lake-ingest variant of the same contract: instead of failing
    * the job on the first malformed row (the reference's interactive-CLI
    * behavior above), parse what parses and QUARANTINE the rest — at
    * 100 TB a single bad row must not kill an ingest, but it must not be
    * silently dropped either (quarantines feed a dead-letter table and a
    * [[graft.operators.Checks]] gate).
    *
    * Returns (clean, quarantined): `clean` carries the typed rows;
    * `quarantined` carries the raw columns plus a `reason`. The split is
    * one pass — the same try_-cast projection, routed by nullness — and
    * entirely distributed (no driver-side failure probe).
    */
  def readLenient(spark: SparkSession, path: String): (Dataset[SimRequest], DataFrame) = {
    val parsed = parse(spark, path)
    val quarantined = parsed
      .filter(bad)
      .select(
        col("user_id"),
        col("raw_ts").as("request_time"),
        col("raw_proc").as("processing_time"),
        when(badTs, "malformed_timestamp").otherwise("malformed_float").as("reason")
      )
    (typed(parsed.filter(!bad)), quarantined)
  }
}
