package graft.sources

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, PathFilter}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, FileSplit, JobConf, LineRecordReader, TextInputFormat}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.{HadoopRDD, RDD}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

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
  *   - header-only file → empty dataset, no error; a path that matches no
  *     file throws [[java.io.FileNotFoundException]]
  *
  * The header is read on the driver and the parse runs distributed, one
  * split of the lines per core (typed casts in a projection); the
  * row-numbered error report is only computed on the failure path.
  * [[read]] checks the whole file before it returns; [[readWith]] checks
  * it inside the caller's own action, so a reader that consumes the rows
  * once pays for one scan and one action.
  */
object RequestCsv {

  /** Simulation origin: 2023-01-01T00:00:00Z (reference main.py:13). */
  val SimStartMicros: Long = 1672531200000000L

  final case class CsvParseException(message: String) extends RuntimeException(message)

  implicit private val reqEnc: Encoder[SimRequest] = Encoders.product[SimRequest]

  private val Required = Seq("user_id", "request_time", "processing_time")

  /** What the parse reads of a data line: its required fields as strings,
    * and `seq`.
    */
  private val LineSchema =
    StructType(Required.map(StructField(_, StringType)) :+ StructField("seq", LongType, nullable = false))

  /** Header check plus the typed-cast projection every reader shares: the
    * raw columns ride along for error reports, and `ts` / `proc` are NULL
    * where the value does not parse. The header is read on the driver
    * ([[header]]), so no Spark job infers it; the lines are parsed on
    * every core ([[dataRows]]).
    */
  private def parse(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val options = new CSVOptions(Map("header" -> "true"), true, spark.sessionState.conf.sessionLocalTimeZone)
    val files = inputFiles(conf, path)
    val columns = header(spark, files, options, conf)
    val missing = Required.filterNot(columns.contains)
    if (missing.nonEmpty)
      throw CsvParseException(s"CSV is missing required column(s): ${missing.mkString(", ")}")
    val raw = spark.createDataFrame(
      dataRows(spark.sparkContext, path, files, conf, options, Required.map(columns.indexOf)), LineSchema)

    // Zoned and naive ISO-8601 (the reference accepts no-Z values as naive
    // local = UTC here, :54-59); a trailing Z is a zero offset (:50-53),
    // which `XXX` and the lenient fallback both read.
    val ts = col("request_time")
    raw.select(
      col("user_id"),
      ts.as("raw_ts"),
      col("processing_time").as("raw_proc"),
      // try_* variants: ANSI mode (Spark 4 default) would otherwise throw
      // mid-task; the reference contract wants a row-numbered error instead.
      coalesce(
        try_to_timestamp(ts, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
        try_to_timestamp(ts, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        try_to_timestamp(ts, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
        try_to_timestamp(ts, lit("yyyy-MM-dd'T'HH:mm:ss")),
        // Lenient ISO-8601 fallback for 1-5 fractional digits
        // (fromisoformat on Python >= 3.11 accepts them, :50-53).
        try_to_timestamp(ts),
        // Minutes with an offset, which the fallback refuses although it
        // reads minutes without one (`T00:00Z` as `T00:00`); only rows
        // every other form rejects get here.
        try_to_timestamp(ts, lit("yyyy-MM-dd'T'HH:mmXXX"))
      ).as("ts"),
      expr("try_cast(processing_time AS DOUBLE)").as("proc"),
      col("seq")
    )
  }

  /** The files Hadoop's text input format reads for `path` (a file, a
    * directory of files or a glob, on any Hadoop file system), in path
    * order: no hidden or `_` files. Throws
    * [[java.io.FileNotFoundException]] when nothing matches `path`.
    */
  private def inputFiles(conf: Configuration, path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    if (matched.isEmpty) throw new FileNotFoundException(path)
    val visible: PathFilter = f => !f.getName.startsWith("_") && !f.getName.startsWith(".")
    matched.toSeq
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath, visible).toSeq.filter(_.isFile) else Seq(s))
      .map(_.getPath)
      .sortBy(_.toString)
  }

  /** The column names of the CSV: the first non-blank line of the first of
    * `files` that has one, split with Spark's CSV options and named as
    * Spark's CSV source names a header's columns. Without such a line
    * there are no columns.
    */
  private def header(spark: SparkSession, files: Seq[Path], options: CSVOptions, conf: Configuration): Seq[String] =
    files.iterator
      .flatMap(CSVUtils.readHeaderLine(_, options, conf))
      .nextOption()
      .fold(Seq.empty[String]) { line =>
        val names = new CsvParser(options.asParserSettings).parseLine(line)
        CSVUtils.makeSafeHeader(names, spark.sessionState.conf.caseSensitiveAnalysis, options).toSeq
      }

  /** The data lines among `lines`: blank lines dropped and, at the start of
    * a file, the header line too, as Spark's CSV source drops them.
    */
  private def dataLines(lines: Iterator[String], fileStart: Boolean): Iterator[String] =
    (if (fileStart) lines.dropWhile(_.trim.isEmpty).drop(1) else lines).filter(_.trim.nonEmpty)

  private def text(t: Text): String = new String(t.getBytes, 0, t.getLength, UTF_8)

  /** One row of [[LineSchema]] per data line of `files`, read in
    * `defaultParallelism` splits so the parse runs on every core. Fields
    * are taken by header position from Spark's CSV tokenizer, NULL when
    * empty or past the end of a short row, as Spark's CSV reader reads
    * them. `seq` is the line's 0-based data row number within its file
    * plus the file's ordinal times 2^33: dense within a file, monotone in
    * file order. A split that does not start its file counts the data
    * lines before it by reading the file up to its start with the same
    * line reader, which yields exactly the lines of the splits before.
    */
  private def dataRows(
      sc: SparkContext,
      path: String,
      files: Seq[Path],
      conf: Configuration,
      options: CSVOptions,
      fields: Seq[Int]
  ): RDD[Row] = {
    val ordinal = files.map(_.toString).zipWithIndex.toMap
    val confBc = sc.broadcast(new SerializableConfiguration(conf))
    val setPath = (jc: JobConf) => FileInputFormat.setInputPaths(jc, new Path(path))
    new HadoopRDD(sc, confBc, Some(setPath), classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
      sc.defaultParallelism)
      .mapPartitionsWithInputSplit { (split, records) =>
        val s = split.asInstanceOf[FileSplit]
        val before =
          if (s.getStart == 0) 0L
          else {
            val prefix = new LineRecordReader(confBc.value.value, new FileSplit(s.getPath, 0, s.getStart, Array.empty[String]))
            val (k, v) = (prefix.createKey(), prefix.createValue())
            try dataLines(Iterator.continually(prefix.next(k, v)).takeWhile(identity).map(_ => text(v)), true).size
            finally prefix.close()
          }
        val first = (ordinal(s.getPath.toString).toLong << 33) + before
        val parser = new CsvParser(options.asParserSettings)
        dataLines(records.map(r => text(r._2)), s.getStart == 0).zipWithIndex.map { case (line, i) =>
          val tokens = parser.parseLine(line)
          def field(f: Int) = if (f < tokens.length && tokens(f) != null && tokens(f).nonEmpty) tokens(f) else null
          Row(field(fields(0)), field(fields(1)), field(fields(2)), first + i)
        }
      }
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
    * malformed rows filtered out and, in the same Spark action, counts every
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

  /** The error for the malformed parsed row `r`. `seq` is file-order
    * monotone but NOT dense across input files (it jumps by 2^33 per
    * file), so the 1-based data row number (header excluded, reference
    * :42) is the count of rows at-or-before the failure.
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
