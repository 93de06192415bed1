package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{SimConfig, SimRequest}
import graft.sim.SimOperator
import graft.sources.{DataGen, RequestCsv}

/** CSV source contract (reference tests/test_csv_parser.py), datagen shape
  * (scripts/generate_sample_data.py), and scenario fan-out equivalence.
  */
class SourcesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def tmpCsv(content: String): String = {
    val f = Files.createTempFile("graft_req", ".csv")
    Files.writeString(f, content)
    f.toString
  }

  test("valid CSV parses with tz-aware UTC µs timestamps (test_csv_parser.py:53-70)") {
    val path = tmpCsv(
      """user_id,request_time,processing_time
        |user1,2023-01-01T00:00:00.100000Z,1.0
        |user2,2023-01-01T00:00:00.200000Z,2.0
        |user3,2023-01-01T00:00:00.300000Z,0.5
        |""".stripMargin)
    val rows = RequestCsv.read(spark, path).collect().sortBy(_.seq)
    assert(rows.length == 3)
    assert(rows(0).userId == "user1")
    assert(rows(0).requestTimeMicros.contains(1672531200100000L))
    assert(math.abs(rows(0).simArrivalTime - 0.1) < 1e-9)
    assert(rows(2).processingTime == 0.5)
  }

  test("header-only CSV → empty, no error (test_csv_parser.py:95-97)") {
    val path = tmpCsv("user_id,request_time,processing_time\n")
    assert(RequestCsv.read(spark, path).count() == 0)
  }

  test("malformed timestamp → row-numbered error (test_csv_parser.py:103-108)") {
    val path = tmpCsv(
      """user_id,request_time,processing_time
        |user1,not_a_datetime_string,1.0
        |""".stripMargin)
    val e = intercept[RequestCsv.CsvParseException](RequestCsv.read(spark, path).collect())
    assert(e.message.contains("timestamp"))
    assert(e.message.contains("row 1"))
  }

  test("1-5 digit fractional seconds parse (fromisoformat parity, csv_parser.py:50-53)") {
    val path = tmpCsv(
      """user_id,request_time,processing_time
        |user1,2023-01-01T00:00:00.123Z,1.0
        |user2,2023-01-01T00:00:00.1,2.0
        |user3,2023-01-01T00:00:00.12345+00:00,3.0
        |""".stripMargin)
    val rows = RequestCsv.read(spark, path).collect().sortBy(_.seq)
    assert(rows(0).requestTimeMicros.contains(1672531200123000L))
    assert(rows(1).requestTimeMicros.contains(1672531200100000L))
    assert(rows(2).requestTimeMicros.contains(1672531200123450L))
  }

  test("malformed row in a multi-file read reports a real position, not a partition-id offset") {
    val dir = Files.createTempDirectory("graft_req_multi")
    Files.writeString(dir.resolve("a.csv"),
      """user_id,request_time,processing_time
        |user1,2023-01-01T00:00:00.100000Z,1.0
        |user2,2023-01-01T00:00:00.200000Z,2.0
        |""".stripMargin)
    Files.writeString(dir.resolve("b.csv"),
      """user_id,request_time,processing_time
        |user3,bad_timestamp_here,3.0
        |""".stripMargin)
    val e = intercept[RequestCsv.CsvParseException](RequestCsv.read(spark, dir.toString).collect())
    // seq jumps by 2^33 across input files;
    // the reported row number must be the rank in seq order, never the id.
    val reported = "row (\\d+)".r.findFirstMatchIn(e.message).map(_.group(1).toLong)
    assert(reported.exists(n => n >= 1 && n <= 3), s"got: ${e.message}")
  }

  test("lenient ingest: clean rows parse, malformed rows quarantine with a reason") {
    val path = tmpCsv(
      """user_id,request_time,processing_time
        |user1,2023-01-01T00:00:00.100000Z,1.0
        |user2,not-a-timestamp,2.0
        |user3,2023-01-01T00:00:00.300000Z,abc
        |user4,2023-01-01T00:00:01Z,4.0
        |""".stripMargin)
    val (clean, quarantined) = graft.sources.RequestCsv.readLenient(spark, path)
    assert(clean.collect().map(_.userId).toSet == Set("user1", "user4"))
    val q = quarantined.collect()
      .map(r => r.getAs[String]("user_id") -> r.getAs[String]("reason")).toMap
    assert(q == Map("user2" -> "malformed_timestamp", "user3" -> "malformed_float"))
    // lenient and strict agree on fully-clean input
    val okPath = tmpCsv(
      """user_id,request_time,processing_time
        |user1,2023-01-01T00:00:00.100000Z,1.0
        |""".stripMargin)
    val (c2, q2) = graft.sources.RequestCsv.readLenient(spark, okPath)
    assert(q2.isEmpty)
    assert(c2.collect().toSeq == graft.sources.RequestCsv.read(spark, okPath).collect().toSeq)
  }

  test("malformed float → error (test_csv_parser.py:110-116)") {
    val path = tmpCsv(
      """user_id,request_time,processing_time
        |user1,2023-01-01T00:00:00.100000Z,not_a_float
        |""".stripMargin)
    val e = intercept[RequestCsv.CsvParseException](RequestCsv.read(spark, path).collect())
    assert(e.message.contains("float"))
  }

  /** A non-finite processing time can be neither simulated nor dropped:
    * every reader rejects it as a malformed float, at its row.
    */
  private def assertRejectsProc(value: String): Unit =
    assertRejectsRow(s"user2,2023-01-01T00:00:00.200000Z,$value", s"float '$value'", "malformed_float")

  /** Every reader rejects the data row `row2` (user2's, between two good
    * rows) as malformed `what` at row 2; `readLenient` quarantines it
    * with `reason`.
    */
  private def assertRejectsRow(row2: String, what: String, reason: String): Unit = {
    val path = tmpCsv(
      s"""user_id,request_time,processing_time
        |user1,2023-01-01T00:00:00.100000Z,1.0
        |$row2
        |user3,2023-01-01T00:00:00.300000Z,2.0
        |""".stripMargin)
    val want = s"Malformed $what at data row 2"
    val e = intercept[RequestCsv.CsvParseException](RequestCsv.read(spark, path))
    assert(e.message == want)
    val e2 = intercept[RequestCsv.CsvParseException](
      RequestCsv.readWith(spark, path)(ds => SimOperator.simulate(ds, SimConfig()).collect()))
    assert(e2.message == want)
    val (clean, quarantined) = RequestCsv.readLenient(spark, path)
    assert(clean.collect().map(_.userId).toSet == Set("user1", "user3"))
    assert(quarantined.collect().map(r => r.getAs[String]("user_id") -> r.getAs[String]("reason")).toSeq ==
      Seq("user2" -> reason))
  }

  test("processing_time nan is a malformed float, never simulated") {
    assertRejectsProc("nan")
  }

  test("processing_time Infinity is a malformed float, never dropped silently") {
    assertRejectsProc("Infinity")
    assertRejectsProc("-Infinity")
  }

  test("an empty processing_time, or a row without one, is a malformed float ''") {
    assertRejectsRow("user2,2023-01-01T00:00:00.200000Z,", "float ''", "malformed_float")
    assertRejectsRow("user2,2023-01-01T00:00:00.200000Z", "float ''", "malformed_float")
  }

  test("an empty request_time is a malformed timestamp ''") {
    assertRejectsRow("user2,,2.0", "timestamp ''", "malformed_timestamp")
  }

  test("readWith: one job counts every row and checks the parse inside the caller's action") {
    val path = tmpCsv(
      """user_id,request_time,processing_time
        |user1,2023-01-01T00:00:00.100000Z,1.0
        |user2,2023-01-01T00:00:00.200000Z,2.0
        |user3,2023-01-01T00:00:00.300000Z,0.5
        |""".stripMargin)
    val (n, rows) = RequestCsv.readWith(spark, path)(_.collect())
    assert(n == 3)
    assert(rows.sortBy(_.seq).toSeq == RequestCsv.read(spark, path).collect().sortBy(_.seq).toSeq)
    val (n0, rows0) = RequestCsv.readWith(spark, tmpCsv("user_id,request_time,processing_time\n"))(_.collect())
    assert(n0 == 0 && rows0.isEmpty)
    // the same error as read, row number included, also past a good row
    val bad = tmpCsv(
      """user_id,request_time,processing_time
        |user1,2023-01-01T00:00:00.100000Z,1.0
        |user2,not_a_datetime_string,1.0
        |""".stripMargin)
    val e = intercept[RequestCsv.CsvParseException](RequestCsv.readWith(spark, bad)(_.count()))
    assert(e.message == intercept[RequestCsv.CsvParseException](RequestCsv.read(spark, bad)).message)
    assert(e.message == "Malformed timestamp 'not_a_datetime_string' at data row 2")
    // an action that runs no job over the rows delivers no count: an error
    intercept[IllegalStateException](RequestCsv.readWith(spark, path)(_ => 0))
  }

  private val Header = "user_id,request_time,processing_time"
  private val twoRows = Seq("u1,2023-01-01T00:00:01Z,1.0", "u2,2023-01-01T00:00:02Z,2.0")

  /** What both strict readers make of `path`: the rows in file order
    * (`seq` zeroed, since its values depend on the input's partitioning),
    * or the parse error's message. `read` and `readWith` must agree, and
    * `readWith`'s count must be the number of rows.
    */
  private def outcome(path: String): Either[String, Seq[SimRequest]] = {
    def strict[T](body: => T): Either[String, T] =
      try Right(body)
      catch { case e: RequestCsv.CsvParseException => Left(e.message) }
    def inOrder(rows: Array[SimRequest]) = rows.sortBy(_.seq).map(_.copy(seq = 0L)).toSeq
    val viaRead = strict(inOrder(RequestCsv.read(spark, path).collect()))
    val viaWith = strict(RequestCsv.readWith(spark, path)(_.collect()))
    viaWith.foreach { case (n, rows) => assert(n == rows.length) }
    assert(viaWith.map(r => inOrder(r._2)) == viaRead)
    viaRead
  }

  private def lines(ls: String*): String = tmpCsv(ls.mkString("", "\n", "\n"))
  private lazy val plain = outcome(lines(Header +: twoRows: _*))

  test("reader edge cases: blank lines before the header and between rows are skipped") {
    assert(plain.map(_.map(_.userId)) == Right(Seq("u1", "u2")))
    assert(outcome(lines(Seq("", "  ", Header) ++ twoRows: _*)) == plain)
    assert(outcome(lines(Header, "", twoRows(0), " ", "", twoRows(1), "")) == plain)
    // a blank line is no data row: the bad row after one is still row 2
    assert(outcome(lines(Header, twoRows(0), "", "u2,2023-01-01T00:00:02Z,x")) ==
      Left("Malformed float 'x' at data row 2"))
  }

  test("reader edge cases: CRLF line endings read like LF") {
    assert(outcome(tmpCsv((Header +: twoRows).mkString("", "\r\n", "\r\n"))) == plain)
    assert(outcome(tmpCsv((Header +: twoRows).mkString("\r\n"))) == plain)
  }

  test("reader edge cases: a quoted field keeps its comma") {
    val rows = outcome(lines(Header, "\"u,1\",2023-01-01T00:00:01Z,1.0", "u2,\"2023-01-01T00:00:02Z\",\"2.0\""))
    assert(rows.map(_.map(_.userId)) == Right(Seq("u,1", "u2")))
    assert(rows.map(_.map(_.copy(userId = ""))) == plain.map(_.map(_.copy(userId = ""))))
  }

  test("reader edge cases: a UTF-8 BOM before the header is not part of the first column's name") {
    assert(outcome(lines(("\uFEFF" + Header) +: twoRows: _*)) == plain)
  }

  test("reader edge cases: an empty file has no columns; a header-only file has no rows") {
    assert(outcome(tmpCsv("")) ==
      Left("CSV is missing required column(s): user_id, request_time, processing_time"))
    assert(outcome(tmpCsv(Header)) == Right(Nil))
    assert(outcome(lines("", Header, "")) == Right(Nil))
  }

  test("reader edge cases: a directory of two CSVs reads both, each header dropped") {
    val dir = Files.createTempDirectory("graft_req_dir")
    Files.writeString(dir.resolve("a.csv"), (Header +: twoRows).mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("b.csv"), Seq(Header, "u3,2023-01-01T00:00:03Z,3.0").mkString("", "\n", "\n"))
    val rows = outcome(dir.toString)
    assert(rows.map(_.map(_.userId).sorted) == Right(Seq("u1", "u2", "u3")))
  }

  test("reader edge cases: a malformed row near the end of a large file reports its 1-based data row") {
    // about 130 KB, read in one split per core: the bad row lies in the last
    val n = 4000
    val rows = (1 to n).map(i => f"u$i,2023-01-01T${i / 3600}%02d:${i / 60 % 60}%02d:${i % 60}%02dZ,1.0")
    val good = lines(Header +: rows: _*)
    assert(outcome(good).map(_.length) == Right(n))
    // seq is the 0-based data row number, in file order across the splits
    assert(RequestCsv.read(spark, good).collect().map(r => r.seq -> r.userId).sorted.toSeq ==
      (0 until n).map(i => i.toLong -> s"u${i + 1}"))
    val bad = n - 3
    assert(outcome(lines(Header +: rows.updated(bad - 1, s"u$bad,2023-01-01T00:00:00Z,oops"): _*)) ==
      Left(s"Malformed float 'oops' at data row $bad"))
  }

  test("request_time forms: which parse and to what instant (pins today's accept/reject decision)") {
    // Every reader shares one parse, so readLenient's split into clean and
    // quarantined rows is read's and readWith's accept/reject decision.
    // Beyond ISO-8601 proper, today's parse accepts lowercase t/z, a space
    // separator, a date only, a missing seconds field (with or without Z),
    // surrounding blanks, unpadded fields and 7-9 fractional digits
    // (truncated to µs); it rejects 24:00:00 and 2023-02-30.
    val forms: Seq[(String, Option[String])] = Seq(
      "2023-01-01T00:00:01Z" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T00:00:01" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T00:00:01+00:00" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T00:00:01.1" -> Some("2023-01-01T00:00:01.100Z"),
      "2023-01-01T00:00:01.12" -> Some("2023-01-01T00:00:01.120Z"),
      "2023-01-01T00:00:01.123" -> Some("2023-01-01T00:00:01.123Z"),
      "2023-01-01T00:00:01.1234" -> Some("2023-01-01T00:00:01.123400Z"),
      "2023-01-01T00:00:01.12345" -> Some("2023-01-01T00:00:01.123450Z"),
      "2023-01-01T00:00:01.123456" -> Some("2023-01-01T00:00:01.123456Z"),
      "2023-01-01T00:00:01.1234567" -> Some("2023-01-01T00:00:01.123456Z"),
      "2023-01-01T00:00:01.12345678" -> Some("2023-01-01T00:00:01.123456Z"),
      "2023-01-01T00:00:01.123456789" -> Some("2023-01-01T00:00:01.123456Z"),
      "2023-01-01T00:00:01.1Z" -> Some("2023-01-01T00:00:01.100Z"),
      "2023-01-01T00:00:01.123456Z" -> Some("2023-01-01T00:00:01.123456Z"),
      "2023-01-01T00:00:01.123456789Z" -> Some("2023-01-01T00:00:01.123456Z"),
      "2023-01-01T05:30:01+05:30" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T05:30:01.5+05:30" -> Some("2023-01-01T00:00:01.500Z"),
      "2022-12-31T16:00:01-08:00" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T05:30:01+0530" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T05:00:01+05" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01 00:00:01" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01 00:00:01Z" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01" -> Some("2023-01-01T00:00:00Z"),
      "2023-01-01T00:00" -> Some("2023-01-01T00:00:00Z"),
      "2023-01-01T00:00Z" -> Some("2023-01-01T00:00:00Z"),
      "2023-01-01t00:00:01" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T00:00:01z" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01t00:00:01z" -> Some("2023-01-01T00:00:01Z"),
      " 2023-01-01T00:00:01Z" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T00:00:01Z " -> Some("2023-01-01T00:00:01Z"),
      " 2023-01-01T00:00:01 " -> Some("2023-01-01T00:00:01Z"),
      "2023-02-30T00:00:00" -> None,
      "2023-01-01T24:00:00" -> None,
      "2023-01-01T00:00:60" -> None,
      "2023-13-01T00:00:00" -> None,
      "2023-1-1T0:0:1" -> Some("2023-01-01T00:00:01Z"),
      "20230101T000001" -> None,
      "2023-01-01T00:00:01." -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T00:00:01 UTC" -> Some("2023-01-01T00:00:01Z"),
      "2023-01-01T00:00:01+00:00Z" -> None,
      "1672531201" -> None,
      "not_a_datetime_string" -> None,
    )
    val path = tmpCsv(forms.zipWithIndex
      .map { case ((f, _), i) => s"r$i,$f,1.0" }
      .mkString("user_id,request_time,processing_time\n", "\n", "\n"))
    val (clean, quarantined) = RequestCsv.readLenient(spark, path)
    val parsed = clean.collect().map(r =>
      r.userId -> r.requestTimeMicros.map(us => java.time.Instant.EPOCH.plusNanos(us * 1000L).toString)).toMap
    val rejected = quarantined.collect().map(r => r.getAs[String]("user_id") -> r.getAs[String]("reason")).toMap
    assert(rejected.values.forall(_ == "malformed_timestamp"))
    val got = forms.indices.map(i => forms(i)._1 -> parsed.getOrElse(s"r$i", None))
    assert(rejected.size + parsed.size == forms.size)
    assert(got == forms)
  }

  test("missing column → error naming it (test_csv_parser.py:118-121)") {
    val path = tmpCsv(
      """user_id,request_time
        |user1,2023-01-01T00:00:00.100000Z
        |""".stripMargin)
    val e = intercept[RequestCsv.CsvParseException](RequestCsv.read(spark, path))
    assert(e.message.contains("processing_time"))
  }

  test("no-Z timestamps parse as naive UTC (test_csv_parser.py / csv_parser.py:54-59)") {
    val path = tmpCsv(
      """user_id,request_time,processing_time
        |user1,2023-01-01T00:00:01,1.0
        |""".stripMargin)
    val rows = RequestCsv.read(spark, path).collect()
    assert(rows(0).requestTimeMicros.contains(1672531201000000L))
  }

  test("end-to-end: reference sample_requests.csv shape simulates completely") {
    // 25 rows equivalent to the bundled sample (5 users, arrivals within
    // ~14 s, processing 1.4–9.6 s) — the reference asserts len == 25
    // (tests/test_simulator.py:146).
    val rng = new scala.util.Random(5)
    val lines = (1 to 25).map { i =>
      val t = 680000 + rng.nextInt(12810000) // µs offsets ≈ 0.68–13.49 s
      val sec = t / 1000000
      val micro = t % 1000000
      f"user_${('a' + rng.nextInt(5)).toChar},2023-01-01T00:00:$sec%02d.$micro%06dZ,${1.4 + rng.nextDouble() * 8.2}%.1f"
    }
    val path = tmpCsv("user_id,request_time,processing_time\n" + lines.mkString("\n") + "\n")
    val reqs = RequestCsv.read(spark, path)
    val completed = SimOperator.simulate(reqs, SimConfig(numWorkers = 2)).collect()
    assert(completed.length == 25)
    assert(completed.forall(_.finishTime >= 0))
  }

  test("datagen: deterministic under seed, sorted, bounded values (generate_sample_data.py)") {
    val a = DataGen.generate(spark, 5, 5, seed = 42).collect()
    val b = DataGen.generate(spark, 5, 5, seed = 42).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 25)
    val times = a.map(_.getAs[String]("request_time"))
    assert(times.sorted.toSeq == times.toSeq)
    val procs = a.map(_.getAs[Double]("processing_time"))
    assert(procs.forall(p => p >= 1.0 && p <= 10.0))
    val users = a.map(_.getAs[String]("user_id")).toSet
    assert(users.subsetOf(Set("user_a", "user_b", "user_c", "user_d", "user_e")))
  }

  test("CSV sink round-trip: datagen → writeCsv → RequestCsv.read (S2→S1)") {
    val dir = Files.createTempDirectory("graft_gen").toString + "/out"
    DataGen.writeCsv(DataGen.generate(spark, 4, 6, seed = 9L), dir)
    val back = RequestCsv.read(spark, dir).collect()
    assert(back.length == 24)
    assert(back.forall(r => r.simArrivalTime > 0 && r.processingTime >= 1.0))
  }

  test("documents.doc_id is unique at every SF (precondition of the shared rank tokenizer)") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(dir).isDirectory, s"$dir not present")
      val row = graft.sources.Tables.documents(spark, dir)
        .agg(count(lit(1)), countDistinct(col("doc_id")), count(col("doc_id")))
        .head()
      assert(row.getLong(0) == row.getLong(1), s"$sf: duplicate doc_id")
      assert(row.getLong(0) == row.getLong(2), s"$sf: NULL doc_id")
    }
  }

  test("Tables.table(\"events\") reads the same normalized relation as Tables.events") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val byName = graft.sources.Tables.table(spark, dir, "events")
    val events = graft.sources.Tables.events(spark, dir)
    assert(byName.schema == events.schema)
    assert(byName.exceptAll(events).isEmpty && events.exceptAll(byName).isEmpty)
  }

  test("32-combo grid fan-out ≡ 32 independent full-stream simulations") {
    import spark.implicits._
    val grid = graft.queries.SimQueries.grid32
    assert(grid.size === 32)
    val reqs = graft.sources.EventRequests
      .requests(spark, "/root/testdata/sf0.001").collect().toSeq
    val keyed = grid.keys.toSeq.sorted.flatMap(k => reqs.map(r => (k, r)))
    val fanned = SimOperator
      .simulateScenarios(keyed.toDS(), (k: Int) => grid(k))
      .collect()
      .groupBy(_._1)
      .map { case (k, rows) => k -> rows.map(_._2).toVector }
    val direct = grid.map { case (k, cfg) =>
      k -> graft.sim.SimCore.run(cfg, reqs.iterator).toVector
    }
    assert(fanned.keySet === direct.keySet)
    for (k <- direct.keys) assert(fanned(k) === direct(k), s"scenario $k diverged")
  }

  test("scenario fan-out ≡ independent per-key simulations") {
    import spark.implicits._
    val reqs = (0 until 30).map { i =>
      graft.model.SimRequest(s"u$i", None, 1.0 + i % 5, (i / 3) * 0.5, i.toLong)
    }
    val keyed = reqs.zipWithIndex.map { case (r, i) => (s"k${i % 3}", r) }
    val fanned = SimOperator
      .simulateScenarios(keyed.toDS(), (_: String) => SimConfig(numWorkers = 2))
      .collect()
      .groupBy(_._1)
      .map { case (k, rows) => k -> rows.map(_._2).toVector }
    val direct = keyed.groupBy(_._1).map { case (k, rs) =>
      k -> graft.sim.SimCore.run(SimConfig(numWorkers = 2), rs.map(_._2).iterator).toVector
    }
    assert(fanned == direct)
  }
}
