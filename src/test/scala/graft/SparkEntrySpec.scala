package graft

import org.scalatest.funsuite.AnyFunSuite

/** The entry layer's two shared pieces: the query selection that `Bench`
  * and `Verify` read from `SPARK_GRAFT_ONLY`, and the local-session recipe
  * every entry point builds its session from.
  */
class SparkEntrySpec extends AnyFunSuite {

  private def names(only: Option[String]) = SparkEntry.select(only).map(_.map(_._1))

  test("the selection is the catalogue in name order, cut to the listed names") {
    assert(names(None) == Right(SparkEntry.queries.keys.toSeq.sorted))
    assert(names(Some(" q86_observe,q1_agg, ")) == Right(Seq("q1_agg", "q86_observe")))
    assert(names(Some("")) == Right(Nil))
  }

  test("unknown names in the selection are reported, never skipped") {
    assert(names(Some("q1_agg,q1_agx,nope")) == Left(Seq("nope", "q1_agx")))
  }

  test("Bench and Verify exit 2 naming an unknown SPARK_GRAFT_ONLY entry, before Spark starts") {
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val out = java.nio.file.Files.createTempDirectory("graft_entry").toString
    for (main <- Seq(Seq("graft.Bench"), Seq("graft.Verify", out, out))) {
      val pb = new ProcessBuilder((Seq(javaBin, "-Xmx1g") ++ opens ++
        Seq("-cp", System.getProperty("java.class.path")) ++ main): _*)
        .redirectInput(ProcessBuilder.Redirect.from(new java.io.File("/dev/null")))
      pb.environment().put("SPARK_GRAFT_ONLY", "q1_agg,q1_agx")
      val p = pb.start()
      val stdout = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val stderr = new String(p.getErrorStream.readAllBytes(), "UTF-8")
      assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(p.exitValue() == 2, s"${main.head}: $stderr")
      assert(stderr.linesIterator.toSeq == Seq("SPARK_GRAFT_ONLY names unknown queries: q1_agx"), stderr)
      assert(stdout.isEmpty, stdout)
    }
  }

  test("the test session is the shared recipe plus the fixture's own settings") {
    val conf = SparkTestSession.spark.conf
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.app.name") == "graft-test")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.log.level") == "WARN")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString == "WARN")
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
  }
}
