package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graftbridge.SqlBridge

import graft.operators.{Dedup, Winnow}
import graft.sources.Tables

/** r11 hygiene gate: library operators that cache corpus-sized
  * intermediates must release them before returning (cache speed during
  * the computation, zero residual cached partitions after — the pattern
  * that fixed the q243 regression without re-importing the r10 leak).
  * `localCheckpoint` persists live in the RDD layer and are
  * ContextCleaner-collected with their DataFrame, so output-sized
  * checkpoints don't trip the probe.
  */
class CacheHygieneSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def assertNoDfCaches(label: String): Unit =
    assert(SqlBridge.cacheManagerIsEmpty(spark),
      s"$label left DataFrame-level cache entries behind")

  test("ngramJaccardPairs releases its shingle/prefix caches") {
    spark.catalog.clearCache()
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, sfDir))
    assertNoDfCaches("ngramJaccardPairs (eager path)")
    assert(pairs.count() > 0)
    assertNoDfCaches("ngramJaccardPairs (after terminal action)")
  }

  test("containmentPairs releases its shingle cache") {
    spark.catalog.clearCache()
    val pairs = Dedup.containmentPairs(Tables.documents(spark, sfDir))
    assertNoDfCaches("containmentPairs (eager path)")
    assert(pairs.count() > 0)
    assertNoDfCaches("containmentPairs (after terminal action)")
  }

  test("Winnow.overlapPairs leaves no cached partitions") {
    spark.catalog.clearCache()
    val pairs = Winnow.overlapPairs(Tables.documents(spark, sfDir))
    assert(pairs.count() > 0)
    assertNoDfCaches("Winnow.overlapPairs")
  }

  test("the CLI leaves no cached DataFrames behind") {
    spark.catalog.clearCache()
    val f = java.nio.file.Files.createTempFile("graft_cli_cache", ".csv")
    java.nio.file.Files.writeString(f,
      """user_id,request_time,processing_time
        |u1,2023-01-01T00:00:00.000000Z,1.0
        |u2,2023-01-01T00:00:00.500000Z,2.0
        |""".stripMargin)
    val status = Console.withOut(new java.io.ByteArrayOutputStream()) {
      graft.cli.Main.run(spark, Array(f.toString, "-w", "2"))
    }
    assert(status == 0)
    assertNoDfCaches("Main.run")
  }

  /** r12 cost-class guard (SURVEY §7.4): both r10 (q243) and r11 (q57)
    * shipped a cache→localCheckpoint swap that was hygiene-NEUTRAL (the
    * leak probes above stayed green) but 1.7–2.2× SLOWER, and only the
    * next round's bench caught it. This canary times the known-hot
    * operator at sf0.01 against a deliberately generous ceiling — ~8×
    * the observed in-suite floor (~1.5 s), far above any measurement
    * swing but far below the checkpoint-class blowup scaled to a
    * corpus-sized relation. It exists to fail the SAME round a slow
    * materialization swap ships, not to measure performance precisely.
    */
  test("ngramJaccardPairs stays within the recorded cost-class ceiling") {
    // Wall-clock asserts are host-sensitive: on a loaded/slow machine a
    // clean materialization strategy can still blow the ceiling.
    // SPARK_GRAFT_SKIP_TIMING_CANARY=1 downgrades to the leak probe only
    // (for foreign CI hosts); otherwise a first over-ceiling reading gets
    // ONE re-measure before failing — a checkpoint-class regression is
    // 1.7–2.2× and reproduces, a GC pause or neighbor burst does not.
    val skipTiming = sys.env.get("SPARK_GRAFT_SKIP_TIMING_CANARY").contains("1")
    spark.catalog.clearCache()
    // warm: plan + codegen + page cache, so the timed run measures the
    // materialization strategy, not JVM cold start
    Dedup.ngramJaccardPairs(Tables.documents(spark, "/root/testdata/sf0.01"),
      n = 3, threshold = 0.5).count()
    def timedRun(): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = Dedup.ngramJaccardPairs(Tables.documents(spark, "/root/testdata/sf0.01"),
        n = 3, threshold = 0.5).count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val (n, sec0) = timedRun()
    assert(n > 0)
    assertNoDfCaches("ngramJaccardPairs cost-class guard")
    if (!skipTiming) {
      val sec = if (sec0 < 12.0) sec0 else {
        System.err.println(
          f"[canary] first reading $sec0%.1f s exceeded the 12 s ceiling — re-measuring once for flake")
        math.min(sec0, timedRun()._2)
      }
      assert(sec < 12.0,
        f"ngramJaccardPairs(sf0.01, t=0.5) took $sec%.1f s (best of 2) — above " +
          "the 12 s cost-class ceiling (in-suite floor ~1.5 s). If cache()/" +
          "localCheckpoint was touched, see SURVEY §7.4 and the q243/q57 " +
          "bisects; on a known-slow host set SPARK_GRAFT_SKIP_TIMING_CANARY=1.")
    }
  }
}
