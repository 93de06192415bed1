package graft

/** Benchmark main: times every declared query at the target scale factor
  * and prints two JSON lines on stdout; it writes no file.
  *
  * One untimed warmup pass (JIT, codegen compilation, parquet footer
  * reads), then TWO timed runs per query with the session state reset
  * between all runs; each query reports the faster timed run, so the
  * measurement reflects achievable steady-state cost, not residual
  * cached intermediates or a one-off GC pause.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=q1_agg,q66_... times a subset
    val queries = SparkEntry.selectedQueries()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.localSession(cpus, None, "ERROR").getOrCreate()

    // Isolation between measurements: beyond the cache, the streaming
    // queries leave per-run debris in the shared JVM — memory-sink temp
    // views (uniquely named, so they only accumulate) and loaded state
    // store providers — which inflates GC pressure for everything timed
    // after them. Release all of it, then let the cleaner actually run.
    def resetSessionState(): Unit = {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect().foreach { t =>
        if (t.isTemporary) spark.catalog.dropTempView(t.name)
      }
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      System.gc()
    }

    // Warmup pass (untimed).
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    resetSessionState()

    val results = queries.map { case (name, fn) =>
      // Two timed runs, keep the faster: a single sample is hostage to a
      // GC pause or a neighboring-process burst; min-of-2 reports the
      // query's achievable steady-state cost. Session state resets
      // between runs so both pay identical (cold-cache) work.
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // Each query pays for (and then releases) its own cached
        // intermediates — later queries must not inherit memory pressure.
        resetSessionState()
        (dt, ok)
      }
      val ok = times.forall(_._2)
      // A failed query reports -1, never a (misleadingly fast) elapsed time.
      (name, if (ok) times.map(_._1).min else -1.0, ok)
    }
    // The driver captures only the LAST ~2000 chars of stdout and parses the
    // JSON line out of that tail; sbt appends an ~80-char "[success]" line
    // after us. Full-precision doubles for 64+ queries made the line ~2450
    // chars, so its head fell outside the tail window and the driver recorded
    // parsed:null (rounds 1-3). Millisecond precision keeps the line ~1450
    // chars — well inside the window — and loses nothing a benchmark needs.
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Short keys ("q78", not "q78_stream_left_outer"): at 81 queries the
    // full-name line crossed the 2000-char tail window and the driver
    // recorded parsed:null (r01-r03 all did). qNN is unique (SURVEY §8
    // maps it back) and keeps the line ~1.1 KB with room to grow.
    def short(name: String): String = name.takeWhile(_ != '_')
    val qs = results.map { case (k, v, _) => "\"" + short(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false) => "\"" + short(k) + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // The driver captures only the last ~2000 chars of stdout (sbt appends an
    // ~80-char "[success]" line after us) and parses the LAST complete JSON
    // line out of that tail. At 378 queries the single combined line is ~5.3 KB
    // — its head (with "value") fell outside the window in r05 (parsed:null).
    // Structural fix: emit the full per-query map on its OWN line first (for
    // humans / logs), then a compact summary line LAST (~150 chars, bounded
    // regardless of catalogue size) so the tail always contains a complete,
    // parseable JSON object with the headline total.
    println(s"""{"metric":"per_query","queries":$qs,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"queries":{"all":${fmt(total)}},"errors":$errors,"sf":"$sfDir"}""")
    spark.stop()
  }
}
