package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes `perfbench/lake/goldens.tsv`: row count and row digest of each
  * lake_curation query over the lake. Run from the checkout root after a
  * benchmark build, when the lake or the query mix changes:
  *
  * {{{
  * java <flags from .bench_build/launch.txt> -cp <classpath> perfbench.LakeGoldens
  * }}}
  *
  * Cross-check the outputs against the DuckDB oracle with
  * `scripts/subset_verify.sh` before committing new goldens.
  */
object LakeGoldens {
  def main(args: Array[String]): Unit = {
    val lake = Paths.get("perfbench", "lake").toAbsolutePath
    val spark = Bench.session(math.min(4, Runtime.getRuntime.availableProcessors), Paths.get(".bench_build").toAbsolutePath)
    try {
      val lines = LakeCuration.Queries.map { q =>
        val rows = graft.SparkEntry.queries(q)(spark, lake.toString).collect()
        LakeCuration.resetSession(spark)
        s"$q\t${rows.length}\t${LakeCuration.digest(rows)}"
      }
      val header = "# query\trows\tdigest (LakeCuration.digest); written by perfbench.LakeGoldens"
      Files.write(lake.resolve(LakeCuration.GoldensFile),
        (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      lines.foreach(println)
    } finally spark.stop()
  }
}
