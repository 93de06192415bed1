package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.snap

/** Quantile normalization across groups — the batch-effect correction
  * that maps every group's score distribution onto the POOLED reference
  * distribution, so shards scored by different models/configurations
  * become rank-comparable before thresholding (the microarray-era
  * technique, standard for cross-shard quality-score calibration).
  */
object QuantileNorm {

  /** Map each row's value to the pooled distribution's quantile at the
    * row's within-group percent position p = (rank−1)/(n_g−1):
    *
    *   mapped = pooled[⌊pos⌋] + frac·(pooled[⌊pos⌋+1] − pooled[⌊pos⌋]),
    *   pos = p·(N−1)  (np.percentile / quantile_cont interpolation)
    *
    * computed WITHOUT a global sort of the corpus: the pooled order
    * statistics live on the VALUE HISTOGRAM — each distinct value covers
    * the position interval [cum_excl, cum_excl+cnt−1] — and each row's
    * ⌊pos⌋ / ⌊pos⌋+1 lookups are [[RangeJoin.pointInInterval]] binned
    * equi-joins into those intervals. Corpus-sized relations are only
    * ever shuffled by group (the rank window) and by position bin (the
    * lookup); the single ordered window runs on the histogram, which for
    * a bounded score domain is histogram-sized at any corpus scale.
    *
    * Determinism: ranks tie-break on `idCol` (total order), positions
    * are exact integer arithmetic in decimal(38,0) (rank·N products
    * overflow 64-bit at lake scale), interpolation is snapped to the
    * 2⁻³⁰ dyadic grid before the mean (the [[Drift.jsVsRest]] posture),
    * and min/max-after are exact order statistics.
    *
    * Output per group: (group, n, mean_before, mean_after, min_after,
    * max_after).
    */
  def normalize(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valCol: String
  ): DataFrame = {
    val base = df.select(
      col(groupCol).as("grp"),
      col(idCol).as("row_id"),
      col(valCol).cast("double").as("v"))
    val byGroup = Window.partitionBy(col("grp")).orderBy(col("v"), col("row_id"))
    val ranked = base
      .withColumn("rk", row_number().over(byGroup).cast("long"))
      .withColumn("n_g", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val hist = base
      .groupBy(col("v").as("hv"))
      .agg(count(lit(1)).as("cnt"))
      // histogram-sized: consumed by the total and the interval build
      .localCheckpoint()
    val wHist = Window.orderBy(col("hv")).rowsBetween(Window.unboundedPreceding, -1)
    val intervals = hist
      .withColumn("lo_pos", coalesce(sum(col("cnt")).over(wHist), lit(0L)))
      .withColumn("hi_pos", col("lo_pos") + col("cnt") - 1)
      .select(col("hv"), col("lo_pos"), col("hi_pos"))
    val total = hist.agg(sum(col("cnt")).as("n_all"))
    // exact position split: pos = (rk−1)(N−1)/(n_g−1) as floor + remainder;
    // the rank·N product needs decimal(38,0) (overflows 64-bit at lake scale),
    // `div`/`pmod` on decimals keep the split exact
    val posNum = "CAST(rk - 1 AS DECIMAL(38,0)) * CAST(n_all - 1 AS DECIMAL(38,0))"
    val points = ranked
      .crossJoin(broadcast(total))
      .withColumn(
        "fl",
        when(col("n_g") > 1,
          expr(s"CAST(($posNum) div CAST(n_g - 1 AS DECIMAL(38,0)) AS BIGINT)")).otherwise(0L))
      .withColumn(
        "fnum",
        when(col("n_g") > 1,
          expr(s"CAST(pmod($posNum, CAST(n_g - 1 AS DECIMAL(38,0))) AS BIGINT)")).otherwise(0L))
      .withColumn("fden", when(col("n_g") > 1, col("n_g") - 1).otherwise(1L))
      .select(col("grp"), col("row_id"), col("v"), col("fl"), col("fnum"), col("fden"))
    val binSize = RangeJoin.autoBinSize(intervals, "lo_pos", "hi_pos")
    val lo = RangeJoin
      .pointInInterval(points.withColumn("pp", col("fl")), intervals, "pp", "lo_pos", "hi_pos", binSize)
      .select(col("grp"), col("row_id"), col("v"), col("fnum"), col("fden"), col("hv").as("v_lo"))
    val needHi = points.filter(col("fnum") > 0).withColumn("pp", col("fl") + 1)
    val hi = RangeJoin
      .pointInInterval(needHi, intervals, "pp", "lo_pos", "hi_pos", binSize)
      .select(col("row_id").as("hi_id"), col("hv").as("v_hi"))
    val mapped = lo
      .join(hi, col("row_id") === col("hi_id"), "left")
      .withColumn(
        "mapped",
        snap(
          col("v_lo") +
            (col("fnum").cast("double") / col("fden").cast("double")) *
            (coalesce(col("v_hi"), col("v_lo")) - col("v_lo"))))
    mapped
      .groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("v")), 6).as("mean_before"),
        round(avg(col("mapped")), 6).as("mean_after"),
        round(min(col("mapped")), 6).as("min_after"),
        round(max(col("mapped")), 6).as("max_after"))
      .withColumnRenamed("grp", groupCol)
  }
}
