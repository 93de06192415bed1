package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.snap

/** Isotonic (monotone non-decreasing) regression over score bins — the
  * calibration step between a raw model score and a usable probability
  * (Zadrozny & Elkan '02 use PAVA; sklearn's IsotonicRegression is the
  * same fit). PAVA itself is an inherently sequential pool-adjacent-
  * violators sweep, but the FIT it produces has a closed relational
  * form, the minimax identity:
  *
  *   fit(i) = max_{j ≤ i} min_{k ≥ i} avg(j..k)
  *
  * where avg(j..k) is the weighted mean of the raw rates over the bin
  * interval [j, k]. The engine evaluates it as:
  *
  *   1. one keyed aggregate: per-bin (weight, positives);
  *   2. prefix sums over the BIN table (model-sized: B rows, one
  *      single-partition window over B = O(20) rows — never over data);
  *   3. the triangular (j ≤ k) self-join producing every interval
  *      average from two prefix rows — exact integer differences, one
  *      divide, snapped to the 2⁻³⁰ grid;
  *   4. the (j ≤ i ≤ k) band join + min/max aggregates.
  *
  * All O(B³) work happens on the B-row bin table (8 000 rows at B=20),
  * after the data-sized input has been reduced by step 1 — the same
  * "aggregate first, model-sized DP after" shape as
  * [[graft.operators.Jenks]]. Snapping makes every interval average a
  * dyadic rational, so min/max comparisons and the final fit replay
  * identically in the oracle.
  *
  * Output: (bin, n, n_pos, raw_rate, iso_rate) — iso_rate is
  * non-decreasing in bin (the defining property; IsotonicSpec asserts
  * it and the pooled-average equality on violator runs).
  */
object Isotonic {

  /** Isotonic fit of P(label | bin) as a function of the integer bin.
    *
    * @param df       input rows
    * @param binCol   integer-valued bin expression (the score bucket)
    * @param labelCol 0/1 label expression
    */
  def isotonicRates(df: DataFrame, binCol: Column, labelCol: Column): DataFrame = {
    val bins = df
      .select(binCol.cast("long").as("bin"), labelCol.cast("long").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("w"), sum(col("y")).as("s"))
    // Prefix sums over the B-row bin table: single-partition window is
    // deliberate (B is model-sized; the data-sized scan already reduced).
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val pre = bins
      .select(
        col("bin"), col("w"), col("s"),
        sum(col("w")).over(wCum).as("cw"),
        sum(col("s")).over(wCum).as("cs"))
      .localCheckpoint()
    // Every interval average from two prefix rows: avg(j..k) =
    // (cs_k - cs_j + s_j) / (cw_k - cw_j + w_j), exact integers upstairs.
    val j = pre.select(
      col("bin").as("j"), col("w").as("wj"), col("s").as("sj"),
      col("cw").as("cwj"), col("cs").as("csj"))
    val k = pre.select(col("bin").as("k"), col("cw").as("cwk"), col("cs").as("csk"))
    val intervals = j
      .join(k, col("j") <= col("k"))
      .select(
        col("j"), col("k"),
        snap((col("csk") - col("csj") + col("sj")).cast("double") /
          (col("cwk") - col("cwj") + col("wj"))).as("a"))
    val i = pre.select(col("bin").as("i"))
    val fit = intervals
      .join(i, col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j"))
      .agg(min(col("a")).as("mn"))
      .groupBy(col("i"))
      .agg(max(col("mn")).as("iso"))
    bins
      .join(fit, bins("bin") === fit("i"))
      .select(
        col("bin"), col("w").as("n"), col("s").as("n_pos"),
        round(col("s").cast("double") / col("w"), 6).as("raw_rate"),
        round(col("iso"), 6).as("iso_rate"))
  }
}
