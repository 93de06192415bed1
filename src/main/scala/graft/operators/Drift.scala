package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.snap

/** Distribution-drift and robust-outlier monitoring — the checks a
  * training pipeline runs per ingest shard before letting new data near
  * the corpus mix. Both are exact and relational: ECDFs are window
  * cumsums over value counts (never a per-row sort collect), robust
  * centers are exact percentiles.
  */
object Drift {

  /** Two-sample Kolmogorov–Smirnov statistic of every group AGAINST THE
    * REST of the corpus: D_g = max_v |F_g(v) − F_rest(v)| — "which shard
    * drifted?", answered exactly.
    *
    * Shape: value counts per (group, v) — the partial-aggregated
    * histogram, tiny after map-side combine — zero-filled onto the
    * groups × distinct-values grid so every jump point of EITHER ECDF is
    * evaluated, then one window cumsum per group. The grid is
    * |groups| · |distinct v| rows: for a bounded numeric feature this is
    * histogram-sized, not corpus-sized, at any scale (quantize v first
    * if truly continuous).
    *
    * Output per group: (group, n, ks_vs_rest).
    */
  def ksVsRest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // Materialized once (histogram-sized): three consumers below (group
    // totals, value totals, the grid join) would otherwise each re-scan
    // the corpus — exchange reuse does not collapse them.
    val counts = df
      .groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val groups = counts
      .groupBy(col(groupCol))
      .agg(sum(col("c")).as("n_g"))
    val values = counts
      .groupBy(col("v"))
      .agg(sum(col("c")).as("c_all"))
    val grandTotal = values.agg(sum(col("c_all")).as("n_all"))
    val grid = groups
      .crossJoin(broadcast(grandTotal))
      // hint-free: the value grid is DISTINCT-VALUE-keyed (unbounded at
      // corpus scale — every distinct length/token); the group side is the
      // dimension-sized one, and AQE broadcasts it from runtime sizes
      .crossJoin(values)
      .join(counts, Seq(groupCol, "v"), "left")
      .na.fill(0L, Seq("c"))
    val byGroup = Window
      .partitionBy(col(groupCol))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_g", sum(col("c")).over(byGroup))
      .withColumn("cum_all", sum(col("c_all")).over(byGroup))
      .groupBy(col(groupCol))
      .agg(
        first(col("n_g")).as("n"),
        round(
          max(abs(
            col("cum_g") / col("n_g") -
              (col("cum_all") - col("cum_g")) / (col("n_all") - col("n_g")))),
          6).as("ks_vs_rest"))
  }

  /** Robust outlier detection per group: exact median and MAD (median
    * absolute deviation), flagging rows beyond 3 robust sigmas
    * (MAD · 1.4826 ≈ σ under normality). Two aggregate passes over the
    * value column with the group medians broadcast back between them —
    * the canonical shape; no global sort, no per-group collect.
    *
    * Output per group: (group, n, med, mad, n_outliers).
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val med = df
      .groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    // Hint-free: the per-group relation's cardinality is data-dependent
    // (groupCol is caller-chosen) — AQE picks the build side at runtime.
    val withAdev = df
      .join(med, Seq(groupCol))
      .withColumn("adev", abs(v - col("med")))
    val stats = withAdev
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        first(col("med")).as("med"),
        expr("percentile(adev, 0.5)").as("mad"))
    // Conditional sum (not filter-then-count) so clean groups report 0.
    // Threshold compares against the UNROUNDED mad; rounding is
    // output-only.
    withAdev
      .select(col(groupCol), col("adev"))
      .join(stats, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        first(col("n")).as("n"),
        round(first(col("med")), 6).as("med"),
        round(first(col("mad")), 6).as("mad"),
        sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** SEASONAL anomaly detection on an event stream: hourly counts per
    * (type, day, hour) scored against the same-hour-of-day baseline
    * across days — the "is 3am Tuesday unusually hot for 3am" check a
    * monitoring pipeline runs, where a global mean would drown the
    * diurnal cycle. Flags |z| > `zThresh` given ≥ `minDays` of history
    * and nonzero spread.
    *
    * σ comes from EXACT integer sums (n, Σc, Σc²) rather than a
    * stddev aggregate: the inputs are integers, so μ and σ are single
    * fixed-association double expressions — bit-identical across
    * engines and partitionings, where engine-internal variance
    * accumulators are not. Two keyed aggregates, baseline broadcast
    * back; the corpus is touched once.
    */
  def seasonalAnomalies(
      events: DataFrame,
      zThresh: Double = 2.0,
      minDays: Int = 3
  ): DataFrame = {
    val hourly = events
      .groupBy(
        col("event_type"),
        to_date(col("ts")).as("day"),
        hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("cnt"))
    val base = hourly
      .groupBy(col("event_type"), col("hr"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))
      .select(
        col("event_type"), col("hr"), col("n_days"),
        (col("s1").cast("double") / col("n_days")).as("mu"),
        sqrt(
          (col("s2") - col("s1").cast("double") / col("n_days") * col("s1")) /
            (col("n_days") - 1)).as("sigma"))
    val z = (col("cnt") - col("mu")) / col("sigma")
    hourly
      // hint-free keyed equi-join: (event_type, hr) cardinality is
      // data-dependent; AQE resolves the build side
      .join(base, Seq("event_type", "hr"))
      .filter(col("n_days") >= minDays && col("sigma") > 0 && abs(z) > zThresh)
      .select(
        col("event_type"), col("day"), col("hr").cast("int").as("hr"), col("cnt"),
        round(col("mu"), 6).as("mu"),
        round(col("sigma"), 6).as("sigma"),
        round(z, 6).as("z"))
  }

  /** Jensen–Shannon divergence of every group's value distribution
    * AGAINST THE REST of the corpus — the bounded, symmetric drift score
    * (0 ≤ JS ≤ ln 2) a mixture pipeline tracks per source: unlike KL it
    * never blows up on vocabulary the other side lacks, so it is the
    * standard "did this source's token mix move?" metric.
    *
    * Same relational shape as [[ksVsRest]]: per-(group, v) counts —
    * partial-aggregated, histogram-sized — joined onto the groups ×
    * distinct-v grid with zero fill; JS = 0.5·Σ p·ln(p/m) + 0.5·Σ
    * q·ln(q/m) with m=(p+q)/2, zero-count terms contributing 0. Every
    * per-cell addend is snapped to a 2⁻³⁰ dyadic grid BEFORE the sum, so
    * the aggregate is an exact integer-like fold — order-insensitive
    * across partitionings and engines; only a last-ulp `ln` difference
    * AT a grid boundary could flip a cell (the [[graft.operators.Graph]]
    * quantization posture).
    */
  def jsVsRest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val counts = df
      .groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val groups = counts.groupBy(col(groupCol)).agg(sum(col("c")).as("n_g"))
    val values = counts.groupBy(col("v")).agg(sum(col("c")).as("c_all"))
    val grandTotal = values.agg(sum(col("c_all")).as("n_all"))
    val grid = groups
      .crossJoin(broadcast(grandTotal))
      // hint-free: the value grid is DISTINCT-VALUE-keyed (unbounded at
      // corpus scale — every distinct length/token); the group side is the
      // dimension-sized one, and AQE broadcasts it from runtime sizes
      .crossJoin(values)
      .join(counts, Seq(groupCol, "v"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("rest_c", col("c_all") - col("c"))
      .withColumn("rest_n", col("n_all") - col("n_g"))
    val p = col("c").cast("double") / col("n_g")
    val q = col("rest_c").cast("double") / col("rest_n")
    val m = (p + q) / lit(2.0)
    grid
      .withColumn("add_p",
        when(col("c") > 0, snap(p * log(p / m))).otherwise(lit(0.0)))
      .withColumn("add_q",
        when(col("rest_c") > 0, snap(q * log(q / m))).otherwise(lit(0.0)))
      .groupBy(col(groupCol))
      .agg(
        first(col("n_g")).as("n"),
        round((sum(col("add_p")) + sum(col("add_q"))) / 2.0, 6).as("js_vs_rest"))
  }

  /** Benjamini–Hochberg FDR control over the per-group KS drift tests:
    * "which shards drifted, with the false-discovery rate held at α?" —
    * the multiple-testing discipline a per-ingest drift monitor needs
    * once it watches hundreds of shards (α per test would alarm
    * constantly; Bonferroni would never fire).
    *
    * p-values from the asymptotic KS null Q(λ) = 2Σ(−1)^{j−1}e^{−2j²λ²}
    * truncated at j=3 (error < e⁻³²λ⁶-ish, far under the 6-decimal
    * output grid for any λ the test can reject at), with
    * λ = D·√(n_g·n_rest/N); each exponential term snaps to the 2⁻³⁰
    * dyadic grid so p is engine-exact. BH step-up: rank p ascending
    * (group tie-break), k* = max{i : p_i ≤ i·α/m}, reject ranks ≤ k*.
    *
    * Everything after [[ksVsRest]] is group-count-sized — the ordered
    * rank window runs on m rows, never the corpus.
    *
    * Output per group: (group, n, ks_vs_rest, p_value, p_rank, rejected).
    */
  def bhFdrKs(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      alpha: Double = 0.05
  ): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    val ks = ksVsRest(df, groupCol, valueCol).localCheckpoint()
    val tot = ks.agg(sum(col("n")).as("n_all"), count(lit(1)).as("m"))
    val lam2 = col("lam") * col("lam")
    val withP = ks
      .crossJoin(broadcast(tot))
      .withColumn(
        "lam",
        col("ks_vs_rest") *
          sqrt(col("n").cast("double") * (col("n_all") - col("n")).cast("double") /
            col("n_all").cast("double")))
      .withColumn(
        "p_value",
        least(lit(1.0), greatest(lit(0.0),
          lit(2.0) * (snap(exp(lit(-2.0) * lam2)) - snap(exp(lit(-8.0) * lam2)) +
            snap(exp(lit(-18.0) * lam2))))))
    val wRank = Window.orderBy(col("p_value"), col(groupCol))
    val ranked = withP
      .withColumn("p_rank", row_number().over(wRank).cast("long"))
      .withColumn(
        "pass",
        when(col("p_value") <= col("p_rank").cast("double") * alpha / col("m").cast("double"),
          col("p_rank")).otherwise(0L))
      .localCheckpoint() // m rows; consumed by the k* agg and the output
    val kStar = ranked.agg(max(col("pass")).as("k_star"))
    ranked
      .crossJoin(broadcast(kStar))
      .select(
        col(groupCol),
        col("n"),
        col("ks_vs_rest"),
        round(col("p_value"), 6).as("p_value"),
        col("p_rank"),
        (col("p_rank") <= col("k_star")).as("rejected"))
  }

  /** Per-group Gini coefficient — the concentration/inequality measure
    * ("is this shard's value mass owned by a few rows?"): with the
    * group's values as integer `scale`-ths c_(1) ≤ … ≤ c_(n),
    *
    *   G = (2·Σ i·c_(i) − (n+1)·Σc) / (n·Σc)
    *
    * — EVERYTHING integer (values are fixed-point by contract, ranks
    * are a total order with `idCol` tie-break), so the single division
    * is exact-over-exact at any partitioning. One group-keyed window +
    * one agg; no pairwise |x_i−x_j| join (the naive O(n²) definition).
    *
    * Values must be non-negative fixed-point with ≤ log10(scale)
    * decimals (exact under `round(v·scale)`); G is NULL for a group
    * with zero total.
    *
    * Output per group: (group, n, gini).
    */
  def giniByGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valueCol: String,
      scale: Int = 100
  ): DataFrame = {
    require(scale > 0, "scale must be positive")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("c"), col(idCol))
    df.select(
        col(groupCol),
        col(idCol),
        expr(s"CAST(round($valueCol * $scale) AS BIGINT)").as("c"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("c")).as("sc"),
        sum(col("i") * col("c")).as("sic"))
      .select(
        col(groupCol),
        col("n"),
        when(col("sc") =!= 0L,
          round(
            (lit(2L) * col("sic") - (col("n") + 1) * col("sc")).cast("double") /
              (col("n") * col("sc")).cast("double"),
            6)).as("gini"))
  }
}
