package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.{snap, snapD}

/** Per-key time-series smoothing. The engine's other temporal tools are
  * calendar-shaped (gap fill, seasonal baselines in [[Drift]]); this one
  * is the classic signal smoother a metrics pipeline runs before
  * thresholding noisy per-entity series.
  */
object Timeseries {

  /** TRUNCATED NORMALIZED EWMA over each key's ordered series:
    *
    *   ewma_t = Σ_{k=0..L-1} (1-α)^k · x_{t-k}  /  Σ_{k=0..L-1} (1-α)^k
    *
    * (pandas `ewm(alpha).mean()` with `adjust=True` restricted to the
    * last L observations). Truncation is what makes it lake-scale: the
    * exact recursive form needs an unbounded running state per key,
    * while the L-term kernel is a bounded sliding window — with
    * (1-α)^L below 1e-2 the difference is under the smoothing noise
    * floor, and each row's work is a fixed L-element fold.
    *
    * One shuffle (key partition); the fold runs on the window's
    * collected slice row-locally. Doubles are folded in ascending-time
    * order on both engines and rounded to 6 places — the documented
    * ordered-fold parity posture for ≲1000-term chains.
    *
    * `ordCols` must be a total order within each key (ambiguous ties
    * would make the window slice — and thus the fold — nondeterministic
    * under retries).
    *
    * Output: input columns + ewma.
    */
  def ewma(
      df: DataFrame,
      keyCols: Seq[String],
      ordCols: Seq[String],
      valCol: String,
      alpha: Double,
      window: Int
  ): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    require(window > 0, "window must be positive")
    val beta = 1.0 - alpha
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(ordCols.map(col): _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val weighted =
      s"aggregate(transform(__arr, (x, j) -> x * pow($beta, size(__arr) - 1 - j)), 0d, (a, b) -> a + b)"
    val weights =
      s"aggregate(transform(__arr, (x, j) -> pow($beta, size(__arr) - 1 - j)), 0d, (a, b) -> a + b)"
    df.withColumn("__arr", collect_list(col(valCol)).over(w))
      .withColumn("ewma", round(expr(weighted) / expr(weights), 6))
      .drop("__arr")
  }

  private val HourUs = 3600000000L

  /** Hourly count series with zero-filled gaps, indexed 0..n−1 from the
    * corpus' first hour. Exact µs integer arithmetic throughout; the
    * series length is bounded by the corpus TIME SPAN, not its row
    * count, so everything downstream of this agg is histogram-sized.
    */
  private def hourlySeries(events: DataFrame): DataFrame = {
    val cnt = events
      .select(expr(s"unix_micros(ts) div $HourUs").as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("x"))
      // histogram-sized; two consumers (bounds + grid join) would each
      // re-scan the events otherwise (the Drift.ksVsRest posture)
      .localCheckpoint()
    val bounds = cnt.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
    bounds
      .select(col("mn"), explode(sequence(col("mn"), col("mx"))).as("h"))
      .join(cnt, Seq("h"), "left")
      .select((col("h") - col("mn")).as("idx"), coalesce(col("x"), lit(0L)).as("x"))
  }

  /** Exact sample autocorrelation of the hourly event-count series at
    * lags 1..`maxLag`:
    *
    *   r_k = Σ_{t<n−k} (x_t−m)(x_{t+k}−m) / Σ_t (x_t−m)²,  m = Σx/n
    *
    * evaluated ENTIRELY in integer arithmetic — multiply through by n²:
    *
    *   r_k = (n²·Σx_t·x_{t+k} − n·S·(ΣheadX + ΣtailX) + (n−k)·S²)
    *         / (n·(n·Σx² − S²))
    *
    * so the result is a ratio of two exact longs (order-insensitive, no
    * float-sum drift; magnitudes stay under 2⁶³ for any month-scale
    * hourly series) cast once and rounded. The lag pairing is an
    * EQUI-join: each series row explodes into its `maxLag` forward
    * probes (idx+k) instead of a `BETWEEN` θ-join, so the plan is a hash
    * join on a histogram-sized relation at any corpus scale.
    *
    * Output: (lag, n_pairs, acf).
    */
  def acfHourly(events: DataFrame, maxLag: Int = 12): DataFrame = {
    require(maxLag > 0, "maxLag must be positive")
    val series = hourlySeries(events)
    val totals = series.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("sxx"))
    val probes = series
      .select(col("idx"), col("x").as("xa"))
      .withColumn("k", explode(expr(s"sequence(1, $maxLag)")))
      .withColumn("idx2", col("idx") + col("k"))
    probes
      .join(series.select(col("idx").as("idx2"), col("x").as("xb")), Seq("idx2"))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("xa") * col("xb")).as("sxy"),
        sum(col("xa")).as("sa"),
        sum(col("xb")).as("sb"))
      .crossJoin(broadcast(totals))
      .select(
        col("k").cast("long").as("lag_h"),
        col("n_pairs"),
        round(
          (col("n") * col("n") * col("sxy") - col("n") * col("s") * (col("sa") + col("sb")) +
            (col("n") - col("k")) * col("s") * col("s")).cast("double") /
            (col("n") * (col("n") * col("sxx") - col("s") * col("s"))).cast("double"),
          6).as("acf"))
  }

  /** Cross-correlation between TWO event types' hourly count series at
    * lags −`maxLag`..+`maxLag` — the lead/lag screen ("do clicks lead
    * purchases, and by how many hours?"). Same all-integer posture as
    * [[acfHourly]]: on the shared zero-filled grid, with Sx/Sy/Sxx/Syy
    * full-series sums and per-lag pair sums,
    *
    *   r_k = (n²·Σx_t·y_{t+k} − n·Sy·Σx_head − n·Sx·Σy_tail + cnt_k·Sx·Sy)
    *         / (n·√((n·Sxx−Sx²)·(n·Syy−Sy²)))
    *
    * numerator exact in longs; the denominator multiplies two exact
    * (<2⁵³) casts once in double — deterministic. Lag pairing is the
    * explode-probe equi-join, never a BETWEEN θ-join.
    *
    * Output: (lag_h, n_pairs, ccf) — positive lag means `typeA` at t
    * pairs with `typeB` at t+lag (A leads B).
    */
  def ccfHourly(
      events: DataFrame,
      typeA: String,
      typeB: String,
      maxLag: Int = 12
  ): DataFrame = {
    require(maxLag > 0, "maxLag must be positive")
    val cnt = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), expr(s"unix_micros(ts) div $HourUs").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
      // histogram-sized; consumed by bounds + two grid joins
      .localCheckpoint()
    val bounds = cnt.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
    val grid = bounds
      .select(col("mn"), explode(sequence(col("mn"), col("mx"))).as("h"))
      .join(cnt.filter(col("event_type") === typeA).select(col("h"), col("c").as("xa")), Seq("h"), "left")
      .join(cnt.filter(col("event_type") === typeB).select(col("h"), col("c").as("yb")), Seq("h"), "left")
      .select(
        (col("h") - col("mn")).as("idx"),
        coalesce(col("xa"), lit(0L)).as("x"),
        coalesce(col("yb"), lit(0L)).as("y"))
      .localCheckpoint()
    val totals = grid.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val probes = grid
      .select(col("idx"), col("x"))
      .withColumn("k", explode(expr(s"sequence(${-maxLag}, $maxLag)")))
      .withColumn("idx2", col("idx") + col("k"))
    probes
      .join(grid.select(col("idx").as("idx2"), col("y")), Seq("idx2"))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x")).as("sxh"),
        sum(col("y")).as("syt"))
      .crossJoin(broadcast(totals))
      .withColumn("dxx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dyy", col("n") * col("syy") - col("sy") * col("sy"))
      .select(
        col("k").cast("long").as("lag_h"),
        col("n_pairs"),
        // NULL for a zero-variance series (constant counts) — the
        // correlation is undefined there, and ANSI division would throw
        when(col("dxx") =!= 0L && col("dyy") =!= 0L,
          round(
            (col("n") * col("n") * col("sxy") - col("n") * col("sy") * col("sxh") -
              col("n") * col("sx") * col("syt") + col("n_pairs") * col("sx") * col("sy"))
              .cast("double") /
              (col("n").cast("double") *
                sqrt(col("dxx").cast("double") * col("dyy").cast("double"))),
            6)).as("ccf"))
  }

  /** Theil–Sen robust slope of the hourly count series: the exact
    * median of all pairwise slopes (x_j−x_i)/(j−i), i<j — the
    * breakdown-point-0.29 trend estimate OLS can't give. The pair set is
    * SERIES², which is span-bounded (the hourly grid), so full
    * enumeration is a fixed explode fan-out at any corpus scale — never
    * corpus². Median uses the exact interpolating percentile (the q3
    * np.percentile parity).
    *
    * Output: one row (n_pairs, slope_median).
    */
  def theilSenSlope(events: DataFrame): DataFrame = {
    val series = hourlySeries(events).localCheckpoint()
    val n = series.agg(max(col("idx")).as("mxi"))
    val pairs = series
      .crossJoin(broadcast(n))
      .filter(col("idx") < col("mxi"))
      .withColumn("j", explode(sequence(col("idx") + 1, col("mxi"))))
      .select(col("idx"), col("x"), col("j"))
      .join(series.select(col("idx").as("j"), col("x").as("xj")), Seq("j"))
      .select(((col("xj") - col("x")).cast("double") / (col("j") - col("idx")).cast("double")).as("slope"))
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      round(expr("percentile(slope, 0.5)"), 6).as("slope_median"))
  }

  /** Single change-point detection on the hourly event-count series via
    * the maximum-CUSUM statistic: the split s (last index of the left
    * segment) maximizing |n·P_s − (s+1)·S| where P_s is the prefix sum —
    * the scaled distance between the observed prefix and the
    * homogeneous-rate expectation. Pure integer arithmetic, so the
    * argmax is exact and the smallest-s tie-break is total.
    *
    * The prefix window runs on the zero-filled hourly histogram
    * (span-bounded, see [[acfHourly]]) — never on raw events.
    *
    * Output: one row (split_idx, split_hour_ts, stat, left_mean,
    * right_mean) — means are exact integer ratios rounded to 6.
    */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val cnt = events
      .select(expr(s"unix_micros(ts) div $HourUs").as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("x"))
      // histogram-sized; two consumers (bounds + grid join) would each
      // re-scan the events otherwise (the Drift.ksVsRest posture)
      .localCheckpoint()
    val bounds = cnt.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
    val series = bounds
      .select(col("mn"), explode(sequence(col("mn"), col("mx"))).as("h"))
      .join(cnt, Seq("h"), "left")
      .select(col("mn"), (col("h") - col("mn")).as("idx"), coalesce(col("x"), lit(0L)).as("x"))
    val totals = series.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val wIncl = Window.orderBy(col("idx")).rowsBetween(Window.unboundedPreceding, 0)
    val wPick = Window.orderBy(col("stat").desc, col("idx").asc)
    series
      .withColumn("p", sum(col("x")).over(wIncl))
      .crossJoin(broadcast(totals))
      .filter(col("idx") < col("n") - 1) // both segments non-empty
      .withColumn("stat", abs(col("n") * col("p") - (col("idx") + 1) * col("s")))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(
        col("idx").as("split_idx"),
        timestamp_micros((col("mn") + col("idx")) * HourUs).as("split_hour_ts"),
        col("stat"),
        round(col("p").cast("double") / (col("idx") + 1).cast("double"), 6).as("left_mean"),
        round(
          (col("s") - col("p")).cast("double") / (col("n") - col("idx") - 1).cast("double"),
          6).as("right_mean"))
  }

  /** Per-group OLS trend of the hourly count series: for each group the
    * slope/intercept/R² of count-vs-hour-index on the SHARED zero-filled
    * hour grid (so every group sees the same x axis and quiet hours
    * count as zeros, not missing). Closed forms over exact integer sums:
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    *   R²        = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))
    *
    * The three difference terms are exact longs (< 2⁵³, so their one
    * double cast is value-preserving); R² squares the CAST differences —
    * a single IEEE multiply, deterministic — because squaring first
    * would overflow 64-bit at month-scale grids.
    *
    * Output per group: (group, n_hours, slope, intercept, r2); r2 NULL
    * for a constant series (zero variance on either axis).
    */
  def linregHourlyTrend(events: DataFrame, groupCol: String): DataFrame = {
    val cnt = events
      .select(col(groupCol), expr(s"unix_micros(ts) div $HourUs").as("h"))
      .groupBy(col(groupCol), col("h"))
      .agg(count(lit(1)).as("y"))
      // three consumers: bounds, the distinct group list, the grid join
      .localCheckpoint()
    val bounds = cnt.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
    val hourGrid = bounds.select(col("mn"), explode(sequence(col("mn"), col("mx"))).as("h"))
    val groups = cnt.select(col(groupCol)).distinct()
    val grid = groups
      .crossJoin(broadcast(hourGrid))
      .join(cnt, Seq(groupCol, "h"), "left")
      .select(
        col(groupCol),
        (col("h") - col("mn")).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    grid
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("dxy", (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("dxx", (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("dyy", (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
      .select(
        col(groupCol),
        col("n").as("n_hours"),
        when(col("dxx") =!= 0.0, round(col("dxy") / col("dxx"), 6)).as("slope"),
        when(col("dxx") =!= 0.0,
          round(
            (col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") / col("dxx"),
            6)).as("intercept"),
        when(col("dxx") =!= 0.0 && col("dyy") =!= 0.0,
          round(col("dxy") * col("dxy") / (col("dxx") * col("dyy")), 6)).as("r2"))
  }

  /** Non-negative clamped running balance via the reflecting-barrier
    * identity: the sequential recurrence L_t = max(0, L_{t−1} + net_t)
    * equals L_t = S_t − min(0, min_{s≤t} S_s) on plain cumulative sums
    * S — so the "un-parallelizable" inventory fold is two window
    * passes, exact in integers, at any per-key history length.
    *
    * Input: `flows(key, day, dnet)` (one row per key×day). Output:
    * (key, n_days, final_raw, final_level, peak_level).
    */
  def clampedBalance(flows: DataFrame): DataFrame = {
    val wCum = Window.partitionBy(col("key")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    flows
      .withColumn("s_cum", sum(col("dnet")).over(wCum))
      .withColumn("m_cum", min(col("s_cum")).over(wCum))
      .withColumn("level", col("s_cum") - least(lit(0L), col("m_cum")))
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("n_days"),
        expr("max_by(s_cum, day)").as("final_raw"),
        expr("max_by(level, day)").as("final_level"),
        max(col("level")).as("peak_level"))
  }

  /** Two-state burst detection on the hourly count series — the
    * Kleinberg burst model in its batched form: a baseline state with
    * Poisson rate λ₀ = mean and a burst state at λ₁ = `scale`·λ₀, a
    * one-time escalation penalty γ = ln T, and the minimum-cost state
    * path by min-sum Viterbi. Decoding uses forward AND backward DP
    * (best(t,i) = F_t(i) + B_t(i); argmin per t, ties → baseline), so
    * each hour's state is on a globally optimal path.
    *
    * Determinism: every emission cost and the escalation penalty are
    * snapped to the 2⁻³⁰ grid BEFORE accumulation; DP values are sums
    * of ≤ T such dyadics (integer part < 2¹⁷ for any month-scale
    * series), hence exact in double in any order — argmin decisions
    * replay bit-identically, including in a relational oracle that
    * runs the same DP as a recursive CTE.
    *
    * Scale shape: the DP runs on the DRIVER over the hourly histogram
    * (bounded by time span, not corpus size — the k-means/Markov
    * bounded-model-state posture); corpus-sized work is the one
    * hourly count aggregation.
    *
    * Output: (state, n_hours, n_episodes, total_events) — an episode
    * is a maximal run of the state.
    */
  def burstViterbi(events: DataFrame, scale: Double = 3.0): DataFrame = {
    require(scale > 1.0, "burst rate must exceed baseline")
    val spark = events.sparkSession
    val series = hourlySeries(events).orderBy(col("idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val t = series.length
    require(t >= 1, "empty series")
    val total = series.map(_._2).sum
    val lam0 = total.toDouble / t.toDouble
    val lam1 = scale * lam0
    val gamma = snapD(math.log(t.toDouble))
    def emit(i: Int, x: Long): Double = {
      val l = if (i == 0) lam0 else lam1
      snapD(l - x.toDouble * math.log(l))
    }
    // forward: F_t(i); switching 0->1 costs gamma, 1->0 free
    val f = Array.ofDim[Double](t, 2)
    f(0)(0) = emit(0, series(0)._2)
    f(0)(1) = emit(1, series(0)._2) + gamma
    for (k <- 1 until t; i <- 0 to 1) {
      val pen0 = f(k - 1)(0) + (if (i == 1) gamma else 0.0)
      val pen1 = f(k - 1)(1)
      f(k)(i) = emit(i, series(k)._2) + math.min(pen0, pen1)
    }
    // backward: B_t(i) = min over next-state j of pen(i->j) + emit_j(t+1) + B_{t+1}(j)
    val b = Array.ofDim[Double](t, 2)
    for (k <- t - 2 to 0 by -1; i <- 0 to 1) {
      val to0 = emit(0, series(k + 1)._2) + b(k + 1)(0)
      val to1 = (if (i == 0) gamma else 0.0) + emit(1, series(k + 1)._2) + b(k + 1)(1)
      b(k)(i) = math.min(to0, to1)
    }
    val states = series.indices.map { k =>
      val c0 = f(k)(0) + b(k)(0)
      val c1 = f(k)(1) + b(k)(1)
      (series(k)._1, if (c1 < c0) 1L else 0L, series(k)._2)
    }
    import spark.implicits._
    val st = states.toDF("idx", "state", "x")
    val wOrd = Window.orderBy(col("idx"))
    st
      .withColumn("prev", lag(col("state"), 1).over(wOrd))
      .withColumn("brk", when(col("prev").isNull || col("prev") =!= col("state"), 1L)
        .otherwise(0L))
      .withColumn("ep", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("state"))
      .agg(
        count(lit(1)).as("n_hours"),
        countDistinct(col("ep")).as("n_episodes"),
        sum(col("x")).as("total_events"))
  }

  /** Un-normalized Haar wavelet energy spectrum of the hourly count
    * series: at each dyadic level k (block size 2^k), the detail
    * coefficient of block j is
    *
    *   d_{k,j} = Σ x over the block's FIRST half − Σ over its SECOND
    *
    * and the level's energy is Σ_j d². The level with peak energy is
    * the dominant burst/periodicity SCALE (a 24 h cycle peaks around
    * levels 4–5), read directly off integer sums — the wavelet
    * counterpart of [[acfHourly]], and like it entirely exact: no √2
    * normalization (documented; engines would disagree on floats), so
    * every coefficient and energy is a plain BIGINT.
    *
    * Plan shape: the series explodes into `maxLevel` (level, block)
    * assignments — histogram-sized × levels — then one keyed agg per
    * pyramid node and one per level. No iteration, no driver state.
    *
    * Output: (level, block_hours, n_blocks, energy) for levels
    * 1..maxLevel (only complete blocks count).
    */
  def haarEnergy(events: DataFrame, maxLevel: Int = 8): DataFrame = {
    require(maxLevel >= 1 && maxLevel <= 16, "maxLevel in [1,16]")
    val series = hourlySeries(events)
    val leveled = series
      .withColumn("lvl", explode(sequence(lit(1), lit(maxLevel))))
      .select(
        col("lvl"),
        expr("CAST(shiftleft(1, lvl) AS BIGINT)").as("bs"),
        col("idx"), col("x"))
      .withColumn("block", expr("idx div bs"))
      // first half of the block -> +x, second half -> -x
      .withColumn(
        "signed",
        when(expr("idx % bs") < expr("bs div 2"), col("x")).otherwise(-col("x")))
    val n = series.agg(count(lit(1)).as("n"))
    val coeffs = leveled
      .groupBy(col("lvl"), col("bs"), col("block"))
      .agg(sum(col("signed")).as("d"), count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      // only complete blocks: a ragged tail block is not a Haar node
      .filter(col("cnt") === col("bs"))
    coeffs
      .groupBy(col("lvl"), col("bs"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("d") * col("d")).as("energy"))
      .select(
        col("lvl").cast("long").as("level"),
        col("bs").as("block_hours"),
        col("n_blocks"),
        col("energy"))
  }

  /** EXPONENTIALLY TIME-DECAYED counts per key — the "trending now"
    * primitive (each observation contributes 2^(−age_days), half-life
    * one day relative to the corpus max timestamp). The decay sum is
    * EXACT: each weight is the dyadic rational 2^(−age), so the engine
    * sums the INTEGER numerators 2^(40−age) (ages beyond 40 days
    * contribute exactly 0 — their true weight < 2⁻⁴⁰ is below the
    * representable grid anyway) and divides by 2⁴⁰ once at the end.
    * No float accumulates, so any partitioning, any engine, any retry
    * lands on the identical decayed count — compare the grid-snap
    * POSTURE of [[ewma]], which this strengthens to exactness.
    *
    * Shape: one agg for the corpus max day (broadcast), one keyed
    * aggregate. Output: (key, n, decayed_count), decayed from `keyCol`.
    */
  def decayedCounts(events: DataFrame, keyCol: String): DataFrame = {
    val maxDay = events.agg(max(to_date(col("ts"))).as("d_max"))
    events
      .crossJoin(broadcast(maxDay))
      .select(
        col(keyCol).as("key"),
        datediff(col("d_max"), to_date(col("ts"))).cast("long").as("age"))
      .select(
        col("key"),
        expr("CASE WHEN age <= 40 THEN shiftleft(CAST(1 AS BIGINT), CAST(40 - age AS INT)) " +
          "ELSE CAST(0 AS BIGINT) END").as("num"))
      .groupBy(col("key"))
      // decimal(38,0) accumulator (the q359/q371 overflow posture): a key
      // with > ~8.38M age-0 events would overflow a Long sum of 2^40
      // numerators and silently wrap in non-ANSI mode; decimal38 holds
      // ~10^26 such events, so the exact-at-any-scale contract is real
      .agg(count(lit(1)).as("n"), sum(col("num").cast("decimal(38,0)")).as("s"))
      .select(
        col("key"), col("n"),
        (col("s").cast("double") / lit(1099511627776.0)).as("decayed_count"))
  }

  /** HOLT LINEAR-TREND exponential smoothing over the zero-filled
    * daily count series, with a one-step-ahead backtest:
    *
    *   l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * The recurrence is inherently sequential, but the series is
    * CALENDAR-sized (≤ a few hundred rows at any corpus size), so the
    * fold runs on the driver over the collected day table — the
    * bounded-model-state posture of [[graft.operators.Sessionize.markovAttribution]]
    * and [[burstViterbi]]; all corpus-sized work (the daily counts) is
    * one keyed aggregate. With DYADIC smoothing constants (the α = β =
    * ½ default) every state update is exact binary arithmetic — no
    * rounding anywhere, so the oracle's recursive-CTE replay matches
    * bit-for-bit, with no snapping grid at all.
    *
    * Output: one row (n_days, level, trend, forecast_1, forecast_3,
    * mae) — mae is the mean absolute one-step-ahead error from t=1.
    */
  def holtLinear(
      events: DataFrame,
      alpha: Double = 0.5,
      beta: Double = 0.5,
      spark: org.apache.spark.sql.SparkSession = null
  ): DataFrame = {
    val s = Option(spark).getOrElse(events.sparkSession)
    import s.implicits._
    val rows = events
      .select(to_date(col("ts")).as("d"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("d"))
      .collect()
    require(rows.length > 1, "holtLinear needs at least 2 active days")
    val d0 = rows.head.getDate(0).toLocalDate
    val byIdx = rows.map { r =>
      java.time.temporal.ChronoUnit.DAYS
        .between(d0, r.getDate(0).toLocalDate).toInt -> r.getLong(1)
    }.toMap
    val nDays = byIdx.keys.max + 1
    val y = (0 until nDays).map(i => byIdx.getOrElse(i, 0L).toDouble)
    var l = y(0)
    var b = 0.0
    var absErrSum = 0.0
    for (t <- 1 until nDays) {
      absErrSum += math.abs(y(t) - (l + b))
      val lNew = alpha * y(t) + (1.0 - alpha) * (l + b)
      b = beta * (lNew - l) + (1.0 - beta) * b
      l = lNew
    }
    // round-6 with the engines' shared HALF_UP (away-from-zero) rule —
    // rint's half-to-even would diverge from SQL round on a boundary
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((nDays.toLong, r6(l), r6(b), r6(l + b), r6(l + 3.0 * b),
      r6(absErrSum / (nDays - 1))))
      .toDF("n_days", "level", "trend", "forecast_1", "forecast_3", "mae")
  }

  /** Croston's method for INTERMITTENT demand: separate exponential
    * smoothing of nonzero demand sizes and inter-demand intervals,
    * forecast = ẑ/p̂ demand per period. α = ½ (dyadic) so every
    * smoothing step is one add + one halving — the q324 Holt posture:
    * the recursion is a deterministic double fold replayed verbatim by
    * a recursive-CTE oracle. The fold runs driver-side over ONE part's
    * demand-day series (bounded by the calendar, never data-sized);
    * part selection (most demand days, smallest key tie-break) is a
    * distributed aggregate.
    */
  def crostonForecast(lineitem: DataFrame, spark: org.apache.spark.sql.SparkSession = null): DataFrame = {
    val s = Option(spark).getOrElse(lineitem.sparkSession)
    import s.implicits._
    // materialize the daily aggregate once — the pick and the series
    // read would otherwise each re-run the full lineitem aggregation
    val daily = lineitem
      .select(col("l_partkey").cast("long").as("part"),
        to_date(col("l_shipdate")).as("d"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
      .groupBy(col("part"), col("d")).agg(sum(col("q")).as("q"))
      .localCheckpoint()
    val part = daily.groupBy(col("part")).agg(count(lit(1)).as("nd"))
      .orderBy(col("nd").desc, col("part").asc).limit(1)
      .head().getLong(0)
    val series = daily.filter(col("part") === part)
      .orderBy(col("d"))
      .collect()
      .map(r => (r.getDate(1).toLocalDate.toEpochDay, r.getLong(2)))
    require(series.length > 1, "croston needs at least 2 demand days")
    var z = series(0)._2.toDouble
    var p = (series(1)._1 - series(0)._1).toDouble
    for (j <- 1 until series.length) {
      val interval = (series(j)._1 - series(j - 1)._1).toDouble
      z = 0.5 * z + 0.5 * series(j)._2
      p = 0.5 * p + 0.5 * interval
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((part, series.length.toLong, r6(z), r6(p), r6(z / p)))
      .toDF("part", "n_demand_days", "z_hat", "p_hat", "forecast_per_day")
  }

  /** CUMULATIVE DISTINCT count per day — "total unique users to date",
    * the growth-curve number naive SQL computes as an O(n²)
    * re-aggregation per day. The scalable identity: a user counts on
    * exactly their FIRST day, so cumulative distinct = running sum of
    * first-seen counts — one keyed agg (min day per id, data-sized,
    * partition-parallel), one day-grain agg, one running sum over the
    * DAY table (calendar-sized; the single-partition window is over
    * ~10³ rows at any data scale, never over data).
    *
    * Output: (day, n_events, new_ids, cum_ids) per active day.
    */
  def cumulativeDistinct(events: DataFrame, idCol: String): DataFrame = {
    val perDay = events
      .select(to_date(col("ts")).as("day"), col(idCol).as("id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"))
    val firstSeen = events
      .select(col(idCol).as("id"), to_date(col("ts")).as("day"))
      .groupBy(col("id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("new_ids"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perDay
      .join(firstSeen, Seq("day"), "left")
      .select(col("day"), col("n_events"), coalesce(col("new_ids"), lit(0L)).as("new_ids"))
      .withColumn("cum_ids", sum(col("new_ids")).over(w))
  }

  /** SAX symbolization (Lin et al. '03) of the daily count series per
    * key: z-normalize the series, average over `frameDays`-day PAA
    * frames, then map each frame mean to an alphabet-4 symbol at the
    * standard Gaussian quartile breakpoints ±0.6744897501960817 and 0.
    * The per-key word is the frame symbols in time order — the
    * discretized shape that makes series comparable by plain string
    * ops (motif counting = GROUP BY sax_word).
    *
    * Determinism: daily counts are integers; mean and the PAA frame
    * means are snapped dyadic rationals; σ is the one √ (the identical
    * IEEE expression both engines), its quotient snapped before the
    * breakpoint comparison, so symbols replay exactly unless a value
    * sits within an ulp of a breakpoint (the documented [[graft.operators.Graph]]
    * residual-risk posture). Days with no events count 0 via a
    * generated day spine — a SAX word must not silently skip gaps.
    *
    * Output: (key, n_days, n_frames, sax_word).
    */
  def saxWords(events: DataFrame, keyCol: String, frameDays: Int = 5): DataFrame = {
    require(frameDays >= 1, "frameDays must be >= 1")
    val bp = 0.6744897501960817
    val span = events.agg(
      min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
    val spine = span
      .select(explode(sequence(lit(0L), datediff(col("d1"), col("d0")).cast("long")))
        .as("day"))
    val keys = events.select(col(keyCol).as("key")).distinct()
    val daily = events
      .crossJoin(broadcast(span))
      .select(col(keyCol).as("key"),
        datediff(to_date(col("ts")), col("d0")).cast("long").as("day"))
      .groupBy(col("key"), col("day"))
      .agg(count(lit(1)).as("c"))
    val full = keys
      .crossJoin(spine)
      .join(daily, Seq("key", "day"), "left")
      .select(col("key"), col("day"), coalesce(col("c"), lit(0L)).as("c"))
    val stats = full
      .groupBy(col("key"))
      .agg(count(lit(1)).as("nd"), sum(col("c")).as("s"), sum(col("c") * col("c")).as("ss"))
      .select(
        col("key"), col("nd"),
        snap(col("s").cast("double") / col("nd")).as("mu"),
        sqrt((col("ss") - col("s") * col("s") / col("nd").cast("double"))
          .cast("double") / col("nd")).as("sigma"))
    val frames = full
      .select(col("key"), (col("day") / frameDays).cast("long").as("frame"), col("c"))
      .groupBy(col("key"), col("frame"))
      .agg(count(lit(1)).as("fn"), sum(col("c")).as("fs"))
      .join(stats, Seq("key"))
      .select(
        col("key"), col("frame"), col("nd"),
        snap((snap(col("fs").cast("double") / col("fn")) - col("mu")) /
          when(col("sigma") > 0.0, col("sigma")).otherwise(lit(1.0))).as("z"))
      .select(
        col("key"), col("frame"), col("nd"),
        when(col("z") < -bp, lit("a"))
          .when(col("z") < 0.0, lit("b"))
          .when(col("z") < bp, lit("c"))
          .otherwise(lit("d")).as("sym"))
    frames
      .groupBy(col("key"))
      .agg(
        max(col("nd")).as("n_days"),
        count(lit(1)).as("n_frames"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("frame"), col("sym")))),
            s => s.getField("sym")),
          "").as("sax_word"))
  }
}
