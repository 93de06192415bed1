package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.snap

/** Classifier/feature EVALUATION metrics — the measurement half of the
  * quality-filtering loop ([[TextAnalysis.classifierScore]] produces
  * scores; these grade them). Both are exact-count formulations: integer
  * rank sums and contingency cells, with one float division (or ln
  * chain) at the very end — deterministic across engines without any
  * sampling or approximation.
  */
object Eval {

  /** Per-group ROC-AUC of `scoreCol` against binary `labelCol` via the
    * Mann–Whitney rank-sum identity
    *
    *   AUC = (Σ_{pos} midrank − n⁺(n⁺+1)/2) / (n⁺·n⁻)
    *
    * with midranks for score ties (2·midrank = 2·rank_min + ties − 1,
    * kept in INTEGERS until the single final division). One window pass
    * over each group's ordered scores + one keyed aggregate — no
    * pos×neg pair join, which is what makes AUC computable at corpus
    * scale. Groups missing a class are dropped (AUC undefined).
    *
    * Output: (groupCol, n_pos, n_neg, auc).
    */
  def rocAuc(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      labelCol: String
  ): DataFrame = {
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val wTie = Window.partitionBy(col(groupCol), col(scoreCol))
    val ranked = df
      .select(
        col(groupCol),
        col(scoreCol),
        col(labelCol).cast("long").as("__y"))
      .withColumn("__mr2",
        lit(2L) * rank().over(wOrd) + count(lit(1)).over(wTie) - 1L)
    ranked
      .groupBy(col(groupCol))
      .agg(
        sum(when(col("__y") === 1L, col("__mr2")).otherwise(0L)).as("__s2r"),
        sum(col("__y")).as("n_pos"),
        (count(lit(1)) - sum(col("__y"))).as("n_neg"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(
        col(groupCol), col("n_pos"), col("n_neg"),
        round(
          (col("__s2r") - col("n_pos") * (col("n_pos") + 1L))
            .cast("double") / (lit(2.0) * col("n_pos") * col("n_neg")),
          6).as("auc"))
  }

  /** RELIABILITY DIAGRAM bins (the per-bin view whose weighted gap sum
    * is ECE): probabilities land in `nBins` equal-width bins; each bin
    * reports exact membership, mean confidence, exact positive rate,
    * and the |confidence − accuracy| gap. One keyed aggregate — the
    * probability column is expected to already be rounded (ulp-stable
    * binning is the caller's probability pipeline's concern; a rounded
    * probability makes `floor(p·nBins)` deterministic cross-engine).
    *
    * Output: (bin, n, avg_conf, frac_pos, gap).
    */
  def calibrationBins(
      df: DataFrame,
      probCol: String,
      labelCol: String,
      nBins: Int = 10
  ): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    df.select(
        floor(col(probCol) * nBins).cast("int").as("bin"),
        col(probCol).as("p"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("p")), 6).as("avg_conf"),
        round(sum(col("y")).cast("double") / count(lit(1)), 6).as("frac_pos"),
        round(
          abs(avg(col("p")) - sum(col("y")).cast("double") / count(lit(1))),
          6).as("gap"))
  }

  /** Mutual information I(feature; label) for each feature column,
    * treating every column's values categorically:
    *
    *   I = Σ_cells (c/N) · ln(c·N / (c_f·c_y))
    *
    * All cell/marginal counts are exact integers from three keyed
    * aggregates over the melted (feature, value, label) relation; the
    * ln chain runs once per cell (cells = |feature values| × |labels|,
    * model-sized, round-6 on the per-feature sum). The standard filter
    * ranking step between quality scoring and mixture sampling.
    *
    * Output: (feature, n, mi).
    */
  def mutualInformation(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String
  ): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    val melted = featureCols
      .map(f =>
        df.select(
          lit(f).as("feature"),
          col(f).cast("string").as("fval"),
          col(labelCol).cast("string").as("y")))
      .reduce(_ unionAll _)
    val cells = melted.groupBy(col("feature"), col("fval"), col("y"))
      .agg(count(lit(1)).as("c"))
    val margF = melted.groupBy(col("feature"), col("fval"))
      .agg(count(lit(1)).as("cf"))
    val margY = melted.groupBy(col("feature"), col("y"))
      .agg(count(lit(1)).as("cy"))
    val n = melted.groupBy(col("feature")).agg(count(lit(1)).as("n"))
    cells
      .join(margF, Seq("feature", "fval"))
      .join(margY, Seq("feature", "y"))
      .join(n, Seq("feature"))
      .withColumn("term",
        (col("c").cast("double") / col("n")) *
          log(col("c").cast("double") * col("n") /
            (col("cf").cast("double") * col("cy"))))
      .groupBy(col("feature"))
      .agg(max(col("n")).as("n"), round(sum(col("term")), 6).as("mi"))
  }

  /** CUPED variance reduction (Deng et al. 2013) for a hash-split A/B
    * readout: adjust each arm's post-period metric by the pre-period
    * covariate, Yadj = Y − θ(X − E[X]), θ = cov(X,Y)/var(X) — the
    * standard trick that shrinks experiment confidence intervals ~1/(1−ρ²)
    * without touching assignment.
    *
    * Everything reduces to per-user integer cent sums then arm-level
    * integer sums: θ and ρ² are ratios of exact-long differences (cast
    * once to double — deterministic single ops; squares taken on the
    * casts to dodge 64-bit overflow), and each arm's adjusted mean needs
    * only arm totals:  Sy_a/n_a − θ·(Sx_a/n_a − Sx/n). One user-keyed
    * agg + one arm-keyed agg; no per-row float pass at all.
    *
    * Split: `user_id % 2` (deterministic stand-in for the assignment
    * hash). Pre/post at `splitDays` whole days after the corpus' first
    * event (exact µs integer arithmetic).
    *
    * Output per arm: (arm, n_users, mean_post, mean_post_adj, theta,
    * rho2) — theta/rho2 are global, repeated per row.
    */
  def cupedAdjust(events: DataFrame, splitDays: Int = 15): DataFrame = {
    require(splitDays >= 1, "splitDays must be >= 1")
    val start = events.agg(min(unix_micros(col("ts"))).as("t0"))
    val cutUs = col("t0") + lit(splitDays.toLong * 86400000000L)
    val perUser = events
      .crossJoin(broadcast(start))
      .select(
        col("user_id"),
        (col("user_id") % 2).cast("long").as("arm"),
        when(unix_micros(col("ts")) < cutUs, expr("CAST(round(value * 100) AS BIGINT)"))
          .otherwise(0L).as("xc"),
        when(unix_micros(col("ts")) >= cutUs, expr("CAST(round(value * 100) AS BIGINT)"))
          .otherwise(0L).as("yc"))
      .groupBy(col("user_id"), col("arm"))
      .agg(sum(col("xc")).as("x"), sum(col("yc")).as("y"))
      // user-count-sized; consumed by the global moments and the arm agg
      .localCheckpoint()
    val glob = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val arms = perUser
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("sxa"), sum(col("y")).as("sya"))
    arms
      .crossJoin(broadcast(glob))
      .withColumn("dxy", (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("dxx", (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("dyy", (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
      // zero pre-period variance -> no adjustment possible: θ = 0 keeps
      // the raw means (and dodges the ANSI divide-by-zero)
      .withColumn("theta", when(col("dxx") =!= 0.0, col("dxy") / col("dxx")).otherwise(0.0))
      .select(
        col("arm"),
        col("n_users"),
        round(col("sya").cast("double") / lit(100.0) / col("n_users").cast("double"), 6)
          .as("mean_post"),
        round(
          (col("sya").cast("double") / col("n_users").cast("double") -
            col("theta") * (col("sxa").cast("double") / col("n_users").cast("double") -
              col("sx").cast("double") / col("n").cast("double"))) / lit(100.0),
          6).as("mean_post_adj"),
        round(col("theta"), 6).as("theta"),
        when(col("dyy") =!= 0.0 && col("dxx") =!= 0.0,
          round(col("dxy") * col("dxy") / (col("dxx") * col("dyy")), 6)).as("rho2"))
  }

  /** Poisson bootstrap confidence interval for the mean — the
    * DISTRIBUTED bootstrap: classical resampling needs a global draw of
    * n rows per replicate, the Poisson(1) approximation gives every row
    * an independent weight w ~ Poisson(1) per replicate, so all B
    * resamples are ONE row-local projection + one keyed agg. Weights are
    * md5-dyadic uniforms pushed through the hard-coded Poisson(1)
    * inverse CDF (identical literals on both engines → identical
    * weights), values are integer cents, so every replicate mean is an
    * exact integer ratio; the CI is the exact interpolating percentile
    * over the B replicate means.
    *
    * Output: one row (n, mean, n_reps, ci_lo, ci_hi) at 95%.
    */
  def poissonBootstrapMeanCi(
      df: DataFrame,
      idCol: String,
      valCol: String,
      reps: Int = 50,
      salt: String = "boot"
  ): DataFrame = {
    require(reps >= 10, "need >= 10 replicates")
    // Scale-adaptive spread of the NARROW (rid, c) projection before
    // the digest explode (r13, [[Par.spread]]): the bench inputs are
    // single-row-group parquet files, so the scan is ONE task and the
    // ⌈reps/4⌉ md5 digests per row — the query's dominant cost — ran on
    // one core. The shuffle moves two narrow columns per input row
    // (project-before-exchange, §2.3) and unlocks full parallelism for
    // the hash work; measured 3.4 s → 0.93 s at sf0.1/local[32]. On a
    // many-split production scan the spread is a no-op.
    val base = Par.spread(df
      .select(
        col(idCol).cast("string").as("rid"),
        expr(s"CAST(round($valCol * 100) AS BIGINT)").as("c")))
    // One md5 yields FOUR dyadic uniforms (32 hex chars = 4 × 8-hex
    // words). r13 optimization (guide §2.3 "aggregate before you
    // shuffle" / §1.2 per-task work): the replicate dimension used to
    // be a DOUBLE explode — |rows| × reps generated rows (the digest
    // row re-exploded 4-ways per hex word), each weighted and hash-
    // aggregated into `reps` groups. The 4 weights of one digest are
    // now COLUMNS on the single batch-explode (|rows| × ⌈reps/4⌉
    // generated rows — 4× less Generate + aggregate-probe machinery),
    // summed into 8 aggregate buffers keyed by the ⌈reps/4⌉ batch ids
    // and unpivoted to (b, swc, sw) with stack (dimension-sized).
    // Weights, sums and rep means are bit-identical to the old shape:
    // same digests, same thresholds, same integer sums — only the
    // shape of the partial aggregation changed. (An all-columns
    // variant — reps weight columns, one ungrouped 2·reps-buffer
    // aggregate, zero Generate — was measured SLOWER at sf0.1: 4.59 s
    // vs 2.70 s baseline vs 1.4 s for this shape; the ~450-branch
    // projection + 102-buffer aggregate falls out of whole-stage
    // codegen. Kept the 4-wide middle shape.)
    def wOf(u: Column): Column = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238463, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .when(u < 0.999916758850712, 6L)
      .when(u < 0.9999897508033253, 7L)
      .otherwise(8L)
    def wAt(j: Int): Column =
      wOf(conv(substring(col("digest"), j * 8 + 1, 8), 16, 10)
        .cast("double") / lit(4294967296.0))
    val nBatches = (reps - 1) / 4 + 1
    val perBatch = base
      .select(col("rid"), col("c"), explode(expr(s"sequence(0, ${nBatches - 1})")).as("batch"))
      .withColumn(
        "digest",
        md5(concat(col("rid"), lit(":"), col("batch").cast("string"), lit(salt))))
      .groupBy(col("batch"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("c")).as("sc"),
        sum(wAt(0) * col("c")).as("swc_0"), sum(wAt(0)).as("sw_0"),
        sum(wAt(1) * col("c")).as("swc_1"), sum(wAt(1)).as("sw_1"),
        sum(wAt(2) * col("c")).as("swc_2"), sum(wAt(2)).as("sw_2"),
        sum(wAt(3) * col("c")).as("swc_3"), sum(wAt(3)).as("sw_3"))
      .localCheckpoint() // ⌈reps/4⌉ rows; feeds the unpivot AND the point estimate
    val repSums = perBatch
      .select(
        col("batch"),
        expr("stack(4, 0L, swc_0, sw_0, 1L, swc_1, sw_1, 2L, swc_2, sw_2, 3L, swc_3, sw_3)")
          .as(Seq("j", "swc", "sw")))
      .withColumn("b", col("batch") * 4 + col("j") + 1)
      .filter(col("b") <= reps)
    val repMeans = repSums
      .filter(col("sw") > 0)
      .select((col("swc").cast("double") / col("sw").cast("double") / 100.0).as("rep_mean"))
    // the point estimate reuses batch 0's per-row count and value sum
    // (every batch aggregates the same base rows exactly once)
    // exactly one row (batch 0 always exists); the .limit(1) states the
    // bound for the forced-broadcast plan gate, which cannot see through
    // a Filter over the checkpoint
    val overall = perBatch.filter(col("batch") === 0)
      .select(col("n_rows").as("n"), col("sc"))
      .limit(1)
    repMeans
      .agg(
        count(lit(1)).as("n_reps"),
        expr("percentile(rep_mean, 0.025)").as("lo"),
        expr("percentile(rep_mean, 0.975)").as("hi"))
      .crossJoin(broadcast(overall))
      .select(
        col("n"),
        round(col("sc").cast("double") / 100.0 / col("n").cast("double"), 6).as("mean"),
        col("n_reps"),
        round(col("lo"), 6).as("ci_lo"),
        round(col("hi"), 6).as("ci_hi"))
  }

  /** Two-sample Mann–Whitney U (Wilcoxon rank-sum) between groups A and
    * B of `valCol` — the nonparametric "did the distribution shift?"
    * test, computed like [[rocAuc]]: midranks over the VALUE HISTOGRAM
    * (doubled to stay integer), never a per-row sort. U from the rank
    * sum, normal approximation with tie correction and continuity
    * correction:
    *
    *   z = sign(d)·(|d| − 1) / (2σ),  d = 2U − n₁n₂  (exact long),
    *   σ² = n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1)))
    *
    * Everything up to the final sqrt/divide is exact integer arithmetic.
    * p-values intentionally omitted (no erf in the oracle engine) — z
    * IS the decision statistic.
    *
    * Output: one row (n_a, n_b, u_stat, z).
    */
  def mannWhitney(
      df: DataFrame,
      groupCol: String,
      valCol: String,
      groupA: String,
      groupB: String
  ): DataFrame = {
    val counts = df
      .filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(valCol).as("v"))
      .agg(
        count(lit(1)).as("t"),
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ta"))
      .localCheckpoint() // histogram-sized; window + two aggregates below
    val wCum = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = counts
      .withColumn("cum_excl", coalesce(sum(col("t")).over(wCum), lit(0L)))
      // doubled midrank of every value in this tie group: 2·cum + t + 1
      .withColumn("mr2", lit(2L) * col("cum_excl") + col("t") + 1)
    val agg = ranked.agg(
      sum(col("ta")).as("n_a"),
      sum(col("t") - col("ta")).as("n_b"),
      sum(col("ta") * col("mr2")).as("r2a"), // 2·(rank sum of A)
      sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    agg
      .withColumn("n_tot", col("n_a") + col("n_b"))
      // 2U = 2R_A − n_a(n_a+1); d = 2U − n_a·n_b (all exact longs)
      .withColumn("d2", col("r2a") - col("n_a") * (col("n_a") + 1) - col("n_a") * col("n_b"))
      .withColumn(
        "sigma2",
        col("n_a").cast("double") * col("n_b").cast("double") / 12.0 *
          ((col("n_tot") + 1).cast("double") -
            col("tie3").cast("double") /
              (col("n_tot") * (col("n_tot") - 1)).cast("double")))
      .select(
        col("n_a"),
        col("n_b"),
        ((col("d2") + col("n_a") * col("n_b")).cast("double") / 2.0).as("u_stat"),
        when(col("d2") === 0L || col("sigma2") <= 0.0, 0.0)
          .otherwise(
            round(
              signum(col("d2").cast("double")) * (abs(col("d2")).cast("double") - 1.0) /
                (lit(2.0) * sqrt(col("sigma2"))),
              6)).as("z"))
  }

  /** Always-valid sequential A/B monitor: the mixture SPRT (mSPRT) of
    * Johari–Koomen–Pekelis–Walsh ("Peeking at A/B Tests"), evaluated on
    * the daily cumulative mean difference between the identity-hash
    * arms (user_id % 2 — the q208/q211/q226 assignment). For the
    * normal mixture with prior variance τ² and observation variance
    * Vₙ = σ²(1/n_A + 1/n_B):
    *
    *   ln Λₙ = ½·ln(Vₙ/(Vₙ+τ²)) + δₙ²·τ² / (2·Vₙ·(Vₙ+τ²))
    *
    * and the always-valid p-value is pₜ = min(1, min_{s≤t} 1/Λ_s) — a
    * running minimum, so "peek every day" stays valid. σ² is the pooled
    * full-horizon variance from exact integer cent sums and τ² = σ²
    * (the standard self-scaled default), both documented monitor
    * parameters, not fitted state.
    *
    * Determinism: per-day cumulative (n, Σc, Σc²) are integer window
    * sums; each day's ln Λ is one fixed float expression over those
    * integers, snapped to the 2⁻³⁰ grid before the running max, so the
    * oracle replays decisions bit-identically.
    *
    * Scale shape: one keyed day×arm agg (a few hundred cells), then
    * window passes over the DAY axis — monitor state is O(days), never
    * O(rows).
    *
    * Output per day: (day_idx, n_a, n_b, mean_diff, log_lambda,
    * p_always_valid, reject).
    */
  def msprtDaily(
      events: DataFrame,
      valCol: String = "value",
      alpha: Double = 0.05
  ): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha in (0,1)")
    val base = events.select(
      (unix_micros(col("ts")).cast("long") / lit(86400000000L)).cast("long").as("day"),
      (col("user_id") % 2).cast("long").as("arm"),
      expr(s"CAST(round($valCol * 100) AS BIGINT)").as("c"))
    val daily = base
      .groupBy(col("day"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("dn_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("dn_b"),
        sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("ds_a"),
        sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("ds_b"),
        sum(col("c") * col("c")).as("dss"),
        sum(col("c")).as("ds"),
        count(lit(1)).as("dn"))
    val wCum = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("n_a", sum(col("dn_a")).over(wCum))
      .withColumn("n_b", sum(col("dn_b")).over(wCum))
      .withColumn("s_a", sum(col("ds_a")).over(wCum))
      .withColumn("s_b", sum(col("ds_b")).over(wCum))
    // pooled full-horizon σ² (cents²) from exact integer sums
    val tot = daily.agg(
      sum(col("dn")).as("n_tot"), sum(col("ds")).as("s_tot"), sum(col("dss")).as("ss_tot"))
    val sigma2 = (col("ss_tot").cast("double") -
      col("s_tot").cast("double") * col("s_tot").cast("double") / col("n_tot").cast("double")) /
      (col("n_tot").cast("double") - 1.0)
    val wDayIdx = Window.orderBy(col("day"))
    val delta = col("s_a").cast("double") / col("n_a").cast("double") -
      col("s_b").cast("double") / col("n_b").cast("double")
    val vn = col("sigma2") * (lit(1.0) / col("n_a").cast("double") +
      lit(1.0) / col("n_b").cast("double"))
    // degenerate guard: an all-constant metric has σ² = 0 — no
    // information, no evidence (ln Λ = 0) instead of 0/0 NaNs
    val logLambda = when(
      col("sigma2") <= 0.0,
      lit(0.0)).otherwise(snap(
      lit(0.5) * log(col("vn") / (col("vn") + col("tau2"))) +
        col("delta") * col("delta") * col("tau2") /
        (lit(2.0) * col("vn") * (col("vn") + col("tau2")))))
    val lnRejectAt = math.log(1.0 / alpha)
    cum
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .crossJoin(broadcast(tot.select(sigma2.as("sigma2"))))
      .withColumn("tau2", col("sigma2"))
      .withColumn("day_idx", row_number().over(wDayIdx).cast("long"))
      .withColumn("delta", delta)
      .withColumn("vn", vn)
      .withColumn("log_lambda", logLambda)
      .withColumn("peak_ll", max(col("log_lambda")).over(wDayIdx.rowsBetween(Window.unboundedPreceding, 0)))
      .select(
        col("day_idx"), col("n_a"), col("n_b"),
        round(col("delta") / 100.0, 6).as("mean_diff"),
        round(col("log_lambda"), 6).as("log_lambda"),
        round(least(lit(1.0), exp(-col("peak_ll"))), 6).as("p_always_valid"),
        (col("peak_ll") >= lit(lnRejectAt)).as("reject"))
  }

  /** Off-policy evaluation by inverse-propensity scoring (IPS): treat
    * the event log as a logged contextual bandit — context x =
    * hour-of-day, action a = event_type, reward r = value — estimate
    * the counterfactual value of the GREEDY policy π(x) = argmax_a
    * mean-reward(x, a) from the same logs, with empirical logging
    * propensities p̂(a|x) = c_{x,a}/c_x:
    *
    *   V̂_IPS = (1/n)·Σ_i 1{a_i = π(x_i)}·r_i / p̂(a_i|x_i)
    *
    * Matched rows share their context's propensity, so the estimator
    * collapses to one term per CONTEXT — Σ_x c_x·S_{x,π(x)}/c_{x,π(x)}
    * — integer products and one division per context, snapped to the
    * 2⁻³⁰ grid after the /n/100 normalization (keeps magnitudes inside
    * the grid's exact range), then an exact dyadic sum. Self-evaluation
    * of a policy fitted on the same logs is the standard replay-audit
    * demo; a production evaluator would take π from a holdout (the
    * estimator is unchanged).
    *
    * Scale shape: two keyed aggs on (x, a) — context×action cells, not
    * rows — then an argmax window over the tiny cell table. Corpus cost
    * is one scan + one shuffle.
    *
    * Output: (n, n_contexts, match_rate, logged_value, ips_value).
    */
  def ipsOffPolicy(events: DataFrame, valCol: String = "value"): DataFrame = {
    val base = events.select(
      ((unix_micros(col("ts")).cast("long") / lit(3600000000L)).cast("long") % 24L).as("x"),
      col("event_type").as("a"),
      expr(s"CAST(round($valCol * 100) AS BIGINT)").as("r"))
    val cells = base
      .groupBy(col("x"), col("a"))
      .agg(count(lit(1)).as("c_xa"), sum(col("r")).as("s_xa"))
    val ctx = cells.groupBy(col("x")).agg(sum(col("c_xa")).as("c_x"))
    val tot = base.agg(count(lit(1)).as("n"), sum(col("r")).as("s_all"))
    // greedy target policy: argmax mean reward per context, ties to the
    // smallest action name (exact rational compare via cross-mult would
    // be ideal; the double ratio is the same IEEE expression both sides)
    val wCtx = Window.partitionBy(col("x"))
      .orderBy((col("s_xa").cast("double") / col("c_xa").cast("double")).desc, col("a").asc)
    val matched = cells
      .withColumn("rk", row_number().over(wCtx))
      .filter(col("rk") === 1)
      .join(ctx, Seq("x"))
      .crossJoin(broadcast(tot))
      .select(
        col("x"), col("c_xa"), col("c_x"), col("n"),
        snap((col("c_x") * col("s_xa")).cast("double") /
          (col("c_xa") * col("n")).cast("double") / lit(100.0)).as("term"))
    matched
      .agg(
        max(col("n")).as("n"),
        count(lit(1)).as("n_contexts"),
        sum(col("c_xa")).as("n_matched"),
        sum(col("term")).as("vsum"))
      .crossJoin(broadcast(tot.select(col("s_all"))))
      .select(
        col("n"),
        col("n_contexts"),
        round(col("n_matched").cast("double") / col("n").cast("double"), 6).as("match_rate"),
        round(col("s_all").cast("double") / 100.0 / col("n").cast("double"), 6)
          .as("logged_value"),
        round(col("vsum"), 6).as("ips_value"))
  }

  /** Exact AVERAGE PRECISION (the area under the precision–recall
    * curve as sklearn's `average_precision_score` computes it — the sum
    * form, no trapezoid interpolation):
    *
    *   AP = (1/P) · Σ_{ranks r with a positive}  cum_pos(r) / r
    *
    * Ranking is score DESC with the id column as a total tie-break, so
    * the permutation is unique and replays are exact. Each precision
    * term cum_pos/r is snapped to the 2⁻³⁰ grid before the group sum
    * (the [[ipsOffPolicy]] posture), so the oracle lands on identical
    * terms. One window + one keyed aggregate — PR-AUC is the metric of
    * record for imbalanced filters (quality classifiers, dedup
    * verdicts) where ROC-AUC ([[rocAuc]]) saturates.
    *
    * Output: (group, n, n_pos, ap).
    */
  def averagePrecision(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      labelCol: String
  ): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.select(
        col(groupCol), col(scoreCol), col(idCol),
        col(labelCol).cast("long").as("__y"))
      .withColumn("__r", count(lit(1)).over(w))
      .withColumn("__cp", sum(col("__y")).over(w))
      .withColumn("__term",
        when(col("__y") === 1L,
          snap(col("__cp").cast("double") / col("__r"))).otherwise(lit(0.0)))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__y")).as("n_pos"),
        sum(col("__term")).as("__tsum"))
      .filter(col("n_pos") > 0)
      .select(
        col(groupCol), col("n"), col("n_pos"),
        round(col("__tsum") / col("n_pos"), 6).as("ap"))
  }

  /** COCHRAN–MANTEL–HAENSZEL stratified 2×2 analysis: the common odds
    * ratio and the CMH chi-square (no continuity correction) across
    * strata — the standard guard against Simpson reversal when pooling
    * a treatment×outcome table over a confounding stratum:
    *
    *   OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ)
    *   χ²    = (Σaᵢ − ΣEᵢ)² / ΣVᵢ,  Eᵢ = r1ᵢc1ᵢ/nᵢ,
    *           Vᵢ = r1ᵢr2ᵢc1ᵢc2ᵢ / (nᵢ²(nᵢ−1))
    *
    * One keyed aggregate builds every stratum's cells as exact longs;
    * each per-stratum ratio term is snapped to the 2⁻³⁰ grid before
    * the cross-strata sums (the [[ipsOffPolicy]] posture). Strata with
    * n ≤ 1 or an empty margin contribute nothing, exactly as the
    * classical estimator drops them.
    *
    * Output: one row (n_strata, n, or_cmh, chi2).
    */
  def cmhOddsRatio(
      df: DataFrame,
      strataCol: org.apache.spark.sql.Column,
      exposure: org.apache.spark.sql.Column,
      outcome: org.apache.spark.sql.Column
  ): DataFrame = {
    val cells = df
      .select(strataCol.as("s"), exposure.cast("boolean").as("e"),
        outcome.cast("boolean").as("o"))
      .groupBy(col("s"))
      .agg(
        sum(when(col("e") && col("o"), 1L).otherwise(0L)).as("a"),
        sum(when(col("e") && !col("o"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("e") && col("o"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("e") && !col("o"), 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") > 1)
      .select(
        col("a"), col("n"),
        snap((col("a") * col("d")).cast("double") / col("n")).as("ad_n"),
        snap((col("b") * col("c")).cast("double") / col("n")).as("bc_n"),
        snap(((col("a") + col("b")) * (col("a") + col("c"))).cast("double") / col("n"))
          .as("ee"),
        snap(
          ((col("a") + col("b")) * (col("c") + col("d")) *
            (col("a") + col("c")) * (col("b") + col("d"))).cast("double") /
            (col("n") * col("n") * (col("n") - 1L)).cast("double")).as("vv"))
    cells
      .agg(
        count(lit(1)).as("n_strata"),
        sum(col("n")).as("n"),
        sum(col("a")).as("sa"),
        sum(col("ad_n")).as("sad"),
        sum(col("bc_n")).as("sbc"),
        sum(col("ee")).as("se"),
        sum(col("vv")).as("sv"))
      .select(
        col("n_strata"), col("n"),
        when(col("sbc") > 0.0, round(col("sad") / col("sbc"), 6)).as("or_cmh"),
        when(col("sv") > 0.0,
          round(
            (col("sa").cast("double") - col("se")) *
              (col("sa").cast("double") - col("se")) / col("sv"),
            6)).as("chi2"))
  }

  /** COHEN'S KAPPA inter-rater agreement between two boolean raters —
    * the audit number for "do my two quality heuristics (or two
    * annotator models) agree beyond chance?" in an LLM labeling
    * pipeline:
    *
    *   κ = (p_o − p_e) / (1 − p_e)
    *
    * with p_o the observed agreement rate and p_e the chance agreement
    * from the raters' marginals. All four cell counts come from ONE
    * keyed aggregate (exact longs); κ is computed in integer
    * cross-products — n·(n11+n00) − (a1·b1 + a0·b0) over n² − (…) — so
    * the only float op is the final divide, rounded to 6.
    *
    * Output: one row (n, n11, n10, n01, n00, po, kappa); kappa NULL
    * when a marginal is degenerate (p_e = 1).
    */
  def cohensKappa(df: DataFrame, raterA: org.apache.spark.sql.Column,
      raterB: org.apache.spark.sql.Column): DataFrame = {
    df.select(raterA.cast("boolean").as("a"), raterB.cast("boolean").as("b"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .select(
        col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round((col("n11") + col("n00")).cast("double") / col("n"), 6).as("po"),
        when(
          col("n") * col("n") -
            ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
              (col("n01") + col("n00")) * (col("n10") + col("n00"))) =!= 0L,
          round(
            (col("n") * (col("n11") + col("n00")) -
              ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
                (col("n01") + col("n00")) * (col("n10") + col("n00"))))
              .cast("double") /
              (col("n") * col("n") -
                ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
                  (col("n01") + col("n00")) * (col("n10") + col("n00"))))
                .cast("double"),
            6)).as("kappa"))
  }
}
