package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.SqlFragments.snap

/** Right-censored survival analysis over an event stream — "how long do
  * users stay active?", answered without the bias of treating
  * still-active users as churned.
  */
object Survival {

  /** Kaplan–Meier survival estimator over per-user observed lifetimes.
    *
    * Lifetime = whole hours between a user's first and last event
    * (exact µs integer arithmetic — no float timestamps). Users whose
    * last event falls inside the final `censorHours` of the corpus
    * clock are RIGHT-CENSORED: still active, their lifetime is only a
    * lower bound, so they stay in the at-risk set through their observed
    * duration but contribute no churn event (the standard
    * deaths-before-censorings-at-t convention).
    *
    *   S(t) = Π_{u ≤ t, d_u > 0} (1 − d_u / n_u)
    *
    * computed as exp(Σ ln(1 − d/n)) with each addend snapped to the
    * 2⁻³⁰ dyadic grid before summing (the [[Drift.jsVsRest]] posture:
    * order-insensitive, DuckDB-replayable). If the at-risk set ever
    * drains completely (d = n), survival is exactly 0 from that point.
    *
    * Scale shape: one keyed agg to per-user lifetimes (map-side
    * combined), then the entire curve lives on the DURATION histogram —
    * bounded by the corpus time span in hours, not the user count — so
    * the single ordered window is histogram-sized at any scale.
    *
    * Output (only durations with churn events, the standard KM support):
    * (t_hours, n_risk, n_events, survival).
    */
  def kaplanMeier(events: DataFrame, censorHours: Int = 24): DataFrame = {
    require(censorHours >= 0, "censorHours must be non-negative")
    val horizon = events.agg(max(unix_micros(col("ts"))).as("max_us"))
    val lifetimes = events
      .groupBy(col("user_id"))
      .agg(
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .crossJoin(broadcast(horizon))
      .select(
        expr("(last_us - first_us) div 3600000000").as("t_hours"),
        (col("last_us") > col("max_us") - lit(censorHours.toLong * 3600000000L))
          .as("censored"))
    val byT = lifetimes
      .groupBy(col("t_hours"))
      .agg(
        count(lit(1)).as("n_at_t"),
        sum(when(col("censored"), 0L).otherwise(1L)).as("n_events"))
    val total = lifetimes.agg(count(lit(1)).as("n_total"))
    val wExcl = Window.orderBy(col("t_hours")).rowsBetween(Window.unboundedPreceding, -1)
    val wIncl = Window.orderBy(col("t_hours")).rowsBetween(Window.unboundedPreceding, 0)
    byT
      .crossJoin(broadcast(total))
      .withColumn(
        "n_risk",
        col("n_total") - coalesce(sum(col("n_at_t")).over(wExcl), lit(0L)))
      .withColumn(
        "add",
        when(
          col("n_events") < col("n_risk"),
          snap(log(lit(1.0) - col("n_events").cast("double") / col("n_risk")))))
      .withColumn("dead", when(col("n_events") >= col("n_risk"), 1).otherwise(0))
      .withColumn("cum", sum(col("add")).over(wIncl))
      .withColumn("any_dead", max(col("dead")).over(wIncl))
      .filter(col("n_events") > 0)
      .select(
        col("t_hours"),
        col("n_risk"),
        col("n_events"),
        round(when(col("any_dead") === 1, 0.0).otherwise(exp(col("cum"))), 6)
          .as("survival"))
  }

  /** Two-group log-rank test: does survival differ between the hash
    * arms? At every churn time t, the observed arm-1 churn d₁t is
    * compared with its hypergeometric expectation under H₀:
    *
    *   Z = (Σd₁t − Σ n₁t·d_t/n_t) / √(Σ n₁t·n₀t·d_t·(n_t−d_t)/(n_t²·(n_t−1)))
    *
    * Lifetimes/censoring as in [[kaplanMeier]]; the per-time expectation
    * and variance addends are single-division rationals snapped to the
    * 2⁻³⁰ grid before summing (order-insensitive). Everything runs on
    * the arm × duration histogram — span-bounded.
    *
    * Output: one row (n_times, o1, e1, var1, z).
    */
  def logRank(events: DataFrame, censorHours: Int = 24): DataFrame = {
    require(censorHours >= 0, "censorHours must be non-negative")
    val horizon = events.agg(max(unix_micros(col("ts"))).as("max_us"))
    val lifetimes = events
      .groupBy(col("user_id"))
      .agg(
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .crossJoin(broadcast(horizon))
      .select(
        (col("user_id") % 2).cast("long").as("arm"),
        expr("(last_us - first_us) div 3600000000").as("t_hours"),
        (col("last_us") > col("max_us") - lit(censorHours.toLong * 3600000000L))
          .as("censored"))
      .localCheckpoint() // user-count-sized; grid + totals below
    val byArmT = lifetimes
      .groupBy(col("arm"), col("t_hours"))
      .agg(
        count(lit(1)).as("n_at"),
        sum(when(col("censored"), 0L).otherwise(1L)).as("d_at"))
    val times = byArmT.select(col("t_hours")).distinct()
    val arms = byArmT.select(col("arm")).distinct()
    val grid = arms
      .crossJoin(times)
      .join(byArmT, Seq("arm", "t_hours"), "left")
      .na.fill(0L, Seq("n_at", "d_at"))
    val armTotals = lifetimes.groupBy(col("arm")).agg(count(lit(1)).as("n_arm"))
      .limit(2) // arm is the binary user_id % 2 label — provable 2-row bound
    val wExcl = Window
      .partitionBy(col("arm"))
      .orderBy(col("t_hours"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val atRisk = grid
      .join(broadcast(armTotals), "arm")
      .withColumn("n_risk", col("n_arm") - coalesce(sum(col("n_at")).over(wExcl), lit(0L)))
    val byT = atRisk
      .groupBy(col("t_hours"))
      .agg(
        sum(col("n_risk")).as("n_t"),
        sum(col("d_at")).as("d_t"),
        sum(when(col("arm") === 1, col("n_risk")).otherwise(0L)).as("n1_t"),
        sum(when(col("arm") === 1, col("d_at")).otherwise(0L)).as("d1_t"))
      .filter(col("d_t") > 0)
      .withColumn(
        "e1",
        snap(col("n1_t").cast("double") * col("d_t").cast("double") / col("n_t").cast("double")))
      .withColumn(
        "v1",
        when(col("n_t") > 1,
          snap(
            col("n1_t").cast("double") * (col("n_t") - col("n1_t")).cast("double") *
              col("d_t").cast("double") * (col("n_t") - col("d_t")).cast("double") /
              (col("n_t").cast("double") * col("n_t").cast("double") *
                (col("n_t") - 1).cast("double")))).otherwise(0.0))
    byT.agg(
      count(lit(1)).as("n_times"),
      sum(col("d1_t")).as("o1"),
      round(sum(col("e1")), 6).as("e1"),
      round(sum(col("v1")), 6).as("var1"))
      .select(
        col("n_times"),
        col("o1"),
        col("e1"),
        col("var1"),
        when(col("var1") > 0.0,
          round((col("o1").cast("double") - col("e1")) / sqrt(col("var1")), 6)).as("z"))
  }
}
