package graft.queries

import graft.queries.SqlFragments._

/** Round-61 additions (q599+): temporal-structure panel — the Kuiper
  * test of hour-of-day uniformity (the rotation-invariant KS variant a
  * 24-hour clock needs: V = D⁺ + D⁻ is the SAME whichever hour you call
  * zero, where plain KS is not; both deviations ride exact integer
  * numerators over the common 24N denominator), circular mean / Rayleigh
  * resultant of event times on the 24 h clock (the right way to average
  * times-of-day — the arithmetic mean of 23:00 and 01:00 is noon,
  * the circular mean is midnight), and the first-order Markov entropy
  * rate of per-user event-type sequences (how much the NEXT event type
  * is predictable from the current one — the sequence-memory number
  * beside the count-autocorrelation family). House invariants as
  * Round13–60.
  */
object Round61 {

  // ---------------------------------------------------------------- q599

  /** Kuiper uniformity test over the 24 hourly bins: with C_k the
    * cumulative count through bin k, D⁺ = max_k(24·C_k − (k+1)·N) and
    * D⁻ = max_k((k+1)·N − 24·C_k) are exact BIGINT maxima; V =
    * (D⁺ + D⁻)/(24N) divides once. Kuiper beats KS here because V is
    * invariant to rotating the clock's zero — a peak at 23:30 scores
    * the same as one at 00:30.
    */
  val q599Kuiper: QueryDef = QueryDef.sql("q599_kuiper", "r61_", "events")(kuiperSql)

  private def kuiperSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val bins = s"SELECT ${d.closedRange(0, 23)} AS h"
    s"""WITH e AS (SELECT (($us ${d.idiv} 3600000000) % 24) AS h FROM $tbl),
        cnt AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
        bins AS ($bins),
        z AS (SELECT bins.h, CAST(coalesce(cnt.c, 0) AS BIGINT) AS c
              FROM bins LEFT JOIN cnt ON cnt.h = bins.h),
        n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM z),
        cum AS (SELECT h, CAST(sum(c) OVER (ORDER BY h
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ck
                FROM z),
        d AS (SELECT CAST(max(24 * cum.ck - (cum.h + 1) * n.n) AS BIGINT) AS dp,
                     CAST(max((cum.h + 1) * n.n - 24 * cum.ck) AS BIGINT) AS dm
              FROM cum CROSS JOIN n)
        SELECT n.n AS n_events, d.dp AS dplus_num, d.dm AS dminus_num,
               ${snap("CAST(d.dp AS DOUBLE) / (24 * n.n)")} AS d_plus,
               ${snap("CAST(d.dm AS DOUBLE) / (24 * n.n)")} AS d_minus,
               ${snap("CAST(d.dp + d.dm AS DOUBLE) / (24 * n.n)")} AS v_kuiper
        FROM d CROSS JOIN n"""
  }

  // ---------------------------------------------------------------- q600

  /** Circular mean and Rayleigh test of event times on the 24 h clock:
    * θ = 2π·(µs-of-day)/86400e6, per-event cos/sin 2^-20-quantized
    * pre-sum, R̄ = √(C̄² + S̄²), mean hour from atan2 folded into
    * [0, 24), Rayleigh z = n·R̄² with the z > ln 20 ≈ 2.9957 rejection
    * shelf (p ≈ e^{−z} at α = 0.05, cited not invented).
    */
  val q600CircularMean: QueryDef = QueryDef.sql("q600_circular_mean", "r61_", "events")(circSql)

  private def circSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    s"""WITH e AS (SELECT (($us) % 86400000000) AS usd FROM $tbl),
        t AS (SELECT 2 * pi() * usd / CAST(86400000000 AS DOUBLE) AS theta
              FROM e),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(${qi("cos(theta)")}) AS BIGINT) AS c20,
                     CAST(sum(${qi("sin(theta)")}) AS BIGINT) AS s20
              FROM t),
        f AS (SELECT n,
                     CAST(c20 AS DOUBLE) / 1048576.0 / n AS cb,
                     CAST(s20 AS DOUBLE) / 1048576.0 / n AS sb
              FROM m),
        r AS (SELECT n, cb, sb,
                     sqrt(cb * cb + sb * sb) AS rbar,
                     atan2(sb, cb) / (2 * pi()) * 24 AS mh
              FROM f)
        SELECT n AS n_events,
               ${snap("CASE WHEN mh < 0 THEN mh + 24 ELSE mh END")} AS mean_hour,
               ${snap("rbar")} AS resultant_r,
               ${snap("n * rbar * rbar")} AS rayleigh_z,
               CAST(CASE WHEN n * rbar * rbar > CAST(2.995732273553991 AS DOUBLE)
                    THEN 1 ELSE 0 END AS INT) AS nonuniform
        FROM r"""
  }

  // ---------------------------------------------------------------- q601

  /** First-order Markov entropy rate of per-user event-type sequences:
    * transitions (a → b) from consecutive events within a user (ts,
    * event_id order), H_rate = −Σ_{ab}(n_ab/N)·ln(n_ab/n_a) vs the
    * destination-marginal entropy H₀ = −Σ_b(n_b/N)·ln(n_b/N); the
    * predictability gain 1 − H_rate/H₀ is how much knowing the current
    * event type tells you about the next. All 25 + 5 transcendental
    * terms 2^-20-quantized pre-sum.
    */
  val q601MarkovEntropy: QueryDef = QueryDef.sql("q601_markov_entropy", "r61_", "events")(markovSql)

  private def markovSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    s"""WITH e AS (SELECT user_id, event_type, $us AS u, event_id FROM $tbl),
        p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                ORDER BY u, event_id) AS a,
                     event_type AS b
              FROM e),
        tr AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nab
               FROM p WHERE a IS NOT NULL GROUP BY 1, 2),
        ra AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM tr GROUP BY 1),
        nt AS (SELECT CAST(sum(nab) AS BIGINT) AS n FROM tr),
        hr AS (SELECT CAST(sum(${qi(
        """(CAST(tr.nab AS DOUBLE) / nt.n)
           * ln(CAST(tr.nab AS DOUBLE) / ra.na)""")}) AS BIGINT) AS h20
               FROM tr JOIN ra ON ra.a = tr.a CROSS JOIN nt),
        mb AS (SELECT b, CAST(sum(nab) AS BIGINT) AS nb FROM tr GROUP BY 1),
        h0 AS (SELECT CAST(sum(${qi(
        """(CAST(mb.nb AS DOUBLE) / nt.n)
           * ln(CAST(mb.nb AS DOUBLE) / nt.n)""")}) AS BIGINT) AS h20
               FROM mb CROSS JOIN nt)
        SELECT nt.n AS n_transitions,
               ${snap("-CAST(hr.h20 AS DOUBLE) / 1048576.0")} AS h_rate,
               ${snap("-CAST(h0.h20 AS DOUBLE) / 1048576.0")} AS h_marginal,
               ${snap(
        "1 - CAST(hr.h20 AS DOUBLE) / CAST(h0.h20 AS DOUBLE)")} AS predictability
        FROM hr CROSS JOIN h0 CROSS JOIN nt"""
  }

  val all: Seq[QueryDef] = Seq(q599Kuiper, q600CircularMean, q601MarkovEntropy)
}
