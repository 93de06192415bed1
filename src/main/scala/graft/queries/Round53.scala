package graft.queries

import graft.queries.SqlFragments._

/** Round-53 additions (q575+): robust-fit and equity audits — an EXACT
  * grid quantile regression of the daily order trend (the pinball-loss
  * line OLS can't give: for each dyadic candidate slope the optimal
  * intercept is an exact order statistic of the residuals, so the whole
  * search is integer arithmetic), Jain's fairness index of per-user
  * load (the systems-fairness number beside q202's Gini), the Atkinson
  * inequality index with its explicit inequality-aversion dial, and the
  * Cameron–Trivedi overdispersion test (is Poisson even the right model
  * — the regression TEST behind q254's Fano ratio). House invariants as
  * Round13–52.
  */
object Round53 {

  // ---------------------------------------------------------------- q575

  /** Exact grid quantile regression of the daily order count on the day
    * index at τ ∈ {0.5, 0.9}: candidate slopes are a 65-point dyadic
    * grid spanning ±2× the OLS slope magnitude (grid bounds derive from
    * exact integer moments, snapped to 2^-20 so both engines enumerate
    * identical candidates); for each slope the optimal intercept is the
    * EXACT τ-quantile order statistic of the residuals y − b·x (pinball
    * loss is minimized at a residual quantile — no float search), and
    * the pinball objective 20·Σmax(τ(r−a), (τ−1)(r−a)) stays an exact
    * BIGINT (residuals live on the 2^-20 slope grid, τ ∈ {10/20, 18/20}).
    * Argmin with (loss, slope) tie-break. The trend line the 10% worst
    * days actually follow — OLS (q197) and Theil–Sen (q200) both answer
    * a different question.
    */
  val q575QuantileRegression: QueryDef =
    QueryDef.sql("q575_quantile_regression", "r53_", "orders")(qregSql)

  private def qregSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    val slopes = s"SELECT ${d.closedRange(0, 64)} AS gi"
    val taus = s"SELECT ${d.list("10, 18")} AS t20"
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.dd - g.mn AS x, CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * y) AS BIGINT) AS sxy,
                      CAST(sum(x * x) AS BIGINT) AS sxx
               FROM s),
        ob AS (SELECT ${qi("(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)")} AS bq
               FROM mo),
        -- 65 dyadic candidate slopes in [−2|b_ols|−1, +2|b_ols|+1]
        -- (the ±1 keeps the grid non-degenerate on a flat series);
        -- everything stays on the 2^-20 grid as BIGINT numerators
        gsl AS (SELECT gi,
                       -(2 * abs(ob.bq) + 1048576)
                         + (gi * (CAST(4 AS BIGINT) * abs(ob.bq) + 2097152)) ${d.idiv} 64 AS bq
                FROM ($slopes) g CROSS JOIN ob),
        tg AS ($taus),
        -- residual numerators r = 2^20·y − b_q·x are exact BIGINTs
        res AS (SELECT g.gi, g.bq, t.t20, s.x,
                       1048576 * s.y - g.bq * s.x AS r
                FROM s CROSS JOIN gsl g CROSS JOIN tg t),
        -- optimal intercept at fixed slope = the ceil(τ·n)-th smallest
        -- residual (exact order statistic)
        rk AS (SELECT gi, bq, t20, r,
                      CAST(row_number() OVER (
                        PARTITION BY gi, t20 ORDER BY r) AS BIGINT) AS rr
               FROM res),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
        icpt AS (SELECT rk.gi, rk.bq, rk.t20, rk.r AS aq
                 FROM rk CROSS JOIN nn
                 WHERE rk.rr = CAST(ceil(CAST(rk.t20 AS DOUBLE) * nn.n / 20) AS BIGINT)),
        -- pinball objective ×20: exact BIGINT
        loss AS (SELECT i.gi, i.bq, i.t20, i.aq,
                        CAST(sum(CASE WHEN r.r >= i.aq
                                      THEN i.t20 * (r.r - i.aq)
                                      ELSE (i.t20 - 20) * (r.r - i.aq) END) AS BIGINT) AS pl
                 FROM icpt i JOIN res r ON r.gi = i.gi AND r.t20 = i.t20
                 GROUP BY 1, 2, 3, 4),
        rkb AS (SELECT t20, bq, aq, pl,
                       CAST(row_number() OVER (
                         PARTITION BY t20 ORDER BY pl, bq) AS BIGINT) AS rb
                FROM loss),
        best AS (SELECT t20, bq, aq, pl FROM rkb WHERE rb = 1)
        SELECT ${snap("CAST(t20 AS DOUBLE) / 20")} AS tau,
               ${snap("CAST(bq AS DOUBLE) / 1048576.0")} AS slope_per_day,
               ${snap("CAST(aq AS DOUBLE) / 1048576.0")} AS intercept,
               ${snap("CAST(pl AS DOUBLE) / 1048576.0 / 20")} AS pinball_loss
        FROM best
        ORDER BY tau"""
  }

  // ---------------------------------------------------------------- q576

  /** Jain's fairness index of per-user event load, overall and per
    * event type: J = (Σx)² / (n·Σx²) ∈ [1/n, 1] — the systems-fairness
    * number (1 = perfectly even, 1/n = one user is the whole load).
    * Both moments are exact BIGINTs from one keyed agg; q202's Gini
    * prices the same inequality economically, J prices it the way a
    * scheduler reads it.
    */
  val q576JainFairness: QueryDef = QueryDef.sql("q576_jain_fairness", "r53_", "events")(jainSql)

  private def jainSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH pu AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
                    FROM $tbl GROUP BY 1, 2),
        per_type AS (SELECT event_type,
                            CAST(count(*) AS BIGINT) AS n_users,
                            CAST(sum(x) AS BIGINT) AS sx,
                            CAST(sum(x * x) AS BIGINT) AS sxx
                     FROM pu GROUP BY 1),
        tot AS (SELECT 'ALL' AS event_type,
                       CAST(count(*) AS BIGINT) AS n_users,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(x * x) AS BIGINT) AS sxx
                FROM (SELECT user_id, CAST(sum(x) AS BIGINT) AS x
                      FROM pu GROUP BY 1) u),
        u AS (SELECT * FROM per_type UNION ALL SELECT * FROM tot)
        SELECT event_type, n_users,
               ${snap("CAST(sx AS DOUBLE) * sx / (CAST(n_users AS DOUBLE) * sxx)")}
                 AS jain_index,
               ${snap("CAST(1 AS DOUBLE) / n_users")} AS worst_case
        FROM u
        ORDER BY event_type"""
  }

  // ---------------------------------------------------------------- q577

  /** Atkinson inequality index of per-customer order spend at aversion
    * ε ∈ {0.5, 1}: A(1) = 1 − geomean/mean (quantized ln pre-sum),
    * A(0.5) = 1 − ((1/n)Σ√(x/μ))² with each √ quantized pre-sum — the
    * inequality sheet's third panel (q202 Gini, q337 Theil), the one
    * with an explicit "how much do we care about the bottom" dial.
    * Spend is exact integer cents; only the per-user transcendental is
    * quantized.
    */
  val q577Atkinson: QueryDef = QueryDef.sql("q577_atkinson", "r53_", "orders")(atkinsonSql)

  private def atkinsonSql(d: Dialect): String = {
    val tbl = d.t("orders")
    s"""WITH pc AS (SELECT o_custkey,
                           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
                    FROM $tbl GROUP BY 1),
        mu AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(cents) AS BIGINT) AS sc
               FROM pc WHERE cents > 0),
        terms AS (SELECT p.cents, m.n, m.sc,
                         ${qi("ln(CAST(p.cents AS DOUBLE) * m.n / m.sc)")} AS lq,
                         ${qi("sqrt(CAST(p.cents AS DOUBLE) * m.n / m.sc)")} AS sq
                  FROM pc p CROSS JOIN mu m WHERE p.cents > 0),
        agg AS (SELECT max(n) AS n,
                       CAST(sum(lq) AS BIGINT) AS sl,
                       CAST(sum(sq) AS BIGINT) AS ss
                FROM terms)
        SELECT n AS n_customers,
               ${snap("CAST(1 AS DOUBLE) - exp(CAST(sl AS DOUBLE) / 1048576.0 / n)")}
                 AS atkinson_eps1,
               ${snap("CAST(1 AS DOUBLE) - (CAST(ss AS DOUBLE) / 1048576.0 / n) * (CAST(ss AS DOUBLE) / 1048576.0 / n)")}
                 AS atkinson_eps05
        FROM agg"""
  }

  // ---------------------------------------------------------------- q578

  /** Cameron–Trivedi overdispersion test on hourly event counts: cells
    * are (dow, hour) classes with fitted mean μ̂ = class mean; the
    * auxiliary no-intercept regression of z = (y−μ̂)² − y on μ̂ gives
    * α̂ = Σzμ̂/Σμ̂² with t = α̂·√(Σμ̂²)/s. μ̂ is an exact rational
    * (class-sum/class-count) so zμ̂ and μ̂² terms are quantized
    * pre-sum; α̂ > 0 with t > 1.645 says the Poisson rate-limiter
    * sizing q254's Fano ratio already suspects is wrong, with a test
    * statistic this time.
    */
  val q578Overdispersion: QueryDef = QueryDef.sql("q578_overdispersion", "r53_", "events")(odSql)

  private def odSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    s"""WITH e AS (SELECT ($us ${d.idiv} 3600000000) AS hh,
                          (($us ${d.idiv} 86400000000) + 4) % 7 AS dow,
                          ($us ${d.idiv} 3600000000) % 24 AS hr
                   FROM $tbl),
        hc AS (SELECT dow, hr, hh, CAST(count(*) AS BIGINT) AS y
               FROM e GROUP BY 1, 2, 3),
        cls AS (SELECT dow, hr,
                       CAST(count(*) AS BIGINT) AS m,
                       CAST(sum(y) AS BIGINT) AS sy
                FROM hc GROUP BY 1, 2),
        z AS (SELECT h.y, c.sy, c.m,
                     ${qi("((h.y - CAST(c.sy AS DOUBLE) / c.m) * (h.y - CAST(c.sy AS DOUBLE) / c.m) - h.y) * (CAST(c.sy AS DOUBLE) / c.m)")} AS zmq,
                     ${qi("(CAST(c.sy AS DOUBLE) / c.m) * (CAST(c.sy AS DOUBLE) / c.m)")} AS mmq,
                     ${qi("((h.y - CAST(c.sy AS DOUBLE) / c.m) * (h.y - CAST(c.sy AS DOUBLE) / c.m) - h.y) * ((h.y - CAST(c.sy AS DOUBLE) / c.m) * (h.y - CAST(c.sy AS DOUBLE) / c.m) - h.y)")} AS zzq
              FROM hc h JOIN cls c ON c.dow = h.dow AND c.hr = h.hr),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(zmq) AS BIGINT) AS szm,
                       CAST(sum(mmq) AS BIGINT) AS smm,
                       CAST(sum(zzq) AS BIGINT) AS szz
                FROM z),
        fit AS (SELECT n,
                       CAST(szm AS DOUBLE) / smm AS alpha,
                       (CAST(szz AS DOUBLE) / 1048576.0
                         - (CAST(szm AS DOUBLE) / smm) * (CAST(szm AS DOUBLE) / 1048576.0))
                         / (n - 1) AS s2
                FROM agg),
        tst AS (SELECT f.n, f.alpha,
                       f.alpha * sqrt(CAST(a.smm AS DOUBLE) / 1048576.0)
                         / sqrt(f.s2) AS t
                FROM fit f CROSS JOIN agg a)
        SELECT n AS n_hours,
               ${snap("alpha")} AS alpha_hat,
               ${snap("t")} AS t_stat,
               CAST(CASE WHEN t > CAST(1.645 AS DOUBLE) THEN 1 ELSE 0 END AS INT)
                 AS overdispersed_95
        FROM tst"""
  }

  val all: Seq[QueryDef] = Seq(
    q575QuantileRegression, q576JainFairness, q577Atkinson, q578Overdispersion)
}
