package graft.queries

import graft.queries.SqlFragments._

/** Round-56 additions (q585+): sequential-drift panel — a Page–Hinkley
  * increase detector over the daily event counts (the classic
  * change-point monitor, here in its window-function form: PH_t =
  * m_t − min_{s≤t} m_s with m the cumulative drift-compensated
  * deviation, every term an exact 2^-20-grid BIGINT), a per-day
  * Hoeffding-bound monitor of the purchase share (the
  * distribution-free "is today's mix off" flag), and Taylor's power law
  * across (event_type × hour-of-day) cells (does variance scale as a
  * power of the mean — the aggregation-design constant that tells a
  * pipeline how partition-level variance extrapolates). House
  * invariants as Round13–55.
  */
object Round56 {

  // ---------------------------------------------------------------- q585

  /** Page–Hinkley increase detector over zero-filled daily counts:
    * deviations d_t = y_t − ȳ_t − δ against the RUNNING mean ȳ_t
    * (δ = 1/2), m_t = Σ_{s≤t} d_s, PH_t = m_t − min_{s≤t} m_s, alarm at
    * PH > λ = 32. The running mean is the one non-integer; it is
    * 2^-20-quantized BEFORE the cumulative sum, so m and PH live on an
    * exact integer grid and the alarm compare is integer-exact in both
    * engines. Emits the full per-day trajectory (audit trail, not just
    * the verdict); q502's CUSUM tracks a KNOWN target mean, PH tracks
    * the self-estimated one.
    */
  val q585PageHinkley: QueryDef = QueryDef.sql("q585_page_hinkley", "r56_", "events")(phSql)

  private def phSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val grid = s"SELECT ${d.closedRange("mn", "mx")} AS d FROM b"
    s"""WITH e AS (SELECT ($us ${d.idiv} 86400000000) AS d FROM $tbl),
        cnt AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY 1),
        b AS (SELECT min(d) AS mn, max(d) AS mx FROM e),
        days AS ($grid),
        y AS (SELECT days.d - b.mn AS t, CAST(coalesce(cnt.y, 0) AS BIGINT) AS y
              FROM days CROSS JOIN b LEFT JOIN cnt ON cnt.d = days.d),
        rm AS (SELECT t, y,
                      CAST(sum(y) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cy
               FROM y),
        dev AS (SELECT t, y,
                       -- 2^20-grid deviation: y − ȳ_t − 1/2, ȳ quantized
                       1048576 * y - ${qi("CAST(cy AS DOUBLE) / (t + 1)")}
                         - 524288 AS d20
                FROM rm),
        m AS (SELECT t, y,
                     CAST(sum(d20) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS m20
              FROM dev),
        ph AS (SELECT t, y, m20,
                      m20 - CAST(min(m20) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS ph20
               FROM m)
        SELECT t AS day_idx, y AS n_events,
               ${snap("CAST(m20 AS DOUBLE) / 1048576")} AS m_stat,
               ${snap("CAST(ph20 AS DOUBLE) / 1048576")} AS ph_stat,
               CAST(CASE WHEN ph20 > 32 * 1048576 THEN 1 ELSE 0 END AS INT) AS alarm
        FROM ph ORDER BY t"""
  }

  // ---------------------------------------------------------------- q586

  /** Hoeffding-bound purchase-share monitor: per day, flag
    * |x_d/n_d − p̂| > ε_d with ε_d = √(ln(2/α)/(2n_d)), α = 0.05 — the
    * distribution-free two-sided deviation bound for a bounded [0,1]
    * variable, no normality assumption (the q573 completeness SLA asks
    * "did volume die", this asks "did the MIX shift"). Shares ride
    * integer counts; the only transcendental is the constant ln 40.
    */
  val q586HoeffdingMonitor: QueryDef =
    QueryDef.sql("q586_hoeffding_monitor", "r56_", "events")(hoeffdingSql)

  private def hoeffdingSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    s"""WITH e AS (SELECT ($us ${d.idiv} 86400000000) AS d,
                          CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                            AS BIGINT) AS x
                   FROM $tbl),
        day AS (SELECT d, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS k
                FROM e GROUP BY 1),
        g AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk
              FROM day),
        f AS (SELECT day.d - (SELECT min(d) FROM day) AS t, day.n, day.k,
                     CAST(day.k AS DOUBLE) / day.n AS share,
                     CAST(g.kk AS DOUBLE) / g.nn AS phat,
                     sqrt(ln(CAST(40 AS DOUBLE)) / (2 * day.n)) AS eps
              FROM day CROSS JOIN g)
        SELECT t AS day_idx, n AS n_events, k AS n_purchases,
               ${snap("share")} AS share,
               ${snap("phat")} AS p_overall,
               ${snap("eps")} AS eps_hoeffding,
               CAST(CASE WHEN abs(share - phat) > eps THEN 1 ELSE 0 END AS INT)
                 AS mix_shift
        FROM f ORDER BY t"""
  }

  // ---------------------------------------------------------------- q587

  /** Taylor's power law across the 5 × 24 (event_type, hour-of-day)
    * cells: each cell's zero-filled daily-count series yields exact
    * BIGINT mean/variance numerators (shared n(n−1) denominator), and
    * ln(variance) is regressed on ln(mean) — slope b is the
    * aggregation constant (b = 1 Poisson, b → 2 clumped) that predicts
    * how partition-level variance extrapolates to 100× data. Logs are
    * 2^-20-quantized pre-sum; OLS moments over the quantized grid are
    * exact BIGINTs.
    */
  val q587TaylorLaw: QueryDef = QueryDef.sql("q587_taylor_law", "r56_", "events")(taylorSql)

  private def taylorSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    s"""WITH e AS (SELECT ($us ${d.idiv} 86400000000) AS d,
                          (($us ${d.idiv} 3600000000) % 24) AS hh, event_type
                   FROM $tbl),
        cnt AS (SELECT event_type, hh, d, CAST(count(*) AS BIGINT) AS y
                FROM e GROUP BY 1, 2, 3),
        b AS (SELECT (max(d) - min(d) + 1) AS nd FROM e),
        -- no zero-fill grid: empty days add 0 to Σy/Σy², so each cell's
        -- moments need only the day-span nd — the (cells × days) product
        -- the plan guard would flag never materializes
        mom AS (SELECT event_type, hh,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(y * y) AS BIGINT) AS syy
                FROM cnt GROUP BY 1, 2),
        lg AS (SELECT ${qi("ln(CAST(sy AS DOUBLE) / n)")} AS lx,
                      ${qi(
        "ln((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1))")} AS ly
               FROM (SELECT mom.sy, mom.syy, b.nd AS n
                     FROM mom CROSS JOIN b) t
               WHERE sy > 0 AND n * syy - sy * sy > 0),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(lx) AS BIGINT) AS sx,
                     CAST(sum(ly) AS BIGINT) AS sy,
                     CAST(sum(lx * lx) AS BIGINT) AS sxx,
                     CAST(sum(lx * ly) AS BIGINT) AS sxy,
                     CAST(sum(ly * ly) AS BIGINT) AS syy
              FROM lg),
        f AS (SELECT n,
                     CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
                     (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE) * sx)
                       / n / 1048576.0 AS icept,
                     CAST(n * sxy - sx * sy AS DOUBLE)
                       * CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)
                       / CAST(n * syy - sy * sy AS DOUBLE) AS r2
              FROM m)
        SELECT n AS n_cells,
               ${snap("slope")} AS taylor_b,
               ${snap("icept")} AS ln_a,
               ${snap("r2")} AS r2,
               CAST(CASE WHEN slope > CAST(1.5 AS DOUBLE) THEN 1 ELSE 0 END AS INT)
                 AS clumped
        FROM f"""
  }

  val all: Seq[QueryDef] = Seq(q585PageHinkley, q586HoeffdingMonitor, q587TaylorLaw)
}
