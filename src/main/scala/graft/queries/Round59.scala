package graft.queries

import graft.queries.SqlFragments._

/** Round-59 additions (q594+): multiple-testing / experiment-design
  * panel — a Holm step-down over the five "does this event type's mean
  * value differ from the rest" Welch tests (the family-wise-error
  * correction a metrics dashboard running five tests at once owes its
  * readers; critical z values are the standard normal quantiles for
  * α = 0.05, hard-coded to 16 digits, cited not invented), and the
  * minimum-detectable-effect panel for each type's traffic share across
  * the first-vs-second half of the corpus (the "is this A/B readout
  * even powered" number, α = 0.05 two-sided, power = 0.8). House
  * invariants as Round13–58.
  */
object Round59 {

  // ---------------------------------------------------------------- q594

  /** Holm step-down over five one-vs-rest Welch z tests of mean event
    * value. Ranks order |z| descending (event_type tiebreak); rank r
    * tests at level α/(m−r+1), i.e. against Φ⁻¹(1 − 0.05/(2(m−r+1))):
    * 2.5758293035489, 2.4977054744123737, 2.3939797998185104,
    * 2.2414027276049464, 1.9599639845400536 — and the step-down STOPS
    * at the first failure (window min over the pass indicators), which
    * is what separates Holm from naive per-rank Bonferroni. Group
    * moments are 2^-20-quantized pre-sum exactly as q580.
    */
  val q594HolmStepdown: QueryDef = QueryDef.sql("q594_holm_stepdown", "r59_", "events")(holmSql)

  private def holmSql(d: Dialect): String = {
    val tbl = d.t("events")
    val crit = d match {
      case _: Spark =>
        """SELECT * FROM VALUES
             (1, CAST(2.5758293035489 AS DOUBLE)),
             (2, CAST(2.4977054744123737 AS DOUBLE)),
             (3, CAST(2.3939797998185104 AS DOUBLE)),
             (4, CAST(2.2414027276049464 AS DOUBLE)),
             (5, CAST(1.9599639845400536 AS DOUBLE)) AS t(rnk, c)"""
      case DuckDb =>
        """SELECT * FROM (VALUES
             (1, CAST(2.5758293035489 AS DOUBLE)),
             (2, CAST(2.4977054744123737 AS DOUBLE)),
             (3, CAST(2.3939797998185104 AS DOUBLE)),
             (4, CAST(2.2414027276049464 AS DOUBLE)),
             (5, CAST(1.9599639845400536 AS DOUBLE))) AS t(rnk, c)"""
    }
    s"""WITH g AS (SELECT event_type,
                          CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(${qi("value")}) AS BIGINT) AS sv,
                          CAST(sum(${qi("value * value")}) AS BIGINT) AS svv
                   FROM $tbl GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                       CAST(sum(sv) AS BIGINT) AS sv,
                       CAST(sum(svv) AS BIGINT) AS svv
                FROM g),
        z AS (SELECT g.event_type, g.n,
                     (CAST(g.sv AS DOUBLE) / 1048576.0 / g.n
                       - CAST(tot.sv - g.sv AS DOUBLE) / 1048576.0 / (tot.n - g.n))
                     / sqrt(
                         (CAST(g.svv AS DOUBLE) / 1048576.0
                           - (CAST(g.sv AS DOUBLE) / 1048576.0)
                             * (CAST(g.sv AS DOUBLE) / 1048576.0) / g.n)
                           / (g.n - 1) / g.n
                         + (CAST(tot.svv - g.svv AS DOUBLE) / 1048576.0
                             - (CAST(tot.sv - g.sv AS DOUBLE) / 1048576.0)
                               * (CAST(tot.sv - g.sv AS DOUBLE) / 1048576.0)
                               / (tot.n - g.n))
                           / (tot.n - g.n - 1) / (tot.n - g.n)) AS z
              FROM g CROSS JOIN tot),
        rk AS (SELECT event_type, n, z, abs(z) AS az,
                      CAST(row_number() OVER (ORDER BY abs(z) DESC, event_type)
                        AS INT) AS r
               FROM z),
        crit AS ($crit),
        step0 AS (SELECT rk.event_type, rk.n, rk.z, rk.r, crit.c,
                        CASE WHEN rk.az > crit.c THEN 1 ELSE 0 END AS pass
                 FROM rk JOIN crit ON crit.rnk = rk.r),
        steps AS (SELECT event_type, n, z, r, c,
                       CAST(min(pass) OVER (ORDER BY r
                         ROWS UNBOUNDED PRECEDING) AS INT) AS holm_reject
                FROM step0)
        SELECT event_type, n AS n_events,
               ${snap("z")} AS z_welch,
               r AS holm_rank,
               ${snap("c")} AS z_critical,
               holm_reject
        FROM steps ORDER BY r"""
  }

  // ---------------------------------------------------------------- q595

  /** Minimum detectable effect for each event type's traffic share,
    * first-half vs second-half days: MDE = (z_{1−α/2} + z_{power}) ·
    * √(p̂(1−p̂)(1/n₁ + 1/n₂)) with α = 0.05, power = 0.8 (1.9599639845…
    * + 0.8416212335729144). Integer counts all the way to the one
    * √ — and the verdict column: is the OBSERVED half-to-half shift
    * bigger than what this sample could reliably detect (i.e. is the
    * "drift" readout powered, or noise-level by design).
    */
  val q595MdePanel: QueryDef = QueryDef.sql("q595_mde_panel", "r59_", "events")(mdeSql)

  private def mdeSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    s"""WITH e AS (SELECT ($us ${d.idiv} 86400000000) AS d, event_type FROM $tbl),
        b AS (SELECT min(d) AS mn, max(d) AS mx FROM e),
        h AS (SELECT e.event_type,
                     CASE WHEN e.d < b.mn + (b.mx - b.mn + 1) ${d.idiv} 2
                          THEN 1 ELSE 2 END AS half
              FROM e CROSS JOIN b),
        nh AS (SELECT half, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1),
        kh AS (SELECT event_type, half, CAST(count(*) AS BIGINT) AS k
               FROM h GROUP BY 1, 2),
        w AS (SELECT t.event_type,
                     max(CASE WHEN kh.half = 1 THEN kh.k ELSE 0 END) AS k1,
                     max(CASE WHEN kh.half = 2 THEN kh.k ELSE 0 END) AS k2
              FROM (SELECT DISTINCT event_type FROM e) t
              LEFT JOIN kh ON kh.event_type = t.event_type
              GROUP BY 1),
        nn AS (SELECT
                 max(CASE WHEN half = 1 THEN n ELSE 0 END) AS n1,
                 max(CASE WHEN half = 2 THEN n ELSE 0 END) AS n2
               FROM nh),
        f AS (SELECT w.event_type, nn.n1, nn.n2, w.k1, w.k2,
                     CAST(w.k1 + w.k2 AS DOUBLE) / (nn.n1 + nn.n2) AS pp,
                     CAST(w.k1 AS DOUBLE) / nn.n1
                       - CAST(w.k2 AS DOUBLE) / nn.n2 AS shift
              FROM w CROSS JOIN nn),
        m AS (SELECT event_type, n1, n2, k1, k2, pp, shift,
                     (CAST(1.9599639845400536 AS DOUBLE)
                       + CAST(0.8416212335729144 AS DOUBLE))
                       * sqrt(pp * (1 - pp)
                              * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2))
                       AS mde
              FROM f)
        SELECT event_type, n1, n2, k1, k2,
               ${snap("pp")} AS p_pooled,
               ${snap("shift")} AS observed_shift,
               ${snap("mde")} AS mde_abs,
               ${snap("mde / pp")} AS mde_rel,
               CAST(CASE WHEN abs(shift) > mde THEN 1 ELSE 0 END AS INT)
                 AS shift_detectable
        FROM m ORDER BY event_type"""
  }

  val all: Seq[QueryDef] = Seq(q594HolmStepdown, q595MdePanel)
}
