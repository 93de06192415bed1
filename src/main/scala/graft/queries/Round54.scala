package graft.queries

import graft.queries.SqlFragments._

/** Round-54 additions (q579+): process-control and agreement audits —
  * a Shewhart X̄ control chart over daily subgroups of hourly counts
  * (memoryless 3σ limits, the complement of q502's memoryful CUSUM), a
  * TOST equivalence test of the click vs view value means ("not
  * significantly different" ≠ "equivalent" — TOST proves the latter),
  * and a Bland–Altman agreement analysis between each order's stored
  * total and the total recomputed from its line items — the
  * denormalization-reconciliation audit every warehouse owes its
  * consumers. House invariants as Round13–53.
  */
object Round54 {

  // ---------------------------------------------------------------- q579

  /** Shewhart X̄ control chart: subgroups = days, samples = the 24
    * zero-filled hourly counts of each day; center line = grand mean,
    * limits = μ ± 3·s_p/√24 with s_p² the pooled within-day variance —
    * every moment an exact BIGINT (counts are integers; within-day
    * squared deviations ride 24²-scaled integer numerators). Emits each
    * day's X̄, the limits, and the out-of-control flag; q502's CUSUM
    * accumulates small shifts, this catches the single bad day.
    */
  val q579XbarChart: QueryDef = QueryDef.sql("q579_xbar_chart", "r54_", "events")(xbarSql)

  private def xbarSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS hh FROM b"
    s"""WITH e AS (SELECT ($us ${d.idiv} 3600000000) AS hh FROM $tbl),
        cnt AS (SELECT hh, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY 1),
        b AS (SELECT min(hh) AS mn, max(hh) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT (g.hh - g.mn) ${d.idiv} 24 AS d, CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.hh = g.hh),
        sg AS (SELECT d, CAST(count(*) AS BIGINT) AS m,
                      CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(y * y) AS BIGINT) AS syy
               FROM s GROUP BY 1),
        full_sg AS (SELECT * FROM sg WHERE m = 24),
        pool AS (SELECT CAST(count(*) AS BIGINT) AS k,
                        CAST(sum(sy) AS BIGINT) AS gs,
                        -- within-day SS numerator ×24: 24·Σy² − (Σy)²
                        CAST(sum(24 * syy - sy * sy) AS BIGINT) AS ssw24
                 FROM full_sg),
        lim AS (SELECT k, gs,
                       CAST(gs AS DOUBLE) / (24 * k) AS mu,
                       -- s_p² = SSW/(k·23); limit width 3·s_p/√24
                       CAST(3 AS DOUBLE) * sqrt(CAST(ssw24 AS DOUBLE) / 24 / (k * 23) / 24) AS w
                FROM pool)
        SELECT f.d AS day_idx,
               ${snap("CAST(f.sy AS DOUBLE) / 24")} AS xbar,
               ${snap("l.mu")} AS center,
               ${snap("l.mu - l.w")} AS lcl,
               ${snap("l.mu + l.w")} AS ucl,
               CAST(CASE WHEN CAST(f.sy AS DOUBLE) / 24 < l.mu - l.w
                           OR CAST(f.sy AS DOUBLE) / 24 > l.mu + l.w
                    THEN 1 ELSE 0 END AS INT) AS out_of_control
        FROM full_sg f CROSS JOIN lim l
        ORDER BY f.d"""
  }

  // ---------------------------------------------------------------- q580

  /** TOST equivalence test of the click vs view mean VALUE within the
    * margin ±0.05: two one-sided Welch t statistics
    * t_lo = (Δ+0.05)/se and t_hi = (Δ−0.05)/se, equivalence declared
    * when t_lo > 1.645 AND t_hi < −1.645 (both one-sided 5% tests
    * reject). Per-event values are 2^-20 quantized pre-sum so the group
    * moments are exact BIGINTs; Welch df rides along. q513 can only
    * FAIL to find a difference — this is the test that can PROVE
    * sameness, the A/A-validation tool.
    */
  val q580Tost: QueryDef = QueryDef.sql("q580_tost", "r54_", "events")(tostSql)

  private def tostSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH g AS (SELECT event_type,
                          CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(${qi("value")}) AS BIGINT) AS sv,
                          CAST(sum(${qi("value * value")}) AS BIGINT) AS svv
                   FROM $tbl WHERE event_type IN ('click', 'view')
                   GROUP BY 1),
        w AS (SELECT
                max(CASE WHEN event_type = 'click' THEN n END) AS na,
                max(CASE WHEN event_type = 'click' THEN sv END) AS sa,
                max(CASE WHEN event_type = 'click' THEN svv END) AS qa,
                max(CASE WHEN event_type = 'view' THEN n END) AS nb,
                max(CASE WHEN event_type = 'view' THEN sv END) AS sb,
                max(CASE WHEN event_type = 'view' THEN svv END) AS qb
              FROM g),
        m AS (SELECT na, nb,
                     CAST(sa AS DOUBLE) / 1048576.0 / na AS ma,
                     CAST(sb AS DOUBLE) / 1048576.0 / nb AS mb,
                     (CAST(qa AS DOUBLE) / 1048576.0
                       - (CAST(sa AS DOUBLE) / 1048576.0) * (CAST(sa AS DOUBLE) / 1048576.0) / na)
                       / (na - 1) / na AS va,
                     (CAST(qb AS DOUBLE) / 1048576.0
                       - (CAST(sb AS DOUBLE) / 1048576.0) * (CAST(sb AS DOUBLE) / 1048576.0) / nb)
                       / (nb - 1) / nb AS vb
              FROM w),
        t AS (SELECT na, nb, ma, mb,
                     ma - mb AS delta,
                     sqrt(va + vb) AS se
              FROM m)
        SELECT na AS n_click, nb AS n_view,
               ${snap("delta")} AS mean_diff,
               ${snap("se")} AS se_diff,
               ${snap("(delta + CAST(0.05 AS DOUBLE)) / se")} AS t_lower,
               ${snap("(delta - CAST(0.05 AS DOUBLE)) / se")} AS t_upper,
               CAST(CASE WHEN (delta + CAST(0.05 AS DOUBLE)) / se > CAST(1.645 AS DOUBLE)
                          AND (delta - CAST(0.05 AS DOUBLE)) / se < CAST(-1.645 AS DOUBLE)
                    THEN 1 ELSE 0 END AS INT) AS equivalent_margin_005
        FROM t"""
  }

  // ---------------------------------------------------------------- q581

  /** Bland–Altman agreement between each order's STORED total and the
    * total RECOMPUTED from its line items (Σ extendedprice·(1−discount),
    * exact integer cents with half-up rounding per line): bias = mean
    * difference, 95% limits of agreement bias ± 1.96·sd (per-order
    * squared deviations quantized pre-sum), and the share of orders
    * outside their own limits. The reconciliation number for a
    * denormalized column — q572 checks the KEYS agree, this checks the
    * MONEY does.
    */
  val q581BlandAltman: QueryDef =
    QueryDef.sql("q581_bland_altman", "r54_", "orders", "lineitem")(blandSql)

  private def blandSql(d: Dialect): String = {
    // Σdc² needs >63 bits at bench scale (|dc| is tax-sized cents, ~1e6;
    // 150k orders ⇒ ~1e18+): DuckDB's sum(BIGINT) widens to HUGEINT on
    // its own, Spark's stays BIGINT and ANSI-overflows — so the Spark
    // side sums the per-row squares (each far inside 63 bits) in
    // DECIMAL(38,0). Both paths are exact integers; only the final
    // moments are cast to DOUBLE.
    val sddExpr = d match {
      case _: Spark => "sum(CAST(dc * dc AS DECIMAL(38,0)))"
      case DuckDb => "sum(dc * dc)"
    }
    s"""WITH li AS (SELECT l_orderkey,
                           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS calc_cents
                    FROM ${d.t("lineitem")} GROUP BY 1),
        pairs AS (SELECT o.o_orderkey,
                         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS stored_cents,
                         li.calc_cents
                  FROM ${d.t("orders")} o JOIN li ON li.l_orderkey = o.o_orderkey),
        d AS (SELECT o_orderkey,
                     stored_cents - calc_cents AS dc
              FROM pairs),
        mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(dc) AS BIGINT) AS sd,
                      $sddExpr AS sdd
               FROM d),
        st AS (SELECT n,
                      CAST(sd AS DOUBLE) / n / 100 AS bias,
                      sqrt((CAST(sdd AS DOUBLE)
                        - CAST(sd AS DOUBLE) * sd / n) / (n - 1)) / 100 AS sdev
               FROM mo),
        outside AS (SELECT CAST(sum(CASE
                        WHEN CAST(d.dc AS DOUBLE) / 100 < s2.bias - CAST(1.96 AS DOUBLE) * s2.sdev
                          OR CAST(d.dc AS DOUBLE) / 100 > s2.bias + CAST(1.96 AS DOUBLE) * s2.sdev
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
                           max(s2.n) AS n
                    FROM d CROSS JOIN st s2)
        SELECT o.n AS n_orders,
               ${snap("s2.bias")} AS bias_dollars,
               ${snap("s2.bias - CAST(1.96 AS DOUBLE) * s2.sdev")} AS loa_low,
               ${snap("s2.bias + CAST(1.96 AS DOUBLE) * s2.sdev")} AS loa_high,
               o.n_out AS n_outside_loa,
               ${snap("CAST(o.n_out AS DOUBLE) / o.n")} AS share_outside
        FROM outside o CROSS JOIN st s2"""
  }

  val all: Seq[QueryDef] = Seq(q579XbarChart, q580Tost, q581BlandAltman)
}
