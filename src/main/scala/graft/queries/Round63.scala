package graft.queries

import graft.queries.SqlFragments._

/** Round-63 additions (q605+): forecast-evaluation panel over the daily
  * event volume, last-7-days holdout — the metrics duel between the two
  * zero-parameter forecasters (naive t−1 vs seasonal-naive t−7: MAE,
  * sMAPE, bias, and Theil's U2 whose denominator IS the naive SSE, so
  * the naive row pins U2 = 1 as a built-in sanity cell), a
  * conformal-style prediction interval (train-residual q90 order
  * statistic applied to the holdout, exact integer coverage — the
  * distribution-free uncertainty band every forecast consumer should
  * demand), and the forecast-combination demonstration (the mean of the
  * two forecasters vs each alone, integer SSEs on a ×2 grid — the
  * classic "the average beats its parents" check). Complements q531's
  * seasonal-naive MASE. House invariants as Round13–62.
  */
object Round63 {

  /** Zero-filled daily series with naive/seasonal lags and the
    * last-7-days holdout marker — shared by all three queries.
    */
  private def seriesCte(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val grid = s"SELECT ${d.closedRange("mn", "mx")} AS d FROM b"
    s"""e AS (SELECT ($us ${d.idiv} 86400000000) AS d FROM $tbl),
        cnt AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY 1),
        b AS (SELECT min(d) AS mn, max(d) AS mx FROM e),
        days AS ($grid),
        y AS (SELECT days.d - b.mn AS t, CAST(coalesce(cnt.y, 0) AS BIGINT) AS y,
                     b.mx - b.mn AS tmax
              FROM days CROSS JOIN b LEFT JOIN cnt ON cnt.d = days.d),
        s AS (SELECT t, y, tmax,
                     CAST(lag(y, 1) OVER (ORDER BY t) AS BIGINT) AS y1,
                     CAST(lag(y, 7) OVER (ORDER BY t) AS BIGINT) AS y7,
                     CASE WHEN t > tmax - 7 THEN 1 ELSE 0 END AS holdout
              FROM y)"""
  }

  // ---------------------------------------------------------------- q605

  /** Naive vs seasonal-naive on the holdout: MAE (exact integer sum of
    * |f−y| over 7 days), bias, sMAPE (per-day 2|f−y|/(|f|+|y|) terms
    * 2^-20-quantized pre-sum, 0 when both are 0), and Theil's U2 =
    * √(SSE_model/SSE_naive) — a pure integer SSE ratio; the naive row's
    * U2 ≡ 1 is the emitted sanity cell.
    */
  val q605ForecastDuel: QueryDef = QueryDef.sql("q605_forecast_duel", "r63_", "events")(duelSql)

  private def duelSql(d: Dialect): String = {
    def modelAgg(f: String, name: String): String =
      s"""SELECT '$name' AS model,
                 CAST(count(*) AS BIGINT) AS n_test,
                 CAST(sum(abs($f - y)) AS BIGINT) AS sae,
                 CAST(sum($f - y) AS BIGINT) AS sbias,
                 CAST(sum(($f - y) * ($f - y)) AS BIGINT) AS sse,
                 CAST(sum(${qi(
        s"""CASE WHEN abs($f) + abs(y) = 0 THEN CAST(0 AS DOUBLE)
                ELSE 2 * CAST(abs($f - y) AS DOUBLE) / (abs($f) + abs(y)) END""")})
                   AS BIGINT) AS smape20,
                 CAST(sum((y1 - y) * (y1 - y)) AS BIGINT) AS sse_naive
          FROM s WHERE holdout = 1 AND y1 IS NOT NULL AND y7 IS NOT NULL"""
    s"""WITH ${seriesCte(d)},
        duel AS (
          ${modelAgg("y1", "naive")}
          UNION ALL
          ${modelAgg("y7", "seasonal_naive")})
        SELECT model, n_test,
               ${snap("CAST(sae AS DOUBLE) / n_test")} AS mae,
               ${snap("CAST(sbias AS DOUBLE) / n_test")} AS bias,
               ${snap("CAST(smape20 AS DOUBLE) / 1048576.0 / n_test")} AS smape,
               ${snap(
        "sqrt(CAST(sse AS DOUBLE)) / sqrt(CAST(sse_naive AS DOUBLE))")} AS theil_u2
        FROM duel ORDER BY model"""
  }

  // ---------------------------------------------------------------- q606

  /** Conformal-style interval for the naive forecast: the q90 EXACT
    * order statistic of the training |residuals| (rank ⌈9m/10⌉ by
    * (value, day) — both engines pick the same element) becomes the
    * holdout band f ± q90; coverage is an integer count over the 7
    * holdout days. Distribution-free, no variance estimate anywhere.
    */
  val q606ConformalCoverage: QueryDef =
    QueryDef.sql("q606_conformal_coverage", "r63_", "events")(conformalSql)

  private def conformalSql(d: Dialect): String = {
    s"""WITH ${seriesCte(d)},
        tr AS (SELECT t, abs(y - y1) AS r
               FROM s WHERE holdout = 0 AND y1 IS NOT NULL),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tr),
        rk AS (SELECT r, CAST(row_number() OVER (ORDER BY r, t) AS BIGINT) AS rn
               FROM tr),
        q AS (SELECT CAST(max(CASE WHEN rk.rn = ((9 * m.m + 9) ${d.idiv} 10)
                                   THEN rk.r END) AS BIGINT) AS q90
              FROM rk CROSS JOIN m),
        te AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
                      CAST(sum(CASE WHEN abs(s.y - s.y1) <= q.q90
                                    THEN 1 ELSE 0 END) AS BIGINT) AS covered
               FROM s CROSS JOIN q WHERE s.holdout = 1 AND s.y1 IS NOT NULL)
        SELECT m.m AS m_train, q.q90 AS q90_resid, te.n_test, te.covered,
               ${snap("CAST(te.covered AS DOUBLE) / te.n_test")} AS coverage
        FROM te CROSS JOIN q CROSS JOIN m"""
  }

  // ---------------------------------------------------------------- q607

  /** Forecast combination: the mean of the naive and seasonal-naive
    * forecasts vs each parent on the holdout, SSEs on the ×2 integer
    * grid ((2y − (y1+y7))² vs (2y − 2y1)², (2y − 2y7)² — no halves
    * ever materialize). Emits the three SSEs and the combo_beats_both
    * verdict, the demonstration behind every ensemble average.
    */
  val q607ForecastCombo: QueryDef = QueryDef.sql("q607_forecast_combo", "r63_", "events")(comboSql)

  private def comboSql(d: Dialect): String =
    s"""WITH ${seriesCte(d)},
        agg AS (SELECT
                  CAST(count(*) AS BIGINT) AS n_test,
                  CAST(sum((2 * y - 2 * y1) * (2 * y - 2 * y1)) AS BIGINT)
                    AS sse4_naive,
                  CAST(sum((2 * y - 2 * y7) * (2 * y - 2 * y7)) AS BIGINT)
                    AS sse4_snaive,
                  CAST(sum((2 * y - (y1 + y7)) * (2 * y - (y1 + y7))) AS BIGINT)
                    AS sse4_combo
                FROM s WHERE holdout = 1 AND y1 IS NOT NULL AND y7 IS NOT NULL)
        SELECT n_test,
               ${snap("CAST(sse4_naive AS DOUBLE) / 4")} AS sse_naive,
               ${snap("CAST(sse4_snaive AS DOUBLE) / 4")} AS sse_snaive,
               ${snap("CAST(sse4_combo AS DOUBLE) / 4")} AS sse_combo,
               CAST(CASE WHEN sse4_combo < sse4_naive
                          AND sse4_combo < sse4_snaive
                    THEN 1 ELSE 0 END AS INT) AS combo_beats_both
        FROM agg"""

  val all: Seq[QueryDef] =
    Seq(q605ForecastDuel, q606ConformalCoverage, q607ForecastCombo)
}
