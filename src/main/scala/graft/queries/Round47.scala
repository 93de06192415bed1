package graft.queries

import graft.queries.SqlFragments._

/** Round-47 additions (q548+): forecasting calibration, concordance,
  * experimentation and a drift capstone — empirical prediction-interval
  * coverage (does the naive band hold out of sample), Kendall's W
  * across weekly volume rankings, two-covariate regression adjustment
  * (the CUPED++ closed form), a small-file compaction cost model, a
  * switchback experiment with period-level inference, and q553: one
  * scorecard computing KS, Wasserstein-1, energy distance, MMD and JS
  * on the same pair in one pass — whose energy and MMD cells must equal
  * q538/q527's values from INDEPENDENTLY WRITTEN SQL. House invariants
  * as Round13-46.
  */
object Round47 {

  // ---------------------------------------------------------------- q548

  /** Prediction-interval coverage backtest: calibrate the naive
    * band (|Δ| quantile at {50, 90}% over the first 70% of days,
    * type-1), then measure out-of-sample coverage on the rest — the
    * calibration gap says whether yesterday's volatility prices
    * tomorrow's. All exact integers until the final shares.
    */
  val q548IntervalCoverage: QueryDef =
    QueryDef.sql("q548_interval_coverage", "r47_", "orders")(coverageSql)

  private def coverageSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    val qs = s"SELECT ${d.list("50, 90")} AS nom"
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.dd - g.mn AS idx, CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
        d AS (SELECT s.idx, abs(s.y - lag(s.y) OVER (ORDER BY s.idx)) AS ad
              FROM s),
        cal AS (SELECT d.ad FROM d CROSS JOIN nn
                WHERE d.ad IS NOT NULL AND d.idx < (7 * nn.n) ${d.idiv} 10),
        ncal AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM cal),
        cdist AS (SELECT ad, CAST(count(*) AS BIGINT) AS c FROM cal GROUP BY 1),
        ccum AS (SELECT ad, CAST(sum(c) OVER (ORDER BY ad) AS BIGINT) AS cle FROM cdist),
        qg AS ($qs),
        hw AS (SELECT g.nom, min(ccum.ad) AS h
               FROM qg g CROSS JOIN ncal
               JOIN ccum ON ccum.cle >= (g.nom * ncal.nc + 99) ${d.idiv} 100
               GROUP BY 1
               LIMIT 8),
        test AS (SELECT d.ad FROM d CROSS JOIN nn
                 WHERE d.ad IS NOT NULL AND d.idx >= (7 * nn.n) ${d.idiv} 10),
        cov AS (SELECT hw.nom, hw.h,
                       CAST(count(*) AS BIGINT) AS nt,
                       CAST(sum(CASE WHEN t.ad <= hw.h THEN 1 ELSE 0 END) AS BIGINT) AS hit
                FROM hw CROSS JOIN test t
                GROUP BY 1, 2)
        SELECT CAST(nom AS BIGINT) AS nominal_pct,
               CAST(h AS BIGINT) AS halfwidth,
               nt AS n_test_days,
               ${snap("CAST(hit AS DOUBLE) / nt")} AS coverage,
               ${snap("CAST(hit AS DOUBLE) / nt - CAST(nom AS DOUBLE) / 100")} AS calibration_gap
        FROM cov
        ORDER BY nominal_pct"""
  }

  // ---------------------------------------------------------------- q549

  /** Kendall's W concordance of weekly event-type volume rankings:
    * ranks within each week by (count desc, type asc — a deterministic
    * total order, no tie-averaging), W = 3·Σ(2Rⱼ − k(m+1))²/(k²m(m²−1))
    * as an exact integer ratio, plus the χ² = k(m−1)W test. W ≈ 1 means
    * the type mix is stable week over week; the multi-ranking companion
    * to q339's pairwise τ.
    */
  val q549KendallW: QueryDef = QueryDef.sql("q549_kendall_w", "r47_", "events")(kendallWSql)

  private def kendallWSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    s"""WITH e AS (SELECT event_type, ($dd) ${d.idiv} 7 AS wk FROM $tbl),
        wt AS (SELECT wk, event_type, CAST(count(*) AS BIGINT) AS c
               FROM e GROUP BY 1, 2),
        tys AS (SELECT DISTINCT event_type FROM e LIMIT 64),
        wks AS (SELECT DISTINCT wk FROM e),
        full_grid AS (SELECT w.wk, t.event_type FROM wks w CROSS JOIN tys t),
        z AS (SELECT g.wk, g.event_type, CAST(coalesce(wt.c, 0) AS BIGINT) AS c
              FROM full_grid g LEFT JOIN wt
                ON wt.wk = g.wk AND wt.event_type = g.event_type),
        rk AS (SELECT wk, event_type,
                      CAST(row_number() OVER (PARTITION BY wk
                        ORDER BY c DESC, event_type ASC) AS BIGINT) AS r
               FROM z),
        rs AS (SELECT event_type, CAST(sum(r) AS BIGINT) AS rj FROM rk GROUP BY 1),
        km AS (SELECT CAST(count(DISTINCT wk) AS BIGINT) AS k,
                      CAST(count(DISTINCT event_type) AS BIGINT) AS m
               FROM z),
        s2 AS (SELECT CAST(sum((2 * rs.rj - km.k * (km.m + 1)) *
                               (2 * rs.rj - km.k * (km.m + 1))) AS BIGINT) AS ss
               FROM rs CROSS JOIN km)
        SELECT km.k AS n_weeks, km.m AS n_types,
               ${snap("CAST(3 AS DOUBLE) * s2.ss / (CAST(km.k AS DOUBLE) * km.k * km.m * (km.m * km.m - 1))")}
                 AS kendall_w,
               ${snap("CAST(km.k AS DOUBLE) * (km.m - 1) * (CAST(3 AS DOUBLE) * s2.ss / (CAST(km.k AS DOUBLE) * km.k * km.m * (km.m * km.m - 1)))")}
                 AS chi2_stat,
               CAST(CASE WHEN CAST(km.k AS DOUBLE) * (km.m - 1) *
                 (CAST(3 AS DOUBLE) * s2.ss / (CAST(km.k AS DOUBLE) * km.k * km.m * (km.m * km.m - 1)))
                 > CAST(9.487729036781154 AS DOUBLE) THEN 1 ELSE 0 END AS INT)
                 AS reject_independence_95
        FROM km CROSS JOIN s2"""
  }

  // ---------------------------------------------------------------- q550

  /** Two-covariate regression adjustment (CUPED++): per-user purchase
    * spend regressed on click and view counts via the exact 2×2
    * centered normal equations (every moment a quantized BIGINT sum),
    * coefficients by Cramer's rule, and the variance-reduction factor
    * 1 − R² — how much experiment sensitivity the two covariates buy
    * over q208/q465's single-covariate CUPED.
    */
  val q550RegressionAdjustment: QueryDef =
    QueryDef.sql("q550_regression_adjustment", "r47_", "events")(regAdjSql)

  private def regAdjSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH u AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(round(value * CAST(100 AS DOUBLE)) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS yc,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
                 CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x2
          FROM $tbl GROUP BY 1),
        mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
                      CAST(sum(yc) AS BIGINT) AS sy,
                      CAST(sum(x1 * x1) AS BIGINT) AS s11,
                      CAST(sum(x2 * x2) AS BIGINT) AS s22,
                      CAST(sum(x1 * x2) AS BIGINT) AS s12,
                      CAST(sum(x1 * yc) AS BIGINT) AS s1y,
                      CAST(sum(x2 * yc) AS BIGINT) AS s2y,
                      CAST(sum(yc * yc) AS BIGINT) AS syy
               FROM u),
        cc AS (SELECT n,
                      CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11,
                      CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22,
                      CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12,
                      CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n AS c1y,
                      CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n AS c2y,
                      CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy
               FROM mo),
        fit AS (SELECT n, cyy,
                       (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
                       (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2,
                       c1y, c2y
                FROM cc)
        SELECT n AS n_users,
               ${snap("b1 / 100")} AS beta_click_dollars,
               ${snap("b2 / 100")} AS beta_view_dollars,
               ${snap("(b1 * c1y + b2 * c2y) / cyy")} AS r_squared,
               ${snap("CAST(1 AS DOUBLE) - (b1 * c1y + b2 * c2y) / cyy")} AS variance_ratio_left
        FROM fit"""
  }

  // ---------------------------------------------------------------- q551

  /** Small-file compaction cost model: order rows grouped into daily /
    * weekly / monthly files, scan cost modeled as n_files·1000 + rows
    * (per-file overhead in row-equivalents), with the exact median file
    * size and the small-file share (< 100 rows) per layout — the sheet
    * that justifies (or kills) a compaction job before anyone runs it.
    */
  val q551CompactionModel: QueryDef =
    QueryDef.sql("q551_compaction_model", "r47_", "orders")(compactionSql)

  private def compactionSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    def layout(name: String, unit: String): String =
      s"""SELECT '$name' AS layout, CAST(dd ${d.idiv} $unit AS BIGINT) AS f,
                 CAST(count(*) AS BIGINT) AS r
          FROM o GROUP BY 2"""
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        files AS (${layout("1_daily", "1")}
                  UNION ALL ${layout("2_weekly", "7")}
                  UNION ALL ${layout("3_monthly", "30")}),
        fd AS (SELECT layout, r, CAST(count(*) AS BIGINT) AS c
               FROM files GROUP BY 1, 2),
        fcum AS (SELECT layout, r, CAST(sum(c) OVER (PARTITION BY layout
                   ORDER BY r) AS BIGINT) AS cle
                 FROM fd),
        fn AS (SELECT layout, CAST(count(*) AS BIGINT) AS nf,
                      CAST(sum(r) AS BIGINT) AS rows_total,
                      CAST(sum(CASE WHEN r < 100 THEN 1 ELSE 0 END) AS BIGINT) AS small
               FROM files GROUP BY 1),
        med AS (SELECT fc.layout, min(fc.r) AS p50
                FROM fcum fc JOIN fn ON fn.layout = fc.layout
                WHERE fc.cle >= (fn.nf + 1) ${d.idiv} 2
                GROUP BY 1),
        daily AS (SELECT nf * 1000 + rows_total AS c0 FROM fn
                  WHERE layout = '1_daily' LIMIT 8)
        SELECT fn.layout,
               fn.nf AS n_files,
               CAST(m.p50 AS BIGINT) AS median_file_rows,
               ${snap("CAST(fn.small AS DOUBLE) / fn.nf")} AS small_file_share,
               CAST(fn.nf * 1000 + fn.rows_total AS BIGINT) AS scan_cost,
               ${snap("CAST(fn.nf * 1000 + fn.rows_total AS DOUBLE) / d.c0")} AS cost_vs_daily
        FROM fn JOIN med m ON m.layout = fn.layout CROSS JOIN daily d
        ORDER BY fn.layout"""
  }

  // ---------------------------------------------------------------- q552

  /** Switchback experiment replay: hours flip between arms by an md5
    * coin, the outcome is the hourly mean event value, and inference is
    * PERIOD-LEVEL (mean of hourly means per arm, Welch SE across
    * periods — the clustering that naive row-level t-tests ignore).
    * Hourly means quantize before the cross-period moments.
    */
  val q552Switchback: QueryDef = QueryDef.sql("q552_switchback", "r47_", "events")(switchbackSql)

  private def switchbackSql(d: Dialect): String = {
    val tbl = d.t("events")
    val hh = s"${d.epochUs("ts")} ${d.idiv} 3600000000"
    s"""WITH e AS (SELECT $hh AS hh, value AS v FROM $tbl),
        per AS (SELECT hh,
                       ${md5i(s"'sb:' || CAST(hh AS ${d.str})", d)} % 2 AS arm,
                       CAST(count(*) AS BIGINT) AS c,
                       CAST(sum(${qi("v")}) AS BIGINT) AS sv
                FROM e GROUP BY 1, 2),
        pm AS (SELECT arm,
                      ${qi("CAST(sv AS DOUBLE) / 1048576.0 / c")} AS mq
               FROM per),
        st AS (SELECT arm, CAST(count(*) AS BIGINT) AS k,
                      CAST(sum(mq) AS BIGINT) AS s1,
                      CAST(sum(${qi("(CAST(mq AS DOUBLE) / 1048576.0) * (CAST(mq AS DOUBLE) / 1048576.0)")}) AS BIGINT) AS s2
               FROM pm GROUP BY 1),
        t AS (SELECT CAST(max(CASE WHEN arm = 1 THEN k END) AS BIGINT) AS kt,
                     CAST(max(CASE WHEN arm = 0 THEN k END) AS BIGINT) AS kc,
                     max(CASE WHEN arm = 1 THEN CAST(s1 AS DOUBLE) / 1048576.0 / k END) AS mt,
                     max(CASE WHEN arm = 0 THEN CAST(s1 AS DOUBLE) / 1048576.0 / k END) AS mc,
                     max(CASE WHEN arm = 1 THEN (CAST(s2 AS DOUBLE) / 1048576.0
                       - (CAST(s1 AS DOUBLE) / 1048576.0 / k) * (CAST(s1 AS DOUBLE) / 1048576.0 / k) * k) / (k - 1) END) AS vt,
                     max(CASE WHEN arm = 0 THEN (CAST(s2 AS DOUBLE) / 1048576.0
                       - (CAST(s1 AS DOUBLE) / 1048576.0 / k) * (CAST(s1 AS DOUBLE) / 1048576.0 / k) * k) / (k - 1) END) AS vc
              FROM st)
        SELECT kt AS n_periods_treat, kc AS n_periods_ctrl,
               ${snap("mt")} AS mean_treat,
               ${snap("mc")} AS mean_ctrl,
               ${snap("mt - mc")} AS effect,
               ${snap("sqrt(vt / kt + vc / kc)")} AS period_se,
               ${snap("(mt - mc) / sqrt(vt / kt + vc / kc)")} AS t_stat,
               CAST(CASE WHEN abs((mt - mc) / sqrt(vt / kt + vc / kc)) >
                 CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS reject_95
        FROM t"""
  }

  // ---------------------------------------------------------------- q553

  /** THE DRIFT SCORECARD (q553): five two-sample statistics between
    * click and view values in ONE pass over shared cumulative tables —
    * exact KS sup (integer cross-multiplied CDF gaps), exact
    * Wasserstein-1 (CDF-gap × value-gap integral on cents), exact
    * energy distance (the q538 algebra), Gaussian MMD² at γ = 50 (the
    * q527 bins), and Jensen–Shannon divergence on dollar bins. The
    * energy and MMD cells must equal q538/q527's standalone values —
    * independently written SQL agreeing to the last bit is the
    * strongest consistency check the catalogue can make on itself.
    */
  val q553DriftScorecard: QueryDef =
    QueryDef.sql("q553_drift_scorecard", "r47_", "events")(scorecardSql)

  private def scorecardSql(d: Dialect): String = {
    val tbl = d.t("events")
    def kern(a: String, b: String): String =
      s"exp(-CAST(($a - $b) * ($a - $b) AS DOUBLE) / (CAST(2 AS DOUBLE) * 50 * 50))"
    s"""WITH b AS (
          SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g,
                 value AS v,
                 CAST(round(value * CAST(100 AS DOUBLE)) AS BIGINT) AS cents,
                 CAST(round(value) AS BIGINT) AS dollars
          FROM $tbl WHERE event_type IN ('click', 'view')),
        ax AS (SELECT cents,
                      CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                      CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
               FROM b GROUP BY 1),
        cum AS (SELECT cents, ca, cb,
                       CAST(sum(ca) OVER (ORDER BY cents) AS BIGINT) AS fa,
                       CAST(sum(ca * cents) OVER (ORDER BY cents) AS BIGINT) AS sa,
                       CAST(sum(cb) OVER (ORDER BY cents) AS BIGINT) AS fb,
                       CAST(sum(cb * cents) OVER (ORDER BY cents) AS BIGINT) AS sb,
                       lead(cents) OVER (ORDER BY cents) AS nxt
                FROM ax),
        tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(ca * cents) AS BIGINT) AS ta,
                       CAST(sum(cb) AS BIGINT) AS nb, CAST(sum(cb * cents) AS BIGINT) AS tb
                FROM ax),
        ks AS (SELECT CAST(max(abs(c.fa * t.nb - c.fb * t.na)) AS BIGINT) AS num
               FROM cum c CROSS JOIN tot t),
        w1 AS (SELECT CAST(sum(abs(c.fa * t.nb - c.fb * t.na) * (c.nxt - c.cents)) AS BIGINT) AS num
               FROM cum c CROSS JOIN tot t WHERE c.nxt IS NOT NULL),
        en AS (
          SELECT CAST(sum(c.ca * (2 * c.cents * c.fb - 2 * c.sb + t.tb - c.cents * t.nb)) AS BIGINT) AS dxy,
                 CAST(sum(c.ca * (2 * c.cents * c.fa - 2 * c.sa + t.ta - c.cents * t.na)) AS BIGINT) AS dxx,
                 CAST(sum(c.cb * (2 * c.cents * c.fb - 2 * c.sb + t.tb - c.cents * t.nb)) AS BIGINT) AS dyy
          FROM cum c CROSS JOIN tot t),
        da AS (SELECT dollars AS r, CAST(count(*) AS BIGINT) AS c FROM b WHERE g = 0
               GROUP BY 1 LIMIT 1000),
        db AS (SELECT dollars AS r, CAST(count(*) AS BIGINT) AS c FROM b WHERE g = 1
               GROUP BY 1 LIMIT 1000),
        kxx AS (SELECT CAST(sum(${qi("a.c * b2.c * " + kern("a.r", "b2.r"))}) AS BIGINT) AS s
                FROM da a CROSS JOIN da b2),
        kyy AS (SELECT CAST(sum(${qi("a.c * b2.c * " + kern("a.r", "b2.r"))}) AS BIGINT) AS s
                FROM db a CROSS JOIN db b2),
        kxy AS (SELECT CAST(sum(${qi("a.c * b2.c * " + kern("a.r", "b2.r"))}) AS BIGINT) AS s
                FROM da a CROSS JOIN db b2),
        jsb AS (SELECT dollars,
                       CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ja,
                       CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS jb
                FROM b GROUP BY 1),
        js AS (
          SELECT CAST(sum(CASE WHEN ja > 0 THEN ${qi("(CAST(ja AS DOUBLE) / t.na) * ln((CAST(ja AS DOUBLE) / t.na) / ((CAST(ja AS DOUBLE) / t.na + CAST(jb AS DOUBLE) / t.nb) / 2))")} ELSE 0 END) AS BIGINT) AS kla,
                 CAST(sum(CASE WHEN jb > 0 THEN ${qi("(CAST(jb AS DOUBLE) / t.nb) * ln((CAST(jb AS DOUBLE) / t.nb) / ((CAST(ja AS DOUBLE) / t.na + CAST(jb AS DOUBLE) / t.nb) / 2))")} ELSE 0 END) AS BIGINT) AS klb
          FROM jsb CROSS JOIN tot t)
        SELECT t.na AS n_click, t.nb AS n_view,
               ${snap("CAST(k.num AS DOUBLE) / (CAST(t.na AS DOUBLE) * t.nb)")} AS ks_stat,
               ${snap("CAST(w.num AS DOUBLE) / (CAST(t.na AS DOUBLE) * t.nb) / 100")} AS w1_dollars,
               ${snap("CAST(2 AS DOUBLE) * e.dxy / t.na / t.nb / 100 - CAST(e.dxx AS DOUBLE) / t.na / t.na / 100 - CAST(e.dyy AS DOUBLE) / t.nb / t.nb / 100")}
                 AS energy_distance,
               ${snap("CAST(xx.s AS DOUBLE) / 1048576.0 / t.na / t.na + CAST(yy.s AS DOUBLE) / 1048576.0 / t.nb / t.nb - CAST(2 AS DOUBLE) * xy.s / 1048576.0 / t.na / t.nb")}
                 AS mmd2_g50,
               ${snap("(CAST(j.kla AS DOUBLE) / 1048576.0 + CAST(j.klb AS DOUBLE) / 1048576.0) / 2")}
                 AS js_divergence
        FROM tot t CROSS JOIN ks k CROSS JOIN w1 w CROSS JOIN en e
        CROSS JOIN kxx xx CROSS JOIN kyy yy CROSS JOIN kxy xy CROSS JOIN js j"""
  }

  val all: Seq[QueryDef] = Seq(
    q548IntervalCoverage, q549KendallW, q550RegressionAdjustment,
    q551CompactionModel, q552Switchback, q553DriftScorecard)
}
