package graft.queries

import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-48 additions (q554+): extremes, cointegration, survival,
  * probabilistic-forecast scoring, loss systems and explanatory power —
  * GEV shape from exact L-moments of weekly block maxima (q526 fits the
  * exceedance tail; this fits the maxima law), Engle–Granger
  * cointegration of the click/view daily series, Kaplan–Meier RMST with
  * end-of-window censoring (q191 draws the curve; RMST prices it), the
  * CRPS of a rolling 28-day empirical ensemble (the energy-distance
  * identity applied to forecast scoring), an Erlang-B blocking curve as
  * 32 unrolled scalar recursion steps (the LOSS-system companion to
  * q478's Erlang-C), and the η² variance-explained ladder over nested
  * groupings. House invariants as Round13-47.
  */
object Round48 {

  // ---------------------------------------------------------------- q554

  /** GEV shape from L-moments of weekly block maxima of the daily order
    * count: probability-weighted moments b₀/b₁/b₂ as EXACT integer sums
    * over bucket-offset ranks (tie placement is irrelevant — equal
    * values absorb any rank split), λ/τ₃ ratios, and the Hosking
    * approximation k = 7.8590c + 2.9554c², c = 2/(3+τ₃) − ln2/ln3.
    * Sign of k classifies the maxima law (k < 0 heavy/Fréchet); the
    * scale σ needs Γ(1+k), which neither engine shares, so the sheet
    * deliberately stops at shape.
    */
  val q554GevLmoments: QueryDef = QueryDef.sql("q554_gev_lmoments", "r48_", "orders")(gevSql)

  private def gevSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT (g.dd - g.mn) ${d.idiv} 7 AS wk, (g.dd - g.mn) AS idx,
                     CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        wm AS (SELECT wk, CAST(max(y) AS BIGINT) AS m
               FROM s GROUP BY wk HAVING count(*) = 7),
        mv AS (SELECT m, CAST(count(*) AS BIGINT) AS c FROM wm GROUP BY 1),
        boff AS (SELECT m, CAST(coalesce(sum(c) OVER (ORDER BY m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
                 FROM mv),
        rk AS (SELECT w.m,
                      boff.off + CAST(row_number() OVER (
                        PARTITION BY w.m ORDER BY w.wk) AS BIGINT) AS i
               FROM wm w JOIN boff ON boff.m = w.m),
        pwm AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(m) AS BIGINT) AS s0,
                       CAST(sum((i - 1) * m) AS BIGINT) AS s1,
                       CAST(sum((i - 1) * (i - 2) * m) AS BIGINT) AS s2
                FROM rk),
        lm AS (SELECT n,
                      CAST(s0 AS DOUBLE) / n AS l1,
                      CAST(2 AS DOUBLE) * s1 / (CAST(n AS DOUBLE) * (n - 1)) - CAST(s0 AS DOUBLE) / n AS l2,
                      CAST(6 AS DOUBLE) * s2 / (CAST(n AS DOUBLE) * (n - 1) * (n - 2))
                        - CAST(6 AS DOUBLE) * s1 / (CAST(n AS DOUBLE) * (n - 1)) + CAST(s0 AS DOUBLE) / n AS l3
               FROM pwm),
        fit AS (SELECT n, l1, l2, l3 / l2 AS t3,
                       CAST(2 AS DOUBLE) / (3 + l3 / l2) - ln(CAST(2 AS DOUBLE)) / ln(CAST(3 AS DOUBLE)) AS cc
                FROM lm)
        SELECT n AS n_blocks,
               ${snap("l1")} AS l_location,
               ${snap("l2")} AS l_scale,
               ${snap("t3")} AS l_skewness,
               ${snap("CAST(7.8590 AS DOUBLE) * cc + CAST(2.9554 AS DOUBLE) * cc * cc")}
                 AS gev_shape_k,
               CAST(CASE WHEN CAST(7.8590 AS DOUBLE) * cc + CAST(2.9554 AS DOUBLE) * cc * cc
                 < CAST(0 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS heavy_tailed_maxima
        FROM fit"""
  }

  // ---------------------------------------------------------------- q555

  /** Engle–Granger cointegration of the click and view daily count
    * series: stage-1 OLS levels regression from exact moments, stage-2
    * Dickey–Fuller on the residuals (Δe_t on e_{t−1}, no constant) with
    * every residual product 2^20-quantized pre-sum, against the −3.34
    * 5% Engle–Granger critical value. The residual variance divides by
    * t−1 — the conventional df for the single-parameter no-intercept
    * regression. "Do these two streams share a
    * trend" — the question q52's plain correlation can't answer.
    */
  val q555EngleGranger: QueryDef = QueryDef.sql("q555_engle_granger", "r48_", "events")(egSql)

  private def egSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    s"""WITH e AS (SELECT event_type, $dd AS dd FROM $tbl
                   WHERE event_type IN ('click', 'view')),
        cnt AS (SELECT dd,
                       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS yv,
                       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS xv
                FROM e GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.dd - g.mn AS idx,
                     CAST(coalesce(c.yv, 0) AS BIGINT) AS y,
                     CAST(coalesce(c.xv, 0) AS BIGINT) AS x
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * y) AS BIGINT) AS sxy,
                      CAST(sum(x * x) AS BIGINT) AS sxx
               FROM s),
        ab AS (SELECT n, sx, sy,
                      (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS beta
               FROM mo),
        res AS (SELECT s.idx,
                       CAST(s.y AS DOUBLE) - (ab.beta * s.x
                         + (CAST(ab.sy AS DOUBLE) / ab.n - ab.beta * ab.sx / ab.n)) AS e
                FROM s CROSS JOIN ab),
        lagged AS (SELECT idx, e,
                          lag(e) OVER (ORDER BY idx) AS ep
                   FROM res),
        df AS (SELECT CAST(count(*) AS BIGINT) AS t,
                      CAST(sum(${qi("ep * (e - ep)")}) AS BIGINT) AS sed,
                      CAST(sum(${qi("ep * ep")}) AS BIGINT) AS see
               FROM lagged WHERE ep IS NOT NULL),
        phi AS (SELECT t, see,
                       CAST(sed AS DOUBLE) / see AS ph
                FROM df),
        ssr AS (SELECT p.t, p.see, p.ph,
                       CAST(sum(${qi("(l.e - l.ep - p.ph * l.ep) * (l.e - l.ep - p.ph * l.ep)")}) AS BIGINT) AS sq
                FROM lagged l CROSS JOIN phi p WHERE l.ep IS NOT NULL
                GROUP BY 1, 2, 3)
        SELECT a.n AS n_days,
               ${snap("a.beta")} AS coint_beta,
               ${snap("r.ph")} AS df_phi,
               ${snap("r.ph / sqrt((CAST(r.sq AS DOUBLE) / 1048576.0 / (r.t - 1)) / (CAST(r.see AS DOUBLE) / 1048576.0))")}
                 AS adf_t,
               CAST(CASE WHEN r.ph / sqrt((CAST(r.sq AS DOUBLE) / 1048576.0 / (r.t - 1)) / (CAST(r.see AS DOUBLE) / 1048576.0))
                 < CAST(-3.34 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS cointegrated_95
        FROM ab a CROSS JOIN ssr r"""
  }

  // ---------------------------------------------------------------- q556

  /** Kaplan–Meier RMST with end-of-window censoring: a user's observed
    * lifetime is last−first event (days); users last seen within half a
    * day of the corpus end are CENSORED, the rest are churn events (the
    * testdata generator keeps every user active across the ~30-day
    * window, so lifetimes cluster at 26–29 days — a 0.5-day cutoff
    * yields real deaths at every shipped SF where a 3-day cutoff
    * censored 100% and made the curve vacuous). S(t) accumulates as
    * quantized Σ ln(1 − d/r) over ordered death times (span-bounded);
    * S(τ) reads the cumulative log at the LAST death below τ — min(cl),
    * since the cumsum of negative log terms decreases with t — and the
    * restricted mean survival time at τ ∈ {27, 30} days integrates the
    * step curve exactly across the death-time cluster. q191 draws S(t);
    * this prices it in expected retained days.
    */
  val q556KmRmst: QueryDef = QueryDef.sql("q556_km_rmst", "r48_", "events")(rmstSql)

  private def rmstSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val taus = s"SELECT ${d.list("27, 30")} AS tau"
    s"""WITH u AS (SELECT user_id, CAST(min($us) AS BIGINT) AS f,
                          CAST(max($us) AS BIGINT) AS l
                   FROM $tbl GROUP BY 1),
        gmx AS (SELECT CAST(max(l) AS BIGINT) AS gm FROM u),
        lt AS (SELECT u.user_id,
                      (u.l - u.f) ${d.idiv} 86400000000 AS t,
                      CASE WHEN 2 * (g.gm - u.l) < 86400000000 THEN 0 ELSE 1 END AS death
               FROM u CROSS JOIN gmx g),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(death) AS BIGINT) AS nd
               FROM lt),
        dt AS (SELECT t, CAST(count(*) AS BIGINT) AS d
               FROM lt WHERE death = 1 GROUP BY 1),
        av AS (SELECT t, CAST(count(*) AS BIGINT) AS call FROM lt GROUP BY 1),
        cumlt AS (SELECT t, CAST(coalesce(sum(call) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
                  FROM av),
        atrisk AS (SELECT dt.t, dt.d, nn.n - c.below AS r
                   FROM dt JOIN cumlt c ON c.t = dt.t CROSS JOIN nn),
        km AS (SELECT t, d, r,
                      CAST(sum(${qi("ln(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / r)")}) OVER (ORDER BY t) AS BIGINT) AS cl,
                      lead(t) OVER (ORDER BY t) AS nxt
               FROM atrisk),
        tg AS ($taus),
        seg AS (
          SELECT CAST(g.tau AS BIGINT) AS tau,
                 CASE WHEN k.t >= g.tau THEN CAST(0 AS DOUBLE)
                      ELSE exp(CAST(k.cl AS DOUBLE) / 1048576.0)
                        * (least(coalesce(k.nxt, CAST(g.tau AS BIGINT)), CAST(g.tau AS BIGINT)) - k.t)
                 END AS area
          FROM km k CROSS JOIN tg g),
        head AS (SELECT CAST(g.tau AS BIGINT) AS tau,
                        CAST(least(coalesce(k0.mnt, CAST(g.tau AS BIGINT)),
                          CAST(g.tau AS BIGINT)) AS DOUBLE) AS a0
                 FROM tg g CROSS JOIN (SELECT CAST(min(t) AS BIGINT) AS mnt FROM km) k0),
        stau AS (SELECT CAST(g.tau AS BIGINT) AS tau,
                        exp(CAST(coalesce(min(CASE WHEN k.t < g.tau THEN k.cl END), 0) AS DOUBLE) / 1048576.0) AS s_at_tau
                 FROM tg g LEFT JOIN km k ON k.t < g.tau
                 GROUP BY 1)
        SELECT s2.tau AS tau_days,
               nn.n AS n_users, nn.nd AS n_churned,
               ${snap("h.a0 + coalesce(sg.area_sum, CAST(0 AS DOUBLE))")} AS rmst_days,
               ${snap("s2.s_at_tau")} AS survival_at_tau
        FROM stau s2
        JOIN head h ON h.tau = s2.tau
        LEFT JOIN (SELECT tau, sum(area) AS area_sum FROM seg GROUP BY 1) sg
          ON sg.tau = s2.tau
        CROSS JOIN nn
        ORDER BY tau_days"""
  }

  // ---------------------------------------------------------------- q557

  /** CRPS of the rolling 28-day empirical ensemble against each
    * realized daily order count — via the energy-score identity
    * CRPS = E|X−y| − ½E|X−X'|, every term an EXACT integer sum through
    * offset-grid equi-joins (never a window pairwise scan). Reported
    * next to the naive MAE: the skill says whether carrying the whole
    * distribution beats carrying a point.
    */
  val q557Crps: QueryDef = QueryDef.sql("q557_crps", "r48_", "orders")(crpsSql)

  private def crpsSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    val og = s"SELECT ${d.closedRange(1, 28)} AS o"
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.dd - g.mn AS idx, CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        og AS ($og),
        tt AS (SELECT idx, y FROM s WHERE idx >= 28),
        te AS (SELECT tt.idx, tt.y, tt.idx - og.o AS j FROM tt CROSS JOIN og),
        t1 AS (SELECT te.idx, CAST(sum(abs(e.y - te.y)) AS BIGINT) AS sad
               FROM te JOIN s e ON e.idx = te.j
               GROUP BY 1),
        pg AS (SELECT a.o AS o1, b2.o AS o2
               FROM og a JOIN og b2 ON a.o < b2.o),
        tp AS (SELECT tt.idx, tt.idx - pg.o1 AS j1, tt.idx - pg.o2 AS j2
               FROM tt CROSS JOIN pg),
        t2 AS (SELECT tp.idx, CAST(sum(abs(e1.y - e2.y)) AS BIGINT) AS spd
               FROM tp
               JOIN s e1 ON e1.idx = tp.j1
               JOIN s e2 ON e2.idx = tp.j2
               GROUP BY 1),
        naive AS (SELECT t.idx, abs(t.y - e.y) AS ae
                  FROM s t JOIN s e ON e.idx = t.idx - 1
                  WHERE t.idx >= 28),
        crps AS (SELECT t1.idx,
                        CAST(t1.sad AS DOUBLE) / 28 - CAST(t2.spd AS DOUBLE) / (28 * 28) AS c
                 FROM t1 JOIN t2 ON t2.idx = t1.idx),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS nt,
                       CAST(sum(${qi("c")}) AS BIGINT) AS sc
                FROM crps),
        nagg AS (SELECT CAST(sum(ae) AS BIGINT) AS sae, CAST(count(*) AS BIGINT) AS nn2
                 FROM naive)
        SELECT a.nt AS n_test_days,
               ${snap("CAST(a.sc AS DOUBLE) / 1048576.0 / a.nt")} AS mean_crps,
               ${snap("CAST(n.sae AS DOUBLE) / n.nn2")} AS naive_mae,
               ${snap("CAST(1 AS DOUBLE) - (CAST(a.sc AS DOUBLE) / 1048576.0 / a.nt) / (CAST(n.sae AS DOUBLE) / n.nn2)")}
                 AS crps_skill_vs_naive
        FROM agg a CROSS JOIN nagg n"""
  }

  // ---------------------------------------------------------------- q558

  /** Erlang-B blocking curve: B₀ = 1, B_k = a·B_{k−1}/(k + a·B_{k−1}),
    * offered load a = arrival rate × the reference simulator's 0.65 s
    * mean service at a documented 1000× growth what-if. The 32-step
    * recursion is BOUNDED MODEL STATE, driver-iterated on the Spark
    * side (the q431/q479 pattern — one 1-row aggregate collect, then 32
    * local IEEE steps; two earlier cuts failed: 32 unrolled CTEs made
    * Catalyst re-inline the chain into the catalogue's slowest plan,
    * and a quantized log-space closed form divided by zero once the
    * offered load grew past the 2^20 grid at sf0.1). The oracle replays
    * the identical recursion as 32 one-row chained CTEs — DuckDB
    * doesn't re-inline, so the asymmetry costs nothing there. Emits
    * m ∈ {1,2,4,8,16,32} plus the smallest m under 1% blocking — the
    * LOSS-system sheet next to q478's Erlang-C waits.
    */
  val q558ErlangB: QueryDef = QueryDef(
    "q558_erlang_b_curve",
    (s, dir) => {
      import org.apache.spark.sql.{functions => F}
      val row = Tables.events(s, dir)
        .selectExpr("unix_micros(ts) AS t")
        .agg(F.count(F.lit(1)).cast("double").as("n"),
          F.max(F.col("t")).as("mx"), F.min(F.col("t")).as("mn"))
        .head()
      val a = row.getDouble(0) /
        ((row.getLong(1).toDouble - row.getLong(2)) / 1000000) * 0.65 * 1000
      var b = 1.0
      val curve = (1 to 32).map { k =>
        b = a * b / (k + a * b)
        (k.toLong, b)
      }
      val firstOk = curve.find(_._2 < 0.01).map(_._1).getOrElse(-1L)
      val out = Seq(1, 2, 4, 8, 16, 32).map { m =>
        (m.toLong, snapD(a), snapD(curve(m - 1)._2), firstOk)
      }
      import s.implicits._
      out.toDF("n_servers", "offered_erlangs", "blocking_prob",
        "min_servers_for_1pct")
    },
    Some(erlangBOracleSql)
  )

  private def erlangBOracleSql: String = {
    val steps = (1 to 32).map { k =>
      s"b$k AS (SELECT a.a, a.a * p.b / ($k + a.a * p.b) AS b FROM b${k - 1} p CROSS JOIN load a)"
    }.mkString(",\n        ")
    val rows = Seq(1, 2, 4, 8, 16, 32).map { m =>
      s"SELECT CAST($m AS BIGINT) AS m, b FROM b$m"
    }.mkString("\n               UNION ALL ")
    val allRows = (1 to 32).map { k =>
      s"SELECT CAST($k AS BIGINT) AS m, b FROM b$k"
    }.mkString("\n               UNION ALL ")
    s"""WITH ev AS (SELECT epoch_us(ts) AS t FROM events),
        load AS (SELECT CAST(count(*) AS DOUBLE) /
                        ((CAST(max(t) AS DOUBLE) - min(t)) / 1000000)
                        * CAST(0.65 AS DOUBLE) * CAST(1000 AS DOUBLE) AS a
                 FROM ev),
        b0 AS (SELECT a, CAST(1 AS DOUBLE) AS b FROM load),
        $steps,
        curve AS ($rows),
        allm AS ($allRows),
        ok AS (SELECT CAST(coalesce(min(m), -1) AS BIGINT) AS first_ok
               FROM allm WHERE b < CAST(0.01 AS DOUBLE))
        SELECT c.m AS n_servers,
               ${snap("l.a")} AS offered_erlangs,
               ${snap("c.b")} AS blocking_prob,
               o.first_ok AS min_servers_for_1pct
        FROM curve c CROSS JOIN ok o CROSS JOIN load l
        ORDER BY c.m"""
  }

  // ---------------------------------------------------------------- q559

  /** η² variance-explained ladder on event value over nested groupings
    * type ⊂ type×dow ⊂ type×dow×hour: SS_between from per-group
    * quantized sums ((Σq)²/n terms re-quantized before the cross-group
    * sum — group counts are calendar-bounded), each rung's gain over
    * the previous. q229 tests whether type matters; this prices how
    * much each calendar dimension adds.
    */
  val q559EtaLadder: QueryDef = QueryDef.sql("q559_eta_ladder", "r48_", "events")(etaSql)

  private def etaSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    val hh = s"${d.epochUs("ts")} ${d.idiv} 3600000000"
    def rung(id: Int, name: String, keys: String): String =
      s"""SELECT CAST($id AS BIGINT) AS model_id, '$name' AS model,
                 CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(${qi("(CAST(sq AS DOUBLE) / 1048576.0) * (CAST(sq AS DOUBLE) / 1048576.0) / n")}) AS BIGINT) AS ssbq
          FROM (SELECT $keys, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(${qi("z")}) AS BIGINT) AS sq
                FROM z GROUP BY $keys) g"""
    s"""WITH z AS (SELECT event_type,
                          ($dd) % 7 AS dw, ($hh) % 24 AS hd,
                          value / CAST(100 AS DOUBLE) AS z
                   FROM $tbl),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(${qi("z")}) AS BIGINT) AS s1,
                       CAST(sum(${qi("z * z")}) AS BIGINT) AS s2
                FROM z),
        rungs AS (${rung(1, "type", "event_type")}
                  UNION ALL ${rung(2, "type_x_dow", "event_type, dw")}
                  UNION ALL ${rung(3, "type_x_dow_x_hour", "event_type, dw, hd")}),
        eta AS (SELECT r.model_id, r.model, r.n_groups,
                       (CAST(r.ssbq AS DOUBLE) / 1048576.0
                         - (CAST(t.s1 AS DOUBLE) / 1048576.0) * (CAST(t.s1 AS DOUBLE) / 1048576.0) / t.n)
                       / (CAST(t.s2 AS DOUBLE) / 1048576.0
                         - (CAST(t.s1 AS DOUBLE) / 1048576.0) * (CAST(t.s1 AS DOUBLE) / 1048576.0) / t.n) AS e2
                FROM rungs r CROSS JOIN tot t)
        SELECT a.model_id, a.model, a.n_groups,
               ${snap("a.e2")} AS eta_squared,
               ${snap("a.e2 - coalesce(p.e2, CAST(0 AS DOUBLE))")} AS gain_vs_prev
        FROM eta a LEFT JOIN eta p ON p.model_id = a.model_id - 1
        ORDER BY a.model_id"""
  }

  val all: Seq[QueryDef] = Seq(
    q554GevLmoments, q555EngleGranger, q556KmRmst,
    q557Crps, q558ErlangB, q559EtaLadder)
}
