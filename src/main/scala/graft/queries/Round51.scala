package graft.queries

import graft.queries.SqlFragments._

/** Round-51 additions (q568+): dependence-structure and operations-
  * measurement audits — empirical upper-tail dependence between the
  * click and view daily series (do the two streams spike TOGETHER — the
  * copula question q52's correlation and q555's cointegration both
  * miss), a Little's-law cross-check of hourly-sampled concurrency
  * against λ·W from gaps-and-islands sessions (how much a sampling
  * monitor under-reads bursty load), and the Allan variance of the
  * daily order counts (white noise vs drift, the clock-stability tool
  * applied to demand). House invariants as Round13–50.
  */
object Round51 {

  // ---------------------------------------------------------------- q568

  /** Empirical upper-tail dependence λ_U(q) between daily click and view
    * counts: with k = ⌈(1−q)·n⌉ top days of each series under a
    * deterministic total order (count DESC, day ASC), λ_U = |top_k(click)
    * ∩ top_k(view)| / k for q ∈ {0.75, 0.9}. Everything is integer rank
    * arithmetic — no float thresholds to straddle. Independence baseline
    * k/n rides along: λ_U far above it means the streams spike together
    * and a capacity plan summing marginal p99s is wrong.
    */
  val q568TailDependence: QueryDef =
    QueryDef.sql("q568_tail_dependence", "r51_", "events")(tailDepSql)

  private def tailDepSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    val qs = d.selectGen(d.list("75, 90"), "", "q", "q0")
    s"""WITH e AS (SELECT event_type, $dd AS dd FROM $tbl
                   WHERE event_type IN ('click', 'view')),
        cnt AS (SELECT dd,
                       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ck,
                       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS vw
                FROM e GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.dd - g.mn AS idx,
                     CAST(coalesce(c.ck, 0) AS BIGINT) AS ck,
                     CAST(coalesce(c.vw, 0) AS BIGINT) AS vw
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        rk AS (SELECT idx,
                      CAST(row_number() OVER (ORDER BY ck DESC, idx) AS BIGINT) AS rc,
                      CAST(row_number() OVER (ORDER BY vw DESC, idx) AS BIGINT) AS rv
               FROM s),
        n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM rk),
        qv AS ($qs),
        kk AS (SELECT CAST(q.q AS BIGINT) AS q,
                      CAST(ceil((CAST(100 AS DOUBLE) - q.q) * n.nd / 100) AS BIGINT) AS k,
                      n.nd
               FROM qv q CROSS JOIN n),
        joint AS (SELECT kk.q, kk.k, kk.nd,
                         CAST(sum(CASE WHEN r.rc <= kk.k AND r.rv <= kk.k
                                       THEN 1 ELSE 0 END) AS BIGINT) AS both_tail
                  FROM rk r CROSS JOIN kk
                  GROUP BY 1, 2, 3)
        SELECT q AS tail_pct, nd AS n_days, k AS k_tail, both_tail,
               ${snap("CAST(both_tail AS DOUBLE) / k")} AS lambda_u,
               ${snap("CAST(k AS DOUBLE) / nd")} AS independence_baseline
        FROM joint
        ORDER BY q"""
  }

  // ---------------------------------------------------------------- q569

  /** Little's-law measurement audit: gaps-and-islands sessions (30-min
    * gap, the q48/q57 derivation) give the EXACT time-average load
    * L = λ·W̄ = Σduration / span; an hourly-instant sampler (count of
    * sessions covering each hour boundary, the way a cron monitor
    * actually measures concurrency) gives L_sampled. The gap between
    * them is the burstiness a sampled dashboard never shows. Sessions
    * explode only into the hour instants they COVER (duration-bounded),
    * so the instant join is a keyed equi-join, never interval-vs-grid.
    */
  val q569LittlesLaw: QueryDef = QueryDef.sql("q569_littles_law", "r51_", "events")(littleSql)

  private def littleSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    // Guard BEFORE the sequence: a session that crosses no hour boundary
    // has ceil(lo/h) > floor(hi/h) — Spark's sequence() would DESCEND
    // there while DuckDB's range() is empty (the q76 lesson).
    val hcover =
      s"""SELECT ${d.closedRange("h0", "h1")} AS h
           FROM (SELECT CAST(ceil(CAST(lo AS DOUBLE) / 3600000000) AS BIGINT) AS h0,
                        hi ${d.idiv} 3600000000 AS h1 FROM sess) z
           WHERE h0 <= h1"""
    s"""WITH x AS (SELECT user_id, $us AS t FROM $tbl),
        o AS (SELECT user_id, t,
                     lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt
              FROM x),
        st AS (SELECT user_id, t,
                      CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END AS brk
               FROM o),
        g AS (SELECT user_id, t,
                     CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t) AS BIGINT) AS sid
              FROM st),
        sess AS (SELECT user_id, sid,
                        CAST(min(t) AS BIGINT) AS lo,
                        CAST(max(t) AS BIGINT) AS hi
                 FROM g GROUP BY 1, 2),
        span AS (SELECT CAST(min(lo) AS BIGINT) AS t0, CAST(max(hi) AS BIGINT) AS t1
                 FROM sess),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_sess,
                       CAST(sum(hi - lo) AS BIGINT) AS dur_us
                FROM sess),
        cov AS ($hcover),
        inst AS (SELECT cov.h, CAST(count(*) AS BIGINT) AS active
                 FROM cov CROSS JOIN span
                 WHERE cov.h * 3600000000 >= span.t0 AND cov.h * 3600000000 <= span.t1
                 GROUP BY 1),
        ni AS (SELECT CAST((t1 ${d.idiv} 3600000000) - CAST(ceil(CAST(t0 AS DOUBLE) / 3600000000) AS BIGINT) + 1 AS BIGINT) AS n_inst,
                      t0, t1
               FROM (SELECT t0, t1, t1 AS dummy FROM span) z),
        samp AS (SELECT CAST(sum(active) AS BIGINT) AS tot FROM inst)
        SELECT a.n_sess AS n_sessions,
               ${snap("CAST(a.dur_us AS DOUBLE) / a.n_sess / 1000000")} AS mean_w_sec,
               ${snap("CAST(a.n_sess AS DOUBLE) * 3600000000 / (n.t1 - n.t0)")} AS lambda_per_hr,
               ${snap("CAST(a.dur_us AS DOUBLE) / (n.t1 - n.t0)")} AS l_littles,
               ${snap("CAST(s2.tot AS DOUBLE) / n.n_inst")} AS l_sampled,
               ${snap("CAST(s2.tot AS DOUBLE) / n.n_inst - CAST(a.dur_us AS DOUBLE) / (n.t1 - n.t0)")}
                 AS sampling_gap
        FROM agg a CROSS JOIN ni n CROSS JOIN samp s2"""
  }

  // ---------------------------------------------------------------- q570

  /** Allan variance of the daily order count at block sizes
    * τ ∈ {1, 2, 4}: AVAR(τ) = Σ(S_{k+1} − S_k)² / (2(M−1)τ²) over
    * non-overlapping τ-day block SUMS — the numerator is an exact BIGINT
    * (counts are integers), one division at the end. The τ-profile
    * separates white noise (AVAR halves per doubling) from drift (AVAR
    * flat or rising): the q192 ACF asks "is there memory", this asks
    * "what KIND of noise is the daily demand".
    */
  val q570AllanVariance: QueryDef = QueryDef.sql("q570_allan_variance", "r51_", "orders")(allanSql)

  private def allanSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    val taus = d.selectGen(d.list("1, 2, 4"), "", "tau", "t0")
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.dd - g.mn AS idx, CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM s),
        tv AS ($taus),
        blocks AS (SELECT CAST(t.tau AS BIGINT) AS tau,
                          s.idx ${d.idiv} t.tau AS blk,
                          CAST(sum(s.y) AS BIGINT) AS bs,
                          CAST(count(*) AS BIGINT) AS bn
                   FROM s CROSS JOIN tv t
                   GROUP BY 1, 2),
        full_blocks AS (SELECT tau, blk, bs FROM blocks WHERE bn = tau),
        diffs AS (SELECT f.tau, f.blk,
                         f.bs - lag(f.bs) OVER (PARTITION BY f.tau ORDER BY f.blk) AS d
                  FROM full_blocks f),
        av AS (SELECT tau,
                      CAST(count(*) AS BIGINT) AS m1,
                      CAST(sum(d * d) AS BIGINT) AS sd2
               FROM diffs WHERE d IS NOT NULL GROUP BY 1)
        SELECT a.tau AS tau_days,
               a.m1 + 1 AS m_blocks,
               ${snap("CAST(a.sd2 AS DOUBLE) / (2 * a.m1 * a.tau * a.tau)")} AS allan_var,
               ${snap("CASE WHEN p.tau IS NULL THEN NULL ELSE (CAST(a.sd2 AS DOUBLE) / (2 * a.m1 * a.tau * a.tau)) / (CAST(p.sd2 AS DOUBLE) / (2 * p.m1 * p.tau * p.tau)) END")}
                 AS ratio_vs_half_tau
        FROM av a LEFT JOIN av p ON p.tau * 2 = a.tau
        ORDER BY a.tau"""
  }

  val all: Seq[QueryDef] = Seq(
    q568TailDependence, q569LittlesLaw, q570AllanVariance)
}
