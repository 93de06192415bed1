package graft.queries

import graft.queries.SqlFragments._

/** Round-40 additions (q507+): trend/weighting/masking audits that
  * round 39 left open — a broken-stick (two-segment OLS) trend fit with
  * exact prefix-sum moments, freshness-decay effective-sample-size for
  * recency-weighted training mixes, a T5-style span-corruption audit,
  * Jarque–Bera normality from quantized raw moments, Group-DRO source
  * reweighting by corpus-LM surprisal, and a session-gap calibration
  * sweep. House invariants as Round13-39: dual Spark/DuckDB SQL off one
  * generator, 2^20 quantization under float aggregates (every
  * arbitrary-order double sum is a BIGINT sum of per-row quantized
  * terms), snap() on emitted doubles, foldable literal grids, keyed
  * windows only (per-user / per-length partitions — no corpus-wide
  * single-partition window).
  */
object Round40 {

  // ---------------------------------------------------------------- q507

  /** Broken-stick trend: fit two OLS segments to the daily order-count
    * series (zeros filled over the full day grid), choosing the split
    * that minimizes total SSE — the "did the trend change, and where"
    * question q193 answers only for mean shifts and q330 only for a
    * GIVEN split. All moments are exact BIGINT prefix sums (Σx, Σy,
    * Σxy, Σx², Σy² cumulated once); each candidate's SSE = Syy_c −
    * Sxy_c²/Sxx_c evaluates from them in shared-text double. Both
    * segments are required to hold ≥ 2 points; ties break to the
    * earliest split.
    */
  val q507BrokenStick: QueryDef =
    QueryDef.sql("q507_broken_stick", "r40_", "orders")(brokenStickSql)

  private def brokenStickSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    def cxx(sxx: String, sx: String, n: String): String =
      s"(CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE) * $sx / $n)"
    def cxy(sxy: String, sx: String, sy: String, n: String): String =
      s"(CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) * $sy / $n)"
    def sse(syy: String, sy: String, sxy: String, sx: String, sxx: String, n: String): String =
      s"(${cxx(syy, sy, n)} - ${cxy(sxy, sx, sy, n)} * ${cxy(sxy, sx, sy, n)} / ${cxx(sxx, sx, n)})"
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.mn, g.dd - g.mn AS x, CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS tx, CAST(sum(y) AS BIGINT) AS ty,
                       CAST(sum(x * y) AS BIGINT) AS txy,
                       CAST(sum(x * x) AS BIGINT) AS txx,
                       CAST(sum(y * y) AS BIGINT) AS tyy
                FROM s),
        pre AS (SELECT mn, x,
                       CAST(sum(x) OVER (ORDER BY x) AS BIGINT) AS px,
                       CAST(sum(y) OVER (ORDER BY x) AS BIGINT) AS py,
                       CAST(sum(x * y) OVER (ORDER BY x) AS BIGINT) AS pxy,
                       CAST(sum(x * x) OVER (ORDER BY x) AS BIGINT) AS pxx,
                       CAST(sum(y * y) OVER (ORDER BY x) AS BIGINT) AS pyy
                FROM s),
        cand AS (
          SELECT p.mn, p.x AS sp, t.n,
                 ${sse("p.pyy", "p.py", "p.pxy", "p.px", "p.pxx", "(p.x + 1)")} +
                 ${sse("(t.tyy - p.pyy)", "(t.ty - p.py)", "(t.txy - p.pxy)",
                       "(t.tx - p.px)", "(t.txx - p.pxx)", "(t.n - p.x - 1)")} AS sse2,
                 ${cxy("p.pxy", "p.px", "p.py", "(p.x + 1)")} /
                   ${cxx("p.pxx", "p.px", "(p.x + 1)")} AS slope_l,
                 ${cxy("(t.txy - p.pxy)", "(t.tx - p.px)", "(t.ty - p.py)", "(t.n - p.x - 1)")} /
                   ${cxx("(t.txx - p.pxx)", "(t.tx - p.px)", "(t.n - p.x - 1)")} AS slope_r
          FROM pre p CROSS JOIN tot t
          WHERE p.x >= 1 AND p.x <= t.n - 3),
        pick AS (SELECT * FROM cand ORDER BY sse2 ASC, sp ASC LIMIT 1),
        one AS (SELECT ${sse("tyy", "ty", "txy", "tx", "txx", "n")} AS sse1 FROM tot)
        SELECT p.n AS n_days,
               CAST(p.sp AS BIGINT) AS split_idx,
               CAST(p.mn + p.sp AS BIGINT) AS split_epoch_day,
               ${snap("p.slope_l")} AS slope_left,
               ${snap("p.slope_r")} AS slope_right,
               ${snap("p.sse2")} AS sse_two,
               ${snap("o.sse1")} AS sse_one,
               ${snap("CAST(1 AS DOUBLE) - p.sse2 / o.sse1")} AS r2_gain
        FROM pick p CROSS JOIN one o"""
  }

  // ---------------------------------------------------------------- q508

  /** Freshness-decay effective sample size: weight each event by
    * exp(−λ·age_days) against the corpus max day, λ ∈ {0.05, 0.2, 1.0}
    * per day, and report Kish's ESS = (Σw)²/Σw² per event type — how
    * much data a recency-weighted training mix REALLY has, and the
    * weighted mean age it centers on. Per-day terms quantize to BIGINT
    * before the sum, so the arbitrary-order reduce is exact in both
    * engines.
    */
  val q508DecayEss: QueryDef = QueryDef.sql("q508_decay_ess", "r40_", "events")(decayEssSql)

  private def decayEssSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    val ls = s"SELECT ${d.list("5, 20, 100")} AS lraw"
    s"""WITH e AS (SELECT event_type, $dd AS dd FROM $tbl),
        cnt AS (SELECT event_type, dd, CAST(count(*) AS BIGINT) AS c
                FROM e GROUP BY 1, 2),
        mxd AS (SELECT CAST(max(dd) AS BIGINT) AS mx FROM e),
        ls AS ($ls),
        term AS (
          SELECT c.event_type,
                 CAST(lraw AS DOUBLE) / CAST(100 AS DOUBLE) AS lam,
                 c.c, CAST(m.mx - c.dd AS BIGINT) AS age
          FROM cnt c CROSS JOIN mxd m CROSS JOIN ls),
        agg AS (
          SELECT event_type, lam,
                 CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(${qi("c * exp(-lam * age)")}) AS BIGINT) AS sw,
                 CAST(sum(${qi("c * exp(-CAST(2 AS DOUBLE) * lam * age)")}) AS BIGINT) AS sw2,
                 CAST(sum(${qi("c * age * exp(-lam * age)")}) AS BIGINT) AS swa
          FROM term GROUP BY 1, 2)
        SELECT event_type,
               ${snap("lam")} AS lambda_per_day,
               n AS n_events,
               ${snap("(CAST(sw AS DOUBLE) / 1048576.0) * (CAST(sw AS DOUBLE) / 1048576.0) / (CAST(sw2 AS DOUBLE) / 1048576.0)")}
                 AS ess,
               ${snap("(CAST(sw AS DOUBLE) / 1048576.0) * (CAST(sw AS DOUBLE) / 1048576.0) / (CAST(sw2 AS DOUBLE) / 1048576.0) / n")}
                 AS ess_share,
               ${snap("CAST(swa AS DOUBLE) / sw")} AS weighted_mean_age
        FROM agg
        ORDER BY event_type, lambda_per_day"""
  }

  // ---------------------------------------------------------------- q509

  /** T5-style span-corruption audit: every kept token is independently
    * marked with probability 15% by a deterministic md5 coin
    * (`span:doc:pos`), maximal marked runs become corruption spans, and
    * the per-source sheet reports realized corruption share, span count,
    * mean/max span length, and sentinel overhead per 1k tokens — the
    * numbers that decide whether a masking config matches its paper
    * target. Runs come from the pos − row_number islands trick over
    * doc-keyed windows.
    */
  val q509SpanCorruption: QueryDef =
    QueryDef.sql("q509_span_corruption", "r40_", "documents")(spanCorruptionSql)

  private def spanCorruptionSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${posTokens(tbl, d, "source", "doc_id")}),
        marked AS (
          SELECT source, doc_id, pos
          FROM tok
          WHERE ${md5i(s"'span:' || CAST(doc_id AS ${d.str}) || ':' || CAST(pos AS ${d.str})", d)} % 100 < 15),
        isl AS (
          SELECT source, doc_id,
                 pos - CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS grp
          FROM marked),
        spans AS (
          SELECT source, doc_id, grp, CAST(count(*) AS BIGINT) AS len
          FROM isl GROUP BY 1, 2, 3),
        pertok AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
        perspan AS (
          SELECT source,
                 CAST(sum(len) AS BIGINT) AS n_corrupted,
                 CAST(count(*) AS BIGINT) AS n_spans,
                 CAST(max(len) AS BIGINT) AS max_span
          FROM spans GROUP BY 1)
        SELECT t.source,
               t.n_tokens,
               CAST(coalesce(s.n_corrupted, 0) AS BIGINT) AS n_corrupted,
               CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
               ${snap("CAST(coalesce(s.n_corrupted, 0) AS DOUBLE) / t.n_tokens")} AS corrupt_share,
               CASE WHEN coalesce(s.n_spans, 0) = 0 THEN CAST(0 AS DOUBLE)
                    ELSE ${snap("CAST(s.n_corrupted AS DOUBLE) / s.n_spans")} END AS mean_span_len,
               CAST(coalesce(s.max_span, 0) AS BIGINT) AS max_span,
               ${snap("CAST(1000 AS DOUBLE) * coalesce(s.n_spans, 0) / t.n_tokens")} AS sentinels_per_1k
        FROM pertok t LEFT JOIN perspan s ON s.source = t.source
        ORDER BY t.source"""
  }

  // ---------------------------------------------------------------- q510

  /** Jarque–Bera normality per event type on value/100: skewness and
    * excess kurtosis from exact quantized RAW moments (Σq(z^k), k ≤ 4 —
    * scaling by 100 keeps z⁴ inside the 2^20 grid's BIGINT headroom),
    * central-moment expansion in shared-text double, JB = n/6·(g₁² +
    * g₂²/4) and the χ²₂ 95% verdict. q117 stops at variance/corr; this
    * is the tail-shape gate a value distribution must pass before
    * z-score rules (q150) mean anything.
    */
  val q510JarqueBera: QueryDef = QueryDef.sql("q510_jarque_bera", "r40_", "events")(jarqueBeraSql)

  private def jarqueBeraSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH z AS (SELECT event_type, value / CAST(100 AS DOUBLE) AS z FROM $tbl),
        raw AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(${qi("z")}) AS BIGINT) AS s1,
                 CAST(sum(${qi("z * z")}) AS BIGINT) AS s2,
                 CAST(sum(${qi("z * z * z")}) AS BIGINT) AS s3,
                 CAST(sum(${qi("z * z * z * z")}) AS BIGINT) AS s4
          FROM z GROUP BY 1),
        ms AS (
          SELECT event_type, n,
                 CAST(s1 AS DOUBLE) / 1048576.0 / n AS m1,
                 CAST(s2 AS DOUBLE) / 1048576.0 / n AS m2,
                 CAST(s3 AS DOUBLE) / 1048576.0 / n AS m3,
                 CAST(s4 AS DOUBLE) / 1048576.0 / n AS m4
          FROM raw),
        cs AS (
          SELECT event_type, n,
                 m2 - m1 * m1 AS c2,
                 m3 - CAST(3 AS DOUBLE) * m1 * m2 + CAST(2 AS DOUBLE) * m1 * m1 * m1 AS c3,
                 m4 - CAST(4 AS DOUBLE) * m1 * m3 + CAST(6 AS DOUBLE) * m1 * m1 * m2
                   - CAST(3 AS DOUBLE) * m1 * m1 * m1 * m1 AS c4
          FROM ms),
        g AS (
          SELECT event_type, n,
                 c3 / (c2 * sqrt(c2)) AS skew,
                 c4 / (c2 * c2) - CAST(3 AS DOUBLE) AS exkurt
          FROM cs)
        SELECT event_type, n,
               ${snap("skew")} AS skewness,
               ${snap("exkurt")} AS excess_kurtosis,
               ${snap("CAST(n AS DOUBLE) / CAST(6 AS DOUBLE) * (skew * skew + exkurt * exkurt / CAST(4 AS DOUBLE))")}
                 AS jarque_bera,
               CAST(CASE WHEN CAST(n AS DOUBLE) / CAST(6 AS DOUBLE) *
                 (skew * skew + exkurt * exkurt / CAST(4 AS DOUBLE)) >
                 CAST(5.991464547107979 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS reject_normal_95
        FROM g
        ORDER BY event_type"""
  }

  // ---------------------------------------------------------------- q511

  /** Group-DRO source reweighting: each source's "loss" is its mean
    * token surprisal under the GLOBAL corpus unigram LM (sources whose
    * vocabulary the corpus models badly score high), and the DRO mix
    * upweights by share·exp(η·(loss − max_loss)) for η ∈ {1, 4} — the
    * max-subtracted softmax keeps every term in (0, 1] so 2^20
    * quantization is safe. The distributionally-robust counterpart to
    * q409's DoReMi excess-loss weights.
    */
  val q511GroupDro: QueryDef = QueryDef.sql("q511_group_dro", "r40_", "documents")(groupDroSql)

  private def groupDroSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val etas = s"SELECT ${d.list("1, 4")} AS eta"
    s"""WITH tok AS (${posTokens(tbl, d, "source", "doc_id")}),
        cw AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cw),
        sl AS (
          SELECT tok.source,
                 CAST(count(*) AS BIGINT) AS n_tok,
                 CAST(sum(${qi("-ln(CAST(cw.c AS DOUBLE) / tt.t)")}) AS BIGINT) AS sq
          FROM tok JOIN cw ON cw.word = tok.word CROSS JOIN tt
          GROUP BY 1),
        st AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tn FROM sl),
        losses AS (
          SELECT source, n_tok,
                 CAST(sq AS DOUBLE) / 1048576.0 / n_tok AS loss
          FROM sl),
        mxl AS (SELECT max(loss) AS mxloss FROM losses),
        etas AS ($etas),
        w AS (
          SELECT l.source, l.n_tok, l.loss, CAST(e.eta AS BIGINT) AS eta,
                 ${qi("(CAST(l.n_tok AS DOUBLE) / st.tn) * exp(CAST(e.eta AS DOUBLE) * (l.loss - m.mxloss))")} AS wq,
                 CAST(l.n_tok AS DOUBLE) / st.tn AS base_share
          FROM losses l CROSS JOIN mxl m CROSS JOIN st CROSS JOIN etas e),
        z AS (SELECT eta, CAST(sum(wq) AS BIGINT) AS zq FROM w GROUP BY 1)
        SELECT w.source, w.eta,
               ${snap("w.loss")} AS surprisal_loss,
               ${snap("w.base_share")} AS base_share,
               ${snap("CAST(w.wq AS DOUBLE) / z.zq")} AS dro_weight,
               ${snap("(CAST(w.wq AS DOUBLE) / z.zq) / w.base_share")} AS upweight_ratio
        FROM w JOIN z ON z.eta = w.eta
        ORDER BY w.source, w.eta"""
  }

  // ---------------------------------------------------------------- q512

  /** Session-gap calibration sweep: sessionize each user's event stream
    * at gap ∈ {300, 900, 3600} s and report how the session count,
    * events-per-session, mean duration, and single-event share move —
    * the sheet that picks the gap before any funnel/retention query
    * (q132/q182/q216) hard-codes one. All windows are (gap, user)-keyed;
    * ties in ts break by event_id so the lag chain is deterministic.
    */
  val q512SessionGapSweep: QueryDef =
    QueryDef.sql("q512_session_gap_sweep", "r40_", "events")(sessionGapSql)

  private def sessionGapSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val gs = s"SELECT ${d.list("300, 900, 3600")} AS gap_s"
    s"""WITH ev AS (SELECT event_id, user_id, $us AS us FROM $tbl),
        gs AS ($gs),
        lagd AS (
          SELECT CAST(g.gap_s AS BIGINT) AS gap_s, e.user_id, e.event_id, e.us,
                 lag(e.us) OVER (PARTITION BY g.gap_s, e.user_id
                   ORDER BY e.us, e.event_id) AS prev
          FROM ev e CROSS JOIN gs g),
        flagged AS (
          SELECT gap_s, user_id, event_id, us,
                 CASE WHEN prev IS NULL OR us - prev > gap_s * 1000000 THEN 1 ELSE 0 END AS st
          FROM lagd),
        sess AS (
          SELECT gap_s, user_id, us,
                 CAST(sum(st) OVER (PARTITION BY gap_s, user_id
                   ORDER BY us, event_id) AS BIGINT) AS sid
          FROM flagged),
        persess AS (
          SELECT gap_s, user_id, sid,
                 CAST(count(*) AS BIGINT) AS c,
                 CAST(max(us) - min(us) AS BIGINT) AS dur
          FROM sess GROUP BY 1, 2, 3)
        SELECT gap_s,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(c) AS BIGINT) AS n_events,
               ${snap("CAST(sum(c) AS DOUBLE) / count(*)")} AS events_per_session,
               ${snap("CAST(sum(dur) AS DOUBLE) / count(*) / 1000000.0")} AS mean_duration_s,
               ${snap("CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                 AS single_event_share,
               ${snap("CAST(max(dur) AS DOUBLE) / 1000000.0")} AS max_duration_s
        FROM persess
        GROUP BY gap_s
        ORDER BY gap_s"""
  }

  val all: Seq[QueryDef] = Seq(
    q507BrokenStick, q508DecayEss, q509SpanCorruption,
    q510JarqueBera, q511GroupDro, q512SessionGapSweep)
}
