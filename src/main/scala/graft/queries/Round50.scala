package graft.queries

import graft.queries.SqlFragments._

/** Round-50 additions (q564+): tuning, fraud-audit and sequential-
  * decision sheets — a successive-halving (ASHA-style) replay over the
  * event-type arms (the hyperparameter-sweep scheduler every training
  * pipeline runs, replayed deterministically on observed rewards),
  * Benford's first-digit χ² on order totals (the classic books-audit
  * screen), record statistics of the daily order series (running maxima
  * vs the iid harmonic expectation — "are peaks arriving faster than
  * chance"), and a Wald SPRT trajectory on the daily click share (the
  * sequential companion to q552's fixed-horizon switchback). House
  * invariants as Round13–49: exact BIGINT sums, 2^-20 quantized
  * transcendentals pre-sum, 2^-30 snapped outputs, shared SQL text.
  */
object Round50 {

  // ---------------------------------------------------------------- q564

  /** Successive-halving replay (the ASHA scheduler's synchronous core):
    * arms = event types, reward = mean event value over the round's
    * 7-day block (per-event values 2^-20 quantized pre-sum, so block
    * sums are exact BIGINTs), rounds eliminate to ⌈n/2⌉: 5 → 3 → 2 → 1
    * over blocks 0/1/2. Ranking is (mean DESC, arm ASC) — the mean is
    * one IEEE division of exact integers, identical in both engines.
    * Output: every (round, arm) evaluation with its rank and kept flag —
    * the audit trail a sweep scheduler owes the experimenter.
    */
  val q564SuccessiveHalving: QueryDef =
    QueryDef.sql("q564_successive_halving", "r50_", "events")(halvingSql)

  private def halvingSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    s"""WITH e AS (SELECT event_type AS arm, $dd AS dd, ${qi("value")} AS vq
                   FROM $tbl),
        b AS (SELECT min(dd) AS mn FROM e),
        blk AS (SELECT arm, (dd - b.mn) ${d.idiv} 7 AS blk,
                       vq
                FROM e CROSS JOIN b),
        bm AS (SELECT arm, blk,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(vq) AS BIGINT) AS sq
               FROM blk WHERE blk IN (0, 1, 2) GROUP BY 1, 2),
        r1 AS (SELECT arm, n, sq,
                      CAST(row_number() OVER (
                        ORDER BY CAST(sq AS DOUBLE) / 1048576.0 / n DESC, arm) AS BIGINT) AS rk
               FROM bm WHERE blk = 0),
        r2 AS (SELECT m.arm, m.n, m.sq,
                      CAST(row_number() OVER (
                        ORDER BY CAST(m.sq AS DOUBLE) / 1048576.0 / m.n DESC, m.arm) AS BIGINT) AS rk
               FROM bm m JOIN r1 ON r1.arm = m.arm AND r1.rk <= 3
               WHERE m.blk = 1),
        r3 AS (SELECT m.arm, m.n, m.sq,
                      CAST(row_number() OVER (
                        ORDER BY CAST(m.sq AS DOUBLE) / 1048576.0 / m.n DESC, m.arm) AS BIGINT) AS rk
               FROM bm m JOIN r2 ON r2.arm = m.arm AND r2.rk <= 2
               WHERE m.blk = 2)
        SELECT CAST(1 AS INT) AS round, arm, n AS n_events,
               ${snap("CAST(sq AS DOUBLE) / 1048576.0 / n")} AS mean_reward,
               rk AS rank_in_round,
               CAST(CASE WHEN rk <= 3 THEN 1 ELSE 0 END AS INT) AS kept
        FROM r1
        UNION ALL
        SELECT CAST(2 AS INT), arm, n,
               ${snap("CAST(sq AS DOUBLE) / 1048576.0 / n")}, rk,
               CAST(CASE WHEN rk <= 2 THEN 1 ELSE 0 END AS INT)
        FROM r2
        UNION ALL
        SELECT CAST(3 AS INT), arm, n,
               ${snap("CAST(sq AS DOUBLE) / 1048576.0 / n")}, rk,
               CAST(CASE WHEN rk <= 1 THEN 1 ELSE 0 END AS INT)
        FROM r3
        ORDER BY round, rank_in_round"""
  }

  // ---------------------------------------------------------------- q565

  /** Benford first-digit audit of order totals: observed share of each
    * leading digit of the integer cent amount vs the Benford law
    * log₁₀(1+1/d), χ² = N·Σ (p_obs − p_exp)²/p_exp with per-digit
    * addends quantized pre-sum, flagged against the 15.51 (df = 8, 5%)
    * critical value. The first digit comes from the cent STRING — an
    * integer formatting both engines share exactly, where float log10
    * tricks can straddle a power of ten.
    */
  val q565Benford: QueryDef = QueryDef.sql("q565_benford", "r50_", "orders")(benfordSql)

  private def benfordSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val digits = d.selectGen(d.closedRange(1, 9), "INT", "d", "d0")
    s"""WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                   FROM $tbl),
        fd AS (SELECT CAST(substring(CAST(cents AS ${d.str}), 1, 1) AS INT) AS d
               FROM c WHERE cents > 0),
        n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM fd),
        obs AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM fd GROUP BY 1),
        dg AS ($digits),
        cells AS (SELECT dg.d,
                         CAST(coalesce(o.cnt, 0) AS BIGINT) AS cnt,
                         ${qi("ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / dg.d) / ln(CAST(10 AS DOUBLE))")} AS peq
                  FROM dg LEFT JOIN obs o ON o.d = dg.d),
        addends AS (SELECT c2.d, c2.cnt, c2.peq, n.nt,
                           ${qi("(CAST(c2.cnt AS DOUBLE) / n.nt - CAST(c2.peq AS DOUBLE) / 1048576.0) * (CAST(c2.cnt AS DOUBLE) / n.nt - CAST(c2.peq AS DOUBLE) / 1048576.0) / (CAST(c2.peq AS DOUBLE) / 1048576.0)")} AS aq
                    FROM cells c2 CROSS JOIN n),
        chi AS (SELECT CAST(sum(aq) AS BIGINT) AS sq, max(nt) AS nt FROM addends)
        SELECT a.d AS digit, a.cnt AS n_orders,
               ${snap("CAST(a.cnt AS DOUBLE) / a.nt")} AS obs_share,
               ${snap("CAST(a.peq AS DOUBLE) / 1048576.0")} AS benford_share,
               ${snap("CAST(ch.sq AS DOUBLE) / 1048576.0 * ch.nt")} AS chi2,
               CAST(CASE WHEN CAST(ch.sq AS DOUBLE) / 1048576.0 * ch.nt
                 > CAST(15.51 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS rejects_benford_95
        FROM addends a CROSS JOIN chi ch
        ORDER BY a.d"""
  }

  // ---------------------------------------------------------------- q566

  /** Record statistics of the daily order count: a day is an upper
    * record when its count strictly exceeds every earlier day's (ties
    * are NOT records — stated convention). For an iid series the
    * expected record count is the harmonic number H_n = Σ 1/k; observed
    * minus expected says whether demand peaks arrive faster than
    * exchangeability allows (trend/regime alarm with zero parameters —
    * the nonparametric cousin of q197's fitted trend). All counting is
    * integer; only the harmonic terms are quantized.
    */
  val q566Records: QueryDef = QueryDef.sql("q566_records", "r50_", "orders")(recordsSql)

  private def recordsSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.dd - g.mn AS idx, CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        rm AS (SELECT idx, y,
                      max(y) OVER (ORDER BY idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
               FROM s),
        rec AS (SELECT idx, y,
                       CASE WHEN pm IS NULL OR y > pm THEN 1 ELSE 0 END AS is_rec
                FROM rm),
        harm AS (SELECT CAST(sum(${qi("CAST(1 AS DOUBLE) / (idx + 1)")}) AS BIGINT) AS hq
                 FROM s)
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(is_rec) AS BIGINT) AS n_records,
               ${snap("CAST(h.hq AS DOUBLE) / 1048576.0")} AS expected_records_iid,
               ${snap("CAST(sum(is_rec) AS DOUBLE) - CAST(h.hq AS DOUBLE) / 1048576.0")}
                 AS excess_records,
               CAST(max(CASE WHEN is_rec = 1 THEN idx END) AS BIGINT) AS last_record_day
        FROM rec CROSS JOIN harm h
        GROUP BY h.hq"""
  }

  // ---------------------------------------------------------------- q567

  /** Wald SPRT on the daily click share: H₀ p = p₀ (the pooled share,
    * from the data) vs H₁ p = p₀ + 0.05, α = β = 0.05. Each day adds
    * c·ln(p₁/p₀) + (n−c)·ln((1−p₁)/(1−p₀)) to the log-likelihood ratio —
    * both log constants quantized ONCE, so the trajectory is an exact
    * BIGINT cumulative sum — and the walk stops at ±ln(19) (quantized
    * boundary, same grid). Emits the decision, the crossing day and the
    * final LLR: the sequential-testing companion to q552's fixed-horizon
    * switchback — "how many days does this effect size need". With H₀
    * data the expected outcome is accept_h0 (LLR drifts negative).
    */
  val q567Sprt: QueryDef = QueryDef.sql("q567_sprt", "r50_", "events")(sprtSql)

  private def sprtSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    s"""WITH e AS (SELECT event_type, $dd AS dd FROM $tbl
                   WHERE event_type IN ('click', 'view')),
        day AS (SELECT dd,
                       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c,
                       CAST(count(*) AS BIGINT) AS n
                FROM e GROUP BY 1),
        pool AS (SELECT CAST(sum(c) AS DOUBLE) / sum(n) AS p0 FROM day),
        consts AS (SELECT p0, p0 + CAST(0.05 AS DOUBLE) AS p1,
                          ${qi("ln((p0 + CAST(0.05 AS DOUBLE)) / p0)")} AS lsq,
                          ${qi("ln((CAST(1 AS DOUBLE) - p0 - CAST(0.05 AS DOUBLE)) / (CAST(1 AS DOUBLE) - p0))")} AS lfq,
                          ${qi("ln(CAST(19 AS DOUBLE))")} AS bq
                   FROM pool),
        walk AS (SELECT d.dd, k.p0, k.p1, k.bq,
                        CAST(sum(d.c * k.lsq + (d.n - d.c) * k.lfq) OVER (
                          ORDER BY d.dd) AS BIGINT) AS llr,
                        CAST(row_number() OVER (ORDER BY d.dd) AS BIGINT) AS t
                 FROM day d CROSS JOIN consts k),
        hit AS (SELECT min(CASE WHEN llr >= bq OR llr <= -bq THEN t END) AS t_cross,
                       max(t) AS t_max
                FROM walk),
        fin AS (SELECT w.t, w.llr, w.p0, w.p1, w.bq, h.t_cross
                FROM walk w CROSS JOIN hit h
                WHERE w.t = coalesce(h.t_cross, h.t_max))
        SELECT ${snap("p0")} AS p0_pooled,
               ${snap("p1")} AS p1_alt,
               t AS n_days_used,
               CAST(CASE WHEN t_cross IS NULL THEN 0 ELSE 1 END AS INT) AS decided,
               CASE WHEN t_cross IS NULL THEN 'continue'
                    WHEN llr >= bq THEN 'accept_h1'
                    ELSE 'accept_h0' END AS decision,
               ${snap("CAST(llr AS DOUBLE) / 1048576.0")} AS final_llr
        FROM fin"""
  }

  val all: Seq[QueryDef] = Seq(
    q564SuccessiveHalving, q565Benford, q566Records, q567Sprt)
}
