package graft.queries

import graft.queries.SqlFragments._

/** Round-58 additions (q591+): shrinkage / model-choice panel — an
  * empirical-Bayes beta-binomial shrink of per-user purchase shares
  * (method-of-moments prior strength; the "don't trust a 2-event user's
  * 50% conversion" estimator every per-key rate report needs), a
  * James–Stein shrink of per-nation order-value means toward the grand
  * mean (the estimator that DOMINATES the raw means at k ≥ 4 — the
  * canonical argument for partial pooling), and a BIC Bayes-factor
  * comparison of constant vs day-of-week models for daily volume (is
  * weekly seasonality worth 6 extra parameters). House invariants as
  * Round13–57: exact BIGINT count/cent moments, transcendentals and
  * per-group rationals 2^-20-quantized pre-sum, snapped doubles in the
  * projection only.
  */
object Round58 {

  // ---------------------------------------------------------------- q591

  /** Beta-binomial shrinkage of per-user purchase share. Prior
    * strength by method of moments on the users' raw shares: M =
    * clamp(p̄(1−p̄)/s² − 1, 1, 10⁶) with p̄ the pooled share and s² the
    * across-user variance of raw shares (2^-20-quantized pre-sum, so
    * both engines see the same s²); every user's shrunk share is then
    * (k + M·p̄)/(n + M). Summary row: the prior, the mean/max absolute
    * shrinkage, and how often shrinkage flips a user across the pooled
    * mean (it never should — shrinkage is a contraction toward p̄).
    */
  val q591BetaBinomialShrink: QueryDef =
    QueryDef.sql("q591_beta_binomial_shrink", "r58_", "events")(bbSql)

  private def bbSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(CASE WHEN event_type = 'purchase'
                                        THEN 1 ELSE 0 END) AS BIGINT) AS k
                   FROM $tbl GROUP BY 1),
        g AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                     CAST(sum(n) AS BIGINT) AS nn,
                     CAST(sum(k) AS BIGINT) AS kk,
                     CAST(sum(${qi(
        """(CAST(k AS DOUBLE) / n) * (CAST(k AS DOUBLE) / n)""")}) AS BIGINT) AS sq20,
                     CAST(sum(${qi("CAST(k AS DOUBLE) / n")}) AS BIGINT) AS sp20
              FROM u),
        pr AS (SELECT nu, nn, kk,
                      CAST(kk AS DOUBLE) / nn AS pbar,
                      -- across-user share variance from the quantized moments
                      (CAST(sq20 AS DOUBLE) / 1048576.0 / nu)
                        - (CAST(sp20 AS DOUBLE) / 1048576.0 / nu)
                          * (CAST(sp20 AS DOUBLE) / 1048576.0 / nu) AS s2
               FROM g),
        mm AS (SELECT nu, nn, kk, pbar,
                      least(greatest(pbar * (1 - pbar) / s2 - 1,
                                     CAST(1 AS DOUBLE)),
                            CAST(1000000 AS DOUBLE)) AS m
               FROM pr),
        sh AS (SELECT u.user_id, u.n, u.k, mm.pbar, mm.m,
                      CAST(u.k AS DOUBLE) / u.n AS raw,
                      (u.k + mm.m * mm.pbar) / (u.n + mm.m) AS post
               FROM u CROSS JOIN mm),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                       CAST(sum(${qi("abs(post - raw)")}) AS BIGINT) AS sabs20,
                       ${qi("max(abs(post - raw))")} AS mx20,
                       CAST(sum(CASE WHEN (raw - pbar) * (post - pbar) < 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS flips
                FROM sh)
        SELECT agg.n_users,
               ${snap("mm.pbar")} AS p_pooled,
               ${snap("mm.m")} AS prior_strength,
               ${snap("CAST(agg.sabs20 AS DOUBLE) / 1048576.0 / agg.n_users")}
                 AS mean_abs_shrink,
               ${snap("CAST(agg.mx20 AS DOUBLE) / 1048576.0")} AS max_abs_shrink,
               agg.flips AS n_sign_flips
        FROM agg CROSS JOIN mm"""
  }

  // ---------------------------------------------------------------- q592

  /** James–Stein shrink of the 25 per-nation mean order values toward
    * the grand mean: B = 1 − (k−3)·v̄ / Σ(x̄_g − x̄)² with v̄ the mean
    * squared standard error (pooled within-variance / n_g, quantized
    * pre-sum), clipped at 0; shrunk_g = x̄ + (1−B̂꜀)(0) …  i.e.
    * x̄ + B·(x̄_g − x̄). Emits per-nation raw and shrunk means — the
    * demonstration that extreme nations move most. Order values in
    * exact cents; per-group rationals quantized before every
    * cross-group sum.
    */
  val q592JamesStein: QueryDef =
    QueryDef.sql("q592_james_stein", "r58_", "orders", "customer")(jsSql)

  private def jsSql(d: Dialect): String = {
    s"""WITH o AS (SELECT c.c_nationkey AS nk,
                          CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                   FROM ${d.t("orders")} o JOIN ${d.t("customer")} c
                     ON c.c_custkey = o.o_custkey),
        gmom AS (SELECT nk, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(cents) AS BIGINT) AS sc,
                        CAST(sum(${qi(
        "(CAST(cents AS DOUBLE) / 1048576) * (CAST(cents AS DOUBLE) / 1048576)")})
                          AS BIGINT) AS sq20
                 FROM o GROUP BY 1),
        gm AS (SELECT CAST(count(*) AS BIGINT) AS k,
                      CAST(sum(n) AS BIGINT) AS nn,
                      CAST(sum(sc) AS BIGINT) AS scc
               FROM gmom),
        per AS (SELECT g.nk, g.n,
                       CAST(g.sc AS DOUBLE) / g.n / 100 AS xbar,
                       CAST(gm.scc AS DOUBLE) / gm.nn / 100 AS grand,
                       -- within-group variance of DOLLAR values, from the
                       -- 2^-20-quantized squared-cent moments
                       ((CAST(g.sq20 AS DOUBLE) * 1048576.0 / g.n)
                         - (CAST(g.sc AS DOUBLE) / g.n) * (CAST(g.sc AS DOUBLE) / g.n))
                         / 10000 / g.n AS se2
                FROM gmom g CROSS JOIN gm),
        bb AS (SELECT CAST(count(*) AS BIGINT) AS k,
                      CAST(sum(${qi("se2")}) AS BIGINT) AS sv20,
                      CAST(sum(${qi("(xbar - grand) * (xbar - grand)")}) AS BIGINT)
                        AS sd20
               FROM per),
        f AS (SELECT greatest(CAST(1 AS DOUBLE)
                       - (bb.k - 3) * (CAST(bb.sv20 AS DOUBLE) / bb.k)
                         / CAST(bb.sd20 AS DOUBLE),
                     CAST(0 AS DOUBLE)) AS b
              FROM bb)
        SELECT per.nk AS nationkey, per.n AS n_orders,
               ${snap("per.xbar")} AS raw_mean,
               ${snap("per.grand + f.b * (per.xbar - per.grand)")} AS js_mean,
               ${snap("f.b")} AS shrink_factor
        FROM per CROSS JOIN f
        ORDER BY per.nk"""
  }

  // ---------------------------------------------------------------- q593

  /** BIC Bayes factor, constant vs day-of-week model of daily volume:
    * BIC_m = n·ln(SSE_m/n) + k_m·ln n over zero-filled daily counts
    * (k = 1 vs 7). SSE₀ rides the exact BIGINT total moments; SSE₁'s
    * per-dow group terms are quantized pre-sum. Emits both BICs, ΔBIC
    * and ln BF₁₀ ≈ −ΔBIC/2 — "strong evidence" for weekly seasonality
    * at ln BF > 3 (the Kass–Raftery shelf, cited not invented).
    */
  val q593BicSeasonality: QueryDef = QueryDef.sql("q593_bic_seasonality", "r58_", "events")(bicSql)

  private def bicSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val grid = s"SELECT ${d.closedRange("mn", "mx")} AS d FROM b"
    s"""WITH e AS (SELECT ($us ${d.idiv} 86400000000) AS d FROM $tbl),
        cnt AS (SELECT d, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY 1),
        b AS (SELECT min(d) AS mn, max(d) AS mx FROM e),
        days AS ($grid),
        y AS (SELECT days.d, ((days.d % 7) + 7) % 7 AS dow,
                     CAST(coalesce(cnt.y, 0) AS BIGINT) AS y
              FROM days LEFT JOIN cnt ON cnt.d = days.d),
        m0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(y * y) AS BIGINT) AS syy
               FROM y),
        mg AS (SELECT dow, CAST(count(*) AS BIGINT) AS ng,
                      CAST(sum(y) AS BIGINT) AS syg,
                      CAST(sum(y * y) AS BIGINT) AS syyg
               FROM y GROUP BY 1),
        s1 AS (SELECT CAST(sum(${qi(
        "CAST(syyg AS DOUBLE) - CAST(syg AS DOUBLE) * syg / ng")}) AS BIGINT) AS sse20
               FROM mg),
        f AS (SELECT m0.n,
                     CAST(m0.syy AS DOUBLE) - CAST(m0.sy AS DOUBLE) * m0.sy / m0.n
                       AS sse0,
                     CAST(s1.sse20 AS DOUBLE) / 1048576.0 AS sse1
              FROM m0 CROSS JOIN s1),
        bic AS (SELECT n, sse0, sse1,
                       n * ln(sse0 / n) + 1 * ln(CAST(n AS DOUBLE)) AS bic0,
                       n * ln(sse1 / n) + 7 * ln(CAST(n AS DOUBLE)) AS bic1
                FROM f)
        SELECT n AS n_days,
               ${snap("sse0")} AS sse_const,
               ${snap("sse1")} AS sse_dow,
               ${snap("bic0")} AS bic_const,
               ${snap("bic1")} AS bic_dow,
               ${snap("(bic0 - bic1) / 2")} AS ln_bf_dow,
               CAST(CASE WHEN (bic0 - bic1) / 2 > CAST(3 AS DOUBLE)
                    THEN 1 ELSE 0 END AS INT) AS strong_weekly
        FROM bic"""
  }

  val all: Seq[QueryDef] =
    Seq(q591BetaBinomialShrink, q592JamesStein, q593BicSeasonality)
}
