package graft.queries

import graft.queries.SqlFragments._

/** Round-41 additions (q513+): the classical-inference and geometry
  * audits still missing after 40 rounds — Welch's unequal-variance
  * t-test (q229's ANOVA assumes pooled variance), permutation entropy
  * (ordinal-pattern complexity of the hourly series; q434's entropy
  * rate is symbol-level), an embedding whitening audit (full covariance
  * off-diagonal mass; q453 profiles only the diagonal), range-shard cut
  * planning by cumulative weight (the RangePartitioner boundary math),
  * a single-frequency diurnal DFT (q236's STL-lite gives index tables,
  * not spectral power), and the Jonckheere–Terpstra ordered-alternative
  * test (q340's Kruskal–Wallis ignores group order). House invariants
  * as Round13-40; data-dependent dimension relations that feed a
  * cross join carry explicit LIMIT nodes (no-ops in contract) so the
  * plan gate proves them bounded.
  */
object Round41 {

  // ---------------------------------------------------------------- q513

  /** Welch's two-sample t-test between click and view values: means and
    * SAMPLE variances from exact 2^20-quantized sufficient statistics,
    * t = (m₁−m₂)/√(v₁/n₁+v₂/n₂), Welch–Satterthwaite degrees of
    * freedom, and the |t| > 1.96 verdict. The unequal-variance test
    * q327's Cohen's d and q229's pooled-variance F both skip.
    */
  val q513WelchTtest: QueryDef = QueryDef.sql("q513_welch_ttest", "r41_", "events")(welchSql)

  private def welchSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH b AS (
          SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g, value AS v
          FROM $tbl WHERE event_type IN ('click', 'view')),
        raw AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(${qi("v")}) AS BIGINT) AS s1,
                 CAST(sum(${qi("v * v")}) AS BIGINT) AS s2
          FROM b GROUP BY 1),
        ms AS (
          SELECT g, n,
                 CAST(s1 AS DOUBLE) / 1048576.0 / n AS m,
                 (CAST(s2 AS DOUBLE) / 1048576.0
                   - (CAST(s1 AS DOUBLE) / 1048576.0 / n) * (CAST(s1 AS DOUBLE) / 1048576.0 / n) * n)
                   / (n - 1) AS vv
          FROM raw),
        t AS (
          SELECT CAST(max(CASE WHEN g = 0 THEN n END) AS BIGINT) AS n1,
                 CAST(max(CASE WHEN g = 1 THEN n END) AS BIGINT) AS n2,
                 max(CASE WHEN g = 0 THEN m END) AS m1,
                 max(CASE WHEN g = 1 THEN m END) AS m2,
                 max(CASE WHEN g = 0 THEN vv END) AS v1,
                 max(CASE WHEN g = 1 THEN vv END) AS v2
          FROM ms)
        SELECT n1 AS n_click, n2 AS n_view,
               ${snap("m1")} AS mean_click,
               ${snap("m2")} AS mean_view,
               ${snap("(m1 - m2) / sqrt(v1 / n1 + v2 / n2)")} AS t_stat,
               ${snap("(v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))")}
                 AS welch_df,
               CAST(CASE WHEN abs((m1 - m2) / sqrt(v1 / n1 + v2 / n2)) >
                 CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS reject_95
        FROM t"""
  }

  // ---------------------------------------------------------------- q514

  /** Permutation entropy (order 3) of each event type's zero-filled
    * hourly count series: consecutive triples map to one of six ordinal
    * patterns (ties break by position, the Bandt–Pompe convention), and
    * the Shannon entropy of the pattern distribution — normalized by
    * ln 6 — separates trending/periodic series (low) from noise (≈1).
    * Per-pattern entropy terms quantize to BIGINT before the sum; the
    * type dimension carries a LIMIT node so the grid cross join is
    * provably bounded.
    */
  val q514PermutationEntropy: QueryDef =
    QueryDef.sql("q514_permutation_entropy", "r41_", "events")(permEntropySql)

  private def permEntropySql(d: Dialect): String = {
    val tbl = d.t("events")
    val hh = s"${d.epochUs("ts")} ${d.idiv} 3600000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS hh FROM b"
    s"""WITH h AS (SELECT event_type, $hh AS hh FROM $tbl),
        cnt AS (SELECT event_type, hh, CAST(count(*) AS BIGINT) AS x
                FROM h GROUP BY 1, 2),
        b AS (SELECT min(hh) AS mn, max(hh) AS mx FROM h),
        grid AS ($grid),
        tys AS (SELECT DISTINCT event_type FROM h LIMIT 64),
        s AS (SELECT t.event_type, g.hh - g.mn AS idx,
                     CAST(coalesce(c.x, 0) AS BIGINT) AS x
              FROM grid g CROSS JOIN tys t
              LEFT JOIN cnt c ON c.event_type = t.event_type AND c.hh = g.hh),
        tri AS (
          SELECT event_type, x AS x0,
                 lead(x, 1) OVER (PARTITION BY event_type ORDER BY idx) AS x1,
                 lead(x, 2) OVER (PARTITION BY event_type ORDER BY idx) AS x2
          FROM s),
        pat AS (
          SELECT event_type,
                 (CASE WHEN x1 < x0 THEN 1 ELSE 0 END) +
                 (CASE WHEN x2 < x0 THEN 1 ELSE 0 END) AS r0,
                 (CASE WHEN x0 <= x1 THEN 1 ELSE 0 END) +
                 (CASE WHEN x2 < x1 THEN 1 ELSE 0 END) AS r1,
                 (CASE WHEN x0 <= x2 THEN 1 ELSE 0 END) +
                 (CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS r2
          FROM tri WHERE x2 IS NOT NULL),
        pc AS (SELECT event_type, r0 * 9 + r1 * 3 + r2 AS pid,
                      CAST(count(*) AS BIGINT) AS c
               FROM pat GROUP BY 1, 2),
        pn AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS nt FROM pc GROUP BY 1),
        term AS (
          SELECT pc.event_type, pn.nt,
                 ${qi("-(CAST(c AS DOUBLE) / nt) * ln(CAST(c AS DOUBLE) / nt)")} AS tq
          FROM pc JOIN pn ON pn.event_type = pc.event_type)
        SELECT event_type,
               CAST(max(nt) AS BIGINT) AS n_triples,
               CAST(count(*) AS BIGINT) AS n_patterns,
               ${snap("CAST(sum(tq) AS DOUBLE) / 1048576.0")} AS perm_entropy,
               ${snap("CAST(sum(tq) AS DOUBLE) / 1048576.0 / ln(CAST(6 AS DOUBLE))")}
                 AS norm_entropy
        FROM term
        GROUP BY event_type
        ORDER BY event_type"""
  }

  // ---------------------------------------------------------------- q515

  /** Embedding whitening audit: the FULL covariance matrix from one
    * vec_id-keyed self-join of the exploded dimension relation (per-key
    * fanout d(d+1)/2 — a constant, never corpus²), exact quantized
    * sufficient statistics per (dᵢ, dⱼ) cell, and the off-diagonal mass
    * ratio Σᵢ<ⱼcov² / Σᵢvar² + the single worst |covariance| — "is this
    * space already white, or does contrastive reuse need PCA first".
    * q453 sees only the diagonal; q422's isotropy only mean direction.
    * Squared cells re-quantize before the cross-cell sum (snapped
    * squares are NOT dyadic at 2^-30).
    */
  val q515WhiteningAudit: QueryDef =
    QueryDef.sql("q515_whitening_audit", "r41_", "embeddings")(whiteningSql)

  private def whiteningSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val e = d.embeddingCells(tbl, "vec_id", 0)
    s"""WITH e AS ($e),
        pe AS (
          SELECT a.dim AS da, b.dim AS db,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(${qi("a.v * b.v")}) AS BIGINT) AS sp
          FROM e a JOIN e b ON b.vec_id = a.vec_id AND a.dim <= b.dim
          GROUP BY 1, 2),
        mu AS (SELECT dim, CAST(sum(${qi("v")}) AS BIGINT) AS s1,
                      CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY 1),
        cov AS (
          SELECT p.da, p.db,
                 ${snap("CAST(p.sp AS DOUBLE) / 1048576.0 / p.n - (CAST(a.s1 AS DOUBLE) / 1048576.0 / a.n) * (CAST(b.s1 AS DOUBLE) / 1048576.0 / b.n)")}
                   AS c
          FROM pe p JOIN mu a ON a.dim = p.da JOIN mu b ON b.dim = p.db),
        agg AS (
          SELECT CAST(sum(CASE WHEN da = db THEN 1 ELSE 0 END) AS BIGINT) AS n_dims,
                 CAST(sum(CASE WHEN da = db THEN ${qi("c")} ELSE 0 END) AS BIGINT) AS trq,
                 CAST(sum(CASE WHEN da = db THEN ${qi("c * c")} ELSE 0 END) AS BIGINT) AS dsq,
                 CAST(sum(CASE WHEN da < db THEN ${qi("c * c")} ELSE 0 END) AS BIGINT) AS osq,
                 max(CASE WHEN da < db THEN abs(c) END) AS mxo
          FROM cov)
        SELECT n_dims,
               ${snap("CAST(trq AS DOUBLE) / 1048576.0")} AS cov_trace,
               ${snap("CAST(dsq AS DOUBLE) / 1048576.0")} AS diag_sq_mass,
               ${snap("CAST(osq AS DOUBLE) / 1048576.0")} AS offdiag_sq_mass,
               ${snap("CAST(osq AS DOUBLE) / dsq")} AS whitening_ratio,
               ${snap("mxo")} AS max_abs_offdiag
        FROM agg"""
  }

  // ---------------------------------------------------------------- q516

  /** Range-shard cut planning: order months of lineitem chronologically,
    * cut the cumulative row weight at k·total/8 — exactly the boundary
    * math a RangePartitioner runs on sampled weights — and report each
    * shard's month span, rows, share, and deviation from the ideal 1/8.
    * Contiguous key ranges (unlike q59's hash split) keep time-locality
    * for pruning; this sheet says what that costs in balance.
    */
  val q516RangeShardPlan: QueryDef =
    QueryDef.sql("q516_range_shard_plan", "r41_", "lineitem")(rangeShardSql)

  private def rangeShardSql(d: Dialect): String = {
    val tbl = d.t("lineitem")
    s"""WITH m AS (SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mk
                   FROM $tbl),
        cm AS (SELECT mk, CAST(count(*) AS BIGINT) AS w FROM m GROUP BY 1),
        p AS (SELECT mk, w, CAST(sum(w) OVER (ORDER BY mk) AS BIGINT) AS cum FROM cm),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS t FROM cm),
        sh AS (SELECT p.mk, p.w, tot.t,
                      ((p.cum - p.w) * 8) ${d.idiv} tot.t AS shard
               FROM p CROSS JOIN tot)
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_months,
               CAST(min(mk) AS BIGINT) AS lo_month,
               CAST(max(mk) AS BIGINT) AS hi_month,
               CAST(sum(w) AS BIGINT) AS n_rows,
               ${snap("CAST(sum(w) AS DOUBLE) / max(t)")} AS row_share,
               ${snap("abs(CAST(sum(w) AS DOUBLE) / max(t) - CAST(1 AS DOUBLE) / 8)")}
                 AS abs_dev_from_ideal
        FROM sh
        GROUP BY shard
        ORDER BY shard"""
  }

  // ---------------------------------------------------------------- q517

  /** Diurnal harmonic fit: single-frequency DFT of each event type's
    * zero-filled hourly series at period 24 — cos/sin coefficients,
    * amplitude, and the share of variance the 24 h harmonic explains.
    * Counts first collapse to the 24 residue classes (exact BIGINT),
    * so only 24 cos/sin products exist per type, each quantized before
    * the sum. The spectral companion to q236's moving-average indices.
    */
  val q517DiurnalHarmonic: QueryDef =
    QueryDef.sql("q517_diurnal_harmonic", "r41_", "events")(harmonicSql)

  private def harmonicSql(d: Dialect): String = {
    val tbl = d.t("events")
    val hh = s"${d.epochUs("ts")} ${d.idiv} 3600000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS hh FROM b"
    val theta = "CAST(2 AS DOUBLE) * pi() * k / CAST(24 AS DOUBLE)"
    s"""WITH h AS (SELECT event_type, $hh AS hh FROM $tbl),
        cnt AS (SELECT event_type, hh, CAST(count(*) AS BIGINT) AS x
                FROM h GROUP BY 1, 2),
        b AS (SELECT min(hh) AS mn, max(hh) AS mx FROM h),
        grid AS ($grid),
        tys AS (SELECT DISTINCT event_type FROM h LIMIT 64),
        s AS (SELECT t.event_type, g.hh % 24 AS k,
                     CAST(coalesce(c.x, 0) AS BIGINT) AS x
              FROM grid g CROSS JOIN tys t
              LEFT JOIN cnt c ON c.event_type = t.event_type AND c.hh = g.hh),
        rs AS (SELECT event_type, k, CAST(sum(x) AS BIGINT) AS sk
               FROM s GROUP BY 1, 2),
        tots AS (SELECT event_type,
                        CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(x) AS BIGINT) AS sx,
                        CAST(sum(x * x) AS BIGINT) AS sxx
                 FROM s GROUP BY 1),
        co AS (
          SELECT event_type,
                 CAST(sum(${qi(s"CAST(sk AS DOUBLE) * cos($theta)")}) AS BIGINT) AS sa,
                 CAST(sum(${qi(s"CAST(sk AS DOUBLE) * sin($theta)")}) AS BIGINT) AS sb
          FROM rs GROUP BY 1),
        fit AS (
          SELECT t.event_type, t.n,
                 CAST(2 AS DOUBLE) * c.sa / 1048576.0 / t.n AS a,
                 CAST(2 AS DOUBLE) * c.sb / 1048576.0 / t.n AS bb,
                 CAST(t.sxx AS DOUBLE) - CAST(t.sx AS DOUBLE) * t.sx / t.n AS sstot
          FROM tots t JOIN co c ON c.event_type = t.event_type)
        SELECT event_type, n AS n_hours,
               ${snap("a")} AS coef_cos,
               ${snap("bb")} AS coef_sin,
               ${snap("sqrt(a * a + bb * bb)")} AS amplitude,
               ${snap("(CAST(n AS DOUBLE) / 2) * (a * a + bb * bb) / sstot")} AS r2_24h
        FROM fit
        ORDER BY event_type"""
  }

  // ---------------------------------------------------------------- q518

  /** Jonckheere–Terpstra ordered-alternative test: does o_totalprice
    * trend with order priority (groups ordered '1-URGENT' → '5-LOW')?
    * J doubles to stay integer: 2U_ij = Σ_v c_j(v)·(2·#{i < v} + #{i = v})
    * through per-group cumulative counts on the shared value axis (the
    * tie convention counts ½ per equal pair). Normal approximation with
    * the tie-uncorrected variance; q340's Kruskal–Wallis would ignore
    * that the alternative is MONOTONE in priority.
    */
  val q518Jonckheere: QueryDef = QueryDef.sql("q518_jonckheere", "r41_", "orders")(jonckheereSql)

  private def jonckheereSql(d: Dialect): String = {
    val tbl = d.t("orders")
    s"""WITH o AS (SELECT o_orderpriority AS p,
                          CAST(round(o_totalprice * CAST(100 AS DOUBLE)) AS BIGINT) AS cents
                   FROM $tbl),
        gv AS (SELECT p, cents, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1, 2),
        vals AS (SELECT DISTINCT cents FROM o),
        ps AS (SELECT DISTINCT p FROM o LIMIT 16),
        grid AS (SELECT ps.p, v.cents FROM vals v CROSS JOIN ps),
        cg AS (SELECT g.p, g.cents,
                      CAST(coalesce(gv.c, 0) AS BIGINT) AS c,
                      CAST(sum(coalesce(gv.c, 0)) OVER (PARTITION BY g.p
                        ORDER BY g.cents) AS BIGINT) AS cumle
               FROM grid g LEFT JOIN gv ON gv.p = g.p AND gv.cents = g.cents),
        pair AS (SELECT i.p AS pa, j.p AS pb,
                        CAST(sum(j.c * (2 * (i.cumle - i.c) + i.c)) AS BIGINT) AS u2
                 FROM cg i JOIN cg j ON j.cents = i.cents AND i.p < j.p
                 GROUP BY 1, 2),
        gn AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM o GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                       CAST(sum(n * n) AS BIGINT) AS sn2,
                       CAST(sum(n * n * (2 * n + 3)) AS BIGINT) AS sn23
                FROM gn),
        jj AS (SELECT CAST(sum(u2) AS BIGINT) AS j2 FROM pair)
        SELECT t.nn AS n_total,
               j.j2 AS j_stat_x2,
               CAST((t.nn * t.nn - t.sn2) / 2 AS BIGINT) AS j_mean_x2,
               ${snap("(CAST(j.j2 AS DOUBLE) - CAST(t.nn AS DOUBLE) * t.nn / 2 + CAST(t.sn2 AS DOUBLE) / 2) / (CAST(2 AS DOUBLE) * sqrt((CAST(t.nn AS DOUBLE) * t.nn * (2 * t.nn + 3) - t.sn23) / 72))")}
                 AS z_stat,
               CAST(CASE WHEN abs((CAST(j.j2 AS DOUBLE) - CAST(t.nn AS DOUBLE) * t.nn / 2 + CAST(t.sn2 AS DOUBLE) / 2) / (CAST(2 AS DOUBLE) * sqrt((CAST(t.nn AS DOUBLE) * t.nn * (2 * t.nn + 3) - t.sn23) / 72))) >
                 CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS reject_95
        FROM tot t CROSS JOIN jj j"""
  }

  val all: Seq[QueryDef] = Seq(
    q513WelchTtest, q514PermutationEntropy, q515WhiteningAudit,
    q516RangeShardPlan, q517DiurnalHarmonic, q518Jonckheere)
}
