package graft.queries

import graft.queries.SqlFragments._

/** Round-60 additions (q596+): effect-size & robust-location panel — the
  * "how BIG is the difference" companions to the test panels (q580 TOST,
  * q594 Holm tell you whether; these tell you how much): Cohen's d with
  * the Hedges small-sample correction for the click-vs-view value gap,
  * Cliff's delta / Vargha–Delaney A12 computed EXACTLY by integer pair
  * counting over the cent-value histogram (no O(n²) pair join — a
  * cumulative-count sweep over distinct values), and 10% trimmed /
  * winsorized means per event type (the robust-location row q150's MAD
  * outlier panel implies but never states). House invariants as
  * Round13–59.
  */
object Round60 {

  // ---------------------------------------------------------------- q596

  /** Cohen's d (pooled SD) and Hedges' g for the click-vs-view mean
    * value difference: group moments 2^-20-quantized pre-sum (the q580
    * discipline), pooled variance from the exact per-arm SSes, g =
    * d·(1 − 3/(4(n_a+n_b) − 9)). The conventional magnitude label rides
    * the standard 0.2/0.5/0.8 shelves (Cohen '88, cited not invented).
    */
  val q596CohensD: QueryDef = QueryDef.sql("q596_cohens_d", "r60_", "events")(cohenSql)

  private def cohenSql(d: Dialect): String = {
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
                     CAST(sa AS DOUBLE) / 1048576.0 / na
                       - CAST(sb AS DOUBLE) / 1048576.0 / nb AS delta,
                     ((CAST(qa AS DOUBLE) / 1048576.0
                        - (CAST(sa AS DOUBLE) / 1048576.0)
                          * (CAST(sa AS DOUBLE) / 1048576.0) / na)
                      + (CAST(qb AS DOUBLE) / 1048576.0
                        - (CAST(sb AS DOUBLE) / 1048576.0)
                          * (CAST(sb AS DOUBLE) / 1048576.0) / nb))
                       / (na + nb - 2) AS s2p
              FROM w),
        f AS (SELECT na, nb, delta, sqrt(s2p) AS sp,
                     delta / sqrt(s2p) AS d,
                     (1 - CAST(3 AS DOUBLE) / (4 * (na + nb) - 9))
                       * (delta / sqrt(s2p)) AS gg
              FROM m)
        SELECT na AS n_click, nb AS n_view,
               ${snap("delta")} AS mean_diff,
               ${snap("sp")} AS pooled_sd,
               ${snap("d")} AS cohens_d,
               ${snap("gg")} AS hedges_g,
               CASE WHEN abs(d) < CAST(0.2 AS DOUBLE) THEN 'negligible'
                    WHEN abs(d) < CAST(0.5 AS DOUBLE) THEN 'small'
                    WHEN abs(d) < CAST(0.8 AS DOUBLE) THEN 'medium'
                    ELSE 'large' END AS magnitude
        FROM f"""
  }

  // ---------------------------------------------------------------- q597

  /** Cliff's delta and Vargha–Delaney A12 for click (X) vs view (Y)
    * values, EXACT: bucket both arms on the cent grid, then one
    * cumulative sweep over distinct values counts the greater/less/tie
    * pairs as Σ cx·cumY — integer arithmetic end to end, δ =
    * (gt − lt)/(n₁n₂), A12 = (gt + ties/2)/(n₁n₂), and the identity
    * gt + lt + ties = n₁·n₂ is emitted as its own audited invariant.
    * Magnitude shelves 0.147/0.33/0.474 (Romano et al. 2006).
    */
  val q597CliffsDelta: QueryDef = QueryDef.sql("q597_cliffs_delta", "r60_", "events")(cliffSql)

  private def cliffSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
                          CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                            AS BIGINT) AS cx,
                          CAST(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
                            AS BIGINT) AS cy
                   FROM $tbl WHERE event_type IN ('click', 'view')),
        h AS (SELECT v, CAST(sum(cx) AS BIGINT) AS cx,
                     CAST(sum(cy) AS BIGINT) AS cy
              FROM v GROUP BY 1),
        c AS (SELECT v, cx, cy,
                     CAST(coalesce(sum(cy) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cy_lt,
                     CAST(sum(cy) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cy_le
              FROM h),
        t AS (SELECT CAST(sum(cx) AS BIGINT) AS n1,
                     CAST(sum(cy) AS BIGINT) AS n2
              FROM h),
        p AS (SELECT CAST(sum(cx * cy_lt) AS BIGINT) AS gt_pairs,
                     CAST(sum(cx * (t.n2 - cy_le)) AS BIGINT) AS lt_pairs,
                     CAST(sum(cx * cy) AS BIGINT) AS tie_pairs
              FROM c CROSS JOIN t),
        f AS (SELECT t.n1, t.n2, p.gt_pairs, p.lt_pairs, p.tie_pairs,
                     CAST(p.gt_pairs - p.lt_pairs AS DOUBLE) / (t.n1 * t.n2)
                       AS cd,
                     (p.gt_pairs + CAST(p.tie_pairs AS DOUBLE) / 2)
                       / (t.n1 * t.n2) AS a12
              FROM p CROSS JOIN t)
        SELECT n1 AS n_click, n2 AS n_view, gt_pairs, lt_pairs, tie_pairs,
               CAST(CASE WHEN gt_pairs + lt_pairs + tie_pairs = n1 * n2
                    THEN 1 ELSE 0 END AS INT) AS pair_identity_ok,
               ${snap("cd")} AS cliffs_delta,
               ${snap("a12")} AS vd_a12,
               CASE WHEN abs(cd) < CAST(0.147 AS DOUBLE) THEN 'negligible'
                    WHEN abs(cd) < CAST(0.33 AS DOUBLE) THEN 'small'
                    WHEN abs(cd) < CAST(0.474 AS DOUBLE) THEN 'medium'
                    ELSE 'large' END AS magnitude
        FROM f"""
  }

  // ---------------------------------------------------------------- q598

  /** 10% trimmed and winsorized means of event value per type, exact:
    * cent values ranked by (v, event_id) so ties break identically in
    * both engines, k = ⌊n/10⌋ cut from each end; the winsorized sum
    * clamps the tails to the (k+1)-th and (n−k)-th order statistics —
    * integer sums, divisions only in the projection. The robust
    * location row beside the raw mean: when trimmed ≪ mean the tail,
    * not the body, is carrying the metric.
    */
  val q598TrimmedWinsorized: QueryDef =
    QueryDef.sql("q598_trimmed_winsorized", "r60_", "events")(trimSql)

  private def trimSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH v AS (SELECT event_type, event_id,
                          CAST(round(value * 100) AS BIGINT) AS c
                   FROM $tbl),
        rk AS (SELECT event_type, c,
                      CAST(row_number() OVER (PARTITION BY event_type
                        ORDER BY c, event_id) AS BIGINT) AS r
               FROM v),
        nt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      CAST(count(*) AS BIGINT) ${d.idiv} 10 AS k
               FROM v GROUP BY 1),
        bounds AS (SELECT rk.event_type,
                          max(CASE WHEN rk.r = nt.k + 1 THEN rk.c END) AS lo,
                          max(CASE WHEN rk.r = nt.n - nt.k THEN rk.c END) AS hi
                   FROM rk JOIN nt ON nt.event_type = rk.event_type
                   GROUP BY 1),
        agg AS (SELECT rk.event_type, nt.n, nt.k,
                       CAST(sum(rk.c) AS BIGINT) AS s_all,
                       CAST(sum(CASE WHEN rk.r > nt.k AND rk.r <= nt.n - nt.k
                                     THEN rk.c ELSE 0 END) AS BIGINT) AS s_mid
                FROM rk JOIN nt ON nt.event_type = rk.event_type
                GROUP BY 1, 2, 3)
        SELECT agg.event_type, agg.n, agg.k AS k_trim,
               ${snap("CAST(agg.s_all AS DOUBLE) / agg.n / 100")} AS mean_value,
               ${snap("CAST(agg.s_mid AS DOUBLE) / (agg.n - 2 * agg.k) / 100")}
                 AS trimmed_mean,
               ${snap(
        """CAST(agg.s_mid + agg.k * b.lo + agg.k * b.hi AS DOUBLE)
           / agg.n / 100""")} AS winsorized_mean
        FROM agg JOIN bounds b ON b.event_type = agg.event_type
        ORDER BY agg.event_type"""
  }

  val all: Seq[QueryDef] =
    Seq(q596CohensD, q597CliffsDelta, q598TrimmedWinsorized)
}
