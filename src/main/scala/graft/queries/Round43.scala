package graft.queries

import graft.queries.SqlFragments._

/** Round-43 additions (q525+): storage-model, tail-risk and
  * distribution-shape audits — the learned-index error of a linear
  * key→position model (the RMI question: how far is a sorted key layout
  * from linear), generalized-Pareto tail moments over p90 exceedances
  * (q298's Hill assumes a pure power law; GPD moments also say σ),
  * kernel MMD drift on binned values (the kernel view that q149/q506
  * CDF statistics miss), Bartlett's variance-homogeneity χ² (the
  * BEFORE-check for q229's pooled-variance ANOVA), and a sampling-
  * temperature sweep with EXACT integer weights (τ ∈ {½,1,2} → c², c,
  * √c — no pow(), so no libm divergence surface). House invariants as
  * Round13-42.
  */
object Round43 {

  // ---------------------------------------------------------------- q525

  /** Learned-index audit: fit position ≈ a·key + b over the sorted
    * o_orderkey axis (both normalized to [0,1] so the sufficient
    * statistics stay in quantization headroom AT ANY SCALE), and report
    * the max/mean position error in ROWS — the ε that decides a
    * recursive-model index's last-mile search window. Ranks come from
    * the bucket-offset pattern (key div 4096 buckets), never a
    * corpus-wide single-partition window.
    */
  val q525LearnedIndex: QueryDef =
    QueryDef.sql("q525_learned_index", "r43_", "orders")(learnedIndexSql)

  private def learnedIndexSql(d: Dialect): String = {
    val tbl = d.t("orders")
    s"""WITH k AS (SELECT CAST(o_orderkey AS BIGINT) AS key FROM $tbl),
        b AS (SELECT CAST(min(key) AS BIGINT) AS mn, CAST(max(key) AS BIGINT) AS mx,
                     CAST(count(*) AS BIGINT) AS n
              FROM k),
        bc AS (SELECT key ${d.idiv} 4096 AS bkt, CAST(count(*) AS BIGINT) AS c
               FROM k GROUP BY 1),
        boff AS (SELECT bkt, CAST(coalesce(sum(c) OVER (ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
                 FROM bc),
        rk AS (SELECT k.key,
                      boff.off + CAST(row_number() OVER (
                        PARTITION BY boff.bkt ORDER BY k.key) AS BIGINT) AS rnk
               FROM k JOIN boff ON boff.bkt = k.key ${d.idiv} 4096),
        xy AS (SELECT CAST(key - b.mn AS DOUBLE) / (b.mx - b.mn) AS xu,
                      CAST(rnk AS DOUBLE) / b.n AS yu,
                      b.n
               FROM rk CROSS JOIN b),
        st AS (SELECT CAST(max(n) AS BIGINT) AS n,
                      CAST(sum(${qi("xu")}) AS BIGINT) AS sx,
                      CAST(sum(${qi("yu")}) AS BIGINT) AS sy,
                      CAST(sum(${qi("xu * yu")}) AS BIGINT) AS sxy,
                      CAST(sum(${qi("xu * xu")}) AS BIGINT) AS sxx
               FROM xy),
        ab AS (SELECT n,
                      (CAST(sxy AS DOUBLE) / 1048576.0 - CAST(sx AS DOUBLE) * sy / 1048576.0 / 1048576.0 / n)
                        / (CAST(sxx AS DOUBLE) / 1048576.0 - CAST(sx AS DOUBLE) * sx / 1048576.0 / 1048576.0 / n) AS a
               FROM st),
        ab2 AS (SELECT ab.n, ab.a,
                       CAST(st.sy AS DOUBLE) / 1048576.0 / ab.n
                         - ab.a * st.sx / 1048576.0 / ab.n AS icpt
                FROM ab CROSS JOIN st),
        res AS (SELECT xy.n, a.a, a.icpt,
                       abs(xy.yu - (a.a * xy.xu + a.icpt)) * xy.n AS err
                FROM xy CROSS JOIN ab2 a)
        SELECT CAST(max(n) AS BIGINT) AS n_keys,
               ${snap("max(a)")} AS slope,
               ${snap("max(icpt)")} AS intercept,
               ${snap("max(err)")} AS max_pos_err,
               ${snap("CAST(sum(" + qi("err") + ") AS DOUBLE) / 1048576.0 / max(n)")}
                 AS mean_pos_err
        FROM res"""
  }

  // ---------------------------------------------------------------- q526

  /** GPD tail moments: exceedances over the exact p90 of event values
    * (threshold at ascending rank ⌈0.9·n⌉ through the cumulative
    * distinct-value table), method-of-moments shape ξ = (1 − m²/s²)/2
    * and scale σ = m·(1−ξ) from quantized excess statistics, plus the
    * heavy-tail verdict ξ > 0. The peaks-over-threshold companion to
    * q298's Hill estimator (Hill assumes a pure power law; GPD also
    * prices σ).
    */
  val q526GpdMoments: QueryDef = QueryDef.sql("q526_gpd_moments", "r43_", "events")(gpdSql)

  private def gpdSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH v AS (SELECT value AS x FROM $tbl),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        dv AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
        cum AS (SELECT x, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cle FROM dv),
        u AS (SELECT min(cum.x) AS u
              FROM cum CROSS JOIN n
              WHERE cum.cle >= (9 * n.n + 9) ${d.idiv} 10),
        ex AS (SELECT v.x - u.u AS e FROM v CROSS JOIN u WHERE v.x > u.u),
        st AS (SELECT CAST(count(*) AS BIGINT) AS ne,
                      CAST(sum(${qi("e")}) AS BIGINT) AS s1,
                      CAST(sum(${qi("e * e")}) AS BIGINT) AS s2
               FROM ex),
        mo AS (SELECT ne,
                      CAST(s1 AS DOUBLE) / 1048576.0 / ne AS m,
                      (CAST(s2 AS DOUBLE) / 1048576.0
                        - (CAST(s1 AS DOUBLE) / 1048576.0 / ne) * (CAST(s1 AS DOUBLE) / 1048576.0 / ne) * ne)
                        / (ne - 1) AS s2v
               FROM st),
        fit AS (SELECT ne, m, s2v,
                       (CAST(1 AS DOUBLE) - m * m / s2v) / 2 AS xi
                FROM mo)
        SELECT ${snap("u.u")} AS threshold_p90,
               f.ne AS n_exceed,
               ${snap("f.m")} AS mean_excess,
               ${snap("f.xi")} AS gpd_xi,
               ${snap("f.m * (CAST(1 AS DOUBLE) - f.xi)")} AS gpd_sigma,
               CAST(CASE WHEN f.xi > CAST(0 AS DOUBLE) THEN 1 ELSE 0 END AS INT)
                 AS heavy_tail
        FROM fit f CROSS JOIN u"""
  }

  // ---------------------------------------------------------------- q527

  /** Binned Gaussian-kernel MMD² between click and view values: values
    * round to integer bins (≤ 492 by the data contract — the bin
    * relations carry LIMIT nodes so the kernel cross join is provably
    * bounded), V-statistic MMD² = K̄xx + K̄yy − 2K̄xy for bandwidth
    * γ ∈ {10, 50}, every kernel-weighted count product quantized before
    * the sum. The kernel two-sample view — q149 sees the worst CDF
    * point, q506 the integrated CDF gap, this the smoothed density gap.
    */
  val q527MmdBinned: QueryDef = QueryDef.sql("q527_mmd_binned", "r43_", "events")(mmdSql)

  private def mmdSql(d: Dialect): String = {
    val tbl = d.t("events")
    val gs = s"SELECT ${d.list("10, 50")} AS gam"
    def kern(a: String, b: String): String =
      s"exp(-CAST(($a - $b) * ($a - $b) AS DOUBLE) / (CAST(2 AS DOUBLE) * gam * gam))"
    s"""WITH b AS (
          SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g,
                 CAST(round(value) AS BIGINT) AS r
          FROM $tbl WHERE event_type IN ('click', 'view')),
        ca AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM b WHERE g = 0
               GROUP BY 1 LIMIT 1000),
        cb AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM b WHERE g = 1
               GROUP BY 1 LIMIT 1000),
        nn AS (SELECT CAST(sum(CASE WHEN g = 0 THEN 1 END) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN g = 1 THEN 1 END) AS BIGINT) AS m
               FROM b),
        gg AS ($gs),
        kxx AS (SELECT g.gam, CAST(sum(${qi("a.c * b2.c * " + kern("a.r", "b2.r"))}) AS BIGINT) AS s
                FROM ca a CROSS JOIN ca b2 CROSS JOIN gg g GROUP BY 1),
        kyy AS (SELECT g.gam, CAST(sum(${qi("a.c * b2.c * " + kern("a.r", "b2.r"))}) AS BIGINT) AS s
                FROM cb a CROSS JOIN cb b2 CROSS JOIN gg g GROUP BY 1),
        kxy AS (SELECT g.gam, CAST(sum(${qi("a.c * b2.c * " + kern("a.r", "b2.r"))}) AS BIGINT) AS s
                FROM ca a CROSS JOIN cb b2 CROSS JOIN gg g GROUP BY 1)
        SELECT CAST(xx.gam AS BIGINT) AS bandwidth,
               n.n AS n_click, n.m AS n_view,
               ${snap("CAST(xx.s AS DOUBLE) / 1048576.0 / n.n / n.n")} AS kbar_xx,
               ${snap("CAST(yy.s AS DOUBLE) / 1048576.0 / n.m / n.m")} AS kbar_yy,
               ${snap("CAST(xy.s AS DOUBLE) / 1048576.0 / n.n / n.m")} AS kbar_xy,
               ${snap("CAST(xx.s AS DOUBLE) / 1048576.0 / n.n / n.n + CAST(yy.s AS DOUBLE) / 1048576.0 / n.m / n.m - CAST(2 AS DOUBLE) * xy.s / 1048576.0 / n.n / n.m")}
                 AS mmd2
        FROM kxx xx
        JOIN kyy yy ON yy.gam = xx.gam
        JOIN kxy xy ON xy.gam = xx.gam
        CROSS JOIN nn n
        ORDER BY bandwidth"""
  }

  // ---------------------------------------------------------------- q528

  /** Bartlett's test of variance homogeneity across all event types —
    * the assumption check BEFORE q229's pooled-variance ANOVA means
    * anything. χ² = [(N−k)·ln s_p² − Σ(nᵢ−1)·ln sᵢ²]/C with the usual
    * correction C; variances from quantized sufficient statistics on
    * value/100 (the χ² is scale-free, the quantization grid isn't).
    * Per-group ln terms quantize before the k-term sum.
    */
  val q528Bartlett: QueryDef = QueryDef.sql("q528_bartlett", "r43_", "events")(bartlettSql)

  private def bartlettSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH z AS (SELECT event_type, value / CAST(100 AS DOUBLE) AS z FROM $tbl),
        raw AS (SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(${qi("z")}) AS BIGINT) AS s1,
                       CAST(sum(${qi("z * z")}) AS BIGINT) AS s2
                FROM z GROUP BY 1),
        vs AS (SELECT event_type, n,
                      (CAST(s2 AS DOUBLE) / 1048576.0
                        - (CAST(s1 AS DOUBLE) / 1048576.0 / n) * (CAST(s1 AS DOUBLE) / 1048576.0 / n) * n)
                        / (n - 1) AS v
               FROM raw),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
                       CAST(sum(n) AS BIGINT) AS nt,
                       CAST(sum(${qi("(n - 1) * v")}) AS BIGINT) AS swv,
                       CAST(sum(${qi("(n - 1) * ln(v)")}) AS BIGINT) AS slv,
                       CAST(sum(${qi("CAST(1 AS DOUBLE) / (n - 1)")}) AS BIGINT) AS sinv
                FROM vs),
        chi AS (SELECT k, nt,
                       ((nt - k) * ln(CAST(swv AS DOUBLE) / 1048576.0 / (nt - k))
                         - CAST(slv AS DOUBLE) / 1048576.0)
                       / (CAST(1 AS DOUBLE) + (CAST(sinv AS DOUBLE) / 1048576.0
                           - CAST(1 AS DOUBLE) / (nt - k)) / (3 * (k - 1))) AS c2
                FROM agg)
        SELECT k AS n_groups, nt AS n_total,
               CAST(k - 1 AS BIGINT) AS df,
               ${snap("c2")} AS bartlett_chi2,
               CAST(CASE WHEN c2 > CAST(9.487729036781154 AS DOUBLE) THEN 1 ELSE 0 END AS INT)
                 AS reject_95
        FROM chi"""
  }

  // ---------------------------------------------------------------- q529

  /** Sampling-temperature sweep with EXACT integer weights: the global
    * unigram distribution reshaped at τ = ½ (w = c², sharpened), τ = 1
    * (w = c), τ = 2 (w = ⌊√c⌉ on the 2^20 grid, flattened) — the three
    * temperatures whose powers need no pow() call, so both engines
    * compute identical weights. Per τ: Shannon entropy (per-word terms
    * quantized pre-sum), effective vocabulary exp(H), and the top-100
    * mass through the bucket-offset frequency rank (one rank serves all
    * τ — every reweighting is monotone in c).
    */
  val q529TemperatureSweep: QueryDef =
    QueryDef.sql("q529_temperature_sweep", "r43_", "documents")(temperatureSql)

  private def temperatureSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val toks =
      s"""SELECT word FROM (SELECT ${d.words} AS word
            FROM $tbl) x WHERE word <> ''"""
    def branch(tau: String, w: String): String =
      s"""SELECT CAST($tau AS DOUBLE) AS tau, word, c, rnk,
                 CAST($w AS BIGINT) AS w
          FROM wr"""
    s"""WITH tok AS ($toks),
        cw AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        cv AS (SELECT c, CAST(count(*) AS BIGINT) AS k FROM cw GROUP BY 1),
        boff AS (SELECT c, CAST(coalesce(sum(k) OVER (ORDER BY c DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
                 FROM cv),
        wr AS (SELECT cw.word, cw.c,
                      boff.off + CAST(row_number() OVER (
                        PARTITION BY cw.c ORDER BY cw.word) AS BIGINT) AS rnk
               FROM cw JOIN boff ON boff.c = cw.c),
        ws AS (${branch("0.5", "c * c")}
               UNION ALL ${branch("1.0", "c")}
               UNION ALL ${branch("2.0", qi("sqrt(CAST(c AS DOUBLE))"))}),
        zt AS (SELECT tau, CAST(sum(w) AS BIGINT) AS z,
                      CAST(count(*) AS BIGINT) AS vocab
               FROM ws GROUP BY 1),
        ent AS (SELECT w.tau,
                       CAST(sum(${qi("-(CAST(w.w AS DOUBLE) / z.z) * ln(CAST(w.w AS DOUBLE) / z.z)")}) AS BIGINT) AS hq,
                       CAST(sum(CASE WHEN w.rnk <= 100 THEN w.w ELSE 0 END) AS BIGINT) AS top
                FROM ws w JOIN zt z ON z.tau = w.tau
                GROUP BY 1)
        SELECT ${snap("z.tau")} AS tau,
               z.vocab AS vocab_size,
               ${snap("CAST(e.hq AS DOUBLE) / 1048576.0")} AS entropy,
               ${snap("exp(CAST(e.hq AS DOUBLE) / 1048576.0)")} AS effective_vocab,
               ${snap("CAST(e.top AS DOUBLE) / z.z")} AS top100_mass
        FROM zt z JOIN ent e ON e.tau = z.tau
        ORDER BY tau"""
  }

  val all: Seq[QueryDef] = Seq(
    q525LearnedIndex, q526GpdMoments, q527MmdBinned,
    q528Bartlett, q529TemperatureSweep)
}
