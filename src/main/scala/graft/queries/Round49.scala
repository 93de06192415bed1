package graft.queries

import graft.queries.SqlFragments._

/** Round-49 additions (q560+): corpus frequency-spectrum and
  * predictive-causality audits — Good–Turing unseen-type mass from the
  * exact frequency-of-frequencies spectrum (the "how much probability
  * belongs to words we have never seen" number a tokenizer/LM budget
  * needs), Yule's K repetition index with the hapax share (q209/q427
  * fit vocabulary GROWTH; K measures repetition at fixed N), a
  * Granger-causality F-test on the daily click/view series (q199's CCF
  * finds the lead–lag; this tests whether the lag actually PREDICTS,
  * and q555 asks the complementary shared-trend question), and the
  * Hill tail-index of the document-length distribution (whether batch
  * packing can assume finite mean/variance). House invariants as
  * Round13–48: exact BIGINT moments, 2^-20 quantized transcendentals
  * pre-sum, 2^-30 snapped outputs, shared SQL text both engines.
  */
object Round49 {

  /** Per-source (source, word) token stream — the q419/q427 lowercase
    * alpha-run convention so every spectrum query shares one notion of
    * "word" with the established Zipf/Heaps sheets. Kept local: an
    * unfiltered, positionless word stream, unlike [[SqlFragments]]'.
    */
  private def tokCte(tbl: String, d: Dialect): String =
    s"""SELECT source, ${d.words} AS word
          FROM $tbl"""

  // ---------------------------------------------------------------- q560

  /** Good–Turing unseen-type mass per source: the frequency-of-
    * frequencies spectrum V(r) (#types seen exactly r times) is one
    * extra keyed agg over the word counts; P₀ = V(1)/N is the
    * Good–Turing estimate of the probability mass of UNSEEN types, and
    * c*(1) = 2·V(2)/V(1) is the adjusted count a singleton actually
    * deserves (NULL when the source has no hapaxes). Everything before
    * the two final divisions is an exact BIGINT — the spectrum, N, V.
    * The release-sheet answer to "is this source's vocabulary saturated
    * or still mostly unobserved".
    */
  val q560GoodTuring: QueryDef =
    QueryDef.sql("q560_good_turing", "r49_", "documents")(goodTuringSql)

  private def goodTuringSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${tokCte(tbl, d)}),
        wc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
               FROM tok WHERE word <> '' GROUP BY 1, 2),
        fof AS (SELECT source, c AS r, CAST(count(*) AS BIGINT) AS v
                FROM wc GROUP BY 1, 2),
        agg AS (SELECT source,
                       CAST(sum(r * v) AS BIGINT) AS n_tok,
                       CAST(sum(v) AS BIGINT) AS n_typ,
                       CAST(sum(CASE WHEN r = 1 THEN v ELSE 0 END) AS BIGINT) AS v1,
                       CAST(sum(CASE WHEN r = 2 THEN v ELSE 0 END) AS BIGINT) AS v2
                FROM fof GROUP BY 1)
        SELECT source,
               n_tok AS n_tokens, n_typ AS n_types,
               v1 AS n_hapax, v2 AS n_dis,
               ${snap("CAST(v1 AS DOUBLE) / n_tok")} AS p0_unseen_mass,
               CASE WHEN v1 = 0 THEN NULL
                    ELSE ${snap("CAST(2 AS DOUBLE) * v2 / v1")}
               END AS gt_adjusted_c1
        FROM agg
        ORDER BY source"""
  }

  // ---------------------------------------------------------------- q561

  /** Yule's K repetition index per source:
    * K = 10⁴ · (Σ_r r²·V(r) − N) / N² — the length-robust "how much does
    * this source repeat itself" constant (higher K = heavier reuse of
    * few types) — plus the hapax ratio V(1)/V, its low end. The
    * numerator Σ r²·V(r) − N is an exact BIGINT; one division at the
    * end. Reads the same spectrum as q560 from independently written
    * SQL, so the two sheets cross-check each other's token convention.
    */
  val q561YuleK: QueryDef = QueryDef.sql("q561_yule_k", "r49_", "documents")(yuleSql)

  private def yuleSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${tokCte(tbl, d)}),
        wc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
               FROM tok WHERE word <> '' GROUP BY 1, 2),
        agg AS (SELECT source,
                       CAST(sum(c) AS BIGINT) AS n_tok,
                       CAST(count(*) AS BIGINT) AS n_typ,
                       CAST(sum(c * c) AS BIGINT) AS s2,
                       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1
                FROM wc GROUP BY 1)
        SELECT source,
               n_tok AS n_tokens, n_typ AS n_types,
               ${snap("CAST(10000 AS DOUBLE) * (s2 - n_tok) / (CAST(n_tok AS DOUBLE) * n_tok)")}
                 AS yule_k,
               ${snap("CAST(v1 AS DOUBLE) / n_typ")} AS hapax_ratio
        FROM agg
        ORDER BY source"""
  }

  // ---------------------------------------------------------------- q562

  /** Granger causality on the daily click/view count series, both
    * directions: does yesterday's CLICK count improve the prediction of
    * today's VIEW count beyond yesterday's view count (and vice versa)?
    * Unrestricted OLS y_t = a + b·y_{t−1} + c·x_{t−1} via Cramer's rule
    * on exact BIGINT normal-equation moments (the counts are integers);
    * restricted drops the cross term; per-row squared residuals are
    * 2^-20 quantized pre-sum (the q555 discipline) so both engines sum
    * the same BIGINTs in any order. F = (SSR_r − SSR_u) / (SSR_u/(T−3))
    * with one restriction. q199's CCF finds WHERE the lead–lag peak is;
    * this tests whether the lag carries predictive information at all —
    * the third panel of the click/view co-movement sheet (q52
    * correlation, q555 cointegration).
    */
  val q562Granger: QueryDef = QueryDef.sql("q562_granger", "r49_", "events")(grangerSql)

  private def grangerSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    // One CTE chain per direction: exact BIGINT moments, Cramer
    // coefficients in DOUBLE (identical expression text both engines),
    // quantized residual sums, F.
    def dir(nm: String, y: String, x1: String, x2: String): String =
      s"""mo_$nm AS (SELECT CAST(count(*) AS BIGINT) AS n,
                            CAST(sum($x1) AS BIGINT) AS s1,
                            CAST(sum($x2) AS BIGINT) AS s2,
                            CAST(sum($y) AS BIGINT) AS sy,
                            CAST(sum($x1 * $x1) AS BIGINT) AS s11,
                            CAST(sum($x2 * $x2) AS BIGINT) AS s22,
                            CAST(sum($x1 * $x2) AS BIGINT) AS s12,
                            CAST(sum($x1 * $y) AS BIGINT) AS s1y,
                            CAST(sum($x2 * $y) AS BIGINT) AS s2y
                     FROM lg),
        dt_$nm AS (SELECT n, s1, s2, sy, s11, s12, s1y,
                          CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
                            - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
                            + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2) AS det,
                          CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
                            - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
                            + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2y) AS deta,
                          CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
                            - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
                            + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2) AS detb,
                          CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s12)
                            - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)
                            + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2) AS detsy
                   FROM mo_$nm),
        cf_$nm AS (SELECT n,
                          deta / det AS a,
                          detb / det AS b,
                          detsy / det AS c,
                          (CAST(n AS DOUBLE) * s1y - CAST(s1 AS DOUBLE) * sy)
                            / (CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1) AS br,
                          (CAST(sy AS DOUBLE)
                            - ((CAST(n AS DOUBLE) * s1y - CAST(s1 AS DOUBLE) * sy)
                               / (CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1)) * s1) / n AS ar
                   FROM dt_$nm),
        rs_$nm AS (SELECT f.n, f.c AS cross_coef,
                          CAST(sum(${qi(s"(lg.$y - f.a - f.b * lg.$x1 - f.c * lg.$x2) * (lg.$y - f.a - f.b * lg.$x1 - f.c * lg.$x2)")}) AS BIGINT) AS ssru,
                          CAST(sum(${qi(s"(lg.$y - f.ar - f.br * lg.$x1) * (lg.$y - f.ar - f.br * lg.$x1)")}) AS BIGINT) AS ssrr
                   FROM lg CROSS JOIN cf_$nm f
                   GROUP BY 1, 2),
        out_$nm AS (SELECT '$nm' AS direction, n AS n_obs,
                           ${snap("cross_coef")} AS lag_cross_coef,
                           CASE WHEN ssru = 0 THEN NULL
                                ELSE ${snap("CAST(ssrr - ssru AS DOUBLE) / (CAST(ssru AS DOUBLE) / (n - 3))")}
                           END AS granger_f,
                           CASE WHEN ssru = 0 THEN NULL
                                ELSE ${snap("CAST(ssrr AS DOUBLE) / ssru")}
                           END AS ssr_ratio
                    FROM rs_$nm)"""
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
        la AS (SELECT idx, ck, vw,
                      lag(ck) OVER (ORDER BY idx) AS ckp,
                      lag(vw) OVER (ORDER BY idx) AS vwp
               FROM s),
        lg AS (SELECT idx, ck, vw, ckp, vwp FROM la WHERE ckp IS NOT NULL),
        ${dir("click_to_view", "vw", "vwp", "ckp")},
        ${dir("view_to_click", "ck", "ckp", "vwp")}
        SELECT * FROM out_click_to_view
        UNION ALL SELECT * FROM out_view_to_click
        ORDER BY direction"""
  }

  // ---------------------------------------------------------------- q563

  /** Hill tail-index of the document-length distribution: over the top
    * k+1 order statistics of per-doc word counts (total order: length
    * DESC, doc_id ASC — both engines pick the same elements),
    * α̂ = k / Σ_{i≤k} ln(X_(i)/X_(k+1)) for k ∈ {10, 25, 50}, each log
    * 2^-20 quantized pre-sum. α ≤ 1 means the length distribution has
    * no finite mean (one mega-doc dominates every batch it lands in);
    * α ≤ 2 no finite variance (packing efficiency estimates from a
    * sample are unstable) — THE sanity numbers before sizing sequence
    * packing (q61/q484) from sampled statistics. Only the ≤ 51-row
    * head of the rank relation ever joins anything.
    */
  val q563HillTail: QueryDef = QueryDef.sql("q563_hill_tail", "r49_", "documents")(hillSql)

  private def hillSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val nWords = d.wordCount
    val ks = d.selectGen(d.list("10, 25, 50"), "BIGINT", "k", "k0")
    s"""WITH d AS (SELECT doc_id, $nWords AS nw FROM $tbl),
        dz AS (SELECT doc_id, nw FROM d WHERE nw > 0),
        rk AS (SELECT CAST(row_number() OVER (ORDER BY nw DESC, doc_id) AS BIGINT) AS r,
                      nw
               FROM dz),
        top AS (SELECT r, nw FROM rk WHERE r <= 51),
        ks AS ($ks),
        thr AS (SELECT k.k, t.nw AS xk1
                FROM ks k JOIN top t ON t.r = k.k + 1),
        sums AS (SELECT th.k, th.xk1,
                        CAST(sum(${qi("ln(CAST(t.nw AS DOUBLE) / th.xk1)")}) AS BIGINT) AS slq
                 FROM thr th JOIN top t ON t.r <= th.k
                 GROUP BY 1, 2)
        SELECT k AS k_order_stats,
               xk1 AS tail_threshold_words,
               CASE WHEN slq = 0 THEN NULL
                    ELSE ${snap("CAST(k AS DOUBLE) / (CAST(slq AS DOUBLE) / 1048576.0)")}
               END AS hill_alpha,
               CASE WHEN slq = 0 THEN NULL
                    WHEN CAST(k AS DOUBLE) / (CAST(slq AS DOUBLE) / 1048576.0) > CAST(1 AS DOUBLE)
                      THEN 1 ELSE 0 END AS finite_mean,
               CASE WHEN slq = 0 THEN NULL
                    WHEN CAST(k AS DOUBLE) / (CAST(slq AS DOUBLE) / 1048576.0) > CAST(2 AS DOUBLE)
                      THEN 1 ELSE 0 END AS finite_variance
        FROM sums
        ORDER BY k_order_stats"""
  }

  val all: Seq[QueryDef] = Seq(
    q560GoodTuring, q561YuleK, q562Granger, q563HillTail)
}
