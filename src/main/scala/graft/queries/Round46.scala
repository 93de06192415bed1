package graft.queries

import graft.queries.SqlFragments._

/** Round-46 additions (q542+): long-memory, inventory, econometrics,
  * post-hoc testing, retrieval smoothing and optimal stopping — Hurst
  * R/S analysis (is the load series long-memory, beyond q192's ACF),
  * the newsvendor critical-fractile stocking sheet, Laspeyres/Paasche/
  * Fisher price indices, Tukey–Kramer HSD post-hoc pairs (q229 says
  * "some mean differs"; this says WHICH), Dirichlet-smoothed query
  * likelihood (completing the q129/q167/q499 retrieval-LM family), and
  * a deterministic 1/e-rule secretary replay over md5 trial
  * permutations. House invariants as Round13-45.
  */
object Round46 {

  // ---------------------------------------------------------------- q542

  /** Hurst exponent by rescaled-range analysis of the hourly count
    * series: for block sizes m ∈ {32, 64, 128} (full blocks only,
    * zero-variance blocks excluded), R from the INTEGER partial-sum
    * range m·P_k − k·S and S from exact block moments; H is the slope
    * of mean ln(R/S) against ln m, which for the dyadic grid collapses
    * to (y₁₂₈ − y₃₂)/(2·ln 2) — no general regression needed. H ≈ 0.5
    * is memoryless; the long-memory answer q192's short-lag ACF can't
    * give.
    */
  val q542HurstRs: QueryDef = QueryDef.sql("q542_hurst_rs", "r46_", "events")(hurstSql)

  private def hurstSql(d: Dialect): String = {
    val tbl = d.t("events")
    val hh = s"${d.epochUs("ts")} ${d.idiv} 3600000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS hh FROM b"
    val ms = s"SELECT ${d.list("32, 64, 128")} AS m"
    s"""WITH h AS (SELECT $hh AS hh FROM $tbl),
        cnt AS (SELECT hh, CAST(count(*) AS BIGINT) AS x FROM h GROUP BY 1),
        b AS (SELECT min(hh) AS mn, max(hh) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.hh - g.mn AS idx, CAST(coalesce(c.x, 0) AS BIGINT) AS x
              FROM grid g LEFT JOIN cnt c ON c.hh = g.hh),
        ms AS ($ms),
        blk AS (SELECT CAST(m.m AS BIGINT) AS m, s.idx ${d.idiv} m.m AS bid,
                       s.idx, s.x
                FROM s CROSS JOIN ms m),
        bs AS (SELECT m, bid,
                      CAST(count(*) AS BIGINT) AS c,
                      CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(x * x) AS BIGINT) AS sxx
               FROM blk GROUP BY 1, 2),
        z AS (SELECT b2.m, b2.bid, b2.sx, b2.sxx,
                     CAST(sum(b2.m * k.x) OVER (PARTITION BY b2.m, b2.bid
                       ORDER BY k.idx) AS BIGINT)
                       - CAST(row_number() OVER (PARTITION BY b2.m, b2.bid
                           ORDER BY k.idx) AS BIGINT) * b2.sx AS zk
              FROM bs b2 JOIN blk k ON k.m = b2.m AND k.bid = b2.bid
              WHERE b2.c = b2.m),
        rr AS (SELECT m, bid, sx, sxx,
                      CAST(max(zk) - least(CAST(0 AS BIGINT), min(zk)) AS BIGINT) AS rng
               FROM z GROUP BY 1, 2, 3, 4),
        lnrs AS (
          SELECT m, bid,
                 ln((CAST(rng AS DOUBLE) / m) /
                    sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / (CAST(m AS DOUBLE) * m)))
                   AS lrs
          FROM rr
          WHERE m * sxx - sx * sx > 0 AND rng > 0),
        per AS (SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
                       CAST(sum(${qi("lrs")}) AS BIGINT) AS slrs
                FROM lnrs GROUP BY 1),
        hu AS (SELECT (max(CASE WHEN m = 128 THEN CAST(slrs AS DOUBLE) / 1048576.0 / n_blocks END)
                       - max(CASE WHEN m = 32 THEN CAST(slrs AS DOUBLE) / 1048576.0 / n_blocks END))
                      / (CAST(2 AS DOUBLE) * ln(CAST(2 AS DOUBLE))) AS hurst
               FROM per)
        SELECT p.m AS block_len,
               p.n_blocks,
               ${snap("CAST(p.slrs AS DOUBLE) / 1048576.0 / p.n_blocks")} AS mean_ln_rs,
               ${snap("h2.hurst")} AS hurst_exponent
        FROM per p CROSS JOIN hu h2
        ORDER BY p.m"""
  }

  // ---------------------------------------------------------------- q543

  /** Newsvendor stocking sheet from the daily order-count distribution
    * (zero-filled): for service levels {50, 80, 95}%, the critical-
    * fractile stock (type-1 quantile), the exact expected daily
    * underage/overage at that stock (integer distribution sums), and
    * the achieved fill probability. The one-table answer to "how much
    * capacity covers tomorrow".
    */
  val q543Newsvendor: QueryDef = QueryDef.sql("q543_newsvendor", "r46_", "orders")(newsvendorSql)

  private def newsvendorSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    val qs = s"SELECT ${d.list("50, 80, 95")} AS sl"
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT CAST(coalesce(c.y, 0) AS BIGINT) AS d
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
        dist AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1),
        cum AS (SELECT d, c, CAST(sum(c) OVER (ORDER BY d) AS BIGINT) AS cle FROM dist),
        qg AS ($qs),
        stock AS (SELECT g.sl, min(cum.d) AS s
                  FROM qg g CROSS JOIN nn
                  JOIN cum ON cum.cle >= (g.sl * nn.n + 99) ${d.idiv} 100
                  GROUP BY 1
                  LIMIT 8),
        cost AS (
          SELECT st.sl, st.s,
                 CAST(sum(CASE WHEN di.d > st.s THEN di.c * (di.d - st.s) ELSE 0 END) AS BIGINT)
                   AS under_sum,
                 CAST(sum(CASE WHEN di.d < st.s THEN di.c * (st.s - di.d) ELSE 0 END) AS BIGINT)
                   AS over_sum,
                 CAST(sum(CASE WHEN di.d <= st.s THEN di.c ELSE 0 END) AS BIGINT) AS fill
          FROM stock st CROSS JOIN dist di
          GROUP BY 1, 2)
        SELECT CAST(c.sl AS BIGINT) AS service_pct,
               CAST(c.s AS BIGINT) AS stock_level,
               ${snap("CAST(c.under_sum AS DOUBLE) / nn.n")} AS exp_daily_underage,
               ${snap("CAST(c.over_sum AS DOUBLE) / nn.n")} AS exp_daily_overage,
               ${snap("CAST(c.fill AS DOUBLE) / nn.n")} AS achieved_service
        FROM cost c CROSS JOIN nn
        ORDER BY service_pct"""
  }

  // ---------------------------------------------------------------- q544

  /** Laspeyres, Paasche and Fisher price indices of parts by ship year
    * against the first year: per part-year unit prices as exact
    * cent-rationals (Σ round-cents·qty / Σ qty, both quantized BIGINT),
    * indices over the parts present in BOTH years, price·weight terms
    * quantized pre-sum. The canonical "did prices move or did the mix"
    * decomposition.
    */
  val q544PriceIndex: QueryDef = QueryDef.sql("q544_price_index", "r46_", "lineitem")(priceIndexSql)

  private def priceIndexSql(d: Dialect): String = {
    val tbl = d.t("lineitem")
    s"""WITH li AS (
          SELECT CAST(year(l_shipdate) AS BIGINT) AS y, l_partkey AS pk,
                 CAST(round(CAST(l_extendedprice AS DOUBLE) / l_quantity
                   * CAST(100 AS DOUBLE)) AS BIGINT) AS ucents,
                 ${qi("CAST(l_quantity AS DOUBLE)")} AS qq
          FROM $tbl),
        py AS (SELECT y, pk,
                      CAST(sum(ucents * qq) AS BIGINT) AS num,
                      CAST(sum(qq) AS BIGINT) AS den
               FROM li GROUP BY 1, 2),
        base AS (SELECT CAST(min(y) AS BIGINT) AS y0 FROM py),
        pairs AS (
          SELECT t.y, t.pk,
                 CAST(t.num AS DOUBLE) / t.den AS pt,
                 CAST(b2.num AS DOUBLE) / b2.den AS p0,
                 b2.den AS q0, t.den AS qt
          FROM py t
          JOIN base ON t.y > base.y0
          JOIN py b2 ON b2.pk = t.pk AND b2.y = base.y0),
        agg AS (
          SELECT y, CAST(count(*) AS BIGINT) AS n_parts,
                 CAST(sum(${qi("pt * q0 / 1048576.0 / 100")}) AS BIGINT) AS ptq0,
                 CAST(sum(${qi("p0 * q0 / 1048576.0 / 100")}) AS BIGINT) AS p0q0,
                 CAST(sum(${qi("pt * qt / 1048576.0 / 100")}) AS BIGINT) AS ptqt,
                 CAST(sum(${qi("p0 * qt / 1048576.0 / 100")}) AS BIGINT) AS p0qt
          FROM pairs GROUP BY 1)
        SELECT y AS ship_year, n_parts,
               ${snap("CAST(ptq0 AS DOUBLE) / p0q0")} AS laspeyres,
               ${snap("CAST(ptqt AS DOUBLE) / p0qt")} AS paasche,
               ${snap("sqrt((CAST(ptq0 AS DOUBLE) / p0q0) * (CAST(ptqt AS DOUBLE) / p0qt))")}
                 AS fisher
        FROM agg
        ORDER BY ship_year"""
  }

  // ---------------------------------------------------------------- q545

  /** Tukey–Kramer HSD post-hoc pairs: every event-type pair's mean
    * difference against q₀.₀₅(k=5, ∞)·SE with the Tukey–Kramer unequal-n
    * standard error from the pooled variance (quantized sufficient
    * statistics on value/100, reported in original units). q229's
    * one-way F only says SOME mean differs; this is the table of which.
    * The 5-type dimension carries a LIMIT node for the pair join.
    */
  val q545TukeyHsd: QueryDef = QueryDef.sql("q545_tukey_hsd", "r46_", "events")(tukeySql)

  private def tukeySql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH z AS (SELECT event_type, value / CAST(100 AS DOUBLE) AS z FROM $tbl),
        raw AS (SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(${qi("z")}) AS BIGINT) AS s1,
                       CAST(sum(${qi("z * z")}) AS BIGINT) AS s2
                FROM z GROUP BY 1),
        vs AS (SELECT event_type, n,
                      CAST(s1 AS DOUBLE) / 1048576.0 / n AS m,
                      (CAST(s2 AS DOUBLE) / 1048576.0
                        - (CAST(s1 AS DOUBLE) / 1048576.0 / n) * (CAST(s1 AS DOUBLE) / 1048576.0 / n) * n)
                        / (n - 1) AS v
               FROM raw),
        pool AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                        CAST(count(*) AS BIGINT) AS k,
                        CAST(sum(${qi("(n - 1) * v")}) AS BIGINT) AS swv
                 FROM vs),
        lim AS (SELECT * FROM vs LIMIT 64),
        pr AS (SELECT a.event_type AS ta, b.event_type AS tb,
                      a.m AS ma, b.m AS mb, a.n AS na, b.n AS nb
               FROM lim a JOIN lim b ON a.event_type < b.event_type)
        SELECT p.ta AS type_a, p.tb AS type_b,
               ${snap("(p.ma - p.mb) * CAST(100 AS DOUBLE)")} AS mean_diff,
               ${snap("sqrt((CAST(o.swv AS DOUBLE) / 1048576.0 / (o.nt - o.k)) / 2 * (CAST(1 AS DOUBLE) / p.na + CAST(1 AS DOUBLE) / p.nb)) * CAST(100 AS DOUBLE)")}
                 AS tukey_se,
               ${snap("abs(p.ma - p.mb) / sqrt((CAST(o.swv AS DOUBLE) / 1048576.0 / (o.nt - o.k)) / 2 * (CAST(1 AS DOUBLE) / p.na + CAST(1 AS DOUBLE) / p.nb))")}
                 AS q_stat,
               CAST(CASE WHEN abs(p.ma - p.mb) /
                 sqrt((CAST(o.swv AS DOUBLE) / 1048576.0 / (o.nt - o.k)) / 2 * (CAST(1 AS DOUBLE) / p.na + CAST(1 AS DOUBLE) / p.nb))
                 > CAST(3.858 AS DOUBLE) THEN 1 ELSE 0 END AS INT) AS significant_95
        FROM pr p CROSS JOIN pool o
        ORDER BY type_a, type_b"""
  }

  // ---------------------------------------------------------------- q546

  /** Dirichlet-smoothed query likelihood: the top-3 corpus terms (count
    * desc, word asc — a deterministic bounded query panel) scored
    * against every document with μ ∈ {100, 1000}, score(d) =
    * Σ_w ln((tf + μ·P(w))/(len + μ)); top-10 per μ via the bucket-offset
    * rank over exact score groups. Completes the retrieval-LM family:
    * q129 BM25, q167 Kneser–Ney, q499 Jelinek–Mercer — Dirichlet is the
    * one a length-varied corpus actually wants.
    */
  val q546DirichletLm: QueryDef =
    QueryDef.sql("q546_dirichlet_lm", "r46_", "documents")(dirichletSql)

  private def dirichletSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val toks =
      s"""SELECT doc_id, word FROM (SELECT doc_id,
              ${d.words} AS word FROM $tbl) x
            WHERE word <> ''"""
    val mus = s"SELECT ${d.list("100, 1000")} AS mu"
    s"""WITH tok AS ($toks),
        cw AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cw),
        qt AS (SELECT word, c FROM cw ORDER BY c DESC, word ASC LIMIT 3),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY 1),
        tf AS (SELECT t.doc_id, t.word, CAST(count(*) AS BIGINT) AS f
               FROM tok t JOIN qt ON qt.word = t.word
               GROUP BY 1, 2),
        mg AS ($mus),
        sc AS (
          SELECT CAST(m.mu AS BIGINT) AS mu, d.doc_id,
                 CAST(sum(${qi("ln((CAST(coalesce(tf.f, 0) AS DOUBLE) + m.mu * (CAST(qt.c AS DOUBLE) / tt.t)) / (d.len + m.mu))")}) AS BIGINT) AS sq
          FROM dl d
          CROSS JOIN qt
          CROSS JOIN mg m
          CROSS JOIN tt
          LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.word = qt.word
          GROUP BY 1, 2),
        sv AS (SELECT mu, sq, CAST(count(*) AS BIGINT) AS c FROM sc GROUP BY 1, 2),
        boff AS (SELECT mu, sq, CAST(coalesce(sum(c) OVER (PARTITION BY mu
                   ORDER BY sq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS off
                 FROM sv),
        rk AS (SELECT sc.mu, sc.doc_id, sc.sq,
                      boff.off + CAST(row_number() OVER (
                        PARTITION BY sc.mu, sc.sq ORDER BY sc.doc_id) AS BIGINT) AS rnk
               FROM sc JOIN boff ON boff.mu = sc.mu AND boff.sq = sc.sq)
        SELECT mu, rnk AS rank, doc_id,
               ${snap("CAST(sq AS DOUBLE) / 1048576.0")} AS ql_score
        FROM rk WHERE rnk <= 10
        ORDER BY mu, rank"""
  }

  // ---------------------------------------------------------------- q547

  /** Secretary-rule replay: a fixed 64-candidate panel (lowest
    * orderkeys), 50 md5 trial permutations, the classic 1/e rule with
    * cutoff 23 — observe the first 23, then take the first candidate
    * beating them (or the last if none). Success rate vs the asymptotic
    * 1/e, plus the mean true rank of the pick. Entirely integer-
    * deterministic: permutations are md5 sort keys, comparisons are
    * exact cents.
    */
  val q547Secretary: QueryDef = QueryDef.sql("q547_secretary", "r46_", "orders")(secretarySql)

  private def secretarySql(d: Dialect): String = {
    val tbl = d.t("orders")
    val trials = s"SELECT ${d.closedRange(0, 49)} AS t"
    s"""WITH panel AS (
          SELECT CAST(o_orderkey AS BIGINT) AS ok,
                 CAST(round(o_totalprice * CAST(100 AS DOUBLE)) AS BIGINT) AS cents
          FROM $tbl ORDER BY o_orderkey LIMIT 64),
        best AS (SELECT CAST(max(cents) AS BIGINT) AS mx FROM panel),
        tg AS ($trials),
        seq AS (
          SELECT CAST(t.t AS BIGINT) AS t, p.ok, p.cents,
                 CAST(row_number() OVER (PARTITION BY t.t
                   ORDER BY ${md5i(s"'sec:' || CAST(t.t AS ${d.str}) || ':' || CAST(p.ok AS ${d.str})", d)},
                     p.ok) AS BIGINT) AS pos
          FROM panel p CROSS JOIN tg t),
        thr AS (SELECT t, CAST(max(cents) AS BIGINT) AS obs_max
                FROM seq WHERE pos <= 23 GROUP BY 1),
        takes AS (
          SELECT s2.t, min(s2.pos) AS take_pos
          FROM seq s2 JOIN thr ON thr.t = s2.t
          WHERE s2.pos > 23 AND s2.cents > thr.obs_max
          GROUP BY 1),
        pick AS (
          SELECT s2.t, s2.cents
          FROM seq s2
          LEFT JOIN takes tk ON tk.t = s2.t
          WHERE s2.pos = coalesce(tk.take_pos, 64)),
        ranked AS (
          SELECT p.t, p.cents,
                 (SELECT CAST(count(*) AS BIGINT) + 1 FROM panel pp
                  WHERE pp.cents > p.cents) AS true_rank
          FROM pick p)
        SELECT CAST(count(*) AS BIGINT) AS n_trials,
               CAST(sum(CASE WHEN r.cents = b2.mx THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_success,
               ${snap("CAST(sum(CASE WHEN r.cents = b2.mx THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                 AS success_rate,
               ${snap("CAST(1 AS DOUBLE) / exp(CAST(1 AS DOUBLE))")} AS asymptotic_rate,
               ${snap("CAST(sum(r.true_rank) AS DOUBLE) / count(*)")} AS mean_true_rank
        FROM ranked r CROSS JOIN best b2"""
  }

  val all: Seq[QueryDef] = Seq(
    q542HurstRs, q543Newsvendor, q544PriceIndex,
    q545TukeyHsd, q546DirichletLm, q547Secretary)
}
