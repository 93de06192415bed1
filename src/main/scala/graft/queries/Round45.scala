package graft.queries

import graft.queries.SqlFragments._

/** Round-45 additions (q536+): robust-inference and locality audits —
  * heteroscedasticity-robust (HC1) standard errors next to the
  * classical ones (q507 fits trends; this says whether their t-stats
  * survive non-constant variance), a QQ decile table (the whole-curve
  * view behind q149/q506/q527's scalar drift statistics), EXACT energy
  * distance on integer cents (Székely's e-distance with every term a
  * BIGINT until the final division), the extremal index of hourly-count
  * exceedances (declustering q526's tail), Denning's working-set curve
  * from per-user inter-access gaps (exact — no stack simulation), and
  * the full 24 h periodogram with spectral flatness (q517 fits ONE
  * harmonic; this asks if it's the only one). House invariants as
  * Round13-44.
  */
object Round45 {

  // ---------------------------------------------------------------- q536

  /** OLS daily-count trend with BOTH classical and HC1
    * (heteroscedasticity-consistent) standard errors: slope from exact
    * BIGINT moments, residual and x̃²e² terms 2^20-quantized pre-sum,
    * se_cls² = (SSE/(n−2))/Sxx vs se_hc1² = n/(n−2)·Σx̃²e²/Sxx² — the
    * ratio says whether the trend's t-stat was honest.
    */
  val q536RobustSe: QueryDef = QueryDef.sql("q536_robust_se", "r45_", "orders")(robustSeSql)

  private def robustSeSql(d: Dialect): String = {
    val tbl = d.t("orders")
    val dd = s"${d.dateUs("o_orderdate")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    s"""WITH o AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM o GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.dd - g.mn AS x, CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * y) AS BIGINT) AS sxy,
                       CAST(sum(x * x) AS BIGINT) AS sxx
                FROM s),
        ab AS (SELECT n, sx, sy,
                      (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS a,
                      CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxxc
               FROM tot),
        res AS (SELECT s.x, s.y, ab.n, ab.a, ab.sxxc,
                       CAST(s.y AS DOUBLE) - (ab.a * s.x
                         + (CAST(ab.sy AS DOUBLE) / ab.n - ab.a * ab.sx / ab.n)) AS e,
                       CAST(s.x AS DOUBLE) - CAST(ab.sx AS DOUBLE) / ab.n AS xt
                FROM s CROSS JOIN ab),
        ss AS (SELECT CAST(max(n) AS BIGINT) AS n, max(a) AS a, max(sxxc) AS sxxc,
                      CAST(sum(${qi("e * e")}) AS BIGINT) AS sse,
                      CAST(sum(${qi("xt * xt * e * e")}) AS BIGINT) AS sxe
               FROM res)
        SELECT n AS n_days,
               ${snap("a")} AS slope,
               ${snap("sqrt((CAST(sse AS DOUBLE) / 1048576.0 / (n - 2)) / sxxc)")}
                 AS se_classic,
               ${snap("sqrt(CAST(n AS DOUBLE) / (n - 2) * (CAST(sxe AS DOUBLE) / 1048576.0) / (sxxc * sxxc))")}
                 AS se_hc1,
               ${snap("sqrt(CAST(n AS DOUBLE) / (n - 2) * (CAST(sxe AS DOUBLE) / 1048576.0) / (sxxc * sxxc)) / sqrt((CAST(sse AS DOUBLE) / 1048576.0 / (n - 2)) / sxxc)")}
                 AS hc1_ratio,
               ${snap("a / sqrt((CAST(sse AS DOUBLE) / 1048576.0 / (n - 2)) / sxxc)")}
                 AS t_classic,
               ${snap("a / sqrt(CAST(n AS DOUBLE) / (n - 2) * (CAST(sxe AS DOUBLE) / 1048576.0) / (sxxc * sxxc))")}
                 AS t_hc1
        FROM ss"""
  }

  // ---------------------------------------------------------------- q537

  /** QQ decile table between click and view values: the type-1 empirical
    * quantile (value at ascending rank ⌈d·n/10⌉, exact through the
    * cumulative distinct-value table) of each sample at every interior
    * decile, with difference and ratio — the whole-curve comparison
    * behind the one-number drift statistics.
    */
  val q537QqDeciles: QueryDef = QueryDef.sql("q537_qq_deciles", "r45_", "events")(qqSql)

  private def qqSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dgrid = s"SELECT ${d.closedRange(1, 9)} AS d"
    def cumSide(g: Int, name: String): String =
      s"""$name AS (
            SELECT x, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cle
            FROM (SELECT v AS x, CAST(count(*) AS BIGINT) AS c
                  FROM b WHERE g = $g GROUP BY 1))"""
    s"""WITH b AS (
          SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g, value AS v
          FROM $tbl WHERE event_type IN ('click', 'view')),
        nn AS (SELECT CAST(sum(CASE WHEN g = 0 THEN 1 END) AS BIGINT) AS na,
                      CAST(sum(CASE WHEN g = 1 THEN 1 END) AS BIGINT) AS nb
               FROM b),
        ${cumSide(0, "cua")},
        ${cumSide(1, "cub")},
        dg AS ($dgrid),
        qa AS (SELECT dg.d, min(c.x) AS qx
               FROM dg CROSS JOIN nn
               JOIN cua c ON c.cle >= (dg.d * nn.na + 9) ${d.idiv} 10
               GROUP BY 1),
        qb AS (SELECT dg.d, min(c.x) AS qx
               FROM dg CROSS JOIN nn
               JOIN cub c ON c.cle >= (dg.d * nn.nb + 9) ${d.idiv} 10
               GROUP BY 1)
        SELECT CAST(qa.d AS BIGINT) AS decile,
               ${snap("qa.qx")} AS q_click,
               ${snap("qb.qx")} AS q_view,
               ${snap("qa.qx - qb.qx")} AS qq_diff,
               ${snap("qa.qx / qb.qx")} AS qq_ratio
        FROM qa JOIN qb ON qb.d = qa.d
        ORDER BY decile"""
  }

  // ---------------------------------------------------------------- q538

  /** EXACT energy distance (Székely) between click and view values on
    * integer cents: every pairwise-|difference| sum collapses to
    * cumulative count/sum algebra on the combined distinct-value axis —
    * Σᵢⱼ|xᵢ−yⱼ| = Σᵥ c(v)·(2v·F(v) − 2S(v) + S_tot − v·n) — so
    * e(X,Y) = 2E|X−Y| − E|X−X'| − E|Y−Y'| is a ratio of BIGINTs until
    * the final snap. The metric that is zero IFF the distributions are
    * equal, with no kernel bandwidth to pick (q527's MMD needs γ).
    */
  val q538EnergyDistance: QueryDef =
    QueryDef.sql("q538_energy_distance", "r45_", "events")(energySql)

  private def energySql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH b AS (
          SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g,
                 CAST(round(value * CAST(100 AS DOUBLE)) AS BIGINT) AS v
          FROM $tbl WHERE event_type IN ('click', 'view')),
        ax AS (SELECT v,
                      CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                      CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
               FROM b GROUP BY 1),
        cum AS (SELECT v, ca, cb,
                       CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS fa,
                       CAST(sum(ca * v) OVER (ORDER BY v) AS BIGINT) AS sa,
                       CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS fb,
                       CAST(sum(cb * v) OVER (ORDER BY v) AS BIGINT) AS sb
                FROM ax),
        tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(ca * v) AS BIGINT) AS ta,
                       CAST(sum(cb) AS BIGINT) AS nb, CAST(sum(cb * v) AS BIGINT) AS tb
                FROM ax),
        sums AS (
          SELECT CAST(sum(c.ca * (2 * c.v * c.fb - 2 * c.sb + t.tb - c.v * t.nb)) AS BIGINT) AS dxy,
                 CAST(sum(c.ca * (2 * c.v * c.fa - 2 * c.sa + t.ta - c.v * t.na)) AS BIGINT) AS dxx,
                 CAST(sum(c.cb * (2 * c.v * c.fb - 2 * c.sb + t.tb - c.v * t.nb)) AS BIGINT) AS dyy
          FROM cum c CROSS JOIN tot t)
        SELECT t.na AS n_click, t.nb AS n_view,
               ${snap("CAST(s.dxy AS DOUBLE) / t.na / t.nb / 100")} AS mean_cross_dist,
               ${snap("CAST(s.dxx AS DOUBLE) / t.na / t.na / 100")} AS mean_within_click,
               ${snap("CAST(s.dyy AS DOUBLE) / t.nb / t.nb / 100")} AS mean_within_view,
               ${snap("CAST(2 AS DOUBLE) * s.dxy / t.na / t.nb / 100 - CAST(s.dxx AS DOUBLE) / t.na / t.na / 100 - CAST(s.dyy AS DOUBLE) / t.nb / t.nb / 100")}
                 AS energy_distance
        FROM sums s CROSS JOIN tot t"""
  }

  // ---------------------------------------------------------------- q539

  /** Extremal index of the hourly count series: exceedances over the
    * exact p90 of hourly counts, declustered by the runs method for
    * run-gap r ∈ {1, 3, 6} — θ̂ = clusters/exceedances says whether
    * tail hours arrive independently (θ ≈ 1) or in storms (θ ≪ 1),
    * and how long the worst storm ran. The time-structure companion
    * to q526's magnitude-only GPD fit.
    */
  val q539ExtremalIndex: QueryDef =
    QueryDef.sql("q539_extremal_index", "r45_", "events")(extremalSql)

  private def extremalSql(d: Dialect): String = {
    val tbl = d.t("events")
    val hh = s"${d.epochUs("ts")} ${d.idiv} 3600000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS hh FROM b"
    val rs = s"SELECT ${d.list("1, 3, 6")} AS r"
    s"""WITH h AS (SELECT $hh AS hh FROM $tbl),
        cnt AS (SELECT hh, CAST(count(*) AS BIGINT) AS x FROM h GROUP BY 1),
        b AS (SELECT min(hh) AS mn, max(hh) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.hh - g.mn AS idx, CAST(coalesce(c.x, 0) AS BIGINT) AS x
              FROM grid g LEFT JOIN cnt c ON c.hh = g.hh),
        nh AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
        dx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1),
        cum AS (SELECT x, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cle FROM dx),
        u AS (SELECT min(cum.x) AS u FROM cum CROSS JOIN nh
              WHERE cum.cle >= (9 * nh.n + 9) ${d.idiv} 10),
        ex AS (SELECT s.idx FROM s CROSS JOIN u WHERE s.x > u.u),
        rg AS ($rs),
        lagd AS (SELECT CAST(r.r AS BIGINT) AS r, e.idx,
                        lag(e.idx) OVER (PARTITION BY r.r ORDER BY e.idx) AS prev
                 FROM ex e CROSS JOIN rg r),
        fl AS (SELECT r, idx,
                      CASE WHEN prev IS NULL OR idx - prev > r THEN 1 ELSE 0 END AS st
               FROM lagd),
        cl AS (SELECT r, CAST(sum(st) OVER (PARTITION BY r ORDER BY idx) AS BIGINT) AS cid
               FROM fl),
        per AS (SELECT r, cid, CAST(count(*) AS BIGINT) AS sz FROM cl GROUP BY 1, 2)
        SELECT r AS run_gap,
               CAST(sum(sz) AS BIGINT) AS n_exceed,
               CAST(count(*) AS BIGINT) AS n_clusters,
               ${snap("CAST(count(*) AS DOUBLE) / sum(sz)")} AS extremal_theta,
               CAST(max(sz) AS BIGINT) AS max_cluster_len
        FROM per
        GROUP BY r
        ORDER BY run_gap"""
  }

  // ---------------------------------------------------------------- q540

  /** Denning's working-set curve, EXACTLY, with no stack simulation:
    * over the dense event_id position axis, the number of τ-windows
    * missing user u is Σ max(0, L−τ+1) over u's access gaps (both
    * boundaries included), so the mean working-set size W(τ) falls out
    * of per-user lag gaps and two boundary aggregates — all BIGINT.
    * τ ∈ {16, 64, 256} events (inside the smallest test corpus's
    * position span). The cache-sizing curve q295's reuse distances
    * approach from the other side.
    */
  val q540WorkingSet: QueryDef = QueryDef.sql("q540_working_set", "r45_", "events")(workingSetSql)

  private def workingSetSql(d: Dialect): String = {
    val tbl = d.t("events")
    val ts = s"SELECT ${d.list("16, 64, 256")} AS tau"
    s"""WITH e AS (SELECT CAST(event_id AS BIGINT) AS p, user_id FROM $tbl),
        b AS (SELECT CAST(min(p) AS BIGINT) AS mn, CAST(max(p) AS BIGINT) AS mx FROM e),
        lagd AS (SELECT user_id, p,
                        lag(p) OVER (PARTITION BY user_id ORDER BY p) AS prev
                 FROM e),
        midgaps AS (SELECT user_id, p - prev - 1 AS len
                    FROM lagd WHERE prev IS NOT NULL),
        bounds AS (SELECT e.user_id,
                          CAST(min(e.p) AS BIGINT) - max(b.mn) AS len_pre,
                          max(b.mx) - CAST(max(e.p) AS BIGINT) AS len_post
                   FROM e CROSS JOIN b GROUP BY 1),
        gaps AS (SELECT user_id, len FROM midgaps
                 UNION ALL SELECT user_id, len_pre FROM bounds
                 UNION ALL SELECT user_id, len_post FROM bounds),
        tg AS ($ts),
        uu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u FROM e),
        miss AS (SELECT CAST(t.tau AS BIGINT) AS tau,
                        CAST(sum(greatest(CAST(0 AS BIGINT), g.len - t.tau + 1)) AS BIGINT) AS m
                 FROM gaps g CROSS JOIN tg t
                 GROUP BY 1)
        SELECT m.tau,
               uu.u AS n_users,
               CAST(b.mx - b.mn + 1 - m.tau + 1 AS BIGINT) AS n_windows,
               ${snap("CAST(uu.u AS DOUBLE) - CAST(m.m AS DOUBLE) / (b.mx - b.mn + 1 - m.tau + 1)")}
                 AS avg_working_set,
               ${snap("(CAST(uu.u AS DOUBLE) - CAST(m.m AS DOUBLE) / (b.mx - b.mn + 1 - m.tau + 1)) / uu.u")}
                 AS ws_share_of_users
        FROM miss m CROSS JOIN uu CROSS JOIN b
        ORDER BY m.tau"""
  }

  // ---------------------------------------------------------------- q541

  /** Full 24 h periodogram per event type: DFT powers at harmonics
    * f = 1..11 from the 24 exact residue-class sums (each cos/sin term
    * 2^20-quantized pre-sum), the dominant frequency (earliest on
    * ties), its period and power share, and the spectral flatness
    * (geometric/arithmetic power mean, powers floored at 2^-40 so a
    * silent harmonic can't blow up the log). q517 fits the f=1 line;
    * this says whether anything else rings.
    */
  val q541SpectrumFlatness: QueryDef =
    QueryDef.sql("q541_spectrum_flatness", "r45_", "events")(spectrumSql)

  private def spectrumSql(d: Dialect): String = {
    val tbl = d.t("events")
    val hh = s"${d.epochUs("ts")} ${d.idiv} 3600000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS hh FROM b"
    val fs = s"SELECT ${d.closedRange(1, 11)} AS f"
    val theta = "CAST(2 AS DOUBLE) * pi() * f * k / CAST(24 AS DOUBLE)"
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
        nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
        fg AS ($fs),
        co AS (SELECT r.event_type, CAST(fg.f AS BIGINT) AS f,
                      CAST(sum(${qi(s"CAST(sk AS DOUBLE) * cos($theta)")}) AS BIGINT) AS sa,
                      CAST(sum(${qi(s"CAST(sk AS DOUBLE) * sin($theta)")}) AS BIGINT) AS sb
               FROM rs r CROSS JOIN fg
               GROUP BY 1, 2),
        pw AS (SELECT c.event_type, c.f,
                      greatest(CAST(1 AS DOUBLE) / 1099511627776,
                        (CAST(2 AS DOUBLE) * c.sa / 1048576.0 / n.n) * (CAST(2 AS DOUBLE) * c.sa / 1048576.0 / n.n)
                          + (CAST(2 AS DOUBLE) * c.sb / 1048576.0 / n.n) * (CAST(2 AS DOUBLE) * c.sb / 1048576.0 / n.n)) AS p
               FROM co c JOIN nn n ON n.event_type = c.event_type),
        agg AS (SELECT event_type,
                       CAST(sum(${qi("ln(p)")}) AS BIGINT) AS slnp,
                       CAST(sum(${qi("p * 1024")}) AS BIGINT) AS sp
                FROM pw GROUP BY 1),
        pk AS (SELECT event_type, f, p FROM (
                 SELECT event_type, f, p,
                        row_number() OVER (PARTITION BY event_type
                          ORDER BY p DESC, f ASC) AS rn
                 FROM pw) x WHERE rn = 1)
        SELECT a.event_type,
               CAST(n.n AS BIGINT) AS n_hours,
               pk.f AS peak_freq,
               ${snap("CAST(24 AS DOUBLE) / pk.f")} AS peak_period_hours,
               ${snap("pk.p")} AS peak_power,
               ${snap("pk.p * 11 / (CAST(a.sp AS DOUBLE) / 1024 / 1048576.0 * 11)")}
                 AS peak_power_share,
               ${snap("exp(CAST(a.slnp AS DOUBLE) / 1048576.0 / 11) / (CAST(a.sp AS DOUBLE) / 1024 / 1048576.0 / 11)")}
                 AS spectral_flatness
        FROM agg a
        JOIN nn n ON n.event_type = a.event_type
        JOIN pk ON pk.event_type = a.event_type
        ORDER BY a.event_type"""
  }

  val all: Seq[QueryDef] = Seq(
    q536RobustSe, q537QqDeciles, q538EnergyDistance,
    q539ExtremalIndex, q540WorkingSet, q541SpectrumFlatness)
}
