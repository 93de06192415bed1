package graft.queries

import graft.queries.SqlFragments._

/** Round-57 additions (q588+): inequality-decomposition panel over
  * per-customer order spend — the Theil index with its exact
  * between-/within-nation decomposition (the ONLY classical inequality
  * measure that decomposes additively, i.e. answers "is revenue
  * concentration a geography story or a within-market story"), the
  * Hoover/Robin-Hood index (share of revenue that would have to move to
  * equalize — fully integer-exact, no transcendentals at all), and the
  * Palma ratio (top-10% over bottom-40% shares — the tail-vs-base
  * number Gini compresses away). Complements q202 (Gini), q577
  * (Atkinson), q576 (Jain). House invariants as Round13–56: spend in
  * exact integer cents, transcendentals 2^-20-quantized pre-sum at
  * every aggregation level, snapped doubles only in the projection.
  */
object Round57 {

  /** Per-customer spend cents joined to nation — shared by all three. */
  private def spendCte(d: Dialect): String =
    s"""sp AS (SELECT o.o_custkey AS ck, c.c_nationkey AS nk,
                      CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS x
               FROM ${d.t("orders")} o JOIN ${d.t("customer")} c
                 ON c.c_custkey = o.o_custkey
               GROUP BY 1, 2),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS xx
              FROM sp)"""

  // ---------------------------------------------------------------- q588

  /** Theil-T decomposition by nation: T = Σ(x/μ)ln(x/μ)/n decomposes as
    * T_between + T_within. Per-customer terms are quantized pre-sum;
    * each nation's within contribution (X_g/X)·T_g and between term
    * (X_g/X)·ln((X_g/X)/(n_g/n)) are quantized AGAIN before the
    * cross-nation sum, so both engines add the same 25 integers in any
    * order. Additivity survives to ~2^-20 — the spec pins it.
    */
  val q588TheilDecomposition: QueryDef =
    QueryDef.sql("q588_theil_decomposition", "r57_", "orders", "customer")(theilSql)

  private def theilSql(d: Dialect): String = {
    s"""WITH ${spendCte(d)},
        tt AS (SELECT CAST(sum(${qi(
        """(CAST(sp.x AS DOUBLE) * n.n / n.xx)
           * ln(CAST(sp.x AS DOUBLE) * n.n / n.xx)""")}) AS BIGINT) AS t20
               FROM sp CROSS JOIN n),
        gm AS (SELECT nk, CAST(count(*) AS BIGINT) AS ng,
                      CAST(sum(x) AS BIGINT) AS xg
               FROM sp GROUP BY 1),
        gw AS (SELECT sp.nk,
                      CAST(sum(${qi(
        """(CAST(sp.x AS DOUBLE) * gm.ng / gm.xg)
           * ln(CAST(sp.x AS DOUBLE) * gm.ng / gm.xg)""")}) AS BIGINT) AS tg20
               FROM sp JOIN gm ON gm.nk = sp.nk
               GROUP BY 1),
        terms AS (SELECT gm.nk,
                         ${qi(
        """(CAST(gm.xg AS DOUBLE) / n.xx)
           * (CAST(gw.tg20 AS DOUBLE) / 1048576.0 / gm.ng)""")} AS w20,
                         ${qi(
        """(CAST(gm.xg AS DOUBLE) / n.xx)
           * ln((CAST(gm.xg AS DOUBLE) / n.xx) / (CAST(gm.ng AS DOUBLE) / n.n))""")}
                           AS b20
                  FROM gm JOIN gw ON gw.nk = gm.nk CROSS JOIN n),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nations,
                       CAST(sum(w20) AS BIGINT) AS sw20,
                       CAST(sum(b20) AS BIGINT) AS sb20
                FROM terms)
        SELECT n.n AS n_customers, agg.n_nations,
               ${snap("CAST(tt.t20 AS DOUBLE) / 1048576.0 / n.n")} AS theil_total,
               ${snap("CAST(agg.sb20 AS DOUBLE) / 1048576.0")} AS theil_between,
               ${snap("CAST(agg.sw20 AS DOUBLE) / 1048576.0")} AS theil_within,
               ${snap(
        """CAST(agg.sb20 AS DOUBLE)
           / (CAST(tt.t20 AS DOUBLE) / n.n)""")} AS between_share
        FROM agg CROSS JOIN tt CROSS JOIN n"""
  }

  // ---------------------------------------------------------------- q589

  /** Hoover / Robin-Hood index: H = Σ|n·x_i − X| / (2·n·X) — the share
    * of total revenue that must be transferred to equalize customers.
    * The numerator is an exact BIGINT sum of absolute integers; the
    * whole statistic performs exactly ONE floating division. The
    * severed-arm benchmark of the inequality panel: no transcendental,
    * no quantization, bit-identical by construction.
    */
  val q589Hoover: QueryDef = QueryDef.sql("q589_hoover", "r57_", "orders", "customer")(hooverSql)

  private def hooverSql(d: Dialect): String = {
    s"""WITH ${spendCte(d)},
        d AS (SELECT CAST(sum(abs(n.n * sp.x - n.xx)) AS BIGINT) AS num
              FROM sp CROSS JOIN n)
        SELECT n.n AS n_customers, n.xx AS total_cents,
               ${snap("CAST(d.num AS DOUBLE) / (2 * n.n) / n.xx")} AS hoover
        FROM d CROSS JOIN n"""
  }

  // ---------------------------------------------------------------- q590

  /** Palma ratio: revenue share of the top ⌊n/10⌋ customers over the
    * bottom ⌊4n/10⌋ by spend (rank = row_number over (spend DESC,
    * custkey) — both engines pick identical members), plus the two
    * shares. Exact integer sums, integer cut-offs, divisions only in
    * the projection. Reads the tail-vs-base structure q202's single
    * Gini number integrates away.
    */
  val q590Palma: QueryDef = QueryDef.sql("q590_palma", "r57_", "orders", "customer")(palmaSql)

  private def palmaSql(d: Dialect): String = {
    // r14 Spark branch: the global spend-rank window had NO partition
    // key — the customer dimension ran through ONE task (guide §2.4/§5).
    // Bucketed prefix-sum rank (the operators.Ranks discipline, inline
    // SQL): -(x div 2^20) is monotone along (x DESC), customer spend
    // sums are near-continuous so the cent-million bands spread, and
    // only the band HISTOGRAM sees an unpartitioned window. Ranks are
    // exact, so the oracle keeps the textbook row_number form.
    val rkCte = d match {
      case _: Spark =>
        """rkb AS (SELECT x, ck, -(x div 1048576) AS bkt FROM sp),
        rbo AS (SELECT bkt,
                       coalesce(sum(c) OVER (ORDER BY bkt
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         CAST(0 AS BIGINT)) AS off
                FROM (SELECT bkt, CAST(count(*) AS BIGINT) AS c
                      FROM rkb GROUP BY 1) AS h),
        rk AS (SELECT x,
                      CAST(rbo.off + row_number() OVER (PARTITION BY bkt
                        ORDER BY x DESC, ck) AS BIGINT) AS r
               FROM rkb JOIN rbo USING (bkt))"""
      case DuckDb =>
        """rk AS (SELECT x,
                      CAST(row_number() OVER (ORDER BY x DESC, ck) AS BIGINT) AS r
               FROM sp)"""
    }
    s"""WITH ${spendCte(d)},
        $rkCte,
        cut AS (SELECT n.n, n.xx, (n.n ${d.idiv} 10) AS d10,
                       ((4 * n.n) ${d.idiv} 10) AS b40
                FROM n),
        agg AS (SELECT CAST(sum(CASE WHEN rk.r <= cut.d10 THEN rk.x ELSE 0 END)
                         AS BIGINT) AS top_cents,
                       CAST(sum(CASE WHEN rk.r > cut.n - cut.b40 THEN rk.x ELSE 0 END)
                         AS BIGINT) AS bot_cents
                FROM rk CROSS JOIN cut)
        SELECT cut.n AS n_customers, agg.top_cents, agg.bot_cents,
               ${snap("CAST(agg.top_cents AS DOUBLE) / cut.xx")} AS top10_share,
               ${snap("CAST(agg.bot_cents AS DOUBLE) / cut.xx")} AS bottom40_share,
               ${snap("CAST(agg.top_cents AS DOUBLE) / agg.bot_cents")} AS palma
        FROM agg CROSS JOIN cut"""
  }

  val all: Seq[QueryDef] = Seq(q588TheilDecomposition, q589Hoover, q590Palma)
}
