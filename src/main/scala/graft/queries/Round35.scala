package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._

/** Round-35 additions (q492+): robust time-series matching — dynamic
  * time warping between the daily click and purchase intensity curves
  * (the alignment-tolerant distance calendar drift breaks Euclidean
  * comparison on), and a deterministic RANSAC line fit over the daily
  * event trend (md5-seeded trials, exact inlier counting — the
  * outlier-robust alternative to the q197/q200 least-squares family).
  * House invariants as Round13-34: per-term 2²⁰ quantization onto
  * BIGINT DP/inlier arithmetic, dyadic snaps on emitted doubles.
  */
object Round35 {

  // ---------------------------------------------------------------- q492

  /** DTW between the daily click-share and purchase-share curves: both
    * series normalize to day-share-of-total (snapped), per-cell cost
    * |aᵢ − bⱼ| quantizes to 2²⁰ BIGINT micro-units, and the full DP
    * D(i,j) = c + min(↑, ←, ↖) runs in EXACT integer arithmetic — the
    * result replays bit-for-bit in any engine. The corpus work is one
    * daily keyed agg; the ≤31-point series are bounded model state
    * (driver DP, the q431/q479 pattern), and the ORACLE walks the
    * identical DP as unrolled anti-diagonal MATERIALIZED CTEs. Reports
    * the DTW distance (per-step normalized) next to the lockstep L1 —
    * how much alignment slack the two curves actually need.
    */
  val q492Dtw: QueryDef = QueryDef(
    "q492_dtw",
    (s, dir) => {
      val sp = Spark("r35_")
      sp.register(s, dir, "events")
      val series = s.sql(dtwSeriesSql(sp)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      def curve(side: String): Seq[Double] =
        series.filter(_._1 == side).sortBy(_._2).map(_._3)
      val a = curve("a")
      val b = curve("b")
      val n = a.length; val m = b.length
      val d = Array.ofDim[Long](n + 1, m + 1)
      for (i <- 0 to n; j <- 0 to m)
        d(i)(j) = if (i == 0 && j == 0) 0L
        else if (i == 0 || j == 0) Long.MaxValue / 4
        else 0L
      for (i <- 1 to n; j <- 1 to m) {
        val c = qiL(math.abs(a(i - 1) - b(j - 1)))
        d(i)(j) = c + math.min(d(i - 1)(j), math.min(d(i)(j - 1), d(i - 1)(j - 1)))
      }
      val lockstep = (0 until math.min(n, m)).map(i => qiL(math.abs(a(i) - b(i)))).sum
      import s.implicits._
      Seq((n.toLong, m.toLong,
        snapD(d(n)(m).toDouble / 1048576.0 / (n + m)),
        snapD(lockstep.toDouble / 1048576.0 / math.min(n, m))))
        .toDF("n_days_a", "n_days_b", "dtw_per_step", "lockstep_l1_per_step")
    },
    Some(dtwOracleSql)
  )

  /** (side, day index within side, snapped day-share) for both curves. */
  private def dtwSeriesSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH d AS (
          SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS side,
                 CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
          FROM $tbl
          WHERE event_type IN ('click', 'purchase')
          GROUP BY 1, 2),
        t AS (SELECT side, CAST(sum(c) AS BIGINT) AS tot FROM d GROUP BY 1)
        SELECT d.side,
               CAST(row_number() OVER (PARTITION BY d.side ORDER BY d.day) AS BIGINT)
                 AS idx,
               ${snap("CAST(d.c AS DOUBLE) / t.tot")} AS share
        FROM d JOIN t ON t.side = d.side"""
  }

  /** The identical DP as unrolled anti-diagonal MATERIALIZED CTEs: cell
    * (i, j) lives on diagonal k = i+j and needs only diagonals k−1 and
    * k−2 — 31+31 days → ≤60 bounded CTE steps, each a 3-way min over
    * ≤31 rows. The event calendar spans ≤31 days per side; cells() is
    * sized to that bound.
    */
  private def dtwOracleSql: String = {
    val maxDiag = 62
    // dg3 has no k−2 predecessor CTE (diag 1 is only the virtual (0,0)
    // start, folded into dg2's CASE) — its cells see only dg2
    val dg3 =
      s"""dg3 AS MATERIALIZED (
            SELECT c.i, c.j,
                   c.cost + least(
                     coalesce((SELECT p.d FROM dg2 p
                               WHERE p.i = c.i - 1 AND p.j = c.j), ${Long.MaxValue / 4}),
                     coalesce((SELECT p.d FROM dg2 p
                               WHERE p.i = c.i AND p.j = c.j - 1), ${Long.MaxValue / 4})) AS d
            FROM cells c WHERE c.i + c.j = 3)"""
    val diags = (Seq(dg3) ++ (4 to maxDiag).map { k =>
      s"""dg$k AS MATERIALIZED (
            SELECT c.i, c.j,
                   c.cost + least(
                     coalesce((SELECT p.d FROM dg${k - 1} p
                               WHERE p.i = c.i - 1 AND p.j = c.j), ${Long.MaxValue / 4}),
                     coalesce((SELECT p.d FROM dg${k - 1} p
                               WHERE p.i = c.i AND p.j = c.j - 1), ${Long.MaxValue / 4}),
                     coalesce((SELECT p.d FROM dg${k - 2} p
                               WHERE p.i = c.i - 1 AND p.j = c.j - 1),
                              ${Long.MaxValue / 4})) AS d
            FROM cells c WHERE c.i + c.j = $k)"""
    }).mkString(",\n")
    s"""WITH series AS MATERIALIZED (${dtwSeriesSql(DuckDb)}),
        a AS (SELECT idx, share FROM series WHERE side = 'a'),
        b AS (SELECT idx, share FROM series WHERE side = 'b'),
        nn AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n,
                      (SELECT CAST(count(*) AS BIGINT) FROM b) AS m),
        cells AS MATERIALIZED (
          SELECT a.idx AS i, b.idx AS j,
                 ${qi("abs(a.share - b.share)")} AS cost
          FROM a CROSS JOIN b),
        dg2 AS MATERIALIZED (
          SELECT c.i, c.j, c.cost AS d FROM cells c WHERE c.i = 1 AND c.j = 1),
        $diags,
        alldg AS (${(2 to maxDiag).map(k => s"SELECT * FROM dg$k").mkString(" UNION ALL ")}),
        fin AS (
          SELECT d FROM alldg, nn WHERE i = nn.n AND j = nn.m),
        lock AS (
          SELECT CAST(sum(${qi("abs(a.share - b.share)")}) AS BIGINT) AS l,
                 CAST(count(*) AS BIGINT) AS steps
          FROM a JOIN b ON b.idx = a.idx)
        SELECT nn.n AS n_days_a, nn.m AS n_days_b,
               ${snap("CAST(fin.d AS DOUBLE) / 1048576.0 / (nn.n + nn.m)")}
                 AS dtw_per_step,
               ${snap("CAST(lock.l AS DOUBLE) / 1048576.0 / lock.steps")}
                 AS lockstep_l1_per_step
        FROM fin, lock, nn"""
  }

  // ---------------------------------------------------------------- q493

  /** Deterministic RANSAC line fit over the daily event-count trend
    * (y = events per day, x = day rank): 50 md5-seeded trials each pick
    * two distinct days, fit the exact line through them, and count
    * inliers within τ = 10% of the mean daily count; the winner is the
    * trial with the most inliers (smallest trial id on ties), reported
    * with its refit-free slope/intercept and inlier share — the
    * outlier-robust trend the q197 least-squares line can't give when
    * a traffic spike day corrupts the fit. Points and trials are
    * calendar-bounded; everything is one daily agg + a 50×days grid.
    */
  val q493RansacLine: QueryDef = QueryDef.sql("q493_ransac_line", "r35_", "events")(ransacSql)

  private def ransacSql(d: Dialect): String = {
    val tbl = d.t("events")
    def md5mod(seed: String, n: String): String = s"${md5i(seed, d)} % $n"
    val trials = d match {
      case _: Spark => "SELECT CAST(tt AS BIGINT) AS t FROM (SELECT explode(sequence(1, 50)) AS tt)"
      case DuckDb => "SELECT CAST(unnest(generate_series(1, 50)) AS BIGINT) AS t"
    }
    s"""WITH pts AS (
          SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS x,
                 CAST(c AS DOUBLE) AS y
          FROM (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
                FROM $tbl GROUP BY 1) d),
        np AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      ${snap("avg(y)")} AS mu
               FROM pts),
        trials AS ($trials),
        picks AS (
          SELECT t,
                 1 + ${md5mod(s"CAST(t AS ${d.str}) || ':a'", "np.n")} AS ia,
                 1 + ${md5mod(s"CAST(t AS ${d.str}) || ':b'", "np.n")} AS ib
          FROM trials CROSS JOIN np),
        lines AS (
          -- degenerate picks (same day) are skipped, like a RANSAC
          -- implementation resampling; exact line through two points
          SELECT p.t,
                 ${snap("(pb.y - pa.y) / (pb.x - pa.x)")} AS slope,
                 ${snap("pa.y - ((pb.y - pa.y) / (pb.x - pa.x)) * pa.x")} AS icept
          FROM picks p
          JOIN pts pa ON pa.x = p.ia
          JOIN pts pb ON pb.x = p.ib
          WHERE p.ia <> p.ib),
        scored AS (
          SELECT l.t, l.slope, l.icept,
                 CAST(sum(CASE WHEN abs(pts.y - (l.icept + l.slope * pts.x))
                                    <= CAST(0.1 AS DOUBLE) * np.mu
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
          FROM lines l CROSS JOIN pts CROSS JOIN np
          GROUP BY 1, 2, 3),
        best AS (
          SELECT t, slope, icept, n_inliers,
                 row_number() OVER (ORDER BY n_inliers DESC, t) AS rn
          FROM scored)
        SELECT t AS best_trial, n_inliers, slope, icept,
               ${snap("CAST(n_inliers AS DOUBLE) / np.n")} AS inlier_share
        FROM best CROSS JOIN np
        WHERE rn = 1"""
  }

  val all: Seq[QueryDef] = Seq(q492Dtw, q493RansacLine)
}
