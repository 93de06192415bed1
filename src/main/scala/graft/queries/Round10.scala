package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-10 additions (q339+): rank-correlation and rank-ANOVA tests,
  * financial drawdown, privacy l-diversity, graph modularity, and the
  * Spark 4 SQL-surface features (SQL scalar UDFs, pipe syntax) — on the
  * established determinism contracts: exact integer arithmetic
  * wherever the math allows, 2⁻³⁰-grid snapped terms where it does
  * not, every oracle a verbatim relational replay in DuckDB.
  */
object Round10 {

  /** Kendall τ-b rank correlation between the weekly order count and
    * the weekly revenue (exact cents) — the concordant/discordant pair
    * scan of q303's Mann–Kendall generalized to two series, with the
    * τ-b tie correction. The pairwise join runs on the bounded weekly
    * grid (a few hundred rows at any SF — same scale posture as q303:
    * pair work is O(weeks²), independent of fact-table size).
    */
  val q339KendallTau: QueryDef = QueryDef(
    "q339_kendall_tau",
    (s, dir) => {
      val weekly = Tables.orders(s, dir)
        .select(
          expr("CAST(datediff(to_date(o_orderdate), DATE '1992-01-01') AS BIGINT) div 7")
            .as("w"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("x"), sum(col("cents")).as("y"))
        .localCheckpoint()
      val pairs = weekly.as("i")
        .join(weekly.as("j"), col("i.w") < col("j.w"))
        .agg(
          count(lit(1)).as("n0"),
          sum((signum(col("j.x") - col("i.x")) *
            signum(col("j.y") - col("i.y"))).cast("long")).as("s_stat"),
          sum(when(col("i.x") === col("j.x"), 1L).otherwise(0L)).as("tx"),
          sum(when(col("i.y") === col("j.y"), 1L).otherwise(0L)).as("ty"))
      val n = weekly.agg(count(lit(1)).as("n_weeks"))
      pairs.crossJoin(broadcast(n))
        .select(
          col("n_weeks"), col("s_stat"),
          round(col("s_stat").cast("double") /
            sqrt((col("n0") - col("tx")).cast("double") *
              (col("n0") - col("ty")).cast("double")), 6).as("tau_b"))
    },
    Some("""WITH wk AS (SELECT CAST(date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) // 7 AS w,
                               CAST(round(o_totalprice * 100) AS BIGINT) cents
                        FROM orders),
            g AS (SELECT w, CAST(count(*) AS BIGINT) x,
                         CAST(sum(cents) AS BIGINT) y
                  FROM wk GROUP BY 1),
            p AS (SELECT CAST(count(*) AS BIGINT) n0,
                         CAST(sum(CAST(sign(j.x - i.x) * sign(j.y - i.y) AS BIGINT))
                              AS BIGINT) s_stat,
                         CAST(sum(CASE WHEN i.x = j.x THEN 1 ELSE 0 END) AS BIGINT) tx,
                         CAST(sum(CASE WHEN i.y = j.y THEN 1 ELSE 0 END) AS BIGINT) ty
                  FROM g i JOIN g j ON i.w < j.w),
            t AS (SELECT CAST(count(*) AS BIGINT) n_weeks FROM g)
            SELECT n_weeks, s_stat,
                   round(CAST(s_stat AS DOUBLE) /
                         sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)),
                         6) tau_b
            FROM p, t""")
  )

  /** Kruskal–Wallis rank ANOVA: does order price differ across the 5
    * order priorities? Midranks come from the exact value histogram
    * (the q296 signed-rank device) as INTEGER doubled ranks — never a
    * global sort; H with the standard tie correction. Rank sums stay
    * exact; the final H uses snapped per-group mean-rank terms.
    */
  val q340KruskalWallis: QueryDef = QueryDef(
    "q340_kruskal_wallis",
    (s, dir) => {
      val vals = Tables.orders(s, dir)
        .select(
          col("o_orderpriority").as("grp"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      val hist = vals.groupBy(col("v")).agg(count(lit(1)).as("tc"))
      // doubled midrank of value v: 2*(#smaller) + tc + 1  (exact integer)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val ranked = hist
        .withColumn("below", coalesce(sum(col("tc")).over(w), lit(0L)))
        .select(col("v"), (lit(2L) * col("below") + col("tc") + 1L).as("r2"),
          col("tc"))
      val tot = hist.agg(
        sum(col("tc")).as("n"),
        sum(col("tc") * col("tc") * col("tc") - col("tc")).as("tie3"))
      val groups = vals
        .join(ranked.select(col("v"), col("r2")), Seq("v"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("ng"), sum(col("r2")).as("rs2"))
      // snap the PRE-DIVIDED per-group term: the raw n_g·r̄² term is
      // ~1e14 at sf0.1 and term×2³⁰ would overflow Spark's LONG floor —
      // dividing by n(n+1) first keeps every snapped value small
      groups.crossJoin(broadcast(tot))
        .select(
          col("n"), col("tie3"),
          snap((col("rs2").cast("double") / (lit(2.0) * col("ng"))) *
            (col("rs2").cast("double") / (lit(2.0) * col("ng"))) *
            col("ng") / (col("n").cast("double") * (col("n") + 1L))).as("term"))
        .groupBy(col("n"), col("tie3"))
        .agg(sum(col("term")).as("st"), count(lit(1)).as("k"))
        .select(
          col("k").as("n_groups"), col("n"),
          round(
            (lit(12.0) * col("st") - (lit(3.0) * (col("n") + 1L))) /
              (lit(1.0) - col("tie3").cast("double") /
                (col("n") * col("n") * col("n") - col("n")).cast("double")),
            6).as("h_stat"))
    },
    Some("""WITH vals AS (SELECT o_orderpriority grp,
                                 CAST(round(o_totalprice * 100) AS BIGINT) v
                          FROM orders),
            hist AS (SELECT v, CAST(count(*) AS BIGINT) tc FROM vals GROUP BY 1),
            rk AS (SELECT v, 2 * coalesce(sum(tc) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         + tc + 1 AS r2
                   FROM hist),
            tot AS (SELECT CAST(sum(tc) AS BIGINT) n,
                           CAST(sum(tc * tc * tc - tc) AS BIGINT) tie3
                    FROM hist),
            g AS (SELECT grp, CAST(count(*) AS BIGINT) ng,
                         CAST(sum(r2) AS BIGINT) rs2
                  FROM vals JOIN rk USING (v) GROUP BY 1),
            t AS (SELECT CAST(count(*) AS BIGINT) k,
                         sum(floor((CAST(rs2 AS DOUBLE) / (2.0 * ng)) *
                                   (CAST(rs2 AS DOUBLE) / (2.0 * ng)) * ng /
                                   (CAST(n AS DOUBLE) * (n + 1)) *
                                   1073741824.0 + 0.5) / 1073741824.0) st
                  FROM g, tot)
            SELECT k n_groups, n,
                   round((12.0 * st - 3.0 * (n + 1)) /
                         (1.0 - CAST(tie3 AS DOUBLE) /
                                CAST(n * n * n - n AS DOUBLE)), 6) h_stat
            FROM t, tot""")
  )

  /** Maximum drawdown of the cumulative daily event-value ledger —
    * running peak minus running total on exact cents over the
    * zero-filled day spine; reports the deepest drawdown, its
    * (earliest) trough day, and the peak level it fell from. The
    * window runs on the calendar-sized spine (~30 rows), never the
    * fact table.
    */
  val q341MaxDrawdown: QueryDef = QueryDef(
    "q341_max_drawdown",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("net"))
      val spine = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("d"))
        .join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("net"), lit(0L)).as("net"))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val curve = spine
        .withColumn("cum", sum(col("net")).over(wCum))
        .withColumn("peak", max(col("cum")).over(wCum))
        .withColumn("dd", col("peak") - col("cum"))
      val mdd = curve.agg(
        count(lit(1)).as("n_days"), max(col("dd")).as("max_drawdown_cents"))
      val trough = curve.crossJoin(broadcast(mdd))
        .filter(col("dd") === col("max_drawdown_cents"))
        .agg(min(col("d")).as("trough_day"), min_by(col("peak"), col("d")).as("peak_cents"))
      mdd.crossJoin(broadcast(trough))
        .select(col("n_days"), col("max_drawdown_cents"), col("trough_day"),
          col("peak_cents"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) d,
                                  CAST(sum(CAST(round(value * 100) AS BIGINT))
                                       AS BIGINT) net
                           FROM events GROUP BY 1),
            b AS (SELECT min(d) d0, max(d) d1 FROM daily),
            spine AS (SELECT CAST(gg.dd AS DATE) d, coalesce(daily.net, 0) net
                      FROM (SELECT unnest(generate_series(d0, d1,
                                          INTERVAL 1 DAY)) AS dd FROM b) gg
                      LEFT JOIN daily ON daily.d = CAST(gg.dd AS DATE)),
            cc AS (SELECT d, sum(net) OVER (ORDER BY d) cum FROM spine),
            curve AS (SELECT d, cum, max(cum) OVER (ORDER BY d) peak FROM cc),
            mdd AS (SELECT CAST(count(*) AS BIGINT) n_days,
                           CAST(max(peak - cum) AS BIGINT) max_drawdown_cents
                    FROM curve),
            trough AS (SELECT min(d) trough_day,
                              CAST(min_by(peak, d) AS BIGINT) peak_cents
                       FROM curve, mdd
                       WHERE peak - cum = max_drawdown_cents)
            SELECT n_days, max_drawdown_cents, trough_day, peak_cents
            FROM mdd, trough""")
  )

  /** l-diversity audit — the companion to q210's k-anonymity: within
    * each quasi-identifier class (char-length band × language), how
    * many DISTINCT sensitive values (source) appear; classes below
    * l = 3 are re-identification risks even when k-anonymous. Exact
    * distinct counts, per-language rollup.
    */
  val q342LDiversity: QueryDef = QueryDef(
    "q342_l_diversity",
    (s, dir) => {
      val cls = Tables.documents(s, dir)
        .groupBy(col("lang"), expr("n_chars div 100").as("qb"))
        .agg(
          count(lit(1)).as("class_n"),
          countDistinct(col("source")).as("class_l"))
      cls.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_classes"),
          sum(when(col("class_l") < 3, 1L).otherwise(0L)).as("n_low_l"),
          sum(when(col("class_l") < 3, col("class_n")).otherwise(0L))
            .as("n_exposed_rows"),
          min(col("class_l")).as("min_l"),
          round(sum(col("class_l") * col("class_n")).cast("double") /
            sum(col("class_n")), 6).as("mean_l_weighted"))
        .orderBy(col("lang"))
    },
    Some("""WITH cls AS (SELECT lang, n_chars // 100 AS qb,
                                CAST(count(*) AS BIGINT) class_n,
                                CAST(count(DISTINCT source) AS BIGINT) class_l
                         FROM documents GROUP BY 1, 2)
            SELECT lang, CAST(count(*) AS BIGINT) n_classes,
                   CAST(sum(CASE WHEN class_l < 3 THEN 1 ELSE 0 END) AS BIGINT)
                     n_low_l,
                   CAST(sum(CASE WHEN class_l < 3 THEN class_n ELSE 0 END) AS BIGINT)
                     n_exposed_rows,
                   CAST(min(class_l) AS BIGINT) min_l,
                   round(CAST(sum(class_l * class_n) AS DOUBLE) / sum(class_n), 6)
                     mean_l_weighted
            FROM cls GROUP BY 1 ORDER BY 1""")
  )

  /** Graph modularity of the region partition on the nation trade
    * graph: Q = Σ_c [in_c/m − (d_c/2m)²] for communities c = regions,
    * edge weight = order count between nations. The numerator is kept
    * as the EXACT integer Σ_c (4·m·in_c − d_c²) (= Q·4m²); Q itself is
    * one final snapped division. Symmetrized undirected weights.
    */
  val q343Modularity: QueryDef = QueryDef(
    "q343_modularity",
    (s, dir) => {
      val directed = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("s_suppkey") === col("l_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(
          least(col("c_nationkey"), col("s_nationkey")).cast("long").as("a"),
          greatest(col("c_nationkey"), col("s_nationkey")).cast("long").as("b"))
        .agg(count(lit(1)).as("wt"))
      val nation = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("nk"),
          col("n_regionkey").cast("long").as("comm"))
      val edges = directed
        .join(broadcast(nation.withColumnRenamed("nk", "a")
          .withColumnRenamed("comm", "ca")), Seq("a"))
        .join(broadcast(nation.withColumnRenamed("nk", "b")
          .withColumnRenamed("comm", "cb")), Seq("b"))
        .localCheckpoint()
      val m = edges.agg(sum(col("wt")).as("m"))
      val inC = edges.filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("comm")).agg(sum(col("wt")).as("in_w"))
      val deg = edges
        .select(col("ca").as("comm"), col("wt"))
        .unionAll(edges.select(col("cb").as("comm"), col("wt")))
        .groupBy(col("comm")).agg(sum(col("wt")).as("d_w"))
      val num = deg.join(inC, Seq("comm"), "left")
        .crossJoin(broadcast(m))
        .select((lit(4L) * col("m") * coalesce(col("in_w"), lit(0L)) -
          col("d_w") * col("d_w")).as("t"))
        .agg(sum(col("t")).as("q_scaled"), count(lit(1)).as("n_comms"))
      num.crossJoin(broadcast(m))
        .select(
          col("n_comms"), col("m").as("total_weight"), col("q_scaled"),
          round(col("q_scaled").cast("double") /
            (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6)
            .as("modularity"))
    },
    Some("""WITH directed AS (
              SELECT least(c.c_nationkey, s.s_nationkey) a,
                     greatest(c.c_nationkey, s.s_nationkey) b,
                     CAST(count(*) AS BIGINT) wt
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON s.s_suppkey = l.l_suppkey
              WHERE c.c_nationkey <> s.s_nationkey
              GROUP BY 1, 2),
            e AS (SELECT d.*, na.n_regionkey ca, nb.n_regionkey cb
                  FROM directed d
                  JOIN nation na ON na.n_nationkey = d.a
                  JOIN nation nb ON nb.n_nationkey = d.b),
            m AS (SELECT CAST(sum(wt) AS BIGINT) m FROM e),
            inc AS (SELECT ca comm, CAST(sum(wt) AS BIGINT) in_w
                    FROM e WHERE ca = cb GROUP BY 1),
            deg AS (SELECT comm, CAST(sum(wt) AS BIGINT) d_w FROM (
                      SELECT ca comm, wt FROM e
                      UNION ALL SELECT cb comm, wt FROM e) u GROUP BY 1),
            num AS (SELECT CAST(sum(4 * m.m * coalesce(inc.in_w, 0)
                                    - deg.d_w * deg.d_w) AS BIGINT) q_scaled,
                           CAST(count(*) AS BIGINT) n_comms
                    FROM deg LEFT JOIN inc USING (comm) CROSS JOIN m)
            SELECT n_comms, m total_weight, q_scaled,
                   round(CAST(q_scaled AS DOUBLE) /
                         (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)
                     modularity
            FROM num, m""")
  )

  /** SQL scalar UDF surface (Spark 4 `CREATE FUNCTION ... RETURN`):
    * a reusable discount-band function declared IN SQL, applied over
    * lineitem — the lakehouse way to ship business logic without JVM
    * UDF jars (it inlines into the plan and stays codegen'd, unlike a
    * ScalaUDF black box). Oracle: DuckDB macro with identical body.
    */
  val q344SqlUdf: QueryDef = QueryDef(
    "q344_sql_udf",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("q344_lineitem")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q344_band(d DOUBLE)
               RETURNS STRING
               RETURN CASE WHEN d < 0.02 THEN 'low'
                           WHEN d < 0.06 THEN 'mid'
                           ELSE 'high' END""")
      s.sql("""SELECT q344_band(l_discount) AS band,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                           AS BIGINT) AS cents
               FROM q344_lineitem GROUP BY 1""")
    },
    Some("""SELECT CASE WHEN l_discount < 0.02 THEN 'low'
                        WHEN l_discount < 0.06 THEN 'mid'
                        ELSE 'high' END AS band,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM lineitem GROUP BY 1""")
  )

  /** SQL pipe syntax (Spark 4 `|>`): the linear query-authoring
    * surface — FROM … |> WHERE … |> AGGREGATE … GROUP BY … — compiled
    * to the identical Catalyst plan as the nested form. Oracle is the
    * classic-syntax equivalent.
    */
  val q345PipeSyntax: QueryDef = QueryDef(
    "q345_pipe_syntax",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q345_orders")
      s.sql("""FROM q345_orders
               |> WHERE o_orderstatus = 'F'
               |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               |> AGGREGATE CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(cents) AS BIGINT) AS cents_sum
                  GROUP BY o_orderpriority
               |> ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     cents_sum
            FROM orders WHERE o_orderstatus = 'F'
            GROUP BY 1 ORDER BY 1""")
  )

  /** Friedman rank test — the repeated-measures companion to q340:
    * blocks = order weeks, treatments = the 5 order priorities, value
    * = weekly order count per priority (zero-filled on the bounded
    * week × priority grid). Within-block doubled midranks come from
    * rank() + tie counts (exact integers), so Σ R_j² stays EXACT and
    * the χ² is a single final division. Classic statistic (no tie
    * correction factor) — both engines replay the identical formula.
    */
  val q346Friedman: QueryDef = QueryDef(
    "q346_friedman",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val cells = Tables.orders(s, dir)
        .groupBy(
          expr("CAST(datediff(to_date(o_orderdate), DATE '1992-01-01') AS BIGINT) div 7")
            .as("w"),
          col("o_orderpriority").as("trt"))
        .agg(count(lit(1)).as("v"))
      val weeks = cells.select(col("w")).distinct()
      val trts = cells.select(col("trt")).distinct()
      val grid = weeks.crossJoin(broadcast(trts.limit(8))) // o_orderpriority is a 5-value enum
        .join(cells, Seq("w", "trt"), "left")
        .select(col("w"), col("trt"), coalesce(col("v"), lit(0L)).as("v"))
      val ranked = grid
        .withColumn("rk", rank().over(W.partitionBy(col("w")).orderBy(col("v"))))
        .withColumn("tc", count(lit(1)).over(W.partitionBy(col("w"), col("v"))))
        .select(col("trt"), (lit(2L) * (col("rk") - 1L) + col("tc") + 1L).as("r2"))
      val perTrt = ranked.groupBy(col("trt")).agg(sum(col("r2")).as("rs2"))
      val nBlocks = weeks.agg(count(lit(1)).as("n"))
      perTrt
        .agg(sum(col("rs2") * col("rs2")).as("sq"), count(lit(1)).as("k"))
        .crossJoin(broadcast(nBlocks))
        .select(
          col("n").as("n_blocks"), col("k").as("n_treatments"),
          round(
            lit(3.0) * col("sq").cast("double") /
              (col("n") * col("k") * (col("k") + 1L)).cast("double") -
              lit(3.0) * (col("n") * (col("k") + 1L)).cast("double"),
            6).as("chi2_f"))
    },
    Some("""WITH cells AS (SELECT CAST(date_diff('day', DATE '1992-01-01',
                                     CAST(o_orderdate AS DATE)) AS BIGINT) // 7 AS w,
                                  o_orderpriority trt,
                                  CAST(count(*) AS BIGINT) v
                           FROM orders GROUP BY 1, 2),
            wk AS (SELECT DISTINCT w FROM cells),
            tr AS (SELECT DISTINCT trt FROM cells),
            grid AS (SELECT wk.w, tr.trt, coalesce(c.v, 0) v
                     FROM wk CROSS JOIN tr
                     LEFT JOIN cells c ON c.w = wk.w AND c.trt = tr.trt),
            rk AS (SELECT trt,
                          2 * (rank() OVER (PARTITION BY w ORDER BY v) - 1) +
                          count(*) OVER (PARTITION BY w, v) + 1 AS r2
                   FROM grid),
            pt AS (SELECT trt, CAST(sum(r2) AS BIGINT) rs2 FROM rk GROUP BY 1),
            agg AS (SELECT CAST(sum(rs2 * rs2) AS BIGINT) sq,
                           CAST(count(*) AS BIGINT) k
                    FROM pt),
            nb AS (SELECT CAST(count(*) AS BIGINT) n FROM wk)
            SELECT n n_blocks, k n_treatments,
                   round(3.0 * CAST(sq AS DOUBLE) / CAST(n * k * (k + 1) AS DOUBLE)
                         - 3.0 * CAST(n * (k + 1) AS DOUBLE), 6) chi2_f
            FROM agg, nb""")
  )

  /** Split-conformal prediction interval: a per-priority mean model
    * (exact integer floor of the train-split mean) wrapped with the
    * distribution-free calibration quantile q̂ = the ⌈(n+1)(1−α)⌉-th
    * calibration residual (α = 0.1), resolved on the residual
    * histogram cumsum (the q335 rank-selection device — no sort).
    * Reports q̂ and the realized eval coverage, which the conformal
    * guarantee lower-bounds by 1−α in expectation. md5 3-way split.
    */
  val q347Conformal: QueryDef = QueryDef(
    "q347_conformal",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val base = Tables.orders(s, dir)
        .select(
          col("o_orderpriority").as("grp"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y"),
          pmod(conv(substring(md5(concat(col("o_orderkey").cast("string"),
            lit(":cf"))), 1, 8), 16, 10).cast("long"), lit(3L)).as("fold"))
      val model = base.filter(col("fold") === 0L)
        .groupBy(col("grp"))
        .agg(expr("sum(y) div count(*)").as("yhat")) // exact integer floor
      val scored = base.filter(col("fold") =!= 0L)
        // hint-free: the per-group model is group-keyed; AQE decides
        .join(model, Seq("grp"))
        .select(col("fold"), abs(col("y") - col("yhat")).as("r"))
      val calib = scored.filter(col("fold") === 1L)
      val nC = calib.agg(count(lit(1)).as("n_calib"))
      val hist = calib.groupBy(col("r")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          W.orderBy(col("r")).rowsBetween(W.unboundedPreceding, 0)))
      val qhat = hist.crossJoin(broadcast(nC))
        .filter(col("cum") >= ceil((col("n_calib") + 1L) * 0.9).cast("long"))
        .agg(min(col("r")).as("q_hat"), max(col("n_calib")).as("n_calib"))
      scored.filter(col("fold") === 2L)
        .crossJoin(broadcast(qhat))
        .agg(
          max(col("n_calib")).as("n_calib"),
          count(lit(1)).as("n_eval"),
          max(col("q_hat")).as("q_hat_cents"),
          round(sum(when(col("r") <= col("q_hat"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("coverage"))
    },
    Some("""WITH base AS (SELECT o_orderpriority grp,
                                 CAST(round(o_totalprice * 100) AS BIGINT) y,
                                 CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
                                      || ':cf'), 1, 8)) AS BIGINT) % 3 fold
                          FROM orders),
            model AS (SELECT grp, CAST(sum(y) // count(*) AS BIGINT) yhat
                      FROM base WHERE fold = 0 GROUP BY 1),
            scored AS (SELECT fold, abs(y - yhat) r
                       FROM base JOIN model USING (grp) WHERE fold <> 0),
            nc AS (SELECT CAST(count(*) AS BIGINT) n_calib FROM scored WHERE fold = 1),
            hist AS (SELECT r, count(*) c FROM scored WHERE fold = 1 GROUP BY 1),
            cum AS (SELECT r, sum(c) OVER (ORDER BY r) cum FROM hist),
            qh AS (SELECT CAST(min(r) AS BIGINT) q_hat,
                          CAST(max(n_calib) AS BIGINT) n_calib
                   FROM cum, nc
                   WHERE cum >= CAST(ceil((n_calib + 1) * 0.9) AS BIGINT))
            SELECT n_calib,
                   CAST(count(*) AS BIGINT) n_eval,
                   q_hat q_hat_cents,
                   round(CAST(sum(CASE WHEN r <= q_hat THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) coverage
            FROM scored, qh WHERE fold = 2
            GROUP BY n_calib, q_hat""")
  )

  /** Cochran–Armitage trend test: does the return rate trend with the
    * discount dose? Doses = integer discount points (0..10), outcome =
    * l_returnflag = 'R'. Every moment (Σwr, Σwn, Σw²n, N, R) is an
    * exact integer from one conditional-aggregate pass; the z forms in
    * double from those exact longs — identical on both engines.
    */
  val q348CochranArmitage: QueryDef = QueryDef(
    "q348_cochran_armitage",
    (s, dir) => {
      val doses = Tables.lineitem(s, dir)
        .select(
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("w"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("succ"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_i"), sum(col("succ")).as("r_i"))
      doses.agg(
        count(lit(1)).as("n_doses"),
        sum(col("n_i")).as("n"),
        sum(col("r_i")).as("r"),
        sum(col("w") * col("n_i")).as("swn"),
        sum(col("w") * col("r_i")).as("swr"),
        sum(col("w") * col("w") * col("n_i")).as("sw2n"))
        .select(
          col("n_doses"), col("n"), col("r"),
          round({
            val p = col("r").cast("double") / col("n")
            val t = col("swr").cast("double") - p * col("swn")
            val v = p * (lit(1.0) - p) *
              (col("sw2n").cast("double") -
                col("swn").cast("double") * col("swn") / col("n"))
            t / sqrt(v)
          }, 6).as("z_trend"))
    },
    Some("""WITH doses AS (SELECT CAST(round(l_discount * 100) AS BIGINT) w,
                                  CAST(count(*) AS BIGINT) n_i,
                                  CAST(sum(CASE WHEN l_returnflag = 'R'
                                                THEN 1 ELSE 0 END) AS BIGINT) r_i
                           FROM lineitem GROUP BY 1),
            m AS (SELECT CAST(count(*) AS BIGINT) n_doses,
                         CAST(sum(n_i) AS BIGINT) n,
                         CAST(sum(r_i) AS BIGINT) r,
                         CAST(sum(w * n_i) AS BIGINT) swn,
                         CAST(sum(w * r_i) AS BIGINT) swr,
                         CAST(sum(w * w * n_i) AS BIGINT) sw2n
                  FROM doses)
            SELECT n_doses, n, r,
                   round((CAST(swr AS DOUBLE) - (CAST(r AS DOUBLE) / n) * swn) /
                         sqrt((CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n) *
                              (CAST(sw2n AS DOUBLE) -
                               CAST(swn AS DOUBLE) * swn / n)), 6) z_trend
            FROM m""")
  )

  /** Grid-bucketed nearest-neighbor join: each customer (synthetic
    * integer micro-degree offsets, the q255/q304 layout) finds its
    * nearest supplier among the 3×3 neighboring half-degree cells —
    * the scale-safe NN pattern (equi-join on cell keys, candidates
    * bounded by cell occupancy, never all-pairs). Distances are EXACT
    * integer squared offsets; candidates outside the neighborhood are
    * reported unmatched by contract (both engines replay the identical
    * bounded search). Tie-break: smallest squared distance, then
    * smallest supplier key. Per-nation rollup.
    */
  val q349GeoKnn: QueryDef = QueryDef(
    "q349_geo_knn",
    (s, dir) => {
      val cell = 500000L
      val cust = Tables.customer(s, dir)
        .select(
          col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nation"),
          ((col("c_custkey") % 11) * 400000L + (col("c_custkey") % 17) * 10000L)
            .cast("long").as("px"),
          ((col("c_custkey") % 7) * 300000L + (col("c_custkey") % 13) * 10000L)
            .cast("long").as("py"))
      val supp = Tables.supplier(s, dir)
        .select(
          col("s_suppkey").cast("long").as("sk"),
          ((col("s_suppkey") % 13) * 350000L + (col("s_suppkey") % 19) * 9000L)
            .cast("long").as("sx"),
          ((col("s_suppkey") % 5) * 420000L + (col("s_suppkey") % 11) * 8000L)
            .cast("long").as("sy"))
        .withColumn("cx", expr(s"sx div $cell"))
        .withColumn("cy", expr(s"sy div $cell"))
      val probes = cust
        .withColumn("dx", explode(expr("sequence(-1L, 1L)")))
        .withColumn("dy", explode(expr("sequence(-1L, 1L)")))
        .select(col("ck"), col("nation"), col("px"), col("py"),
          (expr(s"px div $cell") + col("dx")).as("cx"),
          (expr(s"py div $cell") + col("dy")).as("cy"))
      // hint-free: the supplier relation scales with SF (forcing it
      // broadcast OOMs at 100x); the cell equi-join lets AQE decide
      val cand = probes.join(supp, Seq("cx", "cy"))
        .select(col("ck"), col("nation"), col("sk"),
          ((col("px") - col("sx")) * (col("px") - col("sx")) +
            (col("py") - col("sy")) * (col("py") - col("sy"))).as("d2"))
      val best = cand.groupBy(col("ck")).agg(min(col("d2")).as("m"))
      val picked = cand.join(best, Seq("ck"))
        .filter(col("d2") === col("m"))
        .groupBy(col("ck"), col("nation"), col("m"))
        .agg(min(col("sk")).as("nn"))
      cust.select(col("ck"), col("nation"))
        .join(picked.select(col("ck"), col("m"), col("nn")), Seq("ck"), "left")
        .groupBy(col("nation"))
        .agg(
          count(lit(1)).as("n_cust"),
          sum(when(col("nn").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(coalesce(col("m"), lit(0L))).as("sum_min_d2"))
        .orderBy(col("nation"))
    },
    Some("""WITH cust AS (SELECT CAST(c_custkey AS BIGINT) ck,
                                 CAST(c_nationkey AS BIGINT) nation,
                                 CAST((c_custkey % 11) * 400000 +
                                      (c_custkey % 17) * 10000 AS BIGINT) px,
                                 CAST((c_custkey % 7) * 300000 +
                                      (c_custkey % 13) * 10000 AS BIGINT) py
                          FROM customer),
            supp AS (SELECT CAST(s_suppkey AS BIGINT) sk,
                            CAST((s_suppkey % 13) * 350000 +
                                 (s_suppkey % 19) * 9000 AS BIGINT) sx,
                            CAST((s_suppkey % 5) * 420000 +
                                 (s_suppkey % 11) * 8000 AS BIGINT) sy
                     FROM supplier),
            sc AS (SELECT *, sx // 500000 cx, sy // 500000 cy FROM supp),
            probes AS (SELECT ck, nation, px, py,
                              px // 500000 + dx.g cx, py // 500000 + dy.g cy
                       FROM cust,
                            (SELECT unnest(range(-1, 2)) g) dx,
                            (SELECT unnest(range(-1, 2)) g) dy),
            cand AS (SELECT p.ck, p.nation, s.sk,
                            (p.px - s.sx) * (p.px - s.sx) +
                            (p.py - s.sy) * (p.py - s.sy) d2
                     FROM probes p JOIN sc s ON s.cx = p.cx AND s.cy = p.cy),
            best AS (SELECT ck, min(d2) m FROM cand GROUP BY 1),
            picked AS (SELECT c.ck, c.m, min(sk) nn
                       FROM (SELECT cand.*, best.m FROM cand JOIN best USING (ck)
                             WHERE cand.d2 = best.m) c
                       GROUP BY 1, 2)
            SELECT nation, CAST(count(*) AS BIGINT) n_cust,
                   CAST(sum(CASE WHEN nn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                     n_matched,
                   CAST(sum(coalesce(m, 0)) AS BIGINT) sum_min_d2
            FROM cust LEFT JOIN picked USING (ck)
            GROUP BY 1 ORDER BY 1""")
  )

  /** Parameterized SQL surface: `spark.sql(text, args)` with named
    * parameter markers — the injection-safe way to template queries
    * (the literal binds in the parser, so constant folding and
    * pushdown see a plain literal). Oracle inlines the same constant.
    */
  val q350ParamSql: QueryDef = QueryDef(
    "q350_param_sql",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q350_orders")
      s.sql(
        """SELECT o_orderpriority,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS cents_sum
           FROM q350_orders
           WHERE o_totalprice > :cut AND o_orderstatus = :status
           GROUP BY 1""",
        Map("cut" -> 150000, "status" -> "O"))
    },
    Some("""SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     cents_sum
            FROM orders
            WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
            GROUP BY 1""")
  )

  /** SQL session variables (Spark 4 `DECLARE VARIABLE` / `SET VAR`):
    * parameterize a query from session state — the scripting-adjacent
    * surface next to q350's bind parameters. The variable reference
    * resolves to a literal at analysis, so pushdown still sees a
    * constant. Oracle inlines the final value.
    */
  val q351SqlVariables: QueryDef = QueryDef(
    "q351_sql_variables",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("q351_lineitem")
      s.sql("DECLARE OR REPLACE VARIABLE q351_min_qty DOUBLE DEFAULT 10.0")
      s.sql("SET VAR q351_min_qty = 25.0")
      s.sql("""SELECT l_returnflag,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
               FROM q351_lineitem
               WHERE l_quantity >= q351_min_qty
               GROUP BY 1""")
    },
    Some("""SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) n,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) qty
            FROM lineitem WHERE l_quantity >= 25.0
            GROUP BY 1""")
  )

  /** GROUP BY ALL / ORDER BY ALL — the by-every-non-aggregate shorthand
    * (identical grouping inference on both engines; the oracle spells
    * the positions out so the check does not depend on DuckDB's own
    * ALL support).
    */
  val q352GroupByAll: QueryDef = QueryDef(
    "q352_group_by_all",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q352_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                        AS cents
               FROM q352_orders
               GROUP BY ALL
               ORDER BY ALL""")
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
                   CAST(count(*) AS BIGINT) n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) cents
            FROM orders GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** McNemar paired test: do two document classifiers (char-length
    * gate vs token-count gate, both predicting lang = 'en') disagree
    * asymmetrically? Exact discordant-cell counts b/c from one pass;
    * χ² = (b−c)²/(b+c) is a single exact-integer ratio.
    */
  val q353McNemar: QueryDef = QueryDef(
    "q353_mcnemar",
    (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(
          (col("lang") === "en").as("label"),
          (col("n_chars") >= 500).as("pred_a"),
          (size(split(col("text"), " ")) >= 80).as("pred_b"))
        .select(
          (col("pred_a") === col("label")).as("ok_a"),
          (col("pred_b") === col("label")).as("ok_b"))
      scored.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ok_a") && !col("ok_b"), 1L).otherwise(0L)).as("b_only"),
        sum(when(!col("ok_a") && col("ok_b"), 1L).otherwise(0L)).as("c_only"))
        .select(
          col("n_docs"), col("b_only"), col("c_only"),
          when(col("b_only") + col("c_only") === 0L, lit(0.0))
            .otherwise(round(
              ((col("b_only") - col("c_only")) * (col("b_only") - col("c_only")))
                .cast("double") / (col("b_only") + col("c_only")), 6))
            .as("chi2_mcnemar"))
    },
    Some("""WITH scored AS (SELECT (n_chars >= 500) = (lang = 'en') ok_a,
                                   (len(string_split(text, ' ')) >= 80) = (lang = 'en')
                                     ok_b
                            FROM documents),
            m AS (SELECT CAST(count(*) AS BIGINT) n_docs,
                         CAST(sum(CASE WHEN ok_a AND NOT ok_b THEN 1 ELSE 0 END)
                              AS BIGINT) b_only,
                         CAST(sum(CASE WHEN NOT ok_a AND ok_b THEN 1 ELSE 0 END)
                              AS BIGINT) c_only
                  FROM scored)
            SELECT n_docs, b_only, c_only,
                   CASE WHEN b_only + c_only = 0 THEN 0.0
                        ELSE round(CAST((b_only - c_only) * (b_only - c_only)
                                        AS DOUBLE) / (b_only + c_only), 6)
                   END chi2_mcnemar
            FROM m""")
  )

  /** Pettitt changepoint test on the daily order-count series — the
    * rank-based companion to the CUSUM changepoint (q193). V_t comes
    * from the value histogram (2·below + ties − n, exact integers, no
    * pair join), U_t = running ΣV (the Pettitt recursion), K = max|U_t|
    * with the earliest argmax. The normalized exponent 6K²/(n³+n²) is
    * reported instead of exp(−·) so no transcendental enters the
    * cross-engine compare.
    */
  val q354Pettitt: QueryDef = QueryDef(
    "q354_pettitt",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
      val spine = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("d0"), explode(sequence(col("d0"), col("d1"))).as("d"))
        .join(daily, Seq("d"), "left")
        .select(datediff(col("d"), col("d0")).cast("long").as("t"),
          coalesce(col("x"), lit(0L)).as("x"))
        .localCheckpoint()
      val n = spine.agg(count(lit(1)).as("n"))
      val hist = spine.groupBy(col("x")).agg(count(lit(1)).as("tc"))
        .withColumn("below", coalesce(sum(col("tc")).over(
          W.orderBy(col("x")).rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      val series = spine.join(hist, Seq("x"))
        .crossJoin(broadcast(n))
        .select(col("t"), (lit(2L) * col("below") + col("tc") - col("n")).as("v"),
          col("n"))
      val u = series
        .withColumn("u", sum(col("v")).over(
          W.orderBy(col("t")).rowsBetween(W.unboundedPreceding, 0)))
        .filter(col("t") < col("n") - 1L) // U_n ≡ 0 by construction
      val k = u.agg(max(abs(col("u"))).as("k_stat"))
      u.crossJoin(broadcast(k))
        .filter(abs(col("u")) === col("k_stat"))
        .agg(
          max(col("n")).as("n_days"),
          max(col("k_stat")).as("k_stat"),
          min(col("t")).as("t_star"))
        .select(
          col("n_days"), col("k_stat"), col("t_star"),
          round(lit(6.0) * col("k_stat") * col("k_stat") /
            (col("n_days") * col("n_days") * col("n_days") +
              col("n_days") * col("n_days")).cast("double"), 6).as("k_norm"))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) d,
                                  CAST(count(*) AS BIGINT) x
                           FROM orders GROUP BY 1),
            b AS (SELECT min(d) d0, max(d) d1 FROM daily),
            spine AS (SELECT CAST(date_diff('day', b.d0, CAST(gg.dd AS DATE))
                             AS BIGINT) t,
                             coalesce(daily.x, 0) x
                      FROM b, (SELECT d0, unnest(generate_series(d0, d1,
                                               INTERVAL 1 DAY)) dd FROM b) gg
                      LEFT JOIN daily ON daily.d = CAST(gg.dd AS DATE)),
            n AS (SELECT CAST(count(*) AS BIGINT) n FROM spine),
            hist AS (SELECT x, CAST(count(*) AS BIGINT) tc FROM spine GROUP BY 1),
            hb AS (SELECT x, tc, coalesce(sum(tc) OVER (ORDER BY x
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) below
                   FROM hist),
            series AS (SELECT t, 2 * below + tc - n.n v, n.n
                       FROM spine JOIN hb USING (x), n),
            u AS (SELECT t, n, sum(v) OVER (ORDER BY t) u FROM series),
            uf AS (SELECT * FROM u WHERE t < n - 1),
            k AS (SELECT CAST(max(abs(u)) AS BIGINT) k_stat FROM uf)
            SELECT CAST(max(n) AS BIGINT) n_days,
                   CAST(max(k_stat) AS BIGINT) k_stat,
                   CAST(min(t) AS BIGINT) t_star,
                   round(6.0 * CAST(max(k_stat) AS DOUBLE) * max(k_stat) /
                         CAST(max(n) * max(n) * max(n) + max(n) * max(n) AS DOUBLE),
                         6) k_norm
            FROM uf, k WHERE abs(u) = k_stat""")
  )

  /** Nearest-direction as-of join
    * ([[graft.operators.AsOfJoin.asOfNearest]]): each error event
    * matched to the temporally NEAREST purchase of the same user
    * (backward wins distance ties, the pandas contract). Right side
    * deduped to one row per (user, instant) so both engines' tie
    * rules coincide. Two keyed shuffles, no pair explosion.
    */
  val q355AsofNearest: QueryDef = QueryDef(
    "q355_asof_nearest",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max(col("event_id")).as("p_id"))
      graft.operators.AsOfJoin
        .asOfNearest(
          errors, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTime = "ts", rightTime = "p_ts",
          rightValueCols = Seq("p_id" -> "nearest_purchase_id"),
          rightTieBreak = Seq("p_id"))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("nearest_purchase_id"))
    },
    Some("""SELECT event_id, user_id, ts_us, nearest_purchase_id
            FROM (
              SELECT e.event_id, e.user_id,
                     CAST(epoch_us(e.ts) AS BIGINT) ts_us,
                     p.p_id nearest_purchase_id,
                     row_number() OVER (PARTITION BY e.event_id
                       ORDER BY abs(epoch_us(p.p_ts) - epoch_us(e.ts)) ASC NULLS LAST,
                                (p.p_ts <= e.ts) DESC,
                                p.p_id DESC NULLS LAST) rn
              FROM (SELECT * FROM events WHERE event_type = 'error') e
              LEFT JOIN (SELECT user_id p_user, ts p_ts, max(event_id) p_id
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY 1, 2) p
                ON p.p_user = e.user_id
            ) WHERE rn = 1""")
  )

  /** Lateral column aliases: a SELECT-list alias referenced by the
    * NEXT expression in the same projection (`cents` feeding
    * `dollars`) — single-pass derived-column chains without nested
    * subqueries. The oracle re-expands the chain.
    */
  val q356LateralAlias: QueryDef = QueryDef(
    "q356_lateral_alias",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q356_orders")
      s.sql("""SELECT o_orderpriority,
                      CAST(sum(dollars) AS BIGINT) AS dollars_sum
               FROM (
                 SELECT o_orderpriority,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                        cents div 100 AS dollars
                 FROM q356_orders)
               GROUP BY 1""")
    },
    Some("""SELECT o_orderpriority,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) // 100)
                        AS BIGINT) dollars_sum
            FROM orders GROUP BY 1""")
  )

  /** Negative-binomial overdispersion fit on daily event counts:
    * method-of-moments r̂ = m²/(v−m), p̂ = m/v from exact integer
    * (n, Σx, Σx²) — the Poisson-or-not triage before any count model
    * (q254's Fano factor asks the question; this fits the answer).
    * Degenerate (v ≤ m) reports NULL fit — underdispersed data has no
    * NB fit.
    */
  val q357NegbinFit: QueryDef = QueryDef(
    "q357_negbin_fit",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      daily.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sm"),
        sum(col("x") * col("x")).as("sxx"))
        .select(
          col("n").as("n_days"),
          round(col("sm").cast("double") / col("n"), 6).as("mean"),
          round((col("n") * col("sxx") - col("sm") * col("sm")).cast("double") /
            (col("n") * col("n")).cast("double"), 6).as("variance"), {
            val m = col("sm").cast("double") / col("n")
            val v = (col("n") * col("sxx") - col("sm") * col("sm")).cast("double") /
              (col("n") * col("n")).cast("double")
            when(v > m, round(m * m / (v - m), 6)).as("r_hat")
          }, {
            val m = col("sm").cast("double") / col("n")
            val v = (col("n") * col("sxx") - col("sm") * col("sm")).cast("double") /
              (col("n") * col("n")).cast("double")
            when(v > m, round(m / v, 6)).as("p_hat")
          })
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) d, CAST(count(*) AS BIGINT) x
                           FROM events GROUP BY 1),
            m AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sm,
                         CAST(sum(x * x) AS BIGINT) sxx
                  FROM daily)
            SELECT n n_days,
                   round(CAST(sm AS DOUBLE) / n, 6) mean,
                   round(CAST(n * sxx - sm * sm AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
                     variance,
                   CASE WHEN CAST(n * sxx - sm * sm AS DOUBLE) / CAST(n * n AS DOUBLE)
                             > CAST(sm AS DOUBLE) / n
                        THEN round((CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n) /
                                   (CAST(n * sxx - sm * sm AS DOUBLE) /
                                    CAST(n * n AS DOUBLE) - CAST(sm AS DOUBLE) / n), 6)
                   END r_hat,
                   CASE WHEN CAST(n * sxx - sm * sm AS DOUBLE) / CAST(n * n AS DOUBLE)
                             > CAST(sm AS DOUBLE) / n
                        THEN round((CAST(sm AS DOUBLE) / n) /
                                   (CAST(n * sxx - sm * sm AS DOUBLE) /
                                    CAST(n * n AS DOUBLE)), 6)
                   END p_hat
            FROM m""")
  )

  /** Cramér's V (plain + Bergsma bias-corrected) for the priority ×
    * status contingency table — the effect size q306's χ² lacks. Cells
    * and marginals exact; every later step a deterministic scalar
    * chain on both engines.
    */
  val q358CramersV: QueryDef = QueryDef(
    "q358_cramers_v",
    (s, dir) => {
      val cells = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("a"), col("o_orderstatus").as("b"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint()
      val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("na"))
      val cb = cells.groupBy(col("b")).agg(sum(col("o")).as("nb"))
      val tot = cells.agg(sum(col("o")).as("n"))
      val chi2 = cells
        // hint-free: margin relations are category-keyed; AQE decides
        .join(ra, Seq("a")).join(cb, Seq("b"))
        .crossJoin(broadcast(tot))
        .select(snap({
          val e = col("na").cast("double") * col("nb") / col("n")
          (col("o") - e) * (col("o") - e) / e
        }).as("term"))
        .agg(sum(col("term")).as("chi2"))
      val dims = ra.agg(count(lit(1)).as("r"))
        .crossJoin(cb.agg(count(lit(1)).as("c")))
      chi2.crossJoin(broadcast(dims)).crossJoin(broadcast(tot))
        .select(
          col("n"), col("r").as("n_rows"), col("c").as("n_cols"),
          round(sqrt(col("chi2") / (col("n") *
            least(col("r") - 1L, col("c") - 1L)).cast("double")), 6).as("v"), {
            val phi2 = col("chi2") / col("n")
            val adj = greatest(lit(0.0), phi2 -
              ((col("r") - 1L) * (col("c") - 1L)).cast("double") / (col("n") - 1L))
            val rAdj = col("r").cast("double") -
              ((col("r") - 1L) * (col("r") - 1L)).cast("double") / (col("n") - 1L)
            val cAdj = col("c").cast("double") -
              ((col("c") - 1L) * (col("c") - 1L)).cast("double") / (col("n") - 1L)
            round(sqrt(adj / least(rAdj - 1.0, cAdj - 1.0)), 6).as("v_corrected")
          })
    },
    Some("""WITH cells AS (SELECT o_orderpriority a, o_orderstatus b,
                                  CAST(count(*) AS BIGINT) o
                           FROM orders GROUP BY 1, 2),
            ra AS (SELECT a, CAST(sum(o) AS BIGINT) na FROM cells GROUP BY 1),
            cb AS (SELECT b, CAST(sum(o) AS BIGINT) nb FROM cells GROUP BY 1),
            tot AS (SELECT CAST(sum(o) AS BIGINT) n FROM cells),
            x2 AS (SELECT sum(floor((o - CAST(na AS DOUBLE) * nb / n) *
                                    (o - CAST(na AS DOUBLE) * nb / n) /
                                    (CAST(na AS DOUBLE) * nb / n) *
                                    1073741824.0 + 0.5) / 1073741824.0) chi2
                   FROM cells JOIN ra USING (a) JOIN cb USING (b), tot),
            dims AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ra) r,
                            (SELECT CAST(count(*) AS BIGINT) FROM cb) c)
            SELECT n, r n_rows, c n_cols,
                   round(sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 6) v,
                   round(sqrt(
                     greatest(0.0, chi2 / n -
                              CAST((r - 1) * (c - 1) AS DOUBLE) / (n - 1)) /
                     least(CAST(r AS DOUBLE) -
                             CAST((r - 1) * (r - 1) AS DOUBLE) / (n - 1) - 1.0,
                           CAST(c AS DOUBLE) -
                             CAST((c - 1) * (c - 1) AS DOUBLE) / (n - 1) - 1.0)), 6)
                     v_corrected
            FROM x2, dims, tot""")
  )

  /** Partial correlation r(qty, price | discount) on lineitem — the
    * confound-adjusted association from one pass of exact integer
    * moments (the price square summed as decimal so no long overflow;
    * every correlation a deterministic scalar chain).
    */
  val q359PartialCorr: QueryDef = QueryDef(
    "q359_partial_corr",
    (s, dir) => {
      val base = Tables.lineitem(s, dir)
        .select(
          expr("CAST(round(l_quantity) AS BIGINT)").as("x"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("z"))
      base.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
        sum(col("x") * col("x")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
        .select(col("n"), {
          def corr(sab: org.apache.spark.sql.Column, sa: org.apache.spark.sql.Column,
                   sb: org.apache.spark.sql.Column, saa: org.apache.spark.sql.Column,
                   sbb: org.apache.spark.sql.Column) =
            (col("n").cast("double") * sab.cast("double") -
              sa.cast("double") * sb.cast("double")) /
              sqrt((col("n").cast("double") * saa.cast("double") -
                sa.cast("double") * sa.cast("double")) *
                (col("n").cast("double") * sbb.cast("double") -
                  sb.cast("double") * sb.cast("double")))
          val rxy = corr(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
          val rxz = corr(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
          val ryz = corr(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
          struct(
            round(rxy, 6).as("r_xy"),
            round(rxz, 6).as("r_xz"),
            round(ryz, 6).as("r_yz"),
            round((rxy - rxz * ryz) /
              sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6)
              .as("r_xy_given_z")).as("s")
        })
        .select(col("n"), col("s.r_xy"), col("s.r_xz"), col("s.r_yz"),
          col("s.r_xy_given_z"))
    },
    Some("""WITH base AS (SELECT CAST(round(l_quantity) AS BIGINT) x,
                                 CAST(round(l_extendedprice * 100) AS BIGINT) y,
                                 CAST(round(l_discount * 100) AS BIGINT) z
                          FROM lineitem),
            m AS (SELECT CAST(count(*) AS BIGINT) n,
                         CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
                         CAST(sum(z) AS BIGINT) sz,
                         CAST(sum(x * x) AS BIGINT) sxx,
                         sum(CAST(y AS HUGEINT) * y) syy,
                         CAST(sum(z * z) AS BIGINT) szz,
                         CAST(sum(x * y) AS BIGINT) sxy,
                         CAST(sum(x * z) AS BIGINT) sxz,
                         CAST(sum(y * z) AS BIGINT) syz
                  FROM base),
            c AS (SELECT n,
                         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                         sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                              (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                               CAST(sy AS DOUBLE) * sy)) r_xy,
                         (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz) /
                         sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                              (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)) r_xz,
                         (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz) /
                         sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                               CAST(sy AS DOUBLE) * sy) *
                              (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)) r_yz
                  FROM m)
            SELECT n, round(r_xy, 6) r_xy, round(r_xz, 6) r_xz, round(r_yz, 6) r_yz,
                   round((r_xy - r_xz * r_yz) /
                         sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)), 6)
                     r_xy_given_z
            FROM c""")
  )

  /** Ljung–Box portmanteau test on the hourly event-count series:
    * Q = n(n+2) Σ_k ρ_k²/(n−k) over lags 1..12, with each ρ_k formed
    * from the SAME exact integer components as q192's ACF (never the
    * rounded ACF output) and each addend snapped before the sum.
    */
  val q360LjungBox: QueryDef = QueryDef(
    "q360_ljung_box",
    (s, dir) => {
      val hourly = Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("x"))
      val grid = hourly.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
        .select(col("mn"), explode(sequence(col("mn"), col("mx"))).as("h"))
        .join(hourly, Seq("h"), "left")
        .select((col("h") - col("mn")).as("idx"), coalesce(col("x"), lit(0L)).as("x"))
        .localCheckpoint()
      val tot = grid.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sm"),
        sum(col("x") * col("x")).as("sxx"))
      val pairs = grid
        .withColumn("k", explode(expr("sequence(1L, 12L)")))
        .withColumn("bidx", col("idx") + col("k"))
        .join(grid.select(col("idx").as("bidx"), col("x").as("xb")), Seq("bidx"))
        .groupBy(col("k"))
        .agg(
          sum(col("x") * col("xb")).as("sxy"),
          sum(col("x")).as("sa"), sum(col("xb")).as("sb"))
      pairs.crossJoin(broadcast(tot))
        .select(col("k"), col("n"), snap({
          val rho = (col("n").cast("double") * col("n") * col("sxy") -
            col("n").cast("double") * col("sm") * (col("sa") + col("sb")) +
            (col("n") - col("k")).cast("double") * col("sm") * col("sm")) /
            (col("n").cast("double") *
              (col("n").cast("double") * col("sxx") - col("sm").cast("double") * col("sm")))
          rho * rho / (col("n") - col("k"))
        }).as("addend"))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_lags"), sum(col("addend")).as("sa"))
        .select(
          col("n").as("n_hours"), col("n_lags"),
          round(col("n").cast("double") * (col("n") + 2L) * col("sa"), 6).as("q_stat"))
    },
    Some("""WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hh FROM events),
            cnt AS (SELECT hh, CAST(count(*) AS BIGINT) x FROM h GROUP BY 1),
            b AS (SELECT min(hh) mn, max(hh) mx FROM cnt),
            grid AS (SELECT g.hh - g.mn AS idx, coalesce(c.x, 0) AS x
                     FROM (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM b) g
                     LEFT JOIN cnt c USING (hh)),
            tot AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sm,
                           CAST(sum(x * x) AS BIGINT) sxx FROM grid),
            pr AS (SELECT k.k, CAST(sum(a.x * b2.x) AS BIGINT) sxy,
                          CAST(sum(a.x) AS BIGINT) sa, CAST(sum(b2.x) AS BIGINT) sb
                   FROM range(1, 13) k(k)
                   CROSS JOIN grid a
                   JOIN grid b2 ON b2.idx = a.idx + k.k
                   GROUP BY 1),
            ad AS (SELECT n, floor(
                     ((CAST(n AS DOUBLE) * n * sxy - CAST(n AS DOUBLE) * sm * (sa + sb)
                       + CAST(n - k AS DOUBLE) * sm * sm) /
                      (CAST(n AS DOUBLE) *
                       (CAST(n AS DOUBLE) * sxx - CAST(sm AS DOUBLE) * sm))) *
                     ((CAST(n AS DOUBLE) * n * sxy - CAST(n AS DOUBLE) * sm * (sa + sb)
                       + CAST(n - k AS DOUBLE) * sm * sm) /
                      (CAST(n AS DOUBLE) *
                       (CAST(n AS DOUBLE) * sxx - CAST(sm AS DOUBLE) * sm))) /
                     (n - k) * 1073741824.0 + 0.5) / 1073741824.0 addend
                   FROM pr, tot)
            SELECT CAST(max(n) AS BIGINT) n_hours,
                   CAST(count(*) AS BIGINT) n_lags,
                   round(CAST(max(n) AS DOUBLE) * (max(n) + 2) * sum(addend), 6) q_stat
            FROM ad""")
  )

  /** OLS influence diagnostics (leverage + Cook's distance) for the
    * daily order-count trend line: residual NUMERATORS stay exact
    * integers (the q302 Durbin–Watson device), leverages form from
    * exact (t, Σt, Σt²), SSE sums snapped addends, and the top-5
    * influential days are picked by snapped Cook's D with an exact
    * day tie-break.
    */
  val q361CooksDistance: QueryDef = QueryDef(
    "q361_cooks_distance",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("y"))
      val spine = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("d0"), explode(sequence(col("d0"), col("d1"))).as("d"))
        .join(daily, Seq("d"), "left")
        .select(datediff(col("d"), col("d0")).cast("long").as("t"),
          coalesce(col("y"), lit(0L)).as("y"))
        .localCheckpoint()
      val m = spine.agg(
        count(lit(1)).as("n"), sum(col("t")).as("st"), sum(col("y")).as("sy"),
        sum(col("t") * col("t")).as("stt"), sum(col("t") * col("y")).as("sty"))
      val withR = spine.crossJoin(broadcast(m))
        .withColumn("rnum",
          (col("n") * col("stt") - col("st") * col("st")) * col("y") -
            (col("sy") * col("stt") - col("st") * col("sty")) -
            (col("n") * col("sty") - col("st") * col("sy")) * col("t"))
        .withColumn("den",
          (col("n") * col("stt") - col("st") * col("st")).cast("double"))
        .withColumn("e", col("rnum").cast("double") / col("den"))
        .withColumn("h",
          lit(1.0) / col("n") +
            ((col("t") * col("n") - col("st")) * (col("t") * col("n") - col("st")))
              .cast("double") / (col("n").cast("double") * col("den")))
      val sse = withR.select(col("n"), snap(col("e") * col("e")).as("e2"))
        .groupBy(col("n")).agg(sum(col("e2")).as("sse"))
        .select((col("sse") / (col("n") - 2L)).as("s2"))
        .limit(1) // n is the one scalar row count — provable 1-row bound
      withR.crossJoin(broadcast(sse))
        .select(
          col("t"),
          snap(col("e") * col("e") * col("h") /
            (lit(2.0) * col("s2") * (lit(1.0) - col("h")) * (lit(1.0) - col("h"))))
            .as("cooks_d"),
          col("h"), col("e"))
        .orderBy(col("cooks_d").desc, col("t"))
        .limit(5)
        .select(col("t").as("day_idx"),
          round(col("cooks_d"), 6).as("cooks_d"),
          round(col("h"), 6).as("leverage"),
          round(col("e"), 6).as("residual"))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) d,
                                  CAST(count(*) AS BIGINT) y
                           FROM orders GROUP BY 1),
            b AS (SELECT min(d) d0, max(d) d1 FROM daily),
            spine AS (SELECT CAST(date_diff('day', b.d0, CAST(g.dd AS DATE)) AS BIGINT) t,
                             coalesce(daily.y, 0) y
                      FROM b, (SELECT d0, unnest(generate_series(d0, d1,
                                               INTERVAL 1 DAY)) dd FROM b) g
                      LEFT JOIN daily ON daily.d = CAST(g.dd AS DATE)),
            m AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(t) AS BIGINT) st,
                         CAST(sum(y) AS BIGINT) sy, CAST(sum(t * t) AS BIGINT) stt,
                         CAST(sum(t * y) AS BIGINT) sty
                  FROM spine),
            r AS (SELECT t, n,
                         CAST((n * stt - st * st) * y - (sy * stt - st * sty) -
                              (n * sty - st * sy) * t AS DOUBLE) /
                           CAST(n * stt - st * st AS DOUBLE) e,
                         1.0 / n + CAST((t * n - st) * (t * n - st) AS DOUBLE) /
                           (CAST(n AS DOUBLE) * CAST(n * stt - st * st AS DOUBLE)) h
                  FROM spine, m),
            sse AS (SELECT sum(floor(e * e * 1073741824.0 + 0.5) / 1073741824.0) /
                           (max(n) - 2) s2
                    FROM r),
            cd AS (SELECT t,
                          floor(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) *
                                1073741824.0 + 0.5) / 1073741824.0 cooks_d,
                          h, e
                   FROM r, sse)
            SELECT t day_idx, round(cooks_d, 6) cooks_d,
                   round(h, 6) leverage, round(e, 6) residual
            FROM cd ORDER BY cooks_d DESC, t LIMIT 5""")
  )

  /** Containment near-dup ([[graft.operators.Dedup.containmentPairs]]):
    * the excerpt/quote/boilerplate-subset detector — C(A→B) = |A∩B|/|A|
    * ≥ 0.8 with the SMALL side as A, which symmetric Jaccard (q28)
    * structurally misses. Prefix filter explodes only the small side;
    * the big side is a linear inverted index. Oracle: the exact truth
    * via an inverted-index posting join (r12 — candidates are pairs
    * sharing ≥ 1 gram, lossless for containment ≥ 0.8 > 0, then
    * reoriented small-side-first; replaces the sf0.1-intractable
    * all-pairs θ-join).
    */
  val q362Containment: QueryDef = QueryDef(
    "q362_containment",
    (s, dir) =>
      graft.operators.Dedup.containmentPairs(Tables.documents(s, dir), n = 3,
        threshold = 0.8),
    Some("""WITH g AS (
              SELECT doc_id,
                     list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                    FOR i IN range(1, len(string_split(text, ' ')) - 1)]) AS gs
              FROM documents),
            s AS (SELECT doc_id, len(gs) AS sz FROM g WHERE len(gs) > 0),
            post AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE len(gs) > 0),
            cand AS (SELECT p1.doc_id AS u, p2.doc_id AS v,
                            CAST(count(*) AS BIGINT) AS inter
                     FROM post p1 JOIN post p2
                       ON p1.gram = p2.gram AND p1.doc_id < p2.doc_id
                     GROUP BY 1, 2),
            p AS (SELECT CASE WHEN su.sz < sv.sz
                               OR (su.sz = sv.sz AND c.u < c.v)
                              THEN c.u ELSE c.v END doc_a,
                         CASE WHEN su.sz < sv.sz
                               OR (su.sz = sv.sz AND c.u < c.v)
                              THEN c.v ELSE c.u END doc_b,
                         CAST(least(su.sz, sv.sz) AS INT) sz_a,
                         CAST(greatest(su.sz, sv.sz) AS INT) sz_b,
                         c.inter
                  FROM cand c JOIN s su ON su.doc_id = c.u
                              JOIN s sv ON sv.doc_id = c.v)
            SELECT doc_a, doc_b, sz_a, sz_b,
                   round(CAST(inter AS DOUBLE) / sz_a, 6) containment
            FROM p WHERE inter >= sz_a * 0.8 - 1e-9""")
  )

  /** Weighted quantiles (p10/p50/p90) of the lineitem price weighted by
    * quantity — "the price below which 10/50/90 % of UNITS ship".
    * Resolved on the value histogram's weight cumsum with the exact
    * integer inequality 10·cumw ≥ k·W — no sort, no float rank.
    */
  val q363WeightedQuantiles: QueryDef = QueryDef(
    "q363_weighted_quantiles",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val hist = Tables.lineitem(s, dir)
        .select(
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("w"))
        .groupBy(col("v")).agg(sum(col("w")).as("wv"))
        .withColumn("cumw", sum(col("wv")).over(
          W.orderBy(col("v")).rowsBetween(W.unboundedPreceding, 0)))
      val tot = hist.agg(sum(col("wv")).as("wtot"))
      hist.crossJoin(broadcast(tot))
        .withColumn("k", explode(expr("array(1L, 5L, 9L)")))
        .filter(col("cumw") * 10L >= col("k") * col("wtot"))
        .groupBy((col("k") * 10L).as("pct"))
        .agg(min(col("v")).as("price_cents"), max(col("wtot")).as("total_units"))
    },
    Some("""WITH hist AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) v,
                                 CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) wv
                          FROM lineitem GROUP BY 1),
            c AS (SELECT v, wv, CAST(sum(wv) OVER (ORDER BY v) AS BIGINT) cumw
                  FROM hist),
            t AS (SELECT CAST(sum(wv) AS BIGINT) wtot FROM hist),
            k AS (SELECT unnest([1, 5, 9]) k)
            SELECT CAST(k.k * 10 AS BIGINT) pct,
                   CAST(min(v) AS BIGINT) price_cents,
                   CAST(max(wtot) AS BIGINT) total_units
            FROM c, t, k WHERE cumw * 10 >= k.k * wtot
            GROUP BY 1""")
  )

  /** Grid-density clustering (DBSCAN-flavored): half-the-q349-cell
    * occupancy grid over the synthetic customer layout; cells with ≥ 5
    * points are DENSE, 8-neighbor-adjacent dense cells merge into
    * clusters via a driver-side union-find over the BOUNDED dense-cell
    * set (≤ 5000 cells by the density-floor construction — the repo's
    * bounded-model-state posture). Reports each cluster's cell count,
    * point count, and min cell id. Scale: density histogram is one
    * keyed agg; the union-find never touches points, only dense cells.
    */
  val q364GridDensity: QueryDef = QueryDef(
    "q364_grid_density",
    (s, dir) => {
      val cell = 250000L
      val cells = Tables.customer(s, dir)
        .select(
          expr(s"((c_custkey % 11) * 400000 + (c_custkey % 17) * 10000) div $cell")
            .cast("long").as("cx"),
          expr(s"((c_custkey % 7) * 300000 + (c_custkey % 13) * 10000) div $cell")
            .cast("long").as("cy"))
        .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("pts"))
      // data-driven density floor (max(2, n/5000)): the modular layout
      // spreads n points over ≤ ~150 cells, so minPts = 2 is non-empty
      // by pigeonhole at the smallest SF and the floor scales up with n
      val tot = cells.agg(sum(col("pts")).as("n_pts"))
      val dense = cells.crossJoin(broadcast(tot))
        .filter(col("pts") >= greatest(lit(2L), expr("n_pts div 5000")))
        .withColumn("cid", col("cx") * 1000L + col("cy"))
      // BOUNDED-MODEL-STATE posture (the Shapley/Markov-attribution
      // pattern): the density floor max(2, n/5000) caps the dense-cell
      // relation at ≤ 5000 rows at ANY scale factor, so the component
      // step is a driver-side union-find over ≤ 5000 cells — one job,
      // no per-round Spark overhead (star contraction here cost ~8 jobs
      // of scheduling on a ~150-node graph; the corpus-sized work is
      // still the single keyed density agg above).
      val denseRows = dense.select(col("cid"), col("cx"), col("cy"), col("pts")).collect()
      val cids = denseRows.map(_.getLong(0)).toSet
      val parent = scala.collection.mutable.Map(cids.toSeq.map(c => c -> c): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      for (row <- denseRows; dx <- -1L to 1L; dy <- -1L to 1L if dx != 0L || dy != 0L) {
        val nid = (row.getLong(1) + dx) * 1000L + row.getLong(2) + dy
        if (cids.contains(nid)) {
          val (ra, rb) = (find(row.getLong(0)), find(nid))
          // link toward the smaller root → representative = min cid
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
      }
      import s.implicits._
      val out = denseRows
        .groupBy(r => find(r.getLong(0)))
        .map { case (rep, rs) =>
          (rep, rs.size.toLong, rs.map(_.getLong(3)).sum, rs.map(_.getLong(0)).min)
        }
        .toSeq.sortBy(_._1)
      out.toDF("cluster_id", "n_cells", "n_points", "min_cell").orderBy(col("cluster_id"))
    },
    Some("""WITH RECURSIVE pts AS (
              SELECT ((c_custkey % 11) * 400000 + (c_custkey % 17) * 10000) // 250000 cx,
                     ((c_custkey % 7) * 300000 + (c_custkey % 13) * 10000) // 250000 cy
              FROM customer),
            cells AS (SELECT cx, cy, cx * 1000 + cy cid,
                             CAST(count(*) AS BIGINT) pts
                      FROM pts GROUP BY 1, 2),
            tot AS (SELECT CAST(sum(pts) AS BIGINT) n_pts FROM cells),
            dense AS (SELECT cx, cy, cid, pts FROM cells, tot
                      WHERE pts >= greatest(2, n_pts // 5000)),
            e0 AS (SELECT a.cid ca, b.cid cb
                   FROM dense a JOIN dense b
                     ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
                    AND a.cid < b.cid),
            edges AS (SELECT ca u, cb v FROM e0
                      UNION SELECT cb u, ca v FROM e0),
            reach AS (SELECT u AS cell, u AS label FROM edges
                      UNION
                      SELECT e.u AS cell, r.label
                      FROM edges e JOIN reach r ON r.cell = e.v),
            lab AS (SELECT cell, CAST(min(label) AS BIGINT) rep
                    FROM reach GROUP BY 1)
            SELECT coalesce(l.rep, d.cid) cluster_id,
                   CAST(count(*) AS BIGINT) n_cells,
                   CAST(sum(d.pts) AS BIGINT) n_points,
                   CAST(min(d.cid) AS BIGINT) min_cell
            FROM dense d LEFT JOIN lab l ON l.cell = d.cid
            GROUP BY 1 ORDER BY 1""")
  )

  /** Collated comparison semantics (Spark 4 `COLLATE UTF8_LCASE`):
    * case-insensitive GROUP BY via a collated key over a
    * deterministically mixed-case projection — collation-aware
    * hashing/equality in the engine, replayed by the oracle as
    * lower() normalization (provably the same partition for LCASE).
    */
  val q365Collation: QueryDef = QueryDef(
    "q365_collation",
    (s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("q365_part")
      s.sql("""SELECT collate(CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                                   ELSE lower(p_type) END, 'UTF8_LCASE') AS ptype,
                      CAST(count(*) AS BIGINT) AS n
               FROM q365_part
               GROUP BY 1""")
        // strip the collation from the output type (parquet/compare
        // should see a plain UTF8 string, not a collated one)
        .select(lower(col("ptype")).cast("string").as("ptype"), col("n"))
    },
    Some("""SELECT lower(p_type) ptype, CAST(count(*) AS BIGINT) n
            FROM part GROUP BY 1""")
  )

  /** IDENTIFIER() clause: injection-safe dynamic table/column names —
    * the templated-pipeline surface beside q350's value binds (names
    * bind at parse, values at analysis).
    */
  val q366Identifier: QueryDef = QueryDef(
    "q366_identifier",
    (s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("q366_supplier")
      s.sql(
        """SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(round(IDENTIFIER(:balcol) * 100) AS BIGINT)) AS BIGINT)
                    AS bal_cents
           FROM IDENTIFIER(:tab)""",
        Map("tab" -> "q366_supplier", "balcol" -> "s_acctbal"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) n,
                   CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) bal_cents
            FROM supplier""")
  )

  /** SQL scripting (Spark 4 BEGIN…END compound): a WHILE loop
    * accumulates a deterministic scalar in a session variable, then the
    * final statement parameterizes a query with it — procedural control
    * flow INSIDE the SQL surface. Oracle inlines the loop's closed
    * form (Σ 1..10 = 55).
    */
  val q367SqlScripting: QueryDef = QueryDef(
    "q367_sql_scripting",
    (s, dir) => {
      Tables.region(s, dir).createOrReplaceTempView("q367_region")
      s.conf.set("spark.sql.scripting.enabled", "true")
      s.sql("""BEGIN
                 DECLARE acc BIGINT DEFAULT 0;
                 DECLARE i BIGINT DEFAULT 0;
                 WHILE i < 10 DO
                   SET i = i + 1;
                   SET acc = acc + i;
                 END WHILE;
                 SELECT r_name, CAST(acc AS BIGINT) AS acc
                 FROM q367_region;
               END""")
    },
    Some("""SELECT r_name, CAST(55 AS BIGINT) acc FROM region""")
  )

  /** Bitemporal point query: lineitem re-read as a (valid-time ×
    * transaction-time) version table — valid [shipdate, receiptdate),
    * transaction = commitdate — answering "what price did we BELIEVE
    * (as of tx time T) was in effect AT valid time V": latest
    * committed version per part among those valid at V, deterministic
    * (tx, orderkey, linenumber) version order. One partitioned window
    * after a pushed-down validity filter.
    */
  val q368Bitemporal: QueryDef = QueryDef(
    "q368_bitemporal",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val vdate = lit("1995-06-15").cast("date")
      val tdate = lit("1995-06-01").cast("date")
      val versions = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(
          col("l_partkey").cast("long").as("part"),
          to_date(col("o_orderdate")).as("valid_from"),
          to_date(col("l_shipdate")).as("valid_to"),
          // committed a few days after order placement, one per line
          date_add(to_date(col("o_orderdate")), col("l_linenumber")).as("tx"),
          col("l_orderkey").cast("long").as("ok"),
          col("l_linenumber").cast("long").as("ln"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price"))
        .filter(col("valid_from") <= vdate && vdate < col("valid_to") &&
          col("tx") <= tdate)
      val picked = versions
        .withColumn("rn", row_number().over(
          W.partitionBy(col("part"))
            .orderBy(col("tx").desc, col("ok").desc, col("ln").desc)))
        .filter(col("rn") === 1)
      picked.agg(
        count(lit(1)).as("n_parts"),
        sum(col("price")).as("sum_price_cents"),
        min(col("part")).as("min_part"),
        max(col("part")).as("max_part"))
    },
    Some("""WITH v AS (SELECT CAST(l_partkey AS BIGINT) part,
                              CAST(o_orderdate AS DATE) valid_from,
                              CAST(l_shipdate AS DATE) valid_to,
                              CAST(o_orderdate AS DATE) + l_linenumber tx,
                              CAST(l_orderkey AS BIGINT) ok,
                              CAST(l_linenumber AS BIGINT) ln,
                              CAST(round(l_extendedprice * 100) AS BIGINT) price
                       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                       WHERE CAST(o_orderdate AS DATE) <= DATE '1995-06-15'
                         AND DATE '1995-06-15' < CAST(l_shipdate AS DATE)
                         AND CAST(o_orderdate AS DATE) + l_linenumber <= DATE '1995-06-01'),
            p AS (SELECT *, row_number() OVER (PARTITION BY part
                    ORDER BY tx DESC, ok DESC, ln DESC) rn FROM v)
            SELECT CAST(count(*) AS BIGINT) n_parts,
                   CAST(sum(price) AS BIGINT) sum_price_cents,
                   CAST(min(part) AS BIGINT) min_part,
                   CAST(max(part) AS BIGINT) max_part
            FROM p WHERE rn = 1""")
  )

  /** Flesch reading-ease per language: vowel-run syllable proxy via
    * regexp_extract_all (row-local, codegen'd), sentence floor of 1 for
    * the unpunctuated synthetic corpus; per-doc scores snapped before
    * the language average so the sum is exact binary arithmetic.
    */
  val q369Readability: QueryDef = QueryDef(
    "q369_readability",
    (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(
          col("lang"),
          size(split(col("text"), " ")).cast("long").as("words"),
          size(expr("regexp_extract_all(text, '[aeiou]+', 0)")).cast("long")
            .as("syllables"),
          greatest(lit(1L), size(split(col("text"), "\\.")).cast("long") - 1L)
            .as("sentences"))
        .select(col("lang"), snap(
          lit(206.835) -
            lit(1.015) * col("words").cast("double") / col("sentences") -
            lit(84.6) * col("syllables").cast("double") / col("words"))
          .as("score"))
      scored.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(sum(col("score")) / count(lit(1)), 6).as("avg_flesch"))
        .orderBy(col("lang"))
    },
    Some("""WITH sc AS (SELECT lang,
                               floor((206.835 -
                                      1.015 * CAST(len(string_split(text, ' ')) AS DOUBLE) /
                                        greatest(1, len(string_split(text, '.')) - 1) -
                                      84.6 * CAST(len(regexp_extract_all(text, '[aeiou]+'))
                                                  AS DOUBLE) /
                                        len(string_split(text, ' '))) *
                                     1073741824.0 + 0.5) / 1073741824.0 score
                        FROM documents)
            SELECT lang, CAST(count(*) AS BIGINT) n_docs,
                   round(sum(score) / count(*), 6) avg_flesch
            FROM sc GROUP BY 1 ORDER BY 1""")
  )

  /** Gumbel extreme-value fit on weekly block maxima of the daily
    * order count: method-of-moments β̂ = s√6/π, μ̂ = m − γβ̂ from exact
    * integer block-max moments (γ, π written as identical literals on
    * both engines — no transcendental evaluation crosses the compare).
    */
  val q370GumbelFit: QueryDef = QueryDef(
    "q370_gumbel_fit",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
      val maxima = daily
        .groupBy(expr("CAST(datediff(d, DATE '1992-01-01') AS BIGINT) div 7").as("w"))
        .agg(max(col("x")).as("mx"))
      maxima.agg(
        count(lit(1)).as("n_blocks"),
        sum(col("mx")).as("sm"),
        sum(col("mx") * col("mx")).as("sxx"))
        .select(
          col("n_blocks"), {
            val m = col("sm").cast("double") / col("n_blocks")
            val v = (col("n_blocks") * col("sxx") - col("sm") * col("sm")).cast("double") /
              (col("n_blocks").cast("double") * (col("n_blocks") - 1L))
            val beta = sqrt(v * lit(6.0)) / lit(3.14159265358979)
            struct(
              round(m, 6).as("block_mean"),
              round(beta, 6).as("beta_hat"),
              round(m - lit(0.5772156649) * beta, 6).as("mu_hat")).as("s")
          })
        .select(col("n_blocks"), col("s.block_mean"), col("s.beta_hat"),
          col("s.mu_hat"))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) d,
                                  CAST(count(*) AS BIGINT) x
                           FROM orders GROUP BY 1),
            mx AS (SELECT CAST(date_diff('day', DATE '1992-01-01', d) AS BIGINT) // 7 w,
                          CAST(max(x) AS BIGINT) mx
                   FROM daily GROUP BY 1),
            m AS (SELECT CAST(count(*) AS BIGINT) n_blocks, CAST(sum(mx) AS BIGINT) sm,
                         CAST(sum(mx * mx) AS BIGINT) sxx
                  FROM mx)
            SELECT n_blocks,
                   round(CAST(sm AS DOUBLE) / n_blocks, 6) block_mean,
                   round(sqrt(CAST(n_blocks * sxx - sm * sm AS DOUBLE) /
                              (CAST(n_blocks AS DOUBLE) * (n_blocks - 1)) * 6.0) /
                         3.14159265358979, 6) beta_hat,
                   round(CAST(sm AS DOUBLE) / n_blocks - 0.5772156649 *
                         (sqrt(CAST(n_blocks * sxx - sm * sm AS DOUBLE) /
                               (CAST(n_blocks AS DOUBLE) * (n_blocks - 1)) * 6.0) /
                          3.14159265358979), 6) mu_hat
            FROM m""")
  )

  /** Covariate-balance table (standardized mean differences): the
    * observational-study QA gate beside q312's matching — for each of
    * three covariates, SMD = (m̄_T − m̄_C)/√((v_T + v_C)/2) between the
    * md5 pseudo-arms, all moments exact integer cents, |SMD| < 0.1
    * flagged as balanced. One conditional-aggregate pass, melted to a
    * row per covariate.
    */
  val q371CovariateBalance: QueryDef = QueryDef(
    "q371_covariate_balance",
    (s, dir) => {
      val base = Tables.orders(s, dir)
        .select(
          (pmod(conv(substring(md5(concat(col("o_orderkey").cast("string"),
            lit(":bal"))), 1, 8), 16, 10).cast("long"), lit(2L)) === 0L).as("arm"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c1"),
          expr("CAST(datediff(to_date(o_orderdate), DATE '1992-01-01') AS BIGINT)")
            .as("c2"),
          length(col("o_orderpriority")).cast("long").as("c3"))
      val melted = base.select(col("arm"),
        explode(map(lit("c1_price"), col("c1"), lit("c2_day"), col("c2"),
          lit("c3_prio_len"), col("c3"))).as(Seq("covariate", "v")))
      melted.groupBy(col("covariate"))
        .agg(
          sum(when(col("arm"), 1L).otherwise(0L)).as("nt"),
          sum(when(!col("arm"), 1L).otherwise(0L)).as("nc"),
          sum(when(col("arm"), col("v")).otherwise(0L)).as("st"),
          sum(when(!col("arm"), col("v")).otherwise(0L)).as("sc"),
          sum(when(col("arm"), (col("v") * col("v")).cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("stt"),
          sum(when(!col("arm"), (col("v") * col("v")).cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("scc"))
        .select(col("covariate"), {
          val mt = col("st").cast("double") / col("nt")
          val mc = col("sc").cast("double") / col("nc")
          val vt = (col("nt").cast("double") * col("stt").cast("double") -
            col("st").cast("double") * col("st").cast("double")) /
            (col("nt").cast("double") * (col("nt") - 1L))
          val vc = (col("nc").cast("double") * col("scc").cast("double") -
            col("sc").cast("double") * col("sc").cast("double")) /
            (col("nc").cast("double") * (col("nc") - 1L))
          val smd = (mt - mc) / sqrt((vt + vc) / lit(2.0))
          struct(
            round(smd, 6).as("smd"),
            (abs(smd) < 0.1).as("balanced")).as("s")
        })
        .select(col("covariate"), col("s.smd"), col("s.balanced"))
        .orderBy(col("covariate"))
    },
    Some("""WITH base AS (SELECT CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
                                      || ':bal'), 1, 8)) AS BIGINT) % 2 = 0 arm,
                                 CAST(round(o_totalprice * 100) AS BIGINT) c1,
                                 CAST(date_diff('day', DATE '1992-01-01',
                                      CAST(o_orderdate AS DATE)) AS BIGINT) c2,
                                 CAST(len(o_orderpriority) AS BIGINT) c3
                          FROM orders),
            melted AS (SELECT arm, covariate, v FROM base
                       UNPIVOT (v FOR covariate IN (c1 AS c1_price, c2 AS c2_day,
                                                    c3 AS c3_prio_len))),
            m AS (SELECT covariate,
                         CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) nt,
                         CAST(sum(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) nc,
                         CAST(sum(CASE WHEN arm THEN v ELSE 0 END) AS BIGINT) st,
                         CAST(sum(CASE WHEN NOT arm THEN v ELSE 0 END) AS BIGINT) sc,
                         sum(CASE WHEN arm THEN CAST(v AS HUGEINT) * v ELSE 0 END) stt,
                         sum(CASE WHEN NOT arm THEN CAST(v AS HUGEINT) * v ELSE 0 END) scc
                  FROM melted GROUP BY 1),
            d AS (SELECT covariate,
                         (CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc) /
                         sqrt(((CAST(nt AS DOUBLE) * CAST(stt AS DOUBLE) -
                                CAST(st AS DOUBLE) * st) /
                               (CAST(nt AS DOUBLE) * (nt - 1)) +
                               (CAST(nc AS DOUBLE) * CAST(scc AS DOUBLE) -
                                CAST(sc AS DOUBLE) * sc) /
                               (CAST(nc AS DOUBLE) * (nc - 1))) / 2.0) smd
                  FROM m)
            SELECT covariate, round(smd, 6) smd, abs(smd) < 0.1 balanced
            FROM d ORDER BY 1""")
  )

  /** Streaming PSI drift gate
    * ([[graft.streaming.StreamingOps.runStreamPsi]]): the live
    * second-half band distribution vs the static first-half reference —
    * q338's monitor in production shape. The stream carries only a
    * 10-key banded count; PSI closes batch-side, so the oracle IS the
    * batch PSI (exact ≡-batch check through a real streaming query).
    */
  val q372StreamPsi: QueryDef = QueryDef(
    "q372_stream_psi",
    (s, dir) => graft.streaming.StreamingOps.runStreamPsi(s, dir),
    Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) d0 FROM events),
            b AS (SELECT date_diff('day', d0.d0, CAST(ts AS DATE)) < 15 is_a,
                         least(9, CAST(round(value * 100) AS BIGINT) // 5000) band
                  FROM events, d0),
            g AS (SELECT band,
                         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) ca,
                         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) cb
                  FROM b GROUP BY 1),
            t AS (SELECT CAST(sum(ca) AS BIGINT) na, CAST(sum(cb) AS BIGINT) nb FROM g),
            s AS (SELECT round(sum(floor(
                    ((CAST(ca + 1 AS DOUBLE) / (na + 10)) -
                     (CAST(cb + 1 AS DOUBLE) / (nb + 10))) *
                    ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) /
                       (CAST(cb + 1 AS DOUBLE) / (nb + 10))) * 1073741824.0 + 0.5) /
                    1073741824.0), 6) psi
                  FROM g, t)
            SELECT psi, CASE WHEN psi < 0.1 THEN 'stable'
                             WHEN psi < 0.25 THEN 'moderate'
                             ELSE 'shifted' END verdict
            FROM s""")
  )

  /** XYZ demand-variability classification (the ABC complement, q265):
    * per-part weekly-demand CV over the FIXED calendar week count —
    * zero weeks enter the moments through the denominator alone, so no
    * part × week grid is ever materialized. X: cv < 0.5, Y: < 1.0,
    * Z: ≥ 1.0; per-class part counts and quantity share.
    */
  val q373XyzClassification: QueryDef = QueryDef(
    "q373_xyz_classification",
    (s, dir) => {
      val weekly = Tables.lineitem(s, dir)
        .select(col("l_partkey").cast("long").as("part"),
          expr("CAST(datediff(to_date(l_shipdate), DATE '1992-01-01') AS BIGINT) div 7")
            .as("w"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
        .groupBy(col("part"), col("w")).agg(sum(col("q")).as("wq"))
      val bounds = Tables.lineitem(s, dir)
        .agg((expr("CAST(datediff(max(to_date(l_shipdate)), DATE '1992-01-01') AS BIGINT) div 7") -
          expr("CAST(datediff(min(to_date(l_shipdate)), DATE '1992-01-01') AS BIGINT) div 7") +
          1L).as("nw"))
      val perPart = weekly.groupBy(col("part"))
        .agg(sum(col("wq")).as("sq"), sum(col("wq") * col("wq")).as("sqq"))
        .crossJoin(broadcast(bounds))
        .select(col("part"), col("sq"), {
          val mean = col("sq").cast("double") / col("nw")
          val vr = (col("nw") * col("sqq") - col("sq") * col("sq")).cast("double") /
            (col("nw") * col("nw")).cast("double")
          val cv = sqrt(vr) / mean
          when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").as("xyz")
        })
      val tot = perPart.agg(sum(col("sq")).as("tq"))
      perPart.groupBy(col("xyz"))
        .agg(count(lit(1)).as("n_parts"), sum(col("sq")).as("qty"))
        .crossJoin(broadcast(tot))
        .select(col("xyz"), col("n_parts"),
          round(col("qty").cast("double") / col("tq"), 6).as("qty_share"))
        .orderBy(col("xyz"))
    },
    Some("""WITH weekly AS (SELECT CAST(l_partkey AS BIGINT) part,
                                   CAST(date_diff('day', DATE '1992-01-01',
                                        CAST(l_shipdate AS DATE)) AS BIGINT) // 7 w,
                                   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) wq
                            FROM lineitem GROUP BY 1, 2),
            bounds AS (SELECT CAST(date_diff('day', DATE '1992-01-01',
                              max(CAST(l_shipdate AS DATE))) AS BIGINT) // 7 -
                              CAST(date_diff('day', DATE '1992-01-01',
                              min(CAST(l_shipdate AS DATE))) AS BIGINT) // 7 + 1 nw
                       FROM lineitem),
            pp AS (SELECT part, CAST(sum(wq) AS BIGINT) sq,
                          CAST(sum(wq * wq) AS BIGINT) sqq
                   FROM weekly GROUP BY 1),
            cls AS (SELECT part, sq,
                           CASE WHEN sqrt(CAST(nw * sqq - sq * sq AS DOUBLE) /
                                          CAST(nw * nw AS DOUBLE)) /
                                     (CAST(sq AS DOUBLE) / nw) < 0.5 THEN 'X'
                                WHEN sqrt(CAST(nw * sqq - sq * sq AS DOUBLE) /
                                          CAST(nw * nw AS DOUBLE)) /
                                     (CAST(sq AS DOUBLE) / nw) < 1.0 THEN 'Y'
                                ELSE 'Z' END xyz
                    FROM pp, bounds),
            t AS (SELECT CAST(sum(sq) AS BIGINT) tq FROM cls)
            SELECT xyz, CAST(count(*) AS BIGINT) n_parts,
                   round(CAST(sum(sq) AS DOUBLE) / max(tq), 6) qty_share
            FROM cls, t GROUP BY 1 ORDER BY 1""")
  )

  /** Croston intermittent-demand forecast
    * ([[graft.operators.Timeseries.crostonForecast]]): dyadic-α
    * smoothing of demand sizes and inter-demand intervals for the
    * most-active part; the oracle replays the identical double fold as
    * a recursive CTE (the q324 Holt contract).
    */
  val q374Croston: QueryDef = QueryDef(
    "q374_croston",
    (s, dir) =>
      graft.operators.Timeseries.crostonForecast(Tables.lineitem(s, dir), s),
    Some("""WITH RECURSIVE daily AS (
              SELECT CAST(l_partkey AS BIGINT) part, CAST(l_shipdate AS DATE) d,
                     CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) q
              FROM lineitem GROUP BY 1, 2),
            pick AS (SELECT part FROM (SELECT part, count(*) nd FROM daily
                                       GROUP BY 1 ORDER BY nd DESC, part ASC LIMIT 1)),
            sr AS (SELECT d, q, row_number() OVER (ORDER BY d) - 1 idx,
                          CAST(date_diff('day', lag(d) OVER (ORDER BY d), d)
                               AS DOUBLE) gap
                   FROM daily JOIN pick USING (part)),
            nn AS (SELECT CAST(count(*) AS BIGINT) nd FROM sr),
            c(idx, z, p) AS (
              SELECT CAST(0 AS BIGINT), CAST(q AS DOUBLE),
                     (SELECT gap FROM sr WHERE idx = 1)
              FROM sr WHERE idx = 0
              UNION ALL
              SELECT sr.idx, 0.5 * c.z + 0.5 * sr.q, 0.5 * c.p + 0.5 * sr.gap
              FROM c JOIN sr ON sr.idx = c.idx + 1),
            lastrow AS (SELECT * FROM c ORDER BY idx DESC LIMIT 1)
            SELECT (SELECT CAST(part AS BIGINT) FROM pick) part,
                   nd n_demand_days, round(z, 6) z_hat, round(p, 6) p_hat,
                   round(z / p, 6) forecast_per_day
            FROM lastrow, nn""")
  )

  /** Subquery-predicate surface in one statement: correlated EXISTS,
    * NOT EXISTS, uncorrelated IN and NOT IN — the four quantified
    * forms Catalyst compiles to semi/anti joins (plan-level coverage
    * in q7/q8; this is the SQL-authoring surface).
    */
  val q375SubqueryPredicates: QueryDef = QueryDef(
    "q375_subquery_predicates",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("q375_customer")
      Tables.orders(s, dir).createOrReplaceTempView("q375_orders")
      Tables.nation(s, dir).createOrReplaceTempView("q375_nation")
      s.sql("""SELECT
                 CAST(count(*) AS BIGINT) AS n_cust,
                 CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM q375_orders o
                                            WHERE o.o_custkey = c.c_custkey
                                              AND o.o_orderstatus = 'F')
                               THEN 1 ELSE 0 END) AS BIGINT) AS with_f_order,
                 CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM q375_orders o
                                                WHERE o.o_custkey = c.c_custkey)
                               THEN 1 ELSE 0 END) AS BIGINT) AS no_orders,
                 CAST(sum(CASE WHEN c.c_nationkey IN
                                 (SELECT n_nationkey FROM q375_nation
                                  WHERE n_regionkey = 0)
                               THEN 1 ELSE 0 END) AS BIGINT) AS in_region0,
                 CAST(sum(CASE WHEN c.c_nationkey NOT IN
                                 (SELECT n_nationkey FROM q375_nation
                                  WHERE n_regionkey = 0)
                               THEN 1 ELSE 0 END) AS BIGINT) AS not_region0
               FROM q375_customer c""")
    },
    Some("""SELECT
              CAST(count(*) AS BIGINT) n_cust,
              CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders o
                                         WHERE o.o_custkey = c.c_custkey
                                           AND o.o_orderstatus = 'F')
                            THEN 1 ELSE 0 END) AS BIGINT) with_f_order,
              CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
                                             WHERE o.o_custkey = c.c_custkey)
                            THEN 1 ELSE 0 END) AS BIGINT) no_orders,
              CAST(sum(CASE WHEN c.c_nationkey IN
                              (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
                            THEN 1 ELSE 0 END) AS BIGINT) in_region0,
              CAST(sum(CASE WHEN c.c_nationkey NOT IN
                              (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
                            THEN 1 ELSE 0 END) AS BIGINT) not_region0
            FROM customer c""")
  )

  /** Aggregate FILTER clause — per-aggregate predicates without CASE
    * scaffolding (`count(*) FILTER (WHERE …)`), plus HAVING on the
    * grouped result. Oracle uses the CASE form so the check does not
    * lean on DuckDB's own FILTER.
    */
  val q376FilterClause: QueryDef = QueryDef(
    "q376_filter_clause",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("q376_lineitem")
      s.sql("""SELECT l_returnflag,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
                        AS n_discounted,
                      CAST(sum(CAST(round(l_quantity) AS BIGINT))
                           FILTER (WHERE l_tax > 0.04) AS BIGINT) AS qty_taxed
               FROM q376_lineitem
               GROUP BY 1
               HAVING count(*) > 100""")
    },
    Some("""SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) n,
                   CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
                     n_discounted,
                   CAST(sum(CASE WHEN l_tax > 0.04
                                 THEN CAST(round(l_quantity) AS BIGINT) END) AS BIGINT)
                     qty_taxed
            FROM lineitem GROUP BY 1 HAVING count(*) > 100""")
  )

  /** Wald–Wolfowitz runs test for randomness of the daily order-count
    * series around its median: exact doubled median from the value
    * histogram, ties dropped (the classical convention), runs counted
    * by one lag pass over the bounded day spine, z from exact integer
    * (n1, n2, R).
    */
  val q377RunsTest: QueryDef = QueryDef(
    "q377_runs_test",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
      val spine = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("d0"), explode(sequence(col("d0"), col("d1"))).as("d"))
        .join(daily, Seq("d"), "left")
        .select(datediff(col("d"), col("d0")).cast("long").as("t"),
          coalesce(col("x"), lit(0L)).as("x"))
        .localCheckpoint()
      val n = spine.agg(count(lit(1)).as("n"))
      // doubled median: smallest v with 2*cum >= n (lower median; exact)
      val hist = spine.groupBy(col("x")).agg(count(lit(1)).as("tc"))
        .withColumn("cum", sum(col("tc")).over(
          W.orderBy(col("x")).rowsBetween(W.unboundedPreceding, 0)))
      val med = hist.crossJoin(broadcast(n))
        .filter(col("cum") * 2L >= col("n"))
        .agg(min(col("x")).as("med"))
      val signed = spine.crossJoin(broadcast(med))
        .filter(col("x") =!= col("med"))
        .select(col("t"), (col("x") > col("med")).as("up"))
      val runs = signed
        .withColumn("prev", lag(col("up"), 1).over(W.orderBy(col("t"))))
        .agg(
          sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("up"), 1L).otherwise(0L)).as("n2"),
          (sum(when(col("prev").isNull || col("prev") =!= col("up"), 1L)
            .otherwise(0L))).as("r"))
      runs.select(col("n1"), col("n2"), col("r"), {
        val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
        val two = lit(2.0)
        val mu = lit(1.0) + two * n1 * n2 / (n1 + n2)
        val v = (two * n1 * n2 * (two * n1 * n2 - n1 - n2)) /
          ((n1 + n2) * (n1 + n2) * (n1 + n2 - lit(1.0)))
        // one-sided series (a sparse SF can put every non-tie above the
        // median): σ = 0, the test is undefined — NULL, not a throw
        when(col("n1") === 0L || col("n2") === 0L, lit(null).cast("double"))
          .otherwise(round((col("r").cast("double") - mu) / sqrt(v), 6))
          .as("z_runs")
      })
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) d,
                                  CAST(count(*) AS BIGINT) x
                           FROM orders GROUP BY 1),
            b AS (SELECT min(d) d0, max(d) d1 FROM daily),
            spine AS (SELECT CAST(date_diff('day', b.d0, CAST(g.dd AS DATE)) AS BIGINT) t,
                             coalesce(daily.x, 0) x
                      FROM b, (SELECT d0, unnest(generate_series(d0, d1,
                                               INTERVAL 1 DAY)) dd FROM b) g
                      LEFT JOIN daily ON daily.d = CAST(g.dd AS DATE)),
            n AS (SELECT CAST(count(*) AS BIGINT) n FROM spine),
            hist AS (SELECT x, CAST(count(*) AS BIGINT) tc FROM spine GROUP BY 1),
            hc AS (SELECT x, sum(tc) OVER (ORDER BY x) cum FROM hist),
            med AS (SELECT CAST(min(x) AS BIGINT) med FROM hc, n WHERE cum * 2 >= n),
            sg AS (SELECT t, x > med up FROM spine, med WHERE x <> med),
            lg AS (SELECT up, lag(up) OVER (ORDER BY t) prev FROM sg),
            agg AS (SELECT CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) n1,
                           CAST(sum(CASE WHEN NOT up THEN 1 ELSE 0 END) AS BIGINT) n2,
                           CAST(sum(CASE WHEN prev IS NULL OR prev <> up
                                         THEN 1 ELSE 0 END) AS BIGINT) r
                    FROM lg)
            SELECT n1, n2, r,
                   CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
                   round((CAST(r AS DOUBLE) -
                          (1.0 + 2.0 * CAST(n1 AS DOUBLE) * n2 / (n1 + n2))) /
                         sqrt((2.0 * CAST(n1 AS DOUBLE) * n2 *
                               (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)) /
                              (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1.0))),
                         6) END z_runs
            FROM agg""")
  )

  /** Chapman capture–recapture estimate of the active-user population
    * from two independent md5 "capture" samples — the corpus-size /
    * dedup-universe estimator: N̂ = (n1+1)(n2+1)/(m+1) − 1 with exact
    * capture and overlap counts; the true N sits beside it for the
    * sanity read.
    */
  val q378CaptureRecapture: QueryDef = QueryDef(
    "q378_capture_recapture",
    (s, dir) => {
      val users = Tables.events(s, dir).select(col("user_id")).distinct()
        .select(col("user_id"),
          (pmod(conv(substring(md5(concat(col("user_id").cast("string"), lit(":c1"))),
            1, 8), 16, 10).cast("long"), lit(10L)) < 3L).as("cap1"),
          (pmod(conv(substring(md5(concat(col("user_id").cast("string"), lit(":c2"))),
            1, 8), 16, 10).cast("long"), lit(10L)) < 3L).as("cap2"))
      users.agg(
        count(lit(1)).as("n_true"),
        sum(when(col("cap1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("cap2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("cap1") && col("cap2"), 1L).otherwise(0L)).as("m"))
        .select(col("n_true"), col("n1"), col("n2"), col("m"),
          round((col("n1") + 1L).cast("double") * (col("n2") + 1L) /
            (col("m") + 1L) - 1.0, 6).as("n_chapman"))
    },
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
            f AS (SELECT user_id,
                         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':c1'),
                              1, 8)) AS BIGINT) % 10 < 3 cap1,
                         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':c2'),
                              1, 8)) AS BIGINT) % 10 < 3 cap2
                  FROM u),
            a AS (SELECT CAST(count(*) AS BIGINT) n_true,
                         CAST(sum(CASE WHEN cap1 THEN 1 ELSE 0 END) AS BIGINT) n1,
                         CAST(sum(CASE WHEN cap2 THEN 1 ELSE 0 END) AS BIGINT) n2,
                         CAST(sum(CASE WHEN cap1 AND cap2 THEN 1 ELSE 0 END) AS BIGINT) m
                  FROM f)
            SELECT n_true, n1, n2, m,
                   round(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1.0, 6) n_chapman
            FROM a""")
  )

  val all: Seq[QueryDef] =
    Seq(q339KendallTau, q340KruskalWallis, q341MaxDrawdown, q342LDiversity,
      q343Modularity, q344SqlUdf, q345PipeSyntax, q346Friedman, q347Conformal,
      q348CochranArmitage, q349GeoKnn, q350ParamSql, q351SqlVariables,
      q352GroupByAll, q353McNemar, q354Pettitt, q355AsofNearest, q356LateralAlias,
      q357NegbinFit, q358CramersV, q359PartialCorr, q360LjungBox, q361CooksDistance,
      q362Containment, q363WeightedQuantiles, q364GridDensity, q365Collation,
      q366Identifier, q367SqlScripting, q368Bitemporal, q369Readability,
      q370GumbelFit, q371CovariateBalance, q372StreamPsi, q373XyzClassification,
      q374Croston, q375SubqueryPredicates, q376FilterClause, q377RunsTest,
      q378CaptureRecapture)
}
