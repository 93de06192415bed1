package graft.queries

import org.apache.spark.sql.functions.col

import graft.operators.Similarity
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-44 additions (q530+): the serving-side retrieval funnel
  * (IVF → exact rerank → result near-dup collapse → recall vs brute
  * truth — the q500 move applied to SEARCH instead of curation), a
  * seasonal-naive MASE forecast floor, a salting effectiveness audit,
  * 3-iteration Gaussian-mixture EM fully unrolled in shared SQL,
  * Bayesian A/B via log-space grid integration (no lgamma needed —
  * normalization is numeric), and key-space fragmentation. House
  * invariants as Round13-43; q530's collapse cosines use the SAME
  * ordered positional fold contract as the q46/q99 replay oracles.
  */
object Round44 {

  // ---------------------------------------------------------------- q530

  /** Retrieval funnel: the 10-probe panel through IVF top-5 (the q46
    * operator), near-identical results collapsed (a result is dropped
    * when a better-ranked sibling has cosine ≥ 0.98 — deterministic
    * any-dominator rule), and recall@5 against the exact brute-force
    * truth (the q30 operator). Per query: list size before/after
    * collapse and IVF recall — the one-sheet answer to "what does the
    * ANN stack actually serve". The oracle replays the ENTIRE funnel:
    * the 2-iteration Lloyd coarse quantizer, candidate join, rerank,
    * exact truth, and the collapse, all on the ordered positional-fold
    * contract.
    */
  val q530RetrievalFunnel: QueryDef = QueryDef(
    "q530_retrieval_funnel",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 10)
      Similarity.ivfTopK(emb, probes, k = 5).createOrReplaceTempView("r44_ivf")
      Similarity.bruteTopK(emb, probes, k = 5).createOrReplaceTempView("r44_brute")
      emb.createOrReplaceTempView("r44_embeddings")
      graft.functions.VectorCosine.register(s)
      s.sql(funnelSelect)
    },
    Some(s"""WITH ${AnnReplaySql.preambleSql},
            ${AnnReplaySql.ivfModelSql(2)},
            cand AS (SELECT pr.query_id, a.vec_id AS neighbor_id
                     FROM probes pr
                     JOIN assign a ON a.cell = pr.cell AND a.vec_id != pr.query_id),
            ivsc AS (
              SELECT cd.query_id, cd.neighbor_id,
                     round(${AnnReplaySql.dot64("q.v", "c.v")} /
                           (sqrt(${AnnReplaySql.dot64("q.v", "q.v")}) *
                            sqrt(${AnnReplaySql.dot64("c.v", "c.v")})), 6) AS cosine
              FROM cand cd
              JOIN pts q ON q.vec_id = cd.query_id
              JOIN pts c ON c.vec_id = cd.neighbor_id),
            iv AS (SELECT query_id, neighbor_id, rank FROM (
                     SELECT query_id, neighbor_id,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
                     FROM ivsc) WHERE rank <= 5),
            bsc AS (
              SELECT q.vec_id AS query_id, p.vec_id AS neighbor_id,
                     round(${AnnReplaySql.dot64("q.v", "p.v")} /
                           (sqrt(${AnnReplaySql.dot64("q.v", "q.v")}) *
                            sqrt(${AnnReplaySql.dot64("p.v", "p.v")})), 6) AS cosine
              FROM (SELECT vec_id, v FROM pts WHERE vec_id < 10) q
              JOIN pts p ON p.vec_id != q.vec_id),
            br AS (SELECT query_id, neighbor_id FROM (
                     SELECT query_id, neighbor_id,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
                     FROM bsc) WHERE rank <= 5),
            ${funnelTail(DuckDb)}""")
  )

  /** The funnel tail shared between engines MODULO the cosine fold:
    * built separately per dialect because the Spark side reads the
    * operator views while the oracle reads its replay CTEs.
    */
  private def funnelTail(d: Dialect): String = {
    val (pairCos, vecs) = d match {
      case _: Spark =>
        ("round(vector_cosine(ea.embedding, eb.embedding), 6)", d.t("embeddings"))
      case DuckDb =>
        (s"""round(${AnnReplaySql.dot64("ea.v", "eb.v")} /
              (sqrt(${AnnReplaySql.dot64("ea.v", "ea.v")}) *
               sqrt(${AnnReplaySql.dot64("eb.v", "eb.v")})), 6)""", "pts")
    }
    val vid = "vec_id"
    s"""dom AS (
          SELECT b.query_id, b.neighbor_id
          FROM iv a JOIN iv b ON b.query_id = a.query_id AND a.rank < b.rank
          JOIN $vecs ea ON ea.$vid = a.neighbor_id
          JOIN $vecs eb ON eb.$vid = b.neighbor_id
          WHERE $pairCos >= CAST(0.98 AS DOUBLE)
          GROUP BY 1, 2),
        kept AS (
          SELECT i.query_id, i.neighbor_id FROM iv i
          WHERE NOT EXISTS (SELECT 1 FROM dom d
            WHERE d.query_id = i.query_id AND d.neighbor_id = i.neighbor_id)),
        hit AS (
          SELECT i.query_id, CAST(count(*) AS BIGINT) AS h
          FROM iv i JOIN br ON br.query_id = i.query_id
            AND br.neighbor_id = i.neighbor_id
          GROUP BY 1)
        SELECT i.query_id,
               CAST(count(*) AS BIGINT) AS n_ivf,
               CAST(max(k.nk) AS BIGINT) AS n_kept,
               CAST(count(*) - max(k.nk) AS BIGINT) AS n_collapsed,
               ${snap("CAST(max(coalesce(h.h, 0)) AS DOUBLE) / 5")} AS recall_at_5
        FROM iv i
        JOIN (SELECT query_id, CAST(count(*) AS BIGINT) AS nk
              FROM kept GROUP BY 1) k ON k.query_id = i.query_id
        LEFT JOIN hit h ON h.query_id = i.query_id
        GROUP BY i.query_id
        ORDER BY i.query_id"""
  }

  private def funnelSelect: String =
    s"""WITH iv AS (SELECT query_id, neighbor_id, rank FROM r44_ivf),
        br AS (SELECT query_id, neighbor_id FROM r44_brute),
        ${funnelTail(Spark("r44_"))}"""

  // ---------------------------------------------------------------- q531

  /** Seasonal-naive MASE: over each type's zero-filled hourly series,
    * the MAE of the lag-1 naive and lag-24 seasonal-naive forecasts on
    * the common support t ≥ 24 (exact integer absolute errors), and
    * their ratio — below 1 means daily seasonality is real signal any
    * forecast must beat, the floor q261's backtests stand on.
    */
  val q531SeasonalNaiveMase: QueryDef =
    QueryDef.sql("q531_seasonal_naive_mase", "r44_", "events")(maseSql)

  private def maseSql(d: Dialect): String = {
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
        lags AS (
          SELECT event_type, idx, x,
                 lag(x, 1) OVER (PARTITION BY event_type ORDER BY idx) AS x1,
                 lag(x, 24) OVER (PARTITION BY event_type ORDER BY idx) AS x24
          FROM s),
        er AS (SELECT event_type,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(abs(x - x1)) AS BIGINT) AS e1,
                      CAST(sum(abs(x - x24)) AS BIGINT) AS e24
               FROM lags WHERE x24 IS NOT NULL
               GROUP BY 1)
        SELECT event_type, n AS n_hours_scored,
               ${snap("CAST(e1 AS DOUBLE) / n")} AS mae_naive1,
               ${snap("CAST(e24 AS DOUBLE) / n")} AS mae_seasonal24,
               ${snap("CAST(e24 AS DOUBLE) / e1")} AS mase_24_over_1
        FROM er
        ORDER BY event_type"""
  }

  // ---------------------------------------------------------------- q532

  /** Salting effectiveness: the max-partition share and max/mean
    * imbalance of hashing user_id into 32 shuffle partitions, plain vs
    * salted with 8 sub-keys (event_id % 8) — the number that says
    * whether q43/q104's salting pattern is actually needed for this key
    * distribution, measured the way AQE sees it.
    */
  val q532SaltingEffect: QueryDef =
    QueryDef.sql("q532_salting_effect", "r44_", "events")(saltingSql)

  private def saltingSql(d: Dialect): String = {
    val tbl = d.t("events")
    val strat = d.values("('plain'), ('salted8')", "t(strategy)")
    s"""WITH e AS (
          SELECT ${md5i(s"'p:' || CAST(user_id AS ${d.str})", d)} % 32 AS pp,
                 ${md5i(s"'p:' || CAST(user_id AS ${d.str}) || ':' || CAST(event_id % 8 AS ${d.str})", d)} % 32 AS ps
          FROM $tbl),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        pc AS (SELECT pp AS part, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
        sc AS (SELECT ps AS part, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
        strat AS ($strat),
        m AS (SELECT 'plain' AS strategy,
                     CAST(count(*) AS BIGINT) AS parts_used,
                     CAST(max(c) AS BIGINT) AS mx FROM pc
              UNION ALL
              SELECT 'salted8', CAST(count(*) AS BIGINT), CAST(max(c) AS BIGINT) FROM sc)
        SELECT s.strategy, m.parts_used,
               ${snap("CAST(m.mx AS DOUBLE) / nn.n")} AS max_part_share,
               ${snap("CAST(m.mx AS DOUBLE) * 32 / nn.n")} AS imbalance_vs_ideal
        FROM strat s JOIN m ON m.strategy = s.strategy CROSS JOIN nn
        ORDER BY s.strategy"""
  }

  // ---------------------------------------------------------------- q533

  /** Two-component Gaussian-mixture EM on value/100, THREE iterations
    * fully unrolled in the shared SQL text (no driver loop, no
    * recursion): quartile-seeded means, pooled-variance start, each
    * iteration a responsibilities CTE (the 1/√(2πσ²) constant kept —
    * weights need the correct likelihood ratio) feeding 2^20-quantized
    * weighted sufficient statistics. The distributed-EM workload every
    * Spark ML intro promises, as one deterministic query.
    */
  val q533EmGaussian2: QueryDef = QueryDef.sql("q533_em_gaussian2", "r44_", "events")(emSql)

  private def emSql(d: Dialect): String = {
    val tbl = d.t("events")
    def phi(mu: String, s2: String): String =
      s"exp(-(z - $mu) * (z - $mu) / (CAST(2 AS DOUBLE) * $s2)) / sqrt($s2)"
    def iter(i: Int, prev: String): String = {
      val r = s"resp$i"
      val p = s"par$i"
      s"""$r AS (
            SELECT z.z,
                   (pp.w1 * ${phi("pp.m1", "pp.v1")}) /
                   (pp.w1 * ${phi("pp.m1", "pp.v1")} +
                    (CAST(1 AS DOUBLE) - pp.w1) * ${phi("pp.m2", "pp.v2")}) AS r1
            FROM z CROSS JOIN $prev pp),
          ${p}s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(${qi("r1")}) AS BIGINT) AS sr1,
                   CAST(sum(${qi("r1 * z")}) AS BIGINT) AS sx1,
                   CAST(sum(${qi("r1 * z * z")}) AS BIGINT) AS sxx1,
                   CAST(sum(${qi("(CAST(1 AS DOUBLE) - r1) * z")}) AS BIGINT) AS sx2,
                   CAST(sum(${qi("(CAST(1 AS DOUBLE) - r1) * z * z")}) AS BIGINT) AS sxx2
            FROM $r),
          $p AS (
            SELECT CAST(sr1 AS DOUBLE) / 1048576.0 / n AS w1,
                   CAST(sx1 AS DOUBLE) / sr1 AS m1,
                   greatest(CAST(0.0001 AS DOUBLE),
                     CAST(sxx1 AS DOUBLE) / sr1
                       - (CAST(sx1 AS DOUBLE) / sr1) * (CAST(sx1 AS DOUBLE) / sr1)) AS v1,
                   CAST(sx2 AS DOUBLE) / (CAST(n AS BIGINT) * 1048576 - sr1) AS m2,
                   greatest(CAST(0.0001 AS DOUBLE),
                     CAST(sxx2 AS DOUBLE) / (CAST(n AS BIGINT) * 1048576 - sr1)
                       - (CAST(sx2 AS DOUBLE) / (CAST(n AS BIGINT) * 1048576 - sr1)) * (CAST(sx2 AS DOUBLE) / (CAST(n AS BIGINT) * 1048576 - sr1))) AS v2
            FROM ${p}s)"""
    }
    s"""WITH z AS (SELECT value / CAST(100 AS DOUBLE) AS z FROM $tbl),
        n0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(${qi("z")}) AS BIGINT) AS s1,
                      CAST(sum(${qi("z * z")}) AS BIGINT) AS s2
               FROM z),
        dv AS (SELECT z AS x, CAST(count(*) AS BIGINT) AS c FROM z GROUP BY 1),
        cum AS (SELECT x, CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cle FROM dv),
        seed AS (
          SELECT (SELECT min(cum.x) FROM cum CROSS JOIN n0
                  WHERE cum.cle >= (n0.n + 3) ${d.idiv} 4) AS q25,
                 (SELECT min(cum.x) FROM cum CROSS JOIN n0
                  WHERE cum.cle >= (3 * n0.n + 3) ${d.idiv} 4) AS q75),
        par0 AS (
          SELECT CAST(0.5 AS DOUBLE) AS w1,
                 s.q25 AS m1,
                 greatest(CAST(0.0001 AS DOUBLE),
                   CAST(n0.s2 AS DOUBLE) / 1048576.0 / n0.n
                     - (CAST(n0.s1 AS DOUBLE) / 1048576.0 / n0.n) * (CAST(n0.s1 AS DOUBLE) / 1048576.0 / n0.n)) AS v1,
                 s.q75 AS m2,
                 greatest(CAST(0.0001 AS DOUBLE),
                   CAST(n0.s2 AS DOUBLE) / 1048576.0 / n0.n
                     - (CAST(n0.s1 AS DOUBLE) / 1048576.0 / n0.n) * (CAST(n0.s1 AS DOUBLE) / 1048576.0 / n0.n)) AS v2
          FROM seed s CROSS JOIN n0),
        ${iter(1, "par0")},
        ${iter(2, "par1")},
        ${iter(3, "par2")}
        SELECT CAST(3 AS INT) AS n_iters,
               ${snap("w1")} AS weight_1,
               ${snap("m1 * CAST(100 AS DOUBLE)")} AS mean_1,
               ${snap("sqrt(v1) * CAST(100 AS DOUBLE)")} AS sd_1,
               ${snap("m2 * CAST(100 AS DOUBLE)")} AS mean_2,
               ${snap("sqrt(v2) * CAST(100 AS DOUBLE)")} AS sd_2
        FROM par3"""
  }

  // ---------------------------------------------------------------- q534

  /** Bayesian A/B on purchase share: md5 user halves, Beta(1+x, 1+n−x)
    * posteriors evaluated in LOG space on a 511-point grid with
    * max-subtracted exponentiation — numeric normalization instead of
    * lgamma, which neither engine shares — and P(A > B) by the grid
    * prefix rule with a half-cell tie term. Every grid sum quantizes
    * before reduction.
    */
  val q534BayesAb: QueryDef = QueryDef.sql("q534_bayes_ab", "r44_", "events")(bayesAbSql)

  private def bayesAbSql(d: Dialect): String = {
    val tbl = d.t("events")
    val grid = s"SELECT ${d.closedRange(1, 511)} AS i"
    s"""WITH e AS (
          SELECT ${md5i(s"'arm:' || CAST(user_id AS ${d.str})", d)} % 2 AS arm,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
          FROM $tbl),
        st AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(conv) AS BIGINT) AS x
               FROM e GROUP BY 1),
        t AS (SELECT CAST(max(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS na,
                     CAST(max(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS xa,
                     CAST(max(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS nb,
                     CAST(max(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS xb
              FROM st),
        g AS ($grid),
        lt AS (SELECT g.i, CAST(g.i AS DOUBLE) / 512 AS p,
                      t.xa * ln(CAST(g.i AS DOUBLE) / 512)
                        + (t.na - t.xa) * ln(CAST(1 AS DOUBLE) - CAST(g.i AS DOUBLE) / 512) AS ta,
                      t.xb * ln(CAST(g.i AS DOUBLE) / 512)
                        + (t.nb - t.xb) * ln(CAST(1 AS DOUBLE) - CAST(g.i AS DOUBLE) / 512) AS tb
               FROM g CROSS JOIN t),
        mx AS (SELECT max(ta) AS ma, max(tb) AS mb FROM lt),
        w AS (SELECT lt.i, ${qi("exp(lt.ta - mx.ma)")} AS wa,
                     ${qi("exp(lt.tb - mx.mb)")} AS wb
              FROM lt CROSS JOIN mx),
        cw AS (SELECT i, wa, wb,
                      CAST(coalesce(sum(wb) OVER (ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
               FROM w),
        zz AS (SELECT CAST(sum(wa) AS BIGINT) AS za, CAST(sum(wb) AS BIGINT) AS zb,
                      CAST(sum(${qi("(CAST(wa AS DOUBLE) / 1048576.0) * (CAST(cb AS DOUBLE) / 1048576.0 + CAST(0.5 AS DOUBLE) * wb / 1048576.0)")}) AS BIGINT) AS num
               FROM cw)
        SELECT t.na AS n_a, t.xa AS conv_a, t.nb AS n_b, t.xb AS conv_b,
               ${snap("CAST(t.xa + 1 AS DOUBLE) / (t.na + 2)")} AS post_mean_a,
               ${snap("CAST(t.xb + 1 AS DOUBLE) / (t.nb + 2)")} AS post_mean_b,
               ${snap("(CAST(z.num AS DOUBLE) / 1048576.0) / ((CAST(z.za AS DOUBLE) / 1048576.0) * (CAST(z.zb AS DOUBLE) / 1048576.0))")}
                 AS p_a_gt_b
        FROM t CROSS JOIN zz z"""
  }

  // ---------------------------------------------------------------- q535

  /** Key-space fragmentation of o_orderkey: fill factor over the span,
    * run/gap structure from rank-adjacency (bucket-offset ranks + a
    * rank+1 EQUI-join — no global window), longest consecutive run via
    * the key − rank islands trick, and the largest hole. The "how
    * fragmented is this identifier space" sheet a compaction or
    * allocator decision starts from.
    */
  val q535KeyFragmentation: QueryDef =
    QueryDef.sql("q535_key_fragmentation", "r44_", "orders")(fragmentationSql)

  private def fragmentationSql(d: Dialect): String = {
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
        gaps AS (SELECT b2.key - a.key - 1 AS gap
                 FROM rk a JOIN rk b2 ON b2.rnk = a.rnk + 1),
        runs AS (SELECT key - rnk AS grp, CAST(count(*) AS BIGINT) AS len
                 FROM rk GROUP BY 1)
        SELECT b.n AS n_keys,
               CAST(b.mx - b.mn + 1 AS BIGINT) AS span,
               ${snap("CAST(b.n AS DOUBLE) / (b.mx - b.mn + 1)")} AS fill_factor,
               CAST((SELECT count(*) FROM runs) AS BIGINT) AS n_runs,
               CAST((SELECT max(len) FROM runs) AS BIGINT) AS longest_run,
               CAST((SELECT coalesce(sum(CASE WHEN gap > 0 THEN 1 END), 0) FROM gaps) AS BIGINT)
                 AS n_gaps,
               CAST((SELECT coalesce(max(gap), 0) FROM gaps) AS BIGINT) AS largest_gap
        FROM b"""
  }

  val all: Seq[QueryDef] = Seq(
    q530RetrievalFunnel, q531SeasonalNaiveMase, q532SaltingEffect,
    q533EmGaussian2, q534BayesAb, q535KeyFragmentation)
}
