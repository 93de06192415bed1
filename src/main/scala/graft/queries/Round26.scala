package graft.queries

import graft.queries.SqlFragments._

/** Round-26 additions (q469+): privacy & representation health —
  * t-closeness (the third privacy audit next to k-anonymity q210 and
  * l-diversity q342: group-conditional sensitive-attribute distance),
  * linear CKA alignment between the full embeddings and their int8
  * round-trip (Kornblith et al. 2019 — "did quantization move the
  * geometry"), and int8 retrieval recall@5 (the operational answer to
  * the same question). House invariants as Round13-25: per-term
  * integer-grid quantization under every fold, snapped dyadic outputs,
  * corpus work = scans + keyed joins.
  */
object Round26 {

  // ---------------------------------------------------------------- q469

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007): for each
    * quasi-identifier group (customer nation) the distance between its
    * sensitive-attribute distribution (market segment) and the global
    * one — for an unordered categorical the EMD reduces to total
    * variation distance ½Σ|p_g − p|. Groups with t above the 0.15
    * release threshold are flagged. Completes the privacy triplet:
    * k-anonymity (q210) bounds group SIZE, l-diversity (q342) bounds
    * sensitive CARDINALITY, t-closeness bounds the sensitive
    * DISTRIBUTION. Two keyed aggs over the exact count matrix; TVD is a
    * 5-term fold of snapped ratios — exact dyadic.
    */
  val q469TCloseness: QueryDef = QueryDef.sql("q469_t_closeness", "r26_", "customer")(tClosenessSql)

  private def tClosenessSql(d: Dialect): String = {
    val tbl = d.t("customer")
    s"""WITH cell AS (
          SELECT c_nationkey nk, c_mktsegment seg, CAST(count(*) AS BIGINT) AS n
          FROM $tbl GROUP BY 1, 2),
        grp AS (SELECT nk, CAST(sum(n) AS BIGINT) AS gn FROM cell GROUP BY 1),
        seg AS (SELECT seg, CAST(sum(n) AS BIGINT) AS sn FROM cell GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cell),
        dev AS (
          SELECT g.nk, s.seg,
                 abs(${snap("CAST(coalesce(c.n, 0) AS DOUBLE) / g.gn")}
                     - ${snap("CAST(s.sn AS DOUBLE) / t.t")}) AS d
          FROM grp g CROSS JOIN seg s
          LEFT JOIN cell c ON c.nk = g.nk AND c.seg = s.seg, tot t),
        tv AS (
          SELECT nk, ${snap("sum(d) / 2.0")} AS tcloseness, max(d) AS max_dev
          FROM dev GROUP BY 1)
        SELECT CAST(tv.nk AS BIGINT) AS nationkey, grp.gn AS group_size,
               tv.tcloseness, tv.max_dev,
               CAST(CASE WHEN tv.tcloseness > 0.15 THEN 1 ELSE 0 END AS BIGINT)
                 AS flagged
        FROM tv JOIN grp ON grp.nk = tv.nk
        ORDER BY 1"""
  }

  // ---------------------------------------------------------------- q470

  /** Linear CKA between the full embedding matrix X and its int8
    * ROUND-TRIP Y (per-dim min–max quantization to 0..255 and back):
    * CKA = ‖X̄ᵀȲ‖²_F / (‖X̄ᵀX̄‖_F·‖ȲᵀȲ‖_F) over column-centered
    * matrices — "how much of the representation geometry the int8 index
    * keeps", the planning number before shipping a quantized ANN tier.
    * The three Gram matrices are 64×64 keyed sums of per-row products —
    * n·d² work distributed as one explode + equi-join + agg, with every
    * product quantized onto the 2²⁰ grid so the folds are exact BIGINT.
    * The Frobenius folds then run over 4096-row bounded relations.
    */
  val q470CkaAlignment: QueryDef = QueryDef.sql("q470_cka_alignment", "r26_", "embeddings")(ckaSql)

  private def ckaSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val e = d.embeddingCells(tbl, "vec_id", 1)
    s"""WITH e AS ($e),
        rng AS (
          SELECT dim, min(v) AS lo, max(v) AS hi FROM e GROUP BY 1),
        y AS (
          SELECT e.vec_id, e.dim, e.v,
                 CASE WHEN r.hi = r.lo THEN r.lo
                      ELSE r.lo + round((e.v - r.lo) / (r.hi - r.lo) * 255.0)
                           * ${snap("(r.hi - r.lo) / 255.0")}
                 END AS w
          FROM e JOIN rng r ON r.dim = e.dim),
        n AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM e),
        mu AS (
          SELECT dim,
                 ${snap(s"CAST(sum(${qi("v")}) AS DOUBLE) / 1048576.0 / count(*)")} AS mv,
                 ${snap(s"CAST(sum(${qi("w")}) AS DOUBLE) / 1048576.0 / count(*)")} AS mw
          FROM y GROUP BY 1),
        c AS (
          SELECT y.vec_id, y.dim,
                 ${snap("y.v - mu.mv")} AS cv,
                 ${snap("y.w - mu.mw")} AS cw
          FROM y JOIN mu ON mu.dim = y.dim),
        gxy AS (
          SELECT a.dim AS di, b.dim AS dj,
                 CAST(sum(${qi("a.cv * b.cw")}) AS DOUBLE) / 1048576.0 AS g
          FROM c a JOIN c b ON b.vec_id = a.vec_id
          GROUP BY 1, 2),
        gxx AS (
          SELECT a.dim AS di, b.dim AS dj,
                 CAST(sum(${qi("a.cv * b.cv")}) AS DOUBLE) / 1048576.0 AS g
          FROM c a JOIN c b ON b.vec_id = a.vec_id
          GROUP BY 1, 2),
        gyy AS (
          SELECT a.dim AS di, b.dim AS dj,
                 CAST(sum(${qi("a.cw * b.cw")}) AS DOUBLE) / 1048576.0 AS g
          FROM c a JOIN c b ON b.vec_id = a.vec_id
          GROUP BY 1, 2),
        f AS (
          SELECT (SELECT CAST(sum(${qi("g * g")}) AS DOUBLE) / 1048576.0 FROM gxy)
                   AS fxy2,
                 (SELECT CAST(sum(${qi("g * g")}) AS DOUBLE) / 1048576.0 FROM gxx)
                   AS fxx2,
                 (SELECT CAST(sum(${qi("g * g")}) AS DOUBLE) / 1048576.0 FROM gyy)
                   AS fyy2)
        SELECT max(n.n) AS n_vectors,
               ${snap("max(f.fxy2) / (sqrt(max(f.fxx2)) * sqrt(max(f.fyy2)))")} AS cka,
               ${snap("sqrt(max(f.fxx2))")} AS fro_xx,
               ${snap("sqrt(max(f.fyy2))")} AS fro_yy
        FROM f, n"""
  }

  // ---------------------------------------------------------------- q471

  /** Int8 retrieval recall@5: exact-cosine top-5 under the FULL
    * embeddings vs top-5 under the int8 round-trip (q470's per-dim
    * min–max grid), for the q46 probe set (vec_id < 10). The measured
    * counterpart to q470's CKA: geometry drift is interesting, RANK
    * drift is what retrieval ships. Per-pair cosines fold as
    * 2²⁰-quantized BIGINT sums over an explode + broadcast-probe join;
    * both rankings use the (cosine DESC, neighbor ASC) house tie-break.
    */
  val q471Int8Recall: QueryDef =
    QueryDef.sql("q471_int8_recall", "r26_", "embeddings")(int8RecallSql)

  private def int8RecallSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val e = d.embeddingCells(tbl, "vec_id", 1)
    // top-5 by the cosine of column `vcol` over vector relation `rel`
    def top5(rel: String, vcol: String, out: String): String =
      s"""dot_$out AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(sum(${qi(s"q.$vcol * c.$vcol")}) AS DOUBLE) AS dt,
                   CAST(sum(${qi(s"q.$vcol * q.$vcol")}) AS DOUBLE) AS qq,
                   CAST(sum(${qi(s"c.$vcol * c.$vcol")}) AS DOUBLE) AS cc
            FROM $rel q JOIN $rel c
              ON c.dim = q.dim AND c.vec_id != q.vec_id
            WHERE q.vec_id < 10
            GROUP BY 1, 2),
          $out AS (
            SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY ${snap("dt / sqrt(qq * cc)")} DESC, neighbor_id)
                       AS rn
              FROM dot_$out) r
            WHERE rn <= 5)"""
    s"""WITH e AS ($e),
        rng AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM e GROUP BY 1),
        y AS (
          SELECT e.vec_id, e.dim, e.v,
                 CASE WHEN r.hi = r.lo THEN r.lo
                      ELSE r.lo + round((e.v - r.lo) / (r.hi - r.lo) * 255.0)
                           * ${snap("(r.hi - r.lo) / 255.0")}
                 END AS w
          FROM e JOIN rng r ON r.dim = e.dim),
        ${top5("y", "v", "t_full")},
        ${top5("y", "w", "t_int8")},
        rec AS (
          SELECT f.query_id,
                 CAST(count(i.neighbor_id) AS BIGINT) AS n_hit
          FROM t_full f
          LEFT JOIN t_int8 i
            ON i.query_id = f.query_id AND i.neighbor_id = f.neighbor_id
          GROUP BY 1)
        SELECT CAST(query_id AS BIGINT) AS query_id,
               n_hit,
               ${snap("CAST(n_hit AS DOUBLE) / 5.0")} AS recall5
        FROM rec
        ORDER BY 1"""
  }

  val all: Seq[QueryDef] =
    Seq(q469TCloseness, q470CkaAlignment, q471Int8Recall)
}
