package graft.queries

import graft.queries.SqlFragments._

/** Round-20 additions (q441+): embedding-quality and transfer audits —
  * Matryoshka truncation agreement (Kusupati et al. 2022: do the first
  * 16 dims route like all 64?), a silhouette-lite cluster-quality
  * score, the random-pair cosine histogram (the anisotropy
  * distribution behind q422's mean), Spearman rank correlation between
  * per-source corpus statistics, and source-holdout bigram-LM transfer
  * (how out-of-distribution each source is for a model trained on the
  * others). House invariants as Round13-19: per-row floats quantize to
  * 2²⁰ integer micro-units and ride exact BIGINT sums; final ratios
  * snap to the dyadic 2⁻³⁰ grid.
  */
object Round20 {

  /** (vec_id, label, dim, v) exploded embeddings; Spark dim is 0-based,
    * DuckDB 1-based — dims only join within one engine, and the
    * "first 16 dims" predicate adjusts per dialect.
    */
  private def eCte(tbl: String, d: Dialect): String = d match {
    case _: Spark =>
      s"""SELECT vec_id, label, pos AS dim, CAST(col AS DOUBLE) AS v
          FROM (SELECT vec_id, label,
                       posexplode(transform(embedding, x -> CAST(x AS DOUBLE)))
                FROM $tbl)"""
    case DuckDb =>
      s"""SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM $tbl"""

  }
  /** Per-label centroids with exact quantized sums (Round15 recipe). */
  private def centCte: String =
    s"""cent AS (
          SELECT label, dim,
                 ${snap(s"CAST(sum(${qi("v")}) AS DOUBLE) / (1048576.0 * count(*))")} AS m
          FROM e
          GROUP BY 1, 2)"""

  // ---------------------------------------------------------------- q441

  /** Matryoshka truncation audit (Kusupati et al. 2022): assign every
    * vector to its nearest label centroid by snapped cosine twice —
    * once over all 64 dims, once over the FIRST 16 — and report per
    * label how often the truncated routing agrees with the full one.
    * The production question behind shipping truncated embeddings for
    * cheap first-stage retrieval. Centroids broadcast; the candidate
    * fan is #vectors×#labels, scan-side.
    */
  val q441MatryoshkaAudit: QueryDef =
    QueryDef.sql("q441_matryoshka_audit", "r20_", "embeddings")(matryoshkaSql)

  private def matryoshkaSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val low16 = d match {
      case _: Spark => "e.dim < 16"
      case DuckDb => "e.dim <= 16"
    }
    def best(dimPred: String, name: String): String =
      s"""$name AS (
            SELECT vec_id, label, cand
            FROM (
              SELECT d.vec_id, d.label, d.cand,
                     row_number() OVER (PARTITION BY d.vec_id
                       ORDER BY ${snap("d.dotq / sqrt(CAST(d.vnq AS DOUBLE) * d.cnq)")} DESC,
                                d.cand) AS rn
              FROM (
                SELECT e.vec_id, e.label, c.label AS cand,
                       CAST(sum(${qi("e.v * c.m")}) AS BIGINT) AS dotq,
                       CAST(sum(${qi("e.v * e.v")}) AS BIGINT) AS vnq,
                       CAST(sum(${qi("c.m * c.m")}) AS BIGINT) AS cnq
                FROM e JOIN cent c ON c.dim = e.dim
                WHERE $dimPred
                GROUP BY 1, 2, 3) d) x
            WHERE rn = 1)"""
    s"""WITH e AS (${eCte(tbl, d)}),
        $centCte,
        ${best("1 = 1", "full64")},
        ${best(low16, "trunc16")}
        SELECT f.label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN f.cand = t.cand THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_agree,
               ${snap("CAST(sum(CASE WHEN f.cand = t.cand THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                 AS agreement,
               ${snap("CAST(sum(CASE WHEN f.cand = f.label THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                 AS full_self_route
        FROM full64 f JOIN trunc16 t ON t.vec_id = f.vec_id
        GROUP BY f.label
        ORDER BY f.label"""
  }

  // ---------------------------------------------------------------- q442

  /** Silhouette-lite cluster quality: per vector, cosine to its OWN
    * label centroid minus the best cosine to any OTHER label's —
    * positive means the labeling separates in embedding space —
    * averaged per label. Same broadcastable candidate fan as q441.
    */
  val q442SilhouetteLite: QueryDef =
    QueryDef.sql("q442_silhouette_lite", "r20_", "embeddings")(silhouetteSql)

  private def silhouetteSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    s"""WITH e AS (${eCte(tbl, d)}),
        $centCte,
        scored AS (
          SELECT d.vec_id, d.label, d.cand,
                 ${snap("d.dotq / sqrt(CAST(d.vnq AS DOUBLE) * d.cnq)")} AS cos_c
          FROM (
            SELECT e.vec_id, e.label, c.label AS cand,
                   CAST(sum(${qi("e.v * c.m")}) AS BIGINT) AS dotq,
                   CAST(sum(${qi("e.v * e.v")}) AS BIGINT) AS vnq,
                   CAST(sum(${qi("c.m * c.m")}) AS BIGINT) AS cnq
            FROM e JOIN cent c ON c.dim = e.dim
            GROUP BY 1, 2, 3) d),
        pervec AS (
          SELECT vec_id, label,
                 max(CASE WHEN cand = label THEN cos_c END) AS own,
                 max(CASE WHEN cand <> label THEN cos_c END) AS other
          FROM scored GROUP BY 1, 2)
        SELECT label,
               CAST(count(*) AS BIGINT) AS n,
               ${snap("avg(own)")} AS mean_own_cos,
               ${snap("avg(other)")} AS mean_best_other_cos,
               ${snap("avg(own - other)")} AS mean_margin,
               CAST(sum(CASE WHEN own > other THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_separated
        FROM pervec
        GROUP BY label
        ORDER BY label"""
  }

  // ---------------------------------------------------------------- q443

  /** Random-pair cosine histogram — the full anisotropy DISTRIBUTION
    * behind q422's mean: each vector pairs with one deterministic
    * partner (md5-derived offset, collision-free non-self pairing over
    * the contiguous id range), snapped cosines bucket into width-0.2
    * bins. One corpus scan + one equi-join on the partner id — no pair
    * explosion, sampling is rerun-stable.
    */
  val q443PairCosineHist: QueryDef =
    QueryDef.sql("q443_pair_cosine_hist", "r20_", "embeddings")(pairHistSql)

  private def pairHistSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val h = md5i(s"CAST(vec_id AS ${d.str}) || ':pair'", d)
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $tbl),
        e AS (${eCte(tbl, d)}),
        pairing AS (
          SELECT vec_id,
                 (vec_id + 1 + $h % (n.n - 1)) % n.n AS partner
          FROM $tbl CROSS JOIN n),
        dots AS (
          SELECT p.vec_id,
                 CAST(sum(${qi("a.v * b.v")}) AS BIGINT) AS dotq,
                 CAST(sum(${qi("a.v * a.v")}) AS BIGINT) AS anq,
                 CAST(sum(${qi("b.v * b.v")}) AS BIGINT) AS bnq
          FROM pairing p
          JOIN e a ON a.vec_id = p.vec_id
          JOIN e b ON b.vec_id = p.partner AND b.dim = a.dim
          GROUP BY 1),
        cosb AS (
          SELECT CAST(floor(${snap("dotq / sqrt(CAST(anq AS DOUBLE) * bnq)")} / 0.2)
                      AS BIGINT) AS bin
          FROM dots)
        SELECT bin,
               ${snap("bin * 0.2")} AS bin_lo,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM cosb
        GROUP BY bin
        ORDER BY bin"""
  }

  // ---------------------------------------------------------------- q444

  /** Spearman rank correlation between two per-source corpus health
    * statistics — unigram entropy (diversity) and BPE-proxy fertility
    * (tokenizer cost): ρ = 1 − 6Σd²/(K(K²−1)) over exact integer ranks
    * (total order with source tiebreak, so no tie-correction term is
    * needed and both engines rank identically). Corpus-sized work is
    * one token scan; the correlation runs on #sources rows.
    */
  val q444SpearmanHealth: QueryDef =
    QueryDef.sql("q444_spearman_health", "r20_", "documents")(spearmanSql)

  private def spearmanSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val tok =
      s"""SELECT source, ${d.words} AS word
            FROM $tbl"""
    val sub = d.regexCount("lower(text)", s"[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9${d.ws}]")
    val nw = d.wordCount
    s"""WITH uni AS (
          SELECT source, word, CAST(count(*) AS BIGINT) AS c
          FROM ($tok) t WHERE word <> '' GROUP BY 1, 2),
        ent AS (
          SELECT source,
                 CAST(sum(${qi("-(CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)")})
                      AS DOUBLE) / 1048576.0 AS h
          FROM (SELECT source, c, sum(c) OVER (PARTITION BY source) AS t FROM uni) x
          GROUP BY 1),
        fert AS (
          SELECT source,
                 ${snap(s"CAST(sum($sub) AS DOUBLE) / sum($nw)")} AS f
          FROM $tbl GROUP BY 1),
        ranked AS (
          SELECT e.source,
                 CAST(row_number() OVER (ORDER BY e.h, e.source) AS BIGINT) AS rh,
                 CAST(row_number() OVER (ORDER BY f.f, f.source) AS BIGINT) AS rf
          FROM ent e JOIN fert f ON f.source = e.source)
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum((rh - rf) * (rh - rf)) AS BIGINT) AS sum_d2,
               ${snap("1.0 - 6.0 * sum((rh - rf) * (rh - rf)) / (count(*) * (CAST(count(*) AS DOUBLE) * count(*) - 1))")}
                 AS spearman_rho
        FROM ranked"""
  }

  // ---------------------------------------------------------------- q445

  /** Source-holdout bigram transfer: score each source's bigrams under
    * an add-one-smoothed bigram LM trained on the OTHER sources
    * (held-out counts = global − own, all exact BIGINT), in micro-nat
    * cross-entropy — the "how out-of-distribution is this source"
    * release table. Per-source counts join the global tables on the
    * bigram key; nothing corpus-sized crosses a driver.
    */
  val q445HoldoutTransfer: QueryDef =
    QueryDef.sql("q445_holdout_transfer", "r20_", "documents")(holdoutSql)

  private def holdoutSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val w = "OVER (PARTITION BY doc_id ORDER BY pos)"
    val tok = posTokens(tbl, d, "source", "doc_id")
    s"""WITH tok AS ($tok),
        bi AS (
          SELECT source, a, b
          FROM (SELECT source, doc_id, word AS a, lead(word) $w AS b FROM tok) x
          WHERE b IS NOT NULL),
        cbs AS (SELECT source, a, b, CAST(count(*) AS BIGINT) AS c
                FROM bi GROUP BY 1, 2, 3),
        cb AS (SELECT a, b, CAST(sum(c) AS BIGINT) AS c FROM cbs GROUP BY 1, 2),
        cus AS (SELECT source, a, CAST(sum(c) AS BIGINT) AS c FROM cbs GROUP BY 1, 2),
        cu AS (SELECT a, CAST(sum(c) AS BIGINT) AS c FROM cbs GROUP BY 1),
        v AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS v FROM cb)
        SELECT s.source,
               CAST(sum(s.c) AS BIGINT) AS n_bigrams,
               ${snap("CAST(sum(s.c * CAST(floor(-ln((g.c - s.c + 1.0) / (cu.c - cus.c + v.v)) * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE) / (1048576.0 * sum(s.c))")}
                 AS h_holdout_nats
        FROM cbs s
        JOIN cb g ON g.a = s.a AND g.b = s.b
        JOIN cus ON cus.source = s.source AND cus.a = s.a
        JOIN cu ON cu.a = s.a
        CROSS JOIN v
        GROUP BY s.source
        ORDER BY s.source"""
  }

  val all: Seq[QueryDef] =
    Seq(q441MatryoshkaAudit, q442SilhouetteLite, q443PairCosineHist,
      q444SpearmanHealth, q445HoldoutTransfer)
}
