package graft.queries

import graft.queries.SqlFragments._

/** Round-17 additions (q426+): corpus-composition forensics — the
  * cross-source 5-gram overlap matrix (who copied whom), Heaps'-law
  * vocabulary-growth fits, Church–Gale burstiness of the head
  * vocabulary, distinct-n-gram diversity profiles (the text-generation
  * diversity report applied to a corpus), and leave-one-source-out
  * valuation of the language-mix entropy (the closed-form end of
  * Shapley-style data valuation). House invariants as Round13-16:
  * per-row floats quantize to 2²⁰ integer micro-units and ride exact
  * BIGINT sums; final ratios snap to the dyadic 2⁻³⁰ grid.
  */
object Round17 {

  // ---------------------------------------------------------------- q426

  /** Cross-source contamination matrix: for every ordered source pair
    * (a < b), how many distinct 5-gram types they share and the
    * Jaccard of their gram sets — the "who copied whom" table a corpus
    * audit opens with. Scale shape: grams collapse to distinct
    * (md5, source) rows once, then pair up through a gram-keyed
    * self-EQUI-join whose per-key fanout is bounded by #sources² (a
    * dimension, not the corpus) — the corpus text never self-joins,
    * and the only wide shuffles are hash aggs/joins on 32-char keys.
    */
  val q426SourceOverlap: QueryDef =
    QueryDef.sql("q426_source_overlap", "r17_", "documents")(overlapSql)

  private def overlapSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val w = "OVER (PARTITION BY doc_id ORDER BY pos)"
    s"""WITH tok AS (${posTokens(tbl, d, "source", "doc_id")}),
        grams AS (
          SELECT source,
                 md5(word || ' ' || lead(word, 1) $w || ' ' || lead(word, 2) $w
                     || ' ' || lead(word, 3) $w || ' ' || lead(word, 4) $w) AS g
          FROM tok),
        gs AS (
          SELECT g, source FROM grams WHERE g IS NOT NULL GROUP BY 1, 2),
        pergram AS (
          SELECT a.g, a.source AS src_a, b.source AS src_b
          FROM gs a JOIN gs b ON b.g = a.g AND a.source < b.source),
        pairs AS (
          SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS shared
          FROM pergram GROUP BY 1, 2),
        sizes AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n FROM gs GROUP BY 1)
        SELECT p.src_a, p.src_b, p.shared,
               ${snap("CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared)")}
                 AS jaccard
        FROM pairs p
        JOIN sizes sa ON sa.source = p.src_a
        JOIN sizes sb ON sb.source = p.src_b
        ORDER BY p.src_a, p.src_b"""
  }

  // ---------------------------------------------------------------- q427

  /** Heaps'-law vocabulary growth per source: cumulative distinct word
    * types after each decile of the doc_id-ordered stream, and the
    * least-squares fit of ln V on ln N (Heaps: V ≈ K·N^β, β ≈ 0.5 for
    * natural text). First-seen-decile attribution turns the cumulative
    * distinct into two hash aggs + a 10-row prefix window per source —
    * no corpus-sized window. The regression statistics ride quantized
    * BIGINT sums (10 points per source).
    */
  val q427HeapsLaw: QueryDef = QueryDef.sql("q427_heaps_law", "r17_", "documents")(heapsSql)

  private def heapsSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH nmax AS (SELECT max(doc_id) + 1 AS n FROM $tbl),
        tok AS (${posTokens(tbl, d, "source", "doc_id")}),
        dec AS (
          SELECT source, CAST(floor(doc_id * 10.0 / n) AS INT) AS d, word
          FROM tok CROSS JOIN nmax),
        firstseen AS (
          SELECT source, word, min(d) AS fd FROM dec GROUP BY 1, 2),
        newtypes AS (
          SELECT source, fd AS d, CAST(count(*) AS BIGINT) AS nv
          FROM firstseen GROUP BY 1, 2),
        newtok AS (
          SELECT source, d, CAST(count(*) AS BIGINT) AS nt
          FROM dec GROUP BY 1, 2),
        cum AS (
          SELECT t.source, t.d,
                 CAST(sum(coalesce(v.nv, 0)) OVER
                   (PARTITION BY t.source ORDER BY t.d) AS BIGINT) AS vsz,
                 CAST(sum(t.nt) OVER
                   (PARTITION BY t.source ORDER BY t.d) AS BIGINT) AS nsz
          FROM newtok t LEFT JOIN newtypes v ON v.source = t.source AND v.d = t.d),
        pts AS (
          SELECT source,
                 ${qi("ln(CAST(nsz AS DOUBLE))")} AS xq,
                 ${qi("ln(CAST(vsz AS DOUBLE))")} AS yq,
                 ${qi("ln(CAST(nsz AS DOUBLE)) * ln(CAST(vsz AS DOUBLE))")} AS xyq,
                 ${qi("ln(CAST(nsz AS DOUBLE)) * ln(CAST(nsz AS DOUBLE))")} AS xxq
          FROM cum),
        fit AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(xq) AS DOUBLE) / 1048576.0 AS sx,
                 CAST(sum(yq) AS DOUBLE) / 1048576.0 AS sy,
                 CAST(sum(xyq) AS DOUBLE) / 1048576.0 AS sxy,
                 CAST(sum(xxq) AS DOUBLE) / 1048576.0 AS sxx
          FROM pts GROUP BY 1),
        tail AS (
          SELECT source, max(vsz) AS v_final, max(nsz) AS n_final
          FROM cum GROUP BY 1)
        SELECT f.source, f.k AS n_points,
               ${snap("(f.k * f.sxy - f.sx * f.sy) / (f.k * f.sxx - f.sx * f.sx)")}
                 AS beta,
               ${snap("exp((f.sy - ((f.k * f.sxy - f.sx * f.sy) / (f.k * f.sxx - f.sx * f.sx)) * f.sx) / f.k)")}
                 AS k_coef,
               t.v_final AS vocab_size,
               t.n_final AS n_tokens
        FROM fit f JOIN tail t ON t.source = f.source
        ORDER BY f.source"""
  }

  // ---------------------------------------------------------------- q428

  /** Church–Gale burstiness of the corpus head vocabulary: for the
    * top-50 words (total order), collection frequency CF, document
    * frequency DF, the burstiness ratio CF/DF (mean occurrences per
    * containing doc), and the Poisson-expected DF at matched rate —
    * E[DF] = D·(1 − e^(−CF/D)) — whose gap exposes topical words.
    * Top-50 selection is ORDER BY + LIMIT (distributed top-k, no
    * global window); everything else is two keyed aggs.
    */
  val q428Burstiness: QueryDef = QueryDef.sql("q428_burstiness", "r17_", "documents")(burstinessSql)

  private def burstinessSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${posTokens(tbl, d, "source", "doc_id")}),
        d AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM $tbl),
        wstats AS (
          SELECT word,
                 CAST(count(*) AS BIGINT) AS cf,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM tok GROUP BY 1
          ORDER BY cf DESC, word LIMIT 50)
        SELECT w.word, w.cf, w.df,
               ${snap("CAST(w.cf AS DOUBLE) / w.df")} AS burstiness,
               ${snap("d.nd * (1.0 - exp(-(CAST(w.cf AS DOUBLE) / d.nd)))")}
                 AS poisson_df,
               ${snap("CAST(w.df AS DOUBLE) / (d.nd * (1.0 - exp(-(CAST(w.cf AS DOUBLE) / d.nd))))")}
                 AS df_ratio
        FROM wstats w CROSS JOIN d
        ORDER BY w.cf DESC, w.word"""
  }

  // ---------------------------------------------------------------- q429

  /** Distinct-n-gram diversity profile per source (the distinct-1/2/3/4
    * report text-generation evals run, applied to corpus slices):
    * distinct n-gram types over total n-gram instances for n = 1..4.
    * Each n is one gram-keyed agg over hashes; the four levels union.
    * A slice whose distinct-4 ratio collapses is template spam.
    */
  val q429DiversityProfile: QueryDef =
    QueryDef.sql("q429_diversity_profile", "r17_", "documents")(diversitySql)

  private def diversitySql(d: Dialect): String = {
    val tbl = d.t("documents")
    val w = "OVER (PARTITION BY doc_id ORDER BY pos)"
    def level(n: Int): String = {
      val gram =
        if (n == 1) "word"
        else "word || ' ' || " + (1 until n)
          .map(i => s"lead(word, $i) $w").mkString(" || ' ' || ")
      s"""SELECT source, CAST($n AS INT) AS n, md5($gram) AS g
          FROM tok"""
    }
    s"""WITH tok AS (${posTokens(tbl, d, "source", "doc_id")}),
        grams AS (${(1 to 4).map(level).mkString("\n UNION ALL \n")})
        SELECT source, n,
               CAST(count(g) AS BIGINT) AS n_grams,
               CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
               ${snap("CAST(count(DISTINCT g) AS DOUBLE) / count(g)")}
                 AS distinct_ratio
        FROM grams
        WHERE g IS NOT NULL
        GROUP BY 1, 2
        ORDER BY 1, 2"""
  }

  // ---------------------------------------------------------------- q430

  /** Leave-one-source-out valuation of the corpus language mix — the
    * closed-form end of Shapley-style data valuation (Ghorbani & Zou
    * 2019 ethos, exact for the LOO marginal): each source's removal
    * delta on the corpus lang-entropy, recomputed from the (lang,
    * source) count matrix alone — one corpus-sized keyed agg, then
    * #sources×#langs driver-free arithmetic. Positive delta = the
    * source makes the corpus mix MORE diverse.
    */
  val q430LooValuation: QueryDef = QueryDef.sql("q430_loo_valuation", "r17_", "documents")(looSql)

  private def looSql(d: Dialect): String = {
    val tbl = d.t("documents")
    // entropy of a (count, total) profile in exact micro-nat terms
    def ent(c: String, n: String): String =
      s"CAST(sum(CASE WHEN $c > 0 THEN ${qi(s"-(CAST($c AS DOUBLE) / $n) * ln(CAST($c AS DOUBLE) / $n)")} ELSE 0 END) AS DOUBLE) / 1048576.0"
    s"""WITH ls AS (
          SELECT lang, source, CAST(count(*) AS BIGINT) AS c
          FROM $tbl GROUP BY 1, 2),
        lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cl FROM ls GROUP BY 1),
        st AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs FROM ls GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ls),
        full_ent AS (
          SELECT ${ent("lt.cl", "t.n")} AS h
          FROM lt CROSS JOIN tot t),
        loo AS (
          SELECT s.source,
                 ${ent("lt.cl - coalesce(x.c, 0)", "(t.n - s.cs)")} AS h_without
          FROM st s
          CROSS JOIN tot t
          CROSS JOIN lt
          LEFT JOIN ls x ON x.source = s.source AND x.lang = lt.lang
          GROUP BY s.source, t.n, s.cs)
        SELECT l.source, st.cs AS n_docs,
               ${snap("f.h")} AS h_full,
               ${snap("l.h_without")} AS h_without,
               ${snap("f.h - l.h_without")} AS loo_delta
        FROM loo l
        JOIN st ON st.source = l.source
        CROSS JOIN full_ent f
        ORDER BY l.source"""
  }

  val all: Seq[QueryDef] =
    Seq(q426SourceOverlap, q427HeapsLaw, q428Burstiness,
      q429DiversityProfile, q430LooValuation)
}
