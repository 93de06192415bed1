package graft.queries

import graft.queries.SqlFragments._

/** Round-16 additions (q421+): corpus-dynamics audits — the n-gram
  * novelty curve over training order (how fast fresh data stops being
  * fresh), embedding isotropy via the exact pairwise-cosine closed form
  * (Ethayarajh 2019's anisotropy diagnostic at corpus scale), a
  * two-vocabulary tokenizer compression duel, token-mixture gap vs a
  * uniform target (the rebalancing worksheet), and a dedup-quality
  * curriculum schedule. House invariants as Round13-15: per-row floats
  * quantize to 2²⁰ integer micro-units and ride exact BIGINT sums;
  * final ratios snap to the dyadic 2⁻³⁰ grid.
  */
object Round16 {

  // ---------------------------------------------------------------- q421

  /** Trigram novelty curve over training order: docs stream in doc_id
    * order in 10 equal-width batches; a trigram's FIRST-SEEN batch is
    * min(batch) over its occurrences, and each batch reports how many
    * of its distinct trigrams are novel (first seen there) — the curve
    * that says when a corpus stops teaching. ONE gram-keyed hash agg
    * (partial-aggregable) collects each gram's ≤10-element batch set
    * plus its min batch in the same pass, then the set explodes into
    * per-batch membership counts — Spark inlines CTEs, so the naive
    * "aggregate twice from the gram stream" shape would tokenize the
    * corpus twice (PlanAuditSpec pins the single-pass form).
    */
  val q421NoveltyCurve: QueryDef =
    QueryDef.sql("q421_novelty_curve", "r16_", "documents")(noveltySql)

  private def noveltySql(d: Dialect): String = {
    val tbl = d.t("documents")
    val w = "OVER (PARTITION BY doc_id ORDER BY pos)"
    val (collectSet, unnest) = d match {
      case _: Spark => ("collect_set(batch)", "explode(bs)")
      case DuckDb => ("list(DISTINCT batch)", "unnest(bs)")
    }
    s"""WITH nmax AS (SELECT max(doc_id) + 1 AS n FROM $tbl),
        tok AS (${posTokens(tbl, d, "doc_id", "source")}),
        grams AS (
          SELECT CAST(floor(doc_id * 10.0 / n) AS INT) AS batch,
                 md5(word || ' ' || lead(word, 1) $w || ' ' || lead(word, 2) $w) AS g
          FROM tok CROSS JOIN nmax
          ),
        ga AS (
          SELECT g, min(batch) AS fb,
                 $collectSet AS bs
          FROM grams WHERE g IS NOT NULL GROUP BY g),
        x AS (
          SELECT fb, $unnest AS batch
          FROM ga)
        SELECT batch,
               CAST(count(*) AS BIGINT) AS n_distinct_grams,
               CAST(sum(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel,
               ${snap("CAST(sum(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                 AS novelty_rate
        FROM x
        GROUP BY batch
        ORDER BY batch"""
  }

  // ---------------------------------------------------------------- q422

  /** Embedding isotropy per label (Ethayarajh 2019: anisotropy = the
    * expected cosine between random vectors; an isotropic space scores
    * ~0): every vector L2-normalizes row-locally onto the 2²⁰ integer
    * grid, and the exact closed form
    * Σ_{i≠j} cos_ij = ‖Σ q‖² − Σ‖q‖² turns the O(n²) pairwise mean
    * into ONE keyed agg (per-dim BIGINT component sums are exact; the
    * final 64-term square fold snaps). This is the 100 TB shape: no
    * pair ever materializes.
    */
  val q422Isotropy: QueryDef = QueryDef.sql("q422_isotropy", "r16_", "embeddings")(isotropySql)

  private def isotropySql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val e = d.embeddingCells(tbl, "vec_id, label", 1)
    s"""WITH e AS ($e),
        nrm AS (
          SELECT vec_id, label,
                 sqrt(CAST(sum(${qi("v * v")}) AS DOUBLE) / 1048576.0) AS nv
          FROM e GROUP BY 1, 2),
        q AS (
          SELECT e.vec_id, e.label, e.dim, ${qi("e.v / n.nv")} AS qc
          FROM e JOIN nrm n ON n.vec_id = e.vec_id),
        sums AS (
          SELECT label, dim,
                 CAST(sum(qc) AS BIGINT) AS sq
          FROM q GROUP BY 1, 2),
        selfn AS (
          SELECT label,
                 CAST(count(DISTINCT vec_id) AS BIGINT) AS n,
                 CAST(sum(qc * qc) AS BIGINT) AS self2
          FROM q GROUP BY 1),
        tot AS (
          -- each squared term quantizes onto the 2^20 grid BEFORE the
          -- 64-term fold: a*a of exact doubles is one IEEE-deterministic
          -- rounding (identical cross-engine), and the fold itself is then
          -- a BIGINT sum — aggregation-order exact, unlike a double sum of
          -- rounded addends whose reduction order the engine chooses
          SELECT s.label,
                 CAST(sum(${qi(
          "(CAST(s.sq AS DOUBLE) / 1048576.0) * (CAST(s.sq AS DOUBLE) / 1048576.0)")})
            AS DOUBLE) / 1048576.0 AS norm2
          FROM sums s GROUP BY 1)
        SELECT t.label, f.n AS n_vectors,
               ${snap("(t.norm2 - CAST(f.self2 AS DOUBLE) / (1048576.0 * 1048576.0)) / (CAST(f.n AS DOUBLE) * (f.n - 1))")}
                 AS mean_pairwise_cos,
               ${snap("t.norm2 / (CAST(f.n AS DOUBLE) * f.n)")} AS mean_sq_norm_of_mean
        FROM tot t JOIN selfn f ON f.label = t.label
        ORDER BY t.label"""
  }

  // ---------------------------------------------------------------- q423

  /** Tokenizer compression duel: two candidate vocabularies — the
    * corpus top-64 and top-256 word types (total-order ranks) — priced
    * per source: an in-vocab word costs 1 token, an OOV word falls back
    * to ceil(len/4) character chunks. Reports both costs and the
    * marginal win of the larger vocab — the table that justifies (or
    * kills) a vocab-size bump. The top-256 selection is ORDER BY +
    * LIMIT (Spark plans a distributed TakeOrderedAndProject — no
    * vocabulary-sized single-partition window); the 256-row rank table
    * broadcast-joins the token stream. Corpus work is one explode +
    * one keyed agg.
    */
  val q423VocabDuel: QueryDef = QueryDef.sql("q423_vocab_duel", "r16_", "documents")(vocabDuelSql)

  private def vocabDuelSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${posTokens(tbl, d, "doc_id", "source")}),
        freq AS (
          SELECT word,
                 CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS rnk
          FROM (SELECT word, CAST(count(*) AS BIGINT) AS c
                FROM tok GROUP BY word
                ORDER BY c DESC, word LIMIT 256) top),
        priced AS (
          SELECT t.source,
                 CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(CASE WHEN f.rnk <= 64 THEN 1
                               ELSE CAST(ceil(length(t.word) / 4.0) AS BIGINT) END)
                      AS BIGINT) AS cost_v64,
                 CAST(sum(CASE WHEN f.rnk IS NOT NULL THEN 1
                               ELSE CAST(ceil(length(t.word) / 4.0) AS BIGINT) END)
                      AS BIGINT) AS cost_v256
          FROM tok t LEFT JOIN freq f ON f.word = t.word
          GROUP BY t.source)
        SELECT source, n_words, cost_v64, cost_v256,
               ${snap("CAST(cost_v64 AS DOUBLE) / n_words")} AS fert_v64,
               ${snap("CAST(cost_v256 AS DOUBLE) / n_words")} AS fert_v256,
               ${snap("1.0 - CAST(cost_v256 AS DOUBLE) / cost_v64")} AS v256_win
        FROM priced
        ORDER BY source"""
  }

  // ---------------------------------------------------------------- q424

  /** Token-mixture gap vs the uniform target: each source's exact token
    * share against 1/K, with the per-source KL contribution (in
    * micro-nat-exact arithmetic) and the over/under direction — the
    * worksheet a rebalancing pass consumes. One keyed agg; K rows
    * after.
    */
  val q424MixtureGap: QueryDef =
    QueryDef.sql("q424_mixture_gap", "r16_", "documents")(mixtureGapSql)

  private def mixtureGapSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val nWords = d.wordCount
    s"""WITH st AS (
          SELECT source, CAST(sum($nWords) AS BIGINT) AS tok
          FROM $tbl GROUP BY 1),
        tot AS (
          SELECT CAST(sum(tok) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
          FROM st)
        SELECT st.source,
               st.tok AS n_tokens,
               ${snap("CAST(st.tok AS DOUBLE) / t.n")} AS share,
               ${snap("1.0 / t.k")} AS target,
               ${snap("CAST(st.tok AS DOUBLE) / t.n - 1.0 / t.k")} AS gap,
               ${snap("(1.0 / t.k) * ln((1.0 / t.k) / (CAST(st.tok AS DOUBLE) / t.n))")}
                 AS kl_term,
               CASE WHEN st.tok * t.k > t.n THEN 'over' ELSE 'under' END
                 AS direction
        FROM st CROSS JOIN tot t
        ORDER BY st.source"""
  }

  // ---------------------------------------------------------------- q425

  /** Dedup-quality curriculum schedule: sources ordered cleanest-first
    * (exact-duplicate rate asc, source asc — a total order), cumulative
    * token prefix, and the training phase each source lands in (early /
    * mid / late thirds of the total token budget, by the prefix BEFORE
    * the source starts). The ordering agg is corpus-scale; the schedule
    * itself is a #sources-row window.
    */
  val q425Curriculum: QueryDef = QueryDef.sql("q425_curriculum", "r16_", "documents")(curriculumSql)

  private def curriculumSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val nWords = d.wordCount
    s"""WITH st AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_uniq,
                 CAST(sum($nWords) AS BIGINT) AS tok
          FROM $tbl GROUP BY 1),
        ord AS (
          SELECT source, tok,
                 ${snap("1.0 - CAST(n_uniq AS DOUBLE) / n_docs")} AS dup_rate,
                 CAST(row_number() OVER
                   (ORDER BY ${snap("1.0 - CAST(n_uniq AS DOUBLE) / n_docs")}, source)
                   AS BIGINT) AS ord,
                 CAST(coalesce(sum(tok) OVER
                   (ORDER BY ${snap("1.0 - CAST(n_uniq AS DOUBLE) / n_docs")}, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before,
                 CAST(sum(tok) OVER () AS BIGINT) AS total
          FROM st)
        SELECT source, ord, tok AS n_tokens, dup_rate, cum_before,
               CASE WHEN cum_before * 3 < total THEN 'early'
                    WHEN cum_before * 3 < total * 2 THEN 'mid'
                    ELSE 'late' END AS phase
        FROM ord
        ORDER BY ord"""
  }

  val all: Seq[QueryDef] =
    Seq(q421NoveltyCurve, q422Isotropy, q423VocabDuel, q424MixtureGap,
      q425Curriculum)
}
