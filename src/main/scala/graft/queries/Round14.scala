package graft.queries

import graft.queries.SqlFragments._

/** Round-14 additions (q411+): the budget-planning layer of a training
  * corpus pipeline — data-constrained scaling projections (Muennighoff
  * et al. 2023 epoch-decay), water-filling token allocation under a
  * global budget, an unrolled-Newton logistic quality classifier
  * (integer-quantized sufficient statistics so both engines walk the
  * same trajectory), tokenizer vocabulary OOV audit, and
  * class-balanced reweighting (Cui et al. 2019 effective number of
  * samples). House invariants: float reductions snap to the dyadic
  * 2⁻³⁰ grid, corpus-sized sums ride exact BIGINT quantities, and the
  * only wide shuffles are partial-aggregable keyed aggregates.
  */
object Round14 {

  /** Per-source exact token accounting: total word tokens (with
    * duplicate documents) and unique tokens (after exact text dedup
    * WITHIN the source — the unit a per-source epoch multiplies).
    * Shared by q411/q412.
    */
  private def sourceTokensCte(tbl: String, d: Dialect): String = {
    val nWords = d.wordCount
    s"""SELECT source,
               CAST(sum(nw * dups) AS BIGINT) AS total_tokens,
               CAST(sum(nw) AS BIGINT) AS unique_tokens
        FROM (SELECT source, md5(text) AS h,
                     min(nw) AS nw, CAST(count(*) AS BIGINT) AS dups
              FROM (SELECT source, text, $nWords AS nw FROM $tbl) d
              GROUP BY source, md5(text)) u
        GROUP BY source"""
  }

  // ---------------------------------------------------------------- q411

  /** Data-constrained scaling projection (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"): repeating a source's
    * unique tokens U for E epochs is only worth
    * D' = U·(1 + R*·(1 − e^(−(E−1)/R*))) effective tokens, R* = 15.4 —
    * the decay curve that decides how many epochs each corpus source
    * deserves before fresh data beats another pass. One keyed agg over
    * the corpus (exact BIGINT token counts), then a tiny epoch-grid
    * cross join on #sources rows. `eff_frac` = D'/(E·U) is the
    * marginal-value diagnostic (1.0 at one epoch, decaying toward 0).
    */
  val q411ScalingEpochs: QueryDef =
    QueryDef.sql("q411_scaling_epochs", "r14_", "documents")(scalingSql)

  private def scalingSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val grid = d.values("(1), (2), (4), (8), (16)", "t(epochs)")
    val rstar = "CAST(15.4 AS DOUBLE)"
    val decay = snap(s"exp(-(CAST(epochs AS DOUBLE) - 1.0) / $rstar)")
    val eff = snap(s"unique_tokens * (1.0 + $rstar * (1.0 - $decay))")
    s"""WITH st AS (${sourceTokensCte(tbl, d)}),
        grid AS ($grid)
        SELECT st.source, CAST(epochs AS INT) AS epochs,
               unique_tokens,
               CAST(unique_tokens * epochs AS BIGINT) AS raw_tokens,
               $eff AS eff_tokens,
               ${snap(s"$eff / (CAST(unique_tokens AS DOUBLE) * epochs)")} AS eff_frac
        FROM st CROSS JOIN grid
        ORDER BY source, epochs"""
  }

  // ---------------------------------------------------------------- q412

  /** Water-filling token-budget allocation: given budget
    * B = floor(0.6·Σ unique), find the cap τ with Σ min(U_s, τ) = B and
    * allocate min(U_s, τ) per source. Distributed closed form — sort
    * sources by U ascending, prefix-sum, and each rank r proposes
    * τ_r = (B − Σ_{j<r} U_j)/(n − r + 1), feasible iff it lands in
    * [U_{r−1}, U_r]; exactly one rank is feasible for B < ΣU. The
    * corpus-sized work is the q411 keyed agg; the waterfill itself runs
    * on #sources rows (one tiny ordered window — fine even at millions
    * of sources since it rides a single agg output, and the feasibility
    * scan is a filter, not an iteration).
    */
  val q412WaterfillBudget: QueryDef =
    QueryDef.sql("q412_waterfill_budget", "r14_", "documents")(waterfillSql)

  private def waterfillSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val tau = snap("(b.budget - r.prefix) / (r.n - r.rnk + 1.0)")
    s"""WITH st AS (${sourceTokensCte(tbl, d)}),
        b AS (SELECT CAST(floor(sum(unique_tokens) * CAST(0.6 AS DOUBLE)) AS BIGINT)
                       AS budget
              FROM st),
        r AS (
          SELECT source, unique_tokens,
                 CAST(row_number() OVER (ORDER BY unique_tokens, source)
                      AS BIGINT) AS rnk,
                 CAST(count(*) OVER () AS BIGINT) AS n,
                 CAST(coalesce(sum(unique_tokens) OVER
                        (ORDER BY unique_tokens, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS prefix,
                 CAST(coalesce(lag(unique_tokens) OVER
                        (ORDER BY unique_tokens, source), 0)
                      AS BIGINT) AS prev_u
          FROM st),
        tau AS (
          SELECT min($tau) AS tau
          FROM r CROSS JOIN b
          WHERE $tau >= prev_u AND $tau <= unique_tokens)
        SELECT st.source, st.unique_tokens,
               ${snap("CASE WHEN st.unique_tokens <= t.tau THEN CAST(st.unique_tokens AS DOUBLE) ELSE t.tau END")}
                 AS alloc_tokens,
               st.unique_tokens > t.tau AS capped,
               t.tau AS cap_tau
        FROM st CROSS JOIN tau t
        ORDER BY source"""
  }

  // ---------------------------------------------------------------- q413

  /** Quality-classifier fit: logistic regression of "is this document
    * English?" on its stopword ratio, by three unrolled Newton–Raphson
    * steps. Per-row feature x is quantized to the 2²⁰ integer grid up
    * front; each iteration's sufficient statistics (score vector,
    * 2×2 Hessian, log-loss) are per-row quantities quantized to
    * integer micro-units and summed as exact BIGINT — aggregation
    * order cannot split the engines, the 2×2 solve happens on ONE row.
    * Output: the (β₀, β₁, mean log-loss) trajectory, one row per
    * iteration. At scale each iteration is one partial-aggregable
    * scan; model state is two doubles.
    */
  val q413LogisticQuality: QueryDef =
    QueryDef.sql("q413_logistic_quality", "r14_", "documents")(logisticSql)

  private def logisticSql(d: Dialect): String = {
    val tbl = d.t("documents")
    // bag of words with lang, empties kept — not SqlFragments' positional tokenizers
    val tokCte =
      s"""SELECT doc_id, lang,
                   ${d.words} AS word
            FROM $tbl"""
    val stop = "('the','a','an','and','or','of','to','in','is','it')"
    def deq(c: String) = s"(CAST(sum($c) AS DOUBLE) / 1048576.0)"
    val iters = (0 until 3)
      .map { k =>
        // η, p are row-local doubles from snapped β — deterministic
        s"""p$k AS ${d.materialized}(
              SELECT y, xr,
                     1.0 / (1.0 + exp(-(b.b0 + b.b1 * xr))) AS p
              FROM feat CROSS JOIN beta$k b),
            s$k AS ${d.materialized}(
              SELECT ${deq(qi("(y - p)"))} AS g0,
                     ${deq(qi("(y - p) * xr"))} AS g1,
                     ${deq(qi("p * (1.0 - p)"))} AS h00,
                     ${deq(qi("p * (1.0 - p) * xr"))} AS h01,
                     ${deq(qi("p * (1.0 - p) * xr * xr"))} AS h11,
                     ${deq(qi("-(y * ln(greatest(p, 1e-12)) + (1.0 - y) * ln(greatest(1.0 - p, 1e-12)))"))}
                       AS loss_sum,
                     CAST(count(*) AS BIGINT) AS n
              FROM p$k),
            beta${k + 1} AS ${d.materialized}(
              SELECT CAST(${k + 1} AS INT) AS iter,
                     ${snap("b.b0 + (s.h11 * s.g0 - s.h01 * s.g1) / (s.h00 * s.h11 - s.h01 * s.h01)")} AS b0,
                     ${snap("b.b1 + (s.h00 * s.g1 - s.h01 * s.g0) / (s.h00 * s.h11 - s.h01 * s.h01)")} AS b1,
                     ${snap("s.loss_sum / s.n")} AS mean_logloss
              FROM s$k s CROSS JOIN beta$k b)"""
      }
      .mkString(",\n")
    s"""WITH feat AS ${d.materialized}(
          SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y,
                 CAST(${qi(s"CAST(sum(CASE WHEN word IN $stop THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                      AS DOUBLE) / 1048576.0 AS xr
          FROM (SELECT doc_id, lang, word FROM ($tokCte) t WHERE word <> '') tok
          GROUP BY doc_id, lang),
        beta0 AS ${d.materialized}(
          SELECT CAST(0 AS INT) AS iter, CAST(0.0 AS DOUBLE) AS b0,
                 CAST(0.0 AS DOUBLE) AS b1, CAST(0.0 AS DOUBLE) AS mean_logloss),
        $iters
        SELECT iter, b0, b1, mean_logloss FROM beta1
        UNION ALL SELECT iter, b0, b1, mean_logloss FROM beta2
        UNION ALL SELECT iter, b0, b1, mean_logloss FROM beta3
        ORDER BY iter"""
  }

  // ---------------------------------------------------------------- q414

  /** Tokenizer vocabulary OOV audit: fix the vocabulary at the corpus
    * top-200 word types (frequency desc, word asc — total order), then
    * report per (lang, source) the token-level and type-level
    * out-of-vocabulary rates — the table that says which slices a
    * fixed vocab underserves. Corpus-sized work: one explode + two
    * keyed aggs; the vocab is 200 rows and broadcast-joins into the
    * per-slice token stream.
    */
  val q414VocabOov: QueryDef = QueryDef.sql("q414_vocab_oov", "r14_", "documents")(vocabOovSql)

  private def vocabOovSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val tokCte =
      s"""SELECT lang, source,
                   ${d.words} AS word
            FROM $tbl"""
    s"""WITH tok AS ${d.materialized}(
          SELECT lang, source, word
          FROM ($tokCte) t
          WHERE word <> ''),
        vocab AS ${d.materialized}(
          SELECT word
          FROM (SELECT word, CAST(count(*) AS BIGINT) AS c
                FROM tok GROUP BY word
                ORDER BY c DESC, word LIMIT 200) f),
        slice AS ${d.materialized}(
          SELECT t.lang, t.source, t.word,
                 CAST(count(*) AS BIGINT) AS c,
                 max(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS oov
          FROM tok t LEFT JOIN vocab v ON v.word = t.word
          GROUP BY t.lang, t.source, t.word)
        SELECT lang, source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN oov = 1 THEN c ELSE 0 END) AS BIGINT) AS n_oov_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(oov) AS BIGINT) AS n_oov_types,
               ${snap("CAST(sum(CASE WHEN oov = 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c)")}
                 AS oov_token_rate,
               ${snap("CAST(sum(oov) AS DOUBLE) / count(*)")} AS oov_type_rate
        FROM slice
        GROUP BY lang, source
        ORDER BY lang, source"""
  }

  // ---------------------------------------------------------------- q415

  /** Class-balanced reweighting (Cui et al. 2019, "Class-Balanced Loss
    * Based on Effective Number of Samples"): per label, the effective
    * sample count (1 − β^n)/(1 − β) with β = 0.999, the inverse-
    * effective weight normalized so weights sum to the class count,
    * and the per-class expected share of a reweighted epoch. β^n rides
    * snapped exp(n·ln β) — the 2⁻³⁰ snap absorbs cross-libm ulp. One
    * keyed agg over the embeddings table; everything after runs on
    * #labels rows.
    */
  val q415ClassBalance: QueryDef =
    QueryDef.sql("q415_class_balance", "r14_", "embeddings")(classBalanceSql)

  private def classBalanceSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val beta = "CAST(0.999 AS DOUBLE)"
    val effN = snap(s"(1.0 - ${snap(s"exp(n * ln($beta))")}) / (1.0 - $beta)")
    s"""WITH cnt AS ${d.materialized}(
          SELECT label, CAST(count(*) AS BIGINT) AS n
          FROM $tbl GROUP BY label),
        w AS ${d.materialized}(
          SELECT label, n, $effN AS eff_n, ${snap(s"1.0 / ($effN)")} AS w_raw
          FROM cnt),
        z AS ${d.materialized}(
          SELECT CAST(count(*) AS BIGINT) AS k, sum(w_raw) AS wsum FROM w)
        SELECT w.label, w.n, w.eff_n,
               ${snap("w.w_raw * z.k / z.wsum")} AS w_norm,
               ${snap("w.w_raw * w.n / (SELECT sum(w2.w_raw * w2.n) FROM w w2)")}
                 AS epoch_share
        FROM w CROSS JOIN z
        ORDER BY w.label"""
  }

  val all: Seq[QueryDef] =
    Seq(q411ScalingEpochs, q412WaterfillBudget, q413LogisticQuality,
      q414VocabOov, q415ClassBalance)
}
