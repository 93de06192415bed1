package graft.queries

import graft.queries.SqlFragments._

/** Round-21 additions (q446+): curation-policy analytics — duplicate-
  * count reweighting of a deduplicated corpus (train once, weight by
  * multiplicity — Lee et al. 2022's alternative to hard dropping),
  * the quality-filter ablation grid (all 2³ filter combinations in one
  * scan), sampled-audit calibration (is a 10% sample enough to measure
  * the dup rate?), rare-gram identifiability (membership-inference
  * exposure), and per-source redundancy curves over ingest order.
  * House invariants as Round13-20: per-row floats quantize to 2²⁰
  * integer micro-units and ride exact BIGINT sums; final ratios snap
  * to the dyadic 2⁻³⁰ grid.
  */
object Round21 {

  /** (doc_id, source, seg_id, h) 16-token segment hashes (q416 unit). */
  private def segCte(tbl: String, d: Dialect): String = {
    val phrase = d.stringAgg("word", "rnk")
    s"""SELECT doc_id, source,
               CAST(floor(rnk / 16.0) AS BIGINT) AS seg_id,
               md5($phrase) AS h,
               CAST(count(*) AS BIGINT) AS n_tok
        FROM (${rankTokens(tbl, d, "source", "doc_id")}) tk
        GROUP BY doc_id, source, CAST(floor(rnk / 16.0) AS BIGINT)"""
  }

  // ---------------------------------------------------------------- q446

  /** Duplicate-count reweighting: keep only each segment's FIRST
    * occurrence but weight it by its corpus multiplicity (Lee et al.
    * 2022's "train on unique text, weight by count" alternative to
    * hard dropping). Per source: surviving segments/tokens, the
    * reweighted token mass (Σ multiplicity·tokens over survivors), and
    * the mass error vs the original corpus — zero when every duplicate
    * class is wholly within one source and token-counts match across
    * instances.
    */
  val q446DedupReweight: QueryDef =
    QueryDef.sql("q446_dedup_reweight", "r21_", "documents")(reweightSql)

  private def reweightSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH seg AS (${segCte(tbl, d)}),
        marked AS (
          SELECT source, n_tok,
                 row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_id) AS rn,
                 CAST(count(*) OVER (PARTITION BY h) AS BIGINT) AS mult,
                 CAST(sum(n_tok) OVER (PARTITION BY h) AS BIGINT) AS class_tok
          FROM seg)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_surviving,
               CAST(sum(n_tok) AS BIGINT) AS tokens_surviving,
               CAST(sum(mult * n_tok) AS BIGINT) AS tokens_reweighted,
               CAST(sum(class_tok) AS BIGINT) AS tokens_original_class,
               ${snap("CAST(sum(mult * n_tok) AS DOUBLE) / sum(class_tok)")}
                 AS mass_fidelity
        FROM marked
        WHERE rn = 1
        GROUP BY source
        ORDER BY source"""
  }

  // ---------------------------------------------------------------- q447

  /** Quality-filter ablation grid: three independent document filters —
    * length (≥ 150 tokens), lexical diversity (distinct-word ratio
    * ≥ 0.35), and dup-segment-free — evaluated as a 3-bit mask in ONE
    * scan, with all 8 combinations' document/token survival reported.
    * The table that says which filter actually bites before a rollout
    * commits to a policy.
    */
  val q447FilterAblation: QueryDef =
    QueryDef.sql("q447_filter_ablation", "r21_", "documents")(ablationSql)

  private def ablationSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH seg AS (${segCte(tbl, d)}),
        dupdoc AS (
          SELECT doc_id
          FROM (SELECT doc_id,
                       row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_id) AS rn
                FROM seg) x
          WHERE rn >= 2
          GROUP BY doc_id),
        feat AS (
          SELECT t.doc_id,
                 CAST(count(*) AS BIGINT) AS nw,
                 CAST(count(DISTINCT t.word) AS BIGINT) AS nv
          FROM (${rankTokens(tbl, d, "source", "doc_id")}) t
          GROUP BY t.doc_id),
        mask AS (
          SELECT (CASE WHEN f.nw >= 150 THEN 4 ELSE 0 END) +
                 (CASE WHEN f.nv * 100 >= f.nw * 35 THEN 2 ELSE 0 END) +
                 (CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS bits,
                 f.nw
          FROM feat f LEFT JOIN dupdoc d ON d.doc_id = f.doc_id)
        SELECT CAST(bits AS INT) AS bits,
               bits >= 4 AS pass_length,
               (bits % 4) >= 2 AS pass_diversity,
               (bits % 2) = 1 AS pass_nodup,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nw) AS BIGINT) AS n_tokens
        FROM mask
        GROUP BY bits
        ORDER BY bits"""
  }

  // ---------------------------------------------------------------- q448

  /** Sampled-audit calibration: the duplicate-segment rate measured on
    * deterministic md5 doc subsamples (~10%, ~50%) vs the full corpus —
    * the "can we audit on a sample" table. Sampling BEFORE dedup
    * undercounts duplication (pairs straddle the cut), and this query
    * quantifies exactly how much at each rate.
    */
  val q448SampleAudit: QueryDef =
    QueryDef.sql("q448_sample_audit", "r21_", "documents")(sampleAuditSql)

  private def sampleAuditSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val bk = s"${md5i(s"CAST(doc_id AS ${d.str}) || ':audit'", d)} % 10"
    def rateFor(name: String, pred: String): String =
      s"""$name AS (
            SELECT CAST(count(*) AS BIGINT) AS n_seg,
                   CAST(sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
            FROM (SELECT row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_id)
                           AS rn
                  FROM seg WHERE $pred) x)"""
    s"""WITH lab AS (SELECT doc_id, $bk AS b FROM $tbl),
        seg0 AS (${segCte(tbl, d)}),
        seg AS (
          SELECT s.doc_id, s.seg_id, s.h, lab.b
          FROM seg0 s JOIN lab ON lab.doc_id = s.doc_id),
        ${rateFor("full_r", "1 = 1")},
        ${rateFor("half_r", "b < 5")},
        ${rateFor("tenth_r", "b < 1")}
        SELECT sample_name, n_seg, n_dup,
               ${snap("CAST(n_dup AS DOUBLE) / n_seg")} AS dup_rate
        FROM (
          SELECT 'full' AS sample_name, n_seg, n_dup FROM full_r
          UNION ALL SELECT 'half', n_seg, n_dup FROM half_r
          UNION ALL SELECT 'tenth', n_seg, n_dup FROM tenth_r)
        ORDER BY sample_name"""
  }

  // ---------------------------------------------------------------- q449

  /** Rare-gram identifiability: each document's RAREST corpus 3-gram
    * (minimum document frequency, lexicographic tiebreak) and whether
    * that gram pins the document uniquely — the membership-inference /
    * attribution exposure surface: a doc whose rarest gram has df = 1
    * is trivially identifiable from one probe. Per source: docs,
    * uniquely-identifiable docs, rate, and the mean df of rarest grams.
    */
  val q449RareGramKeys: QueryDef =
    QueryDef.sql("q449_rare_gram_keys", "r21_", "documents")(rareGramSql)

  private def rareGramSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val w = "OVER (PARTITION BY doc_id ORDER BY rnk)"
    s"""WITH tok AS (${rankTokens(tbl, d, "source", "doc_id")}),
        grams AS (
          SELECT source, doc_id, g
          FROM (SELECT source, doc_id,
                       word || ' ' || lead(word, 1) $w || ' ' || lead(word, 2) $w AS g
                FROM tok) x
          WHERE g IS NOT NULL
          GROUP BY 1, 2, 3),
        df AS (
          SELECT g, CAST(count(*) AS BIGINT) AS df
          FROM grams GROUP BY 1),
        rarest AS (
          SELECT source, doc_id, min(df) AS min_df
          FROM grams JOIN df USING (g)
          GROUP BY 1, 2)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN min_df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_identifiable,
               ${snap("CAST(sum(CASE WHEN min_df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                 AS identifiable_rate,
               ${snap("avg(CAST(min_df AS DOUBLE))")} AS mean_rarest_df
        FROM rarest
        GROUP BY source
        ORDER BY source"""
  }

  // ---------------------------------------------------------------- q450

  /** Per-source redundancy curve over ingest order: within each source,
    * docs stream in doc_id order through 5 quintiles; each quintile
    * reports what fraction of its segment instances repeat something
    * already seen EARLIER in the corpus-wide stream (first occurrence
    * by (doc_id, seg_id) order). The curve a crawler watches to decide
    * when a source is mined out. Same marking window as q416 — one
    * hash-keyed ranking, no corpus window.
    */
  val q450RedundancyCurve: QueryDef =
    QueryDef.sql("q450_redundancy_curve", "r21_", "documents")(redundancySql)

  private def redundancySql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH seg AS (${segCte(tbl, d)}),
        q AS (
          SELECT source, doc_id,
                 CAST(floor((row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
                            * 5.0 / count(*) OVER (PARTITION BY source)) AS INT)
                   AS quintile
          FROM (SELECT DISTINCT source, doc_id FROM seg) d),
        marked AS (
          SELECT s.source, s.doc_id,
                 CASE WHEN row_number() OVER (PARTITION BY s.h ORDER BY s.doc_id, s.seg_id) >= 2
                      THEN 1 ELSE 0 END AS dup
          FROM seg s)
        SELECT m.source, q.quintile,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(m.dup) AS BIGINT) AS n_redundant,
               ${snap("CAST(sum(m.dup) AS DOUBLE) / count(*)")} AS redundancy_rate
        FROM marked m JOIN q ON q.source = m.source AND q.doc_id = m.doc_id
        GROUP BY m.source, q.quintile
        ORDER BY m.source, q.quintile"""
  }

  val all: Seq[QueryDef] =
    Seq(q446DedupReweight, q447FilterAblation, q448SampleAudit,
      q449RareGramKeys, q450RedundancyCurve)
}
