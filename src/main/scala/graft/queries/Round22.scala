package graft.queries

import graft.queries.SqlFragments._

/** Round-22 additions (q451+): mining and profiling — rare-word-blocked
  * cross-lingual bitext mining (the Artetxe & Schwenk candidate shape
  * without the encoder: block on rare words so the corpus never
  * self-joins, score candidates by exact count-vector cosine),
  * pipeline-order planning (dedup-then-filter vs filter-then-dedup
  * token costs from one scan's sufficient statistics), per-label
  * embedding variance profiles, mean segmental type-token ratio, and
  * the duplicate-class multiplicity histogram every dedup report
  * leads with. House invariants as Round13-21.
  */
object Round22 {

  // ---------------------------------------------------------------- q451

  /** Cross-lingual bitext candidate mining: document pairs in DIFFERENT
    * languages that share a RARE 3-gram (gram document-frequency ≤ 3 —
    * the blocking key; the synthetic corpus's ~30-word vocabulary makes
    * every single WORD common, so grams are the sparse unit), scored by
    * exact word-count-vector cosine, top-15. The blocking bound makes
    * the candidate fan ≤ df² per rare gram — everything else is keyed
    * joins on (doc, word) and 32-char gram hashes. The shape of
    * margin-based mining with the encoder swapped for exact lexical
    * counts.
    */
  val q451BitextMining: QueryDef =
    QueryDef.sql("q451_bitext_mining", "r22_", "documents")(bitextSql)

  private def bitextSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val w = "OVER (PARTITION BY doc_id ORDER BY rnk)"
    s"""WITH tok AS (${rankTokens(tbl, d, "source", "doc_id")}),
        wc AS (
          SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
          FROM tok GROUP BY 1, 2),
        nrm AS (
          SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM wc GROUP BY 1),
        lang AS (SELECT doc_id, lang FROM $tbl),
        dg AS (
          SELECT doc_id,
                 md5(word || ' ' || lead(word, 1) $w || ' ' || lead(word, 2) $w) AS g
          FROM tok),
        gd AS (SELECT doc_id, g FROM dg WHERE g IS NOT NULL GROUP BY 1, 2),
        rare AS (
          SELECT g FROM gd GROUP BY g HAVING count(*) <= 3),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM gd a
          JOIN rare r ON r.g = a.g
          JOIN gd b ON b.g = a.g AND a.doc_id < b.doc_id
          JOIN lang la ON la.doc_id = a.doc_id
          JOIN lang lb ON lb.doc_id = b.doc_id AND lb.lang <> la.lang
          GROUP BY 1, 2),
        dots AS (
          SELECT c.doc_a, c.doc_b, CAST(sum(wa.c * wb.c) AS BIGINT) AS dot
          FROM cand c
          JOIN wc wa ON wa.doc_id = c.doc_a
          JOIN wc wb ON wb.doc_id = c.doc_b AND wb.word = wa.word
          GROUP BY 1, 2)
        SELECT d.doc_a, d.doc_b, la.lang AS lang_a, lb.lang AS lang_b,
               ${snap("d.dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2)")} AS cosine
        FROM dots d
        JOIN nrm na ON na.doc_id = d.doc_a
        JOIN nrm nb ON nb.doc_id = d.doc_b
        JOIN lang la ON la.doc_id = d.doc_a
        JOIN lang lb ON lb.doc_id = d.doc_b
        ORDER BY cosine DESC, doc_a, doc_b
        LIMIT 15"""
  }

  // ---------------------------------------------------------------- q452

  /** Pipeline-order planner: dedup-then-filter vs filter-then-dedup,
    * costed from ONE scan's sufficient statistics. Stage costs count
    * tokens entering each stage; the final corpus is identical either
    * way (both operators are deterministic doc-level predicates:
    * "first occurrence of my text-normal key" × "length ≥ 150"), so
    * the table reports the same survivors with different intermediate
    * token bills — the argument for running the cheap filter first.
    */
  val q452PipelineOrder: QueryDef =
    QueryDef.sql("q452_pipeline_order", "r22_", "documents")(pipelineOrderSql)

  private def pipelineOrderSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val nWords = d.wordCount
    s"""WITH d AS (
          SELECT doc_id, $nWords AS nw, md5(lower(text)) AS k
          FROM $tbl),
        marked AS (
          SELECT doc_id, nw,
                 row_number() OVER (PARTITION BY k ORDER BY doc_id) = 1 AS keep_dedup,
                 nw >= 150 AS keep_filter
          FROM d),
        -- filter-then-dedup re-elects first occurrences among filter
        -- survivors; dedup-then-filter filters dedup survivors
        m2 AS (
          SELECT doc_id, nw, keep_dedup, keep_filter,
                 keep_filter AND
                   row_number() OVER (PARTITION BY keep_filter, k ORDER BY doc_id) = 1
                   AS keep_dedup_after_filter
          FROM (SELECT m.doc_id, m.nw, m.keep_dedup, m.keep_filter, d.k
                FROM marked m JOIN d ON d.doc_id = m.doc_id) x)
        SELECT order_name, tokens_stage1, tokens_stage2, survivors, surviving_tokens
        FROM (
          SELECT 'dedup_first' AS order_name,
                 CAST(sum(nw) AS BIGINT) AS tokens_stage1,
                 CAST(sum(CASE WHEN keep_dedup THEN nw ELSE 0 END) AS BIGINT)
                   AS tokens_stage2,
                 CAST(sum(CASE WHEN keep_dedup AND keep_filter THEN 1 ELSE 0 END)
                      AS BIGINT) AS survivors,
                 CAST(sum(CASE WHEN keep_dedup AND keep_filter THEN nw ELSE 0 END)
                      AS BIGINT) AS surviving_tokens
          FROM m2
          UNION ALL
          SELECT 'filter_first',
                 CAST(sum(nw) AS BIGINT),
                 CAST(sum(CASE WHEN keep_filter THEN nw ELSE 0 END) AS BIGINT),
                 CAST(sum(CASE WHEN keep_dedup_after_filter THEN 1 ELSE 0 END)
                      AS BIGINT),
                 CAST(sum(CASE WHEN keep_dedup_after_filter THEN nw ELSE 0 END)
                      AS BIGINT)
          FROM m2)
        ORDER BY order_name"""
  }

  // ---------------------------------------------------------------- q453

  /** Per-label embedding variance profile from exact sufficient
    * statistics (Σq(v), Σq(v²) per dimension): covariance-diagonal
    * trace, the largest single-dimension variance, and the
    * anisotropy ratio max/mean — the cheap "is one dimension eating
    * the space" check before anyone pays for a full PCA.
    */
  val q453VarianceProfile: QueryDef =
    QueryDef.sql("q453_variance_profile", "r22_", "embeddings")(varianceSql)

  private def varianceSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val e = d.embeddingCells(tbl, "vec_id, label", 1)
    s"""WITH e AS ($e),
        dimstats AS (
          SELECT label, dim,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(${qi("v")}) AS BIGINT) AS s1,
                 CAST(sum(${qi("v * v")}) AS BIGINT) AS s2
          FROM e GROUP BY 1, 2),
        dimvar AS (
          SELECT label, dim,
                 ${snap("CAST(s2 AS DOUBLE) / (1048576.0 * n) - (CAST(s1 AS DOUBLE) / (1048576.0 * n)) * (CAST(s1 AS DOUBLE) / (1048576.0 * n))")}
                   AS var
          FROM dimstats)
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_dims,
               ${snap("sum(var)")} AS trace,
               max(var) AS max_dim_var,
               ${snap("max(var) * count(*) / sum(var)")} AS anisotropy_ratio
        FROM dimvar
        GROUP BY label
        ORDER BY label"""
  }

  // ---------------------------------------------------------------- q454

  /** Mean segmental type-token ratio (MSTTR-50): each document's kept
    * tokens chunk into non-overlapping 50-token segments, each FULL
    * segment scores distinct/50, and the per-source mean is the
    * length-robust lexical-diversity number (plain TTR shrinks with
    * document length; MSTTR doesn't). Row-local chunking + one keyed
    * agg.
    */
  val q454Msttr: QueryDef = QueryDef.sql("q454_msttr", "r22_", "documents")(msttrSql)

  private def msttrSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${rankTokens(tbl, d, "source", "doc_id")}),
        seg AS (
          SELECT source, doc_id,
                 CAST(floor(rnk / 50.0) AS BIGINT) AS seg_id,
                 CAST(count(*) AS BIGINT) AS n_tok,
                 CAST(count(DISTINCT word) AS BIGINT) AS n_typ
          FROM tok
          GROUP BY source, doc_id, CAST(floor(rnk / 50.0) AS BIGINT))
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_segments,
               ${snap("avg(CAST(n_typ AS DOUBLE) / 50.0)")} AS msttr50,
               min(n_typ) AS min_types,
               max(n_typ) AS max_types
        FROM seg
        WHERE n_tok = 50
        GROUP BY source
        ORDER BY source"""
  }

  // ---------------------------------------------------------------- q455

  /** Duplicate-class multiplicity histogram — the first table of every
    * dedup report: 16-token segment classes bucketed by how often they
    * repeat (2, 3, 4, 5+), with class counts, instance counts, and the
    * share of ALL segment instances each bucket owns. One hash agg
    * over segment hashes.
    */
  val q455DupHistogram: QueryDef =
    QueryDef.sql("q455_dup_histogram", "r22_", "documents")(dupHistSql)

  private def dupHistSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val phrase = d.stringAgg("word", "rnk")
    s"""WITH seg AS (
          SELECT doc_id,
                 CAST(floor(rnk / 16.0) AS BIGINT) AS seg_id,
                 md5($phrase) AS h
          FROM (${rankTokens(tbl, d, "source", "doc_id")}) tk
          GROUP BY doc_id, CAST(floor(rnk / 16.0) AS BIGINT)),
        classes AS (
          SELECT h, CAST(count(*) AS BIGINT) AS m FROM seg GROUP BY 1),
        tot AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM classes)
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(m) AS BIGINT) AS n_instances,
               ${snap("CAST(sum(m) AS DOUBLE) / max(t.n)")} AS instance_share
        FROM (SELECT CASE WHEN m >= 5 THEN '5+' ELSE CAST(m AS STRING) END AS bucket, m
              FROM classes WHERE m >= 2) x
        CROSS JOIN tot t
        GROUP BY bucket
        ORDER BY bucket"""
  }

  val all: Seq[QueryDef] =
    Seq(q451BitextMining, q452PipelineOrder, q453VarianceProfile,
      q454Msttr, q455DupHistogram)
}
