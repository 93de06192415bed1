package graft.queries

import graft.queries.SqlFragments._

/** Round-25 additions (q466+): generation-quality forensics — Self-BLEU
  * corpus diversity (Zhu et al. 2018) with the top-2-per-gram trick
  * that makes leave-one-out clipping a WINDOW instead of an O(n²)
  * rescan, green-list watermark detection (Kirchenbauer et al. 2023's
  * z-test, exact integer form), and template mining (boilerplate
  * classes by content-masked token-shape hashing). House invariants as
  * Round13-24: exact BIGINT counts under every ratio, snapped dyadic
  * outputs, corpus work = scans + keyed joins/windows.
  */
object Round25 {

  // ---------------------------------------------------------------- q466

  /** Self-BLEU-2 per source (low = diverse, high = the corpus repeats
    * itself): each document's modified 1/2-gram precision against the
    * POOL OF ALL OTHER DOCUMENTS, i.e. clip(tf) = min(tf_doc(g),
    * max_{d'≠d} tf_{d'}(g)). The leave-one-out max is NOT a rescan per
    * doc: one window per gram ranks (tf DESC, doc_id) and keeps the
    * top-2, so max_other(g, d) = m2 when d is the argmax else m1 — the
    * standard distributed exclusion trick, O(|grams|) state. Per-doc
    * BLEU-2 = √(p1·p2) on snapped precisions; per-source mean. Docs
    * with < 2 tokens (no bigram) are excluded — precision is undefined
    * for them on both engines.
    */
  val q466SelfBleu: QueryDef = QueryDef.sql("q466_self_bleu", "r25_", "documents")(selfBleuSql)

  private def selfBleuSql(d: Dialect): String = {
    val tbl = d.t("documents")
    // clipped-precision pipeline for one gram order; gr = gram relation
    // (doc_id, source, g, tf)
    def prec(gr: String, out: String): String =
      s"""top_$out AS (
            SELECT g,
                   max(CASE WHEN rn = 1 THEN tf END) AS m1,
                   max(CASE WHEN rn = 1 THEN doc_id END) AS d1,
                   coalesce(max(CASE WHEN rn = 2 THEN tf END), CAST(0 AS BIGINT)) AS m2
            FROM (SELECT doc_id, g, tf,
                         row_number() OVER (PARTITION BY g
                           ORDER BY tf DESC, doc_id) AS rn
                  FROM $gr) r
            WHERE rn <= 2
            GROUP BY 1),
          $out AS (
            SELECT x.doc_id, x.source,
                   ${snap(s"""CAST(sum(least(x.tf,
                     CASE WHEN x.doc_id = t.d1 THEN t.m2 ELSE t.m1 END)) AS DOUBLE) /
                     sum(x.tf)""")} AS p
            FROM $gr x JOIN top_$out t ON t.g = x.g
            GROUP BY 1, 2)"""
    s"""WITH tok AS (${rankTokens(tbl, d, "doc_id", "source")}),
        g1 AS (
          SELECT doc_id, source, word AS g, CAST(count(*) AS BIGINT) AS tf
          FROM tok GROUP BY 1, 2, 3),
        g2 AS (
          SELECT a.doc_id, a.source, a.word || ' ' || b.word AS g,
                 CAST(count(*) AS BIGINT) AS tf
          FROM tok a JOIN tok b
            ON b.doc_id = a.doc_id AND b.rnk = a.rnk + 1
          GROUP BY 1, 2, 3),
        ${prec("g1", "p1")},
        ${prec("g2", "p2")},
        d AS (
          SELECT p1.source,
                 p1.p AS p1, p2.p AS p2,
                 ${snap("sqrt(p1.p * p2.p)")} AS bleu2
          FROM p1 JOIN p2 ON p2.doc_id = p1.doc_id)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               ${snap("sum(p1) / count(*)")} AS mean_p1,
               ${snap("sum(p2) / count(*)")} AS mean_p2,
               ${snap("sum(bleu2) / count(*)")} AS self_bleu2
        FROM d
        GROUP BY 1
        ORDER BY 1"""
  }

  // ---------------------------------------------------------------- q467

  /** Green-list watermark detector (Kirchenbauer et al. 2023): under
    * the soft watermark, token w following context c is biased toward
    * the "green" half of the vocabulary keyed by hash(c); the detector
    * computes each document's green fraction over its bigram
    * transitions and the one-proportion z-score
    * z = (2g − n)/√n (exact integer numerator). Green membership is
    * md5(prev || '|' || w) lowest hex digit parity — the same
    * engine-independent hash family as the dedup kernels, so both
    * engines replay the exact green set. An unwatermarked corpus must
    * flag ≈ the z ≥ 2 false-positive rate — the per-source flag share
    * IS the calibration check. One token scan, one self-join on
    * adjacent rank, one keyed agg.
    */
  val q467WatermarkDetect: QueryDef =
    QueryDef.sql("q467_watermark_detect", "r25_", "documents")(watermarkSql)

  private def watermarkSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val green = d match {
      case _: Spark =>
        """pmod(CAST(conv(substring(md5(concat(a.word, '|', b.word)), 32, 1),
             16, 10) AS BIGINT), 2)"""
      case DuckDb =>
        """CAST(('0x' || substring(md5(a.word || '|' || b.word), 32, 1))
             AS BIGINT) % 2"""
    }
    s"""WITH tok AS (${rankTokens(tbl, d, "doc_id", "source")}),
        tr AS (
          SELECT a.doc_id, a.source,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum($green) AS BIGINT) AS g
          FROM tok a JOIN tok b
            ON b.doc_id = a.doc_id AND b.rnk = a.rnk + 1
          GROUP BY 1, 2),
        z AS (
          SELECT doc_id, source, n, g,
                 ${snap("CAST(2 * g - n AS DOUBLE) / sqrt(CAST(n AS DOUBLE))")} AS z
          FROM tr WHERE n > 0)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               ${snap("sum(z) / count(*)")} AS mean_z,
               max(z) AS max_z,
               CAST(sum(CASE WHEN z >= 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               ${snap("CAST(sum(CASE WHEN z >= 2.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                 AS flag_share
        FROM z
        GROUP BY 1
        ORDER BY 1"""
  }

  // ---------------------------------------------------------------- q468

  /** Template mining: boilerplate detection by CONTENT-MASKED shape
    * over 16-token SEGMENTS (documents in this corpus are all unique —
    * q455's segment grain is where repetition lives): a segment's
    * template key is the md5 of its token-LENGTH sequence, so "the cat
    * sat on..." and "the dog ran on..." share a key while content
    * hashing (q455) would not. Reports template classes with ≥ 2
    * member segments (complete 16-token windows only): size, docs and sources spanned, and distinct
    * segment TEXTS inside the class — n_distinct_texts > 1 is true
    * boilerplate (shape-dup, content-distinct); = 1 is an exact dup,
    * q455's territory. One scan → per-segment shape hash → one keyed
    * agg.
    */
  val q468TemplateMining: QueryDef =
    QueryDef.sql("q468_template_mining", "r25_", "documents")(templateSql)

  private def templateSql(d: Dialect): String = {
    val tbl = d.t("documents")
    def agg(expr: String): String = d match {
      case _: Spark =>
        s"""md5(array_join(transform(array_sort(array_agg(struct(rnk, word))),
             t -> $expr), ','))"""
      case DuckDb =>
        val e = expr.replace("t.word", "word")
        s"md5(string_agg($e, ',' ORDER BY rnk))"
    }
    s"""WITH tok AS (${rankTokens(tbl, d, "doc_id", "source")}),
        seg AS (
          -- complete 16-token windows only: ragged tail segments have
          -- near-trivial shapes (a lone length digit) that would flood
          -- the class table with degenerate "templates"
          SELECT doc_id, source,
                 CAST(floor(rnk / 16.0) AS BIGINT) AS seg_id,
                 ${agg("CAST(length(t.word) AS STRING)")} AS tpl,
                 ${agg("t.word")} AS th
          FROM tok
          GROUP BY doc_id, source, CAST(floor(rnk / 16.0) AS BIGINT)
          HAVING count(*) = 16),
        cls AS (
          SELECT tpl,
                 CAST(count(*) AS BIGINT) AS n_segments,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                 CAST(count(DISTINCT th) AS BIGINT) AS n_distinct_texts,
                 CAST(min(doc_id) AS BIGINT) AS exemplar_doc
          FROM seg
          GROUP BY 1
          HAVING count(*) >= 2)
        SELECT tpl, n_segments, n_docs, n_sources, n_distinct_texts, exemplar_doc
        FROM cls
        ORDER BY n_segments DESC, tpl
        LIMIT 25"""
  }

  val all: Seq[QueryDef] =
    Seq(q466SelfBleu, q467WatermarkDetect, q468TemplateMining)
}
