package graft.queries

import graft.queries.SqlFragments._

/** Round-15 additions (q416+): the corpus-quality audits between dedup
  * and training — segment-granular duplicate-token accounting (the
  * removal-rate table ExactSubstr dedup reports, Lee et al. 2022),
  * embedding prototypicality banding (SemDeDup/D4-style centroid
  * distance filtering, Abbas et al. 2023), a nearest-centroid label
  * noise confusion matrix (Confident Learning shape, Northcutt et al.
  * 2021), per-source Zipf power-law fits (the classic corpus health
  * check), and the one-row-per-source dataset card every release
  * ships. House invariants: per-row float quantities quantize to
  * integer micro-units (2²⁰) and ride exact BIGINT sums so aggregation
  * order can never split the engines; final ratios snap to the dyadic
  * 2⁻³⁰ grid.
  */
object Round15 {

  /** (label, dim, m): per-label centroid of the embeddings table with
    * exact arithmetic — every float component quantizes to the 2²⁰
    * integer grid, per-(label,dim) sums are BIGINT, and the final mean
    * snaps. Shared by q417/q418. Spark `pos` is 0-based and DuckDB
    * `generate_subscripts` 1-based; dims only ever join within one
    * engine, so the offset is invisible.
    */
  private def centroidCte(tbl: String, d: Dialect): String = {
    val e = d.embeddingCells(tbl, "vec_id, label", 1)
    s"""e AS ($e),
        cent AS (
          SELECT label, dim,
                 ${snap(s"CAST(sum(${qi("v")}) AS DOUBLE) / (1048576.0 * count(*))")} AS m
          FROM e
          GROUP BY 1, 2)"""
  }

  // ---------------------------------------------------------------- q416

  /** Segment-granular duplicate-token accounting — the removal-rate
    * table an ExactSubstr dedup run reports (Lee et al. 2022 measure
    * ~3-8% of web-corpus tokens sit in repeated spans). Each document's
    * kept tokens chunk into consecutive 16-token segments (row-local),
    * a segment instance is DUPLICATE if the same text occurred earlier
    * in (doc_id, seg) order anywhere in the corpus, and per source the
    * table reports segment/token duplication rates. Wide shuffles: the
    * per-doc window and one md5-keyed window — both partial-friendly,
    * both on hashes, not text.
    */
  val q416SegmentDedup: QueryDef =
    QueryDef.sql("q416_segment_dedup", "r15_", "documents")(segmentDedupSql)

  private def segmentDedupSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val phrase = d.stringAgg("word", "rnk")
    s"""WITH tok AS (${rankTokens(tbl, d, "source", "doc_id")}),
        seg AS (
          SELECT source, doc_id,
                 CAST(floor(rnk / 16.0) AS BIGINT) AS seg_id,
                 md5($phrase) AS h,
                 CAST(count(*) AS BIGINT) AS n_tok
          FROM tok
          GROUP BY source, doc_id, CAST(floor(rnk / 16.0) AS BIGINT)),
        marked AS (
          SELECT source, n_tok,
                 CASE WHEN row_number() OVER
                        (PARTITION BY h ORDER BY doc_id, seg_id) >= 2
                      THEN 1 ELSE 0 END AS dup
          FROM seg)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(dup) AS BIGINT) AS n_dup_segments,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(sum(dup * n_tok) AS BIGINT) AS n_dup_tokens,
               ${snap("CAST(sum(dup * n_tok) AS DOUBLE) / sum(n_tok)")} AS dup_token_rate
        FROM marked
        GROUP BY source
        ORDER BY source"""
  }

  // ---------------------------------------------------------------- q417

  /** Embedding prototypicality banding (SemDeDup / D4 posture, Abbas et
    * al. 2023): cosine of every vector to its OWN label centroid, then
    * per label a cume_dist band — the bottom decile (outliers/noise)
    * and top decile (over-prototypical near-dups) are marked for drop,
    * the middle 80% kept. Exact path: quantized component sums for the
    * centroid, quantized per-dim products for the dot/norms, snapped
    * cosine, total-order (cos, vec_id) banding. Corpus-sized work is
    * one explode + two keyed aggs; centroids are #labels×#dims rows
    * (broadcast at scale).
    */
  val q417Prototypicality: QueryDef =
    QueryDef.sql("q417_prototypicality", "r15_", "embeddings")(prototypicalitySql)

  private def prototypicalitySql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    s"""WITH ${centroidCte(tbl, d)},
        cn AS (
          SELECT label, CAST(sum(${qi("m * m")}) AS BIGINT) AS nrm2q
          FROM cent GROUP BY 1),
        dots AS (
          SELECT e.vec_id, e.label,
                 CAST(sum(${qi("e.v * c.m")}) AS BIGINT) AS dotq,
                 CAST(sum(${qi("e.v * e.v")}) AS BIGINT) AS vnrm2q
          FROM e JOIN cent c ON c.label = e.label AND c.dim = e.dim
          GROUP BY 1, 2),
        cos AS (
          SELECT d.vec_id, d.label,
                 ${snap("d.dotq / sqrt(CAST(d.vnrm2q AS DOUBLE) * cn.nrm2q)")} AS cos_c
          FROM dots d JOIN cn ON cn.label = d.label),
        banded AS (
          SELECT label, cos_c,
                 CASE WHEN cume_dist() OVER (PARTITION BY label ORDER BY cos_c, vec_id)
                        <= CAST(0.1 AS DOUBLE) THEN 'drop_outlier'
                      WHEN cume_dist() OVER (PARTITION BY label ORDER BY cos_c, vec_id)
                        > CAST(0.9 AS DOUBLE) THEN 'drop_neardup'
                      ELSE 'keep' END AS band
          FROM cos)
        SELECT label, band,
               CAST(count(*) AS BIGINT) AS n,
               ${snap("avg(cos_c)")} AS mean_cos,
               min(cos_c) AS min_cos,
               max(cos_c) AS max_cos
        FROM banded
        GROUP BY 1, 2
        ORDER BY 1, 2"""
  }

  // ---------------------------------------------------------------- q418

  /** Nearest-centroid label-noise audit (the Confident Learning joint
    * matrix shape, Northcutt et al. 2021): predict every vector's label
    * as the centroid with the highest snapped cosine (ties break to the
    * smaller label — a total order), emit the (label, pred_label)
    * confusion counts plus per-cell mean confidence. The candidate fan
    * is #vectors×#labels — at 100 TB the #labels×#dims centroid table
    * broadcasts and the fan stays a map-side explode, no shuffle growth.
    */
  val q418LabelNoise: QueryDef =
    QueryDef.sql("q418_label_noise", "r15_", "embeddings")(labelNoiseSql)

  private def labelNoiseSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    s"""WITH ${centroidCte(tbl, d)},
        cn AS (
          SELECT label, CAST(sum(${qi("m * m")}) AS BIGINT) AS nrm2q
          FROM cent GROUP BY 1),
        dots AS (
          SELECT e.vec_id, e.label, c.label AS cand,
                 CAST(sum(${qi("e.v * c.m")}) AS BIGINT) AS dotq,
                 CAST(sum(${qi("e.v * e.v")}) AS BIGINT) AS vnrm2q
          FROM e JOIN cent c ON c.dim = e.dim
          GROUP BY 1, 2, 3),
        scored AS (
          SELECT d.vec_id, d.label, d.cand,
                 ${snap("d.dotq / sqrt(CAST(d.vnrm2q AS DOUBLE) * cn.nrm2q)")} AS cos_c
          FROM dots d JOIN cn ON cn.label = d.cand),
        best AS (
          SELECT vec_id, label, cand AS pred, cos_c
          FROM (SELECT *, row_number() OVER
                  (PARTITION BY vec_id ORDER BY cos_c DESC, cand) AS rn
                FROM scored)
          WHERE rn = 1)
        SELECT label, pred,
               CAST(count(*) AS BIGINT) AS n,
               ${snap("avg(cos_c)")} AS mean_conf
        FROM best
        GROUP BY 1, 2
        ORDER BY 1, 2"""
  }

  // ---------------------------------------------------------------- q419

  /** Per-source Zipf power-law fit: least squares of ln(count) on
    * ln(rank) over each source's top-100 word types (rank by count
    * desc, word asc — total order). The regression's five sufficient
    * statistics ride quantized-integer sums (ln values ≤ ~12, products
    * ≤ ~150 → ≤2⁴⁸ micro-units; Σ over 100 terms is exact BIGINT), so
    * slope/intercept/R² are bit-identical across engines. A healthy
    * natural-language source fits slope ≈ −1.
    */
  val q419ZipfFit: QueryDef = QueryDef.sql("q419_zipf_fit", "r15_", "documents")(zipfSql)

  private def zipfSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val deq = "CAST(1048576 AS DOUBLE)"
    s"""WITH tok AS (${rankTokens(tbl, d, "source", "doc_id")}),
        wc AS (
          SELECT source, word, CAST(count(*) AS BIGINT) AS c
          FROM tok GROUP BY 1, 2),
        ranked AS (
          SELECT source,
                 CAST(row_number() OVER
                   (PARTITION BY source ORDER BY c DESC, word) AS BIGINT) AS r,
                 c
          FROM wc),
        pts AS (
          SELECT source,
                 ${qi("ln(CAST(r AS DOUBLE))")} AS xq,
                 ${qi("ln(CAST(c AS DOUBLE))")} AS yq,
                 ${qi("ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))")} AS xyq,
                 ${qi("ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))")} AS xxq,
                 ${qi("ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))")} AS yyq
          FROM ranked
          WHERE r <= 100),
        s AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(xq) AS DOUBLE) / $deq AS sx,
                 CAST(sum(yq) AS DOUBLE) / $deq AS sy,
                 CAST(sum(xyq) AS DOUBLE) / $deq AS sxy,
                 CAST(sum(xxq) AS DOUBLE) / $deq AS sxx,
                 CAST(sum(yyq) AS DOUBLE) / $deq AS syy
          FROM pts GROUP BY 1)
        SELECT source, n AS n_types,
               ${snap("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS slope,
               ${snap("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n")}
                 AS intercept,
               CASE WHEN n * syy - sy * sy <= 0 THEN NULL
                    ELSE ${snap("((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy))")}
               END AS r2
        FROM s
        ORDER BY source"""
  }

  // ---------------------------------------------------------------- q420

  /** The dataset card: one row per source with the release-notes
    * numbers — document/token counts (exact), exact-duplicate rate
    * (md5), language-mix entropy in nats (exact counts, quantized
    * per-lang terms), mean and lower-median tokens per doc. Everything
    * derives from two keyed aggs over one scan; the median is an exact
    * order statistic (row_number = floor((n+1)/2) on a total order),
    * not an interpolating quantile, so both engines pick the same
    * element.
    */
  val q420DatasetCard: QueryDef =
    QueryDef.sql("q420_dataset_card", "r15_", "documents")(datasetCardSql)

  private def datasetCardSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val nWords = d.wordCount
    s"""WITH d AS (
          SELECT source, doc_id, lang, md5(text) AS h, $nWords AS nw
          FROM $tbl),
        base AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(nw) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT h) AS BIGINT) AS n_unique_docs
          FROM d GROUP BY 1),
        med AS (
          SELECT source, nw AS median_tokens
          FROM (SELECT source, nw,
                       row_number() OVER
                         (PARTITION BY source ORDER BY nw, doc_id) AS rn,
                       count(*) OVER (PARTITION BY source) AS n
                FROM d) x
          WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)),
        lc AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
        ent AS (
          SELECT lc.source,
                 CAST(sum(${qi("-(CAST(lc.c AS DOUBLE) / b.n_docs) * ln(CAST(lc.c AS DOUBLE) / b.n_docs)")})
                      AS DOUBLE) / 1048576.0 AS hq
          FROM lc JOIN base b ON b.source = lc.source
          GROUP BY 1)
        SELECT b.source, b.n_docs, b.n_tokens, b.n_unique_docs,
               ${snap("1.0 - CAST(b.n_unique_docs AS DOUBLE) / b.n_docs")} AS dup_rate,
               ${snap("CAST(b.n_tokens AS DOUBLE) / b.n_docs")} AS mean_tokens,
               m.median_tokens,
               ${snap("e.hq")} AS lang_entropy_nats
        FROM base b
        JOIN med m ON m.source = b.source
        JOIN ent e ON e.source = b.source
        ORDER BY b.source"""
  }

  val all: Seq[QueryDef] =
    Seq(q416SegmentDedup, q417Prototypicality, q418LabelNoise,
      q419ZipfFit, q420DatasetCard)
}
