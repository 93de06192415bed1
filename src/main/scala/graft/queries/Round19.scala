package graft.queries

import graft.queries.SqlFragments._

/** Round-19 additions (q436+): the production-ingest shapes — an
  * interleaved shard-manifest planner (source-balanced packing via the
  * distributed two-phase prefix sum), incremental-ingest dedup
  * classification against an existing corpus, eval-split contamination
  * measurement, a corpus release diff, and segment-dedup loss
  * attribution between sources. House invariants as Round13-18:
  * per-row floats quantize to 2²⁰ integer micro-units and ride exact
  * BIGINT sums; final ratios snap to the dyadic 2⁻³⁰ grid.
  */
object Round19 {

  /** (doc_id, source, seg_id, h): md5 of each doc's consecutive
    * 16-token segment (Round15's q416 unit). Shared by q437/q438/q440.
    */
  private def segCte(tbl: String, d: Dialect): String = {
    val phrase = d.stringAgg("word", "rnk")
    s"""SELECT doc_id, source,
               CAST(floor(rnk / 16.0) AS BIGINT) AS seg_id,
               md5($phrase) AS h
        FROM (${rankTokens(tbl, d, "source", "doc_id")}) tk
        GROUP BY doc_id, source, CAST(floor(rnk / 16.0) AS BIGINT)"""
  }

  /** md5 doc bucket in [0,10) — the deterministic split both engines
    * replay (doc_id %% 10 would alias the synthetic corpus's
    * source = doc_id %% 20 assignment and starve some sources).
    */
  private def bucket(salt: String, d: Dialect): String =
    s"${md5i(s"CAST(doc_id AS ${d.str}) || '$salt'", d)} % 10"

  // ---------------------------------------------------------------- q436

  /** Interleaved shard-manifest planner: documents order by
    * (within-source rank, source) — the round-robin interleave training
    * wants so no shard is single-source — then pack into ~4096-token
    * shards by exclusive prefix sum. The running sum is the TWO-PHASE
    * distributed prefix sum (graft.operators.Packing's shape,
    * generalized to an interleave key): per-rank-bucket totals get the
    * only unpartitioned window (tiny relation), per-doc sums ride a
    * bucket-keyed window. Output per shard: docs, tokens, source
    * spread, dominant-source share.
    */
  val q436ShardManifest: QueryDef =
    QueryDef.sql("q436_shard_manifest", "r19_", "documents")(shardSql)

  private def shardSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val nWords = d.wordCount
    val shardOf = s"cum ${d.idiv} 4096"
    s"""WITH t AS (
          SELECT source, doc_id, $nWords AS nw FROM $tbl),
        r AS (
          SELECT source, doc_id, nw,
                 CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                      AS BIGINT) AS rn
          FROM t),
        b AS (
          SELECT source, doc_id, nw, rn,
                 CAST(floor((rn - 1) / 64.0) AS BIGINT) AS bucket
          FROM r),
        bt AS (SELECT bucket, CAST(sum(nw) AS BIGINT) AS btot FROM b GROUP BY 1),
        off AS (
          SELECT bucket,
                 CAST(coalesce(sum(btot) OVER
                   (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS o
          FROM bt),
        c AS (
          SELECT b.source, b.nw,
                 o.o + CAST(coalesce(sum(b.nw) OVER
                   (PARTITION BY b.bucket ORDER BY b.rn, b.source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum
          FROM b JOIN off o ON o.bucket = b.bucket),
        sh AS (
          SELECT CAST($shardOf AS BIGINT) AS shard_id, source,
                 CAST(count(*) AS BIGINT) AS nd,
                 CAST(sum(nw) AS BIGINT) AS nt
          FROM c GROUP BY 1, 2)
        SELECT shard_id,
               CAST(sum(nd) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_sources,
               ${snap("CAST(max(nt) AS DOUBLE) / sum(nt)")} AS top_source_share
        FROM sh
        GROUP BY shard_id
        ORDER BY shard_id"""
  }

  // ---------------------------------------------------------------- q437

  /** Incremental-ingest dedup classification: the daily-batch question.
    * The standing corpus is md5-bucket(doc_id) < 8; the incoming batch
    * is the rest. Each batch doc classifies as `overlaps_corpus` (shares a
    * 16-token segment with the standing corpus), `overlaps_batch`
    * (clean vs the corpus, but an earlier batch doc — smaller doc_id —
    * shares a segment), or `fresh`. All decisions ride segment-hash
    * equi-joins; the batch never joins the corpus text.
    */
  val q437IncrementalIngest: QueryDef =
    QueryDef.sql("q437_incremental_ingest", "r19_", "documents")(ingestSql)

  private def ingestSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val bk = bucket(":ingest", d)
    s"""WITH lab AS (SELECT doc_id, $bk AS b FROM $tbl),
        seg AS (${segCte(tbl, d)}),
        oldseg AS (SELECT s.h FROM seg s JOIN lab ON lab.doc_id = s.doc_id
                   WHERE lab.b < 8 GROUP BY 1),
        newseg AS (SELECT s.doc_id, s.h FROM seg s JOIN lab ON lab.doc_id = s.doc_id
                   WHERE lab.b >= 8 GROUP BY 1, 2),
        hitsOld AS (
          SELECT n.doc_id FROM newseg n JOIN oldseg o ON o.h = n.h GROUP BY 1),
        firstNew AS (SELECT h, min(doc_id) AS fd FROM newseg GROUP BY 1),
        hitsBatch AS (
          SELECT n.doc_id
          FROM newseg n JOIN firstNew f ON f.h = n.h AND f.fd < n.doc_id
          GROUP BY 1),
        cls AS (
          SELECT d.doc_id, d.source,
                 CASE WHEN ho.doc_id IS NOT NULL THEN 'overlaps_corpus'
                      WHEN hb.doc_id IS NOT NULL THEN 'overlaps_batch'
                      ELSE 'fresh' END AS class
          FROM $tbl d
          JOIN lab ON lab.doc_id = d.doc_id AND lab.b >= 8
          LEFT JOIN hitsOld ho ON ho.doc_id = d.doc_id
          LEFT JOIN hitsBatch hb ON hb.doc_id = d.doc_id)
        SELECT class,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(min(doc_id) AS BIGINT) AS first_doc
        FROM cls
        GROUP BY class
        ORDER BY class"""
  }

  // ---------------------------------------------------------------- q438

  /** Eval-split contamination report: under the standard doc-hash 80/20
    * split, how many TEST documents share a ≥16-token segment with any
    * TRAIN document — the leakage a naive split ships. Per source:
    * test-doc counts, contaminated counts, rate. One segment-hash
    * equi-join; no text self-join.
    */
  val q438SplitContamination: QueryDef =
    QueryDef.sql("q438_split_contamination", "r19_", "documents")(contaminationSql)

  private def contaminationSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val bk = bucket(":split", d)
    s"""WITH seg AS (${segCte(tbl, d)}),
        lab AS (
          SELECT doc_id, source,
                 CASE WHEN $bk < 8 THEN 'train' ELSE 'test' END AS split
          FROM $tbl),
        trainseg AS (
          SELECT s.h FROM seg s JOIN lab l ON l.doc_id = s.doc_id
          WHERE l.split = 'train' GROUP BY 1),
        testdoc AS (
          SELECT s.doc_id, max(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS hit
          FROM seg s
          JOIN lab l ON l.doc_id = s.doc_id AND l.split = 'test'
          LEFT JOIN trainseg t ON t.h = s.h
          GROUP BY s.doc_id)
        SELECT l.source,
               CAST(count(*) AS BIGINT) AS n_test_docs,
               CAST(sum(td.hit) AS BIGINT) AS n_contaminated,
               ${snap("CAST(sum(td.hit) AS DOUBLE) / count(*)")} AS contamination_rate
        FROM testdoc td JOIN lab l ON l.doc_id = td.doc_id
        GROUP BY l.source
        ORDER BY l.source"""
  }

  // ---------------------------------------------------------------- q439

  /** Corpus release diff: version A is md5-bucket(doc_id) < 9, version
    * B the full corpus. Per source: docs/tokens added, the vocabulary the new
    * docs introduce (types absent from A's slice of that source), and
    * the relative token growth — the release-notes table of an
    * incremental corpus drop.
    */
  val q439CorpusDiff: QueryDef = QueryDef.sql("q439_corpus_diff", "r19_", "documents")(diffSql)

  private def diffSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val bk = bucket(":ver", d)
    s"""WITH lab AS (SELECT doc_id, $bk < 9 AS in_a FROM $tbl),
        tok AS (${rankTokens(tbl, d, "source", "doc_id")}),
        marked AS (
          SELECT t.source, t.word, lab.in_a
          FROM tok t JOIN lab ON lab.doc_id = t.doc_id),
        types AS (
          SELECT source, word,
                 max(CASE WHEN in_a THEN 1 ELSE 0 END) AS seen_a,
                 CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c_new
          FROM marked GROUP BY 1, 2),
        base AS (
          SELECT source,
                 CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS tok_a,
                 CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS tok_new
          FROM marked GROUP BY 1),
        docs AS (
          SELECT d.source,
                 CAST(sum(CASE WHEN lab.in_a THEN 0 ELSE 1 END) AS BIGINT)
                   AS docs_new
          FROM $tbl d JOIN lab ON lab.doc_id = d.doc_id GROUP BY 1)
        SELECT b.source, d.docs_new, b.tok_new,
               CAST(sum(CASE WHEN t.seen_a = 0 AND t.c_new > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_types,
               ${snap("CAST(b.tok_new AS DOUBLE) / b.tok_a")} AS token_growth
        FROM types t
        JOIN base b ON b.source = t.source
        JOIN docs d ON d.source = t.source
        GROUP BY b.source, d.docs_new, b.tok_new, b.tok_a
        ORDER BY b.source"""
  }

  // ---------------------------------------------------------------- q440

  /** Segment-dedup loss attribution: every duplicate 16-token segment
    * instance (q416's unit) attributes its loss to the source of the
    * FIRST occurrence — the directional (loser ← winner) matrix that
    * says who is uploading whose content. First occurrence is rank 1
    * of the hash-partitioned (doc_id, seg_id) window — q416's marking
    * pass; the matrix joins on the hash only.
    */
  val q440DedupAttribution: QueryDef =
    QueryDef.sql("q440_dedup_attribution", "r19_", "documents")(attributionSql)

  private def attributionSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH seg AS (${segCte(tbl, d)}),
        marked AS (
          SELECT h, source,
                 row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_id) AS rn
          FROM seg),
        winners AS (
          SELECT h, source AS winner FROM marked WHERE rn = 1),
        losses AS (
          SELECT m.source AS loser, w.winner
          FROM marked m JOIN winners w ON w.h = m.h
          WHERE m.rn >= 2)
        SELECT loser, winner, CAST(count(*) AS BIGINT) AS n_lost_segments
        FROM losses
        GROUP BY 1, 2
        ORDER BY 1, 2"""
  }

  val all: Seq[QueryDef] =
    Seq(q436ShardManifest, q437IncrementalIngest, q438SplitContamination,
      q439CorpusDiff, q440DedupAttribution)
}
