package graft.queries

import graft.queries.SqlFragments._

/** Round-29 additions (q476+): inference-economics audits —
  * speculative-decoding acceptance rate under a corpus-bigram draft
  * model (what share of transitions a 1-gram-context draft would get
  * accepted — the planning number for speculative decoding), and
  * prefix-cache ROI (the token savings KV prefix sharing earns on this
  * corpus, the vLLM-style radix-cache sizing number). House invariants
  * as Round13-28.
  */
object Round29 {

  // ---------------------------------------------------------------- q476

  /** Speculative-decoding acceptance audit: the draft model is the
    * corpus bigram argmax (most frequent next word per context, word-asc
    * tie-break — a total order both engines share); acceptance rate =
    * the share of transitions where the draft equals the actual next
    * token, per source, plus the expected speedup 1/(1−α) for
    * single-token lookahead. The number that says whether a tiny n-gram
    * draft is worth wiring in front of the big model ON THIS CORPUS.
    * One token scan → transitions; the argmax table is
    * vocabulary-sized and equi-joins back.
    */
  val q476SpeculativeAcceptance: QueryDef =
    QueryDef.sql("q476_speculative_acceptance", "r29_", "documents")(speculativeSql)

  private def speculativeSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${rankTokens(tbl, d, "doc_id", "source")}),
        tr AS (
          SELECT a.source, a.word AS prev, b.word AS nxt
          FROM tok a JOIN tok b
            ON b.doc_id = a.doc_id AND b.rnk = a.rnk + 1),
        bg AS (
          SELECT prev, nxt, CAST(count(*) AS BIGINT) AS c
          FROM tr GROUP BY 1, 2),
        draft AS (
          SELECT prev, nxt AS guess FROM (
            SELECT prev, nxt,
                   row_number() OVER (PARTITION BY prev
                     ORDER BY c DESC, nxt) AS rn
            FROM bg) r
          WHERE rn = 1),
        acc AS (
          SELECT t.source,
                 CAST(count(*) AS BIGINT) AS n_transitions,
                 CAST(sum(CASE WHEN t.nxt = d.guess THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_accepted
          FROM tr t JOIN draft d ON d.prev = t.prev
          GROUP BY 1)
        SELECT source, n_transitions, n_accepted,
               ${snap("CAST(n_accepted AS DOUBLE) / n_transitions")} AS accept_rate,
               ${snap("1.0 / (1.0 - CAST(n_accepted AS DOUBLE) / n_transitions)")}
                 AS expected_speedup
        FROM acc
        ORDER BY 1"""
  }

  // ---------------------------------------------------------------- q477

  /** Prefix-cache ROI (vLLM-style radix KV cache): documents sharing an
    * identical opening prefix re-use its KV entries, so each distinct
    * 8/16/32-token prefix is computed ONCE and every further document
    * with that prefix saves the full prefix length. Reports, per prefix
    * depth: distinct prefixes, docs covered (≥ depth tokens), saved
    * tokens and the saved share of all corpus tokens — the cache-sizing
    * sheet. One token scan; per depth a bounded-width per-doc prefix
    * hash and one keyed agg (the prefix string never exceeds depth
    * tokens).
    */
  val q477PrefixCacheRoi: QueryDef =
    QueryDef.sql("q477_prefix_cache_roi", "r29_", "documents")(prefixRoiSql)

  private def prefixRoiSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val agg =
      s"""md5(${d.stringAgg("word", "rnk")})"""
    def depthBlock(d: Int): String =
      s"""p$d AS (
            SELECT doc_id, $agg AS ph
            FROM tok WHERE rnk < $d
            GROUP BY doc_id
            HAVING count(*) = $d),
          s$d AS (
            SELECT CAST($d AS BIGINT) AS depth,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT ph) AS BIGINT) AS n_prefixes,
                   CAST($d * (count(*) - count(DISTINCT ph)) AS BIGINT)
                     AS saved_tokens
            FROM p$d)"""
    s"""WITH tok AS (${rankTokens(tbl, d, "doc_id", "source")}),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
        ${depthBlock(8)},
        ${depthBlock(16)},
        ${depthBlock(32)}
        SELECT depth, n_docs, n_prefixes, saved_tokens,
               ${snap("CAST(saved_tokens AS DOUBLE) / max(t.n)")} AS saved_share
        FROM (SELECT * FROM s8 UNION ALL SELECT * FROM s16 UNION ALL SELECT * FROM s32) u,
             tot t
        GROUP BY 1, 2, 3, 4
        ORDER BY 1"""
  }

  val all: Seq[QueryDef] = Seq(q476SpeculativeAcceptance, q477PrefixCacheRoi)
}
