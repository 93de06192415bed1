package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._

/** Round-33 additions (q487+): inference-scaling and shuffle-health
  * audits — expected best-of-n quality from exact empirical order
  * statistics (the rejection-sampling/BoN planning curve), top-p
  * vocabulary mass per source (how many token types nucleus sampling
  * actually keeps), and training-order bias (are sources clumped in
  * doc_id order — the shuffle-health number a data loader is graded
  * on). House invariants as Round13-32.
  */
object Round33 {

  // ---------------------------------------------------------------- q487

  /** Expected best-of-n quality per source, EXACTLY, from empirical
    * order statistics: with the integer quality proxy q = min(len/64,
    * 31) and empirical CDF F, E[max of n iid draws] =
    * Σ_x x·(F(x)ⁿ − F(x⁻)ⁿ) — the planning curve for rejection
    * sampling / best-of-n inference (how much quality does n-fold
    * sampling actually buy ON THIS distribution, no normality
    * assumption). Fⁿ is the literal left-associated power (n ∈ {1, 4,
    * 16}), per-bin terms quantize onto exact BIGINT sums; one keyed agg
    * + one ≤32-bin window per source.
    */
  val q487BestOfN: QueryDef = QueryDef.sql("q487_best_of_n", "r33_", "documents")(bestOfNSql)

  private def bestOfNSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val ks = d.selectGen(d.list("1, 4, 16"), "BIGINT", "n", "kk")
    def pow(v: String, n: Int): String = Seq.fill(n)(s"($v)").mkString(" * ")
    s"""WITH q AS (
          SELECT source,
                 CAST(least(length(text) ${d.idiv} 64, 31) AS BIGINT) AS qbin
          FROM $tbl),
        hist AS (
          SELECT source, qbin, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY 1, 2),
        cdf AS (
          SELECT source, qbin, c,
                 CAST(sum(c) OVER (PARTITION BY source ORDER BY qbin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                 CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS t
          FROM hist),
        f AS (
          SELECT source, qbin,
                 CAST(cum AS DOUBLE) / t AS fx,
                 CAST(cum - c AS DOUBLE) / t AS fprev
          FROM cdf),
        ks AS ($ks)
        SELECT source, n,
               ${snap(s"""CAST(sum(${qi(
      s"""qbin * (CASE WHEN n = 1 THEN fx - fprev
                       WHEN n = 4 THEN ${pow("fx", 4)} - ${pow("fprev", 4)}
                       ELSE ${pow("fx", 16)} - ${pow("fprev", 16)} END)""")})
                   AS DOUBLE) / 1048576.0""")} AS e_max_quality
        FROM f CROSS JOIN ks
        GROUP BY source, n
        ORDER BY source, n"""
  }

  // ---------------------------------------------------------------- q488

  /** Top-p (nucleus) vocabulary per source: token types ranked by
    * frequency (count desc, word asc — the total order both engines
    * share); for p ∈ {50, 90, 95}%, the SMALLEST rank whose cumulative
    * count reaches p% of tokens — the comparison is exact integer
    * cross-multiplication (100·cum ≥ p·total), no float CDF — plus the
    * exact covered share at that rank and the full type count. The
    * sampling-surface audit: a 95%-nucleus that keeps 40 types is a
    * very different corpus from one that keeps 4 000.
    */
  val q488TopPVocab: QueryDef = QueryDef.sql("q488_top_p_vocab", "r33_", "documents")(topPSql)

  private def topPSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val words = s"SELECT source, ${d.words} AS word FROM $tbl"
    val ps = d.selectGen(d.list("50, 90, 95"), "BIGINT", "p100", "pp")
    s"""WITH w AS (SELECT source, word FROM ($words) x WHERE word <> ''),
        tc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1, 2),
        ranked AS (
          SELECT source, c,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY c DESC, word) AS BIGINT) AS rnk,
                 CAST(sum(c) OVER (PARTITION BY source ORDER BY c DESC, word
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                 CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS t,
                 CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_types
          FROM tc),
        ps AS ($ps),
        hit AS (
          SELECT source, p100,
                 min(rnk) AS n_vocab
          FROM ranked CROSS JOIN ps
          WHERE 100 * cum >= p100 * t
          GROUP BY 1, 2),
        at_rank AS (
          SELECT h.source, h.p100, h.n_vocab, r.cum, r.t, r.n_types
          FROM hit h
          JOIN ranked r ON r.source = h.source AND r.rnk = h.n_vocab)
        SELECT source, p100, n_vocab, n_types,
               ${snap("CAST(cum AS DOUBLE) / t")} AS covered_share,
               ${snap("CAST(n_vocab AS DOUBLE) / n_types")} AS vocab_share
        FROM at_rank
        ORDER BY source, p100"""
  }

  // ---------------------------------------------------------------- q489

  /** Training-order bias: are sources CLUMPED in doc_id order? Per
    * source: observed adjacent same-source pairs in the global doc_id
    * sequence vs the exact expectation under a uniformly random
    * permutation, E = nᵢ(nᵢ−1)/n (n−1 adjacent slots, each same-source-i
    * with probability nᵢ(nᵢ−1)/(n(n−1))), and the clumping ratio
    * obs/exp — the shuffle-health number: ratio ≈ 1 is well-mixed,
    * ≫ 1 means a loader reading in doc_id order sees source streaks.
    * One lag window over the ordered scan + one keyed agg.
    */
  val q489OrderBias: QueryDef = QueryDef.sql("q489_order_bias", "r33_", "documents")(orderBiasSql)

  private def orderBiasSql(d: Dialect): String = {
    val tbl = d.t("documents")
    // r14 Spark branch: the lag window had NO partition key — the doc
    // dimension ran through ONE task (guide §2.4/§5). Bucketed lag (the
    // operators.Ranks prefix discipline): doc_id is dense so 4096-id
    // bands balance by construction; in-band lags are a KEYED window,
    // each band's first row takes its predecessor from the band-edge
    // relation (one lightweight row per band — the only unpartitioned
    // window left, and lag over the FIRST band is NULL exactly like the
    // global form's first row). The oracle keeps the textbook lag.
    val seqCte = d match {
      case _: Spark =>
        s"""sb AS (SELECT doc_id, source, doc_id div 4096 AS bkt FROM $tbl),
        inb AS (SELECT bkt, doc_id, source,
                       lag(source) OVER (PARTITION BY bkt ORDER BY doc_id) AS prev_in,
                       row_number() OVER (PARTITION BY bkt ORDER BY doc_id) AS rn
                FROM sb),
        eb AS (SELECT bkt,
                      lag(last_source) OVER (ORDER BY bkt) AS prev_band_last
               FROM (SELECT bkt, max_by(source, doc_id) AS last_source
                     FROM sb GROUP BY 1) AS e),
        seq AS (SELECT i.doc_id, i.source,
                       CASE WHEN i.rn = 1 THEN eb.prev_band_last
                            ELSE i.prev_in END AS prev_source
                FROM inb i JOIN eb USING (bkt))"""
      case DuckDb =>
        s"""seq AS (
          SELECT doc_id, source,
                 lag(source) OVER (ORDER BY doc_id) AS prev_source
          FROM $tbl)"""
    }
    s"""WITH $seqCte,
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $tbl),
        per_source AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN prev_source = source THEN 1 ELSE 0 END) AS BIGINT)
                   AS same_adj
          FROM seq GROUP BY 1)
        SELECT p.source, p.n_docs, p.same_adj,
               ${snap("CAST(p.n_docs AS DOUBLE) * (p.n_docs - 1) / t.n")}
                 AS expected_same_adj,
               ${snap("CAST(p.same_adj AS DOUBLE) * t.n / (CAST(p.n_docs AS DOUBLE) * (p.n_docs - 1))")}
                 AS clumping_ratio
        FROM per_source p CROSS JOIN tot t
        ORDER BY p.source"""
  }

  val all: Seq[QueryDef] =
    Seq(q487BestOfN, q488TopPVocab, q489OrderBias)
}
