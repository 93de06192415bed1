package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-38 additions (q499+): language-model interpolation and the
  * composed curation funnel — Jelinek–Mercer bigram/unigram mixing on a
  * held-out md5 split (the λ sweep that q167's Kneser–Ney fixes by
  * discounting), and the q500 milestone: the end-to-end curation
  * funnel, each stage an existing engine operator (exact dedup →
  * near-dup percolation → quality pruning), with the oracle replaying
  * the entire pipeline. House invariants as Round13-37.
  */
object Round38 {

  // ---------------------------------------------------------------- q499

  /** Jelinek–Mercer interpolated bigram LM: train on the md5-80% doc
    * slice, evaluate per-token cross-entropy on the held-out 20% for
    * λ ∈ {1/4, 1/2, 3/4}, with P = λ·P_bigram + (1−λ)·P_unigram;
    * unigrams are add-1 smoothed over the train vocabulary (+1 OOV
    * bucket) so every held-out token has mass, bigram MLE backs off to
    * 0 for unseen contexts (that's what λ < 1 is FOR). Per-token ln
    * terms quantize onto exact BIGINT sums; one train pass, one eval
    * join, all λ in one aggregation. The sweep says how much context is
    * worth before discounting (q167) enters.
    */
  val q499JmInterpolation: QueryDef =
    QueryDef.sql("q499_jm_interpolation", "r38_", "documents")(jmSql)

  private def jmSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val toks = posTokens(tbl, d, "doc_id")
    val lambdas = s"SELECT CAST(ll AS DOUBLE) / 4.0 AS lam FROM (SELECT ${d.list("1, 2, 3")} AS ll)"
    s"""WITH split AS (
          SELECT doc_id,
                 CASE WHEN ${md5i(s"'jm:' || CAST(doc_id AS ${d.str})", d)} % 5 = 0
                      THEN 'test' ELSE 'train' END AS slice
          FROM $tbl),
        tok AS (
          SELECT t.doc_id, t.pos, t.word, s.slice
          FROM ($toks) t JOIN split s ON s.doc_id = t.doc_id),
        tr AS (
          SELECT a.slice, a.doc_id, a.word AS prev, b.word AS w
          FROM tok a JOIN tok b
            ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.slice = a.slice),
        uni AS (
          SELECT word, CAST(count(*) AS BIGINT) AS c
          FROM tok WHERE slice = 'train' GROUP BY 1),
        ut AS (SELECT CAST(sum(c) AS BIGINT) AS t,
                      CAST(count(*) AS BIGINT) AS v
               FROM uni),
        bi AS (
          SELECT prev, w, CAST(count(*) AS BIGINT) AS c
          FROM tr WHERE slice = 'train' GROUP BY 1, 2),
        ctx AS (SELECT prev, CAST(sum(c) AS BIGINT) AS t FROM bi GROUP BY 1),
        eval AS (
          SELECT t.prev, t.w,
                 coalesce(CAST(b.c AS DOUBLE) / cx.t, CAST(0.0 AS DOUBLE)) AS pbi,
                 (CAST(coalesce(u.c, 0) + 1 AS DOUBLE) / (ut.t + ut.v + 1)) AS puni
          FROM (SELECT prev, w FROM tr WHERE slice = 'test') t
          LEFT JOIN bi b ON b.prev = t.prev AND b.w = t.w
          LEFT JOIN ctx cx ON cx.prev = t.prev
          LEFT JOIN uni u ON u.word = t.w
          CROSS JOIN ut),
        ls AS ($lambdas)
        SELECT lam,
               CAST(count(*) AS BIGINT) AS n_tokens_eval,
               ${snap(s"CAST(sum(${qi("-ln(lam * pbi + (1.0 - lam) * puni)")}) AS DOUBLE) / 1048576.0 / count(*)")}
                 AS cross_entropy,
               ${snap(s"exp(CAST(sum(${qi("-ln(lam * pbi + (1.0 - lam) * puni)")}) AS DOUBLE) / 1048576.0 / count(*))")}
                 AS perplexity
        FROM eval CROSS JOIN ls
        GROUP BY lam
        ORDER BY lam"""
  }

  // ---------------------------------------------------------------- q500

  /** THE CURATION FUNNEL (q500): the corpus through the pipeline's
    * major stages, each an existing engine operator composed —
    * 1 raw → 2 exact dedup (keep min doc_id per full-text md5) →
    * 3 near-dup dedup (PPJoin word-3-gram Jaccard ≥ 0.9 pairs on the
    * stage-2 survivors, star-contraction closure, keep each cluster's
    * min) → 4 quality pruning (top 75% by distinct-word rank,
    * Packing-pattern distributed rank). Per stage: docs, tokens, and
    * both shares of raw — the one-sheet answer to "what does the
    * pipeline actually keep". The oracle replays every stage (md5
    * dedup, quadratic exact pairs + recursive reach, rank).
    */
  val q500CurationFunnel: QueryDef = QueryDef(
    "q500_curation_funnel",
    (s, dir) => {
      import org.apache.spark.sql.{functions => F}
      // r14 (guide §1.2 "how many full passes are unavoidable"): ONE
      // corpus scan — doc_id, text, the token count AND the exact-dup
      // md5 all come out of a single checkpointed pass. Before, the raw
      // funnel row, the md5 groupBy and the s2 join each re-scanned the
      // parquet and the first/last re-split the text.
      val docs = Tables.documents(s, dir)
        .select(F.col("doc_id"), F.col("text"))
        .withColumn("toks",
          F.size(F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"),
            (x: org.apache.spark.sql.Column) => x =!= "")).cast("long"))
        .withColumn("h", F.md5(F.col("text")))
        .localCheckpoint()
      // stage 2: exact dedup
      val exactKeep = docs.groupBy(F.col("h"))
        .agg(F.min(F.col("doc_id")).as("doc_id"))
        .select("doc_id")
      val s2 = docs.join(exactKeep, "doc_id").drop("h").localCheckpoint()
      // stage 3: near-dup percolation at 0.9 on the survivors
      val pairs = Dedup.ngramJaccardPairs(
        s2.select(F.col("doc_id"), F.col("text")), n = 3, threshold = 0.9)
      val comp = Dedup.connectedComponentsStar(pairs)
      val dropNearDup = comp.filter(F.col("doc_id") =!= F.col("cluster_rep"))
        .select("doc_id")
      val s3 = s2.join(dropNearDup, Seq("doc_id"), "left_anti").localCheckpoint()
      // stage 4: keep top 75% by distinct-word rank (score desc, id asc)
      s3.createOrReplaceTempView("r38_s3")
      val s4 = s.sql(
        s"""WITH sc AS (
              SELECT doc_id, toks,
                     CAST(size(array_distinct(filter(split(lower(text), '[^a-z]+'),
                       x -> x <> ''))) AS BIGINT) AS s
              FROM r38_s3),
            bo AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM sc GROUP BY 1),
            boff AS (
              SELECT s, CAST(coalesce(sum(c) OVER (ORDER BY s DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
              FROM bo),
            rk AS (
              SELECT sc.doc_id, sc.toks,
                     boff.off + CAST(row_number() OVER (
                       PARTITION BY sc.s ORDER BY sc.doc_id) AS BIGINT) AS rnk
              FROM sc JOIN boff ON boff.s = sc.s),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk)
            SELECT doc_id, toks FROM rk CROSS JOIN n
            WHERE rnk <= (75 * n.n + 99) div 100""")
      def stage(df: org.apache.spark.sql.DataFrame, id: Int, name: String) =
        df.agg(F.count(F.lit(1)).cast("long").as("n_docs"),
          F.sum(F.col("toks")).cast("long").as("n_tokens"))
          .select(F.lit(id.toLong).as("stage_id"), F.lit(name).as("stage"),
            F.col("n_docs"), F.col("n_tokens"))
      val funnel = stage(docs, 1, "raw")
        .unionByName(stage(s2, 2, "exact_dedup"))
        .unionByName(stage(s3, 3, "neardup_090"))
        .unionByName(stage(s4, 4, "quality_top75"))
        .localCheckpoint()
      // ungrouped agg (provably 1 row) so the catalogue plan gate sees a
      // bounded nested-loop side, not an opaque filtered relation
      val raw = funnel.agg(
        F.max(F.when(F.col("stage_id") === 1, F.col("n_docs"))).as("rd"),
        F.max(F.when(F.col("stage_id") === 1, F.col("n_tokens"))).as("rt"))
      funnel.crossJoin(F.broadcast(raw))
        .select(F.col("stage_id"), F.col("stage"), F.col("n_docs"), F.col("n_tokens"),
          F.expr(snap("CAST(n_docs AS DOUBLE) / rd")).as("doc_share"),
          F.expr(snap("CAST(n_tokens AS DOUBLE) / rt")).as("token_share"))
        .orderBy("stage_id")
    },
    Some(funnelOracleSql)
  )

  private def funnelOracleSql: String =
    s"""WITH RECURSIVE base AS (
          SELECT doc_id, text,
                 CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                   x -> x <> '')) AS BIGINT) AS toks
          FROM documents),
        keep2 AS (
          SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)),
        s2 AS (SELECT b.* FROM base b JOIN keep2 k ON k.doc_id = b.doc_id),
        g AS (
          SELECT doc_id,
                 list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                FOR i IN range(1, len(string_split(text, ' ')) - 1)]) AS gs
          FROM s2),
        gg AS (SELECT doc_id, gs, len(gs) AS sz FROM g WHERE len(gs) > 0),
        -- inverted-index pair derivation (r12): lossless replacement for
        -- the all-pairs θ-join, same shape as LlmQueries.ngramJaccardOracleAt
        -- but over the DEDUPED s2 corpus instead of raw documents
        post AS (SELECT doc_id, unnest(gs) AS gram FROM gg),
        cnd AS (SELECT p1.doc_id AS doc_a, p2.doc_id AS doc_b,
                       CAST(count(*) AS BIGINT) AS inter
                FROM post p1 JOIN post p2
                  ON p1.gram = p2.gram AND p1.doc_id < p2.doc_id
                GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b FROM (
            SELECT c.doc_a, c.doc_b,
                   round(CAST(c.inter AS DOUBLE) / (a.sz + b.sz - c.inter), 6) AS jac
            FROM cnd c JOIN gg a ON a.doc_id = c.doc_a
                       JOIN gg b ON b.doc_id = c.doc_b
          ) WHERE jac >= 0.9),
        e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT u AS doc, u AS label FROM e
          UNION
          SELECT e.u, r.label FROM e JOIN reach r ON r.doc = e.v),
        comp AS (SELECT doc, min(label) AS rep FROM reach GROUP BY doc),
        s3 AS (
          SELECT s2.* FROM s2
          LEFT JOIN comp ON comp.doc = s2.doc_id
          WHERE comp.doc IS NULL OR comp.rep = s2.doc_id),
        sc AS (
          SELECT doc_id, toks,
                 CAST(len(list_distinct(list_filter(
                   string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')))
                   AS BIGINT) AS s
          FROM s3),
        rk AS (
          SELECT doc_id, toks,
                 CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rnk
          FROM sc),
        n3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
        s4 AS (
          SELECT doc_id, toks FROM rk CROSS JOIN n3
          WHERE rnk <= (75 * n3.n + 99) // 100),
        funnel AS (
          SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(toks) AS BIGINT) AS n_tokens FROM base
          UNION ALL
          SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
                 CAST(sum(toks) AS BIGINT) FROM s2
          UNION ALL
          SELECT 3, 'neardup_090', CAST(count(*) AS BIGINT),
                 CAST(sum(toks) AS BIGINT) FROM s3
          UNION ALL
          SELECT 4, 'quality_top75', CAST(count(*) AS BIGINT),
                 CAST(sum(toks) AS BIGINT) FROM s4),
        raw AS (SELECT n_docs AS rd, n_tokens AS rt FROM funnel WHERE stage_id = 1)
        SELECT stage_id, stage, n_docs, n_tokens,
               ${snap("CAST(n_docs AS DOUBLE) / rd")} AS doc_share,
               ${snap("CAST(n_tokens AS DOUBLE) / rt")} AS token_share
        FROM funnel CROSS JOIN raw
        ORDER BY stage_id"""

  val all: Seq[QueryDef] = Seq(q499JmInterpolation, q500CurationFunnel)
}
