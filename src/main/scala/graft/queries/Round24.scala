package graft.queries

import graft.queries.SqlFragments._

/** Round-24 additions (q462+): retrieval & evaluation machinery —
  * sorted-neighborhood dedup blocking (the third blocking family next
  * to LSH bands and length bands: a global range-sort plus a bounded
  * window of rank-adjacent candidates), a MaxScore/WAND pruning audit
  * over BM25 postings (how much of the index a top-k scan may skip —
  * the retrieval-planner number), the unbiased pass@k estimator every
  * sampling eval reports (exact product form, unrolled so both engines
  * walk the identical float trajectory), and CUPED variance reduction
  * for experiment metrics (closed-form from exact integer-cent sums).
  * House invariants as Round13-23.
  */
object Round24 {

  // ---------------------------------------------------------------- q462

  /** Sorted-neighborhood dedup blocking (Hernández & Stolfo): documents
    * totally ordered by a cheap key (text prefix, doc_id tiebreak);
    * candidate pairs are the rank-adjacent window (w = 3 → offsets
    * +1/+2), verified by exact word-3-gram Jaccard. The third blocking
    * family next to LSH bands (q26) and length bands (q106). The
    * global rank is the Packing.scala distributed-prefix-sum shape —
    * bucket by the sort key's own 1-char PREFIX (so bucket order is
    * consistent with key order), one tiny window over the bucket-count
    * relation for offsets, then a KEYED within-bucket row_number —
    * never a single-partition window over the corpus (widen the bucket
    * prefix at 100 TB). The window join is TWO keyed equi-joins on
    * rank — candidate count is exactly (w−1)·n, linear by
    * construction, no skew possible. Reports the 20 most similar window pairs.
    */
  val q462SortedNeighborhood: QueryDef = QueryDef(
    "q462_sorted_neighborhood",
    (s, dir) => {
      val sp = Spark("r24_")
      sp.register(s, dir, "documents")
      // Spark inlines WITH CTEs, so `k` (referenced 4x by the window
      // join) and `g` (2x by the verify) would each re-run the scan +
      // window; materialize both once. localCheckpoint (not cache): it
      // severs the lineage eagerly and the blocks are released by the
      // ContextCleaner when the plan is GC'd, so repeated invocations
      // don't accumulate cached partitions for the session's lifetime.
      s.sql(snmKSql("r24_documents")).localCheckpoint()
        .createOrReplaceTempView("r24_snm_k")
      s.sql(snmGSql(sp)).localCheckpoint()
        .createOrReplaceTempView("r24_snm_g")
      s.sql(s"WITH ${snmTail("r24_snm_k", "r24_snm_g", sp)}")
    },
    Some(
      s"""WITH k AS (${snmKSql("documents")}),
          g AS (${snmGSql(DuckDb)}),
          ${snmTail("k", "g", DuckDb)}""")
  )

  /** The global-rank relation (Packing-pattern bucketed prefix sum). */
  private def snmKSql(tbl: String): String =
    s"""WITH b AS (
          SELECT doc_id, substring(lower(text), 1, 16) AS sk,
                 substring(lower(text), 1, 1) AS bk
          FROM $tbl),
        bo AS (SELECT bk, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        boff AS (
          SELECT bk,
                 coalesce(sum(c) OVER (ORDER BY bk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   CAST(0 AS BIGINT)) AS off
          FROM bo)
        SELECT b.doc_id,
               boff.off + CAST(row_number() OVER (
                 PARTITION BY b.bk ORDER BY b.sk, b.doc_id) AS BIGINT) AS rn
        FROM b JOIN boff ON boff.bk = b.bk"""

  /** Per-doc distinct word-3-gram sets. */
  private def snmGSql(d: Dialect): String = d match {
    case _: Spark =>
      """SELECT doc_id,
                array_distinct(transform(sequence(1, greatest(size(w) - 2, 0)),
                  i -> concat_ws(' ', slice(w, i, 3)))) AS gs
         FROM (SELECT doc_id, split(lower(text), '[^a-z]+') AS w FROM r24_documents)"""
    case DuckDb =>
      """SELECT doc_id,
                list_distinct([array_to_string(parts[i:i+2], ' ')
                               FOR i IN range(1, greatest(len(parts) - 1, 1))]) AS gs
         FROM (SELECT doc_id,
                      string_split_regex(lower(text), '[^a-z]+') AS parts
               FROM documents)"""
  }

  /** Candidate window + exact-Jaccard verify over rank relation `kRel`
    * and gram relation `gRel` (CTE names for the oracle, cached temp
    * views for the engine).
    */
  private def snmTail(kRel: String, gRel: String, d: Dialect): String = {
    val (jac, nonEmpty) = d match {
      case _: Spark =>
        ("""CAST(size(array_intersect(a.gs, b.gs)) AS DOUBLE) /
           size(array_union(a.gs, b.gs))""", "size(a.gs) > 0 AND size(b.gs) > 0")
      case DuckDb =>
        ("""CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
           len(list_distinct(list_concat(a.gs, b.gs)))""", "len(a.gs) > 0 AND len(b.gs) > 0")
    }
    s"""cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM $kRel a JOIN $kRel b ON b.rn = a.rn + 1
          UNION ALL
          SELECT a.doc_id, b.doc_id
          FROM $kRel a JOIN $kRel b ON b.rn = a.rn + 2),
        scored AS (
          SELECT c.doc_a, c.doc_b, ${snap(jac)} AS jaccard
          FROM cand c
          JOIN $gRel a ON a.doc_id = c.doc_a
          JOIN $gRel b ON b.doc_id = c.doc_b
          WHERE $nonEmpty)
        SELECT doc_a, doc_b, jaccard
        FROM scored
        ORDER BY jaccard DESC, doc_a, doc_b
        LIMIT 20"""
  }

  // ---------------------------------------------------------------- q463

  /** MaxScore pruning audit (Turtle & Flood): for the 8-term
    * highest-frequency "query" over the BM25 index (k1=1.2, b=0.75 — the
    * q129 scoring contract), compute each term's score UPPER BOUND over
    * its postings, the top-10 entry threshold θ, the non-essential term
    * set (max prefix of ascending-UB terms whose UB sum stays under θ —
    * a doc containing only those can never enter the top 10), and the
    * share of scored docs a MaxScore scan would skip. The planning
    * number behind every top-k retrieval over an inverted index.
    * Corpus work: one token agg → postings; everything else runs on the
    * 8-term bound table and one doc-keyed agg.
    */
  val q463MaxscorePrune: QueryDef = QueryDef(
    "q463_maxscore_prune",
    (s, dir) => {
      Spark("r24_").register(s, dir, "documents")
      // r14 plan-size + pass-count fix (guide §1.2, §3.3 "materialising
      // an intermediate truncates the plan"): the monolithic SQL
      // re-inlined the token stream at every reference — dl, q and post
      // each re-tokenized the corpus, and the ~3.3k-line physical plan
      // only survived through ReuseExchange. ONE tokenization pass now
      // folds into the (doc_id, word, tf) inverted index — exactly the
      // relation a real retrieval stack materializes — and dl (Σtf per
      // doc), q (df = index rows per word, ordered by Σtf) and post
      // (the 8-term slice) are index folds. Counts identical by
      // exchange of summation order.
      // (a Par.spread of the (doc_id, text) projection was measured here
      // and LOST — 2.27 → 3.39 s isolated min-of-3: the index fold is
      // the only corpus pass left and the shuffle tax exceeds the
      // parallelism gain; same negative result as the r13 documents-view
      // spread)
      val inv = s.sql(
        """SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, explode(split(lower(text), '[^a-z]+')) AS word
                 FROM r24_documents) x
           WHERE word <> ''
           GROUP BY 1, 2""").localCheckpoint()
      inv.createOrReplaceTempView("r24_inv")
      s.sql(maxscoreFromInvSql)
    },
    Some(maxscoreSql)
  )

  /** The q463 body downstream of the materialized inverted-index view. */
  private def maxscoreFromInvSql: String =
    s"""WITH dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
                    FROM r24_inv GROUP BY 1),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                         ${snap("sum(CAST(len AS DOUBLE)) / count(*)")} AS avgdl
                  FROM dl),
        q AS (
          SELECT word, CAST(count(*) AS BIGINT) AS df
          FROM r24_inv GROUP BY 1
          ORDER BY sum(tf) DESC, word LIMIT 8),
        post AS (
          SELECT i.doc_id, i.word, i.tf
          FROM r24_inv i JOIN q USING (word)),
        sc AS (
          SELECT p.doc_id, p.word,
                 ${snap(
      """ln(1.0 + (s.nd - q.df + 0.5) / (q.df + 0.5)) *
         (p.tf * CAST(2.2 AS DOUBLE)) /
         (p.tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)
           + CAST(0.75 AS DOUBLE) * d.len / s.avgdl))""")} AS score
          FROM post p
          JOIN q ON q.word = p.word
          JOIN dl d ON d.doc_id = p.doc_id, stats s),
        tot AS (SELECT doc_id, ${snap("sum(score)")} AS score FROM sc GROUP BY 1),
        th AS (
          -- theta = the 10th-best score, or the lowest score when fewer
          -- than 10 docs scored — never empty, so a small corpus yields a
          -- degenerate sheet rather than zero rows a consumer could
          -- misread as "no terms".
          -- r14: min over the top-10 slice ≡ the score at
          -- rn = least(10, count) — with ≥10 scored docs the 10th-best
          -- is the smallest of the top 10; with fewer the slice is all
          -- rows and min = the lowest score. ORDER BY/LIMIT plans as a
          -- parallel TakeOrderedAndProject instead of the doc-keyed
          -- unpartitioned row_number window (guide §2.4/§5); the oracle
          -- (maxscoreSql below) keeps the textbook row_number form.
          SELECT min(score) AS theta FROM (
            SELECT score FROM tot ORDER BY score DESC, doc_id LIMIT 10) x),
        ub AS (SELECT word, max(score) AS ub FROM sc GROUP BY 1),
        ess AS (
          SELECT ub.word, ub.ub,
                 CASE WHEN ${snap(
      "sum(ub.ub) OVER (ORDER BY ub.ub, ub.word ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")}
                      < max(th.theta) OVER () THEN 0 ELSE 1 END AS essential
          FROM ub, th),
        skip AS (
          SELECT CAST(count(*) AS BIGINT) AS n_skippable
          FROM (SELECT p.doc_id
                FROM post p JOIN ess e ON e.word = p.word
                GROUP BY 1
                HAVING max(e.essential) = 0) s),
        nsc AS (SELECT CAST(count(*) AS BIGINT) AS n_scored FROM tot)
        SELECT q.word AS term, q.df AS n_postings, ub.ub AS upper_bound,
               CAST(e.essential AS BIGINT) AS essential,
               max(th.theta) AS theta,
               max(skip.n_skippable) AS n_skippable_docs,
               ${snap("CAST(max(skip.n_skippable) AS DOUBLE) / max(nsc.n_scored)")}
                 AS skippable_share
        FROM q
        JOIN ub USING (word)
        JOIN ess e ON e.word = q.word, th, skip, nsc
        GROUP BY 1, 2, 3, 4
        ORDER BY 1"""

  /** POSITIONLESS tokens — MaxScore needs only (doc_id, word). The
    * ordered rank tokenizer's per-doc row_number window costs ~3x the explode
    * itself and Spark re-inlines the CTE at every reference; a bag of
    * words keeps all four references scan-cheap.
    */
  private def maxscoreSql: String = {
    s"""WITH tok AS (SELECT doc_id, word
          FROM (SELECT doc_id,
                       ${DuckDb.words} AS word
                FROM documents) x
          WHERE word <> ''),
        dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY 1),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                         ${snap("sum(CAST(len AS DOUBLE)) / count(*)")} AS avgdl
                  FROM dl),
        q AS (
          SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM tok GROUP BY 1
          ORDER BY count(*) DESC, word LIMIT 8),
        post AS (
          SELECT t.doc_id, t.word, CAST(count(*) AS BIGINT) AS tf
          FROM tok t JOIN q USING (word)
          GROUP BY 1, 2),
        sc AS (
          SELECT p.doc_id, p.word,
                 ${snap(
      """ln(1.0 + (s.nd - q.df + 0.5) / (q.df + 0.5)) *
         (p.tf * CAST(2.2 AS DOUBLE)) /
         (p.tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)
           + CAST(0.75 AS DOUBLE) * d.len / s.avgdl))""")} AS score
          FROM post p
          JOIN q ON q.word = p.word
          JOIN dl d ON d.doc_id = p.doc_id, stats s),
        tot AS (SELECT doc_id, ${snap("sum(score)")} AS score FROM sc GROUP BY 1),
        th AS (
          -- theta = the 10th-best score, or the lowest score when fewer
          -- than 10 docs scored — never empty, so a small corpus yields a
          -- degenerate sheet rather than zero rows a consumer could
          -- misread as "no terms".
          SELECT score AS theta FROM (
            SELECT score, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
            FROM tot) x
          WHERE rn = least(10, (SELECT count(*) FROM tot))),
        ub AS (SELECT word, max(score) AS ub FROM sc GROUP BY 1),
        ess AS (
          SELECT ub.word, ub.ub,
                 CASE WHEN ${snap(
      "sum(ub.ub) OVER (ORDER BY ub.ub, ub.word ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")}
                      < max(th.theta) OVER () THEN 0 ELSE 1 END AS essential
          FROM ub, th),
        skip AS (
          SELECT CAST(count(*) AS BIGINT) AS n_skippable
          FROM (SELECT p.doc_id
                FROM post p JOIN ess e ON e.word = p.word
                GROUP BY 1
                HAVING max(e.essential) = 0) s),
        nsc AS (SELECT CAST(count(*) AS BIGINT) AS n_scored FROM tot)
        SELECT q.word AS term, q.df AS n_postings, ub.ub AS upper_bound,
               CAST(e.essential AS BIGINT) AS essential,
               max(th.theta) AS theta,
               max(skip.n_skippable) AS n_skippable_docs,
               ${snap("CAST(max(skip.n_skippable) AS DOUBLE) / max(nsc.n_scored)")}
                 AS skippable_share
        FROM q
        JOIN ub USING (word)
        JOIN ess e ON e.word = q.word, th, skip, nsc
        GROUP BY 1, 2, 3, 4
        ORDER BY 1"""
  }

  // ---------------------------------------------------------------- q464

  /** Unbiased pass@k (Chen et al. 2021, the HumanEval estimator):
    * 1 − C(n−c,k)/C(n,k) per task from n trials with c successes —
    * users are the tasks, events the trials, purchases the successes
    * (n ≥ 10 tasks only). The binomial ratio is evaluated in its exact
    * product form Π_{i<k} (n−c−i)/(n−i), UNROLLED into k literal
    * left-associated factors so both engines run the identical IEEE
    * sequence (a SUM of logs would be engine-order-dependent, and
    * BIGINT binomials overflow past n ≈ 90). Reports the task count
    * and mean pass@k for k ∈ {1, 5, 10}.
    */
  val q464PassAtK: QueryDef = QueryDef.sql("q464_pass_at_k", "r24_", "events")(passAtKSql)

  private def passAtKSql(d: Dialect): String = {
    val tbl = d.t("events")
    // Π_{i<k} (n-c-i)/(n-i), left-associated literal factors
    def prod(k: Int): String =
      (0 until k)
        .map(i => s"((n - c - $i) / CAST(n - $i AS DOUBLE))")
        .mkString(" * ")
    def passAt(k: Int): String =
      s"""CASE WHEN n - c < $k THEN CAST(1.0 AS DOUBLE)
               ELSE ${snap(s"1.0 - ${prod(k)}")} END"""
    s"""WITH u AS (
          SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS BIGINT) AS c
          FROM $tbl GROUP BY 1
          HAVING count(*) >= 10),
        p AS (
          SELECT ${passAt(1)} AS p1, ${passAt(5)} AS p5, ${passAt(10)} AS p10
          FROM u)
        SELECT CAST(count(*) AS BIGINT) AS n_tasks,
               ${snap("sum(p1) / count(*)")} AS pass_at_1,
               ${snap("sum(p5) / count(*)")} AS pass_at_5,
               ${snap("sum(p10) / count(*)")} AS pass_at_10
        FROM p"""
  }

  // ---------------------------------------------------------------- q465

  /** CUPED variance reduction (Deng et al. 2013): per-user metric
    * y = second-half spend vs pre-period covariate x = first-half
    * spend; θ = cov(x,y)/var(x) from EXACT integer-cent sums (Σx, Σy,
    * Σxy, Σx² ride BIGINT — a float Σxy over 10⁵ users would be
    * engine-order-dependent), adjusted metric ŷ = y − θ(x − x̄), and
    * the closed-form variance ratio var(ŷ)/var(y) = 1 − ρ² — the
    * sample-size multiplier CUPED buys. Arms assigned by md5(user) so
    * the whole experiment replays. Two keyed aggs over events; all
    * scalar algebra on snapped doubles from integer sums.
    */
  val q465Cuped: QueryDef = QueryDef.sql("q465_cuped", "r24_", "events")(cupedSql)

  private def cupedSql(d: Dialect): String = {
    val tbl = d.t("events")
    val day = s"CAST(${d.dayDiff("DATE '2024-01-01'", d.toDate("ts"))} AS BIGINT)"
    val arm = d match {
      case _: Spark =>
        """pmod(CAST(conv(substring(md5(concat(CAST(user_id AS STRING), ':arm')), 1, 8),
               16, 10) AS BIGINT), 2)"""
      case DuckDb =>
        """CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':arm'), 1, 8))
               AS BIGINT) % 2"""
    }
    s"""WITH e AS (
          SELECT user_id, $day AS dd,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM $tbl),
        mid AS (SELECT CAST(floor((min(dd) + max(dd)) / 2.0) AS BIGINT) AS m FROM e),
        u AS (
          SELECT e.user_id,
                 CAST(sum(CASE WHEN e.dd <= mid.m THEN e.cents ELSE 0 END)
                      AS BIGINT) AS x,
                 CAST(sum(CASE WHEN e.dd > mid.m THEN e.cents ELSE 0 END)
                      AS BIGINT) AS y
          FROM e, mid GROUP BY 1, mid.m),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM u),
        m AS (
          SELECT n,
                 ${snap("CAST(sx AS DOUBLE) / n")} AS mx,
                 ${snap("CAST(sy AS DOUBLE) / n")} AS my,
                 ${snap("(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / n")} AS cov,
                 ${snap("(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n")} AS vx,
                 ${snap("(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n")} AS vy
          FROM s),
        th AS (
          SELECT n, mx, my, vx, vy, cov,
                 CASE WHEN vx = 0 THEN CAST(0.0 AS DOUBLE)
                      ELSE ${snap("cov / vx")} END AS theta
          FROM m),
        arms AS (
          SELECT arm,
                 CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(x) AS BIGINT) AS sxa,
                 CAST(sum(y) AS BIGINT) AS sya
          FROM (SELECT $arm AS arm, x, y FROM u) ux
          GROUP BY 1)
        SELECT a.arm, a.n_users,
               ${snap("CAST(a.sya AS DOUBLE) / a.n_users / 100.0")} AS mean_y,
               ${snap(
      """(CAST(a.sya AS DOUBLE) / a.n_users
          - th.theta * (CAST(a.sxa AS DOUBLE) / a.n_users - th.mx)) / 100.0""")}
                 AS mean_adj,
               th.theta AS theta,
               ${snap(
      """CASE WHEN th.vy = 0 THEN 1.0
              ELSE (th.vy - 2 * th.theta * th.cov
                    + th.theta * th.theta * th.vx) / th.vy END""")}
                 AS var_ratio
        FROM arms a, th
        ORDER BY 1"""
  }

  val all: Seq[QueryDef] =
    Seq(q462SortedNeighborhood, q463MaxscorePrune, q464PassAtK, q465Cuped)
}
