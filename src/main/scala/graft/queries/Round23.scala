package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-23 additions (q456+): corpus filtering & structure — one-pass
  * multi-pattern blocklist matching (a compiled Aho–Corasick automaton
  * vs P contains-scans), TextTiling-style topic-boundary detection from
  * adjacent-block cosine gaps, Burrows' Delta stylometry over the
  * function-word profile (the classic authorship distance, here a
  * source-similarity audit), TextRank keyword centrality on the bigram
  * co-occurrence graph, a Johnson–Lindenstrauss random-projection
  * distortion audit (how much cosine structure a 64→16 projection
  * keeps — the dimensionality-reduction planning number), and held-out
  * n-gram coverage curves (what share of a test slice's grams the train
  * slice has seen, per n). House invariants as Round13-22: per-row
  * floats quantize to integer micro-grids and ride exact BIGINT sums;
  * final ratios snap to the dyadic 2⁻³⁰ grid; every corpus-sized stage
  * is a scan or a keyed join.
  */
object Round23 {

  /** 2⁴⁰-grid quantization for small squared deviations (σ² terms that a
    * 2²⁰ grid would flush to zero).
    */
  private def qi40(x: String): String =
    s"CAST(floor(($x) * CAST(1099511627776 AS DOUBLE) + 0.5) AS BIGINT)"

  // ---------------------------------------------------------------- q456

  /** The blocklist terms: multi-word phrases that occur in the corpus,
    * two single tokens, and one deliberately absent pattern ("gpu
    * kernel") exercising the zero-fill path. Substring semantics,
    * case-sensitive — exactly `contains(text, pattern)`.
    */
  val BlockPatterns: Seq[String] = Seq(
    "fast table", "table table", "slow fast", "agg join", "scan scan",
    "big big", "stream stream", "vector", "hash", "gpu kernel")

  /** One-pass blocklist audit: per pattern, how many documents contain
    * it and the corpus share — zero-filled so absent patterns report 0
    * (the A4 contract). The Spark side runs the compiled
    * [[graft.functions.AhoCorasickContains]] automaton — every text
    * character is visited ONCE regardless of the pattern count, and the
    * pattern set ships inside the plan (no join, no broadcast); the
    * oracle replays the identical semantics as P contains() probes,
    * affordable for DuckDB at oracle scale but P full text scans in the
    * hot path at 100 TB — which is why the engine side compiles the
    * automaton instead.
    */
  val q456Blocklist: QueryDef = QueryDef(
    "q456_blocklist",
    (s, dir) => {
      graft.functions.AhoCorasickContains.register(s, "aho_blocklist", BlockPatterns)
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val nTot = docs.count()
      val pats = BlockPatterns.zipWithIndex
        .map { case (p, i) => (i.toLong, p) }
        .toDF("pattern_id", "pattern")
      val hits = docs
        .select(explode(expr("aho_blocklist(text)")).as("pattern_id"))
        .groupBy(col("pattern_id"))
        .agg(count(lit(1)).as("n_docs"))
      broadcast(pats)
        .join(hits, Seq("pattern_id"), "left")
        .select(
          col("pattern_id"),
          col("pattern"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          expr(snap(s"CAST(coalesce(n_docs, 0) AS DOUBLE) / $nTot")).as("doc_share"))
        .orderBy(col("pattern_id"))
    },
    Some {
      val vals = BlockPatterns.zipWithIndex
        .map { case (p, i) => s"($i, '$p')" }
        .mkString(", ")
      s"""WITH pats(pattern_id, pattern) AS (VALUES $vals),
          hits AS (
            SELECT p.pattern_id, CAST(count(*) AS BIGINT) AS n
            FROM documents d JOIN pats p ON contains(d.text, p.pattern)
            GROUP BY 1),
          t AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM documents)
          SELECT CAST(p.pattern_id AS BIGINT) AS pattern_id, p.pattern,
                 coalesce(h.n, 0) AS n_docs,
                 ${snap("CAST(coalesce(h.n, 0) AS DOUBLE) / max(t.nt)")} AS doc_share
          FROM pats p LEFT JOIN hits h ON h.pattern_id = p.pattern_id, t
          GROUP BY 1, 2, 3
          ORDER BY 1"""
    }
  )

  // ---------------------------------------------------------------- q457

  /** TextTiling-style topic-boundary detection (Hearst 1997's gap-score
    * idea on exact arithmetic): each document splits into 10-word
    * blocks; adjacent blocks compare as integer word-count vectors
    * (cosine over exact BIGINT dot/norm sums — no float fold ever
    * runs); a gap under 0.5 similarity is a candidate topic boundary.
    * Per doc: block count, boundary count, weakest seam and mean gap.
    * Shape: one token scan → (doc, block, word) counts → the adjacent
    * join is keyed on (doc, word) between consecutive block ids — at
    * corpus scale nothing exceeds a partial-aggregated scan plus
    * equi-joins.
    */
  val q457TextTiling: QueryDef = QueryDef.sql("q457_text_tiling", "r23_", "documents")(tilingSql)

  private def tilingSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${rankTokens(tbl, d, "doc_id", "source")}),
        c AS (
          SELECT doc_id, CAST(floor(rnk / 10.0) AS BIGINT) AS blk, word,
                 CAST(count(*) AS BIGINT) AS n
          FROM tok GROUP BY 1, 2, 3),
        nrm AS (
          SELECT doc_id, blk, CAST(sum(n * n) AS BIGINT) AS n2
          FROM c GROUP BY 1, 2),
        dots AS (
          SELECT a.doc_id, a.blk,
                 CAST(sum(a.n * b.n) AS BIGINT) AS dot
          FROM c a JOIN c b
            ON a.doc_id = b.doc_id AND b.blk = a.blk + 1 AND a.word = b.word
          GROUP BY 1, 2),
        gaps AS (
          SELECT x.doc_id, x.blk,
                 ${snap("CAST(coalesce(d.dot, 0) AS DOUBLE) / sqrt(CAST(x.n2 * y.n2 AS DOUBLE))")}
                   AS gap
          FROM nrm x
          JOIN nrm y ON y.doc_id = x.doc_id AND y.blk = x.blk + 1
          LEFT JOIN dots d ON d.doc_id = x.doc_id AND d.blk = x.blk)
        SELECT g.doc_id,
               CAST(max(g.blk) + 2 AS BIGINT) AS n_blocks,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(CASE WHEN g.gap < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_boundaries,
               min(g.gap) AS min_gap,
               ${snap("sum(g.gap) / count(*)")} AS mean_gap
        FROM gaps g
        GROUP BY 1
        ORDER BY 1"""
  }

  // ---------------------------------------------------------------- q458

  /** Burrows' Delta stylometry between SOURCES: over the corpus's 16
    * most frequent words (the "function-word" profile — in this corpus
    * every word is a function word), each source's relative frequencies
    * z-score against the across-source mean/σ, and Delta(a,b) = mean
    * |z_a − z_b| — the classic authorship-attribution distance, here
    * ranking the 10 most stylistically similar source pairs. Corpus
    * work is ONE token aggregation; everything after runs on the
    * bounded 16×|sources| profile matrix. σ² terms quantize onto the
    * 2⁴⁰ grid (a 2²⁰ grid would flush sub-milli deviations to zero) so
    * the across-source fold is exact BIGINT.
    */
  val q458BurrowsDelta: QueryDef = QueryDef(
    "q458_burrows_delta",
    (s, dir) => {
      Spark("r23_").register(s, dir, "documents")
      // r14 (guide §1.2 "don't compute things twice", §2.3
      // aggregate-before-shuffle): the monolithic SQL re-inlined the
      // token CTE into cw, st AND sc — three full corpus tokenization
      // passes. Fold the corpus ONCE into the (source, word, count)
      // histogram — vocabulary×sources-sized, the q397 rule's
      // "materialize only histogram-sized intermediates" — checkpoint
      // it, and derive cw/topw/st/sc from the histogram. Counts are
      // identical by exchange of summation order; everything downstream
      // is byte-for-byte the same SQL.
      // (a Par.spread of the (source, text) projection was measured here
      // and LOST — 1.65 → 2.05 s isolated min-of-3: the fold output is
      // histogram-sized, so the round-robin text shuffle buys less than
      // it costs; same negative result as the r13 documents-view spread)
      val sw = s.sql(
        """SELECT source, word, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT source,
                        explode(filter(split(lower(text), '[^a-z]+'),
                                       w -> w <> '')) AS word
                 FROM r23_documents)
           GROUP BY 1, 2""").localCheckpoint()
      sw.createOrReplaceTempView("r23_source_word")
      s.sql(burrowsFromHistSql)
    },
    Some(burrowsSql)
  )

  /** The q458 body downstream of the materialized (source, word, c)
    * histogram view — cw/st/sc are histogram folds; f..delta identical
    * to [[burrowsSql]].
    */
  private def burrowsFromHistSql: String =
    s"""WITH cw AS (SELECT word, CAST(sum(c) AS BIGINT) AS c
                    FROM r23_source_word GROUP BY 1),
        topw AS (SELECT word FROM cw ORDER BY c DESC, word LIMIT 16),
        st AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot
               FROM r23_source_word GROUP BY 1),
        sc AS (SELECT t.source, t.word, t.c
               FROM r23_source_word t JOIN topw USING (word)),
        f AS (
          SELECT st.source, w.word,
                 ${snap("CAST(coalesce(sc.c, 0) AS DOUBLE) / st.tot")} AS fr
          FROM st CROSS JOIN topw w
          LEFT JOIN sc ON sc.source = st.source AND sc.word = w.word),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM st),
        mu AS (SELECT word, ${snap("sum(fr) / max(ns.k)")} AS m
               FROM f, ns GROUP BY 1),
        sg AS (
          SELECT f.word,
                 sqrt(CAST(sum(${qi40("(f.fr - mu.m) * (f.fr - mu.m)")}) AS DOUBLE)
                      / max(ns.k) / CAST(1099511627776 AS DOUBLE)) AS sd
          FROM f JOIN mu USING (word), ns
          GROUP BY 1),
        z AS (
          SELECT f.source, f.word,
                 CASE WHEN sg.sd = 0 THEN CAST(0 AS DOUBLE)
                      ELSE ${snap("(f.fr - mu.m) / sg.sd")} END AS z
          FROM f JOIN mu USING (word) JOIN sg USING (word)),
        delta AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 ${snap("sum(abs(a.z - b.z)) / 16.0")} AS delta
          FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, delta
        FROM delta
        ORDER BY delta, source_a, source_b
        LIMIT 10"""

  private def burrowsSql: String = {
    s"""WITH tok AS (${rankTokens("documents", DuckDb, "doc_id", "source")}),
        cw AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        topw AS (SELECT word FROM cw ORDER BY c DESC, word LIMIT 16),
        st AS (SELECT source, CAST(count(*) AS BIGINT) AS tot FROM tok GROUP BY 1),
        sc AS (
          SELECT t.source, t.word, CAST(count(*) AS BIGINT) AS c
          FROM tok t JOIN topw USING (word)
          GROUP BY 1, 2),
        f AS (
          SELECT st.source, w.word,
                 ${snap("CAST(coalesce(sc.c, 0) AS DOUBLE) / st.tot")} AS fr
          FROM st CROSS JOIN topw w
          LEFT JOIN sc ON sc.source = st.source AND sc.word = w.word),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM st),
        mu AS (SELECT word, ${snap("sum(fr) / max(ns.k)")} AS m
               FROM f, ns GROUP BY 1),
        sg AS (
          SELECT f.word,
                 sqrt(CAST(sum(${qi40("(f.fr - mu.m) * (f.fr - mu.m)")}) AS DOUBLE)
                      / max(ns.k) / CAST(1099511627776 AS DOUBLE)) AS sd
          FROM f JOIN mu USING (word), ns
          GROUP BY 1),
        z AS (
          SELECT f.source, f.word,
                 CASE WHEN sg.sd = 0 THEN CAST(0 AS DOUBLE)
                      ELSE ${snap("(f.fr - mu.m) / sg.sd")} END AS z
          FROM f JOIN mu USING (word) JOIN sg USING (word)),
        delta AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 ${snap("sum(abs(a.z - b.z)) / 16.0")} AS delta
          FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, delta
        FROM delta
        ORDER BY delta, source_a, source_b
        LIMIT 10"""
  }

  // ---------------------------------------------------------------- q459

  /** TextRank keyword centrality (Mihalcea & Tarau 2004): PageRank on
    * the undirected bigram co-occurrence graph, three unrolled weighted
    * power-iteration rounds (damping 0.85), top-12 words. The graph is
    * VOCABULARY-sized (one token scan builds it; corpus size only
    * raises edge WEIGHTS), so the iterations are keyed joins over a
    * relation that grows sublinearly in the corpus. Per-edge
    * contributions snap to the 2⁻³⁰ grid before each node-level sum —
    * the fold is exact dyadic arithmetic on both engines.
    */
  val q459Textrank: QueryDef = QueryDef(
    "q459_textrank",
    (s, dir) => {
      Spark("r23_").register(s, dir, "documents")
      // r14 (guide §3.3 "explode before a join multiplies the shuffle",
      // §1.2): bg was a token-stream SELF-JOIN on (doc_id, rnk+1) — two
      // full corpus tokenizations shuffled against each other — and the
      // three unrolled iterations re-inlined the e/deg CTEs all the way
      // down to that join several times over. Bigrams now come straight
      // off the per-document word array (positions i, i+1 of the
      // filtered split ARE consecutive rnk), and the symmetrized edge
      // relation — VOCABULARY-sized, the histogram rule — is
      // checkpointed once, so every iteration reads a leaf instead of
      // re-deriving the corpus pass. Same edges, same weights.
      // (a Par.spread of the text projection was measured here and LOST —
      // 0.96 → 1.46 s isolated min-of-3; same negative result as q458)
      val bg = s.sql(
        """SELECT e.a AS a, e.b AS b, CAST(count(*) AS BIGINT) AS w
           FROM (SELECT explode(transform(sequence(1, size(ws) - 1),
                          i -> struct(element_at(ws, i) AS a,
                                      element_at(ws, i + 1) AS b))) AS e
                 FROM (SELECT filter(split(lower(text), '[^a-z]+'),
                                     w -> w <> '') AS ws
                       FROM r23_documents)
                 WHERE size(ws) >= 2) x
           WHERE e.a <> e.b
           GROUP BY 1, 2""").localCheckpoint()
      bg.createOrReplaceTempView("r23_tr_bg")
      val e = s.sql(
        """SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
             SELECT a, b, w FROM r23_tr_bg
             UNION ALL
             SELECT b AS a, a AS b, w FROM r23_tr_bg) u
           GROUP BY 1, 2""").localCheckpoint()
      e.createOrReplaceTempView("r23_tr_edges")
      s.sql(textrankFromEdgesSql)
    },
    Some(textrankSql)
  )

  /** The q459 body downstream of the materialized symmetric edge view. */
  private def textrankFromEdgesSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
            SELECT e.b AS v,
                   ${snap(
        s"0.15 + 0.85 * sum(${snap(s"$prev.pr * e.w / deg.wd")})")} AS pr
            FROM e
            JOIN $prev ON $prev.v = e.a
            JOIN deg ON deg.v = e.a
            GROUP BY 1)"""
    s"""WITH e AS (SELECT a, b, w FROM r23_tr_edges),
        deg AS (SELECT a AS v, CAST(sum(w) AS BIGINT) AS wd FROM e GROUP BY 1),
        p0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS pr FROM deg),
        ${iter("p0", "p1")},
        ${iter("p1", "p2")},
        ${iter("p2", "p3")}
        SELECT v AS word, pr AS textrank
        FROM p3
        ORDER BY pr DESC, v
        LIMIT 12"""
  }

  private def textrankSql: String = {
    val tbl = "documents"
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
            SELECT e.b AS v,
                   ${snap(
        s"0.15 + 0.85 * sum(${snap(s"$prev.pr * e.w / deg.wd")})")} AS pr
            FROM e
            JOIN $prev ON $prev.v = e.a
            JOIN deg ON deg.v = e.a
            GROUP BY 1)"""
    s"""WITH tok AS (${rankTokens(tbl, DuckDb, "doc_id", "source")}),
        bg AS (
          SELECT t1.word AS a, t2.word AS b, CAST(count(*) AS BIGINT) AS w
          FROM tok t1 JOIN tok t2
            ON t1.doc_id = t2.doc_id AND t2.rnk = t1.rnk + 1
          WHERE t1.word <> t2.word
          GROUP BY 1, 2),
        e AS (
          SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
            SELECT a, b, w FROM bg
            UNION ALL
            SELECT b AS a, a AS b, w FROM bg) u
          GROUP BY 1, 2),
        deg AS (SELECT a AS v, CAST(sum(w) AS BIGINT) AS wd FROM e GROUP BY 1),
        p0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS pr FROM deg),
        ${iter("p0", "p1")},
        ${iter("p1", "p2")},
        ${iter("p2", "p3")}
        SELECT v AS word, pr AS textrank
        FROM p3
        ORDER BY pr DESC, v
        LIMIT 12"""
  }

  // ---------------------------------------------------------------- q460

  /** Johnson–Lindenstrauss distortion audit: project every embedding
    * from 64 to 16 dimensions with md5-derived dense planes (each
    * component an exact 48-bit dyadic rational both engines recompute
    * from the plane name — the AnnReplaySql discipline), then compare
    * exact 64-d cosine vs projected 16-d cosine over the deterministic
    * consecutive-id pair sample. Reports mean/max absolute cosine error
    * and the sign-agreement share — the measured answer to "can the ANN
    * index run on 4× cheaper vectors". Every fold quantizes per term
    * onto an integer grid and sums in BIGINT: projection terms on 2⁴⁰,
    * pair products on 2²⁰ — no engine-ordered float reduction anywhere.
    */
  val q460JlDistortion: QueryDef = QueryDef.sql("q460_jl_distortion", "r23_", "embeddings")(jlSql)

  private def jlSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val e = d.embeddingCells(tbl, "vec_id", 1)
    val planes = d match {
      case _: Spark =>
        s"""SELECT p, dim,
                   CAST(conv(substring(md5(concat('jl:', CAST(p AS STRING), ':',
                        CAST(dim AS STRING))), 1, 12), 16, 10) AS BIGINT)
                     / CAST(140737488355328 AS DOUBLE) - 1.0 AS comp
            FROM (SELECT explode(sequence(0, 15)) AS p)
            LATERAL VIEW explode(sequence(1, 64)) dx AS dim"""
      case DuckDb =>
        s"""SELECT p.range AS p, d.range AS dim,
                   CAST(('0x' || substring(md5('jl:' || CAST(p.range AS VARCHAR) || ':'
                        || CAST(d.range AS VARCHAR)), 1, 12)) AS BIGINT)
                     / CAST(140737488355328 AS DOUBLE) - 1.0 AS comp
            FROM range(0, 16) p CROSS JOIN range(1, 65) d"""
    }
    s"""WITH e AS ($e),
        pl AS ($planes),
        proj AS (
          SELECT e.vec_id, pl.p,
                 CAST(sum(${qi40("e.v * pl.comp")}) AS DOUBLE)
                   / CAST(1099511627776 AS DOUBLE) AS y
          FROM e JOIN pl ON pl.dim = e.dim
          GROUP BY 1, 2),
        pairs AS (
          SELECT a.vec_id AS va, b.vec_id AS vb
          FROM (SELECT DISTINCT vec_id FROM e) a
          JOIN (SELECT DISTINCT vec_id FROM e) b ON b.vec_id = a.vec_id + 1),
        c64 AS (
          SELECT p.va, p.vb,
                 ${snap(s"""CAST(sum(${qi40("ea.v * eb.v")}) AS DOUBLE) /
                   sqrt(CAST(sum(${qi40("ea.v * ea.v")}) AS DOUBLE) *
                        CAST(sum(${qi40("eb.v * eb.v")}) AS DOUBLE))""")} AS cos_full
          FROM pairs p
          JOIN e ea ON ea.vec_id = p.va
          JOIN e eb ON eb.vec_id = p.vb AND eb.dim = ea.dim
          GROUP BY 1, 2),
        c16 AS (
          SELECT p.va, p.vb,
                 ${snap(s"""CAST(sum(${qi("ya.y * yb.y")}) AS DOUBLE) /
                   sqrt(CAST(sum(${qi("ya.y * ya.y")}) AS DOUBLE) *
                        CAST(sum(${qi("yb.y * yb.y")}) AS DOUBLE))""")} AS cos_proj
          FROM pairs p
          JOIN proj ya ON ya.vec_id = p.va
          JOIN proj yb ON yb.vec_id = p.vb AND yb.p = ya.p
          GROUP BY 1, 2),
        d AS (
          SELECT c64.va, abs(c16.cos_proj - c64.cos_full) AS err,
                 CASE WHEN (c64.cos_full >= 0) = (c16.cos_proj >= 0)
                      THEN 1 ELSE 0 END AS sgn
          FROM c64 JOIN c16 ON c16.va = c64.va AND c16.vb = c64.vb)
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               ${snap("sum(err) / count(*)")} AS mean_abs_err,
               max(err) AS max_abs_err,
               ${snap("CAST(sum(sgn) AS DOUBLE) / count(*)")} AS sign_agree
        FROM d"""
  }

  // ---------------------------------------------------------------- q461

  /** Held-out n-gram coverage curve: docs hash-split 80/20 into
    * train/test (md5 of doc_id — rerun-stable, the q59 contract); for
    * n ∈ {1,2,3}, the share of the test slice's DISTINCT n-grams the
    * train slice contains. The number that says how novel a held-out
    * slice actually is (and how leaky a random split is) before anyone
    * trusts an eval on it. Each n is a distinct-gram aggregation plus
    * one semi-join — no pair space, no windows over the corpus.
    */
  val q461GramCoverage: QueryDef = QueryDef(
    "q461_gram_coverage",
    (s, dir) => {
      graft.operators.Par
        .spread(Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .createOrReplaceTempView("r23_cov_spread")
      s.sql(coverageSparkSql)
    },
    Some(coverageSql)
  )

  /** The q461 Spark body over the spread (doc_id, text) view. */
  private def coverageSparkSql: String = {
    val fold =
      """pmod(CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':cov')), 1, 8),
             16, 10) AS BIGINT), 5)"""
    // r14 plan-size fix (guide §3.3 "very wide joins produce enormous
    // plans", §2.3): the join-based gram blocks re-inlined the token
    // CTE at every self-join arm AND at every scalar subquery — six
    // corpus tokenizations and a 3.3k-line plan. Grams now come
    // straight off the per-document word ARRAY (slice i..i+n-1 of the
    // filtered split is exactly the rnk/rnk+i join — same words, same
    // order), and the three per-n counts fold in ONE aggregation over
    // (gram → seen-in-train, seen-in-test) flags: n_test = Σ te,
    // n_train = Σ tr, n_covered = Σ te·tr — the IN-subquery semantics
    // without a second pass. One corpus pass and one gram-keyed
    // exchange per n; output bit-identical (same counts, same snap).
    def gramBlock(n: Int): String = {
      val gramExpr =
        if (n == 1) "element_at(ws, i)"
        else (0 until n).map(j =>
          if (j == 0) "element_at(ws, i)" else s"element_at(ws, i + $j)")
          .mkString("concat(", ", ' ', ", ")")
      s"""a$n AS (
              SELECT max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS tr,
                     max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS te
              FROM (SELECT split,
                           explode(transform(sequence(1, size(ws) - ${n - 1}),
                             i -> $gramExpr)) AS gram
                    FROM ws WHERE size(ws) >= $n) g
              GROUP BY gram),
            r$n AS (
              SELECT CAST($n AS BIGINT) AS n,
                     CAST(coalesce(sum(te), 0) AS BIGINT) AS n_test_grams,
                     CAST(coalesce(sum(tr), 0) AS BIGINT) AS n_train_grams,
                     CAST(coalesce(sum(te * tr), 0) AS BIGINT) AS n_covered
              FROM a$n)"""
    }
    s"""WITH ws AS (
            SELECT CASE WHEN $fold = 0 THEN 'test' ELSE 'train' END AS split,
                   filter(split(lower(text), '[^a-z]+'), w -> w <> '') AS ws
            FROM r23_cov_spread),
          ${gramBlock(1)},
          ${gramBlock(2)},
          ${gramBlock(3)}
          SELECT n, n_test_grams, n_train_grams, n_covered,
                 ${snap("CAST(n_covered AS DOUBLE) / n_test_grams")} AS coverage
          FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3) r
          ORDER BY n"""
  }

  private def coverageSql: String = {
    val fold =
      """CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':cov'), 1, 8))
             AS BIGINT) % 5"""
    def gramBlock(n: Int): String = {
      val parts = (0 until n)
        .map(i => if (i == 0) "t0.word" else s"t$i.word")
        .mkString(" || ' ' || ")
      val joins = (1 until n)
        .map(i =>
          s"JOIN tok t$i ON t$i.doc_id = t0.doc_id AND t$i.rnk = t0.rnk + $i")
        .mkString(" ")
      s"""g$n AS (
              SELECT DISTINCT t0.split, $parts AS gram
              FROM tok t0 $joins),
            tr$n AS (SELECT DISTINCT gram FROM g$n WHERE split = 'train'),
            te$n AS (SELECT DISTINCT gram FROM g$n WHERE split = 'test'),
            r$n AS (
              SELECT CAST($n AS BIGINT) AS n,
                     (SELECT CAST(count(*) AS BIGINT) FROM te$n) AS n_test_grams,
                     (SELECT CAST(count(*) AS BIGINT) FROM tr$n) AS n_train_grams,
                     (SELECT CAST(count(*) AS BIGINT)
                      FROM te$n WHERE gram IN (SELECT gram FROM tr$n)) AS n_covered)"""
    }
    s"""WITH base AS (${rankTokens("documents", DuckDb, "doc_id", "source")}),
          sp AS (SELECT doc_id,
                        CASE WHEN $fold = 0 THEN 'test' ELSE 'train' END AS split
                 FROM (SELECT DISTINCT doc_id FROM base) dd),
          tok AS (SELECT b.doc_id, b.rnk, b.word, sp.split
                  FROM base b JOIN sp ON sp.doc_id = b.doc_id),
          ${gramBlock(1)},
          ${gramBlock(2)},
          ${gramBlock(3)}
          SELECT n, n_test_grams, n_train_grams, n_covered,
                 ${snap("CAST(n_covered AS DOUBLE) / n_test_grams")} AS coverage
          FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3) r
          ORDER BY n"""
  }

  val all: Seq[QueryDef] =
    Seq(q456Blocklist, q457TextTiling, q458BurrowsDelta, q459Textrank,
      q460JlDistortion, q461GramCoverage)
}
