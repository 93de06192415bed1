package graft.queries

import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-18 additions (q431+): selection and structure audits — greedy
  * k-center coreset selection over embeddings (farthest-point, the
  * active-learning/diverse-subset primitive of Sener & Savarese 2018),
  * split-document stitching detection (docs whose opening continues
  * another doc's ending — sharding artifacts), Cramér's V association
  * between the lang and source columns, per-source conditional entropy
  * rate (bigram minus unigram), and first-token positional-bias KL
  * (templated-opening detection). House invariants as Round13-17:
  * per-row floats quantize to 2²⁰ integer micro-units and ride exact
  * BIGINT sums; final ratios snap to the dyadic 2⁻³⁰ grid.
  */
object Round18 {

  // ---------------------------------------------------------------- q431

  /** Greedy k-center coreset (k = 4, farthest-point): start from the
    * lowest vec_id, then three rounds of "the vector farthest from its
    * nearest selected center" (squared L2, exact via per-dim quantized
    * BIGINT sums; ties break to the smaller vec_id). The
    * diverse-subset/active-learning selection primitive — each round is
    * ONE corpus scan + a distributed ORDER BY/LIMIT 1 top-k; selected
    * centers are 1-row broadcast relations, so the plan never shuffles
    * more than #dims rows per center. Spark side builds the rounds in
    * the DataFrame API: each selected center is a driver-collected
    * #dims-double vector (bounded model state), so every round is ONE
    * compact corpus scan with a row-local `zip_with`/`aggregate` fold —
    * no explode, no join, no shuffle beyond the limit-1 top-k. The
    * pure-SQL form re-derived the exploded corpus inside every
    * downstream join (Spark has no CTE materialization), O(k²) corpus
    * scans — the q98/r4 lesson resurfacing through the SQL surface.
    * The DuckDB oracle keeps the original MATERIALIZED-CTE SQL.
    */
  val q431KcenterCoreset: QueryDef = QueryDef(
    "q431_kcenter_coreset",
    (s, dir) => {
      import org.apache.spark.sql.{functions => F}
      val emb = Tables.embeddings(s, dir)
      // Compact (vec_id, double-cast embedding) projection, materialized
      // ONCE — the per-round scans then read local blocks, not parquet.
      val e0 = emb.select(F.col("vec_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .localCheckpoint()
      // Per-dim term: quantized to the 2²⁰ grid exactly as the oracle —
      // (v − c)² per dim, floor(·×2²⁰ + 0.5) as BIGINT, then an
      // order-independent BIGINT sum.
      def distCol(center: Seq[Double]): org.apache.spark.sql.Column =
        F.aggregate(
          F.zip_with(F.col("v"), F.typedlit(center),
            (x, c) => {
              val diff = x - c
              F.floor(diff * diff * F.lit(1048576.0) + F.lit(0.5)).cast("long")
            }),
          F.lit(0L), (acc, t) => acc + t)
      val centerCache = scala.collection.mutable.Map.empty[Long, Seq[Double]]
      def centerVec(id: Long): Seq[Double] = centerCache.getOrElseUpdate(id,
        e0.filter(F.col("vec_id") === id).select(F.col("v"))
          .head.getSeq[Double](0))
      // c1: lowest vec_id, dmin = 0.
      val first = e0.select(F.col("vec_id")).orderBy("vec_id").limit(1)
        .head.getLong(0)
      val selected = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)](
        (1, first, 0L))
      for (k <- 2 to 4) {
        // nearest-selected distance = least over the k−1 row-local folds;
        // recomputing all centers per scan beats carrying a joined state
        // relation (k is 4; each fold is register work).
        val dists = selected.map(sel => distCol(centerVec(sel._2))).toSeq
        val dmin = if (dists.size == 1) dists.head else F.least(dists: _*)
        val pick = e0.select(F.col("vec_id"), dmin.as("dmin"))
          .orderBy(F.col("dmin").desc, F.col("vec_id")).limit(1).head
        selected += ((k, pick.getLong(0), pick.getLong(1)))
      }
      val sel = s.createDataFrame(selected.toSeq)
        .toDF("sel_order", "vec_id", "dmin")
        .select(F.col("sel_order").cast("int").as("sel_order"),
          F.col("vec_id"), F.col("dmin"))
      sel.join(emb.select(F.col("vec_id"), F.col("label")), "vec_id")
        .select(F.col("sel_order"), F.col("vec_id"), F.col("label"),
          F.expr(snap("CAST(dmin AS DOUBLE) / 1048576.0")).as("d2_at_selection"))
        .orderBy("sel_order")
    },
    Some(kcenterOracleSql)
  )

  private def kcenterOracleSql: String = {
    val tbl = "embeddings"
    val mat = "MATERIALIZED "
    val e =
      s"""SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM $tbl"""
    // dist²(vec, center k) over the exploded streams — exact BIGINT
    def dist(ck: String): String =
      s"""SELECT e.vec_id,
                 CAST(sum(${qi("(e.v - c.v) * (e.v - c.v)")}) AS BIGINT) AS d2
          FROM e JOIN (SELECT dim, v FROM e WHERE vec_id = (SELECT vec_id FROM $ck)) c
            ON c.dim = e.dim
          GROUP BY e.vec_id"""
    // rounds 2..4: nearest-selected distance, then its argmax
    val rounds = (2 to 4).map { k =>
      val prevMin =
        if (k == 2) "dd1.d2"
        else s"least(${(1 until k).map(i => s"dd$i.d2").mkString(", ")})"
      val joins = (1 until k).map(i => s"JOIN d$i dd$i ON dd$i.vec_id = b.vec_id")
        .mkString(" ")
      s"""d${k - 1} AS ${mat}(${dist(s"c${k - 1}")}),
          nd${k - 1} AS ${mat}(
            SELECT b.vec_id, $prevMin AS dmin
            FROM (SELECT DISTINCT vec_id FROM e) b $joins),
          c$k AS ${mat}(
            SELECT vec_id, dmin FROM nd${k - 1}
            ORDER BY dmin DESC, vec_id LIMIT 1)"""
    }.mkString(",\n")
    s"""WITH e AS ${mat}($e),
        c1 AS ${mat}(
          SELECT vec_id, CAST(0 AS BIGINT) AS dmin FROM $tbl
          ORDER BY vec_id LIMIT 1),
        $rounds
        SELECT sel_order, s.vec_id, m.label,
               ${snap("CAST(s.dmin AS DOUBLE) / 1048576.0")} AS d2_at_selection
        FROM (
          SELECT CAST(1 AS INT) AS sel_order, vec_id, dmin FROM c1
          UNION ALL SELECT 2, vec_id, dmin FROM c2
          UNION ALL SELECT 3, vec_id, dmin FROM c3
          UNION ALL SELECT 4, vec_id, dmin FROM c4) s
        JOIN $tbl m ON m.vec_id = s.vec_id
        ORDER BY sel_order"""
  }

  // ---------------------------------------------------------------- q432

  /** Split-document stitching: documents whose OPENING 3 tokens equal
    * another document's CLOSING 3 tokens — the artifact a sharded
    * extraction leaves when one logical document lands in two rows.
    * Affix hashes collapse each doc to two 32-char keys; candidates
    * come from one hash equi-join. Reports each stitch pair (tail doc →
    * head doc) with the shared affix.
    */
  val q432DocStitching: QueryDef =
    QueryDef.sql("q432_doc_stitching", "r18_", "documents")(stitchSql)

  private def stitchSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val phrase = d.stringAgg("word", "pos")
    s"""WITH tok AS (${posTokens(tbl, d, "source", "doc_id")}),
        ranked AS (
          SELECT doc_id, pos, word,
                 row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rhead,
                 row_number() OVER (PARTITION BY doc_id ORDER BY pos DESC) AS rtail
          FROM tok),
        heads AS (
          SELECT doc_id, $phrase AS affix
          FROM ranked WHERE rhead <= 3
          GROUP BY doc_id
          HAVING count(*) = 3),
        tails AS (
          SELECT doc_id, $phrase AS affix
          FROM ranked WHERE rtail <= 3
          GROUP BY doc_id
          HAVING count(*) = 3)
        SELECT t.doc_id AS tail_doc, h.doc_id AS head_doc, t.affix
        FROM tails t JOIN heads h
          ON h.affix = t.affix AND h.doc_id <> t.doc_id
        ORDER BY tail_doc, head_doc"""
  }

  // ---------------------------------------------------------------- q433

  /** Cramér's V between lang and source — "is language balanced across
    * sources, or do they encode each other?" Pearson chi-square over
    * the (lang, source) contingency table (cells and marginals from
    * exact counts; each cell's (O−E)²/E term rides the 2²⁰ integer
    * grid so the fold is order-exact), then V = √(χ²/(N·(min(r,c)−1))).
    * One corpus-sized keyed agg; the table itself is dimension-sized.
    */
  val q433CramersV: QueryDef = QueryDef.sql("q433_cramers_v", "r18_", "documents")(cramersSql)

  private def cramersSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH cell AS (
          SELECT lang, source, CAST(count(*) AS BIGINT) AS o
          FROM $tbl GROUP BY 1, 2),
        ml AS (SELECT lang, CAST(sum(o) AS BIGINT) AS cl FROM cell GROUP BY 1),
        ms AS (SELECT source, CAST(sum(o) AS BIGINT) AS cs FROM cell GROUP BY 1),
        n AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                     CAST(count(DISTINCT lang) AS BIGINT) AS r,
                     CAST(count(DISTINCT source) AS BIGINT) AS c
              FROM cell),
        chi AS (
          SELECT CAST(sum(${qi("((cell.o - CAST(ml.cl AS DOUBLE) * ms.cs / n.n) * (cell.o - CAST(ml.cl AS DOUBLE) * ms.cs / n.n)) / (CAST(ml.cl AS DOUBLE) * ms.cs / n.n)")})
                      AS DOUBLE) / 1048576.0 AS chi2
          FROM cell
          JOIN ml ON ml.lang = cell.lang
          JOIN ms ON ms.source = cell.source
          CROSS JOIN n)
        SELECT ${snap("chi.chi2")} AS chi2,
               CAST((n.r - 1) * (n.c - 1) AS BIGINT) AS dof,
               ${snap("sqrt(chi.chi2 / (n.n * (CASE WHEN n.r < n.c THEN n.r ELSE n.c END - 1)))")}
                 AS cramers_v
        FROM chi CROSS JOIN n"""
  }

  // ---------------------------------------------------------------- q434

  /** Per-source conditional entropy rate: H(w₂|w₁) = H(bigram) −
    * H(unigram), plus the implied bigram perplexity — the statistic
    * that separates genuinely sequenced text from bag-of-words spam.
    * Both entropies come from exact counts with per-term micro-nat
    * quantization; everything is two gram-keyed aggs per source.
    */
  val q434EntropyRate: QueryDef =
    QueryDef.sql("q434_entropy_rate", "r18_", "documents")(entropyRateSql)

  private def entropyRateSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val w = "OVER (PARTITION BY doc_id ORDER BY pos)"
    def entOf(cte: String, cnt: String, tot: String): String =
      s"""SELECT source,
                 CAST(sum(${qi(s"-(CAST($cnt AS DOUBLE) / $tot) * ln(CAST($cnt AS DOUBLE) / $tot)")})
                      AS DOUBLE) / 1048576.0 AS h
          FROM $cte GROUP BY source"""
    s"""WITH tok AS (${posTokens(tbl, d, "source", "doc_id")}),
        uni AS (
          SELECT source, word, CAST(count(*) AS BIGINT) AS c,
                 CAST(sum(count(*)) OVER (PARTITION BY source) AS BIGINT) AS t
          FROM tok GROUP BY 1, 2),
        bitok AS (
          SELECT source, word || ' ' || lead(word) $w AS bg
          FROM tok),
        bi AS (
          SELECT source, bg, CAST(count(*) AS BIGINT) AS c,
                 CAST(sum(count(*)) OVER (PARTITION BY source) AS BIGINT) AS t
          FROM bitok WHERE bg IS NOT NULL GROUP BY 1, 2),
        h1 AS (${entOf("uni", "c", "t")}),
        h2 AS (${entOf("bi", "c", "t")})
        SELECT h1.source,
               ${snap("h1.h")} AS h_unigram,
               ${snap("h2.h")} AS h_bigram,
               ${snap("h2.h - h1.h")} AS h_cond,
               ${snap("exp(h2.h - h1.h)")} AS ppl_cond
        FROM h1 JOIN h2 ON h2.source = h1.source
        ORDER BY h1.source"""
  }

  // ---------------------------------------------------------------- q435

  /** First-token positional bias per source: KL(first-word distribution
    * ‖ source unigram distribution) in exact micro-nat terms, the
    * distinct-first-word count, and the dominant opening word — the
    * audit that catches templated document openings ("the following is
    * a transcript of…") before they become 3% of a training epoch.
    */
  val q435PositionalBias: QueryDef =
    QueryDef.sql("q435_positional_bias", "r18_", "documents")(positionalSql)

  private def positionalSql(d: Dialect): String = {
    val tbl = d.t("documents")
    s"""WITH tok AS (${posTokens(tbl, d, "source", "doc_id")}),
        uni AS (
          SELECT source, word, CAST(count(*) AS BIGINT) AS c
          FROM tok GROUP BY 1, 2),
        ut AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM uni GROUP BY 1),
        firsts AS (
          SELECT source, word, CAST(count(*) AS BIGINT) AS f
          FROM (SELECT source, doc_id, min_by(word, pos) AS word
                FROM tok GROUP BY source, doc_id) fw
          GROUP BY 1, 2),
        ft AS (SELECT source, CAST(sum(f) AS BIGINT) AS tf FROM firsts GROUP BY 1),
        kl AS (
          SELECT f.source,
                 CAST(sum(${qi("(CAST(f.f AS DOUBLE) / ft.tf) * ln((CAST(f.f AS DOUBLE) / ft.tf) / (CAST(u.c AS DOUBLE) / ut.t))")})
                      AS DOUBLE) / 1048576.0 AS klv,
                 CAST(count(*) AS BIGINT) AS n_first_types
          FROM firsts f
          JOIN ft ON ft.source = f.source
          JOIN uni u ON u.source = f.source AND u.word = f.word
          JOIN ut ON ut.source = f.source
          GROUP BY f.source),
        dom AS (
          SELECT source, word AS top_word
          FROM (SELECT source, word,
                       row_number() OVER
                         (PARTITION BY source ORDER BY f DESC, word) AS rn
                FROM firsts) x
          WHERE rn = 1)
        SELECT k.source, k.n_first_types,
               ${snap("k.klv")} AS kl_first_vs_all,
               d.top_word
        FROM kl k JOIN dom d ON d.source = k.source
        ORDER BY k.source"""
  }

  val all: Seq[QueryDef] =
    Seq(q431KcenterCoreset, q432DocStitching, q433CramersV,
      q434EntropyRate, q435PositionalBias)
}
