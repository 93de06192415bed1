package graft.queries

import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

import graft.plans.{GraftExtensions, Top1WindowRewrite}
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-12 additions (q401+): the `row_number()=1` → argmin-aggregate
  * optimizer rule exercised on the lake, preference-model fitting
  * (Bradley–Terry — the RLHF reward-data primitive), RAKE keyword
  * extraction, Hill-number diversity profiles, and WoE/IV predictive
  * binning. All float reductions snap to the dyadic 2⁻³⁰ grid (the
  * established oracle-parity posture); corpus-sized work stays one
  * scan + keyed aggregates.
  */
object Round12 {

  /** Latest order per customer, written the way every analyst writes it
    * — `row_number() OVER (PARTITION BY … ORDER BY … DESC) = 1` — and
    * executed through [[graft.plans.Top1WindowRewrite]]: the optimizer
    * replaces the shuffle+sort window with a partial-aggregable
    * `max_by(struct(*), struct(keys))` hash aggregate (each map task
    * reduces to one row per customer BEFORE the shuffle — at 100 TB the
    * shuffle carries one row per key, not the corpus). Ordering is
    * tie-free (orderkey is unique), so the rewrite is exact, and
    * Top1WindowRewriteSpec pins the plan shape. Money in exact cents.
    */
  val q401Top1Rewrite: QueryDef = QueryDef(
    "q401_top1_rewrite",
    (s, dir) => {
      GraftExtensions.install(s)
      s.conf.set(Top1WindowRewrite.EnabledConf, "true")
      try {
        val o = Tables.orders(s, dir)
        o.withColumn(
            "rn",
            row_number().over(
              W.partitionBy(col("o_custkey"))
                .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
          .filter(col("rn") === 1)
          .select(
            col("o_custkey"),
            col("o_orderkey").as("latest_orderkey"),
            col("o_orderdate").as("latest_orderdate"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("total_cents"))
          .orderBy(col("o_custkey"))
          // pin execution under the conf (the rewrite is plan-time)
          .localCheckpoint()
      } finally s.conf.unset(Top1WindowRewrite.EnabledConf)
    },
    Some("""SELECT o_custkey,
                   o_orderkey AS latest_orderkey,
                   o_orderdate AS latest_orderdate,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) rn
                  FROM orders)
            WHERE rn = 1
            ORDER BY o_custkey""")
  )

  /** Bradley–Terry preference model — the pairwise-comparison fit
    * behind RLHF reward data and ranking leaderboards. Comparisons:
    * within each order, every lineitem pair from DIFFERENT supplier
    * teams (team = suppkey mod 8) is one duel, won by the higher
    * line revenue (cents; orderkey·linenumber breaks exact-cent ties,
    * so every duel is decided deterministically). The MM algorithm
    * (Hunter 2004): p'ₐ = Wₐ / Σ_b gₐᵦ/(pₐ+p_b), renormalized to
    * Σp = 8, run 10 iterations — each is one join+agg over the
    * 8×8 duel matrix, so the iterative part is constant-size at any
    * corpus scale; the corpus-sized work is ONE bounded self-join
    * (≤7 lineitems per order) + one keyed count. Every reduction
    * snaps to the 2⁻³⁰ grid, so both engines walk the same
    * trajectory bit-for-bit.
    */
  val q402BradleyTerry: QueryDef = QueryDef(
    "q402_bradley_terry",
    (s, dir) => {
      import s.implicits._
      Spark("r12_").register(s, dir, "lineitem")
      // Corpus-sized work runs distributed: the bounded per-order
      // self-join (≤7 lines/order) + keyed counts reduce 100 TB to an
      // ≤8×8 duel matrix. That matrix is bounded model state (the
      // k-means-codebook precedent), so the 10 MM iterations are a
      // driver loop over ≤64 cells — NOT an unrolled SQL plan, which
      // duplicates the upstream CTE chain 2^10 times under inlining.
      val cells = s
        .sql(s"""${btMatrixCtes("r12_lineitem")}
                 SELECT g.a, g.b, g.g, w.w
                 FROM games g LEFT JOIN wins w ON w.a = g.a""")
        .collect()
      val games = cells.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val wins = cells
        .filter(!_.isNullAt(3))
        .map(r => r.getLong(0) -> r.getDouble(3))
        .toMap
      // Every addend lands on the 2^-30 grid with small magnitude, so
      // the sums below are EXACT in IEEE doubles — iteration order
      // cannot change them, and DuckDB's aggregation order matches.
      var ratings: Map[Long, Double] =
        games.map(_._1).distinct.map(_ -> 1.0).toMap
      for (_ <- 0 until 10) {
        val den = games
          .filter(c => ratings.contains(c._1) && ratings.contains(c._2))
          .groupBy(_._1)
          .map { case (a, rows) =>
            a -> rows.map(c => snapD(c._3.toDouble / (ratings(c._1) + ratings(c._2)))).sum
          }
        val raw = den.flatMap { case (a, d) => wins.get(a).map(w => a -> snapD(w / d)) }
        val tot = raw.values.sum
        ratings = raw.map { case (a, r) => a -> snapD(8.0 * r / tot) }
      }
      val out = ratings.toSeq
        .sortBy { case (t, r) => (-r, t) }
        .zipWithIndex
        .map { case ((t, r), i) => (t, r, (i + 1).toLong) }
        .sortBy(_._1)
      out.toDF("team", "rating", "pos")
    },
    Some(bradleyTerryOracleSql)
  )

  /** Shared CTE prefix: lineitem → duel matrix `games(a,b,g)` +
    * win totals `wins(a,w)`. Identical text for Spark and DuckDB.
    */
  private def btMatrixCtes(tbl: String, mat: String = ""): String =
    s"""WITH li AS (
          SELECT l_orderkey ok,
                 CAST(l_suppkey % 8 AS BIGINT) team,
                 CAST(round(l_extendedprice * 100) AS BIGINT) * 100
                   + l_orderkey % 10 * 10 + l_linenumber rev
          FROM $tbl),
        duels AS (
          SELECT x.team a, y.team b
          FROM li x JOIN li y ON x.ok = y.ok AND x.team <> y.team
          WHERE x.rev > y.rev),
        games0 AS (SELECT a, b, CAST(count(*) AS BIGINT) n
                   FROM duels GROUP BY 1, 2),
        games AS ${mat}(
          SELECT coalesce(x.a, y.b) a, coalesce(x.b, y.a) b,
                 CAST(coalesce(x.n, 0) + coalesce(y.n, 0) AS BIGINT) g
          FROM games0 x FULL OUTER JOIN games0 y ON x.a = y.b AND x.b = y.a),
        wins AS ${mat}(SELECT a, CAST(sum(n) AS DOUBLE) w FROM games0 GROUP BY 1)"""

  /** DuckDB replays the MM trajectory as 10 unrolled CTE stages
    * (DuckDB materializes CTEs, so no inlining blow-up). Each addend
    * snaps to the 2^-30 grid BEFORE summing, making the sums exact —
    * both engines walk the same trajectory bit-for-bit.
    */
  private def bradleyTerryOracleSql: String = {
    val mat = "MATERIALIZED "
    val iters = (0 until 10)
      .map { k =>
        val term = snap("g.g / (ra.rating + rb.rating)")
        s"""it${k + 1}_den AS ${mat}(
              SELECT g.a AS team, sum($term) AS den
              FROM games g
              JOIN it$k ra ON ra.team = g.a
              JOIN it$k rb ON rb.team = g.b
              GROUP BY g.a),
            it${k + 1}_raw AS ${mat}(
              SELECT d.team, ${snap("w.w / d.den")} AS rating
              FROM it${k + 1}_den d JOIN wins w ON w.a = d.team),
            it${k + 1} AS ${mat}(
              SELECT r.team, ${snap("8.0 * r.rating / t.tot")} AS rating
              FROM it${k + 1}_raw r
              CROSS JOIN (SELECT sum(rating) AS tot FROM it${k + 1}_raw) t)"""
      }
      .mkString(",\n")
    s"""${btMatrixCtes("lineitem", mat)},
        it0 AS ${mat}(SELECT DISTINCT a AS team, CAST(1.0 AS DOUBLE) rating FROM games),
        $iters
        SELECT team, rating,
               CAST(rank() OVER (ORDER BY rating DESC, team) AS BIGINT) AS pos
        FROM it10
        ORDER BY team"""
  }

  /** RAKE keyword extraction (Rose et al. 2010) over the documents
    * corpus: candidate phrases are maximal stopword-free word runs
    * (the island trick — word position minus per-doc non-stopword
    * rank), a word's score is degree/frequency (degree = Σ lengths of
    * phrases containing it), a phrase's score is the sum of its
    * member-word scores. Top 15 phrases by snapped score, phrase text
    * breaking ties. One scan + explode + three keyed aggs — no pair
    * work, no driver loops; the explode fan is words-per-doc.
    */
  val q403RakeKeywords: QueryDef = QueryDef.sql("q403_rake_keywords", "r12_", "documents")(rakeSql)

  private def rakeSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val words = posTokens(tbl, d, "doc_id")
    val phrase = d match {
      case _: Spark =>
        "array_join(transform(array_sort(array_agg(struct(nw.pos, nw.word))), s -> s.word), ' ')"
      case DuckDb => "string_agg(nw.word, ' ' ORDER BY nw.pos)"
    }
    s"""WITH w AS ($words),
        nw AS (
          SELECT doc_id, pos, word,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) island
          FROM w
          WHERE word NOT IN ('the','of','and','a','an','in','to','is','are',
                             'for','on','with','as','by','at','or','be','it',
                             'that','this','from','was','were','which')
            AND length(word) >= 2),
        ph AS (
          SELECT doc_id, island,
                 CAST(count(*) AS BIGINT) plen
          FROM nw GROUP BY 1, 2),
        wscore AS (
          SELECT nw.word,
                 CAST(sum(ph.plen) AS BIGINT) degree,
                 CAST(count(*) AS BIGINT) freq
          FROM nw JOIN ph ON ph.doc_id = nw.doc_id AND ph.island = nw.island
          GROUP BY 1),
        ptext AS (
          SELECT nw.doc_id, nw.island,
                 $phrase phrase,
                 ${snap("sum(CAST(ws.degree AS DOUBLE) / ws.freq)")} score
          FROM nw
          JOIN wscore ws ON ws.word = nw.word
          GROUP BY 1, 2)
        SELECT phrase, score, CAST(count(*) AS BIGINT) n_docs
        FROM ptext
        GROUP BY 1, 2
        ORDER BY score DESC, phrase
        LIMIT 15"""
  }

  /** Hill-number diversity profile per region — the ecology triple
    * (q0 = richness, q1 = exp(Shannon), q2 = inverse Simpson) over the
    * part-type mix each region's suppliers ship. One join chain + one
    * keyed agg; proportions come from exact integer counts, the
    * ln/exp step snaps. Hill numbers are the effective-species scale
    * (all three equal N iff perfectly even), the standard way to read
    * corpus-source diversity for training-mix design.
    */
  val q404HillDiversity: QueryDef =
    QueryDef.sql("q404_hill_diversity", "r12_", "lineitem", "supplier", "nation", "part")(hillSql)

  private def hillSql(d: Dialect): String = {
    s"""WITH typed AS (
          SELECT n.n_regionkey rk, p.p_type t, CAST(count(*) AS BIGINT) n
          FROM ${d.t("lineitem")} l
          JOIN ${d.t("supplier")} s ON s.s_suppkey = l.l_suppkey
          JOIN ${d.t("nation")} n ON n.n_nationkey = s.s_nationkey
          JOIN ${d.t("part")} p ON p.p_partkey = l.l_partkey
          GROUP BY 1, 2),
        tot AS (SELECT rk, CAST(sum(n) AS BIGINT) nt FROM typed GROUP BY 1)
        SELECT t.rk AS region_key,
               CAST(count(*) AS BIGINT) AS hill_q0,
               ${snap(s"exp(-${snap(
        "sum((CAST(t.n AS DOUBLE)/x.nt) * ln(CAST(t.n AS DOUBLE)/x.nt))")})")}
                 AS hill_q1,
               ${snap(s"1.0 / ${snap(
        "sum((CAST(t.n AS DOUBLE)/x.nt) * (CAST(t.n AS DOUBLE)/x.nt))")}")}
                 AS hill_q2
        FROM typed t JOIN tot x ON x.rk = t.rk
        GROUP BY 1
        ORDER BY 1"""
  }

  /** Weight-of-evidence / information-value binning — the credit-
    * scoring (and data-curation filter-calibration) primitive: bin
    * l_discount into its 11 exact-cent levels, target = late shipment
    * (> 25 days after order date), WoEᵢ = ln((goodᵢ/G)/(badᵢ/B)),
    * IVᵢ = (goodᵢ/G − badᵢ/B)·WoEᵢ. All counts integer, one join +
    * one keyed agg + a broadcast totals row; ln snaps. A bin with
    * zero goods or bads would hit ±∞ — the discount grid guarantees
    * both classes populate every bin at sf ≥ 0.001 (asserted by the
    * oracle equality itself).
    */
  val q405WoeIv: QueryDef = QueryDef.sql("q405_woe_iv", "r12_", "lineitem", "orders")(woeSql)

  private def woeSql(d: Dialect): String = {
    val dd = d match {
      case _: Spark => "datediff(l.l_shipdate, o.o_orderdate)"
      case DuckDb => "datediff('day', o.o_orderdate, l.l_shipdate)"
    }
    s"""WITH lab AS (
          SELECT CAST(round(l.l_discount * 100) AS BIGINT) bin,
                 CASE WHEN $dd > 25 THEN 1 ELSE 0 END bad
          FROM ${d.t("lineitem")} l JOIN ${d.t("orders")} o ON o.o_orderkey = l.l_orderkey),
        b AS (
          SELECT bin,
                 CAST(sum(1 - bad) AS BIGINT) n_good,
                 CAST(sum(bad) AS BIGINT) n_bad
          FROM lab GROUP BY 1),
        t AS (SELECT CAST(sum(n_good) AS BIGINT) tg,
                     CAST(sum(n_bad) AS BIGINT) tb FROM b)
        SELECT b.bin AS discount_pct,
               b.n_good, b.n_bad,
               ${snap("ln((CAST(b.n_good AS DOUBLE)/t.tg) / (CAST(b.n_bad AS DOUBLE)/t.tb))")}
                 AS woe,
               ${snap(s"(CAST(b.n_good AS DOUBLE)/t.tg - CAST(b.n_bad AS DOUBLE)/t.tb) * ${snap(
        "ln((CAST(b.n_good AS DOUBLE)/t.tg) / (CAST(b.n_bad AS DOUBLE)/t.tb))")}")}
                 AS iv_contrib
        FROM b CROSS JOIN t
        ORDER BY 1"""
  }

  val all: Seq[QueryDef] =
    Seq(q401Top1Rewrite, q402BradleyTerry, q403RakeKeywords,
      q404HillDiversity, q405WoeIv)
}
