package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Packing
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-32 additions (q484+): training-efficiency and reliability
  * audits — cross-document attention contamination of the q61 packing
  * layout (the share of same-window token pairs that cross a document
  * boundary — what an un-masked packed batch actually attends to),
  * multi-window multi-burn-rate SLO alerting over the event stream (the
  * SRE-workbook page rule: fast 1 h AND slow 6 h burn both over
  * threshold), and entropy-regularized optimal transport between two
  * sources' word-length distributions by Sinkhorn iteration on the
  * bounded bin grid (the structured distribution-shift cost next to
  * q294's 1-D EMD). House invariants as Round13-31.
  */
object Round32 {

  // ---------------------------------------------------------------- q484

  /** Packing contamination: after q61's greedy stream packing at budget
    * L ∈ {512, 2048}, the share of same-chunk ordered token pairs that
    * cross a document boundary — (Σ_chunks (T² − Σᵢlᵢ²)) / (Σ_chunks T²),
    * EXACT integer arithmetic end to end — plus chunks, mean docs per
    * chunk and mean fill. Without cross-doc attention masking this IS
    * the share of attention spent on foreign context; the number that
    * decides whether the packer needs boundary masks. One token-count
    * scan; both budgets derive from the same cumulative relation.
    */
  val q484PackingContamination: QueryDef = QueryDef(
    "q484_packing_contamination",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tagged = Seq(512L, 2048L).map { b =>
        Packing.chunkAssignments(docs, budget = b)
          .withColumn("budget", lit(b))
      }.reduce(_ unionByName _)
      val perChunk = tagged.groupBy(col("budget"), col("chunk_id")).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("t"),
        sum(col("n_tokens") * col("n_tokens")).cast("long").as("s2"))
      perChunk.groupBy(col("budget")).agg(
        count(lit(1)).cast("long").as("n_chunks"),
        sum(col("n_docs")).cast("long").as("n_docs"),
        expr(snap("CAST(sum(n_docs) AS DOUBLE) / count(*)")).as("docs_per_chunk"),
        expr(snap("CAST(sum(t) AS DOUBLE) / (count(*) * CAST(budget AS DOUBLE))"))
          .as("fill_rate"),
        expr(snap("CAST(sum(t * t - s2) AS DOUBLE) / sum(t * t)"))
          .as("cross_doc_pair_share"))
        .orderBy(col("budget"))
    },
    Some {
      // replay the packer: global token cumsum in doc_id order, chunk =
      // floor(cum_excl / L); identical values to the bucketed
      // distributed construction (offset + within-bucket cumsum)
      s"""WITH toks AS (
            SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
            FROM documents),
          cum AS (
            SELECT doc_id, n,
                   CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                     AS cum_excl
            FROM toks),
          budgets AS (SELECT CAST(unnest([512, 2048]) AS BIGINT) AS budget),
          assign AS (
            SELECT budget, cum_excl // budget AS chunk_id, n
            FROM cum CROSS JOIN budgets),
          per_chunk AS (
            SELECT budget, chunk_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS t,
                   CAST(sum(n * n) AS BIGINT) AS s2
            FROM assign GROUP BY 1, 2)
          SELECT budget,
                 CAST(count(*) AS BIGINT) AS n_chunks,
                 CAST(sum(n_docs) AS BIGINT) AS n_docs,
                 ${snap("CAST(sum(n_docs) AS DOUBLE) / count(*)")} AS docs_per_chunk,
                 ${snap("CAST(sum(t) AS DOUBLE) / (count(*) * CAST(budget AS DOUBLE))")}
                   AS fill_rate,
                 ${snap("CAST(sum(t * t - s2) AS DOUBLE) / sum(t * t)")}
                   AS cross_doc_pair_share
          FROM per_chunk
          GROUP BY budget
          ORDER BY budget"""
    }
  )

  // ---------------------------------------------------------------- q485

  /** Multi-window multi-burn-rate SLO alert (the SRE-workbook page
    * rule): SLO = 99% non-error events; burn = error_rate / 0.01 over a
    * fast 1 h and a slow 6 h window; a page fires in hours where
    * burn_1h > 14.4 AND burn_6h > 6. The 6 h window is a VALUE-range
    * over the hour index, so sparse hours contribute nothing instead of
    * stretching a row frame. Reports per day: hours with traffic, paged
    * hours, worst fast/slow burns — the reliability digest an on-call
    * reads over the event lake. Exact counts everywhere; the burn
    * ratios snap.
    */
  val q485SloBurn: QueryDef = QueryDef.sql("q485_slo_burn", "r32_", "events")(sloBurnSql)

  private def sloBurnSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    s"""WITH e AS (
          SELECT CAST($us AS BIGINT) ${d.idiv} 3600000000 AS hi,
                 CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
          FROM $tbl),
        hourly AS (
          SELECT hi, CAST(count(*) AS BIGINT) AS n1,
                 CAST(sum(is_err) AS BIGINT) AS e1
          FROM e GROUP BY 1),
        w AS (
          SELECT hi, n1, e1,
                 CAST(sum(n1) OVER (ORDER BY hi
                   RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS n6,
                 CAST(sum(e1) OVER (ORDER BY hi
                   RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS e6
          FROM hourly),
        burns AS (
          SELECT hi, n1, e1, n6, e6,
                 (CAST(e1 AS DOUBLE) / n1) / CAST(0.01 AS DOUBLE) AS b1,
                 (CAST(e6 AS DOUBLE) / n6) / CAST(0.01 AS DOUBLE) AS b6
          FROM w)
        SELECT hi ${d.idiv} 24 AS day_idx,
               CAST(count(*) AS BIGINT) AS n_hours,
               CAST(sum(CASE WHEN b1 > CAST(14.4 AS DOUBLE)
                              AND b6 > CAST(6.0 AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_paged_hours,
               ${snap("max(b1)")} AS worst_burn_1h,
               ${snap("max(b6)")} AS worst_burn_6h
        FROM burns
        GROUP BY 1
        ORDER BY 1"""
  }

  // ---------------------------------------------------------------- q486

  /** Entropy-regularized optimal transport between the word-length
    * distributions of the lexicographically FIRST and LAST sources:
    * bins = min(word length, 15), cost |i−j|/14, ε = 0.1, five Sinkhorn
    * rounds (Cuturi 2013) u ← a/(Kv), v ← b/(Kᵀu) from u₀ = 1 on the
    * bounded ≤15×15 grid. Reports the entropic transport cost
    * ⟨diag(u)·K·diag(v), C⟩ and the row-marginal L1 error (how
    * converged 5 rounds got). The corpus work is ONE token-length
    * histogram; the kernel/marginal relations materialize once (q479
    * pattern) and every iteration touches only the bin grid. The
    * structured distribution-shift cost that q294's 1-D EMD cannot see
    * (EMD is OT's ε → 0 limit on the line); every exp/divide snaps so
    * both engines hold the same dyadic trajectory.
    */
  val q486SinkhornOt: QueryDef = QueryDef(
    "q486_sinkhorn_ot",
    (s, dir) => {
      val sp = Spark("r32_")
      sp.register(s, dir, "documents")
      s.sql(sinkhornHistSql(sp)).localCheckpoint()
        .createOrReplaceTempView("r32_ot_hist")
      s.sql(s"WITH ${sinkhornTail("r32_ot_hist")} ${sinkhornSelect()}")
    },
    Some(
      s"""WITH hist AS MATERIALIZED (${sinkhornHistSql(DuckDb)}),
          ${sinkhornTail("hist")}
          ${sinkhornSelect()}""")
  )

  /** (side 'a'|'b', bin, mass) — word-length histograms of the first and
    * last source, bins capped at 15, masses snapped to the dyadic grid.
    */
  private def sinkhornHistSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val words =
      s"""SELECT source, ${d.words} AS word
            FROM $tbl"""
    s"""WITH w AS (SELECT source, word FROM ($words) x WHERE word <> ''),
        ends AS (SELECT min(source) AS sa, max(source) AS sb FROM w),
        binned AS (
          SELECT CASE WHEN w.source = ends.sa THEN 'a' ELSE 'b' END AS side,
                 CAST(least(length(word), 15) AS BIGINT) AS bin
          FROM w CROSS JOIN ends
          WHERE w.source = ends.sa OR w.source = ends.sb),
        counts AS (
          SELECT side, bin, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY 1, 2),
        tot AS (SELECT side, CAST(sum(c) AS BIGINT) AS t FROM counts GROUP BY 1)
        SELECT counts.side, counts.bin,
               ${snap("CAST(c AS DOUBLE) / t")} AS mass
        FROM counts JOIN tot ON tot.side = counts.side"""
  }

  /** Kernel + marginals + 5 unrolled Sinkhorn rounds over `hist`. */
  private def sinkhornTail(hist: String): String = {
    val rounds = (1 to 5).map { k =>
      s"""u$k AS (
            SELECT kvq.i, ${snap(s"a.mass / (CAST(kvq.sq AS DOUBLE) / 1048576.0)")} AS u
            FROM (SELECT kmat.i,
                         CAST(sum(${qi("kmat.kv * v.v")}) AS BIGINT) AS sq
                  FROM kmat JOIN v${k - 1} v ON v.j = kmat.j
                  GROUP BY 1) kvq
            JOIN am a ON a.bin = kvq.i),
          v$k AS (
            SELECT kuq.j, ${snap(s"b.mass / (CAST(kuq.sq AS DOUBLE) / 1048576.0)")} AS v
            FROM (SELECT kmat.j,
                         CAST(sum(${qi("kmat.kv * u.u")}) AS BIGINT) AS sq
                  FROM kmat JOIN u$k u ON u.i = kmat.i
                  GROUP BY 1) kuq
            JOIN bm b ON b.bin = kuq.j)"""
    }.mkString(",\n")
    s"""am AS (SELECT bin, mass FROM $hist WHERE side = 'a'),
        bm AS (SELECT bin, mass FROM $hist WHERE side = 'b'),
        kmat AS (
          SELECT a.bin AS i, b.bin AS j,
                 ${snap("abs(CAST(a.bin - b.bin AS DOUBLE)) / 14.0")} AS cost,
                 ${snap("exp(-(abs(CAST(a.bin - b.bin AS DOUBLE)) / 14.0) / CAST(0.1 AS DOUBLE))")}
                   AS kv
          FROM am a CROSS JOIN bm b),
        v0 AS (SELECT DISTINCT j, CAST(1.0 AS DOUBLE) AS v FROM kmat),
        $rounds,
        plan AS (
          SELECT kmat.i, kmat.j, kmat.cost,
                 ${snap("u.u * kmat.kv * v.v")} AS p
          FROM kmat
          JOIN u5 u ON u.i = kmat.i
          JOIN v5 v ON v.j = kmat.j),
        rowsum AS (
          SELECT i, CAST(sum(${qi("p")}) AS BIGINT) AS rq FROM plan GROUP BY 1)"""
  }

  private def sinkhornSelect(): String =
    s"""SELECT CAST((SELECT count(*) FROM am) AS BIGINT) AS n_bins_a,
               CAST((SELECT count(*) FROM bm) AS BIGINT) AS n_bins_b,
               ${snap(s"(SELECT CAST(sum(${qi("p * cost")}) AS DOUBLE) / 1048576.0 FROM plan)")}
                 AS transport_cost,
               ${snap(s"""CAST((SELECT CAST(sum(${qi("abs(CAST(r.rq AS DOUBLE) / 1048576.0 - a.mass)")}) AS BIGINT)
                          FROM rowsum r JOIN am a ON a.bin = r.i) AS DOUBLE) / 1048576.0""")}
                 AS row_marginal_l1"""

  val all: Seq[QueryDef] =
    Seq(q484PackingContamination, q485SloBurn, q486SinkhornOt)
}
