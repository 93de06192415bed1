package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-28 additions (q474+): structure-quality audits — external
  * clustering agreement (ARI + NMI + homogeneity/completeness between
  * the embedding labels and the deterministic IVF cells, all from ONE
  * contingency table of exact BIGINT counts), and dedup percolation
  * (how the duplicate-cluster structure changes as the Jaccard
  * threshold drops — the number that says where near-dup merging starts
  * to snowball). House invariants as Round13-27.
  */
object Round28 {

  // ---------------------------------------------------------------- q474

  /** External clustering agreement between the labeled classes and the
    * q46 deterministic IVF cell assignment: Adjusted Rand Index (pair
    * counting — every C(x,2) is exact BIGINT x(x−1)/2), NMI
    * (√-normalized), homogeneity and completeness (entropy ratios) —
    * the full sklearn-style agreement sheet from ONE label×cell
    * contingency table. Corpus work is the cell assignment scan + one
    * keyed count; every metric then folds over the bounded ≤ labels ×
    * cells relation with snapped addends. The oracle replays the IVF
    * build (AnnReplaySql) and the identical arithmetic.
    */
  val q474ClusterAgreement: QueryDef = QueryDef(
    "q474_cluster_agreement",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      emb.createOrReplaceTempView("r28_embeddings")
      val assign = graft.operators.Similarity
        .ivfAssign(emb)
        .select(col("vec_id"), col("cell"))
      assign.createOrReplaceTempView("r28_assign")
      s.sql(agreementSql)
    },
    Some(s"""WITH ${AnnReplaySql.preambleSql},
            ${AnnReplaySql.ivfModelSql(2)},
            lab AS (SELECT vec_id, label FROM embeddings),
            asg AS (SELECT vec_id, cell FROM assign),
            ${agreementTail()}""")
  )

  private val agreementSql: String =
    s"""WITH lab AS (SELECT vec_id, label FROM r28_embeddings),
        asg AS (SELECT vec_id, cell FROM r28_assign),
        ${agreementTail()}"""

  /** The metric arithmetic over `lab(vec_id, label)` and
    * `asg(vec_id, cell)` — shared verbatim by both engines.
    */
  private def agreementTail(): String =
    s"""ct AS (
          SELECT l.label, a.cell, CAST(count(*) AS BIGINT) AS nij
          FROM lab l JOIN asg a ON a.vec_id = l.vec_id
          GROUP BY 1, 2),
        ai AS (SELECT label, CAST(sum(nij) AS BIGINT) AS a FROM ct GROUP BY 1),
        bj AS (SELECT cell, CAST(sum(nij) AS BIGINT) AS b FROM ct GROUP BY 1),
        n AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct),
        -- pair counts: C(x,2) = x(x-1)/2, exact BIGINT
        pc AS (
          SELECT (SELECT CAST(sum(nij * (nij - 1) / 2) AS BIGINT) FROM ct) AS sij,
                 (SELECT CAST(sum(a * (a - 1) / 2) AS BIGINT) FROM ai) AS sa,
                 (SELECT CAST(sum(b * (b - 1) / 2) AS BIGINT) FROM bj) AS sb,
                 (SELECT CAST(n * (n - 1) / 2 AS BIGINT) FROM n) AS sn),
        -- entropies and mutual information over the bounded contingency
        hu AS (SELECT ${snap(s"sum(${snap(
      "-(CAST(a AS DOUBLE) / n.n) * ln(CAST(a AS DOUBLE) / n.n)")})")} AS h
               FROM ai, n),
        hv AS (SELECT ${snap(s"sum(${snap(
      "-(CAST(b AS DOUBLE) / n.n) * ln(CAST(b AS DOUBLE) / n.n)")})")} AS h
               FROM bj, n),
        mi AS (
          SELECT ${snap(s"sum(${snap(
      """(CAST(ct.nij AS DOUBLE) / n.n) *
         ln(CAST(ct.nij AS DOUBLE) * n.n / (CAST(ai.a AS DOUBLE) * bj.b))""")})")} AS i
          FROM ct
          JOIN ai ON ai.label = ct.label
          JOIN bj ON bj.cell = ct.cell, n)
        SELECT n.n AS n_vectors,
               ${snap(
      """(pc.sij - CAST(pc.sa AS DOUBLE) * pc.sb / pc.sn) /
         ((CAST(pc.sa AS DOUBLE) + pc.sb) / 2.0
          - CAST(pc.sa AS DOUBLE) * pc.sb / pc.sn)""")} AS ari,
               ${snap("mi.i / sqrt(hu.h * hv.h)")} AS nmi,
               ${snap("mi.i / hu.h")} AS homogeneity,
               ${snap("mi.i / hv.h")} AS completeness
        FROM pc, hu, hv, mi, n"""

  // ---------------------------------------------------------------- q475

  /** Dedup percolation: the near-dup CLUSTER structure at Jaccard
    * thresholds 0.97 and 0.90 — edges, touched docs, component count, the
    * largest cluster and the dup-doc share. The planning number behind
    * every threshold choice: as t drops, clusters merge, and past the
    * percolation point one giant component eats the corpus (removing
    * "all but one per cluster" then deletes far more than intended).
    * The exact pair set computes ONCE at t=0.9 (the PPJoin path — its
    * emitted jaccard re-filters losslessly at 0.97, since both engines
    * round identically), and each threshold's closure is the O(log n)
    * star contraction. Oracle: the shared inverted-index exact-pair CTE
    * ([[LlmQueries.ngramJaccardOracleAt]], sf0.1-tractable) + one
    * recursive reach per threshold.
    */
  val q475DedupPercolation: QueryDef = QueryDef(
    "q475_dedup_percolation",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val nDocs = docs.count()
      // ngramJaccardPairs (r11) returns an eagerly materialized relation —
      // no caller-side checkpoint needed.
      val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.9)
      // Both thresholds ride ONE keyed star contraction: the two edge
      // sets are tagged and every contraction round's shuffles are
      // shared (keyed by (threshold, node)) — max-of-2 rounds of shared
      // jobs instead of two sequential closures (r9; on small graphs the
      // per-round job overhead, not the data, is the cost).
      val thresholds = Seq(0.97, 0.9)
      val tagged = thresholds.map(t =>
          pairs.filter(col("jaccard") >= t).withColumn("threshold", lit(t)))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val comp = Dedup.connectedComponentsStarKeyed(tagged, "threshold")
      val sizes = comp.groupBy(col("threshold"), col("cluster_rep"))
        .agg(count(lit(1)).as("sz"))
      val stats = sizes.groupBy(col("threshold")).agg(
        count(lit(1)).cast("long").as("n_components"),
        coalesce(sum(col("sz")), lit(0L)).cast("long").as("n_docs"),
        coalesce(max(col("sz")), lit(0L)).cast("long").as("max_cluster"))
      val edgeCounts = tagged.groupBy(col("threshold"))
        .agg(count(lit(1)).cast("long").as("n_edges"))
      // LEFT from a literal threshold frame: a threshold with zero edges
      // still emits its (all-zero) row, as the oracle's aggregate CTEs do.
      thresholds.toDF("threshold")
        .join(stats, Seq("threshold"), "left")
        .join(edgeCounts, Seq("threshold"), "left")
        .select(
          col("threshold"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_components"), lit(0L)).as("n_components"),
          coalesce(col("max_cluster"), lit(0L)).as("max_cluster"),
          expr(snap(s"CAST(coalesce(n_docs, 0) AS DOUBLE) / $nDocs")).as("dup_doc_share"))
        .orderBy(col("threshold").desc)
    },
    Some {
      def reach(t: String, name: String) =
        s"""e_$name AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs WHERE jaccard >= $t
              UNION
              SELECT doc_b, doc_a FROM pairs WHERE jaccard >= $t),
            reach_$name AS (
              SELECT u AS doc, u AS label FROM e_$name
              UNION
              SELECT e.u, r.label
              FROM e_$name e JOIN reach_$name r ON r.doc = e.v),
            comp_$name AS (
              SELECT doc, min(label) AS rep FROM reach_$name GROUP BY doc),
            stat_$name AS (
              SELECT CAST($t AS DOUBLE) AS threshold,
                     (SELECT CAST(count(*) AS BIGINT) FROM pairs
                      WHERE jaccard >= $t) AS n_edges,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(count(DISTINCT rep) AS BIGINT) AS n_components,
                     CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster,
                     ${snap("CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM documents)")}
                       AS dup_doc_share
              FROM (SELECT rep, CAST(count(*) AS BIGINT) AS sz
                    FROM comp_$name GROUP BY rep) c
              JOIN comp_$name USING (rep))"""
      s"""WITH RECURSIVE g AS (
            SELECT doc_id,
                   list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                  FOR i IN range(1, len(string_split(text, ' ')) - 1)]) AS gs
            FROM documents),
          s AS (SELECT doc_id, gs, len(gs) AS sz FROM g WHERE len(gs) > 0),
          pairs AS (${graft.queries.LlmQueries.ngramJaccardOracleAt("0.9")}),
          ${reach("0.97", "t8")},
          ${reach("0.9", "t6")}
          SELECT * FROM stat_t8
          UNION ALL
          SELECT * FROM stat_t6
          ORDER BY threshold DESC"""
    }
  )

  val all: Seq[QueryDef] = Seq(q474ClusterAgreement, q475DedupPercolation)
}
