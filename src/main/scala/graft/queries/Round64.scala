package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-64 additions (q608+): engine-depth trio (VERDICT r12 ask #7 —
  * planner/operator paths, not another scalar panel):
  *
  *   - q608: INCREMENTAL connected-components maintenance
  *     ([[Graph.incrementalConnectedComponents]]) — the nightly-lake-delta
  *     path next to the batch q58/q69 contractions, oracled against the
  *     SAME recursive-CTE closure, so "incremental ≡ full recompute" is a
  *     checked fact, not an argument.
  *   - q609: broadcast-threshold advisor — per-table exact in-memory size
  *     estimate (integer-only: fixed type widths + measured string bytes)
  *     against the 10 MB broadcast shelf; the data side of
  *     `PlanGuard.broadcastMisses`, which Round64PropertySpec wires to
  *     the ACTUAL physical plans of the canonical dim⋈fact joins.
  *   - q610: skew-aware range-partition boundary advisor — exact
  *     ⌈i·n/8⌉ order-statistic cuts from a value-HISTOGRAM cumulative
  *     sweep (NDV-sized window, never a corpus-sized sort), realized
  *     per-bucket counts vs the hash-mod baseline, per-method skew; the
  *     numbers `repartitionByRange` needs chosen BEFORE the shuffle.
  *     Range partitioning cannot split a hot VALUE — the skew column
  *     makes that visible instead of hiding it.
  *
  * House invariants as Round13–63: exact integer moments, snapped final
  * divisions, scalar-broadcast grids only, oracle + PropertySpec + 3-SF
  * sweep per query.
  */
object Round64 {

  // ---------------------------------------------------------------- q608

  /** Split the near-dup pair graph into a BASE slice (both endpoints in
    * the stable 80% of doc ids) and a DELTA slice (any endpoint in the
    * newest 20% — the nightly ingest), cluster the base with the star
    * contraction, then maintain incrementally. The oracle is q58's full
    * recursive-CTE closure over ALL pairs: bit-identical cluster reps and
    * sizes prove the maintenance path equals the full recompute.
    */
  val q608IncrementalCc: QueryDef = QueryDef(
    "q608_incremental_cc",
    (s, dir) => {
      // pair set feeds both slices — output-sized, localCheckpoint (§7.4)
      val pairs = Dedup.minhashPairs(Tables.documents(s, dir)).localCheckpoint()
      val bothOld = (col("doc_a") % 10 < 8) && (col("doc_b") % 10 < 8)
      val baseAssign = Dedup.connectedComponentsStar(pairs.filter(bothOld))
      Graph
        .incrementalConnectedComponents(baseAssign, pairs.filter(!bothOld))
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("cluster_size"))
    },
    LlmQueries.q58DedupClusters.oracle
  )

  // ---------------------------------------------------------------- q609

  /** Broadcast-threshold advisor: per table, exact row count and an
    * integer in-memory size estimate (sum of fixed column widths per row
    * + exact total string bytes), the dyadic 10 MB = 10·2²⁰ broadcast
    * shelf, and the advice string. No doubles anywhere — bit-identical
    * by construction. Each branch scans only its own (pruned) columns.
    */
  /** (table, fixed bytes per row, string columns). Fixed widths: 8 for
    * BIGINT/DOUBLE/TIMESTAMP, 4 for INT — the in-memory (not parquet)
    * footprint a broadcast relation actually pays.
    */
  private val advisorTables: Seq[(String, Int, Seq[String])] = Seq(
    ("region", 4, Seq("r_name")),
    ("nation", 8, Seq("n_name")),
    ("customer", 20, Seq("c_name", "c_mktsegment")),
    ("supplier", 20, Seq("s_name")),
    ("part", 20, Seq("p_name", "p_brand", "p_type")),
    ("orders", 32, Seq("o_orderstatus", "o_orderpriority")),
    ("lineitem", 68, Seq("l_returnflag", "l_linestatus")))

  val q609BroadcastAdvisor: QueryDef =
    QueryDef.sql("q609_broadcast_advisor", "r64_", advisorTables.map(_._1): _*)(broadcastSql)

  private def broadcastSql(d: Dialect): String = {
    val branches = advisorTables.map { case (t, fixed, strs) =>
      val tbl = d.t(t)
      val strBytes = strs.map(c => s"length($c)").mkString(" + ")
      s"""SELECT '$t' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
                 CAST($fixed * count(*) + sum($strBytes) AS BIGINT) AS est_bytes
          FROM $tbl"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH sizes AS (
          $branches)
        SELECT tbl, n_rows, est_bytes,
               CAST(CASE WHEN est_bytes <= 10485760 THEN 1 ELSE 0 END AS INT)
                 AS broadcastable,
               CASE WHEN est_bytes <= 10485760 THEN 'broadcast'
                    ELSE 'shuffle' END AS advice
        FROM sizes ORDER BY tbl"""
  }

  // ---------------------------------------------------------------- q610

  /** Range-partition boundary advisor over events.user_id, 8 buckets:
    * exact boundary values b_i = the ⌈i·n/8⌉-th order statistic for
    * i ∈ 1..7, computed from the value histogram's cumulative sum (the
    * q597 sweep discipline — the window runs over NDV(user_id) rows, not
    * the corpus), carried as ONE scalar-broadcast row; realized bucket =
    * 1 + #{boundaries < value} (every duplicate of a value lands in one
    * bucket, exactly like a real RangePartitioning); the hash-mod-8
    * baseline rides the same output. method_skew = max·8/total per
    * method — the straggler number that decides range vs hash.
    */
  val q610RangeBounds: QueryDef =
    QueryDef.sql("q610_range_bounds", "r64_", "events")(rangeBoundsSql)

  private def rangeBoundsSql(d: Dialect): String = {
    val tbl = d.t("events")
    val cuts = (1 to 7).map(i =>
      s"min(CASE WHEN cum >= (($i * n + 7) ${d.idiv} 8) THEN v END) AS b$i")
      .mkString(",\n                 ")
    val bucketExpr = (1 to 7).map(i =>
      s"CASE WHEN user_id > b.b$i THEN 1 ELSE 0 END").mkString(" + ")
    // r14 Spark branch: the cumulative sweep ran over the NDV(user_id)
    // histogram with NO partition key — one task, and NDV grows with
    // users (the inventory's one histogram sweep that is NOT
    // NDV-bounded). Bucketed prefix sum (the operators.Ranks
    // discipline, inline SQL): user_id is dense so 65536-id bands
    // balance by construction; only the band histogram sees an
    // unpartitioned window. Exact integer sums either way, so the
    // oracle keeps the textbook form.
    val cumCte = d match {
      case _: Spark =>
        """hb AS (SELECT v, c, v div 65536 AS bkt FROM hist),
        hbo AS (SELECT bkt,
                       coalesce(sum(bc) OVER (ORDER BY bkt
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         CAST(0 AS BIGINT)) AS off
                FROM (SELECT bkt, CAST(sum(c) AS BIGINT) AS bc
                      FROM hb GROUP BY 1) AS h),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
        cum AS (SELECT v, hbo.off + sum(c) OVER (PARTITION BY bkt ORDER BY v) AS cum,
                       tot.n AS n
                FROM hb JOIN hbo USING (bkt) CROSS JOIN tot)"""
      case DuckDb =>
        """cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
                       sum(c) OVER () AS n
                FROM hist)"""
    }
    s"""WITH u AS (SELECT user_id FROM $tbl),
        hist AS (SELECT user_id AS v, CAST(count(*) AS BIGINT) AS c
                 FROM u GROUP BY 1),
        $cumCte,
        b AS (SELECT $cuts
              FROM cum),
        assigned AS (
          SELECT 'range_exact' AS method,
                 CAST(1 + $bucketExpr AS INT) AS bucket
          FROM u CROSS JOIN b
          UNION ALL
          SELECT 'hash_mod' AS method,
                 CAST(1 + (user_id % 8) AS INT) AS bucket
          FROM u),
        counts AS (SELECT method, bucket, CAST(count(*) AS BIGINT) AS n_rows
                   FROM assigned GROUP BY 1, 2)
        SELECT method, bucket, n_rows,
               ${snap("CAST(max(n_rows) OVER (PARTITION BY method) AS DOUBLE) * 8" +
        " / sum(n_rows) OVER (PARTITION BY method)")} AS method_skew
        FROM counts ORDER BY method, bucket"""
  }

  // ---------------------------------------------------------------- q611

  /** Incremental near-dup INDEX maintenance
    * ([[Dedup.incrementalMinhashPairs]]) — the pair-discovery half of the
    * incremental dedup story (q608 is the cluster half): the newest 20%
    * of doc ids arrive as the delta, are signed and banded fresh, and
    * probe the stable 80%'s band buckets; only pairs touching the delta
    * are emitted, the base is never re-paired against itself. Oracle:
    * the exact inverted-index n-gram pair set restricted to delta-
    * touching pairs — incremental ≡ (full ∘ filter) is the checked fact.
    */
  val q611IncrementalNeardup: QueryDef = QueryDef(
    "q611_incremental_neardup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalMinhashPairs(
        docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8))
    },
    Some(s"""SELECT doc_a, doc_b, jaccard
             FROM (${LlmQueries.ngramJaccardOracle})
             WHERE doc_a % 10 >= 8 OR doc_b % 10 >= 8""")
  )

  val all: Seq[QueryDef] =
    Seq(q608IncrementalCc, q609BroadcastAdvisor, q610RangeBounds,
      q611IncrementalNeardup)
}
