package graft.queries

import graft.queries.SqlFragments._

/** Round-62 additions (q602+): physical-design advisor panel — the three
  * numbers a 100 TB lake layout decision actually consumes: a dictionary-
  * encoding advisor over lineitem's columns (NDV ratio per column, the
  * parquet encoding chooser's input), a partition-key advisor over the
  * events table's candidate keys (cardinality + max-partition skew — the
  * shuffle-design table: too many partitions ⇒ small files, skew > 4×
  * ⇒ stragglers), and a Bloom-filter sizing audit for a selective
  * build-side semi-join (closed-form m/k at a dyadic 2⁻⁷ FPR plus the
  * measured scan-reduction the filter would actually buy on this data).
  * All exact integer counts; the single transcendental is the constant
  * ln 2. House invariants as Round13–61.
  */
object Round62 {

  // ---------------------------------------------------------------- q602

  /** Dictionary-encoding advisor: per audited lineitem column, rows /
    * NDV / NDV ratio, and the dict_worthy verdict at the dyadic 1/16
    * shelf (a dictionary pays when the value universe is ≪ the row
    * count; 1/16 is the conservative end of the parquet-writer
    * heuristics). The column list is the audit's fixed contract.
    *
    * Shape history (r13 optimization round, MEASURED): the mid-r13
    * build swapped the 8 UNION ALL branches for a single multi-distinct
    * aggregate (VERDICT r12 ask #5). Catalyst's
    * RewriteDistinctAggregates plans that as ONE FileSourceScan + a
    * 9-way Expand — every scanned row multiplied 9×, 5.4M rows through
    * two Exchanges at sf0.1 — and the bench read **2.53 s vs the
    * 8-branch shape's 0.16 s** (r13's before-optimization bench archive vs r12's).
    * The Expand costs the same 9× row blow-up against a 100 TB
    * lineitem, while the 8 branches each scan ONE column under
    * columnar pruning with partial-aggregated distincts — cheaper at
    * every scale. Reverted to the branch-per-column shape (identical
    * to the oracle's); plan evidence in
    * plans/r13/q602_encoding_advisor_{before,after}.txt.
    */
  private val encodingCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus", "l_shipdate")

  val q602EncodingAdvisor: QueryDef =
    QueryDef.sql("q602_encoding_advisor", "r62_", "lineitem")(encodingSql)

  private def encodingSql(d: Dialect): String = {
    val tbl = d.t("lineitem")
    val branches = encodingCols.map { c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT $c) AS BIGINT) AS ndv
          FROM $tbl"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH stats AS (
          $branches)
        SELECT col_name, n_rows, ndv,
               ${snap("CAST(ndv AS DOUBLE) / n_rows")} AS ndv_ratio,
               CAST(CASE WHEN 16 * ndv <= n_rows THEN 1 ELSE 0 END AS INT)
                 AS dict_worthy
        FROM stats ORDER BY col_name"""
  }

  // ---------------------------------------------------------------- q603

  /** Partition-key advisor over the events table: for each candidate
    * key (calendar day, hour-of-day, event_type, user_id mod 256) the
    * partition count, the biggest partition, the max/mean skew factor
    * and the two failure flags — skew > 4 (stragglers at shuffle) and
    * parts > 10⁴ (small-files pathology). Exact integer counts; skew
    * divides once. THE table to read before choosing a 100 TB layout's
    * partitioning column.
    */
  val q603PartitionAdvisor: QueryDef =
    QueryDef.sql("q603_partition_advisor", "r62_", "events")(partitionSql)

  private def partitionSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val keys = Seq(
      "day" -> s"CAST(($us ${d.idiv} 86400000000) AS ${d.str})",
      "hour_of_day" -> s"CAST((($us ${d.idiv} 3600000000) % 24) AS ${d.str})",
      "event_type" -> "event_type",
      "user_mod_256" -> s"CAST((user_id % 256) AS ${d.str})")
    val keyExprs = keys.map { case (name, expr) =>
      s"""SELECT '$name' AS key_name, $expr AS pk FROM $tbl"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH keyed AS (
          $keyExprs),
        parts AS (SELECT key_name, pk, CAST(count(*) AS BIGINT) AS n
                  FROM keyed GROUP BY 1, 2),
        agg AS (SELECT key_name,
                       CAST(count(*) AS BIGINT) AS n_parts,
                       CAST(max(n) AS BIGINT) AS max_rows,
                       CAST(sum(n) AS BIGINT) AS n_total
                FROM parts GROUP BY 1)
        SELECT key_name, n_parts, max_rows,
               ${snap("CAST(max_rows AS DOUBLE) * n_parts / n_total")} AS skew,
               CAST(CASE WHEN CAST(max_rows AS DOUBLE) * n_parts / n_total
                              > CAST(4 AS DOUBLE)
                    THEN 1 ELSE 0 END AS INT) AS straggler_risk,
               CAST(CASE WHEN n_parts > 10000 THEN 1 ELSE 0 END AS INT)
                 AS small_files_risk
        FROM agg ORDER BY key_name"""
  }

  // ---------------------------------------------------------------- q604

  /** Bloom-filter sizing audit for the selective semi-join "orders of
    * negative-balance customers": build side n = |{c_acctbal < 0}|,
    * target FPR 2⁻⁷ ⇒ k = 7 hashes EXACTLY (k = −log₂ p) and
    * m = ⌈7n/ln 2⌉ bits (the classic optimum m = −n·ln p/ln²2 collapses
    * against a dyadic p); the measured payoff column is the expected
    * probe-scan reduction 1 − (hit_rate + p·(1 − hit_rate)) from the
    * EXACT join hit count — the number that decides whether shipping
    * the filter to the scan is worth it.
    */
  val q604BloomSizing: QueryDef =
    QueryDef.sql("q604_bloom_sizing", "r62_", "orders", "customer")(bloomSql)

  private def bloomSql(d: Dialect): String = {
    s"""WITH build AS (SELECT c_custkey FROM ${d.t("customer")} WHERE c_acctbal < 0),
        nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM build),
        probe AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ${d.t("orders")}),
        hits AS (SELECT CAST(count(*) AS BIGINT) AS n
                 FROM ${d.t("orders")} o JOIN build b ON b.c_custkey = o.o_custkey),
        f AS (SELECT nb.n AS n_build, probe.n AS n_probe, hits.n AS n_hits,
                     CAST(ceil(7 * nb.n / ln(CAST(2 AS DOUBLE))) AS BIGINT)
                       AS m_bits,
                     CAST(hits.n AS DOUBLE) / probe.n AS hit_rate
              FROM nb CROSS JOIN probe CROSS JOIN hits)
        SELECT n_build, CAST(7 AS INT) AS k_hashes, m_bits,
               ${snap("CAST(m_bits AS DOUBLE) / n_build")} AS bits_per_key,
               n_probe, n_hits,
               ${snap("hit_rate")} AS hit_rate,
               ${snap(
        """1 - (hit_rate + (1 - hit_rate) / 128)""")} AS scan_reduction
        FROM f"""
  }

  val all: Seq[QueryDef] =
    Seq(q602EncodingAdvisor, q603PartitionAdvisor, q604BloomSizing)
}
