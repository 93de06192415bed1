package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-11 additions (q380+): a TPC-H-shaped DECORRELATION suite —
  * the classic warehouse query shapes (min-cost supplier, top-revenue
  * supplier, dominant-supplier inventory, lone-late supplier,
  * dormant-prospect segments) adapted to this lake's schema (no
  * partsupp/phone/receiptdate columns; the supply catalog derives from
  * lineitem, country codes from key residues, lateness from
  * ship-vs-order dates). Every query leans on a different correlated
  * form Catalyst must decorrelate (scalar-agg subquery, uncorrelated
  * max, correlated IN with group-threshold, EXISTS/NOT-EXISTS pair,
  * anti join + scalar average) — the plans land as joins against
  * broadcast/keyed aggregates, never per-row re-execution (q89's plan
  * audit generalizes). Money stays in exact integer cents end to end.
  */
object Round11 {

  private val R11 = Spark("r11_")

  /** TPC-H Q2 shape: for every ECONOMY part, the region-0 supplier(s)
    * offering the minimum observed unit cost. The Spark branch states
    * the per-part minimum as a keyed window over the ONE supply⋈rs⋈part
    * relation (r14, guide §1.2/§2.4): the original correlated scalar-agg
    * subquery decorrelated into a SECOND full lineitem aggregation —
    * the supply CTE re-inlined per reference — where `min OVER
    * (PARTITION BY p_partkey)` reuses the rows the main join already
    * produced (identical output: the subquery's min ranged over exactly
    * the region-0 suppliers of that part). The oracle keeps the
    * correlated form.
    */
  val q380MinCostSupplier: QueryDef = QueryDef(
    "q380_min_cost_supplier",
    (s, dir) => {
      R11.register(s, dir, "lineitem", "supplier", "part", "nation")
      s.sql("""
        WITH supply AS (
          SELECT l_partkey pk, l_suppkey sk,
                 CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) cst
          FROM r11_lineitem GROUP BY 1, 2),
        rs AS (
          SELECT s_suppkey, s_name, n_name
          FROM r11_supplier JOIN r11_nation ON s_nationkey = n_nationkey
          WHERE n_regionkey = 0)
        SELECT p_partkey, s_suppkey, n_name, cost_cents
        FROM (
          SELECT CAST(p.p_partkey AS BIGINT) AS p_partkey,
                 CAST(rs.s_suppkey AS BIGINT) AS s_suppkey,
                 rs.n_name AS n_name, sup.cst AS cost_cents,
                 min(sup.cst) OVER (PARTITION BY p.p_partkey) AS mc
          FROM r11_part p
          JOIN supply sup ON sup.pk = p.p_partkey
          JOIN rs ON rs.s_suppkey = sup.sk
          WHERE p.p_type = 'ECONOMY') t
        WHERE cost_cents = mc
        ORDER BY p_partkey, s_suppkey""")
    },
    Some("""WITH supply AS (
              SELECT l_partkey pk, l_suppkey sk,
                     CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) cst
              FROM lineitem GROUP BY 1, 2),
            rs AS (
              SELECT s_suppkey, s_name, n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              WHERE n_regionkey = 0)
            SELECT CAST(p.p_partkey AS BIGINT) p_partkey,
                   CAST(rs.s_suppkey AS BIGINT) s_suppkey,
                   rs.n_name n_name, sup.cst cost_cents
            FROM part p
            JOIN supply sup ON sup.pk = p.p_partkey
            JOIN rs ON rs.s_suppkey = sup.sk
            WHERE p.p_type = 'ECONOMY'
              AND sup.cst = (SELECT min(s2.cst) FROM supply s2
                              JOIN rs r2 ON r2.s_suppkey = s2.sk
                              WHERE s2.pk = p.p_partkey)
            ORDER BY p_partkey, s_suppkey""")
  )

  /** TPC-H Q15 shape: supplier(s) with the maximum Q1-1995 discounted
    * revenue. Revenue is the exact integer cents×percent product
    * (price_cents · (100 − disc_pct)), so the max-equality predicate
    * never compares floats; the uncorrelated max subquery becomes a
    * broadcast single-row join.
    */
  val q381TopSupplier: QueryDef = QueryDef(
    "q381_top_supplier",
    (s, dir) => {
      R11.register(s, dir, "lineitem", "supplier")
      s.sql("""
        WITH rev AS (
          SELECT l_suppkey sk,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                          (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
                   total_rev
          FROM r11_lineitem
          WHERE to_date(l_shipdate) >= DATE '1995-01-01'
            AND to_date(l_shipdate) < DATE '1995-04-01'
          GROUP BY 1)
        SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name AS s_name,
               rev.total_rev AS total_rev
        FROM r11_supplier JOIN rev ON rev.sk = s_suppkey
        WHERE rev.total_rev = (SELECT max(total_rev) FROM rev)
        ORDER BY s_suppkey""")
    },
    Some("""WITH rev AS (
              SELECT l_suppkey sk,
                     CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                              (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
                       total_rev
              FROM lineitem
              WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
                AND CAST(l_shipdate AS DATE) < DATE '1995-04-01'
              GROUP BY 1)
            SELECT CAST(s_suppkey AS BIGINT) s_suppkey, s_name s_name,
                   rev.total_rev total_rev
            FROM supplier JOIN rev ON rev.sk = s_suppkey
            WHERE rev.total_rev = (SELECT max(total_rev) FROM rev)
            ORDER BY s_suppkey""")
  )

  /** TPC-H Q20 shape: suppliers who DOMINATED the 1996 shipments of
    * some red part (shipped > 30% of that part's total, integer ×10/×3
    * cross-multiplication — no division). The correlated per-part
    * total decorrelates into a part-keyed aggregate self-joined to the
    * supplier-part aggregate — both over the same filtered scan.
    */
  val q382DominantSupplier: QueryDef = QueryDef(
    "q382_dominant_supplier",
    (s, dir) => {
      R11.register(s, dir, "lineitem", "supplier", "part")
      s.sql("""
        WITH w AS (
          SELECT l_suppkey sk, l_partkey pk,
                 CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) q
          FROM r11_lineitem
          WHERE to_date(l_shipdate) >= DATE '1996-01-01'
            AND to_date(l_shipdate) < DATE '1997-01-01'
            AND l_partkey IN (SELECT p_partkey FROM r11_part WHERE p_name LIKE 'red%')
          GROUP BY 1, 2)
        SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name AS s_name
        FROM r11_supplier
        WHERE s_suppkey IN (
          SELECT w1.sk FROM w w1
          WHERE w1.q * 10 > 3 * (SELECT sum(w2.q) FROM w w2 WHERE w2.pk = w1.pk))
        ORDER BY s_suppkey""")
    },
    Some("""WITH w AS (
              SELECT l_suppkey sk, l_partkey pk,
                     CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) q
              FROM lineitem
              WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
                AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
              GROUP BY 1, 2)
            SELECT CAST(s_suppkey AS BIGINT) s_suppkey, s_name s_name
            FROM supplier
            WHERE s_suppkey IN (
              SELECT w1.sk FROM w w1
              WHERE w1.q * 10 > 3 * (SELECT sum(w2.q) FROM w w2 WHERE w2.pk = w1.pk))
            ORDER BY s_suppkey""")
  )

  /** TPC-H Q21 shape: the LONE-LATE supplier — in multi-supplier
    * orders, the supplier who shipped > 60 days after order placement
    * while every other supplier shipped on time; top 20 by incident
    * count. The Spark branch folds the EXISTS / NOT-EXISTS pair into
    * ONE order-keyed aggregate over l1 (r14, guide §1.2): the original
    * referenced l1 three times and each reference re-inlined the full
    * lineitem⋈orders aggregation. Per order, "∃ another supplier" ≡
    * n_sup ≥ 2, "¬∃ another late supplier ∧ this one late" ≡ exactly
    * one late supplier (n_late = 1), and that one supplier is
    * max(CASE WHEN late THEN sk END) — the same qualifying
    * (order, supplier) set, counted once. The oracle keeps the
    * EXISTS/NOT-EXISTS form.
    */
  val q383LoneLateSupplier: QueryDef = QueryDef(
    "q383_lone_late_supplier",
    (s, dir) => {
      R11.register(s, dir, "lineitem", "orders", "supplier")
      s.sql("""
        WITH l1 AS (
          SELECT l_orderkey ok, l_suppkey sk,
                 max(CASE WHEN to_date(l_shipdate) > date_add(to_date(o_orderdate), 60)
                          THEN 1 ELSE 0 END) late
          FROM r11_lineitem JOIN r11_orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        o AS (
          SELECT ok, count(*) AS n_sup, sum(late) AS n_late,
                 max(CASE WHEN late = 1 THEN sk END) AS lone_sk
          FROM l1 GROUP BY 1)
        SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name AS s_name,
               CAST(count(*) AS BIGINT) AS numwait
        FROM o JOIN r11_supplier ON o.lone_sk = s_suppkey
        WHERE n_sup >= 2 AND n_late = 1
        GROUP BY 1, 2
        ORDER BY numwait DESC, s_suppkey
        LIMIT 20""")
    },
    Some("""WITH l1 AS (
              SELECT l_orderkey ok, l_suppkey sk,
                     max(CASE WHEN CAST(l_shipdate AS DATE) >
                                   CAST(o_orderdate AS DATE) + 60
                              THEN 1 ELSE 0 END) late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1, 2)
            SELECT CAST(s_suppkey AS BIGINT) s_suppkey, s_name s_name,
                   CAST(count(*) AS BIGINT) numwait
            FROM l1 JOIN supplier ON l1.sk = s_suppkey
            WHERE l1.late = 1
              AND EXISTS (SELECT 1 FROM l1 o WHERE o.ok = l1.ok AND o.sk <> l1.sk)
              AND NOT EXISTS (SELECT 1 FROM l1 o2
                              WHERE o2.ok = l1.ok AND o2.sk <> l1.sk AND o2.late = 1)
            GROUP BY 1, 2
            ORDER BY numwait DESC, s_suppkey
            LIMIT 20""")
  )

  /** TPC-H Q22 shape: dormant high-balance prospects — customers in
    * "country codes" (key residue mod 7 ∈ {1,3,5}) with no FULFILLED
    * ('F'-status) order and a
    * balance above the positive-balance average of those codes. The
    * average compares as the exact cross-multiplication bal·n > sum
    * (never a float average), the order check is an anti join, and the
    * one-row (sum, n) aggregate broadcasts.
    */
  val q384DormantProspects: QueryDef = QueryDef(
    "q384_dormant_prospects",
    (s, dir) => {
      R11.register(s, dir, "customer", "orders")
      s.sql("""
        WITH pos AS (
          SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) s,
                 CAST(count(*) AS BIGINT) n
          FROM r11_customer
          WHERE c_acctbal > 0.0 AND c_custkey % 7 IN (1, 3, 5))
        SELECT cc, CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(bal) AS BIGINT) AS totacctbal_cents
        FROM (
          SELECT CAST(c_custkey % 7 AS BIGINT) cc,
                 CAST(round(c_acctbal * 100) AS BIGINT) bal
          FROM r11_customer, pos
          WHERE c_custkey % 7 IN (1, 3, 5)
            AND CAST(round(c_acctbal * 100) AS BIGINT) * pos.n > pos.s
            AND NOT EXISTS (SELECT 1 FROM r11_orders
                            WHERE o_custkey = c_custkey AND o_orderstatus = 'F'))
        GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH pos AS (
              SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) s,
                     CAST(count(*) AS BIGINT) n
              FROM customer
              WHERE c_acctbal > 0.0 AND c_custkey % 7 IN (1, 3, 5))
            SELECT cc, CAST(count(*) AS BIGINT) numcust,
                   CAST(sum(bal) AS BIGINT) totacctbal_cents
            FROM (
              SELECT CAST(c_custkey % 7 AS BIGINT) cc,
                     CAST(round(c_acctbal * 100) AS BIGINT) bal
              FROM customer, pos
              WHERE c_custkey % 7 IN (1, 3, 5)
                AND CAST(round(c_acctbal * 100) AS BIGINT) * pos.n > pos.s
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey AND o_orderstatus = 'F'))
            GROUP BY 1 ORDER BY 1""")
  )

  /** Herfindahl–Hirschman market concentration per supplier nation:
    * HHI = Σ share² over each nation's supplier revenue shares, with
    * revenue in exact cents×percent integers and the squares
    * accumulated in decimal(38,0) (≈10²⁶ per supplier never wraps).
    * One keyed agg per level; the per-nation totals relation is
    * dimension-sized and joins broadcast.
    */
  val q385HhiConcentration: QueryDef = QueryDef(
    "q385_hhi_concentration",
    (s, dir) => {
      R11.register(s, dir, "lineitem", "supplier")
      s.sql("""
        WITH rev AS (
          SELECT s_nationkey nk, l_suppkey sk,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                          (100 - CAST(round(l_discount * 100) AS BIGINT)))
                      AS DECIMAL(38,0)) r
          FROM r11_lineitem JOIN r11_supplier ON l_suppkey = s_suppkey
          GROUP BY 1, 2),
        tot AS (
          SELECT nk, CAST(sum(r) AS DECIMAL(38,0)) t,
                 CAST(count(*) AS BIGINT) n_suppliers,
                 CAST(max(r) AS DECIMAL(38,0)) mx
          FROM rev GROUP BY 1)
        SELECT CAST(r.nk AS BIGINT) AS nation,
               max(t.n_suppliers) AS n_suppliers,
               round(CAST(sum(r.r * r.r) AS DOUBLE) /
                     (CAST(max(t.t) AS DOUBLE) * CAST(max(t.t) AS DOUBLE)), 6) AS hhi,
               round(CAST(max(t.mx) AS DOUBLE) / CAST(max(t.t) AS DOUBLE), 6) AS top_share
        FROM rev r JOIN tot t ON r.nk = t.nk
        GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH rev AS (
              SELECT s_nationkey nk, l_suppkey sk,
                     CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                              (100 - CAST(round(l_discount * 100) AS BIGINT)))
                          AS HUGEINT) r
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY 1, 2),
            tot AS (
              SELECT nk, CAST(sum(r) AS HUGEINT) t,
                     CAST(count(*) AS BIGINT) n_suppliers,
                     CAST(max(r) AS HUGEINT) mx
              FROM rev GROUP BY 1)
            SELECT CAST(r.nk AS BIGINT) nation,
                   max(t.n_suppliers) n_suppliers,
                   round(CAST(sum(r.r * r.r) AS DOUBLE) /
                         (CAST(max(t.t) AS DOUBLE) * CAST(max(t.t) AS DOUBLE)), 6) hhi,
                   round(CAST(max(t.mx) AS DOUBLE) / CAST(max(t.t) AS DOUBLE), 6) top_share
            FROM rev r JOIN tot t ON r.nk = t.nk
            GROUP BY 1 ORDER BY 1""")
  )

  /** Shuffle-skew advisor — the engine-ops report behind q104's salted
    * join: per-key row counts for two real join keys, the max-key share
    * and skew ratio (max/mean), and the salt factor that would spread
    * the hottest key across a 32-partition shuffle
    * (⌈32·max/total⌉, integer arithmetic). One keyed agg per key; the
    * per-key relation never leaves the aggregate.
    */
  val q386SkewAdvisor: QueryDef = QueryDef(
    "q386_skew_advisor",
    (s, dir) => {
      R11.register(s, dir, "lineitem", "orders")
      s.sql("""
        WITH ko AS (SELECT o_custkey k, CAST(count(*) AS BIGINT) c
                    FROM r11_orders GROUP BY 1),
        kl AS (SELECT l_partkey k, CAST(count(*) AS BIGINT) c
               FROM r11_lineitem GROUP BY 1),
        st AS (
          SELECT 'lineitem.l_partkey' AS join_key, CAST(count(*) AS BIGINT) n_keys,
                 CAST(sum(c) AS BIGINT) n_rows, CAST(max(c) AS BIGINT) max_rows
          FROM kl
          UNION ALL
          SELECT 'orders.o_custkey', CAST(count(*) AS BIGINT),
                 CAST(sum(c) AS BIGINT), CAST(max(c) AS BIGINT)
          FROM ko)
        SELECT join_key, n_keys, n_rows, max_rows,
               round(CAST(max_rows AS DOUBLE) * n_keys / n_rows, 6) AS skew_ratio,
               CAST((max_rows * 32 + n_rows - 1) DIV n_rows AS BIGINT) AS suggested_salt
        FROM st ORDER BY join_key""")
    },
    Some("""WITH ko AS (SELECT o_custkey k, CAST(count(*) AS BIGINT) c
                        FROM orders GROUP BY 1),
            kl AS (SELECT l_partkey k, CAST(count(*) AS BIGINT) c
                   FROM lineitem GROUP BY 1),
            st AS (
              SELECT 'lineitem.l_partkey' join_key, CAST(count(*) AS BIGINT) n_keys,
                     CAST(sum(c) AS BIGINT) n_rows, CAST(max(c) AS BIGINT) max_rows
              FROM kl
              UNION ALL
              SELECT 'orders.o_custkey', CAST(count(*) AS BIGINT),
                     CAST(sum(c) AS BIGINT), CAST(max(c) AS BIGINT)
              FROM ko)
            SELECT join_key, n_keys, n_rows, max_rows,
                   round(CAST(max_rows AS DOUBLE) * n_keys / n_rows, 6) skew_ratio,
                   CAST((max_rows * 32 + n_rows - 1) // n_rows AS BIGINT) suggested_salt
            FROM st ORDER BY join_key""")
  )

  /** Zone-map (min/max statistics) skipping report: 1000-order "row
    * groups" carry ship-date min/max; a half-year predicate range is
    * checked against each group's bounds — groups whose range misses
    * the predicate entirely are SKIPPABLE without reading a row. The
    * report pairs the skip ratio with the true row selectivity (the gap
    * between them is the clustering quality the lake's Z-order write
    * exists to close). Day arithmetic is exact integers.
    */
  val q387ZoneMapSkip: QueryDef = QueryDef(
    "q387_zone_map_skip",
    (s, dir) => {
      R11.register(s, dir, "lineitem")
      s.sql("""
        WITH rg AS (
          SELECT l_orderkey DIV 1000 g,
                 CAST(min(datediff(to_date(l_shipdate), DATE '1992-01-01')) AS BIGINT) lo,
                 CAST(max(datediff(to_date(l_shipdate), DATE '1992-01-01')) AS BIGINT) hi,
                 CAST(count(*) AS BIGINT) c,
                 CAST(sum(CASE WHEN to_date(l_shipdate) >= DATE '1996-01-01'
                                AND to_date(l_shipdate) < DATE '1996-07-01'
                               THEN 1 ELSE 0 END) AS BIGINT) sel
          FROM r11_lineitem GROUP BY 1),
        b AS (SELECT CAST(datediff(DATE '1996-01-01', DATE '1992-01-01') AS BIGINT) plo,
                     CAST(datediff(DATE '1996-07-01', DATE '1992-01-01') AS BIGINT) phi)
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN hi < plo OR lo >= phi THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_skipped,
               round(CAST(sum(CASE WHEN hi < plo OR lo >= phi THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS skip_ratio,
               CAST(sum(sel) AS BIGINT) AS n_rows_selected,
               round(CAST(sum(sel) AS DOUBLE) / sum(c), 6) AS selectivity
        FROM rg, b""")
    },
    Some("""WITH rg AS (
              SELECT l_orderkey // 1000 g,
                     CAST(min(date_diff('day', DATE '1992-01-01',
                                        CAST(l_shipdate AS DATE))) AS BIGINT) lo,
                     CAST(max(date_diff('day', DATE '1992-01-01',
                                        CAST(l_shipdate AS DATE))) AS BIGINT) hi,
                     CAST(count(*) AS BIGINT) c,
                     CAST(sum(CASE WHEN CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                                    AND CAST(l_shipdate AS DATE) < DATE '1996-07-01'
                                   THEN 1 ELSE 0 END) AS BIGINT) sel
              FROM lineitem GROUP BY 1),
            b AS (SELECT CAST(date_diff('day', DATE '1992-01-01', DATE '1996-01-01')
                              AS BIGINT) plo,
                         CAST(date_diff('day', DATE '1992-01-01', DATE '1996-07-01')
                              AS BIGINT) phi)
            SELECT CAST(count(*) AS BIGINT) n_groups,
                   CAST(sum(CASE WHEN hi < plo OR lo >= phi THEN 1 ELSE 0 END) AS BIGINT)
                     n_skipped,
                   round(CAST(sum(CASE WHEN hi < plo OR lo >= phi THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 6) skip_ratio,
                   CAST(sum(sel) AS BIGINT) n_rows_selected,
                   round(CAST(sum(sel) AS DOUBLE) / sum(c), 6) selectivity
            FROM rg, b""")
  )

  /** Join-cardinality estimator calibration: the optimizer's uniform
    * assumption |A⋈A| ≈ N²/ndv for the l_partkey self-join, against the
    * EXACT Σc² cardinality from the per-key histogram — the
    * underestimation factor IS the skew the uniform model misses
    * (cost-based join planning's classic failure). Everything is
    * integer until the final ratio.
    */
  val q388JoinCardCalibration: QueryDef = QueryDef(
    "q388_join_card_calibration",
    (s, dir) => {
      R11.register(s, dir, "lineitem")
      s.sql("""
        WITH k AS (SELECT l_partkey, CAST(count(*) AS BIGINT) c
                   FROM r11_lineitem GROUP BY 1),
        st AS (SELECT CAST(sum(c) AS BIGINT) n, CAST(count(*) AS BIGINT) ndv,
                      CAST(sum(c * c) AS BIGINT) actual
               FROM k)
        SELECT n, ndv, actual,
               CAST((n * n) DIV ndv AS BIGINT) AS est_uniform,
               round(CAST(actual AS DOUBLE) * ndv / (CAST(n AS DOUBLE) * n), 6)
                 AS underestimation
        FROM st""")
    },
    Some("""WITH k AS (SELECT l_partkey, CAST(count(*) AS BIGINT) c
                       FROM lineitem GROUP BY 1),
            st AS (SELECT CAST(sum(c) AS BIGINT) n, CAST(count(*) AS BIGINT) ndv,
                          CAST(sum(c * c) AS BIGINT) actual
                   FROM k)
            SELECT n, ndv, actual,
                   CAST((n * n) // ndv AS BIGINT) est_uniform,
                   round(CAST(actual AS DOUBLE) * ndv / (CAST(n AS DOUBLE) * n), 6)
                     underestimation
            FROM st""")
  )

  /** Rendezvous (highest-random-weight) hashing: every user keys to the
    * node with the max md5(user:node) weight — the consistent data
    * placement scheme whose per-node load this report audits (share per
    * node, all within ~1/8 by construction). The argmax is a keyed
    * window over an 8-way scan-side fan — no shuffle beyond the final
    * count. The md5 weights are the engine's cross-replayable hash
    * contract, so the oracle reassigns every user identically.
    */
  val q389RendezvousHash: QueryDef = QueryDef(
    "q389_rendezvous_hash",
    (s, dir) => {
      R11.register(s, dir, "events")
      s.sql("""
        WITH u AS (SELECT DISTINCT user_id FROM r11_events),
        t AS (SELECT CAST(count(*) AS BIGINT) n_total FROM u),
        a AS (
          SELECT user_id, node,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(conv(substring(md5(concat(CAST(user_id AS STRING), ':',
                                      CAST(node AS STRING))), 1, 12),
                               16, 10) AS BIGINT) DESC, node ASC) rn
          FROM u
          LATERAL VIEW explode(sequence(0, 7)) nx AS node)
        SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS n_users,
               round(CAST(count(*) AS DOUBLE) / max(t.n_total), 6) AS load_share
        FROM a, t WHERE rn = 1
        GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
            t AS (SELECT CAST(count(*) AS BIGINT) n_total FROM u),
            a AS (
              SELECT user_id, nx.range AS node,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':'
                                    || CAST(nx.range AS VARCHAR)), 1, 12)) AS BIGINT) DESC,
                                nx.range ASC) rn
              FROM u CROSS JOIN range(0, 8) nx)
            SELECT CAST(node AS BIGINT) node, CAST(count(*) AS BIGINT) n_users,
                   round(CAST(count(*) AS DOUBLE) / max(t.n_total), 6) AS load_share
            FROM a, t WHERE rn = 1
            GROUP BY 1 ORDER BY 1""")
  )

  /** Mutual nearest neighbors over the embedding corpus: pairs that are
    * each other's top-1 cosine neighbor — the reciprocal-NN criterion
    * semantic dedup and cross-lingual mining use to cut asymmetric
    * false matches. Composes [[graft.operators.Similarity.ivfTop1]] —
    * every vector probes its nprobe=4 IVF cells, candidates meet the
    * inverted lists in a keyed equi-join on `cell`, and top-1 reduces
    * map-side — with a self-join on the reciprocity condition. This is
    * the 100 TB shape: the r1–r7 version ran
    * [[graft.operators.Similarity.bruteTop1]], whose
    * crossJoin(broadcast(corpus)) is O(n²) compute behind a full-corpus
    * broadcast that fails outright at scale (the r7 verdict's one
    * scale-killer). bruteTop1 stays as the exact differential reference
    * in Round11PropertySpec, the q46/q123 pattern. The oracle replays
    * the entire deterministic IVF build (AnnReplaySql, probePred=TRUE)
    * so the candidate sets — not just the ranking — are hash-checked.
    */
  val q390MutualNn: QueryDef = QueryDef(
    "q390_mutual_nn",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // consumed twice by the reciprocity self-join — materialize once
      val top1 = graft.operators.Similarity.ivfTop1(emb, emb).localCheckpoint()
      top1.as("a")
        .join(
          top1.as("b"),
          col("a.query_id") === col("b.neighbor_id") &&
            col("a.neighbor_id") === col("b.query_id") &&
            col("a.query_id") < col("a.neighbor_id"))
        .select(
          col("a.query_id").cast("long").as("vec_a"),
          col("a.neighbor_id").cast("long").as("vec_b"),
          col("a.cosine").as("cosine"))
        .orderBy(col("vec_a"))
    },
    Some(s"""WITH ${AnnReplaySql.preambleSql},
            ${AnnReplaySql.ivfModelSql(2, probePred = "TRUE")},
            cand AS (SELECT pr.query_id, a.vec_id AS neighbor_id
                     FROM probes pr
                     JOIN assign a ON a.cell = pr.cell AND a.vec_id != pr.query_id),
            scored AS (
              SELECT cd.query_id, cd.neighbor_id,
                     round(${AnnReplaySql.dot64("q.v", "c.v")} /
                           (sqrt(${AnnReplaySql.dot64("q.v", "q.v")}) *
                            sqrt(${AnnReplaySql.dot64("c.v", "c.v")})), 6) AS cosine
              FROM cand cd
              JOIN pts q ON q.vec_id = cd.query_id
              JOIN pts c ON c.vec_id = cd.neighbor_id),
            top1 AS (
              SELECT query_id, neighbor_id, cosine FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) rank
                FROM scored)
              WHERE rank = 1)
            SELECT CAST(a.query_id AS BIGINT) vec_a,
                   CAST(a.neighbor_id AS BIGINT) vec_b, a.cosine cosine
            FROM top1 a JOIN top1 b
              ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
             AND a.query_id < a.neighbor_id
            ORDER BY 1""")
  )

  /** DSIR-style importance resampling (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): hashed-unigram bucket
    * LMs for the target slice (lang='en') and the full corpus, per-doc
    * importance score Σ_tokens snap(ln(p_target(bucket)/p_source(bucket)))
    * with +1 smoothing, top-200 resampled. The two 256-row bucket
    * histograms broadcast; the score is scan-side (one explode + two
    * keyed aggs); top-k plans as TakeOrdered. Snapped log-ratios make
    * per-doc sums exact dyadic arithmetic.
    */
  val q391DsirImportance: QueryDef = QueryDef(
    "q391_dsir_importance",
    (s, dir) => {
      R11.register(s, dir, "documents")
      s.sql("""
        WITH toks AS (
          SELECT doc_id, t FROM (
            SELECT doc_id, explode(split(text, ' ')) t FROM r11_documents)
          WHERE t <> ''),
        b AS (
          SELECT doc_id,
                 pmod(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT), 256) bk
          FROM toks),
        tgt AS (SELECT bk, CAST(count(*) AS BIGINT) ct
                FROM b JOIN r11_documents USING (doc_id)
                WHERE lang = 'en' GROUP BY 1),
        src AS (SELECT bk, CAST(count(*) AS BIGINT) cs FROM b GROUP BY 1),
        nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) n FROM tgt),
        ns AS (SELECT CAST(sum(cs) AS BIGINT) n FROM src),
        w AS (
          SELECT src.bk,
                 floor(ln(((coalesce(tgt.ct, 0) + 1) / CAST(nt.n + 256 AS DOUBLE)) /
                          ((src.cs + 1) / CAST(ns.n + 256 AS DOUBLE)))
                       * 1073741824.0 + 0.5) / CAST(1073741824 AS DOUBLE) wt
          FROM src LEFT JOIN tgt ON src.bk = tgt.bk, nt, ns),
        d AS (
          SELECT b.doc_id, CAST(count(*) AS BIGINT) n_tokens,
                 CAST(round(sum(w.wt), 6) AS DOUBLE) score
          FROM b JOIN w ON b.bk = w.bk GROUP BY 1)
        SELECT doc_id, n_tokens, score
        FROM d ORDER BY score DESC, doc_id LIMIT 200""")
    },
    Some("""WITH toks AS (
              SELECT doc_id, t FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents)
              WHERE t <> ''),
            b AS (
              SELECT doc_id,
                     CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) % 256 bk
              FROM toks),
            tgt AS (SELECT bk, CAST(count(*) AS BIGINT) ct
                    FROM b JOIN documents USING (doc_id)
                    WHERE lang = 'en' GROUP BY 1),
            src AS (SELECT bk, CAST(count(*) AS BIGINT) cs FROM b GROUP BY 1),
            nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) n FROM tgt),
            ns AS (SELECT CAST(sum(cs) AS BIGINT) n FROM src),
            w AS (
              SELECT src.bk,
                     floor(ln(((coalesce(tgt.ct, 0) + 1) / CAST(nt.n + 256 AS DOUBLE)) /
                              ((src.cs + 1) / CAST(ns.n + 256 AS DOUBLE)))
                           * 1073741824.0 + 0.5) / CAST(1073741824 AS DOUBLE) wt
              FROM src LEFT JOIN tgt ON src.bk = tgt.bk, nt, ns),
            d AS (
              SELECT b.doc_id, CAST(count(*) AS BIGINT) n_tokens,
                     CAST(round(sum(w.wt), 6) AS DOUBLE) score
              FROM b JOIN w ON b.bk = w.bk GROUP BY 1)
            SELECT doc_id, n_tokens, score
            FROM d ORDER BY score DESC, doc_id LIMIT 200""")
  )

  /** Iterative proportional fitting (survey raking, Deming–Stephan):
    * the (event_type × day-mod-7) count matrix raked to UNIFORM target
    * marginals, three full row+column rounds unrolled. Every scale
    * factor and every reweighted cell snaps to the 2⁻³⁰ grid, so both
    * engines walk an identical float trajectory. The matrix is bounded
    * (types × 7 cells) — corpus-sized work is the one keyed count.
    */
  val q392IpfRaking: QueryDef = QueryDef.sql("q392_ipf_raking", "r11_", "events")(ipfSql)

  private def ipfSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dw = s"CAST(${d.dayDiff("DATE '2024-01-01'", d.toDate("ts"))} AS BIGINT) % 7"
    // Divisor CAST AS DOUBLE: floor() returns BIGINT in Spark, and a bare
    // 1073741824.0 is DECIMAL(11,1) to its parser, so BIGINT/DECIMAL made the
    // whole weight chain (and the rounded outputs) DECIMAL(28,6) while the
    // DuckDB oracle emits DOUBLE — the r7 hash-fail class. Values unchanged.
    s"""
      WITH c AS (SELECT event_type et, $dw dw, CAST(count(*) AS BIGINT) n
                 FROM $tbl GROUP BY 1, 2),
      tot AS (SELECT CAST(sum(n) AS BIGINT) t,
                     CAST(count(DISTINCT et) AS BIGINT) nr,
                     CAST(count(DISTINCT dw) AS BIGINT) nc
              FROM c),
      w0 AS (SELECT et, dw, CAST(n AS DOUBLE) w FROM c),
      r1 AS (SELECT et, sum(w) rs FROM w0 GROUP BY 1),
      w1 AS (SELECT w0.et, w0.dw,
                    ${snap("w0.w * (tot.t / CAST(tot.nr AS DOUBLE)) / r1.rs")} w
             FROM w0 JOIN r1 ON w0.et = r1.et, tot),
      c1 AS (SELECT dw, sum(w) cs FROM w1 GROUP BY 1),
      w2 AS (SELECT w1.et, w1.dw,
                    ${snap("w1.w * (tot.t / CAST(tot.nc AS DOUBLE)) / c1.cs")} w
             FROM w1 JOIN c1 ON w1.dw = c1.dw, tot),
      r2 AS (SELECT et, sum(w) rs FROM w2 GROUP BY 1),
      w3 AS (SELECT w2.et, w2.dw,
                    ${snap("w2.w * (tot.t / CAST(tot.nr AS DOUBLE)) / r2.rs")} w
             FROM w2 JOIN r2 ON w2.et = r2.et, tot),
      c2 AS (SELECT dw, sum(w) cs FROM w3 GROUP BY 1),
      w4 AS (SELECT w3.et, w3.dw,
                    ${snap("w3.w * (tot.t / CAST(tot.nc AS DOUBLE)) / c2.cs")} w
             FROM w3 JOIN c2 ON w3.dw = c2.dw, tot),
      r3 AS (SELECT et, sum(w) rs FROM w4 GROUP BY 1),
      w5 AS (SELECT w4.et, w4.dw,
                    ${snap("w4.w * (tot.t / CAST(tot.nr AS DOUBLE)) / r3.rs")} w
             FROM w4 JOIN r3 ON w4.et = r3.et, tot),
      c3 AS (SELECT dw, sum(w) cs FROM w5 GROUP BY 1),
      w6 AS (SELECT w5.et, w5.dw,
                    ${snap("w5.w * (tot.t / CAST(tot.nc AS DOUBLE)) / c3.cs")} w
             FROM w5 JOIN c3 ON w5.dw = c3.dw, tot)
      SELECT w6.et AS event_type, w6.dw AS dw, c.n AS n,
             CAST(round(w6.w, 6) AS DOUBLE) AS raked_weight,
             CAST(round(w6.w / c.n, 6) AS DOUBLE) AS per_row_weight
      FROM w6 JOIN c ON w6.et = c.et AND w6.dw = c.dw
      ORDER BY 1, 2"""
  }

  /** Per-group Huber M-estimator of the mean (k = 1.345·MAD, the 95%-
    * efficiency tuning): exact integer cent histograms give the lower
    * median and MAD, then three unrolled IRLS reweighting rounds with
    * weights QUANTIZED to a 2²⁰ integer grid — weighted sums stay exact
    * BIGINT arithmetic on both engines (a float Σwx over 10⁵ rows would
    * exceed the 53-bit mantissa and diverge between engines), and only
    * the per-round mean division touches doubles (snapped).
    */
  val q393HuberMean: QueryDef = QueryDef(
    "q393_huber_mean",
    (s, dir) => {
      R11.register(s, dir, "events")
      s.sql(huberSql("r11_events"))
    },
    Some(huberSql("events"))
  )

  private def huberSql(tbl: String): String = {
    // divisor CAST AS DOUBLE: floor() is BIGINT in Spark and a bare
    // 1073741824.0 is DECIMAL — BIGINT/DECIMAL drags the chain (and the
    // final round()) into DECIMAL output, the r7 hash-fail class
    def irls(prev: String, i: Int): String =
      s"""
      i$i AS (SELECT x.et, x.v,
                     CAST(floor(CASE WHEN abs(x.v - $prev.mu) = 0.0 THEN 1.0
                                     ELSE least(1.0, k.kk / abs(x.v - $prev.mu)) END
                                * 1048576.0 + 0.5) AS BIGINT) wq
              FROM x JOIN $prev ON x.et = $prev.et JOIN k ON x.et = k.et),
      m$i AS (SELECT et, ${snap("CAST(sum(wq * v) AS DOUBLE) / CAST(sum(wq) AS DOUBLE)")} mu
              FROM i$i GROUP BY 1)"""
    s"""
      WITH x AS (SELECT event_type et, CAST(round(value * 100) AS BIGINT) v FROM $tbl),
      n AS (SELECT et, CAST(count(*) AS BIGINT) n FROM x GROUP BY 1),
      h AS (SELECT et, v, CAST(count(*) AS BIGINT) c FROM x GROUP BY 1, 2),
      hc AS (SELECT et, v, sum(c) OVER (PARTITION BY et ORDER BY v) cum FROM h),
      med AS (SELECT hc.et, CAST(min(v) AS BIGINT) med
              FROM hc JOIN n ON hc.et = n.et WHERE cum * 2 >= n.n GROUP BY 1),
      ad AS (SELECT x.et, abs(x.v - med.med) a FROM x JOIN med ON x.et = med.et),
      adh AS (SELECT et, a, CAST(count(*) AS BIGINT) c FROM ad GROUP BY 1, 2),
      adc AS (SELECT et, a, sum(c) OVER (PARTITION BY et ORDER BY a) cum FROM adh),
      mad AS (SELECT adc.et, CAST(min(a) AS BIGINT) mad
              FROM adc JOIN n ON adc.et = n.et WHERE cum * 2 >= n.n GROUP BY 1),
      k AS (SELECT et, CASE WHEN mad = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(1.345 AS DOUBLE) * mad END kk FROM mad),
      m0 AS (SELECT et, CAST(med AS DOUBLE) mu FROM med),
      ${irls("m0", 1)},
      ${irls("m1", 2)},
      ${irls("m2", 3)}
      SELECT n.et AS event_type, n.n AS n, med.med AS med_cents, mad.mad AS mad_cents,
             round(m3.mu, 6) AS huber_mean_cents
      FROM n JOIN med ON n.et = med.et JOIN mad ON n.et = mad.et
      JOIN m3 ON n.et = m3.et
      ORDER BY 1"""
  }

  /** Deterministic stratified evaluation infra: 5-fold assignment by
    * md5(doc_id) with a per-fold class-balance report (en-share and its
    * deviation from the corpus share) — the split-quality audit run
    * before any cross-validated quality-classifier training. Pure
    * scan-side hashing + one keyed agg.
    */
  val q394KfoldBalance: QueryDef = QueryDef(
    "q394_kfold_balance",
    (s, dir) => {
      R11.register(s, dir, "documents")
      s.sql("""
        WITH f AS (
          SELECT doc_id, lang,
                 pmod(CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':fold')),
                                1, 8), 16, 10) AS BIGINT), 5) fold
          FROM r11_documents),
        g AS (SELECT CAST(fold AS BIGINT) fold, CAST(count(*) AS BIGINT) n_docs,
                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) n_en
              FROM f GROUP BY 1),
        t AS (SELECT CAST(sum(n_docs) AS BIGINT) nt, CAST(sum(n_en) AS BIGINT) ne FROM g)
        SELECT fold, n_docs, n_en,
               round(CAST(n_en AS DOUBLE) / n_docs, 6) AS en_share,
               round(CAST(n_en AS DOUBLE) / n_docs - CAST(t.ne AS DOUBLE) / t.nt, 6)
                 AS share_dev
        FROM g, t ORDER BY 1""")
    },
    Some("""WITH f AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':fold'),
                          1, 8)) AS BIGINT) % 5 fold
              FROM documents),
            g AS (SELECT CAST(fold AS BIGINT) fold, CAST(count(*) AS BIGINT) n_docs,
                         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) n_en
                  FROM f GROUP BY 1),
            t AS (SELECT CAST(sum(n_docs) AS BIGINT) nt, CAST(sum(n_en) AS BIGINT) ne
                  FROM g)
            SELECT fold, n_docs, n_en,
                   round(CAST(n_en AS DOUBLE) / n_docs, 6) en_share,
                   round(CAST(n_en AS DOUBLE) / n_docs - CAST(t.ne AS DOUBLE) / t.nt, 6)
                     share_dev
            FROM g, t ORDER BY 1""")
  )

  /** MinHash ESTIMATOR CALIBRATION: over the exact word-3-gram Jaccard
    * pairs at t = 0.6 ([[graft.operators.Dedup.ngramJaccardPairs]] —
    * the PPJoin path, no all-pairs), the 64-component md5-minhash
    * signature agreement fraction vs the true Jaccard — mean/max
    * absolute estimator error, the measured answer to "how many
    * permutations does the dedup pipeline actually need". Signatures
    * are md5-derived so the oracle rebuilds them bit-for-bit, and come
    * from the compiled row-local
    * [[graft.functions.MinHashMd5Signature]] kernel — same md5 family
    * as the previous 64×-explode + (doc, k) shuffle-agg shape, but the
    * signature falls out of the shingle scan (was the suite's slowest
    * query at 4.7 s; the agreement count is a row-local zip_with fold
    * over the two 64-long arrays).
    */
  val q395MinhashCalibration: QueryDef = QueryDef(
    "q395_minhash_calibration",
    (s, dir) => {
      graft.functions.MinHashMd5Signature.register(s, "minhash_md5_64", 64)
      val docs = Tables.documents(s, dir)
      // No caller-side checkpoint: ngramJaccardPairs (r11) already returns
      // an eagerly materialized output-sized relation.
      val pairs = graft.operators.Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.6)
      // Signatures only for docs that appear in a surviving pair — the
      // 64 md5 digests per shingle are the query's dominant cost, and
      // computing them corpus-wide when the join keeps ~2·|pairs| docs
      // was 60% of the runtime (r9 profile). The restriction joins the
      // RAW docs before the shingle HOF runs (r11 profile: a Project
      // under the join still evaluated the interpreted shingle transform
      // for every corpus row — Catalyst doesn't reorder joins through
      // expensive projections), and the signature relation is
      // localCheckpoint-ed because BOTH sides of the estimator self-join
      // read it — without the checkpoint the md5 pass ran twice. It is
      // pair-member-sized, i.e. output-bounded, at any scale.
      val pairDocs = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      // Explicit repartition between the restriction and the kernel: the
      // joined relation is tiny in BYTES, so AQE coalesces it to one
      // partition — and then the 64-digest md5 kernel (the actual cost,
      // ~12k digests per doc) runs on one core. The row-count-based
      // spread keeps the kernel at full parallelism (r11 profile: 3.3 s
      // single-core → 0.4 s spread).
      val comp = graft.operators.Dedup
        .tokenShingles(
          docs.join(pairDocs, "doc_id")
            .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
          3)
        .filter(size(col("shingles")) > 0)
        .select(col("doc_id"), expr("minhash_md5_64(shingles)").as("sig"))
        .localCheckpoint()
      // Hint-free: the pair relation is OUTPUT-sized (unbounded on a
      // duplicate-heavy corpus) — the exact shape the r9 verifyJaccard
      // fix removed elsewhere; AQE picks the build side from runtime
      // sizes.
      val est = pairs
        .join(comp.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(comp.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .select(
          col("jaccard"),
          (expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0))," +
            " 0, (acc, v) -> acc + v)") / 64.0).as("est"))
      est.agg(
        count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("mean_jaccard"),
        round(avg(col("est")), 6).as("mean_est"),
        round(avg(abs(col("est") - col("jaccard"))), 6).as("mean_abs_err"),
        round(max(abs(col("est") - col("jaccard"))), 6).as("max_abs_err"))
    },
    Some(s"""WITH g AS (
              SELECT doc_id,
                     list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                    FOR i IN range(1, len(string_split(text, ' ')) - 1)]) gs
              FROM documents),
            s AS (SELECT doc_id, gs, len(gs) sz FROM g WHERE len(gs) > 0),
            pairs AS (${graft.queries.LlmQueries.ngramJaccardOracleAt("0.6")}),
            pd AS (SELECT doc_a AS doc_id FROM pairs
                   UNION SELECT doc_b FROM pairs),
            sh AS (SELECT doc_id, unnest(gs) sh FROM s JOIN pd USING (doc_id)),
            mh AS (SELECT doc_id, k.k,
                          CAST(min(CAST(('0x' || substring(md5(CAST(k.k AS VARCHAR) || ':'
                               || sh), 1, 12)) AS BIGINT)) AS BIGINT) mh
                   FROM sh, range(0, 64) k(k) GROUP BY 1, 2),
            est AS (
              SELECT p.doc_a, p.doc_b, p.jaccard,
                     sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 64.0 est
              FROM pairs p
              JOIN mh a ON a.doc_id = p.doc_a
              JOIN mh b ON b.doc_id = p.doc_b AND b.k = a.k
              GROUP BY 1, 2, 3)
            SELECT CAST(count(*) AS BIGINT) n_pairs,
                   round(avg(jaccard), 6) mean_jaccard,
                   round(avg(est), 6) mean_est,
                   round(avg(abs(est - jaccard)), 6) mean_abs_err,
                   round(max(abs(est - jaccard)), 6) max_abs_err
            FROM est""")
  )

  /** Chao1 species-richness estimate of the TRUE vocabulary per
    * language — "how many words exist that this corpus hasn't seen":
    * D + f₁(f₁−1)/(2(f₂+1)) from the singleton/doubleton counts of the
    * word-trigram histogram (trigrams are the rare "species" here; bare
    * tokens all repeat at corpus scale) (the bias-corrected form, defined at f₂ = 0). Two
    * keyed aggs over the token counts; everything integer until the
    * final estimate.
    */
  val q396Chao1Richness: QueryDef = QueryDef(
    "q396_chao1_richness",
    (s, dir) => {
      // r13 optimization (the q397 fix, same class): `slice(split(text),
      // i, 3)` inside the transform lambda re-split the text once PER
      // ELEMENT (no subexpression elimination across a lambda boundary
      // — the q214 lesson), and the explode ran on the single-row-group
      // scan's one task. Pre-split once, spread the narrow (lang, text)
      // projection to session parallelism ([[graft.operators.Par.spread]],
      // no-op on many-split production scans). Trigram multiset
      // identical; oracle unchanged.
      graft.operators.Par
        .spread(Tables.documents(s, dir).select("lang", "text"))
        .createOrReplaceTempView("r11_chao_documents")
      s.sql("""
        WITH toks AS (
          SELECT lang, t FROM (
            SELECT lang, explode(transform(sequence(1, greatest(size(w) - 2, 0)),
                                 i -> concat_ws(' ', slice(w, i, 3)))) t
            FROM (SELECT lang, split(text, ' ') w FROM r11_chao_documents))),
        tc AS (SELECT lang, t, CAST(count(*) AS BIGINT) c FROM toks GROUP BY 1, 2),
        ff AS (SELECT lang, CAST(count(*) AS BIGINT) d_obs,
                      CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) f1,
                      CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) f2
               FROM tc GROUP BY 1)
        SELECT lang, d_obs, f1, f2,
               round(d_obs + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * (f2 + 1)), 6)
                 AS chao1
        FROM ff ORDER BY lang""")
    },
    Some("""WITH toks AS (
              SELECT lang, t FROM (
                SELECT lang, unnest([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                     FOR i IN range(1, len(string_split(text, ' ')) - 1)]) t
                FROM documents)),
            tc AS (SELECT lang, t, CAST(count(*) AS BIGINT) c FROM toks GROUP BY 1, 2),
            ff AS (SELECT lang, CAST(count(*) AS BIGINT) d_obs,
                          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) f1,
                          CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) f2
                   FROM tc GROUP BY 1)
            SELECT lang, d_obs, f1, f2,
                   round(d_obs + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * (f2 + 1)), 6)
                     chao1
            FROM ff ORDER BY lang""")
  )

  /** Good–Turing frequency smoothing over the corpus word-trigram histogram:
    * the unseen-probability mass P₀ = f₁/N and the adjusted counts
    * r* = (r+1)·f_{r+1}/f_r for r = 1..5 — the classical LM smoothing
    * table (the repo's Kneser–Ney discounts' ancestor). Frequency-of-
    * frequencies is histogram-sized; all counts exact.
    */
  val q397GoodTuring: QueryDef = QueryDef(
    "q397_good_turing",
    (s, dir) => {
      // r13 optimization: the frequency-of-frequencies relation was a
      // CTE referenced THREE times (n + the fof self-join) — Spark
      // re-inlines CTEs, so the corpus trigram pass ran three times,
      // and `slice(split(text,' '), i, 3)` INSIDE the transform lambda
      // re-split the text per element (the q214 lesson — no
      // subexpression elimination across a lambda boundary). Now: text
      // pre-split once, the documents scan spread to session
      // parallelism ([[graft.operators.Par.spread]] — single-row-group
      // bench inputs scan as ONE task), and `fof` — HISTOGRAM-sized,
      // ≤ max trigram count rows — materialized once with
      // localCheckpoint; N is recovered from fof as Σ r·nr (identical
      // BIGINT by exchange of summation order). The corpus is read
      // once instead of three times; everything downstream is
      // dimension-sized. Oracle unchanged (DuckDB evaluates each CTE
      // once). Measured 2.12 s → see OPTIMIZATION_r13.md.
      graft.operators.Par
        .spread(Tables.documents(s, dir).select("text"))
        .createOrReplaceTempView("r11_gt_documents")
      s.sql("""
        WITH toks AS (
          SELECT t FROM (
            SELECT explode(transform(sequence(1, greatest(size(w) - 2, 0)),
                           i -> concat_ws(' ', slice(w, i, 3)))) t
            FROM (SELECT split(text, ' ') w FROM r11_gt_documents))),
        tc AS (SELECT t, CAST(count(*) AS BIGINT) c FROM toks GROUP BY 1)
        SELECT c r, CAST(count(*) AS BIGINT) nr FROM tc GROUP BY 1""")
        .localCheckpoint()
        .createOrReplaceTempView("r11_gt_fof")
      s.sql("""
        WITH n AS (SELECT CAST(sum(r * nr) AS BIGINT) n FROM r11_gt_fof)
        SELECT a.r, a.nr, coalesce(b.nr, 0) AS nr1,
               round(CAST((a.r + 1) * coalesce(b.nr, 0) AS DOUBLE) / a.nr, 6)
                 AS r_star,
               round(CAST(a.nr * a.r AS DOUBLE) / max(n.n), 6) AS mass_share
        FROM r11_gt_fof a LEFT JOIN r11_gt_fof b ON b.r = a.r + 1, n
        WHERE a.r <= 5
        GROUP BY a.r, a.nr, b.nr
        ORDER BY a.r""")
    },
    Some("""WITH toks AS (
              SELECT t FROM (
                SELECT unnest([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                               FOR i IN range(1, len(string_split(text, ' ')) - 1)]) t
                FROM documents)),
            tc AS (SELECT t, CAST(count(*) AS BIGINT) c FROM toks GROUP BY 1),
            n AS (SELECT CAST(sum(c) AS BIGINT) n FROM tc),
            fof AS (SELECT c r, CAST(count(*) AS BIGINT) nr FROM tc GROUP BY 1)
            SELECT a.r, a.nr, coalesce(b.nr, 0) nr1,
                   round(CAST((a.r + 1) * coalesce(b.nr, 0) AS DOUBLE) / a.nr, 6)
                     r_star,
                   round(CAST(a.nr * a.r AS DOUBLE) / max(n.n), 6) mass_share
            FROM fof a LEFT JOIN fof b ON b.r = a.r + 1, n
            WHERE a.r <= 5
            GROUP BY a.r, a.nr, b.nr
            ORDER BY a.r""")
  )

  /** Delete-one-GROUP jackknife for the ratio estimator R = Σprice/Σqty
    * (average unit price): leave each supplier nation out in closed
    * form from the per-group integer sums — no resampling pass ever
    * touches the fact table twice. The 25 pseudo-values are snapped
    * before the variance fold, so the only float aggregation runs over
    * 25 grid-aligned terms.
    */
  val q398JackknifeRatio: QueryDef = QueryDef(
    "q398_jackknife_ratio",
    (s, dir) => {
      R11.register(s, dir, "lineitem", "supplier")
      s.sql(jackknifeSql("r11_lineitem", "r11_supplier"))
    },
    Some(jackknifeSql("lineitem", "supplier"))
  )

  private def jackknifeSql(li: String, su: String): String = {
    // divisor CAST AS DOUBLE: floor() is BIGINT in Spark and a bare
    // 1073741824.0 is DECIMAL — BIGINT/DECIMAL drags the chain (and the
    // final round()) into DECIMAL output, the r7 hash-fail class
    s"""
      WITH g AS (
        SELECT s_nationkey nk,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) sy,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) sx
        FROM $li JOIN $su ON l_suppkey = s_suppkey
        GROUP BY 1),
      tot AS (SELECT CAST(sum(sy) AS BIGINT) ty, CAST(sum(sx) AS BIGINT) tx,
                     CAST(count(*) AS BIGINT) k
              FROM g),
      lo AS (SELECT nk, ${snap("CAST(tot.ty - g.sy AS DOUBLE) / CAST(tot.tx - g.sx AS DOUBLE)")} r_i
             FROM g, tot),
      m AS (SELECT ${snap("sum(r_i) / max(tot.k)")} rbar, max(tot.k) k FROM lo, tot)
      SELECT round(CAST(tot.ty AS DOUBLE) / tot.tx, 6) AS r_full,
             max(tot.k) AS n_groups,
             round(m.rbar, 6) AS r_jack_mean,
             round(sqrt((max(m.k) - 1.0) / max(m.k) *
                        sum((lo.r_i - m.rbar) * (lo.r_i - m.rbar))), 6) AS se_jack
      FROM lo, m, tot
      GROUP BY tot.ty, tot.tx, m.rbar"""
  }

  /** Cluster-sampling DESIGN EFFECT for the high-balance customer rate
    * with nations as clusters: one-way ANOVA variance components from
    * exact integer sums give the intraclass correlation, and
    * DEFF = 1 + (m̄−1)·ICC — "how many i.i.d. samples one clustered
    * sample is worth", the survey-sampling planning number. Two keyed
    * aggs; division only in the final projection.
    */
  val q399DesignEffect: QueryDef = QueryDef(
    "q399_design_effect",
    (s, dir) => {
      R11.register(s, dir, "customer")
      s.sql(deffSql("r11_customer"))
    },
    Some(deffSql("customer"))
  )

  private def deffSql(cu: String): String =
    s"""
      WITH y AS (SELECT c_nationkey nk,
                        CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END v
                 FROM $cu),
      g AS (SELECT nk, CAST(count(*) AS BIGINT) m, CAST(sum(v) AS BIGINT) s
            FROM y GROUP BY 1),
      t AS (SELECT CAST(sum(m) AS BIGINT) n, CAST(sum(s) AS BIGINT) st,
                   CAST(count(*) AS BIGINT) k
            FROM g),
      -- exact sums of squares: SSB = Σ s_g²/m_g − st²/n, SSW = st − Σ s_g²/m_g
      -- (binary y ⇒ Σy² = Σy); carried as doubles built from exact integers
      q AS (SELECT CAST(sum(CAST(s * s AS DOUBLE) / m) AS DOUBLE) ssq FROM g)
      SELECT t.n, t.k,
             round(CAST(t.st AS DOUBLE) / t.n, 6) AS rate,
             round((q.ssq - CAST(t.st AS DOUBLE) * t.st / t.n) / (t.k - 1), 6) AS msb,
             round((t.st - q.ssq) / (t.n - t.k), 6) AS msw,
             round(((q.ssq - CAST(t.st AS DOUBLE) * t.st / t.n) / (t.k - 1) -
                    (t.st - q.ssq) / (t.n - t.k)) /
                   ((q.ssq - CAST(t.st AS DOUBLE) * t.st / t.n) / (t.k - 1) +
                    (CAST(t.n AS DOUBLE) / t.k - 1.0) *
                    ((t.st - q.ssq) / (t.n - t.k))), 6) AS icc,
             round(1.0 + (CAST(t.n AS DOUBLE) / t.k - 1.0) *
                   (((q.ssq - CAST(t.st AS DOUBLE) * t.st / t.n) / (t.k - 1) -
                     (t.st - q.ssq) / (t.n - t.k)) /
                    ((q.ssq - CAST(t.st AS DOUBLE) * t.st / t.n) / (t.k - 1) +
                     (CAST(t.n AS DOUBLE) / t.k - 1.0) *
                     ((t.st - q.ssq) / (t.n - t.k)))), 6) AS deff
      FROM t, q"""

  /** Sequential probability-ratio test (Wald's SPRT) on the purchase
    * rate: per-day Bernoulli log-likelihood-ratio increments for
    * H₁: p = 0.22 vs H₀: p = 0.18 (α = β = 0.05 ⇒ boundaries ±ln 19),
    * accumulated over the day spine; the verdict is the FIRST boundary
    * crossing — the always-valid early-stopping monitor an A/B platform
    * runs instead of a fixed-horizon test. Per-day increments snap to
    * the 2⁻³⁰ grid, so the cumulative walk is exact dyadic arithmetic
    * and the crossing day is engine-independent.
    */
  val q400Sprt: QueryDef = QueryDef.sql("q400_sprt", "r11_", "events")(sprtSql)

  private def sprtSql(d: Dialect): String = {
    val tbl = d.t("events")
    val day = d.toDate("ts")
    // divisor CAST AS DOUBLE: floor() is BIGINT in Spark and a bare
    // 1073741824.0 is DECIMAL — BIGINT/DECIMAL drags the chain (and the
    // final round()) into DECIMAL output, the r7 hash-fail class
    s"""
      WITH d AS (SELECT $day dd, CAST(count(*) AS BIGINT) n,
                        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                             AS BIGINT) np
                 FROM $tbl GROUP BY 1),
      l AS (SELECT dd, n, np,
                   ${snap("np * ln(CAST(0.22 AS DOUBLE) / CAST(0.18 AS DOUBLE)) + (n - np) * ln(CAST(0.78 AS DOUBLE) / CAST(0.82 AS DOUBLE))")} llr
            FROM d),
      c AS (SELECT dd, n, np,
                   sum(llr) OVER (ORDER BY dd
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
            FROM l),
      x AS (SELECT dd, cum,
                   CASE WHEN cum >= ln(19.0) THEN 'accept_h1'
                        WHEN cum <= -ln(19.0) THEN 'accept_h0' END verdict
            FROM c)
      SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS n_days,
             round((SELECT cum FROM c ORDER BY dd DESC LIMIT 1), 6) AS llr_final,
             coalesce((SELECT verdict FROM x WHERE verdict IS NOT NULL
                       ORDER BY dd LIMIT 1), 'continue') AS decision,
             CAST((SELECT count(*) FROM x
                   WHERE dd <= (SELECT min(dd) FROM x WHERE verdict IS NOT NULL))
                  AS BIGINT) AS cross_day
      """
  }

  val all: Seq[QueryDef] =
    Seq(q380MinCostSupplier, q381TopSupplier, q382DominantSupplier,
      q383LoneLateSupplier, q384DormantProspects, q385HhiConcentration,
      q386SkewAdvisor, q387ZoneMapSkip, q388JoinCardCalibration,
      q389RendezvousHash, q390MutualNn, q391DsirImportance, q392IpfRaking,
      q393HuberMean, q394KfoldBalance, q395MinhashCalibration,
      q396Chao1Richness, q397GoodTuring, q398JackknifeRatio,
      q399DesignEffect, q400Sprt)
}
