package graft.queries

import graft.queries.SqlFragments._

/** Round-52 additions (q571+): lake-health audits — the checks a data
  * platform runs on every snapshot before anyone queries it. Catalogue
  * churn between consecutive ship years (how stable is the active
  * part×supplier assortment), a referential-integrity orphan audit
  * across the foreign-key edges of the TPC-H-ish schema, a per-day
  * arrival-completeness SLA against a trailing-week baseline (the
  * pipeline-incident detector), and a primary-key uniqueness sweep over
  * every table. All exact integer counting; divisions only at the
  * reported rates. House invariants as Round13–51.
  */
object Round52 {

  // ---------------------------------------------------------------- q571

  /** Catalogue churn: the set of ACTIVE (part, supplier) pairs realized
    * by lineitems in each ship year, compared year-over-year — added,
    * removed, retained counts and the Jaccard stability of consecutive
    * assortments. A full-outer self-join of the year×pair relation on
    * (pair, year = year−1); pair sets shuffle once by pair key. The
    * assortment-stability number a procurement mix model needs before
    * trusting last year's weights.
    */
  val q571CatalogChurn: QueryDef = QueryDef.sql("q571_catalog_churn", "r52_", "lineitem")(churnSql)

  private def churnSql(d: Dialect): String = {
    val tbl = d.t("lineitem")
    val yr = d match {
      case _: Spark => "year(CAST(l_shipdate AS TIMESTAMP))"
      case DuckDb => "CAST(year(l_shipdate) AS INT)"
    }
    s"""WITH act AS (SELECT DISTINCT $yr AS y, l_partkey AS pk, l_suppkey AS sk
                     FROM $tbl),
        a AS (SELECT y, pk, sk FROM act),
        b AS (SELECT y + 1 AS y, pk, sk FROM act),
        fo AS (SELECT coalesce(a.y, b.y) AS y,
                      CAST(sum(CASE WHEN b.y IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
                      CAST(sum(CASE WHEN a.y IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed,
                      CAST(sum(CASE WHEN a.y IS NOT NULL AND b.y IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained
               FROM a FULL OUTER JOIN b
                 ON a.y = b.y AND a.pk = b.pk AND a.sk = b.sk
               GROUP BY 1),
        bounds AS (SELECT min(y) AS ymin, max(y) AS ymax FROM act),
        yrs AS (SELECT fo.y, fo.added, fo.removed, fo.retained
                FROM fo CROSS JOIN bounds
                WHERE fo.y > bounds.ymin AND fo.y <= bounds.ymax)
        SELECT y AS ship_year,
               added AS n_added, removed AS n_removed, retained AS n_retained,
               ${snap("CAST(retained AS DOUBLE) / (added + removed + retained)")}
                 AS assortment_jaccard
        FROM yrs
        ORDER BY y"""
  }

  // ---------------------------------------------------------------- q572

  /** Referential-integrity orphan audit over the schema's foreign-key
    * edges: orders→customer, lineitem→orders, lineitem→part,
    * lineitem→supplier, customer→nation, supplier→nation, events→customer
    * (user_id). Each edge is one LEFT ANTI count — child rows whose
    * parent key is missing — reported with the child cardinality and the
    * orphan rate. Anti-joins shuffle by the key being checked; nothing
    * is collected. The first dashboard a lake publishes.
    */
  val q572OrphanAudit: QueryDef =
    QueryDef.sql("q572_orphan_audit", "r52_", "orders", "customer", "lineitem", "part", "supplier", "nation", "events")(orphanSql)

  private def orphanSql(d: Dialect): String = {
    def edge(name: String, child: String, childKey: String,
             parent: String, parentKey: String): String =
      s"""SELECT '$name' AS fk_edge,
                 CAST(count(*) AS BIGINT) AS n_child,
                 CAST(sum(CASE WHEN p.$parentKey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
          FROM ${d.t(child)} c LEFT JOIN ${d.t(parent)} p ON c.$childKey = p.$parentKey"""
    val edges = Seq(
      edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      edge("events->customer", "events", "user_id", "customer", "c_custkey")
    ).mkString("\nUNION ALL\n")
    s"""WITH ed AS ($edges)
        SELECT fk_edge, n_child, n_orphans,
               ${snap("CAST(n_orphans AS DOUBLE) / n_child")} AS orphan_rate
        FROM ed
        ORDER BY fk_edge"""
  }

  // ---------------------------------------------------------------- q573

  /** Arrival-completeness SLA: each day's event count against the
    * median of the trailing 7 days (exact lower median — an order
    * statistic, not an interpolating quantile, so both engines pick the
    * same element), flagging days under 50% of baseline as incidents.
    * The trailing window pairs through the q557 offset-grid EQUI-join
    * (a 7-row literal offset table, then l.idx = t.idx − o), never an
    * inequality self-join — the first cut planned a
    * BroadcastNestedLoopJoin and the catalogue gate rejected it. The
    * detector that catches a dead upstream partition before a consumer
    * does.
    */
  val q573CompletenessSla: QueryDef =
    QueryDef.sql("q573_completeness_sla", "r52_", "events")(slaSql)

  private def slaSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS dd FROM b"
    val og = s"SELECT ${d.closedRange(1, 7)} AS o"
    s"""WITH e AS (SELECT $dd AS dd FROM $tbl),
        cnt AS (SELECT dd, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY 1),
        b AS (SELECT min(dd) AS mn, max(dd) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.dd - g.mn AS idx, CAST(coalesce(c.y, 0) AS BIGINT) AS y
              FROM grid g LEFT JOIN cnt c ON c.dd = g.dd),
        og AS ($og),
        te AS (SELECT t.idx, t.y, t.idx - og.o AS j
               FROM s t CROSS JOIN og
               WHERE t.idx >= 7),
        w AS (SELECT te.idx, te.y, l.y AS ly
              FROM te JOIN s l ON l.idx = te.j),
        med AS (SELECT idx, y, ly,
                       CAST(row_number() OVER (PARTITION BY idx ORDER BY ly) AS BIGINT) AS r
                FROM w),
        base AS (SELECT idx, max(y) AS y,
                        CAST(max(CASE WHEN r = 4 THEN ly END) AS BIGINT) AS med7
                 FROM med GROUP BY idx)
        SELECT idx AS day_idx, y AS n_events, med7 AS trailing_median,
               ${snap("CAST(y AS DOUBLE) / med7")} AS completeness,
               CAST(CASE WHEN 2 * y < med7 THEN 1 ELSE 0 END AS INT) AS incident
        FROM base
        WHERE med7 > 0
        ORDER BY idx"""
  }

  // ---------------------------------------------------------------- q574

  /** Primary-key uniqueness sweep over every table in the lake: for
    * each declared key, the number of distinct values, the number of
    * key values that appear more than once, and the excess row count
    * they carry. One keyed agg per table, unioned — the check every
    * MERGE/upsert pipeline must pass before it can promise idempotence.
    * (events.event_id is generated unique; lineitem's key is the
    * COMPOSITE (l_orderkey, l_linenumber) — this corpus reuses line
    * numbers within an order, so the sweep reports it honestly.)
    */
  val q574PkUniqueness: QueryDef =
    QueryDef.sql("q574_pk_uniqueness", "r52_", "orders", "customer", "part", "supplier", "nation", "region", "events", "documents", "lineitem")(pkSql)

  private def pkSql(d: Dialect): String = {
    def table(name: String, keyExpr: String): String =
      s"""SELECT '$name' AS pk,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT $keyExpr) AS BIGINT) AS n_keys
          FROM ${d.t(name)}"""
    val tables = Seq(
      table("customer", "c_custkey"),
      table("documents", "doc_id"),
      table("events", "event_id"),
      table("lineitem", "l_orderkey * 1000000 + l_linenumber"),
      table("nation", "n_nationkey"),
      table("orders", "o_orderkey"),
      table("part", "p_partkey"),
      table("region", "r_regionkey"),
      table("supplier", "s_suppkey")
    ).mkString("\nUNION ALL\n")
    s"""WITH t AS ($tables)
        SELECT pk AS table_key, n_rows, n_keys,
               n_rows - n_keys AS n_excess_rows,
               CAST(CASE WHEN n_rows = n_keys THEN 1 ELSE 0 END AS INT) AS is_unique
        FROM t
        ORDER BY pk"""
  }

  val all: Seq[QueryDef] = Seq(
    q571CatalogChurn, q572OrphanAudit, q573CompletenessSla, q574PkUniqueness)
}
