package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** A named engine query plus (when SQL-expressible) its DuckDB oracle.
  *
  * Column-name parity rule: every computed column is aliased identically in
  * the Spark plan and the oracle SQL — the driver's compare sorts columns by
  * name before hashing values.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object QueryDef {

  /** A query written once as dialect-generic SQL: Spark runs
    * `build(Spark(viewPrefix))` over each of `tables` registered as the
    * temp view `viewPrefix + table`, and the oracle is `build(DuckDb)`.
    */
  def sql(name: String, viewPrefix: String, tables: String*)(
      build: Dialect => String): QueryDef = {
    val sp = Spark(viewPrefix)
    QueryDef(
      name,
      (s, dir) => {
        sp.register(s, dir, tables: _*)
        s.sql(build(sp))
      },
      Some(build(DuckDb)))
  }
}

/** Relational query catalogue over the TESTDATA lake.
  *
  * Covers the operator categories of SURVEY §2.2 (scans, projections,
  * filters, joins of every flavor, aggregation, distinct/rollup/cube,
  * window functions, sorts/limits, set ops, scalar function families).
  * The reference itself exercises only a sliver of this surface
  * (reference: src/statistics.py:9-154 — filters, counts, mean, exact
  * percentiles, group-by count); the rest is the "free via Catalyst"
  * column of SURVEY §2.2, made concrete and oracle-checked here.
  *
  * Scale posture: filters and projections sit directly on the parquet scan
  * (pushdown + pruning), joins against the small dimension tables are
  * explicitly `broadcast(...)`, and every aggregate is a partial+final
  * hash aggregate — no query below shuffles more than once except where the
  * semantics demand it.
  */
object Relational {

  /** A1/A2/A6 pricing-summary shape (the reference's count/mean aggregate
    * block, src/statistics.py:107-121, re-expressed over lineitem).
    * Doubles are rounded in both engines to absorb summation-order ulps.
    */
  val q1Agg: QueryDef = QueryDef(
    "q1_agg",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          sum("l_quantity").as("sum_qty"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          round(avg("l_discount"), 6).as("avg_disc")
        )
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
            sum(l_quantity) AS sum_qty,
            round(avg(l_quantity), 6) AS avg_qty,
            round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
            round(avg(l_discount), 6) AS avg_disc
            FROM lineitem GROUP BY l_returnflag, l_linestatus""")
  )

  /** F1/P1/P2: predicate filter + derived-column projection; the filter and
    * the 4-column read schema both reach the parquet scan (PushedFilters /
    * ReadSchema in `.explain("formatted")`).
    */
  val q2FilterProject: QueryDef = QueryDef(
    "q2_filter_project",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount") > 0.02
        )
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("net_price")
        )
    },
    Some("""SELECT l_orderkey, l_linenumber,
            round(l_extendedprice * (1.0 - l_discount), 4) AS net_price
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount > 0.02""")
  )

  /** A3: exact percentiles with linear interpolation — the reference's
    * np.percentile semantics (src/statistics.py:46-72); Spark `percentile`
    * and DuckDB `quantile_cont` share the same definition. NOT
    * approx_percentile (SURVEY §2.1 A3).
    */
  val q3Percentiles: QueryDef = QueryDef(
    "q3_percentiles",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.50)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 6).as("p75"),
          round(expr("percentile(l_extendedprice, 0.90)"), 6).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99"),
          round(avg("l_extendedprice"), 6).as("avg_val")
        )
    },
    Some("""SELECT l_returnflag,
            round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
            round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
            round(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
            round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
            round(avg(l_extendedprice), 6) AS avg_val
            FROM lineitem GROUP BY l_returnflag""")
  )

  /** A4: group-by count over a dense key domain with zero-fill — the
    * reference pre-seeds api_1..api_N = 0 (src/statistics.py:127-128);
    * relationally that is a broadcast right-join of counts onto the key
    * dimension with coalesce(count, 0).
    */
  val q4GroupZerofill: QueryDef = QueryDef(
    "q4_group_zerofill",
    (s, dir) => {
      val nation = Tables.nation(s, dir)
      val customer = Tables.customer(s, dir)
      nation
        .join(customer, nation("n_nationkey") === customer("c_nationkey"), "left")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("c_custkey")).as("n_customers"))
    },
    Some("""SELECT n_nationkey, n_name, count(c_custkey) AS n_customers
            FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
            GROUP BY n_nationkey, n_name""")
  )

  /** O1/O2 + top-k: total-order sort with deterministic tie-break and limit
    * (Spark plans this as TakeOrderedAndProject — no full sort shuffle).
    */
  val q5TopK: QueryDef = QueryDef(
    "q5_topk",
    (s, dir) => {
      Tables
        .orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""")
  )

  /** Multi-way join: fact table joined to a broadcast dimension chain
    * (customer→nation→region), revenue per region. One shuffle (the final
    * groupBy); every dimension join is broadcast.
    */
  val q6JoinChain: QueryDef = QueryDef(
    "q6_join_chain",
    (s, dir) => {
      val orders = Tables.orders(s, dir)
      val customer = Tables.customer(s, dir)
      val nation = Tables.nation(s, dir)
      val region = Tables.region(s, dir)
      orders
        // hint-free: customer scales with the fact side (forcing it
        // broadcast OOMs at 100x); nation/region are tiny parquet whose
        // file-size stats already pick a broadcast join without a hint
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(nation, customer("c_nationkey") === nation("n_nationkey"))
        .join(region, nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue")
        )
    },
    Some("""SELECT r_name, count(*) AS n_orders,
            round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""")
  )

  /** Anti join (NOT EXISTS): customers with no quarter-million order. */
  val q7AntiJoin: QueryDef = QueryDef(
    "q7_anti_join",
    (s, dir) => {
      val customer = Tables.customer(s, dir)
      val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 250000.0)
      customer
        .join(bigOrders, customer("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)""")
  )

  /** Semi join: customers with at least one high-value order (EXISTS). */
  val q8SemiJoin: QueryDef = QueryDef(
    "q8_semi_join",
    (s, dir) => {
      val customer = Tables.customer(s, dir)
      val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 100000.0)
      customer
        .join(bigOrders, customer("c_custkey") === bigOrders("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    },
    Some("""SELECT c_custkey, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""")
  )

  /** Window functions: ranking + running aggregate per partition, fully
    * deterministic frame order via (o_orderdate, o_orderkey).
    */
  val q9Window: QueryDef = QueryDef(
    "q9_window",
    (s, dir) => {
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables
        .orders(s, dir)
        .select(
          col("o_orderkey"),
          col("o_custkey"),
          row_number().over(w).as("order_rank"),
          round(
            sum(col("o_totalprice"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
            2
          ).as("running_spend"),
          round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price")
        )
    },
    Some("""SELECT o_orderkey, o_custkey,
            row_number() OVER w AS order_rank,
            round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
            round(lag(o_totalprice, 1) OVER w, 2) AS prev_price
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")
  )

  /** Set operations: INTERSECT / EXCEPT / UNION over key projections. */
  val q10SetOps: QueryDef = QueryDef(
    "q10_setops",
    (s, dir) => {
      val custNations = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      val suppNations = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nationkey"))
      val both = custNations.intersect(suppNations).withColumn("tag", lit("both"))
      val custOnly = custNations.except(suppNations).withColumn("tag", lit("cust_only"))
      both.union(custOnly)
    },
    Some("""SELECT nationkey, 'both' AS tag FROM
              (SELECT c_nationkey AS nationkey FROM customer
               INTERSECT SELECT CAST(s_nationkey AS INT) FROM supplier)
            UNION ALL
            SELECT nationkey, 'cust_only' AS tag FROM
              (SELECT c_nationkey AS nationkey FROM customer
               EXCEPT SELECT CAST(s_nationkey AS INT) FROM supplier)""")
  )

  /** ROLLUP hierarchy totals (region → nation → grand total). */
  val q11Rollup: QueryDef = QueryDef(
    "q11_rollup",
    (s, dir) => {
      val nation = Tables.nation(s, dir)
      val region = Tables.region(s, dir)
      val customer = Tables.customer(s, dir)
      customer
        // hint-free: nation/region broadcast by file-size stats already
        .join(nation, customer("c_nationkey") === nation("n_nationkey"))
        .join(region, nation("n_regionkey") === region("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("sum_bal"))
    },
    Some("""SELECT r_name, n_name, count(*) AS n_customers,
            round(sum(c_acctbal), 2) AS sum_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)""")
  )

  /** CUBE over two independent dimensions. */
  val q12Cube: QueryDef = QueryDef(
    "q12_cube",
    (s, dir) => {
      Tables
        .orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), round(avg("o_totalprice"), 4).as("avg_price"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
            round(avg(o_totalprice), 4) AS avg_price
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")
  )

  /** DISTINCT + count(DISTINCT) + approx-distinct shape (approx checked only
    * for exact-count parity via the exact column; HLL value itself is
    * engine-specific so it is intentionally NOT in the output).
    */
  val q13Distinct: QueryDef = QueryDef(
    "q13_distinct",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status")
        )
    },
    Some("""SELECT count(DISTINCT l_orderkey) AS n_orders,
            count(DISTINCT l_partkey) AS n_parts,
            count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
            FROM lineitem""")
  )

  /** Date/time scalar functions (S1/P1 family: ISO parse → derived seconds,
    * reference src/csv_parser.py:50-59 + main.py:64, generalized to the
    * lake's timestamp columns). Epoch arithmetic kept in exact integer µs.
    */
  val q14Datetime: QueryDef = QueryDef(
    "q14_datetime",
    (s, dir) => {
      Tables
        .orders(s, dir)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"),
          dayofmonth(col("o_orderdate")).as("order_day"),
          date_format(col("o_orderdate"), "yyyy-MM").as("order_ym"),
          // o_orderdate is parquet TIMESTAMP_NTZ; session TZ is pinned UTC so
          // the cast to instant-typed TIMESTAMP is lossless.
          (unix_micros(col("o_orderdate").cast("timestamp")) / lit(1000000L))
            .cast("long").as("epoch_sec"),
          // P1 shape: seconds relative to a fixed UTC origin (main.py:13,64)
          ((unix_micros(col("o_orderdate").cast("timestamp")) - lit(788918400000000L)) /
            lit(1000000.0)).as("sim_arrival_sec")
        )
    },
    Some("""SELECT o_orderkey,
            CAST(year(o_orderdate) AS INT) AS order_year,
            CAST(month(o_orderdate) AS INT) AS order_month,
            CAST(day(o_orderdate) AS INT) AS order_day,
            strftime(o_orderdate, '%Y-%m') AS order_ym,
            CAST(epoch(o_orderdate) AS BIGINT) AS epoch_sec,
            (epoch_us(o_orderdate) - 788918400000000) / 1000000.0 AS sim_arrival_sec
            FROM orders""")
  )

  /** String scalar functions (upper/substr/length/concat/trim/replace). */
  val q15String: QueryDef = QueryDef(
    "q15_string",
    (s, dir) => {
      Tables
        .part(s, dir)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          lower(col("p_type")).as("type_l"),
          substring(col("p_name"), 1, 12).as("name12"),
          length(col("p_name")).as("name_len"),
          concat_ws("#", col("p_brand"), col("p_type")).as("tag"),
          regexp_replace(col("p_name"), " ", "_").as("name_snake")
        )
    },
    Some("""SELECT p_partkey, upper(p_brand) AS brand_u, lower(p_type) AS type_l,
            substr(p_name, 1, 12) AS name12,
            CAST(length(p_name) AS INT) AS name_len,
            concat_ws('#', p_brand, p_type) AS tag,
            replace(p_name, ' ', '_') AS name_snake
            FROM part""")
  )

  /** Math scalar functions + CASE WHEN conditional aggregation (A1's
    * conditional-count shape, src/statistics.py:107-108).
    */
  val q16MathCase: QueryDef = QueryDef(
    "q16_math_case",
    (s, dir) => {
      Tables
        .customer(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("c_acctbal") < 0, 1).otherwise(0)).as("n_negative"),
          round(sum(abs(col("c_acctbal"))), 2).as("sum_abs_bal"),
          round(sum(sqrt(abs(col("c_acctbal")))), 6).as("sum_sqrt_bal"),
          max(ceil(col("c_acctbal"))).as("max_ceil"),
          min(floor(col("c_acctbal"))).as("min_floor")
        )
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
            CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
            round(sum(abs(c_acctbal)), 2) AS sum_abs_bal,
            round(sum(sqrt(abs(c_acctbal))), 6) AS sum_sqrt_bal,
            CAST(max(ceil(c_acctbal)) AS BIGINT) AS max_ceil,
            CAST(min(floor(c_acctbal)) AS BIGINT) AS min_floor
            FROM customer GROUP BY c_mktsegment""")
  )

  /** Equi + range ("interval") join: lineitems shipped within 90 days of
    * their order date. The equi key keeps it a hash/SMJ join with the range
    * predicate as a post-condition — no nested-loop blowup at scale.
    */
  val q17RangeJoin: QueryDef = QueryDef(
    "q17_range_join",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      li.join(
          o,
          li("l_orderkey") === o("o_orderkey") &&
            li("l_shipdate") >= o("o_orderdate") &&
            li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS")
        )
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_shipped_90d"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n_shipped_90d
            FROM lineitem JOIN orders
              ON l_orderkey = o_orderkey
             AND l_shipdate >= o_orderdate
             AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
            GROUP BY o_orderpriority""")
  )

  /** Grouping sets (explicit, beyond rollup/cube). */
  val q18GroupingSets: QueryDef = QueryDef(
    "q18_grouping_sets",
    (s, dir) => {
      val df = Tables.orders(s, dir)
      df.createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
               FROM orders_gs
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
  )

  /** Unpivot (wide → long): lineitem measures melted to (metric, value)
    * rows, re-aggregated per metric. The oracle is the portable UNION ALL
    * form of the same melt.
    */
  val q51Unpivot: QueryDef = QueryDef(
    "q51_unpivot",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric",
          "value"
        )
        .groupBy(col("metric"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total"),
          round(avg(col("value")), 6).as("mean")
        )
    },
    Some("""WITH long AS (
              SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', l_extendedprice FROM lineitem
              UNION ALL
              SELECT 'l_discount', l_discount FROM lineitem)
            SELECT metric, count(*) AS n,
                   round(sum(value), 2) AS total,
                   round(avg(value), 6) AS mean
            FROM long GROUP BY metric""")
  )

  /** PURE range join — no equi-key at all: every lineitem ship day joined
    * into an overlapping promo calendar (14-day windows, 10-day stride, so
    * boundary days belong to two windows). Spark's native plan for a
    * range-only condition is BroadcastNestedLoopJoin — |L|·|R| comparisons;
    * [[graft.operators.RangeJoin.pointInInterval]] bins the domain and
    * turns it into an equi-join on the bin id (plan-audited in
    * RangeJoinSpec). The oracle runs the naive BETWEEN join in DuckDB.
    */
  val q54IntervalJoin: QueryDef = QueryDef(
    "q54_interval_join",
    (s, dir) => {
      // 1995-01-01 (unix day 9131) .. beyond max ship date, 256 windows
      val windows = s.range(256).select(
        col("id").cast("int").as("w_id"),
        (lit(9131L) + col("id") * 10).as("w_start_day"),
        (lit(9131L) + col("id") * 10 + 13).as("hi_day")
      )
      // Money accumulates as DECIMAL: a double sum is partition-order-
      // dependent, and rounding it to cents flips engines when the true
      // sum sits near a half-cent boundary (seen live at sf0.001). The
      // double→decimal(18,4) cast is deterministic here — source values
      // carry 2-3 decimals, nowhere near the 4th-decimal cast boundary.
      val points = Tables
        .lineitem(s, dir)
        .select(
          datediff(col("l_shipdate").cast("date"), to_date(lit("1970-01-01")))
            .cast("long")
            .as("ship_day"),
          (col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1) - col("l_discount").cast("decimal(18,4)"))).as("rev")
        )
      graft.operators.RangeJoin
        .pointInInterval(points, windows, "ship_day", "w_start_day", "hi_day", binSize = 14L)
        .groupBy(col("w_id"), col("w_start_day"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("rev")), 2).cast("double").as("revenue")
        )
    },
    Some("""WITH w AS (
              SELECT CAST(i AS INT) AS w_id,
                     CAST(9131 + 10 * i AS BIGINT) AS w_start_day,
                     9131 + 10 * i + 13 AS hi_day
              FROM range(0, 256) t(i)),
            p AS (
              SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS ship_day,
                     CAST(l_extendedprice AS DECIMAL(18,4)) *
                       (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev
              FROM lineitem)
            SELECT w_id, w_start_day, count(*) AS n_items,
                   CAST(round(sum(rev), 2) AS DOUBLE) AS revenue
            FROM p JOIN w ON p.ship_day BETWEEN w.w_start_day AND w.hi_day
            GROUP BY 1, 2""")
  )

  /** Full outer join — the one join flavor the rest of the catalogue
    * doesn't exercise: high-value customers against large recent orders,
    * keeping unmatched rows from BOTH sides, rolled up to match-status
    * counts per nation-bucket.
    */
  val q64FullOuter: QueryDef = QueryDef(
    "q64_full_outer",
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_acctbal") > 7000)
        .select(col("c_custkey"), col("c_nationkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 150000)
        .select(col("o_custkey"), col("o_orderkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy(coalesce(col("c_nationkey") % 5, lit(-1)).cast("int").as("nation_bucket"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_order_only"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_customer_only")
        )
    },
    Some("""SELECT CAST(coalesce(c_nationkey % 5, -1) AS INT) AS nation_bucket,
                   count(*) AS n_rows,
                   CAST(count(*) FILTER (c_custkey IS NULL) AS BIGINT) AS n_order_only,
                   CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT) AS n_customer_only
            FROM (SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 7000) c
            FULL OUTER JOIN
                 (SELECT o_custkey, o_orderkey FROM orders WHERE o_totalprice > 150000) o
              ON c.c_custkey = o.o_custkey
            GROUP BY 1""")
  )

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — top-2 lineitems
    * per order, expressed through the SQL surface (not a window
    * function): exercises Spark's subquery decorrelation
    * (DecorrelateInnerQuery rewrites the per-row limit into a ranked
    * join) end-to-end. Ties broken by line number so both engines rank
    * identically.
    */
  val q71LateralTopN: QueryDef = QueryDef(
    "q71_lateral_topn",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_q71_lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("graft_q71_orders")
      s.sql("""SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
               FROM graft_q71_orders o,
               LATERAL (SELECT l_linenumber, l_extendedprice
                        FROM graft_q71_lineitem l
                        WHERE l.l_orderkey = o.o_orderkey
                        ORDER BY l_extendedprice DESC, l_linenumber
                        LIMIT 2) t
               WHERE o.o_custkey % 100 = 0""")
    },
    Some("""SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
            FROM orders o,
            LATERAL (SELECT l_linenumber, l_extendedprice
                     FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                     ORDER BY l_extendedprice DESC, l_linenumber
                     LIMIT 2) t
            WHERE o.o_custkey % 100 = 0""")
  )

  val all: Seq[QueryDef] = Seq(
    q1Agg, q2FilterProject, q3Percentiles, q4GroupZerofill, q5TopK,
    q6JoinChain, q7AntiJoin, q8SemiJoin, q9Window, q10SetOps,
    q11Rollup, q12Cube, q13Distinct, q14Datetime, q15String,
    q16MathCase, q17RangeJoin, q18GroupingSets, q51Unpivot, q54IntervalJoin,
    q64FullOuter, q71LateralTopN
  )
}
