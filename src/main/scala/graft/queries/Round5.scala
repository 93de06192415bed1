package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-5 additions (q87–q120).
  *
  * SQL surface: RANGE frames, null-safe joins, correlated scalar
  * subqueries, array/map higher-order functions, per-group percentiles,
  * recursive CTEs, grouping_id, multiset set ops, pagination, outer
  * explode, try_* ANSI safety, date functions, LISTAGG, statistical and
  * regression aggregates, the ranking window family; JSON/ORC round
  * trips.
  *
  * Training-pipeline operators: chunk-level dedup, linear quality
  * classifier, deterministic shuffle/sharding, curation composition,
  * oracle-exact distributed k-means and SemDeDup semantic pairs,
  * blocked-levenshtein entity resolution, PageRank.
  *
  * Lake & streaming: snapshot diff, incremental materialized aggregates
  * from manifest deltas, streaming MV with origin-idempotent versioned
  * publishes, MapState counters, stream-stream full outer, stream-static
  * broadcast enrichment, salted joins.
  */
object Round5 {

  /** RANGE-framed window: rolling one-hour count/sum per user over the
    * event stream — the time-valued frame (`RANGE BETWEEN INTERVAL
    * PRECEDING`) that rows-framed windows can't express. Spark orders by
    * epoch micros with a [-3.6e9, 0] range frame; the oracle uses the
    * equivalent interval frame. One shuffle on user_id; the frame scan is
    * a single ordered pass per partition.
    */
  val q87RangeFrame: QueryDef = QueryDef(
    "q87_range_frame",
    (s, dir) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      Tables
        .events(s, dir)
        .select(
          col("event_id"),
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          count(lit(1)).over(w).as("cnt_1h"),
          round(sum(col("value")).over(w), 2).as("val_1h"))
    },
    Some("""SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                   count(*) OVER w AS cnt_1h,
                   round(sum(value) OVER w, 2) AS val_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""")
  )

  /** NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): customers with a
    * nulled-out nation key (every 10th) still join — to an UNKNOWN dim
    * row — instead of silently dropping. EqualNullSafe is a hash-join key
    * for Catalyst, so the small dim side broadcasts; no null-bucket skew
    * lands on the fact side.
    */
  val q88NullsafeJoin: QueryDef = QueryDef(
    "q88_nullsafe_join",
    (s, dir) => {
      val cust = Tables
        .customer(s, dir)
        .select(
          when(col("c_custkey") % 10 === 0, lit(null))
            .otherwise(col("c_nationkey"))
            .cast("long")
            .as("nk"),
          col("c_acctbal"))
      val dim = Tables
        .nation(s, dir)
        .select(col("n_nationkey").cast("long").as("dk"), col("n_name"))
        .unionByName(s.sql("SELECT CAST(NULL AS BIGINT) AS dk, 'UNKNOWN' AS n_name"))
      cust
        // hint-free: the dim union's size resolves at runtime (AQE);
        // null-safe equality still plans a hash join on the <=> key
        .join(dim, cust("nk") <=> dim("dk"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal_sum"))
    },
    Some("""SELECT n_name, count(*) AS n, round(sum(c_acctbal), 2) AS bal_sum
            FROM (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL
                              ELSE c_nationkey END AS nk,
                         c_acctbal
                  FROM customer) c
            JOIN (SELECT n_nationkey AS dk, n_name FROM nation
                  UNION ALL SELECT NULL, 'UNKNOWN') d
              ON c.nk IS NOT DISTINCT FROM d.dk
            GROUP BY n_name""")
  )

  /** Correlated scalar subqueries through the SQL surface: per-order item
    * count and max item price (correlated on the outer order key) plus an
    * uncorrelated max-price ratio. Catalyst decorrelates both correlated
    * subqueries into aggregated left joins — `.explain` shows hash joins,
    * never a per-row re-execution.
    */
  val q89ScalarSubquery: QueryDef = QueryDef(
    "q89_scalar_subquery",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("g_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
      s.sql("""SELECT o_orderkey, o_totalprice,
                      (SELECT count(*) FROM g_lineitem l
                       WHERE l.l_orderkey = o.o_orderkey) AS n_items,
                      (SELECT round(max(l_extendedprice), 2) FROM g_lineitem l
                       WHERE l.l_orderkey = o.o_orderkey) AS max_item,
                      round(o_totalprice /
                            (SELECT max(o_totalprice) FROM g_orders), 6) AS price_frac
               FROM g_orders o
               WHERE o_orderkey % 7 = 0""")
    },
    Some("""SELECT o_orderkey, o_totalprice,
                   (SELECT count(*) FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey) AS n_items,
                   (SELECT round(max(l_extendedprice), 2) FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey) AS max_item,
                   round(o_totalprice /
                         (SELECT max(o_totalprice) FROM orders), 6) AS price_frac
            FROM orders o
            WHERE o_orderkey % 7 = 0""")
  )

  /** Array higher-order functions (transform / filter / aggregate /
    * zip_with) over per-order quantity arrays — all codegen-friendly
    * lambda expressions, no UDFs. The arrays are sorted so the fold order
    * (and therefore every result) is engine-independent.
    */
  val q90HofArrays: QueryDef = QueryDef(
    "q90_hof_arrays",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qs"))
        .select(
          col("l_orderkey"),
          size(col("qs")).cast("long").as("n_items"),
          aggregate(
            transform(col("qs"), x => x * lit(2L)),
            lit(0L),
            (acc, x) => acc + x).as("doubled_sum"),
          size(filter(col("qs"), _ > lit(20L))).cast("long").as("n_big"),
          aggregate(
            zip_with(col("qs"), reverse(col("qs")), (a, b) => a * b),
            lit(0L),
            (acc, x) => acc + x).as("rev_dot"))
    },
    Some("""SELECT l_orderkey,
                   CAST(len(qs) AS BIGINT) AS n_items,
                   CAST(list_sum(list_transform(qs, x -> x * 2)) AS BIGINT) AS doubled_sum,
                   CAST(len(list_filter(qs, x -> x > 20)) AS BIGINT) AS n_big,
                   CAST(list_sum([qs[i] * qs[len(qs) - i + 1]
                                  FOR i IN range(1, len(qs) + 1)]) AS BIGINT) AS rev_dot
            FROM (SELECT l_orderkey,
                         list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
                  FROM lineitem GROUP BY 1)""")
  )

  /** Exact percentiles PER GROUP (q3 is global): linear-interpolation
    * `percentile` keyed by return flag — partial aggregation still
    * applies (Spark's exact percentile buffers per group pre-shuffle),
    * and the group count keeps the cardinality visible.
    */
  val q91GroupPercentiles: QueryDef = QueryDef(
    "q91_group_percentiles",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_extendedprice, 0.50)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.90)"), 6).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                   round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
                   round(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
                   round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
            FROM lineitem GROUP BY l_returnflag""")
  )

  /** JSON sink + source round trip: high-value events written as
    * line-delimited JSON, read back with an explicit schema (no inference
    * job at scale), aggregated. The oracle reads the original table — the
    * round trip must be lossless. Timestamps survive via epoch micros
    * (ISO-string round-tripping is writer-version-dependent; a lake
    * pipeline pins the representation).
    */
  val q92JsonRoundtrip: QueryDef = QueryDef(
    "q92_json_roundtrip",
    (s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q92").resolve("events_json").toString
      Tables
        .events(s, dir)
        .filter(col("value") > 50)
        .select(
          col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .write.mode("overwrite").json(path)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT, value DOUBLE")
        .json(path)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("user_id")).as("user_sum"),
          min(col("ts_us")).as("min_ts_us"),
          round(sum(col("value")), 2).as("val_sum"))
    },
    Some("""SELECT event_type, count(*) AS n,
                   CAST(sum(user_id) AS BIGINT) AS user_sum,
                   CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
                   round(sum(value), 2) AS val_sum
            FROM events WHERE value > 50 GROUP BY event_type""")
  )

  /** ORC sink + source round trip — the second columnar format (parquet
    * is the lake default): orders written as ORC with a sort-within-
    * partitions layout, read back, filtered and aggregated. Predicate
    * pushdown applies to ORC scans exactly as to parquet.
    */
  val q93OrcRoundtrip: QueryDef = QueryDef(
    "q93_orc_roundtrip",
    (s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q93").resolve("orders_orc").toString
      Tables
        .orders(s, dir)
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode("overwrite").orc(path)
      s.read
        .orc(path)
        .filter(col("o_totalprice") > 100000)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          round(avg(col("o_totalprice")), 2).as("avg_price"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   round(avg(o_totalprice), 2) AS avg_price
            FROM orders WHERE o_totalprice > 100000 GROUP BY o_orderpriority""")
  )

  /** Passage-level exact dedup ([[graft.operators.Dedup.chunkDedup]]):
    * 10-word chunks, global first-occurrence election, per-document
    * reassembly. The oracle replays the identical chunking + window
    * election in DuckDB (kept text compared via md5).
    */
  val q94ChunkDedup: QueryDef = QueryDef(
    "q94_chunk_dedup",
    (s, dir) => {
      graft.operators.Dedup
        .chunkDedup(Tables.documents(s, dir), chunkWords = 10)
        .select(
          col("doc_id"),
          col("n_chunks"),
          col("n_kept"),
          md5(col("kept_text")).as("kept_md5"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
            chunks AS (
              SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM (
                SELECT doc_id,
                       unnest([{'idx': CAST((i - 1) // 10 AS INT),
                                'chunk': array_to_string(ts[i:i+9], ' ')}
                               FOR i IN range(1, len(ts) + 1, 10)]) AS u
                FROM toks) t),
            flagged AS (
              SELECT doc_id, idx, chunk,
                     row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1 AS kept
              FROM chunks)
            SELECT doc_id, count(*) AS n_chunks,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   md5(coalesce(
                     array_to_string(list(chunk ORDER BY idx) FILTER (WHERE kept), ' '),
                     '')) AS kept_md5
            FROM flagged GROUP BY doc_id""")
  )

  /** Linear quality classifier
    * ([[graft.operators.TextAnalysis.classifierScore]]): fixed-weight
    * margin over row-local text features, bucketed into tiers; the oracle
    * reproduces the exact feature + dot-product arithmetic.
    */
  val q95Classifier: QueryDef = QueryDef(
    "q95_classifier",
    (s, dir) => graft.operators.TextAnalysis.classifierScore(Tables.documents(s, dir)),
    Some("""SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
                   round(
                     (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.8
                     + (CAST(len(list_filter(ws, w -> list_contains(
                          ['the','a','of','and','to','in','is','on','for','with'], w)))
                        AS DOUBLE) / len(ws)) * 2.0
                     - (CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws)) * 0.1
                     + CAST(len(ws) AS DOUBLE) * 0.004
                     + (CAST(len(list_filter(ws, w -> length(w) >= 6)) AS DOUBLE) / len(ws)) * 1.5
                     - 1.2, 6) AS margin,
                   CASE WHEN
                     (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.8
                     + (CAST(len(list_filter(ws, w -> list_contains(
                          ['the','a','of','and','to','in','is','on','for','with'], w)))
                        AS DOUBLE) / len(ws)) * 2.0
                     - (CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws)) * 0.1
                     + CAST(len(ws) AS DOUBLE) * 0.004
                     + (CAST(len(list_filter(ws, w -> length(w) >= 6)) AS DOUBLE) / len(ws)) * 1.5
                     - 1.2 > 0.2 THEN 'high'
                   WHEN
                     (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.8
                     + (CAST(len(list_filter(ws, w -> list_contains(
                          ['the','a','of','and','to','in','is','on','for','with'], w)))
                        AS DOUBLE) / len(ws)) * 2.0
                     - (CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws)) * 0.1
                     + CAST(len(ws) AS DOUBLE) * 0.004
                     + (CAST(len(list_filter(ws, w -> length(w) >= 6)) AS DOUBLE) / len(ws)) * 1.5
                     - 1.2 > 0 THEN 'mid'
                   ELSE 'low' END AS bucket
            FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)""")
  )

  /** Deterministic global shuffle + sharding
    * ([[graft.operators.Sampling.shardAssign]]): training order as a pure
    * function of (doc_id, salt) — shard and in-shard position both
    * oracle-replayable.
    */
  val q96ShuffleShard: QueryDef = QueryDef(
    "q96_shuffle_shard",
    (s, dir) => {
      graft.operators.Sampling
        .shardAssign(Tables.documents(s, dir), "doc_id", shards = 8, salt = "shuf1")
        .select(col("doc_id"), col("shard"), col("pos"))
    },
    Some("""SELECT doc_id, CAST(h % 8 AS INT) AS shard,
                   row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
            FROM (SELECT doc_id,
                         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'shuf1'), 1, 15))
                              AS BIGINT) AS h
                  FROM documents)""")
  )

  /** Versioned-lake snapshot diff ([[graft.sources.LakeLog.diff]]): v1 and
    * v2 are constructed so the change set contains all three kinds —
    * added (new keys), removed (dropped keys), changed (price bump on
    * every 5th key). The oracle rebuilds both snapshots relationally and
    * full-outer-joins them.
    */
  val q97TableDiff: QueryDef = QueryDef(
    "q97_table_diff",
    (s, dir) => {
      val orders = Tables
        .orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      val path = java.nio.file.Files
        .createTempDirectory("graft_q97").resolve("orders_diff").toString
      graft.sources.LakeLog.overwrite(orders.filter(col("o_orderkey") % 3 =!= 0), path)
      graft.sources.LakeLog.overwrite(
        orders
          .filter(col("o_orderkey") % 2 =!= 0)
          .select(
            col("o_orderkey"),
            (col("o_totalprice") +
              when(col("o_orderkey") % 5 === 0, 1.0).otherwise(0.0)).as("o_totalprice")),
        path)
      graft.sources.LakeLog
        .diff(s, path, 1L, 2L, Seq("o_orderkey"), Seq("o_totalprice"))
        .filter(col("change_type") =!= "unchanged")
        .select(
          col("o_orderkey"),
          col("change_type"),
          round(col("o_totalprice_old"), 2).as("price_old"),
          round(col("o_totalprice_new"), 2).as("price_new"))
    },
    Some("""WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
                 v2 AS (SELECT o_orderkey,
                               o_totalprice + CASE WHEN o_orderkey % 5 = 0
                                                   THEN 1.0 ELSE 0.0 END AS o_totalprice
                        FROM orders WHERE o_orderkey % 2 <> 0)
            SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
                   CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                        WHEN v2.o_orderkey IS NULL THEN 'removed'
                        WHEN v1.o_totalprice IS DISTINCT FROM v2.o_totalprice THEN 'changed'
                        ELSE 'unchanged' END AS change_type,
                   round(v1.o_totalprice, 2) AS price_old,
                   round(v2.o_totalprice, 2) AS price_new
            FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey
            WHERE CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                       WHEN v2.o_orderkey IS NULL THEN 'removed'
                       WHEN v1.o_totalprice IS DISTINCT FROM v2.o_totalprice THEN 'changed'
                       ELSE 'unchanged' END <> 'unchanged'""")
  )

  /** RECURSIVE CTE through the SQL surface (Spark 4's WITH RECURSIVE —
    * UnionLoop execution): documents within each (lang, id-range) bucket
    * form a successor chain via `lead`; the recursion walks every chain
    * from its head, labeling each node with its root and depth. The
    * functional graph is cycle-free by construction, so UNION ALL
    * recursion terminates with exactly one row per document. The 10-id
    * bucket bounds chain length (= loop iterations — each UnionLoop round
    * is a job, so recursion DEPTH, not row count, is the scale cost; keep
    * recursive workloads shallow-and-wide, as here). The oracle
    * runs the identical recursion in DuckDB (`div` vs `//` is the only
    * dialect difference).
    */
  val q98RecursiveCte: QueryDef = QueryDef(
    "q98_recursive_cte",
    (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("g_documents")
      // Materialize the edge list ONCE: a CTE referenced inside the
      // recursive member is re-evaluated every loop round, so the window
      // would otherwise rerun per iteration.
      s.sql("""SELECT doc_id AS src,
                      lead(doc_id) OVER (PARTITION BY lang, doc_id div 10
                                         ORDER BY doc_id) AS dst
               FROM g_documents""")
        .localCheckpoint()
        .createOrReplaceTempView("g_edges")
      s.sql("""WITH RECURSIVE reach(root, node, depth) AS (
                 SELECT src, src, 0 FROM g_edges
                 WHERE src NOT IN (SELECT dst FROM g_edges WHERE dst IS NOT NULL)
                 UNION ALL
                 SELECT r.root, e2.dst, r.depth + 1
                 FROM reach r JOIN g_edges e2 ON r.node = e2.src
                 WHERE e2.dst IS NOT NULL)
               SELECT root, node, CAST(depth AS INT) AS depth FROM reach""")
    },
    Some("""WITH RECURSIVE e AS (
              SELECT doc_id AS src,
                     lead(doc_id) OVER (PARTITION BY lang, doc_id // 10
                                        ORDER BY doc_id) AS dst
              FROM documents),
            reach(root, node, depth) AS (
              SELECT src, src, 0 FROM e
              WHERE src NOT IN (SELECT dst FROM e WHERE dst IS NOT NULL)
              UNION ALL
              SELECT r.root, e2.dst, r.depth + 1
              FROM reach r JOIN e e2 ON r.node = e2.src
              WHERE e2.dst IS NOT NULL)
            SELECT root, node, CAST(depth AS INT) AS depth FROM reach""")
  )

  /** Distributed Lloyd's k-means
    * ([[graft.operators.Similarity.kmeansAssign]], k=4, one update
    * round): thanks to the binary-grid centroid quantization the DuckDB
    * oracle replays the ENTIRE iteration relationally — init from the 4
    * lowest-id vectors, ordered-fold distances, argmin assignment,
    * per-dimension mean, reassignment — and the membership checksum
    * (sum of vec_ids per cluster) must agree exactly.
    *
    * Replay precondition: no cluster empties (the operator would keep
    * its previous centroid — SQL has no such memory). Holds on this
    * corpus at every tested scale factor (the multi-SF sweep pins it:
    * an emptied cluster would change counts and fail the hash check).
    */
  val q99Kmeans: QueryDef = QueryDef(
    "q99_kmeans",
    (s, dir) => {
      graft.operators.Similarity
        .kmeansAssign(Tables.embeddings(s, dir), k = 4, iters = 1)
        .groupBy(col("cluster"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("vec_id")).as("id_sum"),
          round(avg(col("dist2")), 4).as("avg_d2"))
    },
    Some("""WITH pts AS (SELECT vec_id,
                                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings),
            c0 AS (SELECT vec_id AS cid,
                          list_transform(v, x -> floor(x * 1048576.0) / 1048576.0) AS c
                   FROM pts WHERE vec_id < 4),
            d1 AS (SELECT p.vec_id, c.cid,
                          list_sum([(p.v[i] - c.c[i]) * (p.v[i] - c.c[i])
                                    FOR i IN range(1, len(p.v) + 1)]) AS d
                   FROM pts p CROSS JOIN c0 c),
            a1 AS (SELECT vec_id, cid AS cluster
                   FROM (SELECT vec_id, cid,
                                row_number() OVER (PARTITION BY vec_id
                                                   ORDER BY d, cid) AS rn
                         FROM d1) WHERE rn = 1),
            c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM (
                     SELECT cid, pos,
                            floor(avg(val) * 1048576.0) / 1048576.0 AS m
                     FROM (SELECT a1.cluster AS cid,
                                  generate_subscripts(p.v, 1) AS pos,
                                  unnest(p.v) AS val
                           FROM a1 JOIN pts p USING (vec_id)) e
                     GROUP BY cid, pos) g GROUP BY cid),
            d2 AS (SELECT p.vec_id, c.cid,
                          list_sum([(p.v[i] - c.c[i]) * (p.v[i] - c.c[i])
                                    FOR i IN range(1, len(p.v) + 1)]) AS d
                   FROM pts p CROSS JOIN c1 c),
            a2 AS (SELECT vec_id, cid AS cluster, d
                   FROM (SELECT vec_id, cid, d,
                                row_number() OVER (PARTITION BY vec_id
                                                   ORDER BY d, cid) AS rn
                         FROM d2) WHERE rn = 1)
            SELECT cluster, count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS id_sum,
                   round(avg(d), 4) AS avg_d2
            FROM a2 GROUP BY cluster""")
  )

  /** MapState streaming aggregate
    * ([[graft.streaming.StatefulCounter.TypeCounts]]): per-user
    * per-event-type running counts through `transformWithState` map
    * state, drained over the bounded replay; the final counts must equal
    * the batch GROUP BY — the oracle.
    */
  val q100StreamMapstate: QueryDef = QueryDef(
    "q100_stream_mapstate",
    (s, dir) => graft.streaming.StatefulCounter.runTypeCounts(s, dir),
    Some("""SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY user_id, event_type""")
  )

  /** Incremental materialized aggregate
    * ([[graft.sources.MaterializedAgg]]): orders land in three appends;
    * the rollup is refreshed from each manifest delta (appended files
    * only — never a rescan) and must equal the direct aggregate over the
    * whole table — the oracle.
    */
  val q101IncrementalMv: QueryDef = QueryDef(
    "q101_incremental_mv",
    (s, dir) => {
      val orders = Tables
        .orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val path = java.nio.file.Files
        .createTempDirectory("graft_q101").resolve("orders_mv").toString
      val third = orders.agg(max(col("o_orderkey"))).head().getLong(0) / 3
      def slice(lo: Long, hi: Long) =
        orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
      graft.sources.LakeLog.overwrite(slice(-1, third), path) // keys start at 0
      graft.sources.LakeLog.append(slice(third, 2 * third), path)
      graft.sources.LakeLog.append(slice(2 * third, Long.MaxValue), path)
      val keys = Seq("o_orderstatus")
      val sums = Seq("o_totalprice", "o_orderkey")
      val mv1 = graft.sources.MaterializedAgg.refresh(s, path, None, 0, 1, keys, sums)
      val mv2 = graft.sources.MaterializedAgg.refresh(s, path, Some(mv1), 1, 2, keys, sums)
      val mv3 = graft.sources.MaterializedAgg.refresh(s, path, Some(mv2), 2, 3, keys, sums)
      mv3.select(
        col("o_orderstatus"),
        col("n"),
        col("o_orderkey_sum").as("key_sum"),
        round(col("o_totalprice_sum"), 2).as("price_sum"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
                   CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   round(sum(o_totalprice), 2) AS price_sum
            FROM orders GROUP BY o_orderstatus""")
  )

  /** SemDeDup-style semantic near-dup
    * ([[graft.operators.Similarity.semanticNearDupPairs]]): k-means
    * clusters as the candidate buckets, exact cosine only within a
    * cluster. The oracle extends q99's relational k-means replay with the
    * within-cluster pair join and the identical ordered-fold cosine.
    */
  val q102SemanticDedup: QueryDef = QueryDef(
    "q102_semantic_dedup",
    (s, dir) => graft.operators.Similarity
      .semanticNearDupPairs(Tables.embeddings(s, dir), k = 4, iters = 1, threshold = 0.3),
    Some("""WITH pts AS (SELECT vec_id,
                                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings),
            c0 AS (SELECT vec_id AS cid,
                          list_transform(v, x -> floor(x * 1048576.0) / 1048576.0) AS c
                   FROM pts WHERE vec_id < 4),
            d1 AS (SELECT p.vec_id, c.cid,
                          list_sum([(p.v[i] - c.c[i]) * (p.v[i] - c.c[i])
                                    FOR i IN range(1, len(p.v) + 1)]) AS d
                   FROM pts p CROSS JOIN c0 c),
            a1 AS (SELECT vec_id, cid AS cluster
                   FROM (SELECT vec_id, cid,
                                row_number() OVER (PARTITION BY vec_id
                                                   ORDER BY d, cid) AS rn
                         FROM d1) WHERE rn = 1),
            c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM (
                     SELECT cid, pos,
                            floor(avg(val) * 1048576.0) / 1048576.0 AS m
                     FROM (SELECT a1.cluster AS cid,
                                  generate_subscripts(p.v, 1) AS pos,
                                  unnest(p.v) AS val
                           FROM a1 JOIN pts p USING (vec_id)) e
                     GROUP BY cid, pos) g GROUP BY cid),
            d2 AS (SELECT p.vec_id, c.cid,
                          list_sum([(p.v[i] - c.c[i]) * (p.v[i] - c.c[i])
                                    FOR i IN range(1, len(p.v) + 1)]) AS d
                   FROM pts p CROSS JOIN c1 c),
            a2 AS (SELECT vec_id, cid AS cluster
                   FROM (SELECT vec_id, cid, d,
                                row_number() OVER (PARTITION BY vec_id
                                                   ORDER BY d, cid) AS rn
                         FROM d2) WHERE rn = 1),
            pairs AS (
              SELECT x.cluster AS cluster, x.vec_id AS id_a, y.vec_id AS id_b,
                     list_sum([px.v[i] * py.v[i] FOR i IN range(1, len(px.v) + 1)]) /
                     (sqrt(list_sum([px.v[i] * px.v[i] FOR i IN range(1, len(px.v) + 1)])) *
                      sqrt(list_sum([py.v[i] * py.v[i] FOR i IN range(1, len(py.v) + 1)]))) AS cos
              FROM a2 x JOIN a2 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
              JOIN pts px ON px.vec_id = x.vec_id
              JOIN pts py ON py.vec_id = y.vec_id)
            SELECT cluster, id_a, id_b, round(cos, 6) AS cos
            FROM pairs WHERE cos > 0.3""")
  )

  /** End-to-end curation composition: chunk-dedup → reassembled text →
    * classifier tiers → deterministic shards → per-(shard, tier) rollup.
    * Every stage is an already-oracled operator; this query checks the
    * COMPOSITION (the oracle replays the full chain on the rebuilt text,
    * not the original).
    */
  val q103CurationE2e: QueryDef = QueryDef(
    "q103_curation_e2e",
    (s, dir) => {
      val deduped = graft.operators.Dedup
        .chunkDedup(Tables.documents(s, dir), chunkWords = 10)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("kept_text").as("text"))
      val scored = graft.operators.TextAnalysis.classifierScore(deduped)
      graft.operators.Sampling
        .shardAssign(scored, "doc_id", shards = 4, salt = "cur1")
        .groupBy(col("shard"), col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("n_words")).as("words"),
          sum(col("doc_id")).as("id_sum"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
            chunks AS (
              SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM (
                SELECT doc_id,
                       unnest([{'idx': CAST((i - 1) // 10 AS INT),
                                'chunk': array_to_string(ts[i:i+9], ' ')}
                               FOR i IN range(1, len(ts) + 1, 10)]) AS u
                FROM toks) t),
            flagged AS (
              SELECT doc_id, idx, chunk,
                     row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) = 1 AS kept
              FROM chunks),
            rebuilt AS (
              SELECT doc_id,
                     array_to_string(list(chunk ORDER BY idx) FILTER (WHERE kept), ' ') AS text,
                     CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
              FROM flagged GROUP BY doc_id),
            feats AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                      FROM rebuilt WHERE n_kept > 0),
            scored AS (
              SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
                     (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.8
                     + (CAST(len(list_filter(ws, w -> list_contains(
                          ['the','a','of','and','to','in','is','on','for','with'], w)))
                        AS DOUBLE) / len(ws)) * 2.0
                     - (CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws)) * 0.1
                     + CAST(len(ws) AS DOUBLE) * 0.004
                     + (CAST(len(list_filter(ws, w -> length(w) >= 6)) AS DOUBLE) / len(ws)) * 1.5
                     - 1.2 AS margin
              FROM feats),
            sharded AS (
              SELECT doc_id, n_words,
                     CASE WHEN margin > 0.2 THEN 'high'
                          WHEN margin > 0 THEN 'mid' ELSE 'low' END AS bucket,
                     CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'cur1'), 1, 15))
                               AS BIGINT) % 4 AS INT) AS shard
              FROM scored)
            SELECT shard, bucket, count(*) AS n,
                   CAST(sum(n_words) AS BIGINT) AS words,
                   CAST(sum(doc_id) AS BIGINT) AS id_sum
            FROM sharded GROUP BY shard, bucket""")
  )

  /** Manual salted join ([[graft.operators.Skew.saltedJoin]]): fact rows
    * spread across (key, salt) reducers, dim replicated per salt — must
    * be row-for-row the plain inner join, which is the oracle.
    */
  val q104SaltedJoin: QueryDef = QueryDef(
    "q104_salted_join",
    (s, dir) => {
      val fact = Tables
        .lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val dim = Tables
        .orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew
        .saltedJoin(fact, dim, key = "l_orderkey", idCol = "l_linenumber", salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("key_sum"),
          round(sum(col("l_quantity")), 2).as("qty_sum"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
                   round(sum(l_quantity), 2) AS qty_sum
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority""")
  )

  /** ROLLUP with grouping metadata: `grouping_id` + per-column `grouping`
    * flags distinguish "NULL because subtotal" from "NULL in the data" —
    * both engines share the bitmask convention (last rollup column =
    * LSB).
    */
  val q105GroupingId: QueryDef = QueryDef(
    "q105_grouping_id",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("int").as("gid"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty_sum"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
                   CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
                   CAST(grouping(l_returnflag) AS INT) AS g_flag,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS qty_sum
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")
  )

  /** Entity-resolution fuzzy match: candidate pairs only within a
    * (brand, type, name-length-band) block
    * ([[graft.operators.Dedup.fuzzyBlockedPairs]]) — blocking keeps edit
    * distance off the O(n²) pair space, and the LENGTH BAND keeps the
    * block sizes bounded as data grows: (brand, type) alone is a fixed
    * ~3,750-value key set, so at 100× data its blocks grow quadratically;
    * the band splits them by a property that spreads with the data while
    * losing NO pair (edit distance >= length difference). Result is
    * identical to the unbanded θ-join — the oracle runs that form.
    */
  val q106FuzzyMatch: QueryDef = QueryDef(
    "q106_fuzzy_match",
    (s, dir) => {
      graft.operators.Dedup
        .fuzzyBlockedPairs(
          Tables.part(s, dir).select(
            col("p_brand"), col("p_type"), col("p_partkey"), col("p_name")),
          blockKeys = Seq("p_brand", "p_type"),
          idCol = "p_partkey",
          nameCol = "p_name",
          maxDist = 3)
        .groupBy(col("p_brand"), col("p_type"))
        .agg(
          count(lit(1)).as("n_pairs"),
          min(col("dist")).as("min_dist"),
          sum(col("id_a") + col("id_b")).as("key_sum"))
    },
    Some("""SELECT a.p_brand, a.p_type, count(*) AS n_pairs,
                   CAST(min(levenshtein(a.p_name, b.p_name)) AS INT) AS min_dist,
                   CAST(sum(a.p_partkey + b.p_partkey) AS BIGINT) AS key_sum
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND a.p_type = b.p_type
             AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 3
            GROUP BY a.p_brand, a.p_type""")
  )

  /** Deterministic pagination: total order (price desc, key tie-break) +
    * LIMIT/OFFSET — `Dataset.offset` composes with the sorted limit so
    * the page is stable across reruns and partitionings.
    */
  val q107LimitOffset: QueryDef = QueryDef(
    "q107_limit_offset",
    (s, dir) => {
      Tables
        .orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(100)
        .limit(50)
        .select(col("o_orderkey"), col("o_totalprice"))
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 50 OFFSET 100""")
  )

  /** Multiset set ops (EXCEPT ALL / INTERSECT ALL): duplicate
    * multiplicities must survive — the result is aggregated to
    * (value, multiplicity) rows, which is exactly what ALL semantics
    * change vs q10's DISTINCT set ops.
    */
  val q108SetopsAll: QueryDef = QueryDef(
    "q108_setops_all",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val a = li.filter(col("l_returnflag") === "R").select(col("l_quantity").cast("int").as("q"))
      val b = li.filter(col("l_returnflag") === "A").select(col("l_quantity").cast("int").as("q"))
      a.exceptAll(b).groupBy(col("q")).agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except_all"))
        .unionByName(
          a.intersectAll(b).groupBy(col("q")).agg(count(lit(1)).as("n"))
            .withColumn("op", lit("intersect_all")))
    },
    Some("""SELECT q, count(*) AS n, 'except_all' AS op FROM (
              SELECT CAST(l_quantity AS INT) AS q FROM lineitem WHERE l_returnflag = 'R'
              EXCEPT ALL
              SELECT CAST(l_quantity AS INT) FROM lineitem WHERE l_returnflag = 'A')
            GROUP BY q
            UNION ALL
            SELECT q, count(*) AS n, 'intersect_all' AS op FROM (
              SELECT CAST(l_quantity AS INT) AS q FROM lineitem WHERE l_returnflag = 'R'
              INTERSECT ALL
              SELECT CAST(l_quantity AS INT) FROM lineitem WHERE l_returnflag = 'A')
            GROUP BY q""")
  )

  /** OUTER explode: a document whose filter leaves no long words still
    * yields one (doc_id, NULL) row — `explode_outer`'s null-preservation
    * vs plain explode's row drop. The oracle emulates with a [NULL]
    * substitution.
    */
  val q109ExplodeOuter: QueryDef = QueryDef(
    "q109_explode_outer",
    (s, dir) => {
      Tables
        .documents(s, dir)
        .select(
          col("doc_id"),
          explode_outer(filter(split(col("text"), " "), w => length(w) >= 9)).as("word"))
    },
    Some("""SELECT doc_id,
                   unnest(CASE WHEN len(ws) = 0 THEN [NULL] ELSE ws END) AS word
            FROM (SELECT doc_id,
                         list_filter(string_split(text, ' '), w -> length(w) >= 9) AS ws
                  FROM documents)""")
  )

  /** STREAM-STREAM FULL OUTER join
    * ([[graft.streaming.StreamingOps.clickPurchaseAttribution]], "fullOuter")
    * — completes the streaming join matrix (inner q66, left q78):
    * unmatched rows on BOTH sides surface after watermark proof. Oracle:
    * the equivalent batch full θ-join.
    */
  val q110StreamFullOuter: QueryDef = QueryDef(
    "q110_stream_full_outer",
    (s, dir) => graft.streaming.StreamingOps.runClickPurchaseAttributionFullOuter(s, dir),
    Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                   coalesce(c.user_id, p.user_id) AS user_id,
                   CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us,
                   CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
                   p.value AS purchase_value
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""")
  )

  /** try_* ANSI-safe arithmetic: Spark 4 runs ANSI mode by default, so
    * division by zero / long overflow THROW unless the try_ variants are
    * used — the validate-then-report surface for dirty data. Nulls from
    * each failure mode are counted per group; the oracle reproduces them
    * with nullif/CASE guards.
    */
  val q111TryFuncs: QueryDef = QueryDef(
    "q111_try_funcs",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .select(
          col("l_returnflag"),
          try_divide(col("l_extendedprice"), col("l_quantity") - 10).as("div_safe"),
          try_add(lit(Long.MaxValue), col("l_orderkey")).as("add_safe"),
          try_to_timestamp(col("l_returnflag")).as("ts_safe"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("div_safe").isNull, 1L).otherwise(0L)).as("n_div_null"),
          round(sum(col("div_safe")), 2).as("div_sum"),
          sum(when(col("add_safe").isNull, 1L).otherwise(0L)).as("n_add_null"),
          sum(when(col("ts_safe").isNull, 1L).otherwise(0L)).as("n_ts_null"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
                   CAST(sum(CASE WHEN l_quantity = 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
                   round(sum(l_extendedprice / nullif(l_quantity - 10, 0)), 2) AS div_sum,
                   CAST(sum(CASE WHEN l_orderkey > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_add_null,
                   CAST(sum(CASE WHEN TRY_CAST(l_returnflag AS TIMESTAMP) IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_null
            FROM lineitem GROUP BY l_returnflag""")
  )

  /** Map-typed higher-order functions: per-order line→qty and line→price
    * maps (`map_from_entries`), `transform_values` doubling,
    * `map_zip_with` amount = qty2 × price, `map_filter` threshold, then
    * an explode back to rows. The oracle replays the per-line arithmetic
    * relationally — the map layer must be semantically invisible.
    */
  val q112MapFuncs: QueryDef = QueryDef(
    "q112_map_funcs",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        // line numbers repeat within an order in this corpus; map keys
        // must be unique, so collapse to one (qty, price) per line first
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(
          min(col("l_quantity").cast("long")).as("q"),
          min(col("l_extendedprice")).as("p"))
        .groupBy(col("l_orderkey"))
        .agg(
          map_from_entries(collect_list(struct(col("l_linenumber"), col("q"))))
            .as("qty_m"),
          map_from_entries(collect_list(struct(col("l_linenumber"), col("p"))))
            .as("price_m"))
        .select(
          col("l_orderkey"),
          explode(
            map_filter(
              map_zip_with(
                transform_values(col("qty_m"), (_, v) => v * 2),
                col("price_m"),
                (_, q2, p) => q2 * p),
              (_, v) => v > 1000.0)))
        .select(
          col("l_orderkey"),
          col("key").as("line"),
          round(col("value"), 2).as("amount"))
    },
    Some("""SELECT l_orderkey, l_linenumber AS line, round((q * 2) * p, 2) AS amount
            FROM (SELECT l_orderkey, l_linenumber,
                         min(CAST(l_quantity AS BIGINT)) AS q,
                         min(l_extendedprice) AS p
                  FROM lineitem GROUP BY l_orderkey, l_linenumber)
            WHERE (q * 2) * p > 1000.0""")
  )

  /** STREAM-STATIC broadcast enrichment + COMPLETE output mode
    * ([[graft.streaming.StreamingOps.runStreamStaticEnrich]]): the event
    * stream joins a static dim broadcast per micro-batch (no streaming
    * state), aggregated in complete mode; the final table must equal the
    * batch join+aggregate — the oracle.
    */
  val q113StreamStatic: QueryDef = QueryDef(
    "q113_stream_static",
    (s, dir) => graft.streaming.StreamingOps.runStreamStaticEnrich(s, dir),
    Some("""SELECT c_mktsegment AS segment, event_type, count(*) AS n,
                   round(sum(value), 2) AS val_sum
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment, event_type""")
  )

  /** PageRank over the nation trade graph
    * ([[graft.operators.Graph.pageRank]]): edges = distinct
    * customer-nation → supplier-nation pairs realized by order lines;
    * 3 synchronous iterations, damping 0.85, grid-quantized ranks. The
    * oracle unrolls the identical iterations as chained CTEs.
    */
  val q114Pagerank: QueryDef = QueryDef(
    "q114_pagerank",
    (s, dir) => {
      val edges = Tables
        .orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("s_suppkey") === col("l_suppkey"))
        .select(
          col("c_nationkey").cast("long").as("src"),
          col("s_nationkey").cast("long").as("dst"))
      val nodes = Tables.nation(s, dir).select(col("n_nationkey").cast("long").as("id"))
      graft.operators.Graph
        .pageRank(nodes, edges, iters = 3)
        .select(col("id"), round(col("r"), 6).as("rank"))
    },
    Some("""WITH edges AS (
              SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS src,
                              CAST(s.s_nationkey AS BIGINT) AS dst
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON s.s_suppkey = l.l_suppkey),
            outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nation),
            r0 AS (SELECT CAST(n_nationkey AS BIGINT) AS id,
                          floor(1.0 / n * 1099511627776.0) / 1099511627776.0 AS r
                   FROM nation, nn),
            r1 AS (SELECT r0.id,
                          floor(((SELECT (1.0 - 0.85) / n FROM nn)
                                 + 0.85 * coalesce(m.s, 0.0)) * 1099511627776.0)
                          / 1099511627776.0 AS r
                   FROM r0 LEFT JOIN (
                     SELECT e.dst, sum(r0.r / d.deg) AS s
                     FROM edges e JOIN r0 ON r0.id = e.src
                     JOIN outdeg d ON d.src = e.src GROUP BY e.dst) m
                   ON m.dst = r0.id),
            r2 AS (SELECT r1.id,
                          floor(((SELECT (1.0 - 0.85) / n FROM nn)
                                 + 0.85 * coalesce(m.s, 0.0)) * 1099511627776.0)
                          / 1099511627776.0 AS r
                   FROM r1 LEFT JOIN (
                     SELECT e.dst, sum(r1.r / d.deg) AS s
                     FROM edges e JOIN r1 ON r1.id = e.src
                     JOIN outdeg d ON d.src = e.src GROUP BY e.dst) m
                   ON m.dst = r1.id),
            r3 AS (SELECT r2.id,
                          floor(((SELECT (1.0 - 0.85) / n FROM nn)
                                 + 0.85 * coalesce(m.s, 0.0)) * 1099511627776.0)
                          / 1099511627776.0 AS r
                   FROM r2 LEFT JOIN (
                     SELECT e.dst, sum(r2.r / d.deg) AS s
                     FROM edges e JOIN r2 ON r2.id = e.src
                     JOIN outdeg d ON d.src = e.src GROUP BY e.dst) m
                   ON m.dst = r2.id)
            SELECT id, round(r, 6) AS rank FROM r3""")
  )

  /** Calendar-aware date functions (beyond q14's epoch arithmetic):
    * month-end, quarter truncation, day-of-week (normalized to DuckDB's
    * 0=Sunday), month addition with end-of-month clamping, and day
    * difference from a fixed epoch.
    */
  val q115DateFuncs: QueryDef = QueryDef(
    "q115_date_funcs",
    (s, dir) => {
      Tables
        .orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
        .select(
          col("o_orderkey"),
          col("d"),
          last_day(col("d")).as("month_end"),
          date_trunc("quarter", col("d")).cast("date").as("quarter_start"),
          (dayofweek(col("d")) - 1).as("dow"),
          add_months(col("d"), 2).as("plus2m"),
          datediff(col("d"), lit("2023-01-01").cast("date")).as("days_since"))
    },
    Some("""SELECT o_orderkey, o_orderdate::DATE AS d,
                   last_day(o_orderdate::DATE) AS month_end,
                   date_trunc('quarter', o_orderdate::DATE)::DATE AS quarter_start,
                   CAST(dayofweek(o_orderdate::DATE) AS INT) AS dow,
                   (o_orderdate::DATE + INTERVAL 2 MONTH)::DATE AS plus2m,
                   CAST(datediff('day', DATE '2023-01-01', o_orderdate::DATE) AS INT)
                     AS days_since
            FROM orders""")
  )

  /** Ordered string aggregation (SQL:2023 LISTAGG ... WITHIN GROUP):
    * per-region sorted nation roster — deterministic because the order
    * clause totally orders each group. DuckDB's `string_agg ORDER BY` is
    * the same aggregate.
    */
  val q116Listagg: QueryDef = QueryDef(
    "q116_listagg",
    (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("g_nation")
      s.sql("""SELECT n_regionkey,
                      listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names,
                      count(*) AS n
               FROM g_nation GROUP BY n_regionkey""")
    },
    Some("""SELECT n_regionkey,
                   string_agg(n_name, ',' ORDER BY n_name) AS names,
                   count(*) AS n
            FROM nation GROUP BY n_regionkey""")
  )

  /** Statistical aggregate family: sample stddev/variance, exact median
    * (interpolated order statistic), and Pearson correlation per group.
    * Rounding margins are sized to the magnitudes (dimensionless or
    * quantity-scaled stats at 6 dp) so one-pass co-moment differences
    * between engines stay far below the rounding grid.
    */
  val q117StatsAggs: QueryDef = QueryDef(
    "q117_stats_aggs",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .groupBy(col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(median(col("l_extendedprice")), 6).as("med_price"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"))
    },
    Some("""SELECT l_linestatus, count(*) AS n,
                   round(stddev_samp(l_quantity), 6) AS sd_qty,
                   round(var_samp(l_quantity), 6) AS var_qty,
                   round(median(l_extendedprice), 6) AS med_price,
                   round(corr(l_quantity, l_extendedprice), 6) AS corr_qp
            FROM lineitem GROUP BY l_linestatus""")
  )

  /** Linear-regression aggregates (regr_*): slope/intercept/R² of
    * extended price on quantity per return flag — the standard
    * least-squares co-moment definitions both engines share.
    */
  val q118Regression: QueryDef = QueryDef(
    "q118_regression",
    (s, dir) => {
      Tables
        .lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n_pairs"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"))
    },
    Some("""SELECT l_returnflag,
                   CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
                   round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
                   round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
                   round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
            FROM lineitem GROUP BY l_returnflag""")
  )

  /** Streaming materialized view
    * ([[graft.streaming.StreamingOps.streamMaterializedAgg]]): three
    * micro-batches each merge a partial aggregate into a versioned lake
    * snapshot (origin-idempotent overwrite per batch id); the final
    * snapshot must equal the direct aggregate over all events — the
    * oracle.
    */
  val q119StreamMv: QueryDef = QueryDef(
    "q119_stream_mv",
    (s, dir) => graft.streaming.StreamingOps.runStreamingMaterializedAgg(s, dir),
    Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS val_sum
            FROM events GROUP BY event_type""")
  )

  /** Ranking-family completion (q9 covers row_number/running sum/lag):
    * rank, dense_rank, ntile, percent_rank, cume_dist, nth_value and
    * first_value over a totally-ordered per-customer window — every
    * function deterministic because the order key is unique.
    */
  val q120WindowRanks: QueryDef = QueryDef(
    "q120_window_ranks",
    (s, dir) => {
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables
        .orders(s, dir)
        .select(
          col("o_orderkey"),
          col("o_custkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"),
          round(nth_value(col("o_totalprice"), 2).over(w), 2).as("second_price"),
          round(first_value(col("o_totalprice")).over(w), 2).as("top_price"))
    },
    Some("""SELECT o_orderkey, o_custkey,
                   CAST(rank() OVER w AS INT) AS rnk,
                   CAST(dense_rank() OVER w AS INT) AS drnk,
                   CAST(ntile(4) OVER w AS INT) AS quartile,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cdist,
                   round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price,
                   round(first_value(o_totalprice) OVER w, 2) AS top_price
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey)""")
  )

  /** Schema-aligning union (`unionByName(allowMissingColumns)`): two
    * differently-shaped projections of the same domain unite by COLUMN
    * NAME, absent columns null-filled — the lake-evolution-safe union
    * (positional `UNION ALL` would silently mis-bind). DuckDB's
    * `UNION ALL BY NAME` is the same operation.
    */
  val q121UnionByName: QueryDef = QueryDef(
    "q121_union_by_name",
    (s, dir) => {
      val a = Tables
        .orders(s, dir)
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val b = Tables
        .orders(s, dir)
        .filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy(col("prio"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("price").isNull, 1L).otherwise(0L)).as("n_no_price"),
          round(sum(col("price")), 2).as("price_sum"))
    },
    Some("""SELECT prio, count(*) AS n,
                   CAST(sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_no_price,
                   round(sum(price), 2) AS price_sum
            FROM (
              SELECT o_orderkey AS k, o_totalprice AS price FROM orders
              WHERE o_orderkey % 2 = 0
              UNION ALL BY NAME
              SELECT o_orderkey AS k, o_orderpriority AS prio FROM orders
              WHERE o_orderkey % 2 = 1)
            GROUP BY prio""")
  )

  /** Argmin/argmax aggregates (`max_by`/`min_by`, DuckDB
    * `arg_max`/`arg_min`): the value column is selected by an ordering
    * column — deterministic here because the ordering key (order id) is
    * unique within every group.
    */
  val q122MinbyMaxby: QueryDef = QueryDef(
    "q122_minby_maxby",
    (s, dir) => {
      Tables
        .orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          round(max_by(col("o_totalprice"), col("o_orderkey")), 2).as("latest_price"),
          round(min_by(col("o_totalprice"), col("o_orderkey")), 2).as("first_price"),
          max(col("o_orderkey")).as("max_key"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
                   round(arg_max(o_totalprice, o_orderkey), 2) AS latest_price,
                   round(arg_min(o_totalprice, o_orderkey), 2) AS first_price,
                   CAST(max(o_orderkey) AS BIGINT) AS max_key
            FROM orders GROUP BY o_orderpriority""")
  )

  val all: Seq[QueryDef] = Seq(
    q87RangeFrame,
    q88NullsafeJoin,
    q89ScalarSubquery,
    q90HofArrays,
    q91GroupPercentiles,
    q92JsonRoundtrip,
    q93OrcRoundtrip,
    q94ChunkDedup,
    q95Classifier,
    q96ShuffleShard,
    q97TableDiff,
    q98RecursiveCte,
    q99Kmeans,
    q100StreamMapstate,
    q101IncrementalMv,
    q102SemanticDedup,
    q103CurationE2e,
    q104SaltedJoin,
    q105GroupingId,
    q106FuzzyMatch,
    q107LimitOffset,
    q108SetopsAll,
    q109ExplodeOuter,
    q110StreamFullOuter,
    q111TryFuncs,
    q112MapFuncs,
    q113StreamStatic,
    q114Pagerank,
    q115DateFuncs,
    q116Listagg,
    q117StatsAggs,
    q118Regression,
    q119StreamMv,
    q120WindowRanks,
    q121UnionByName,
    q122MinbyMaxby
  )
}
