package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{GroupTopK, Pii, Winnow}
import graft.sources.Tables
import graft.streaming.StreamingOps

/** Round-4 additions: VARIANT semi-structured access, bounded-state top-k
  * per group, deterministic per-stratum sampling, winnowing passage
  * overlap, PII redaction, and the left-outer stream-stream join.
  */
object Round4 {

  /** Semi-structured access through the VARIANT type (Spark 4's
    * parse-once binary JSON — the lake-scale answer to per-access
    * `get_json_object` string re-parsing): `parse_json` the props column
    * once, typed `variant_get` extraction, then a relational aggregate on
    * the extracted value.
    */
  val q73Variant: QueryDef = QueryDef(
    "q73_variant",
    (s, dir) => {
      Tables
        .events(s, dir)
        .select(
          col("event_type"),
          col("value"),
          variant_get(parse_json(col("props")), "$.k", "int").as("k"))
        .groupBy((col("k") % 10).cast("int").as("k_bucket"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("event_type")).as("n_types"),
          round(sum(col("value")), 2).as("sum_val"))
    },
    Some("""SELECT CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT) AS k_bucket,
                   count(*) AS n,
                   count(DISTINCT event_type) AS n_types,
                   round(sum(value), 2) AS sum_val
            FROM events GROUP BY 1""")
  )

  /** Top-3 orders by total price per priority class via the k-bounded
    * aggregator ([[GroupTopK]]) — the shuffle carries groups × k structs,
    * not the fact table; the oracle is the window-function formulation it
    * replaces.
    */
  val q74TopkGroup: QueryDef = QueryDef(
    "q74_topk_group",
    (s, dir) => {
      GroupTopK
        .topKPerGroup(
          Tables.orders(s, dir),
          Seq("o_orderpriority"),
          col("o_totalprice"),
          col("o_orderkey"),
          k = 3)
        .select(
          col("o_orderpriority"),
          col("rank"),
          col("id").as("o_orderkey"),
          col("v").as("o_totalprice"))
    },
    Some("""SELECT o_orderpriority, CAST(rank AS INT) AS rank, o_orderkey, o_totalprice
            FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rank
              FROM orders) t
            WHERE rank <= 3""")
  )

  /** Deterministic fixed-SIZE per-stratum sample (reservoir semantics
    * without randomness): rank documents per language by an
    * engine-independent md5 score and keep the top 20 — stable under
    * reruns, repartitioning and corpus growth, like [[graft.operators.Sampling]]'s
    * rate-based splits but with an exact per-stratum count. Reuses the
    * k-bounded aggregator, so no stratum is ever fully sorted.
    */
  val q75GroupSample: QueryDef = QueryDef(
    "q75_group_sample",
    (s, dir) => {
      val scored = Tables
        .documents(s, dir)
        .withColumn(
          "__h",
          conv(substring(md5(concat(col("doc_id").cast("string"), lit("s1"))), 1, 8), 16, 10)
            .cast("long"))
      GroupTopK
        .topKPerGroup(scored, Seq("lang"), col("__h"), col("doc_id"), k = 20)
        .select(
          col("lang"),
          col("rank"),
          col("id").as("doc_id"),
          col("v").cast("long").as("h"))
    },
    Some("""SELECT lang, CAST(rank AS INT) AS rank, doc_id, h FROM (
              SELECT lang, doc_id, h,
                     row_number() OVER (PARTITION BY lang ORDER BY h DESC, doc_id) AS rank
              FROM (
                SELECT lang, doc_id,
                       CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 's1'), 1, 8))
                            AS BIGINT) AS h
                FROM documents) s) r
            WHERE rank <= 20""")
  )

  /** Winnowing passage-overlap pairs (see [[Winnow]]): n=4 word shingles,
    * w=4 selection windows, pairs sharing >= 4 rare fingerprints. The
    * oracle rebuilds the identical fingerprint sets with DuckDB list
    * comprehensions (shared md5 hash).
    */
  val q76WinnowOverlap: QueryDef = QueryDef(
    "q76_winnow_overlap",
    (s, dir) => Winnow.overlapPairs(Tables.documents(s, dir)),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
            hs AS (SELECT doc_id,
                     [CAST(('0x' || substring(md5(array_to_string(ts[i:i+3], ' ')), 1, 8)) AS BIGINT)
                      FOR i IN range(1, len(ts) - 2)] AS hl
                   FROM toks WHERE len(ts) >= 7),
            fps AS (SELECT doc_id,
                      list_distinct([list_min(hl[i:i+3]) FOR i IN range(1, len(hl) - 2)]) AS fp
                    FROM hs),
            posting AS (SELECT doc_id, unnest(fp) AS fingerprint FROM fps),
            rare AS (SELECT fingerprint FROM posting
                     GROUP BY fingerprint HAVING count(*) <= 64)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
            FROM posting a JOIN posting b
              ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
            WHERE a.fingerprint IN (SELECT fingerprint FROM rare)
            GROUP BY 1, 2 HAVING count(*) >= 4""")
  )

  /** PII scrub over a corpus with deterministically injected PII (the
    * synthetic documents carry none, so the query plants one email + one
    * IPv4 per doc and an SSN on every third doc, then redacts and counts
    * — both engines run the identical construction, so the oracle checks
    * the full detect/replace arithmetic).
    */
  val q77PiiRedact: QueryDef = QueryDef(
    "q77_pii_redact",
    (s, dir) => {
      val injected = Tables
        .documents(s, dir)
        .select(
          col("doc_id"),
          col("lang"),
          concat(
            col("text"),
            lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
            lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"),
            when(col("doc_id") % 3 === 0, lit(" ssn 123-45-6789")).otherwise(lit(""))
          ).as("text"))
      Pii
        .redact(injected)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_email")).cast("long").as("emails"),
          sum(col("n_ip")).cast("long").as("ips"),
          sum(col("n_ssn")).cast("long").as("ssns"),
          sum(length(col("redacted"))).cast("long").as("redacted_chars"))
    },
    Some(s"""SELECT lang, count(*) AS n_docs,
                    CAST(sum(len(regexp_extract_all(t, '${Pii.EmailRe}'))) AS BIGINT) AS emails,
                    CAST(sum(len(regexp_extract_all(t, '${Pii.Ipv4Re}'))) AS BIGINT) AS ips,
                    CAST(sum(len(regexp_extract_all(t, '${Pii.SsnRe}'))) AS BIGINT) AS ssns,
                    CAST(sum(length(
                      regexp_replace(regexp_replace(regexp_replace(
                        t, '${Pii.EmailRe}', '<EMAIL>', 'g'),
                        '${Pii.Ipv4Re}', '<IP>', 'g'),
                        '${Pii.SsnRe}', '<SSN>', 'g'))) AS BIGINT) AS redacted_chars
             FROM (SELECT lang,
                          text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                               || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                               || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS t
                   FROM documents) d
             GROUP BY lang""")
  )

  /** STREAM-STREAM LEFT OUTER join (watermark-proved unmatched emission —
    * see [[graft.streaming.StreamingOps.clickPurchaseAttributionLeftOuter]]);
    * the oracle is the equivalent batch left θ-join.
    */
  val q78StreamLeftOuter: QueryDef = QueryDef(
    "q78_stream_left_outer",
    (s, dir) => StreamingOps.runClickPurchaseAttributionLeftOuter(s, dir),
    Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
                   CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us,
                   CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
                   p.value AS purchase_value
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""")
  )

  /** Word-trigram inverted-index statistics through the custom Generator
    * UDTF ([[graft.functions.ShingleExplode]] — `shingle_posexplode` in a
    * SELECT list, like built-in posexplode): per shingle, occurrences,
    * document frequency and minimum position. The oracle rebuilds the
    * positional shingling with a correlated range scan.
    */
  val q79ShingleExplode: QueryDef = QueryDef(
    "q79_shingle_explode",
    (s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables
        .documents(s, dir)
        .selectExpr("doc_id", "shingle_posexplode(text, 3) AS (pos, shingle)")
        .groupBy(col("shingle"))
        .agg(
          count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("pos")).as("min_pos"))
    },
    Some("""SELECT s.shingle AS shingle, count(*) AS n_occ,
                   count(DISTINCT doc_id) AS n_docs,
                   CAST(min(s.pos) AS INT) AS min_pos
            FROM (
              SELECT doc_id,
                     unnest([{'pos': i - 1,
                              'shingle': array_to_string(ts[i:i+2], ' ')}
                             FOR i IN range(1, len(ts) - 1)]) AS s
              FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t)
            GROUP BY 1""")
  )

  /** PQ ANN — fourth similarity-search path (exact brute, LSH, IVF, PQ):
    * m-code compressed index scan + ADC lookups + exact rerank (see
    * [[graft.operators.Similarity.pqTopK]]). Rows-only like q31/q46 (the
    * trained codebooks are engine-specific); the ADC/rerank arithmetic is
    * spec-checked against brute force.
    */
  /** PQ ANN, ORACLE-CHECKED end to end INCLUDING CODEBOOK TRAINING: the
    * per-subspace Lloyd training is deterministic (strided seeds, 2^-20
    * grid-quantized means — [[graft.operators.Similarity]] trainPqCodebooks),
    * so DuckDB rebuilds all m codebooks, encodes the corpus, builds each
    * query's LUT, and replays the ADC scan AS ORDERED FOLDS over the
    * subspace axis (`[lut[...] FOR s IN range(1, 9)]` — a GROUP-BY sum
    * would reintroduce reduction-order ulps the JVM loop doesn't have),
    * then the exact-cosine rerank of the top-32 ADC candidates with the
    * identical tie-break. Replay preconditions (pinned by the multi-SF
    * sweep): vec_ids dense 0..n-1 (strided seed lookup by id ≡ by
    * position) and n ≤ trainLimit (the JVM sample is the whole table).
    */
  val q80AnnPq: QueryDef = QueryDef(
    "q80_ann_pq",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    },
    Some(s"""WITH ${AnnReplaySql.preambleSql},
            ${AnnReplaySql.pqModelSql(3)},
            adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                           ${AnnReplaySql.adcFold("c.codes")} AS a
                    FROM codes c CROSS JOIN luts l CROSS JOIN nlist n
                    WHERE c.vec_id != l.query_id),
            cand AS (SELECT query_id, neighbor_id FROM (
                       SELECT query_id, neighbor_id, row_number() OVER (
                         PARTITION BY query_id ORDER BY a DESC, neighbor_id ASC) AS rn
                       FROM adc) WHERE rn <= 32),
            ${AnnReplaySql.rerankSql(5)}""")
  )

  /** TIME TRAVEL on the snapshot-versioned lake table
    * ([[graft.sources.LakeLog]]): v1 = odd orders, v2 = append even
    * orders, v3 = overwrite with only 'F' orders; the query unions a
    * per-version aggregate from all three snapshots — every version stays
    * readable after later appends AND after the overwrite. The oracle
    * reconstructs each snapshot relationally.
    */
  val q81TimeTravel: QueryDef = QueryDef(
    "q81_time_travel",
    (s, dir) => {
      val orders = Tables
        .orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val path = java.nio.file.Files
        .createTempDirectory("graft_q81").resolve("orders_versioned").toString
      graft.sources.LakeLog.overwrite(orders.filter(col("o_orderkey") % 2 === 1), path)
      graft.sources.LakeLog.append(orders.filter(col("o_orderkey") % 2 === 0), path)
      graft.sources.LakeLog.overwrite(orders.filter(col("o_orderstatus") === "F"), path)
      def snapshot(v: Long) =
        graft.sources.LakeLog
          .read(s, path, v)
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            round(sum(col("o_totalprice")), 2).as("price_sum"))
          .select(lit(v).as("version"), col("n"), col("key_sum"), col("price_sum"))
      snapshot(1).unionByName(snapshot(2)).unionByName(snapshot(3))
    },
    Some("""SELECT CAST(v AS BIGINT) AS version, count(*) AS n,
                   CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   round(sum(o_totalprice), 2) AS price_sum
            FROM (
              SELECT 1 AS v, * FROM orders WHERE o_orderkey % 2 = 1
              UNION ALL
              SELECT 2 AS v, * FROM orders
              UNION ALL
              SELECT 3 AS v, * FROM orders WHERE o_orderstatus = 'F')
            GROUP BY 1""")
  )

  /** Manifest-pruned lake read ([[graft.sources.LakeLog.readPruned]]):
    * orders land in three snapshot commits with per-file key stats; the
    * query prunes to the key range's files from the log alone, then
    * filters and aggregates. The oracle is the plain relational filter —
    * file skipping must be invisible in the result.
    */
  val q82ManifestPrune: QueryDef = QueryDef(
    "q82_manifest_prune",
    (s, dir) => {
      val orders = Tables
        .orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val path = java.nio.file.Files
        .createTempDirectory("graft_q82").resolve("orders_stats").toString
      val third = orders.agg(max(col("o_orderkey"))).head().getLong(0) / 3
      def slice(lo: Long, hi: Long) =
        orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi).coalesce(1)
      graft.sources.LakeLog.overwrite(
        slice(0, third), path, statsCols = Seq("o_orderkey"))
      graft.sources.LakeLog.append(
        slice(third, 2 * third), path, statsCols = Seq("o_orderkey"))
      graft.sources.LakeLog.append(
        slice(2 * third, Long.MaxValue), path, statsCols = Seq("o_orderkey"))
      graft.sources.LakeLog
        .readPruned(s, path, "o_orderkey", lo = third + 1, hi = 2 * third)
        .filter(col("o_orderkey") > third && col("o_orderkey") <= 2 * third)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          round(sum(col("o_totalprice")), 2).as("price_sum"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
                   CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   round(sum(o_totalprice), 2) AS price_sum
            FROM orders
            WHERE o_orderkey > (SELECT max(o_orderkey) // 3 FROM orders)
              AND o_orderkey <= 2 * (SELECT max(o_orderkey) // 3 FROM orders)
            GROUP BY o_orderstatus""")
  )

  /** As-of with a staleness bound ([[graft.operators.AsOfJoin.asOfTolerance]]):
    * each error event annotated with the user's most recent click, but
    * only if within the last hour — matches older than the tolerance are
    * nulled (`merge_asof(tolerance=...)` semantics).
    */
  val q83AsofTolerance: QueryDef = QueryDef(
    "q83_asof_tolerance",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val errors = e
        .filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e
        .filter(col("event_type") === "click")
        .select(
          col("user_id").as("c_user"),
          col("ts").as("c_ts"),
          col("event_id").as("c_id"),
          col("value").as("c_value"))
      graft.operators.AsOfJoin
        .asOfTolerance(
          errors, clicks,
          leftKey = "user_id", rightKey = "c_user",
          leftTime = "ts", rightTime = "c_ts",
          rightValueCols = Seq("c_id" -> "last_click_id", "c_value" -> "last_click_value"),
          tolerance = "1 hour",
          rightTieBreak = Seq("c_id"))
        .select(
          col("event_id"),
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("last_click_id"),
          col("last_click_value"))
    },
    Some("""SELECT event_id, user_id, ts_us,
                   CASE WHEN fresh THEN last_click_id END AS last_click_id,
                   CASE WHEN fresh THEN last_click_value END AS last_click_value
            FROM (
              SELECT e.event_id, e.user_id,
                     CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
                     c.event_id AS last_click_id, c.value AS last_click_value,
                     (c.ts IS NOT NULL AND c.ts >= e.ts - INTERVAL 1 HOUR) AS fresh,
                     row_number() OVER (PARTITION BY e.event_id
                       ORDER BY c.ts DESC NULLS LAST,
                                c.event_id DESC NULLS LAST) AS rn
              FROM (SELECT * FROM events WHERE event_type = 'error') e
              LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON c.user_id = e.user_id AND c.ts <= e.ts
            ) WHERE rn = 1""")
  )

  /** FORWARD as-of ([[graft.operators.AsOfJoin.asOfForward]]): each error
    * event annotated with the user's NEXT purchase at or after the
    * error — the other merge_asof direction, same one-shuffle plan.
    */
  val q84AsofForward: QueryDef = QueryDef(
    "q84_asof_forward",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val errors = e
        .filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id").as("p_user"),
          col("ts").as("p_ts"),
          col("event_id").as("p_id"),
          col("value").as("p_value"))
      graft.operators.AsOfJoin
        .asOfForward(
          errors, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTime = "ts", rightTime = "p_ts",
          rightValueCols = Seq("p_id" -> "next_purchase_id", "p_value" -> "next_purchase_value"),
          rightTieBreak = Seq("p_id"))
        .select(
          col("event_id"),
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("next_purchase_id"),
          col("next_purchase_value"))
    },
    Some("""SELECT event_id, user_id, ts_us, next_purchase_id, next_purchase_value
            FROM (
              SELECT e.event_id, e.user_id,
                     CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
                     p.event_id AS next_purchase_id, p.value AS next_purchase_value,
                     row_number() OVER (PARTITION BY e.event_id
                       ORDER BY p.ts ASC NULLS LAST,
                                p.event_id DESC NULLS LAST) AS rn
              FROM (SELECT * FROM events WHERE event_type = 'error') e
              LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
                ON p.user_id = e.user_id AND p.ts >= e.ts
            ) WHERE rn = 1""")
  )

  /** Z-order clustered layout round-trip
    * ([[graft.sources.LakeWriter.writeZOrdered]]): lineitem rewritten
    * clustered on (l_partkey, l_suppkey), then a two-dimensional range
    * predicate + aggregate over the clustered copy. The oracle is the
    * plain filter-aggregate — the curve layout must be invisible in
    * results (its file-skipping effect is pinned by ZOrderSpec).
    */
  val q85ZorderQuery: QueryDef = QueryDef(
    "q85_zorder_query",
    (s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q85").resolve("lineitem_z").toString
      val li = Tables
        .lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      graft.sources.LakeWriter.writeZOrdered(li, path, Seq("l_partkey", "l_suppkey"), bits = 8)
      s.read
        .parquet(path)
        .filter(col("l_partkey") <= 100 && col("l_suppkey") <= 50)
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("key_sum"),
          round(sum(col("l_quantity").cast("decimal(18,4)")), 2).cast("double").as("qty_sum"))
    },
    Some("""SELECT count(*) AS n,
                   CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty_sum
            FROM lineitem WHERE l_partkey <= 100 AND l_suppkey <= 50""")
  )

  /** In-job observed metrics ([[graft.operators.Observe.withMetrics]] —
    * `Dataset.observe`, accumulator-backed, no second scan): the metric
    * row gathered while a count job runs becomes the query result; the
    * oracle recomputes the same aggregates relationally.
    */
  val q86Observe: QueryDef = QueryDef(
    "q86_observe",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_quantity") > 10)
      val (_, m) = graft.operators.Observe.withMetrics(
        li,
        s"q86_${System.nanoTime()}",
        Seq(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,4)")).as("qty_sum"),
          max(col("l_extendedprice")).as("max_price"))
      )(_.count())
      import s.implicits._
      Seq((
        m("n_rows").asInstanceOf[Long],
        m("qty_sum").asInstanceOf[java.math.BigDecimal]
          .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue(),
        m("max_price").asInstanceOf[Double]
      )).toDF("n_rows", "qty_sum", "max_price")
    },
    Some("""SELECT count(*) AS n_rows,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty_sum,
                   max(l_extendedprice) AS max_price
            FROM lineitem WHERE l_quantity > 10""")
  )

  val all: Seq[QueryDef] = Seq(
    q73Variant,
    q74TopkGroup,
    q75GroupSample,
    q76WinnowOverlap,
    q77PiiRedact,
    q78StreamLeftOuter,
    q79ShingleExplode,
    q80AnnPq,
    q81TimeTravel,
    q82ManifestPrune,
    q83AsofTolerance,
    q84AsofForward,
    q85ZorderQuery,
    q86Observe
  )
}
