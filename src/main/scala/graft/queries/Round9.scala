package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{EncodingAdvisor, Eval, Graph, Isotonic, Matching, Sessionize, Timeseries}
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-9 additions (q308+): weighted shortest paths, model
  * calibration and agreement metrics, observational matching, decay
  * ranking, series symbolization, and the column-encoding layout
  * advisor — each on the established determinism contracts (exact
  * integer arithmetic where possible, 2⁻³⁰-grid snapped terms where
  * not, every oracle a verbatim relational replay).
  */
object Round9 {

  /** Bounded Bellman–Ford SSSP ([[graft.operators.Graph.ssspBellmanFord]])
    * over the nation trade graph: edge (cust-nation → supp-nation)
    * weighted by the MINIMUM observed order→ship delay in days; 3
    * relaxation rounds from nation 0 — all integer arithmetic, the
    * oracle unrolls the identical rounds as chained CTEs.
    */
  val q308Sssp: QueryDef = QueryDef(
    "q308_sssp",
    (s, dir) => {
      val edges = Tables
        .orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("s_suppkey") === col("l_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(
          col("c_nationkey").cast("long").as("src"),
          col("s_nationkey").cast("long").as("dst"))
        .agg(min(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))))
          .cast("long").as("w"))
      val nodes = Tables.nation(s, dir).select(col("n_nationkey").cast("long").as("id"))
      Graph.ssspBellmanFord(nodes, edges, source = 0L, rounds = 3)
    },
    Some("""WITH edges AS (
              SELECT CAST(c.c_nationkey AS BIGINT) src, CAST(s.s_nationkey AS BIGINT) dst,
                     CAST(min(date_diff('day', CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE))) AS BIGINT) w
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON s.s_suppkey = l.l_suppkey
              WHERE c.c_nationkey <> s.s_nationkey
              GROUP BY 1, 2),
            d0 AS (SELECT CAST(n_nationkey AS BIGINT) id,
                          CASE WHEN n_nationkey = 0 THEN CAST(0 AS BIGINT) END d
                   FROM nation),
            d1 AS (SELECT id, min(d) d FROM (
                     SELECT id, d FROM d0
                     UNION ALL
                     SELECT e.dst, d0.d + e.w FROM edges e JOIN d0 ON d0.id = e.src
                     WHERE d0.d IS NOT NULL) u GROUP BY 1),
            d2 AS (SELECT id, min(d) d FROM (
                     SELECT id, d FROM d1
                     UNION ALL
                     SELECT e.dst, d1.d + e.w FROM edges e JOIN d1 ON d1.id = e.src
                     WHERE d1.d IS NOT NULL) u GROUP BY 1),
            d3 AS (SELECT id, min(d) d FROM (
                     SELECT id, d FROM d2
                     UNION ALL
                     SELECT e.dst, d2.d + e.w FROM edges e JOIN d2 ON d2.id = e.src
                     WHERE d2.d IS NOT NULL) u GROUP BY 1)
            SELECT id, d AS dist FROM d3""")
  )

  /** Isotonic calibration ([[graft.operators.Isotonic.isotonicRates]])
    * of P(purchase | value-derived score bin) via the minimax closed
    * form of the PAVA fit; the oracle replays the prefix sums, the
    * triangular interval averages, and the band min/max verbatim.
    */
  val q309Isotonic: QueryDef = QueryDef(
    "q309_isotonic",
    (s, dir) =>
      Isotonic.isotonicRates(
        Tables.events(s, dir),
        expr("CAST(round(value * 100) AS BIGINT) % 20"),
        (col("event_type") === "purchase").cast("long")),
    Some("""WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) % 20 AS bin,
                              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y
                       FROM events),
            bins AS (SELECT bin, CAST(count(*) AS BIGINT) w, CAST(sum(y) AS BIGINT) s
                     FROM b GROUP BY 1),
            pre AS (SELECT bin, w, s,
                           CAST(sum(w) OVER (ORDER BY bin) AS BIGINT) cw,
                           CAST(sum(s) OVER (ORDER BY bin) AS BIGINT) cs
                    FROM bins),
            iv AS (SELECT j.bin jj, k.bin kk,
                          floor(CAST(k.cs - j.cs + j.s AS DOUBLE) /
                                (k.cw - j.cw + j.w) * 1073741824.0 + 0.5) /
                          1073741824.0 AS a
                   FROM pre j JOIN pre k ON j.bin <= k.bin),
            mn AS (SELECT i.bin ii, iv.jj, min(iv.a) m
                   FROM iv JOIN pre i ON iv.jj <= i.bin AND i.bin <= iv.kk
                   GROUP BY 1, 2),
            fit AS (SELECT ii AS bin, max(m) iso FROM mn GROUP BY 1)
            SELECT bins.bin, bins.w AS n, bins.s AS n_pos,
                   round(CAST(bins.s AS DOUBLE) / bins.w, 6) AS raw_rate,
                   round(fit.iso, 6) AS iso_rate
            FROM bins JOIN fit USING (bin)""")
  )

  /** Exact average precision ([[graft.operators.Eval.averagePrecision]]):
    * PR-AUC of "value predicts purchase" per user cohort, ranked
    * score-desc with event_id tie-break, snapped precision terms.
    */
  val q310AvgPrecision: QueryDef = QueryDef(
    "q310_avg_precision",
    (s, dir) =>
      Eval.averagePrecision(
        Tables.events(s, dir)
          .select(
            (col("user_id") % 10).as("cohort"),
            col("value"), col("event_id"),
            (col("event_type") === "purchase").cast("long").as("y")),
        groupCol = "cohort", scoreCol = "value", idCol = "event_id", labelCol = "y"),
    Some("""WITH r AS (SELECT user_id % 10 AS cohort, value, event_id,
                              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y
                       FROM events),
            w AS (SELECT cohort, y,
                         CAST(count(*) OVER (PARTITION BY cohort
                           ORDER BY value DESC, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) r,
                         CAST(sum(y) OVER (PARTITION BY cohort
                           ORDER BY value DESC, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) cp
                  FROM r),
            t AS (SELECT cohort, y,
                         CASE WHEN y = 1
                              THEN floor(CAST(cp AS DOUBLE) / r * 1073741824.0 + 0.5) /
                                   1073741824.0
                              ELSE 0.0 END term
                  FROM w)
            SELECT cohort, CAST(count(*) AS BIGINT) n, CAST(sum(y) AS BIGINT) n_pos,
                   round(sum(term) / sum(y), 6) AS ap
            FROM t GROUP BY 1 HAVING sum(y) > 0""")
  )

  /** Cohen's kappa ([[graft.operators.Eval.cohensKappa]]) between two
    * deterministic document-quality raters — char-length vs word-count
    * thresholds — the agreement audit for labeling pipelines.
    */
  val q311Kappa: QueryDef = QueryDef(
    "q311_kappa",
    (s, dir) =>
      Eval.cohensKappa(
        Tables.documents(s, dir),
        raterA = col("n_chars") >= 400L,
        raterB = size(split(col("text"), " ")) >= 60),
    Some("""WITH r AS (SELECT n_chars >= 400 AS a,
                              len(string_split(text, ' ')) >= 60 AS b
                       FROM documents),
            c AS (SELECT CAST(count(*) AS BIGINT) n,
                         CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) n11,
                         CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) n10,
                         CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) n01,
                         CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) n00
                  FROM r)
            SELECT n, n11, n10, n01, n00,
                   round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po,
                   CASE WHEN n * n - ((n11 + n10) * (n11 + n01) +
                                      (n01 + n00) * (n10 + n00)) <> 0
                        THEN round(CAST(n * (n11 + n00) -
                                        ((n11 + n10) * (n11 + n01) +
                                         (n01 + n00) * (n10 + n00)) AS DOUBLE) /
                                   CAST(n * n - ((n11 + n10) * (n11 + n01) +
                                                 (n01 + n00) * (n10 + n00)) AS DOUBLE), 6)
                        END AS kappa
            FROM c""")
  )

  /** Exact-block + nearest-neighbor caliper matching
    * ([[graft.operators.Matching.nearestCaliperAtt]]): urgent orders
    * matched to the price-nearest non-urgent order in the same order
    * month (caliper $1 000), ATT on the order's line count. The oracle
    * replays the two IGNORE-NULLS frames and the tie rules verbatim.
    */
  val q312Matching: QueryDef = QueryDef(
    "q312_matching",
    (s, dir) => {
      val lc = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("y"))
      val rows = Tables.orders(s, dir)
        .join(lc, col("o_orderkey") === col("l_orderkey"))
        .select(
          date_format(col("o_orderdate"), "yyyy-MM").as("block"),
          col("o_orderkey").as("id"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("t"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"),
          col("y"))
      Matching.nearestCaliperAtt(rows, caliper = 100000L)
    },
    Some("""WITH lc AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) y
                        FROM lineitem GROUP BY 1),
            r AS (SELECT strftime(o_orderdate, '%Y-%m') AS block, o_orderkey id,
                         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END t,
                         CAST(round(o_totalprice * 100) AS BIGINT) x, y
                  FROM orders JOIN lc ON l_orderkey = o_orderkey),
            c AS (SELECT *,
                    last_value(CASE WHEN t = 0 THEN x END IGNORE NULLS) OVER
                      (PARTITION BY block ORDER BY x, t, id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) xp,
                    last_value(CASE WHEN t = 0 THEN y END IGNORE NULLS) OVER
                      (PARTITION BY block ORDER BY x, t, id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) yp,
                    first_value(CASE WHEN t = 0 THEN x END IGNORE NULLS) OVER
                      (PARTITION BY block ORDER BY x, t, id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) xn,
                    first_value(CASE WHEN t = 0 THEN y END IGNORE NULLS) OVER
                      (PARTITION BY block ORDER BY x, t, id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) yn
                  FROM r),
            m AS (SELECT *, xp IS NOT NULL AND (xn IS NULL OR (x - xp) <= (xn - x)) up
                  FROM c WHERE t = 1),
            f AS (SELECT x, y,
                         CASE WHEN up THEN xp ELSE xn END xc,
                         CASE WHEN up THEN yp ELSE yn END yc,
                         abs(x - CASE WHEN up THEN xp ELSE xn END) dx
                  FROM m)
            SELECT CAST(count(*) AS BIGINT) n_treated,
                   CAST(sum(CASE WHEN dx <= 100000 THEN 1 ELSE 0 END) AS BIGINT) n_matched,
                   round(CAST(sum(CASE WHEN dx <= 100000 THEN 1 ELSE 0 END) AS DOUBLE) /
                         count(*), 6) AS match_rate,
                   round(CAST(sum(CASE WHEN dx <= 100000 THEN dx END) AS DOUBLE) /
                         sum(CASE WHEN dx <= 100000 THEN 1 ELSE 0 END), 6) AS avg_abs_dx,
                   round(CAST(sum(CASE WHEN dx <= 100000 THEN y - yc END) AS DOUBLE) /
                         sum(CASE WHEN dx <= 100000 THEN 1 ELSE 0 END), 6) AS att
            FROM f""")
  )

  /** Exponentially time-decayed counts
    * ([[graft.operators.Timeseries.decayedCounts]]): trending
    * event types under a one-day half-life — the decay sum is an exact
    * integer (dyadic numerators), so the oracle matches to the bit.
    */
  val q313DecayedCounts: QueryDef = QueryDef(
    "q313_decayed_counts",
    (s, dir) => Timeseries.decayedCounts(Tables.events(s, dir), "event_type"),
    Some("""WITH mx AS (SELECT max(CAST(ts AS DATE)) dm FROM events),
            a AS (SELECT event_type AS key,
                         date_diff('day', CAST(ts AS DATE), dm) age
                  FROM events, mx)
            SELECT key, CAST(count(*) AS BIGINT) n,
                   CAST(sum(CASE WHEN age <= 40
                                 THEN CAST(1 AS BIGINT) << (40 - age)
                                 ELSE 0 END) AS DOUBLE) / 1099511627776.0
                     AS decayed_count
            FROM a GROUP BY 1""")
  )

  /** SAX symbolization ([[graft.operators.Timeseries.saxWords]]) of
    * each event type's daily-count series: z-normalized 5-day PAA
    * frames mapped to the alphabet-4 Gaussian breakpoints; the word is
    * the frame symbols in time order.
    */
  val q314Sax: QueryDef = QueryDef(
    "q314_sax",
    (s, dir) => Timeseries.saxWords(Tables.events(s, dir), "event_type", frameDays = 5),
    Some("""WITH span AS (SELECT min(CAST(ts AS DATE)) d0, max(CAST(ts AS DATE)) d1
                          FROM events),
            spine AS (SELECT unnest(range(0, date_diff('day', d0, d1) + 1)) AS day
                      FROM span),
            keys AS (SELECT DISTINCT event_type AS key FROM events),
            daily AS (SELECT event_type AS key,
                             date_diff('day', d0, CAST(ts AS DATE)) AS day,
                             CAST(count(*) AS BIGINT) c
                      FROM events, span GROUP BY 1, 2),
            fl AS (SELECT k.key, sp.day, coalesce(d.c, 0) AS c
                     FROM keys k CROSS JOIN spine sp
                     LEFT JOIN daily d ON d.key = k.key AND d.day = sp.day),
            st AS (SELECT key, CAST(count(*) AS BIGINT) nd,
                          CAST(sum(c) AS BIGINT) s, CAST(sum(c * c) AS BIGINT) ss
                   FROM fl GROUP BY 1),
            stats AS (SELECT key, nd,
                             floor(CAST(s AS DOUBLE) / nd * 1073741824.0 + 0.5) /
                               1073741824.0 AS mu,
                             sqrt((ss - s * s / CAST(nd AS DOUBLE)) / nd) AS sigma
                      FROM st),
            fr AS (SELECT key, day // 5 AS frame, CAST(count(*) AS BIGINT) fn,
                          CAST(sum(c) AS BIGINT) fs
                   FROM fl GROUP BY 1, 2),
            z AS (SELECT fr.key, fr.frame, stats.nd,
                         floor(((floor(CAST(fs AS DOUBLE) / fn * 1073741824.0 + 0.5) /
                                 1073741824.0) - mu) /
                               (CASE WHEN sigma > 0.0 THEN sigma ELSE 1.0 END) *
                               1073741824.0 + 0.5) / 1073741824.0 AS zv
                  FROM fr JOIN stats USING (key)),
            sym AS (SELECT key, frame, nd,
                           CASE WHEN zv < -0.6744897501960817 THEN 'a'
                                WHEN zv < 0.0 THEN 'b'
                                WHEN zv < 0.6744897501960817 THEN 'c'
                                ELSE 'd' END s
                    FROM z)
            SELECT key, CAST(max(nd) AS BIGINT) n_days,
                   CAST(count(*) AS BIGINT) n_frames,
                   string_agg(s, '' ORDER BY frame) AS sax_word
            FROM sym GROUP BY 1""")
  )

  /** Column-encoding advisor ([[graft.operators.EncodingAdvisor.advise]]):
    * PLAIN vs DICT vs RLE-DICT byte estimates for five lineitem
    * columns under the (orderkey, linenumber) layout — exact integer
    * run/distinct/byte accounting, oracle replays the melted windows.
    */
  val q315EncodingAdvisor: QueryDef = QueryDef(
    "q315_encoding_advisor",
    (s, dir) =>
      EncodingAdvisor.advise(
        Tables.lineitem(s, dir),
        cols = Seq(
          ("l_returnflag", 0), ("l_linestatus", 0), ("l_quantity", 8),
          ("l_suppkey", 8), ("l_linenumber", 4)),
        partCol = "l_orderkey",
        ordCol = "l_linenumber"),
    Some("""WITH m AS (
              SELECT l_orderkey p, l_linenumber o, 'l_returnflag' AS col_name, 0 w,
                     CAST(l_returnflag AS VARCHAR) v FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_linestatus', 0,
                     CAST(l_linestatus AS VARCHAR) FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_quantity', 8,
                     CAST(l_quantity AS VARCHAR) FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_suppkey', 8,
                     CAST(l_suppkey AS VARCHAR) FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_linenumber', 4,
                     CAST(l_linenumber AS VARCHAR) FROM lineitem),
            runs AS (SELECT col_name, CAST(count(*) AS BIGINT) n,
                            CAST(max(w) AS BIGINT) w,
                            CAST(sum(chg) AS BIGINT) n_runs,
                            CAST(sum(strlen(v)) AS BIGINT) str_bytes
                     FROM (SELECT col_name, w, v,
                                  CASE WHEN lag(v) OVER pw IS NULL
                                            OR v <> lag(v) OVER pw
                                       THEN 1 ELSE 0 END chg
                           FROM m WINDOW pw AS (PARTITION BY col_name, p ORDER BY o, v)) u
                     GROUP BY 1),
            dict AS (SELECT col_name, CAST(count(*) AS BIGINT) n_distinct,
                            CAST(sum(CASE WHEN w = 0 THEN strlen(v)
                                          ELSE w END) AS BIGINT) dict_data
                     FROM (SELECT col_name, v, max(w) w FROM m GROUP BY 1, 2) d
                     GROUP BY 1),
            est AS (SELECT r.col_name, r.n, d.n_distinct, r.n_runs,
                           CASE WHEN r.w > 0 THEN r.n * r.w ELSE r.str_bytes END
                             AS plain_bytes,
                           d.dict_data + r.n *
                             (CASE WHEN d.n_distinct <= 256 THEN 1
                                   WHEN d.n_distinct <= 65536 THEN 2
                                   WHEN d.n_distinct <= 16777216 THEN 3
                                   ELSE 4 END) AS dict_bytes,
                           d.dict_data + r.n_runs *
                             ((CASE WHEN d.n_distinct <= 256 THEN 1
                                    WHEN d.n_distinct <= 65536 THEN 2
                                    WHEN d.n_distinct <= 16777216 THEN 3
                                    ELSE 4 END) + 4) AS rle_bytes
                    FROM runs r JOIN dict d USING (col_name))
            SELECT col_name, n, n_distinct, n_runs,
                   CAST(plain_bytes AS BIGINT) plain_bytes,
                   CAST(dict_bytes AS BIGINT) dict_bytes,
                   CAST(rle_bytes AS BIGINT) rle_bytes,
                   CASE WHEN rle_bytes <= dict_bytes AND rle_bytes <= plain_bytes
                        THEN 'rle_dict'
                        WHEN dict_bytes <= plain_bytes THEN 'dict'
                        ELSE 'plain' END AS advice
            FROM est""")
  )

  /** Cumulative distinct users per day
    * ([[graft.operators.Timeseries.cumulativeDistinct]]): the growth
    * curve via the first-seen identity — running sum over the
    * calendar-sized day table, never a per-day re-aggregation.
    */
  val q316CumDistinct: QueryDef = QueryDef(
    "q316_cum_distinct",
    (s, dir) => Timeseries.cumulativeDistinct(Tables.events(s, dir), "user_id"),
    Some("""WITH pd AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) n_events
                        FROM events GROUP BY 1),
            fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
            nu AS (SELECT day, CAST(count(*) AS BIGINT) AS new_ids FROM fs GROUP BY 1)
            SELECT pd.day, pd.n_events, coalesce(nu.new_ids, 0) AS new_ids,
                   CAST(sum(coalesce(nu.new_ids, 0)) OVER
                     (ORDER BY pd.day ROWS UNBOUNDED PRECEDING) AS BIGINT) cum_ids
            FROM pd LEFT JOIN nu USING (day)""")
  )

  /** Bitmap-index segment algebra ([[graft.operators.Bitmap.intersections]]):
    * per-event-type user sets as OR-aggregated 64-bit words, pairwise
    * intersection/union/Jaccard by word-aligned popcount — all integer.
    */
  val q317BitmapSegments: QueryDef = QueryDef(
    "q317_bitmap_segments",
    (s, dir) => graft.operators.Bitmap.intersections(
      Tables.events(s, dir), segCol = "event_type", idCol = "user_id"),
    Some("""WITH wds AS (SELECT event_type segment, user_id // 63 wid,
                                bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) w
                         FROM events GROUP BY 1, 2),
            cards AS (SELECT segment, CAST(sum(bit_count(w)) AS BIGINT) card
                      FROM wds GROUP BY 1),
            p AS (SELECT a.segment seg_a, b.segment seg_b,
                         CAST(sum(bit_count(a.w & b.w)) AS BIGINT) n_and
                  FROM wds a JOIN wds b USING (wid)
                  WHERE a.segment < b.segment GROUP BY 1, 2)
            SELECT seg_a, seg_b, ca.card n_a, cb.card n_b, n_and,
                   ca.card + cb.card - n_and AS n_or,
                   round(CAST(n_and AS DOUBLE) / (ca.card + cb.card - n_and), 6) jaccard
            FROM p JOIN cards ca ON ca.segment = seg_a
            JOIN cards cb ON cb.segment = seg_b""")
  )

  /** Personalized PageRank
    * ([[graft.operators.Graph.personalizedPageRank]]): proximity to
    * the region-0 nation seed set over the trade graph, 2 quantized
    * iterations; the oracle unrolls them with the identical teleport
    * vector.
    */
  val q318Ppr: QueryDef = QueryDef(
    "q318_ppr",
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
      val seeds = Tables.nation(s, dir)
        .filter(col("n_regionkey") === 0)
        .select(col("n_nationkey").cast("long").as("id"))
      Graph.personalizedPageRank(nodes, edges, seeds, iters = 2)
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
            ns AS (SELECT CAST(count(*) AS DOUBLE) s FROM nation WHERE n_regionkey = 0),
            base AS (SELECT CAST(n_nationkey AS BIGINT) id,
                            CASE WHEN n_regionkey = 0 THEN 1.0 / ns.s ELSE 0.0 END tp
                     FROM nation, ns),
            r0 AS (SELECT id, tp,
                          floor(tp * 1099511627776.0) / 1099511627776.0 r FROM base),
            r1 AS (SELECT r0.id, r0.tp,
                          floor(((1.0 - 0.85) * r0.tp + 0.85 * coalesce(m.s, 0.0)) *
                                1099511627776.0) / 1099511627776.0 AS r
                   FROM r0 LEFT JOIN (
                     SELECT e.dst, sum(r0.r / d.deg) AS s
                     FROM edges e JOIN r0 ON r0.id = e.src
                     JOIN outdeg d ON d.src = e.src GROUP BY e.dst) m
                   ON m.dst = r0.id),
            r2 AS (SELECT r1.id,
                          floor(((1.0 - 0.85) * r1.tp + 0.85 * coalesce(m.s, 0.0)) *
                                1099511627776.0) / 1099511627776.0 AS r
                   FROM r1 LEFT JOIN (
                     SELECT e.dst, sum(r1.r / d.deg) AS s
                     FROM edges e JOIN r1 ON r1.id = e.src
                     JOIN outdeg d ON d.src = e.src GROUP BY e.dst) m
                   ON m.dst = r1.id)
            SELECT id, round(r, 6) AS rank FROM r2""")
  )

  /** Fellegi–Sunter record linkage
    * ([[graft.operators.RecordLinkage.fellegiSunter]]): customers vs
    * suppliers blocked by nation, compared on (acctbal bucket, key mod
    * 10) with data-estimated u-probabilities; scores banded at ±2.
    */
  val q319FellegiSunter: QueryDef = QueryDef(
    "q319_fellegi_sunter",
    (s, dir) => {
      val a = Tables.customer(s, dir).select(
        col("c_nationkey").cast("long").as("block"),
        floor(col("c_acctbal") / 100).cast("long").as("bal_bucket"),
        (col("c_custkey") % 10).as("key_mod"))
      val b = Tables.supplier(s, dir).select(
        col("s_nationkey").cast("long").as("block"),
        floor(col("s_acctbal") / 100).cast("long").as("bal_bucket"),
        (col("s_suppkey") % 10).as("key_mod"))
      graft.operators.RecordLinkage.fellegiSunter(
        a, b, blockCol = "block", fields = Seq("bal_bucket", "key_mod"))
    },
    Some("""WITH a AS (SELECT CAST(c_nationkey AS BIGINT) block,
                              CAST(floor(c_acctbal / 100) AS BIGINT) bal_bucket,
                              c_custkey % 10 key_mod FROM customer),
            b AS (SELECT CAST(s_nationkey AS BIGINT) block,
                         CAST(floor(s_acctbal / 100) AS BIGINT) bal_bucket,
                         s_suppkey % 10 key_mod FROM supplier),
            nn AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM a) na,
                          (SELECT CAST(count(*) AS DOUBLE) FROM b) nb),
            u1 AS (SELECT greatest(least(
                     floor(CAST(h.hits AS DOUBLE) / (nn.na * nn.nb) *
                           1073741824.0 + 0.5) / 1073741824.0,
                     1.0 - 1.0 / 1073741824.0), 1.0 / 1073741824.0) u
                   FROM (SELECT coalesce(sum(ca * cb), 0) hits
                         FROM (SELECT bal_bucket v, count(*) ca FROM a GROUP BY 1) x
                         JOIN (SELECT bal_bucket v, count(*) cb FROM b GROUP BY 1) y
                         ON x.v IS NOT DISTINCT FROM y.v) h, nn),
            w1 AS (SELECT floor(log2(0.9 / u) * 1073741824.0 + 0.5) / 1073741824.0 wa,
                          floor(log2((1.0 - 0.9) / (1.0 - u)) * 1073741824.0 + 0.5) /
                            1073741824.0 wd FROM u1),
            u2 AS (SELECT greatest(least(
                     floor(CAST(h.hits AS DOUBLE) / (nn.na * nn.nb) *
                           1073741824.0 + 0.5) / 1073741824.0,
                     1.0 - 1.0 / 1073741824.0), 1.0 / 1073741824.0) u
                   FROM (SELECT coalesce(sum(ca * cb), 0) hits
                         FROM (SELECT key_mod v, count(*) ca FROM a GROUP BY 1) x
                         JOIN (SELECT key_mod v, count(*) cb FROM b GROUP BY 1) y
                         ON x.v IS NOT DISTINCT FROM y.v) h, nn),
            w2 AS (SELECT floor(log2(0.9 / u) * 1073741824.0 + 0.5) / 1073741824.0 wa,
                          floor(log2((1.0 - 0.9) / (1.0 - u)) * 1073741824.0 + 0.5) /
                            1073741824.0 wd FROM u2),
            sc AS (SELECT (CASE WHEN a.bal_bucket IS NOT DISTINCT FROM b.bal_bucket
                                THEN w1.wa ELSE w1.wd END) +
                          (CASE WHEN a.key_mod IS NOT DISTINCT FROM b.key_mod
                                THEN w2.wa ELSE w2.wd END) AS score
                   FROM a JOIN b USING (block) CROSS JOIN w1 CROSS JOIN w2)
            SELECT CAST(count(*) AS BIGINT) n_pairs,
                   CAST(sum(CASE WHEN score >= 2.0 THEN 1 ELSE 0 END) AS BIGINT) n_link,
                   CAST(sum(CASE WHEN score > -2.0 AND score < 2.0 THEN 1 ELSE 0 END)
                     AS BIGINT) n_possible,
                   CAST(sum(CASE WHEN score <= -2.0 THEN 1 ELSE 0 END) AS BIGINT) n_nonlink,
                   round(min(score), 6) min_score,
                   round(max(score), 6) max_score
            FROM sc""")
  )

  /** Expectations-gated quarantine write
    * ([[graft.sources.LakeWriter.writeWithQuarantine]]): one scan
    * routes rows into `__valid` partitions with violated-rule
    * annotations; the query reads the table back and reports the
    * violation mix — which must equal the oracle's direct evaluation
    * of the same rules on the source.
    */
  val q320Quarantine: QueryDef = QueryDef(
    "q320_quarantine",
    (s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q320").resolve("events_gated").toString
      graft.sources.LakeWriter.writeWithQuarantine(
        Tables.events(s, dir).select(col("event_id"), col("user_id"), col("value")),
        rules = Seq(
          ("value_cap", col("value") <= 400.0),
          ("user_mod", col("user_id") % 7 =!= 0)),
        path = path)
      s.read.parquet(path)
        .groupBy(col("__violations").as("violations"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("value_sum"))
    },
    Some("""WITH v AS (SELECT concat_ws(',',
                         CASE WHEN NOT coalesce(value <= 400, FALSE)
                              THEN 'value_cap' END,
                         CASE WHEN NOT coalesce(user_id % 7 <> 0, FALSE)
                              THEN 'user_mod' END) AS violations,
                       value FROM events)
            SELECT violations, CAST(count(*) AS BIGINT) n,
                   round(sum(value), 2) AS value_sum
            FROM v GROUP BY 1""")
  )

  /** Cochran–Mantel–Haenszel common odds ratio
    * ([[graft.operators.Eval.cmhOddsRatio]]): urgent-priority ×
    * fulfilled-status association, stratified by order month — the
    * Simpson-safe pooled estimate with the CMH chi-square.
    */
  val q321Cmh: QueryDef = QueryDef(
    "q321_cmh",
    (s, dir) =>
      Eval.cmhOddsRatio(
        Tables.orders(s, dir),
        strataCol = date_format(col("o_orderdate"), "yyyy-MM"),
        exposure = col("o_orderpriority") === "1-URGENT",
        outcome = col("o_orderstatus") === "F"),
    Some("""WITH r AS (SELECT strftime(o_orderdate, '%Y-%m') s,
                              o_orderpriority = '1-URGENT' e,
                              o_orderstatus = 'F' o FROM orders),
            cl AS (SELECT s,
                          CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) a,
                          CAST(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) b,
                          CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) c,
                          CAST(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) d
                   FROM r GROUP BY 1),
            c2 AS (SELECT a, b, c, d, a + b + c + d AS n FROM cl WHERE a + b + c + d > 1),
            t AS (SELECT a, n,
                         floor(CAST(a * d AS DOUBLE) / n * 1073741824.0 + 0.5) /
                           1073741824.0 ad_n,
                         floor(CAST(b * c AS DOUBLE) / n * 1073741824.0 + 0.5) /
                           1073741824.0 bc_n,
                         floor(CAST((a + b) * (a + c) AS DOUBLE) / n * 1073741824.0 + 0.5) /
                           1073741824.0 ee,
                         floor(CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE) /
                               CAST(n * n * (n - 1) AS DOUBLE) * 1073741824.0 + 0.5) /
                           1073741824.0 vv
                  FROM c2)
            SELECT CAST(count(*) AS BIGINT) n_strata, CAST(sum(n) AS BIGINT) n,
                   CASE WHEN sum(bc_n) > 0.0
                        THEN round(sum(ad_n) / sum(bc_n), 6) END or_cmh,
                   CASE WHEN sum(vv) > 0.0
                        THEN round((CAST(sum(a) AS DOUBLE) - sum(ee)) *
                                   (CAST(sum(a) AS DOUBLE) - sum(ee)) / sum(vv), 6)
                        END chi2
            FROM t""")
  )

  /** Markov next-event top-1 accuracy
    * ([[graft.operators.Sessionize.nextEventAccuracy]]): first-order
    * next-type model trained on days < 20, scored on the rest — the
    * train/predict/score loop fully relational, temporally honest.
    */
  val q322NextEvent: QueryDef = QueryDef(
    "q322_next_event",
    (s, dir) => Sessionize.nextEventAccuracy(Tables.events(s, dir), splitDays = 20),
    Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) d0 FROM events),
            p AS (SELECT event_type cur,
                         lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) nxt,
                         date_diff('day', d0.d0, CAST(ts AS DATE)) < 20 is_train
                  FROM events, d0),
            p2 AS (SELECT * FROM p WHERE nxt IS NOT NULL),
            m AS (SELECT cur, nxt AS predicted FROM (
                    SELECT cur, nxt, row_number() OVER
                      (PARTITION BY cur ORDER BY cc DESC, nxt ASC) rk
                    FROM (SELECT cur, nxt, CAST(count(*) AS BIGINT) cc
                          FROM p2 WHERE is_train GROUP BY 1, 2) t) u
                  WHERE rk = 1)
            SELECT p2.cur, m.predicted, CAST(count(*) AS BIGINT) n_eval,
                   CAST(sum(CASE WHEN p2.nxt = m.predicted THEN 1 ELSE 0 END)
                     AS BIGINT) n_correct,
                   round(CAST(sum(CASE WHEN p2.nxt = m.predicted THEN 1 ELSE 0 END)
                     AS DOUBLE) / count(*), 6) accuracy
            FROM p2 JOIN m USING (cur) WHERE NOT is_train GROUP BY 1, 2""")
  )

  /** Brown–Forsythe variance-homogeneity test: ANOVA F on |x − group
    * median| — the robust Levene variant. Medians of 2-dp values are
    * exact in the ×200 integer domain (the interpolated midpoint of
    * two even integers is an integer), so every deviation is an exact
    * long and the F reuses the q229 integer-sums shape.
    */
  val q323BrownForsythe: QueryDef = QueryDef(
    "q323_brown_forsythe",
    (s, dir) => {
      val base = Tables.events(s, dir)
        .select(col("event_type"), expr("CAST(round(value * 200) AS BIGINT)").as("c2"))
      val med = base.groupBy(col("event_type"))
        .agg(expr("CAST(percentile(c2, 0.5) AS BIGINT)").as("m2"))
      val g = base
        .join(med, "event_type")
        .select(col("event_type"), abs(col("c2") - col("m2")).as("z"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_g"), sum(col("z")).as("s_g"),
          sum(col("z") * col("z")).as("s2_g"))
      g.agg(
          count(lit(1)).as("k"),
          sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s"),
          sum(col("s2_g")).as("s2"),
          sum((col("s_g") * col("s_g")).cast("double") / col("n_g").cast("double"))
            .as("sgn"))
        .select(
          col("k"), col("n"),
          round(
            (col("sgn") - (col("s") * col("s")).cast("double") / col("n").cast("double")) /
              (col("k") - 1).cast("double") /
              ((col("s2").cast("double") - col("sgn")) / (col("n") - col("k")).cast("double")),
            6).as("bf_stat"))
    },
    Some("""WITH base AS (SELECT event_type, CAST(round(value * 200) AS BIGINT) c2
                          FROM events),
            med AS (SELECT event_type, CAST(quantile_cont(c2, 0.5) AS BIGINT) m2
                    FROM base GROUP BY 1),
            g AS (SELECT base.event_type, CAST(count(*) AS BIGINT) n_g,
                         CAST(sum(abs(c2 - m2)) AS BIGINT) s_g,
                         CAST(sum(abs(c2 - m2) * abs(c2 - m2)) AS BIGINT) s2_g
                  FROM base JOIN med USING (event_type) GROUP BY 1),
            a AS (SELECT CAST(count(*) AS BIGINT) k, CAST(sum(n_g) AS BIGINT) n,
                         CAST(sum(s_g) AS BIGINT) s, CAST(sum(s2_g) AS BIGINT) s2,
                         sum(CAST(s_g * s_g AS DOUBLE) / n_g) sgn
                  FROM g)
            SELECT k, n,
                   round((sgn - CAST(s * s AS DOUBLE) / n) / (k - 1) /
                         ((CAST(s2 AS DOUBLE) - sgn) / (n - k)), 6) AS bf_stat
            FROM a""")
  )

  /** Holt linear-trend smoothing with dyadic α = β = ½
    * ([[graft.operators.Timeseries.holtLinear]]): every state update is
    * exact binary arithmetic, so the recursive-CTE oracle replays the
    * fold bit-for-bit — forecast and backtest MAE included.
    */
  val q324Holt: QueryDef = QueryDef(
    "q324_holt",
    (s, dir) => Timeseries.holtLinear(Tables.events(s, dir)),
    Some("""WITH RECURSIVE sp AS (SELECT min(CAST(ts AS DATE)) d0,
                                         max(CAST(ts AS DATE)) d1 FROM events),
            days AS (SELECT unnest(range(0, date_diff('day', d0, d1) + 1)) AS t FROM sp),
            dc AS (SELECT date_diff('day', d0, CAST(ts AS DATE)) t,
                          CAST(count(*) AS BIGINT) c
                   FROM events, sp GROUP BY 1),
            y AS (SELECT days.t, CAST(coalesce(dc.c, 0) AS DOUBLE) y
                  FROM days LEFT JOIN dc USING (t)),
            h(t, l, b, es) AS (
              SELECT CAST(0 AS BIGINT), y, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE) FROM y WHERE t = 0
              UNION ALL
              SELECT y.t,
                     0.5 * y.y + 0.5 * (h.l + h.b),
                     0.5 * ((0.5 * y.y + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b,
                     h.es + abs(y.y - (h.l + h.b))
              FROM h JOIN y ON y.t = h.t + 1),
            lastrow AS (SELECT * FROM h ORDER BY t DESC LIMIT 1),
            nn AS (SELECT CAST(count(*) AS BIGINT) n FROM y)
            SELECT nn.n AS n_days, round(l, 6) AS level, round(b, 6) AS trend,
                   round(l + b, 6) AS forecast_1, round(l + 3 * b, 6) AS forecast_3,
                   round(es / (nn.n - 1), 6) AS mae
            FROM lastrow, nn""")
  )

  /** Perceptual aHash near-dup over the media payloads
    * ([[graft.operators.Multimodal.aHashNearDup]]): 8×8 byte-thumbnail
    * average hash, four 16-bit bands for guaranteed recall at Hamming
    * ≤ 7. ASCII corpus ⇒ byte ≡ codepoint, so the oracle recomputes
    * the hashes and checks ALL pairs exactly (the band join must
    * reproduce the quadratic truth).
    */
  val q325AHashNearDup: QueryDef = QueryDef(
    "q325_ahash_neardup",
    (s, dir) =>
      graft.operators.Multimodal.aHashNearDup(
        graft.operators.Multimodal.mediaFromDocuments(Tables.documents(s, dir))),
    Some("""WITH m AS (SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) n,
                              [unicode(substr(text, CAST(i AS INT), 1))
                               FOR i IN range(1, length(text) + 1)] codes
                       FROM documents WHERE length(text) > 0),
            sam AS (SELECT doc_id,
                           [codes[CAST(i * n // 64 AS INT) + 1]
                            FOR i IN range(0, 64)] s
                    FROM m),
            mm AS (SELECT doc_id, s, CAST(list_sum(s) AS DOUBLE) / 64.0 mean FROM sam),
            h AS (SELECT doc_id,
                         list_sum([CASE WHEN s[CAST(i AS INT) + 1] > mean
                                        THEN CAST(1 AS BIGINT) << CAST(i AS INT)
                                        ELSE CAST(0 AS BIGINT) END
                                   FOR i IN range(0, 32)]) w0,
                         list_sum([CASE WHEN s[CAST(i AS INT) + 33] > mean
                                        THEN CAST(1 AS BIGINT) << CAST(i AS INT)
                                        ELSE CAST(0 AS BIGINT) END
                                   FOR i IN range(0, 32)]) w1
                  FROM mm)
            SELECT a.doc_id doc_a, b.doc_id doc_b,
                   CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
                     AS BIGINT) hamming
            FROM h a JOIN h b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 7""")
  )

  /** Position-based (U-shaped) attribution
    * ([[graft.operators.Sessionize.positionAttribution]]): 40/20/40
    * credit over pre-purchase touches in converting sessions, snapped
    * per-touch credits.
    */
  val q326PositionAttribution: QueryDef = QueryDef(
    "q326_position_attribution",
    (s, dir) => Sessionize.positionAttribution(Tables.events(s, dir)),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) us FROM events),
            s AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                                      OR us - lag(us) OVER w > 1800000000
                                 THEN 1 ELSE 0 END brk
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            s2 AS (SELECT *, sum(brk) OVER
                     (PARTITION BY user_id ORDER BY us, event_id) sess FROM s),
            p AS (SELECT *, row_number() OVER
                    (PARTITION BY user_id, sess ORDER BY us, event_id) pos FROM s2),
            fp AS (SELECT *, min(CASE WHEN event_type = 'purchase' THEN pos END)
                     OVER (PARTITION BY user_id, sess) first_p FROM p),
            t AS (SELECT *, max(pos) OVER (PARTITION BY user_id, sess) k
                  FROM (SELECT * FROM fp
                        WHERE first_p IS NOT NULL AND pos < first_p) x),
            c AS (SELECT event_type channel,
                         floor((CASE WHEN k = 1 THEN 1.0
                                     WHEN k = 2 THEN 0.5
                                     WHEN pos = 1 OR pos = k THEN 0.4
                                     ELSE 0.2 / (k - 2) END) * 1073741824.0 + 0.5) /
                         1073741824.0 cr
                  FROM t)
            SELECT channel, CAST(count(*) AS BIGINT) n_touches,
                   round(sum(cr), 6) credit
            FROM c GROUP BY 1""")
  )

  /** Cohen's d effect size of each event type's value against the rest
    * of the corpus — pooled-SD standardized mean difference from exact
    * integer cent sums (the practical companion number to the q229/q323
    * F statistics).
    */
  val q327CohensD: QueryDef = QueryDef(
    "q327_cohens_d",
    (s, dir) => {
      val g = Tables.events(s, dir)
        .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n1"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("ss1"))
      val tot = Tables.events(s, dir)
        .agg(count(lit(1)).as("nn"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("st"),
          sum(expr("CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)"))
            .as("sst"))
      g.crossJoin(broadcast(tot))
        .select(
          col("event_type"), col("n1"),
          round(
            ((col("s1").cast("double") / col("n1") -
              (col("st") - col("s1")).cast("double") / (col("nn") - col("n1"))) /
              sqrt(
                ((col("ss1").cast("double") -
                  (col("s1") * col("s1")).cast("double") / col("n1")) +
                  ((col("sst") - col("ss1")).cast("double") -
                    ((col("st") - col("s1")) * (col("st") - col("s1"))).cast("double") /
                      (col("nn") - col("n1")))) /
                  (col("nn") - 2).cast("double"))) ,
            6).as("cohens_d"))
    },
    Some("""WITH b AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) c FROM events),
            g AS (SELECT event_type, CAST(count(*) AS BIGINT) n1,
                         CAST(sum(c) AS BIGINT) s1, CAST(sum(c * c) AS BIGINT) ss1
                  FROM b GROUP BY 1),
            tot AS (SELECT CAST(count(*) AS BIGINT) nn, CAST(sum(c) AS BIGINT) st,
                           CAST(sum(c * c) AS BIGINT) sst FROM b)
            SELECT event_type, n1,
                   round((CAST(s1 AS DOUBLE) / n1 -
                          CAST(st - s1 AS DOUBLE) / (nn - n1)) /
                         sqrt(((CAST(ss1 AS DOUBLE) - CAST(s1 * s1 AS DOUBLE) / n1) +
                               (CAST(sst - ss1 AS DOUBLE) -
                                CAST((st - s1) * (st - s1) AS DOUBLE) / (nn - n1))) /
                              CAST(nn - 2 AS DOUBLE)), 6) + 0.0 AS cohens_d
            FROM g, tot""")
  )

  /** Delta-method ratio-metric A/B (Deng et al.): revenue-per-event as
    * a per-user ratio metric, arm = user parity; the ratio's variance
    * from the per-user (x, y) moments — all exact integer sums of
    * cents up to the final float chain, mirrored verbatim.
    */
  val q328RatioDelta: QueryDef = QueryDef(
    "q328_ratio_delta",
    (s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy((col("user_id") % 2).as("arm"), col("user_id"))
        .agg(count(lit(1)).as("x"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
      val arms = perUser
        .groupBy(col("arm"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(
          col("arm"), col("n"),
          (col("sy").cast("double") / col("sx")).as("ratio"),
          ((col("syy").cast("double") -
            (col("sy") * col("sy")).cast("double") / col("n")) / (col("n") - 1))
            .as("vy"),
          ((col("sxx").cast("double") -
            (col("sx") * col("sx")).cast("double") / col("n")) / (col("n") - 1))
            .as("vx"),
          ((col("sxy").cast("double") -
            (col("sx") * col("sy")).cast("double") / col("n")) / (col("n") - 1))
            .as("cxy"),
          (col("sx").cast("double") / col("n")).as("xbar"))
        .select(
          col("arm"), col("n"), col("ratio"),
          ((col("vy") - lit(2.0) * col("ratio") * col("cxy") +
            col("ratio") * col("ratio") * col("vx")) /
            (col("n").cast("double") * col("xbar") * col("xbar"))).as("vr"))
      arms.agg(
          sum(when(col("arm") === 0, col("n"))).as("n_ctl"),
          sum(when(col("arm") === 1, col("n"))).as("n_trt"),
          sum(when(col("arm") === 0, col("ratio"))).as("r0"),
          sum(when(col("arm") === 1, col("ratio"))).as("r1"),
          sum(when(col("arm") === 0, col("vr"))).as("v0"),
          sum(when(col("arm") === 1, col("vr"))).as("v1"))
        .select(
          col("n_ctl"), col("n_trt"),
          round(col("r0") / 100.0, 6).as("ratio_ctl"),
          round(col("r1") / 100.0, 6).as("ratio_trt"),
          round((col("r1") - col("r0")) / 100.0, 6).as("ratio_diff"),
          round((col("r1") - col("r0")) / sqrt(col("v0") + col("v1")), 6).as("z"))
    },
    Some("""WITH pu AS (SELECT user_id % 2 arm, user_id, CAST(count(*) AS BIGINT) x,
                               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) y
                        FROM events GROUP BY 1, 2),
            a AS (SELECT arm, CAST(count(*) AS BIGINT) n,
                         CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
                         CAST(sum(x * x) AS BIGINT) sxx, CAST(sum(y * y) AS BIGINT) syy,
                         CAST(sum(x * y) AS BIGINT) sxy
                  FROM pu GROUP BY 1),
            b AS (SELECT arm, n,
                         CAST(sy AS DOUBLE) / sx ratio,
                         (CAST(syy AS DOUBLE) - CAST(sy * sy AS DOUBLE) / n) / (n - 1) vy,
                         (CAST(sxx AS DOUBLE) - CAST(sx * sx AS DOUBLE) / n) / (n - 1) vx,
                         (CAST(sxy AS DOUBLE) - CAST(sx * sy AS DOUBLE) / n) / (n - 1) cxy,
                         CAST(sx AS DOUBLE) / n xbar
                  FROM a),
            c AS (SELECT arm, n, ratio,
                         (vy - 2.0 * ratio * cxy + ratio * ratio * vx) /
                           (CAST(n AS DOUBLE) * xbar * xbar) vr
                  FROM b)
            SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) n_ctl,
                   CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) n_trt,
                   round(sum(CASE WHEN arm = 0 THEN ratio END) / 100.0, 6) ratio_ctl,
                   round(sum(CASE WHEN arm = 1 THEN ratio END) / 100.0, 6) ratio_trt,
                   round((sum(CASE WHEN arm = 1 THEN ratio END) -
                          sum(CASE WHEN arm = 0 THEN ratio END)) / 100.0, 6) ratio_diff,
                   round((sum(CASE WHEN arm = 1 THEN ratio END) -
                          sum(CASE WHEN arm = 0 THEN ratio END)) /
                         sqrt(sum(CASE WHEN arm = 0 THEN vr END) +
                              sum(CASE WHEN arm = 1 THEN vr END)), 6) z
            FROM c""")
  )

  /** Good–Turing frequency smoothing over (part, supplier)
    * co-occurrence counts — a genuinely long-tailed type space (the
    * synthetic document vocabulary is 31 words, every one frequent, so
    * the LM-side smoothing demo lives on the lineitem pair counts):
    * count-of-counts N_r and adjusted counts r* = (r+1)·N_{r+1}/N_r
    * for r ≤ 5, plus the unseen-mass estimate P₀ = N₁/T. All exact
    * integer counts until the final divisions.
    */
  val q329GoodTuring: QueryDef = QueryDef(
    "q329_good_turing",
    (s, dir) => {
      val tf = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("r"))
      val nr = tf.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      val tot = tf.agg(sum(col("r")).as("t"))
      nr.as("a")
        .join(nr.as("b"), col("a.r") + 1 === col("b.r"), "left")
        .filter(col("a.r") <= 5)
        .crossJoin(broadcast(tot))
        .select(
          col("a.r").as("r"),
          col("a.n_r").as("n_r"),
          coalesce(col("b.n_r"), lit(0L)).as("n_r_next"),
          round((col("a.r") + 1).cast("double") * coalesce(col("b.n_r"), lit(0L)) /
            col("a.n_r"), 6).as("r_star"),
          when(col("a.r") === 1,
            round(col("a.n_r").cast("double") / col("t"), 6)).as("p_unseen"))
    },
    Some("""WITH tf AS (SELECT l_partkey, l_suppkey, CAST(count(*) AS BIGINT) r
                        FROM lineitem GROUP BY 1, 2),
            nr AS (SELECT r, CAST(count(*) AS BIGINT) n_r FROM tf GROUP BY 1),
            tot AS (SELECT CAST(sum(r) AS BIGINT) t FROM tf)
            SELECT a.r, a.n_r, coalesce(b.n_r, 0) n_r_next,
                   round(CAST(a.r + 1 AS DOUBLE) * coalesce(b.n_r, 0) / a.n_r, 6) r_star,
                   CASE WHEN a.r = 1
                        THEN round(CAST(a.n_r AS DOUBLE) / t, 6) END p_unseen
            FROM nr a LEFT JOIN nr b ON a.r + 1 = b.r, tot
            WHERE a.r <= 5""")
  )

  /** Chow structural-break test of the daily-count trend at day 15:
    * pooled vs per-segment OLS residual sums from exact integer
    * moments — F = ((SSR_p − SSR₁ − SSR₂)/2) / ((SSR₁+SSR₂)/(n−4)).
    */
  val q330ChowTest: QueryDef = QueryDef(
    "q330_chow_test",
    (s, dir) => {
      val d0 = Tables.events(s, dir).agg(min(to_date(col("ts"))).as("d0"))
      val daily = Tables.events(s, dir)
        .crossJoin(broadcast(d0))
        .select(datediff(to_date(col("ts")), col("d0")).cast("long").as("x"))
        .groupBy(col("x"))
        .agg(count(lit(1)).as("y"))
      def moments(pred: org.apache.spark.sql.Column, tag: String) = Seq(
        sum(when(pred, 1L).otherwise(0L)).as(s"n_$tag"),
        sum(when(pred, col("x"))).as(s"sx_$tag"),
        sum(when(pred, col("y"))).as(s"sy_$tag"),
        sum(when(pred, col("x") * col("x"))).as(s"sxx_$tag"),
        sum(when(pred, col("x") * col("y"))).as(s"sxy_$tag"),
        sum(when(pred, col("y") * col("y"))).as(s"syy_$tag"))
      val m = daily.agg(
        (moments(lit(true), "p") ++ moments(col("x") < 15, "a") ++
          moments(col("x") >= 15, "b")).head,
        (moments(lit(true), "p") ++ moments(col("x") < 15, "a") ++
          moments(col("x") >= 15, "b")).tail: _*)
      def ssr(tag: String) = {
        val n = col(s"n_$tag").cast("double")
        val sxx = col(s"sxx_$tag").cast("double") -
          (col(s"sx_$tag") * col(s"sx_$tag")).cast("double") / n
        val sxy = col(s"sxy_$tag").cast("double") -
          (col(s"sx_$tag") * col(s"sy_$tag")).cast("double") / n
        val syy = col(s"syy_$tag").cast("double") -
          (col(s"sy_$tag") * col(s"sy_$tag")).cast("double") / n
        syy - sxy * sxy / sxx
      }
      m.select(
        col("n_p").as("n_days"), col("n_a").as("n_pre"), col("n_b").as("n_post"),
        round(
          ((ssr("p") - ssr("a") - ssr("b")) / 2.0) /
            ((ssr("a") + ssr("b")) / (col("n_p") - 4).cast("double")),
          6).as("chow_f"))
    },
    Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) d0 FROM events),
            daily AS (SELECT date_diff('day', d0.d0, CAST(ts AS DATE)) x,
                             CAST(count(*) AS BIGINT) y
                      FROM events, d0 GROUP BY 1),
            m AS (SELECT
                    CAST(count(*) AS BIGINT) n_p, CAST(sum(x) AS BIGINT) sx_p,
                    CAST(sum(y) AS BIGINT) sy_p, CAST(sum(x * x) AS BIGINT) sxx_p,
                    CAST(sum(x * y) AS BIGINT) sxy_p, CAST(sum(y * y) AS BIGINT) syy_p,
                    CAST(sum(CASE WHEN x < 15 THEN 1 ELSE 0 END) AS BIGINT) n_a,
                    CAST(sum(CASE WHEN x < 15 THEN x END) AS BIGINT) sx_a,
                    CAST(sum(CASE WHEN x < 15 THEN y END) AS BIGINT) sy_a,
                    CAST(sum(CASE WHEN x < 15 THEN x * x END) AS BIGINT) sxx_a,
                    CAST(sum(CASE WHEN x < 15 THEN x * y END) AS BIGINT) sxy_a,
                    CAST(sum(CASE WHEN x < 15 THEN y * y END) AS BIGINT) syy_a,
                    CAST(sum(CASE WHEN x >= 15 THEN 1 ELSE 0 END) AS BIGINT) n_b,
                    CAST(sum(CASE WHEN x >= 15 THEN x END) AS BIGINT) sx_b,
                    CAST(sum(CASE WHEN x >= 15 THEN y END) AS BIGINT) sy_b,
                    CAST(sum(CASE WHEN x >= 15 THEN x * x END) AS BIGINT) sxx_b,
                    CAST(sum(CASE WHEN x >= 15 THEN x * y END) AS BIGINT) sxy_b,
                    CAST(sum(CASE WHEN x >= 15 THEN y * y END) AS BIGINT) syy_b
                  FROM daily),
            f AS (SELECT n_p, n_a, n_b,
                    (CAST(syy_p AS DOUBLE) - CAST(sy_p * sy_p AS DOUBLE) / n_p) -
                      (CAST(sxy_p AS DOUBLE) - CAST(sx_p * sy_p AS DOUBLE) / n_p) *
                      (CAST(sxy_p AS DOUBLE) - CAST(sx_p * sy_p AS DOUBLE) / n_p) /
                      (CAST(sxx_p AS DOUBLE) - CAST(sx_p * sx_p AS DOUBLE) / n_p) ssr_p,
                    (CAST(syy_a AS DOUBLE) - CAST(sy_a * sy_a AS DOUBLE) / n_a) -
                      (CAST(sxy_a AS DOUBLE) - CAST(sx_a * sy_a AS DOUBLE) / n_a) *
                      (CAST(sxy_a AS DOUBLE) - CAST(sx_a * sy_a AS DOUBLE) / n_a) /
                      (CAST(sxx_a AS DOUBLE) - CAST(sx_a * sx_a AS DOUBLE) / n_a) ssr_a,
                    (CAST(syy_b AS DOUBLE) - CAST(sy_b * sy_b AS DOUBLE) / n_b) -
                      (CAST(sxy_b AS DOUBLE) - CAST(sx_b * sy_b AS DOUBLE) / n_b) *
                      (CAST(sxy_b AS DOUBLE) - CAST(sx_b * sy_b AS DOUBLE) / n_b) /
                      (CAST(sxx_b AS DOUBLE) - CAST(sx_b * sx_b AS DOUBLE) / n_b) ssr_b
                  FROM m)
            SELECT n_p AS n_days, n_a AS n_pre, n_b AS n_post,
                   round(((ssr_p - ssr_a - ssr_b) / 2.0) /
                         ((ssr_a + ssr_b) / CAST(n_p - 4 AS DOUBLE)), 6) AS chow_f
            FROM f""")
  )

  /** MinHash-LSH parameter planner: for each (bands, rows) split of a
    * 64-permutation signature budget, the S-curve match probabilities
    * at representative Jaccard levels and the threshold s* ≈ (1/b)^(1/r)
    * — the table a dedup deployment consults before picking
    * [[graft.operators.Dedup]] banding. Pow outputs snapped to the
    * 2⁻³⁰ grid (engine pow differs in ulps).
    */
  val q331LshPlanner: QueryDef = QueryDef(
    "q331_lsh_planner",
    (s, dir) => {
      val combos = s.range(1, 7).select(expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").as("b"))
        .select(col("b"), (lit(64L) / col("b")).cast("long").as("r"))
      def pCurve(sim: Double) =
        round(snap(lit(1.0) -
          snap(pow(lit(1.0) - snap(pow(lit(sim), col("r").cast("double"))),
            col("b").cast("double")))), 6)
      combos.select(
        col("b"), col("r"),
        round(snap(pow(lit(1.0) / col("b").cast("double"),
          lit(1.0) / col("r").cast("double"))), 6).as("t_star"),
        pCurve(0.5).as("p50"), pCurve(0.7).as("p70"),
        pCurve(0.8).as("p80"), pCurve(0.9).as("p90"))
    },
    Some("""WITH combos AS (SELECT CAST(1 AS BIGINT) << CAST(i AS INT) b,
                                   64 // (CAST(1 AS BIGINT) << CAST(i AS INT)) r
                            FROM range(1, 7) t(i)),
            c AS (SELECT b, CAST(r AS BIGINT) r,
                         floor(pow(1.0 / b, 1.0 / r) * 1073741824.0 + 0.5) /
                           1073741824.0 t_star,
                         floor((1.0 - floor(pow(1.0 - floor(pow(0.5, CAST(r AS DOUBLE)) *
                           1073741824.0 + 0.5) / 1073741824.0, CAST(b AS DOUBLE)) *
                           1073741824.0 + 0.5) / 1073741824.0) * 1073741824.0 + 0.5) /
                           1073741824.0 p50,
                         floor((1.0 - floor(pow(1.0 - floor(pow(0.7, CAST(r AS DOUBLE)) *
                           1073741824.0 + 0.5) / 1073741824.0, CAST(b AS DOUBLE)) *
                           1073741824.0 + 0.5) / 1073741824.0) * 1073741824.0 + 0.5) /
                           1073741824.0 p70,
                         floor((1.0 - floor(pow(1.0 - floor(pow(0.8, CAST(r AS DOUBLE)) *
                           1073741824.0 + 0.5) / 1073741824.0, CAST(b AS DOUBLE)) *
                           1073741824.0 + 0.5) / 1073741824.0) * 1073741824.0 + 0.5) /
                           1073741824.0 p80,
                         floor((1.0 - floor(pow(1.0 - floor(pow(0.9, CAST(r AS DOUBLE)) *
                           1073741824.0 + 0.5) / 1073741824.0, CAST(b AS DOUBLE)) *
                           1073741824.0 + 0.5) / 1073741824.0) * 1073741824.0 + 0.5) /
                           1073741824.0 p90
                  FROM combos)
            SELECT b, r, round(t_star, 6) t_star, round(p50, 6) p50,
                   round(p70, 6) p70, round(p80, 6) p80, round(p90, 6) p90
            FROM c""")
  )

  /** Column-level lineage off the analyzed Catalyst plan
    * ([[graft.plans.Provenance.columnLineage]]): the revenue-per-nation
    * report's output columns traced to their physical source columns —
    * value provenance through joins, aliases and aggregates. The
    * oracle is the literal expected lineage (the plan walk must land
    * exactly there).
    */
  val q332ColumnLineage: QueryDef = QueryDef(
    "q332_column_lineage",
    (s, dir) => {
      val report = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
      graft.plans.Provenance.columnLineage(report)
    },
    Some("""SELECT * FROM (VALUES
              ('n_name', 'nation', 'n_name'),
              ('revenue', 'lineitem', 'l_extendedprice'),
              ('revenue', 'lineitem', 'l_discount'),
              ('n_orders', 'orders', 'o_orderkey'))
            t(out_col, source_table, source_col)""")
  )

  /** Native XML source roundtrip (Spark 4 ships the former spark-xml
    * as a built-in format): orders written as `<order>` row elements,
    * read back with an explicit schema, aggregated — the result must
    * equal the parquet-direct aggregate (the oracle), proving the
    * serialize→parse trip is lossless including double round-trips.
    */
  val q333XmlSource: QueryDef = QueryDef(
    "q333_xml_source",
    (s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q333").resolve("orders_xml").toString
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .coalesce(4)
        .write.format("xml").option("rowTag", "order").mode("overwrite").save(path)
      s.read.format("xml").option("rowTag", "order")
        .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
        .load(path)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          round(sum(col("o_totalprice")), 2).as("price_sum"))
    },
    Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) n,
                   CAST(sum(o_orderkey) AS BIGINT) key_sum,
                   round(sum(o_totalprice), 2) price_sum
            FROM orders GROUP BY 1""")
  )

  /** UNPIVOT (melt) surface — `Dataset.unpivot` (the SQL `UNPIVOT`
    * relational operator, Spark 3.4+): three lineitem measures melted
    * to (metric, val) rows and re-aggregated; the oracle is the
    * explicit UNION ALL melt.
    */
  val q334Unpivot: QueryDef = QueryDef(
    "q334_unpivot",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .unpivot(
          ids = Array(col("l_orderkey")),
          values = Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          variableColumnName = "metric",
          valueColumnName = "v")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 2).as("v_sum")),
    Some("""SELECT metric, CAST(count(*) AS BIGINT) n, round(sum(v), 2) v_sum
            FROM (
              SELECT 'l_quantity' metric, l_quantity v FROM lineitem
              UNION ALL SELECT 'l_discount', l_discount FROM lineitem
              UNION ALL SELECT 'l_tax', l_tax FROM lineitem) u
            GROUP BY 1""")
  )

  /** Distribution-free median CI from binomial order statistics: the
    * 95% interval is (X₍ₖ₎, X₍ₙ₋ₖ₊₁₎) with k = ⌊(n − 1.96√n)/2⌋ — no
    * normality assumption, no bootstrap replicates. Ranks resolve
    * against the VALUE HISTOGRAM cumsum (the q228 posture: the window
    * runs over distinct cents, never over rows), so there is no global
    * sort at any scale.
    */
  val q335MedianCi: QueryDef = QueryDef(
    "q335_median_ci",
    (s, dir) => {
      val h = Tables.events(s, dir)
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = org.apache.spark.sql.expressions.Window
        .orderBy(col("c"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cum = h.withColumn("cum", sum(col("cnt")).over(wCum))
      val tot = h.agg(sum(col("cnt")).as("n"))
      cum
        .crossJoin(broadcast(tot))
        .withColumn("k_med", ceil(col("n").cast("double") / 2.0).cast("long"))
        .withColumn("k_lo",
          greatest(lit(1L),
            floor((col("n").cast("double") - lit(1.96) * sqrt(col("n").cast("double"))) /
              2.0).cast("long")))
        .withColumn("k_hi", col("n") - col("k_lo") + 1L)
        .agg(
          max(col("n")).as("n"),
          round(min(when(col("cum") >= col("k_med"), col("c"))).cast("double") / 100.0, 2)
            .as("median"),
          round(min(when(col("cum") >= col("k_lo"), col("c"))).cast("double") / 100.0, 2)
            .as("ci_lo"),
          round(min(when(col("cum") >= col("k_hi"), col("c"))).cast("double") / 100.0, 2)
            .as("ci_hi"))
    },
    Some("""WITH h AS (SELECT CAST(round(value * 100) AS BIGINT) c,
                              CAST(count(*) AS BIGINT) cnt
                       FROM events GROUP BY 1),
            cm AS (SELECT c, CAST(sum(cnt) OVER (ORDER BY c
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM h),
            t AS (SELECT CAST(sum(cnt) AS BIGINT) n FROM h),
            k AS (SELECT n, CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT) k_med,
                         greatest(1, CAST(floor((CAST(n AS DOUBLE) -
                           1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT)) k_lo
                  FROM t)
            SELECT max(k.n) n,
                   round(CAST(min(CASE WHEN cum >= k_med THEN c END) AS DOUBLE) / 100.0, 2)
                     median,
                   round(CAST(min(CASE WHEN cum >= k_lo THEN c END) AS DOUBLE) / 100.0, 2)
                     ci_lo,
                   round(CAST(min(CASE WHEN cum >= k.n - k_lo + 1 THEN c END) AS DOUBLE) /
                         100.0, 2) ci_hi
            FROM cm, k""")
  )

  /** Cumulative gains / lift table: users ranked by a score (their
    * total value), cut into exact-integer rank deciles, each reporting
    * its cumulative share of conversions vs population — the
    * "top 20% of scores captures X% of buyers" marketing-eval table
    * beside AP (q310) and ROC (q179). Decile = ⌈10·rank/n⌉ from a
    * deterministic (score desc, id) rank — exact integer bucketing,
    * the q242 RFM posture.
    */
  val q336GainsTable: QueryDef = QueryDef(
    "q336_gains_table",
    (s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      val n = users.agg(count(lit(1)).as("n"), sum(col("conv")).as("n_conv"))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      // r14: the score-rank window had NO partition key — the user
      // dimension ran through ONE task (guide §2.4/§5). Ranks keeps the
      // rank exact via the bucketed prefix sum; -(score div 2^20) is
      // monotone along (score DESC) and the cent sums near-continuous.
      // (wCum stays: it runs over the 10-row decile aggregate.)
      graft.operators.Ranks
        .rowNumber(users, expr("-(score div 1048576)"), "rk",
          col("score").desc, col("user_id"))
        .crossJoin(broadcast(n))
        .withColumn("decile", ceil(col("rk") * 10.0 / col("n")).cast("long"))
        .groupBy(col("decile"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(col("conv")).as("n_conv_d"),
          max(col("n_conv")).as("n_conv"))
        .select(
          col("decile"), col("n_users"),
          col("n_conv_d").as("conversions"),
          round(sum(col("n_conv_d")).over(wCum).cast("double") / col("n_conv"), 6)
            .as("cum_capture"))
    },
    Some("""WITH u AS (SELECT user_id,
                              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) score,
                              CAST(max(CASE WHEN event_type = 'purchase'
                                            THEN 1 ELSE 0 END) AS BIGINT) conv
                       FROM events GROUP BY 1),
            t AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(conv) AS BIGINT) n_conv
                  FROM u),
            r AS (SELECT conv, CAST(row_number() OVER
                    (ORDER BY score DESC, user_id) AS BIGINT) rk FROM u),
            d AS (SELECT CAST(ceil(rk * 10.0 / t.n) AS BIGINT) decile, conv, t.n_conv
                  FROM r, t),
            g AS (SELECT decile, CAST(count(*) AS BIGINT) n_users,
                         CAST(sum(conv) AS BIGINT) conversions,
                         CAST(max(n_conv) AS BIGINT) n_conv
                  FROM d GROUP BY 1)
            SELECT decile, n_users, conversions,
                   round(CAST(sum(conversions) OVER (ORDER BY decile
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n_conv, 6) cum_capture
            FROM g""")
  )

  /** Theil T inequality index with its exact between/within-group
    * decomposition (the additive-decomposability property Gini lacks):
    * per-user value totals grouped by user cohort, T = T_between +
    * T_within — snapped log terms, exact cent sums everywhere else.
    */
  val q337TheilDecomposition: QueryDef = QueryDef(
    "q337_theil",
    (s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy((col("user_id") % 5).as("g"), col("user_id"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"))
        .filter(col("x") > 0)
      val tot = users.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val withTot = users.crossJoin(broadcast(tot))
      // T = (1/n) Σ (x/μ)·ln(x/μ), μ = sx/n  ⇒ term = x·n/sx · ln(x·n/sx)
      val ratio = (col("x") * col("n")).cast("double") / col("sx")
      val t_total = withTot
        .select(snap(ratio * log(ratio)).as("term"), col("n"))
        .groupBy(col("n")).agg(sum(col("term")).as("st"))
        .select((col("st") / col("n")).as("t_total"))
      val groups = users.groupBy(col("g"))
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
      val t_between = groups
        .crossJoin(broadcast(tot))
        .select(
          snap(((col("sg").cast("double") / col("sx")) *
            log((col("sg") * col("n")).cast("double") / (col("sx") * col("ng")))))
            .as("term"))
        .agg(sum(col("term")).as("t_between"))
      t_total.crossJoin(t_between)
        .select(
          round(col("t_total"), 6).as("t_total"),
          round(col("t_between"), 6).as("t_between"),
          round(col("t_total") - col("t_between"), 6).as("t_within"))
    },
    Some("""WITH u AS (SELECT user_id % 5 g, user_id,
                              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) x
                       FROM events GROUP BY 1, 2),
            u2 AS (SELECT * FROM u WHERE x > 0),
            t AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sx FROM u2),
            tt AS (SELECT sum(floor((CAST(x * n AS DOUBLE) / sx) *
                             ln(CAST(x * n AS DOUBLE) / sx) * 1073741824.0 + 0.5) /
                             1073741824.0) / max(n) t_total
                   FROM u2, t),
            gr AS (SELECT g, CAST(count(*) AS BIGINT) ng, CAST(sum(x) AS BIGINT) sg
                   FROM u2 GROUP BY 1),
            tb AS (SELECT sum(floor((CAST(sg AS DOUBLE) / sx) *
                             ln(CAST(sg * n AS DOUBLE) / (sx * ng)) * 1073741824.0 + 0.5) /
                             1073741824.0) t_between
                   FROM gr, t)
            SELECT round(t_total, 6) t_total, round(t_between, 6) t_between,
                   round(t_total - t_between, 6) t_within
            FROM tt, tb""")
  )

  /** Population stability index (PSI) — the industry drift gate for
    * scored populations: the per-user value distribution over 10 fixed
    * bands, first half of the month vs second; PSI = Σ (p−q)·ln(p/q)
    * with Laplace-smoothed integer band counts so the log never sees
    * zero — snapped addends, verdict bands at 0.1/0.25.
    */
  val q338Psi: QueryDef = QueryDef(
    "q338_psi",
    (s, dir) => {
      val d0 = Tables.events(s, dir).agg(min(to_date(col("ts"))).as("d0"))
      val banded = Tables.events(s, dir)
        .crossJoin(broadcast(d0))
        .select(
          (datediff(to_date(col("ts")), col("d0")) < 15).as("is_a"),
          least(lit(9L), expr("CAST(round(value * 100) AS BIGINT) div 5000")).as("band"))
        .groupBy(col("band"))
        .agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
      val tots = banded.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      banded
        .crossJoin(broadcast(tots))
        .select(
          snap(
            (((col("ca") + 1L).cast("double") / (col("na") + 10L)) -
              ((col("cb") + 1L).cast("double") / (col("nb") + 10L))) *
              log(((col("ca") + 1L).cast("double") / (col("na") + 10L)) /
                ((col("cb") + 1L).cast("double") / (col("nb") + 10L)))).as("term"))
        .agg(round(sum(col("term")), 6).as("psi"))
        .select(
          col("psi"),
          when(col("psi") < 0.1, "stable")
            .when(col("psi") < 0.25, "moderate")
            .otherwise("shifted").as("verdict"))
    },
    Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) d0 FROM events),
            b AS (SELECT date_diff('day', d0.d0, CAST(ts AS DATE)) < 15 is_a,
                         least(9, CAST(round(value * 100) AS BIGINT) // 5000) band
                  FROM events, d0),
            g AS (SELECT band,
                         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) ca,
                         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) cb
                  FROM b GROUP BY 1),
            t AS (SELECT CAST(sum(ca) AS BIGINT) na, CAST(sum(cb) AS BIGINT) nb FROM g),
            s AS (SELECT round(sum(floor(
                    ((CAST(ca + 1 AS DOUBLE) / (na + 10)) -
                     (CAST(cb + 1 AS DOUBLE) / (nb + 10))) *
                    ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) /
                       (CAST(cb + 1 AS DOUBLE) / (nb + 10))) * 1073741824.0 + 0.5) /
                    1073741824.0), 6) psi
                  FROM g, t)
            SELECT psi, CASE WHEN psi < 0.1 THEN 'stable'
                             WHEN psi < 0.25 THEN 'moderate'
                             ELSE 'shifted' END verdict
            FROM s""")
  )

  val all: Seq[QueryDef] =
    Seq(q308Sssp, q309Isotonic, q310AvgPrecision, q311Kappa, q312Matching,
      q313DecayedCounts, q314Sax, q315EncodingAdvisor, q316CumDistinct,
      q317BitmapSegments, q318Ppr, q319FellegiSunter, q320Quarantine,
      q321Cmh, q322NextEvent, q323BrownForsythe, q324Holt, q325AHashNearDup,
      q326PositionAttribution, q327CohensD, q328RatioDelta, q329GoodTuring,
      q330ChowTest, q331LshPlanner, q332ColumnLineage, q333XmlSource,
      q334Unpivot, q335MedianCi, q336GainsTable, q337TheilDecomposition,
      q338Psi)
}
