package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Drift, Graph, QuantileNorm, Retrieval, Sessionize, Survival, Timeseries}
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-7 additions (q191+): survival analysis, exact time-series
  * statistics (ACF, change-point, per-group trend), distribution
  * alignment (quantile normalization), positional-index phrase search,
  * graph assortativity, and Markov transition matrices — the
  * measurement-and-diagnostics layer a corpus pipeline runs on top of
  * the ingest/dedup/similarity families.
  */
object Round7 {

  /** Kaplan–Meier survival ([[graft.operators.Survival.kaplanMeier]]):
    * right-censored per-user lifetime curve — users active inside the
    * final day are censored, not churned. The oracle replays lifetimes,
    * the at-risk cumsum, and the snapped ln-chain product verbatim.
    */
  val q191KaplanMeier: QueryDef = QueryDef(
    "q191_kaplan_meier",
    (s, dir) => Survival.kaplanMeier(Tables.events(s, dir)),
    Some("""WITH u AS (SELECT user_id, min(epoch_us(ts)) f, max(epoch_us(ts)) l
                       FROM events GROUP BY 1),
            m AS (SELECT max(epoch_us(ts)) mx FROM events),
            lt AS (SELECT (l - f) // 3600000000 AS t_hours,
                          l > mx - 86400000000 AS censored
                   FROM u CROSS JOIN m),
            byt AS (SELECT t_hours, CAST(count(*) AS BIGINT) n_at_t,
                           CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) n_events
                    FROM lt GROUP BY 1),
            tot AS (SELECT CAST(count(*) AS BIGINT) n_total FROM lt),
            r AS (SELECT t_hours, n_events,
                         n_total - coalesce(CAST(sum(n_at_t) OVER (ORDER BY t_hours
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                           AS n_risk
                  FROM byt CROSS JOIN tot),
            s AS (SELECT t_hours, n_events, n_risk,
                         CASE WHEN n_events < n_risk THEN
                           floor(ln(1 - CAST(n_events AS DOUBLE) / n_risk) *
                                 1073741824.0 + 0.5) / 1073741824.0
                         END AS addend,
                         CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS dead
                  FROM r),
            c AS (SELECT t_hours, n_events, n_risk,
                         sum(addend) OVER (ORDER BY t_hours) AS cum,
                         max(dead) OVER (ORDER BY t_hours) AS anydead
                  FROM s)
            SELECT t_hours, n_risk, n_events,
                   round(CASE WHEN anydead = 1 THEN 0.0 ELSE exp(cum) END, 6) AS survival
            FROM c WHERE n_events > 0""")
  )

  /** Exact hourly autocorrelation ([[graft.operators.Timeseries.acfHourly]]):
    * lags 1..12 of the zero-filled hourly count series, every term an
    * integer so the ratio is order-insensitive. The 24 h seasonal cycle
    * of the synthetic stream shows up as the lag-12 trough / lag-24
    * crest family. Oracle replays grid, totals, and the n²-scaled
    * formula.
    */
  val q192Acf: QueryDef = QueryDef(
    "q192_acf",
    (s, dir) => Timeseries.acfHourly(Tables.events(s, dir), maxLag = 12),
    Some("""WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hh FROM events),
            cnt AS (SELECT hh, CAST(count(*) AS BIGINT) x FROM h GROUP BY 1),
            b AS (SELECT min(hh) mn, max(hh) mx FROM cnt),
            grid AS (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM b),
            s AS (SELECT g.hh - g.mn AS idx, coalesce(c.x, 0) AS x
                  FROM grid g LEFT JOIN cnt c USING (hh)),
            tot AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sm,
                           CAST(sum(x * x) AS BIGINT) sxx FROM s),
            pr AS (SELECT k.k, a.x xa, b2.x xb
                   FROM range(1, 13) k(k)
                   CROSS JOIN s a
                   JOIN s b2 ON b2.idx = a.idx + k.k),
            per AS (SELECT k, CAST(count(*) AS BIGINT) n_pairs,
                           CAST(sum(xa * xb) AS BIGINT) sxy,
                           CAST(sum(xa) AS BIGINT) sa, CAST(sum(xb) AS BIGINT) sb
                    FROM pr GROUP BY 1)
            SELECT k AS lag_h, n_pairs,
                   round(CAST(n * n * sxy - n * sm * (sa + sb) + (n - k) * sm * sm AS DOUBLE) /
                         CAST(n * (n * sxx - sm * sm) AS DOUBLE), 6) AS acf
            FROM per CROSS JOIN tot""")
  )

  /** Max-CUSUM change-point ([[graft.operators.Timeseries.cusumChangepoint]]):
    * the split of the hourly count series maximizing |n·P_s − (s+1)·S| —
    * pure integer arithmetic, exact argmax, smallest-s tie-break. Oracle
    * replays prefix sums and the pick.
    */
  val q193Changepoint: QueryDef = QueryDef(
    "q193_changepoint",
    (s, dir) => Timeseries.cusumChangepoint(Tables.events(s, dir)),
    Some("""WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hh FROM events),
            cnt AS (SELECT hh, CAST(count(*) AS BIGINT) x FROM h GROUP BY 1),
            b AS (SELECT min(hh) mn, max(hh) mx FROM cnt),
            grid AS (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM b),
            s AS (SELECT g.mn, g.hh - g.mn AS idx, coalesce(c.x, 0) AS x
                  FROM grid g LEFT JOIN cnt c USING (hh)),
            tot AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sm FROM s),
            p AS (SELECT mn, idx, CAST(sum(x) OVER (ORDER BY idx) AS BIGINT) AS pf FROM s),
            st AS (SELECT mn, idx, pf, n, sm, abs(n * pf - (idx + 1) * sm) AS stat
                   FROM p CROSS JOIN tot WHERE idx < n - 1),
            pick AS (SELECT * FROM st ORDER BY stat DESC, idx ASC LIMIT 1)
            SELECT idx AS split_idx,
                   make_timestamp((mn + idx) * 3600000000) AS split_hour_ts,
                   CAST(stat AS BIGINT) AS stat,
                   round(CAST(pf AS DOUBLE) / (idx + 1), 6) AS left_mean,
                   round(CAST(sm - pf AS DOUBLE) / (n - idx - 1), 6) AS right_mean
            FROM pick""")
  )

  /** Quantile normalization ([[graft.operators.QuantileNorm.normalize]]):
    * per-event-type value distributions mapped onto the pooled
    * reference via exact rank positions and histogram-interval lookups
    * — no global sort. Oracle replays ranks, the position split in
    * HUGEINT, both interval lookups, and the snapped interpolation.
    */
  val q194QuantileNorm: QueryDef = QueryDef(
    "q194_quantile_norm",
    (s, dir) => QuantileNorm.normalize(Tables.events(s, dir), "event_type", "event_id", "value"),
    Some("""WITH base AS (SELECT event_type grp, event_id rid, value v FROM events),
            ranked AS (SELECT grp, rid, v,
                              CAST(row_number() OVER (PARTITION BY grp ORDER BY v, rid) AS BIGINT) rk,
                              CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) n_g
                       FROM base),
            hist AS (SELECT v hv, CAST(count(*) AS BIGINT) cnt FROM base GROUP BY 1),
            iv AS (SELECT hv, lo_pos, lo_pos + cnt - 1 AS hi_pos FROM (
                     SELECT hv, cnt,
                            coalesce(CAST(sum(cnt) OVER (ORDER BY hv
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                              AS lo_pos
                     FROM hist)),
            tot AS (SELECT CAST(count(*) AS BIGINT) n_all FROM base),
            pts AS (SELECT grp, rid, v,
                           CASE WHEN n_g > 1 THEN
                             CAST((CAST(rk - 1 AS HUGEINT) * (n_all - 1)) // (n_g - 1) AS BIGINT)
                           ELSE 0 END fl,
                           CASE WHEN n_g > 1 THEN
                             CAST((CAST(rk - 1 AS HUGEINT) * (n_all - 1)) % (n_g - 1) AS BIGINT)
                           ELSE 0 END fnum,
                           CASE WHEN n_g > 1 THEN n_g - 1 ELSE 1 END fden
                    FROM ranked CROSS JOIN tot),
            lo AS (SELECT p.grp, p.rid, p.v, p.fnum, p.fden, i.hv v_lo
                   FROM pts p JOIN iv i ON p.fl BETWEEN i.lo_pos AND i.hi_pos),
            hi AS (SELECT p.rid hid, i.hv v_hi
                   FROM pts p JOIN iv i ON p.fl + 1 BETWEEN i.lo_pos AND i.hi_pos
                   WHERE p.fnum > 0),
            mp AS (SELECT grp, v,
                          floor((v_lo + (CAST(fnum AS DOUBLE) / fden) *
                                 (coalesce(v_hi, v_lo) - v_lo)) * 1073741824.0 + 0.5) /
                            1073741824.0 AS mapped
                   FROM lo LEFT JOIN hi ON lo.rid = hi.hid)
            SELECT grp AS event_type, CAST(count(*) AS BIGINT) n,
                   round(avg(v), 6) AS mean_before,
                   round(avg(mapped), 6) AS mean_after,
                   round(min(mapped), 6) AS min_after,
                   round(max(mapped), 6) AS max_after
            FROM mp GROUP BY 1""")
  )

  /** Positional-index phrase search
    * ([[graft.operators.Retrieval.phraseSearch]]): postings pruned to
    * the phrase terms, aligned by (doc_id, pos − offset) equi-joins —
    * the IR-textbook intersection, not a per-document regex re-scan.
    * Oracle replays postings and both alignment joins.
    */
  val q195PhraseSearch: QueryDef = QueryDef(
    "q195_phrase_search",
    (s, dir) =>
      Retrieval.phraseSearch(Tables.documents(s, dir), Seq("stream", "table", "hash")),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
            tok AS (SELECT doc_id, pr.pos pos, pr.tok tok FROM (
                      SELECT doc_id,
                             unnest([{'pos': i, 'tok': ts[i + 1]}
                                     FOR i IN range(0, len(ts))]) pr
                      FROM t)),
            a AS (SELECT doc_id, pos FROM tok WHERE tok = 'stream'),
            b AS (SELECT doc_id, pos - 1 AS pos FROM tok WHERE tok = 'table'),
            c AS (SELECT doc_id, pos - 2 AS pos FROM tok WHERE tok = 'hash')
            SELECT doc_id, CAST(count(*) AS BIGINT) n_matches
            FROM a JOIN b USING (doc_id, pos) JOIN c USING (doc_id, pos)
            GROUP BY 1""")
  )

  /** Degree assortativity ([[graft.operators.Graph.assortativity]]) of
    * the q142 word co-occurrence graph: Pearson correlation of endpoint
    * degrees over the symmetrized edge list, exact integer sums, one √.
    * Oracle replays the edge derivation, degrees, and the closed form.
    */
  val q196Assortativity: QueryDef = QueryDef(
    "q196_assortativity",
    (s, dir) => {
      val edges = graft.operators.Cooccur
        .pmiPairs(Tables.documents(s, dir), window = 2, topK = 60)
        .select(col("a").as("src"), col("b").as("dst"))
      Graph.assortativity(edges)
    },
    Some("""WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
            pr AS (
              SELECT least(p.a, p.b) AS a, greatest(p.a, p.b) AS b FROM (
                SELECT unnest([{'a': ts[i], 'b': ts[i + 1]}
                               FOR i IN range(1, len(ts))]) AS p FROM t
                UNION ALL
                SELECT unnest([{'a': ts[i], 'b': ts[i + 2]}
                               FOR i IN range(1, len(ts) - 1)]) AS p FROM t)
              WHERE p.a != '' AND p.b != ''),
            e AS (SELECT a AS lo, b AS hi FROM (
                    SELECT a, b, count(*) AS c_ab FROM pr GROUP BY a, b
                    ORDER BY c_ab DESC, a ASC, b ASC LIMIT 60)
                  WHERE a != b),
            stubs AS (SELECT lo a, hi b FROM e UNION ALL SELECT hi, lo FROM e),
            deg AS (SELECT a, CAST(count(*) AS BIGINT) dg FROM stubs GROUP BY 1),
            j AS (SELECT d1.dg da, d2.dg db
                  FROM stubs s JOIN deg d1 ON d1.a = s.a JOIN deg d2 ON d2.a = s.b),
            agg AS (SELECT CAST(count(*) AS BIGINT) n,
                           CAST(sum(da) AS BIGINT) sa, CAST(sum(db) AS BIGINT) sb,
                           CAST(sum(da * da) AS BIGINT) saa,
                           CAST(sum(db * db) AS BIGINT) sbb,
                           CAST(sum(da * db) AS BIGINT) sab
                    FROM j)
            SELECT n // 2 AS n_edges,
                   CASE WHEN n * saa - sa * sa != 0 AND n * sbb - sb * sb != 0 THEN
                     round(CAST(n * sab - sa * sb AS DOUBLE) /
                           sqrt(CAST(n * saa - sa * sa AS DOUBLE) *
                                CAST(n * sbb - sb * sb AS DOUBLE)), 6)
                   END AS assortativity
            FROM agg""")
  )

  /** Per-group OLS trend ([[graft.operators.Timeseries.linregHourlyTrend]]):
    * slope/intercept/R² of hourly counts per event type on the shared
    * zero-filled hour grid — closed forms over exact integer sums.
    * Oracle replays grid, sums, and all three ratios.
    */
  val q197LinregTrend: QueryDef = QueryDef(
    "q197_linreg_trend",
    (s, dir) => Timeseries.linregHourlyTrend(Tables.events(s, dir), "event_type"),
    Some("""WITH cnt AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hh,
                                CAST(count(*) AS BIGINT) y
                         FROM events GROUP BY 1, 2),
            b AS (SELECT min(hh) mn, max(hh) mx FROM cnt),
            grid AS (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM b),
            g AS (SELECT DISTINCT event_type FROM cnt),
            s AS (SELECT g.event_type, gr.hh - gr.mn AS x, coalesce(c.y, 0) AS y
                  FROM g CROSS JOIN grid gr
                  LEFT JOIN cnt c ON c.event_type = g.event_type AND c.hh = gr.hh),
            a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
                         CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
                         CAST(sum(x * x) AS BIGINT) sxx, CAST(sum(x * y) AS BIGINT) sxy,
                         CAST(sum(y * y) AS BIGINT) syy
                  FROM s GROUP BY 1)
            SELECT event_type, n AS n_hours,
                   CASE WHEN n * sxx - sx * sx != 0 THEN
                     round(CAST(n * sxy - sx * sy AS DOUBLE) /
                           CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
                   CASE WHEN n * sxx - sx * sx != 0 THEN
                     round(CAST(sy * sxx - sx * sxy AS DOUBLE) /
                           CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS intercept,
                   CASE WHEN n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0 THEN
                     round((CAST(n * sxy - sx * sy AS DOUBLE) *
                            CAST(n * sxy - sx * sy AS DOUBLE)) /
                           (CAST(n * sxx - sx * sx AS DOUBLE) *
                            CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r2
            FROM a""")
  )

  /** Markov transition matrix ([[graft.operators.Sessionize.transitionMatrix]]):
    * per-user next-event transitions, row-normalized, with per-state
    * transition entropy (snapped addends). Oracle replays the lead
    * window, counts, ratios, and the entropy chain.
    */
  val q198Transitions: QueryDef = QueryDef(
    "q198_transitions",
    (s, dir) => Sessionize.transitionMatrix(Tables.events(s, dir)),
    Some("""WITH e AS (SELECT user_id, event_id, event_type cur, epoch_us(ts) us FROM events),
            t AS (SELECT cur, lead(cur) OVER (
                    PARTITION BY user_id ORDER BY us, event_id) nxt FROM e),
            c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) n_transitions
                  FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2),
            tt AS (SELECT cur, CAST(sum(n_transitions) AS BIGINT) n_cur FROM c GROUP BY 1),
            wp AS (SELECT c.cur, c.nxt, c.n_transitions,
                          CAST(c.n_transitions AS DOUBLE) / tt.n_cur p
                   FROM c JOIN tt USING (cur)),
            ent AS (SELECT cur,
                           round(-sum(floor(p * ln(p) * 1073741824.0 + 0.5) /
                                      1073741824.0), 6) cur_entropy
                    FROM wp GROUP BY 1)
            SELECT wp.cur, wp.nxt, wp.n_transitions, round(wp.p, 6) AS p, ent.cur_entropy
            FROM wp JOIN ent USING (cur)""")
  )

  /** Cross-correlation ([[graft.operators.Timeseries.ccfHourly]]):
    * click-vs-purchase hourly lead/lag at lags −12..+12, all-integer
    * numerator on the shared zero-filled grid. Oracle replays both
    * series, totals, and the scaled closed form.
    */
  val q199Ccf: QueryDef = QueryDef(
    "q199_ccf",
    (s, dir) => Timeseries.ccfHourly(Tables.events(s, dir), "click", "purchase", maxLag = 12),
    Some("""WITH cnt AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hh,
                                CAST(count(*) AS BIGINT) c
                         FROM events WHERE event_type IN ('click', 'purchase')
                         GROUP BY 1, 2),
            b AS (SELECT min(hh) mn, max(hh) mx FROM cnt),
            grid AS (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM b),
            s AS (SELECT g.hh - g.mn AS idx, coalesce(a.c, 0) AS x, coalesce(p.c, 0) AS y
                  FROM grid g
                  LEFT JOIN cnt a ON a.hh = g.hh AND a.event_type = 'click'
                  LEFT JOIN cnt p ON p.hh = g.hh AND p.event_type = 'purchase'),
            tot AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sx,
                           CAST(sum(y) AS BIGINT) sy, CAST(sum(x * x) AS BIGINT) sxx,
                           CAST(sum(y * y) AS BIGINT) syy FROM s),
            pr AS (SELECT k.k, a.x, b2.y
                   FROM range(-12, 13) k(k)
                   CROSS JOIN s a
                   JOIN s b2 ON b2.idx = a.idx + k.k),
            per AS (SELECT k, CAST(count(*) AS BIGINT) n_pairs,
                           CAST(sum(x * y) AS BIGINT) sxy,
                           CAST(sum(x) AS BIGINT) sxh, CAST(sum(y) AS BIGINT) syt
                    FROM pr GROUP BY 1)
            SELECT k AS lag_h, n_pairs,
                   round(CAST(n * n * sxy - n * sy * sxh - n * sx * syt +
                              n_pairs * sx * sy AS DOUBLE) /
                         (CAST(n AS DOUBLE) *
                          sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                               CAST(n * syy - sy * sy AS DOUBLE))), 6) AS ccf
            FROM per CROSS JOIN tot""")
  )

  /** Theil–Sen robust slope ([[graft.operators.Timeseries.theilSenSlope]]):
    * exact median of all pairwise hourly-count slopes — the pair set is
    * span-bounded (series², not corpus²). Oracle replays pairs and the
    * interpolating median.
    */
  val q200TheilSen: QueryDef = QueryDef(
    "q200_theil_sen",
    (s, dir) => Timeseries.theilSenSlope(Tables.events(s, dir)),
    Some("""WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hh FROM events),
            cnt AS (SELECT hh, CAST(count(*) AS BIGINT) x FROM h GROUP BY 1),
            b AS (SELECT min(hh) mn, max(hh) mx FROM cnt),
            grid AS (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM b),
            s AS (SELECT g.hh - g.mn AS idx, coalesce(c.x, 0) AS x
                  FROM grid g LEFT JOIN cnt c USING (hh)),
            p AS (SELECT (b2.x - a.x) / CAST(b2.idx - a.idx AS DOUBLE) AS slope
                  FROM s a JOIN s b2 ON b2.idx > a.idx)
            SELECT CAST(count(*) AS BIGINT) n_pairs,
                   round(quantile_cont(slope, 0.5), 6) AS slope_median
            FROM p""")
  )

  /** Rolling DAU/WAU/stickiness
    * ([[graft.operators.Sessionize.rollingActiveUsers]]): rolling
    * distinct via the (user, day) dedup + fixed window-day explode —
    * work is 7 × user·days, never 7 × events. Oracle replays the
    * membership explode and both distinct counts.
    */
  val q201RollingWau: QueryDef = QueryDef(
    "q201_rolling_wau",
    (s, dir) => Sessionize.rollingActiveUsers(Tables.events(s, dir), windowDays = 7),
    Some("""WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
                        FROM events),
            b AS (SELECT min(day) mn, max(day) mx FROM ud),
            dau AS (SELECT day, CAST(count(*) AS BIGINT) dau FROM ud GROUP BY 1),
            w AS (SELECT DISTINCT user_id, day + k.k AS day
                  FROM ud CROSS JOIN range(0, 7) k(k)),
            wau AS (SELECT day, CAST(count(*) AS BIGINT) wau FROM w GROUP BY 1)
            SELECT CAST(make_timestamp(d.day * 86400000000) AS DATE) AS day_date,
                   d.dau, w2.wau,
                   round(CAST(d.dau AS DOUBLE) / w2.wau, 6) AS stickiness
            FROM dau d JOIN wau w2 USING (day) CROSS JOIN b
            WHERE d.day <= b.mx""")
  )

  /** Per-group Gini ([[graft.operators.Drift.giniByGroup]]): value-mass
    * concentration per event type from the rank identity — everything
    * integer, one window + one agg, no O(n²) |xᵢ−xⱼ| join. Oracle
    * replays ranks and the identity.
    */
  val q202Gini: QueryDef = QueryDef(
    "q202_gini",
    (s, dir) => Drift.giniByGroup(Tables.events(s, dir), "event_type", "event_id", "value"),
    Some("""WITH cc AS (SELECT event_type, event_id,
                               CAST(round(value * 100) AS BIGINT) c FROM events),
            r AS (SELECT event_type, c,
                         CAST(row_number() OVER (
                           PARTITION BY event_type ORDER BY c, event_id) AS BIGINT) i
                  FROM cc),
            a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
                         CAST(sum(c) AS BIGINT) sc, CAST(sum(i * c) AS BIGINT) sic
                  FROM r GROUP BY 1)
            SELECT event_type, n,
                   CASE WHEN sc != 0 THEN
                     round(CAST(2 * sic - (n + 1) * sc AS DOUBLE) /
                           CAST(n * sc AS DOUBLE), 6) END AS gini
            FROM a""")
  )

  /** Benjamini–Hochberg FDR over per-source KS drift
    * ([[graft.operators.Drift.bhFdrKs]]): the multiple-testing layer on
    * top of q149 — asymptotic KS p-values (3-term snapped series), BH
    * step-up at α=0.05. Oracle replays the whole chain: ECDF grid,
    * λ, p-series, ranks, k*, and the step-up rejection set.
    */
  val q203BhFdr: QueryDef = QueryDef(
    "q203_bh_fdr",
    (s, dir) => Drift.bhFdrKs(Tables.documents(s, dir), "source", "n_chars", alpha = 0.05),
    Some("""WITH counts AS (SELECT source, n_chars AS v, count(*) AS c
                            FROM documents GROUP BY 1, 2),
            g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_g FROM counts GROUP BY 1),
            vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS c_all FROM counts GROUP BY 1),
            tot0 AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_all FROM vals),
            grid AS (SELECT g.source, g.n_g, t.n_all, vals.v, vals.c_all,
                            coalesce(c.c, 0) AS c
                     FROM g CROSS JOIN tot0 t CROSS JOIN vals
                     LEFT JOIN counts c ON c.source = g.source AND c.v = vals.v),
            cum AS (SELECT source, n_g, n_all, c_all,
                      sum(c) OVER (PARTITION BY source ORDER BY v) AS cum_g,
                      sum(c_all) OVER (PARTITION BY source ORDER BY v) AS cum_all
                    FROM grid),
            ks AS (SELECT source, n_g AS n, min(n_all) AS n_all,
                          round(max(abs(cum_g / n_g - (cum_all - cum_g) / (n_all - n_g))), 6)
                            AS ks_vs_rest
                   FROM cum GROUP BY source, n_g),
            mm AS (SELECT CAST(count(*) AS BIGINT) m FROM ks),
            lamt AS (SELECT source, n, ks_vs_rest, m,
                            ks_vs_rest * sqrt(CAST(n AS DOUBLE) * (n_all - n) / n_all) lam
                     FROM ks CROSS JOIN mm),
            pp AS (SELECT source, n, ks_vs_rest, m,
                          least(1.0, greatest(0.0, 2 * (
                            floor(exp(-2 * lam * lam) * 1073741824.0 + 0.5) / 1073741824.0 -
                            floor(exp(-8 * lam * lam) * 1073741824.0 + 0.5) / 1073741824.0 +
                            floor(exp(-18 * lam * lam) * 1073741824.0 + 0.5) / 1073741824.0)))
                            AS p_value
                   FROM lamt),
            r AS (SELECT *, CAST(row_number() OVER (ORDER BY p_value, source) AS BIGINT)
                              AS p_rank
                  FROM pp),
            kstar AS (SELECT max(CASE WHEN p_value <= p_rank * 0.05 / m
                                 THEN p_rank ELSE 0 END) k_star FROM r)
            SELECT source, n, ks_vs_rest, round(p_value, 6) AS p_value, p_rank,
                   p_rank <= k_star AS rejected
            FROM r CROSS JOIN kstar""")
  )

  /** Day-over-day trending items: per-day counts of the `props.k` item
    * dimension, Laplace-smoothed ratio against yesterday, top 3 movers
    * per day with min support — the burst screen a feed pipeline runs.
    * Exact integers + one division; per-day rank plans as
    * WindowGroupLimit. Oracle replays counts, the prev-day join, and
    * the rank.
    */
  val q204Trending: QueryDef = QueryDef(
    "q204_trending",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val items = Tables
        .events(s, dir)
        .select(
          expr("unix_micros(ts) div 86400000000").as("day"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
      val cnt = items
        .groupBy(col("day"), col("k"))
        .agg(count(lit(1)).as("c"))
        // day×item-sized; consumed by bounds, today, and yesterday joins
        .localCheckpoint()
      val bounds = cnt.agg(min(col("day")).as("mn"))
      val scored = cnt
        .crossJoin(broadcast(bounds))
        .filter(col("day") > col("mn") && col("c") >= 2)
        .join(
          cnt.select((col("day") + 1).as("day"), col("k"), col("c").as("c_prev")),
          Seq("day", "k"),
          "left")
        .na.fill(0L, Seq("c_prev"))
        .withColumn(
          "score",
          round((col("c") + 1).cast("double") / (col("c_prev") + 1).cast("double"), 6))
      val w = Window.partitionBy(col("day")).orderBy(col("score").desc, col("k").asc)
      scored
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(
          to_date(timestamp_micros(col("day") * 86400000000L)).as("day_date"),
          col("k"), col("c"), col("c_prev"), col("score"), col("rnk"))
    },
    Some("""WITH items AS (SELECT epoch_us(ts) // 86400000000 AS day,
                                  CAST(json_extract_string(props, '$.k') AS INT) AS k
                           FROM events),
            cnt AS (SELECT day, k, CAST(count(*) AS BIGINT) c FROM items GROUP BY 1, 2),
            b AS (SELECT min(day) mn FROM cnt),
            scored AS (SELECT t.day, t.k, t.c, coalesce(p.c, 0) AS c_prev,
                              round(CAST(t.c + 1 AS DOUBLE) / (coalesce(p.c, 0) + 1), 6)
                                AS score
                       FROM cnt t CROSS JOIN b
                       LEFT JOIN cnt p ON p.day = t.day - 1 AND p.k = t.k
                       WHERE t.day > b.mn AND t.c >= 2),
            r AS (SELECT *, CAST(row_number() OVER (
                    PARTITION BY day ORDER BY score DESC, k ASC) AS BIGINT) rnk
                  FROM scored)
            SELECT CAST(make_timestamp(day * 86400000000) AS DATE) AS day_date,
                   k, c, c_prev, score, rnk
            FROM r WHERE rnk <= 3""")
  )

  /** Additive schema evolution on the versioned lake
    * ([[graft.sources.LakeLog.readEvolved]]): commit 1 writes the
    * legacy shape, commit 2 appends rows WITH A NEW COLUMN; the evolved
    * read resolves the union schema and NULL-fills legacy rows — no
    * rewrite of old files. The oracle states the result relationally
    * from the source table, so the whole commit/merge mechanism must be
    * invisible.
    */
  val q205SchemaEvolution: QueryDef = QueryDef(
    "q205_schema_evolution",
    (s, dir) => {
      import graft.sources.LakeLog
      val ev = Tables.events(s, dir)
      val path = java.nio.file.Files
        .createTempDirectory("graft_q205").resolve("evolving").toString
      LakeLog.append(
        ev.filter(col("event_type") === "click").select(col("event_id"), col("user_id")),
        path)
      LakeLog.append(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value")),
        path)
      LakeLog
        .readEvolved(s, path)
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_legacy"),
          sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("n_evolved"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_value_cents"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_total,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_legacy,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_evolved,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                            THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
                     AS sum_value_cents
            FROM events WHERE event_type IN ('click', 'purchase')""")
  )

  /** Survivorship / golden record over the q58 duplicate clusters: per
    * connected component of the MinHash-LSH near-dup graph, elect the
    * most complete member (max n_chars, doc_id tie-break) — the MDM
    * "keep-best" decision after entity resolution, one conditional-agg
    * pass over the labeled members. Oracle replays the recursive-CTE
    * closure plus the election.
    */
  val q206GoldenRecord: QueryDef = QueryDef(
    "q206_golden_record",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val cc = graft.operators.Dedup
        .connectedComponents(graft.operators.Dedup.minhashPairs(docs))
      val w = Window
        .partitionBy(col("cluster_rep"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      cc.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("cluster_rep"))
        .agg(
          count(lit(1)).as("cluster_size"),
          sum(col("n_chars")).as("total_chars"),
          min(when(col("rn") === 1, col("doc_id"))).as("golden_doc"),
          min(when(col("rn") === 1, col("n_chars"))).as("golden_chars"))
    },
    Some(s"""WITH RECURSIVE pairs AS (${LlmQueries.ngramJaccardOracle}),
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION
              SELECT doc_b AS u, doc_a AS v FROM pairs),
            reach AS (
              SELECT u AS doc, u AS label FROM edges
              UNION
              SELECT e.u AS doc, r.label
              FROM edges e JOIN reach r ON r.doc = e.v),
            lab AS (SELECT doc, CAST(min(label) AS BIGINT) AS cluster_rep
                    FROM reach GROUP BY doc),
            mem AS (SELECT l.cluster_rep, l.doc, d.n_chars,
                           row_number() OVER (PARTITION BY l.cluster_rep
                             ORDER BY d.n_chars DESC, l.doc ASC) AS rn
                    FROM lab l JOIN documents d ON d.doc_id = l.doc)
            SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(min(CASE WHEN rn = 1 THEN doc END) AS BIGINT) AS golden_doc,
                   CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS golden_chars
            FROM mem GROUP BY 1""")
  )

  /** One Weiszfeld iteration in replay SQL ([[AnnReplaySql]] parity
    * rules: ordered positional distance folds, 2⁻²⁰ grid snap on every
    * reduction-order-dependent aggregate, eps singularity guard).
    */
  private def weiszfeldIterSql(i: Int): String = {
    val prev = if (i == 1) "y0" else s"y${i - 1}"
    s"""d$i AS (SELECT p.vec_id, p.v,
                 sqrt(list_sum([(p.v[j] - y.y[j]) * (p.v[j] - y.y[j])
                                FOR j IN range(1, 65)])) AS dist
          FROM pts p CROSS JOIN $prev y),
        w$i AS (SELECT vec_id, v, 1.0 / dist AS w FROM d$i WHERE dist > 1e-9),
        den$i AS (SELECT floor(sum(w) * 1048576.0) / 1048576.0 AS den FROM w$i),
        n$i AS (SELECT pos, floor(sum(val * w) * 1048576.0) / 1048576.0 AS num
                FROM (SELECT w, generate_subscripts(v, 1) AS pos, unnest(v) AS val
                      FROM w$i)
                GROUP BY pos),
        yv$i AS (SELECT pos, floor(num / den * 1048576.0) / 1048576.0 AS m
                 FROM n$i CROSS JOIN den$i),
        y$i AS (SELECT list(m ORDER BY pos) AS y FROM yv$i)"""
  }

  /** Weiszfeld geometric median
    * ([[graft.operators.Similarity.geometricMedian]]): the robust
    * centroid of the embedding cloud, 2 iterations from the mean, every
    * iterate grid-snapped. ORACLE-CHECKED end to end: DuckDB replays the
    * mean, both distance-weighted iterations, and the final rounding.
    */
  val q207GeoMedian: QueryDef = QueryDef(
    "q207_geomedian",
    (s, dir) => graft.operators.Similarity.geometricMedian(Tables.embeddings(s, dir), iters = 2),
    Some(s"""WITH pts AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                          FROM embeddings),
            e AS (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM pts),
            m0 AS (SELECT pos, floor(avg(val) * 1048576.0) / 1048576.0 AS m
                   FROM e GROUP BY pos),
            y0 AS (SELECT list(m ORDER BY pos) AS y FROM m0),
            ${weiszfeldIterSql(1)},
            ${weiszfeldIterSql(2)}
            SELECT CAST(m0.pos - 1 AS INT) AS pos, round(m0.m, 6) AS mean_coord,
                   round(yv2.m, 6) AS gmedian_coord
            FROM m0 JOIN yv2 USING (pos)""")
  )

  /** CUPED variance reduction ([[graft.operators.Eval.cupedAdjust]]):
    * pre-period covariate adjustment of a hash-split A/B readout —
    * θ and ρ² as exact-long-difference ratios, arm means adjusted from
    * arm totals alone. Oracle replays cent sums, moments, θ, and both
    * means.
    */
  val q208Cuped: QueryDef = QueryDef(
    "q208_cuped",
    (s, dir) => graft.operators.Eval.cupedAdjust(Tables.events(s, dir), splitDays = 15),
    Some("""WITH t0 AS (SELECT min(epoch_us(ts)) t0 FROM events),
            pu AS (SELECT user_id, CAST(user_id % 2 AS BIGINT) arm,
                          CAST(sum(CASE WHEN epoch_us(ts) < t0 + 1296000000000
                               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) x,
                          CAST(sum(CASE WHEN epoch_us(ts) >= t0 + 1296000000000
                               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) y
                   FROM events CROSS JOIN t0 GROUP BY 1, 2),
            g AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sx,
                         CAST(sum(y) AS BIGINT) sy, CAST(sum(x * x) AS BIGINT) sxx,
                         CAST(sum(x * y) AS BIGINT) sxy, CAST(sum(y * y) AS BIGINT) syy
                  FROM pu),
            a AS (SELECT arm, CAST(count(*) AS BIGINT) n_users,
                         CAST(sum(x) AS BIGINT) sxa, CAST(sum(y) AS BIGINT) sya
                  FROM pu GROUP BY 1),
            d AS (SELECT a.arm, a.n_users, a.sxa, a.sya, g.n, g.sx,
                         CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE) dxy,
                         CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE) dxx,
                         CAST(g.n * g.syy - g.sy * g.sy AS DOUBLE) dyy
                  FROM a CROSS JOIN g),
            t AS (SELECT *, CASE WHEN dxx != 0 THEN dxy / dxx ELSE 0.0 END theta FROM d)
            SELECT arm, n_users,
                   round(CAST(sya AS DOUBLE) / 100.0 / n_users, 6) AS mean_post,
                   round((CAST(sya AS DOUBLE) / n_users -
                          theta * (CAST(sxa AS DOUBLE) / n_users -
                                   CAST(sx AS DOUBLE) / n)) / 100.0, 6) AS mean_post_adj,
                   round(theta, 6) AS theta,
                   CASE WHEN dyy != 0 AND dxx != 0
                        THEN round(dxy * dxy / (dxx * dyy), 6) END AS rho2
            FROM t""")
  )

  /** Heaps'-law vocabulary growth
    * ([[graft.operators.TextAnalysis.heapsLaw]]): V ≈ K·N^β fitted over
    * 10 cumulative checkpoints — first-containing-doc decides each
    * word's checkpoint, so the whole curve is one distinct-word agg +
    * row-local bucket arithmetic. Oracle replays buckets, cumsums, and
    * the ln-ln OLS.
    */
  val q209HeapsLaw: QueryDef = QueryDef(
    "q209_heaps_law",
    (s, dir) => graft.operators.TextAnalysis.heapsLaw(Tables.documents(s, dir), buckets = 10),
    Some("""WITH b AS (SELECT min(doc_id) mn, max(doc_id) mx FROM documents),
            fd AS (SELECT ((min_doc - mn) * 10) // (mx - mn + 1) + 1 AS bk FROM (
                     SELECT w.word, min(w.doc_id) min_doc FROM (
                       SELECT doc_id, unnest(string_split(text, ' ')) word
                       FROM documents) w
                     WHERE length(w.word) > 0 GROUP BY 1) CROSS JOIN b),
            nw AS (SELECT bk, CAST(count(*) AS BIGINT) new_words FROM fd GROUP BY 1),
            tk AS (SELECT ((doc_id - mn) * 10) // (mx - mn + 1) + 1 AS bk,
                          CAST(sum(len(string_split(text, ' '))) AS BIGINT) toks
                   FROM documents CROSS JOIN b GROUP BY 1),
            curve AS (SELECT tk.bk,
                             CAST(sum(tk.toks) OVER (ORDER BY tk.bk) AS BIGINT) n_cum,
                             CAST(sum(coalesce(nw.new_words, 0)) OVER (ORDER BY tk.bk)
                                  AS BIGINT) v_cum
                      FROM tk LEFT JOIN nw USING (bk)),
            pts AS (SELECT n_cum, v_cum,
                           floor(ln(n_cum) * 1073741824.0 + 0.5) / 1073741824.0 lx,
                           floor(ln(v_cum) * 1073741824.0 + 0.5) / 1073741824.0 ly
                    FROM curve WHERE n_cum > 0 AND v_cum > 0),
            ag AS (SELECT CAST(count(*) AS BIGINT) m, max(n_cum) total_tokens,
                          max(v_cum) total_vocab, sum(lx) sx, sum(ly) sy,
                          sum(lx * lx) sxx, sum(lx * ly) sxy, sum(ly * ly) syy
                   FROM pts),
            d AS (SELECT *,
                         floor((m * sxy - sx * sy) * 1073741824.0 + 0.5) / 1073741824.0 dxy,
                         floor((m * sxx - sx * sx) * 1073741824.0 + 0.5) / 1073741824.0 dxx,
                         floor((m * syy - sy * sy) * 1073741824.0 + 0.5) / 1073741824.0 dyy
                  FROM ag)
            SELECT m AS n_checkpoints, total_tokens, total_vocab,
                   CASE WHEN dxx != 0 THEN round(dxy / dxx, 6) END AS beta,
                   CASE WHEN dxx != 0 THEN round((sy * sxx - sx * sxy) / dxx, 6) END AS ln_k,
                   CASE WHEN dxx != 0 AND dyy != 0
                        THEN round(dxy * dxy / (dxx * dyy), 6) END AS r2
            FROM d""")
  )

  /** k-anonymity / l-diversity audit
    * ([[graft.operators.Pii.kAnonymityAudit]]): re-identification risk
    * of the (lang, length-bucket) quasi-identifier with `source` as the
    * sensitive attribute — small equivalence classes and homogeneous
    * classes surfaced per language. Oracle replays classes and the
    * rollup.
    */
  val q210KAnonymity: QueryDef = QueryDef(
    "q210_k_anonymity",
    (s, dir) =>
      graft.operators.Pii.kAnonymityAudit(
        Tables.documents(s, dir),
        quasiCols = Seq(expr("n_chars div 50")),
        sensitiveCol = col("source"),
        reportCol = "lang",
        k = 5,
        l = 2),
    Some("""WITH cls AS (SELECT lang, n_chars // 50 AS qb,
                                CAST(count(*) AS BIGINT) class_n,
                                CAST(count(DISTINCT source) AS BIGINT) class_l
                         FROM documents GROUP BY 1, 2)
            SELECT lang, CAST(sum(class_n) AS BIGINT) n_rows,
                   CAST(count(*) AS BIGINT) n_classes,
                   CAST(sum(CASE WHEN class_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_small_classes,
                   CAST(sum(CASE WHEN class_n < 5 THEN class_n ELSE 0 END) AS BIGINT)
                     AS n_risky_rows,
                   round(CAST(sum(CASE WHEN class_n < 5 THEN class_n ELSE 0 END) AS DOUBLE) /
                         sum(class_n) * 100.0, 6) AS risky_row_pct,
                   CAST(min(class_l) AS BIGINT) AS min_l
            FROM cls GROUP BY 1""")
  )

  /** Difference-in-differences: 2×2 (arm × pre/post) cell means from
    * integer cent sums, DiD = (ΔT) − (ΔC) — the observational-causal
    * readout next to q208's variance-reduced A/B. One conditional agg,
    * a single row out, every mean an exact ratio.
    */
  val q211Did: QueryDef = QueryDef(
    "q211_did",
    (s, dir) => {
      val t0 = Tables.events(s, dir).agg(min(unix_micros(col("ts"))).as("t0"))
      val cut = col("t0") + lit(15L * 86400000000L)
      Tables
        .events(s, dir)
        .crossJoin(broadcast(t0))
        .select(
          (col("user_id") % 2).cast("long").as("arm"),
          (unix_micros(col("ts")) >= cut).as("post"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .agg(
          sum(when(col("arm") === 0 && !col("post"), 1L).otherwise(0L)).as("n00"),
          sum(when(col("arm") === 0 && col("post"), 1L).otherwise(0L)).as("n01"),
          sum(when(col("arm") === 1 && !col("post"), 1L).otherwise(0L)).as("n10"),
          sum(when(col("arm") === 1 && col("post"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("arm") === 0 && !col("post"), col("c")).otherwise(0L)).as("s00"),
          sum(when(col("arm") === 0 && col("post"), col("c")).otherwise(0L)).as("s01"),
          sum(when(col("arm") === 1 && !col("post"), col("c")).otherwise(0L)).as("s10"),
          sum(when(col("arm") === 1 && col("post"), col("c")).otherwise(0L)).as("s11"))
        .select(
          col("n00"), col("n01"), col("n10"), col("n11"),
          round(col("s00").cast("double") / 100.0 / col("n00").cast("double"), 6).as("mean_ctl_pre"),
          round(col("s01").cast("double") / 100.0 / col("n01").cast("double"), 6).as("mean_ctl_post"),
          round(col("s10").cast("double") / 100.0 / col("n10").cast("double"), 6).as("mean_trt_pre"),
          round(col("s11").cast("double") / 100.0 / col("n11").cast("double"), 6).as("mean_trt_post"),
          round(
            (col("s11").cast("double") / 100.0 / col("n11").cast("double") -
              col("s10").cast("double") / 100.0 / col("n10").cast("double")) -
              (col("s01").cast("double") / 100.0 / col("n01").cast("double") -
                col("s00").cast("double") / 100.0 / col("n00").cast("double")),
            6).as("did"))
    },
    Some("""WITH t0 AS (SELECT min(epoch_us(ts)) t0 FROM events),
            r AS (SELECT CAST(user_id % 2 AS BIGINT) arm,
                         epoch_us(ts) >= t0 + 1296000000000 post,
                         CAST(round(value * 100) AS BIGINT) c
                  FROM events CROSS JOIN t0),
            a AS (SELECT
                    CAST(sum(CASE WHEN arm = 0 AND NOT post THEN 1 ELSE 0 END) AS BIGINT) n00,
                    CAST(sum(CASE WHEN arm = 0 AND post THEN 1 ELSE 0 END) AS BIGINT) n01,
                    CAST(sum(CASE WHEN arm = 1 AND NOT post THEN 1 ELSE 0 END) AS BIGINT) n10,
                    CAST(sum(CASE WHEN arm = 1 AND post THEN 1 ELSE 0 END) AS BIGINT) n11,
                    CAST(sum(CASE WHEN arm = 0 AND NOT post THEN c ELSE 0 END) AS BIGINT) s00,
                    CAST(sum(CASE WHEN arm = 0 AND post THEN c ELSE 0 END) AS BIGINT) s01,
                    CAST(sum(CASE WHEN arm = 1 AND NOT post THEN c ELSE 0 END) AS BIGINT) s10,
                    CAST(sum(CASE WHEN arm = 1 AND post THEN c ELSE 0 END) AS BIGINT) s11
                  FROM r)
            SELECT n00, n01, n10, n11,
                   round(CAST(s00 AS DOUBLE) / 100.0 / n00, 6) AS mean_ctl_pre,
                   round(CAST(s01 AS DOUBLE) / 100.0 / n01, 6) AS mean_ctl_post,
                   round(CAST(s10 AS DOUBLE) / 100.0 / n10, 6) AS mean_trt_pre,
                   round(CAST(s11 AS DOUBLE) / 100.0 / n11, 6) AS mean_trt_post,
                   round((CAST(s11 AS DOUBLE) / 100.0 / n11 -
                          CAST(s10 AS DOUBLE) / 100.0 / n10) -
                         (CAST(s01 AS DOUBLE) / 100.0 / n01 -
                          CAST(s00 AS DOUBLE) / 100.0 / n00), 6) AS did
            FROM a""")
  )

  /** Poisson bootstrap CI
    * ([[graft.operators.Eval.poissonBootstrapMeanCi]]): the distributed
    * bootstrap — md5-dyadic uniforms through the hard-coded Poisson(1)
    * inverse CDF give every (row, replicate) an integer weight
    * row-locally; replicate means are exact cent ratios, the CI an
    * exact percentile over 50 of them. Oracle replays weights, means,
    * and the percentile.
    */
  val q212PoissonBootstrap: QueryDef = QueryDef(
    "q212_poisson_bootstrap",
    (s, dir) =>
      graft.operators.Eval.poissonBootstrapMeanCi(
        Tables.events(s, dir), "event_id", "value", reps = 50),
    Some("""WITH base AS (SELECT CAST(event_id AS VARCHAR) rid,
                                 CAST(round(value * 100) AS BIGINT) c FROM events),
            wb AS (SELECT rid, c, b.b,
                          CAST(('0x' || substring(md5(rid || ':' ||
                                CAST((b.b - 1) // 4 AS VARCHAR) || 'boot'),
                                CAST(((b.b - 1) % 4) * 8 + 1 AS INT), 8)) AS BIGINT)
                            / 4294967296.0 AS u
                   FROM base CROSS JOIN range(1, 51) b(b)),
            ww AS (SELECT b, c,
                          CASE WHEN u < 0.36787944117144233 THEN 0
                               WHEN u < 0.7357588823428847 THEN 1
                               WHEN u < 0.9196986029286058 THEN 2
                               WHEN u < 0.9810118431238463 THEN 3
                               WHEN u < 0.9963401531726563 THEN 4
                               WHEN u < 0.9994058151824183 THEN 5
                               WHEN u < 0.999916758850712 THEN 6
                               WHEN u < 0.9999897508033253 THEN 7
                               ELSE 8 END AS w
                   FROM wb),
            reps AS (SELECT b, CAST(sum(w * c) AS BIGINT) swc, CAST(sum(w) AS BIGINT) sw
                     FROM ww GROUP BY 1),
            rm AS (SELECT CAST(swc AS DOUBLE) / sw / 100.0 AS rep_mean
                   FROM reps WHERE sw > 0),
            ci AS (SELECT CAST(count(*) AS BIGINT) n_reps,
                          quantile_cont(rep_mean, 0.025) lo,
                          quantile_cont(rep_mean, 0.975) hi FROM rm),
            tot AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(c) AS BIGINT) sc FROM base)
            SELECT n, round(CAST(sc AS DOUBLE) / 100.0 / n, 6) AS mean, n_reps,
                   round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi
            FROM ci CROSS JOIN tot""")
  )

  /** Mann–Whitney U ([[graft.operators.Eval.mannWhitney]]): click vs
    * purchase value distributions compared by histogram midranks —
    * exact integer rank sums, tie-corrected normal z with continuity
    * correction. Oracle replays the doubled-midrank arithmetic.
    */
  val q213MannWhitney: QueryDef = QueryDef(
    "q213_mann_whitney",
    (s, dir) =>
      graft.operators.Eval.mannWhitney(
        Tables.events(s, dir), "event_type", "value", "click", "purchase"),
    Some("""WITH counts AS (SELECT value v, CAST(count(*) AS BIGINT) t,
                                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                                        AS BIGINT) ta
                            FROM events WHERE event_type IN ('click', 'purchase')
                            GROUP BY 1),
            rk AS (SELECT *, coalesce(CAST(sum(t) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) cum_excl
                   FROM counts),
            ag AS (SELECT CAST(sum(ta) AS BIGINT) n_a, CAST(sum(t - ta) AS BIGINT) n_b,
                          CAST(sum(ta * (2 * cum_excl + t + 1)) AS BIGINT) r2a,
                          CAST(sum(t * t * t - t) AS BIGINT) tie3
                   FROM rk),
            d AS (SELECT *, n_a + n_b n_tot,
                         r2a - n_a * (n_a + 1) - n_a * n_b d2 FROM ag),
            sg AS (SELECT *, CAST(n_a AS DOUBLE) * n_b / 12.0 *
                             (CAST(n_tot + 1 AS DOUBLE) -
                              CAST(tie3 AS DOUBLE) / CAST(n_tot * (n_tot - 1) AS DOUBLE))
                             AS sigma2
                   FROM d)
            SELECT n_a, n_b,
                   CAST(d2 + n_a * n_b AS DOUBLE) / 2.0 AS u_stat,
                   CASE WHEN d2 = 0 OR sigma2 <= 0 THEN 0.0
                        ELSE round(sign(CAST(d2 AS DOUBLE)) *
                                   (abs(CAST(d2 AS DOUBLE)) - 1.0) /
                                   (2.0 * sqrt(sigma2)), 6) END AS z
            FROM sg""")
  )

  /** n-gram novelty ([[graft.operators.TextAnalysis.ngramNovelty]]):
    * per-document fraction of distinct trigrams seen nowhere else —
    * the diversity dual of dedup. Oracle replays md5 gram identities,
    * df counts, and the join back.
    */
  val q214NgramNovelty: QueryDef = QueryDef(
    "q214_ngram_novelty",
    (s, dir) => graft.operators.TextAnalysis.ngramNovelty(Tables.documents(s, dir), n = 3),
    Some("""WITH g AS (SELECT doc_id,
                              unnest(list_distinct([md5(array_to_string(ts[i + 1 : i + 3], ' '))
                                                    FOR i IN range(0, len(ts) - 2)])) gram
                       FROM (SELECT doc_id, string_split(text, ' ') ts FROM documents)
                       WHERE len(ts) >= 3),
            d AS (SELECT gram, CAST(count(*) AS BIGINT) df FROM g GROUP BY 1)
            SELECT g.doc_id, CAST(count(*) AS BIGINT) n_grams,
                   CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) n_novel,
                   round(CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                         count(*), 6) AS novelty
            FROM g JOIN d USING (gram) GROUP BY 1""")
  )

  /** Streaming moments sketch
    * ([[graft.streaming.StreamingOps.runStreamingMoments]]): per-type
    * (n, Σ, Σ², max) cents maintained as one stateful streaming agg —
    * end state ≡ batch, so the oracle replays the batch moments and the
    * read-time mean/σ/z_max extraction.
    */
  val q215StreamMoments: QueryDef = QueryDef(
    "q215_stream_moments",
    (s, dir) => graft.streaming.StreamingOps.runStreamingMoments(s, dir),
    Some("""WITH cc AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) c FROM events),
            a AS (SELECT event_type, CAST(count(*) AS BIGINT) n, CAST(sum(c) AS BIGINT) s,
                         CAST(sum(c * c) AS BIGINT) s2, CAST(max(c) AS BIGINT) mx
                  FROM cc GROUP BY 1)
            SELECT event_type, n,
                   round(CAST(s AS DOUBLE) / 100.0 / n, 6) AS mean,
                   round(sqrt(CAST(n * s2 - s * s AS DOUBLE)) / n / 100.0, 6) AS stddev,
                   CASE WHEN n * s2 - s * s > 0 THEN
                     round(CAST(n * mx - s AS DOUBLE) /
                           sqrt(CAST(n * s2 - s * s AS DOUBLE)), 6) END AS z_max
            FROM a""")
  )

  /** Top session paths ([[graft.operators.Sessionize.topSessionPaths]]):
    * gaps-and-islands sessions reduced to their first-5-step event-type
    * sequences, most common paths ranked. Oracle replays sessions, the
    * ordered path fold, and the top-k.
    */
  val q216SessionPaths: QueryDef = QueryDef(
    "q216_session_paths",
    (s, dir) => Sessionize.topSessionPaths(Tables.events(s, dir)),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) us FROM events),
            s AS (SELECT user_id, event_id, event_type, us,
                         CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                              THEN 1 ELSE 0 END brk
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id) sess
                   FROM s),
            p AS (SELECT user_id, sess,
                         array_to_string((list(event_type ORDER BY us, event_id))[1:5], '>')
                           AS path
                  FROM s2 GROUP BY 1, 2)
            SELECT path, CAST(count(*) AS BIGINT) n_sessions
            FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 10""")
  )

  /** Cluster-weighted sampling
    * ([[graft.operators.Sampling.clusterWeightedSample]]): soft dedup —
    * keep-probability 1/|cluster| as an exact integer md5 draw over the
    * q58 closure labels (+ singletons). Oracle replays the closure, the
    * draw, and the per-size audit.
    */
  val q217ClusterSample: QueryDef = QueryDef(
    "q217_cluster_sample",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Sampling.clusterWeightedSample(
        docs,
        graft.operators.Dedup.connectedComponents(graft.operators.Dedup.minhashPairs(docs)))
    },
    Some(s"""WITH RECURSIVE pairs AS (${LlmQueries.ngramJaccardOracle}),
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION
              SELECT doc_b AS u, doc_a AS v FROM pairs),
            reach AS (
              SELECT u AS doc, u AS label FROM edges
              UNION
              SELECT e.u AS doc, r.label
              FROM edges e JOIN reach r ON r.doc = e.v),
            lab AS (SELECT doc, CAST(min(label) AS BIGINT) AS cluster_rep
                    FROM reach GROUP BY doc),
            m AS (SELECT d.doc_id, coalesce(l.cluster_rep, d.doc_id) AS cluster
                  FROM documents d LEFT JOIN lab l ON l.doc = d.doc_id),
            sz AS (SELECT cluster, CAST(count(*) AS BIGINT) csize FROM m GROUP BY 1),
            k AS (SELECT m.doc_id, m.cluster, sz.csize,
                         CAST(('0x' || substring(md5(CAST(m.doc_id AS VARCHAR) || 'csample'),
                               1, 8)) AS BIGINT) u
                  FROM m JOIN sz USING (cluster))
            SELECT csize AS cluster_size,
                   CAST(count(DISTINCT cluster) AS BIGINT) n_clusters,
                   CAST(count(*) AS BIGINT) n_docs,
                   CAST(sum(CASE WHEN u * csize < 4294967296 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_kept
            FROM k GROUP BY 1""")
  )

  /** Cohort LTV ([[graft.operators.Sessionize.cohortLtv]]): cumulative
    * per-user revenue along each first-seen-week cohort's timeline —
    * exact cents, calendar-bounded running sum. Oracle replays cohorts,
    * weekly sums, cumsum, and the ratio.
    */
  val q218CohortLtv: QueryDef = QueryDef(
    "q218_cohort_ltv",
    (s, dir) => Sessionize.cohortLtv(Tables.events(s, dir)),
    Some("""WITH fw AS (SELECT user_id,
                               CAST(date_trunc('week', min(ts)) AS DATE) cw
                        FROM events GROUP BY 1),
            sizes AS (SELECT cw, CAST(count(*) AS BIGINT) cohort_size FROM fw GROUP BY 1),
            rev AS (SELECT f.cw,
                           CAST(datediff('day', f.cw, CAST(date_trunc('week', e.ts) AS DATE))
                                // 7 AS INT) week_offset,
                           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                             week_cents
                    FROM events e JOIN fw f USING (user_id)
                    GROUP BY 1, 2),
            cum AS (SELECT cw, week_offset,
                           CAST(sum(week_cents) OVER (PARTITION BY cw ORDER BY week_offset)
                                AS BIGINT) cum_revenue_cents
                    FROM rev)
            SELECT c.cw AS cohort_week, c.week_offset, s.cohort_size, c.cum_revenue_cents,
                   round(CAST(c.cum_revenue_cents AS DOUBLE) / 100.0 / s.cohort_size, 6)
                     AS ltv_per_user
            FROM cum c JOIN sizes s USING (cw)""")
  )

  /** Join-cardinality estimator diagnostics: the optimizer-statistics
    * view — exact self-join cardinality on l_partkey (Σ cnt²) next to
    * the two classic estimates (uniform-over-NDV and 64-bucket
    * histogram, each bucket uniform over its own NDV), with signed
    * relative errors. Bucket addends snap to the 2⁻³⁰ grid before the
    * 64-term sum.
    */
  val q219JoinCardinality: QueryDef = QueryDef(
    "q219_join_cardinality",
    (s, dir) => {
      val perKey = Tables
        .lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val glob = perKey.agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(col("cnt") * col("cnt")).as("exact_pairs"))
      val bucketEst = perKey
        .groupBy(pmod(col("l_partkey"), lit(64L)).as("b"))
        .agg(sum(col("cnt")).as("nb"), count(lit(1)).as("db"))
        .agg(
          sum(
            floor(
              (col("nb") * col("nb")).cast("double") / col("db").cast("double") * Grid30 +
                0.5) / Grid30).as("est_bucket"))
      glob
        .crossJoin(broadcast(bucketEst))
        .select(
          col("n_rows"),
          col("n_keys"),
          col("exact_pairs"),
          round(col("est_bucket"), 6).as("est_bucket"),
          round(
            (col("n_rows") * col("n_rows")).cast("double") / col("n_keys").cast("double"),
            6).as("est_uniform"),
          round(col("est_bucket") / col("exact_pairs").cast("double") - 1.0, 6)
            .as("err_bucket"),
          round(
            (col("n_rows") * col("n_rows")).cast("double") / col("n_keys").cast("double") /
              col("exact_pairs").cast("double") - 1.0,
            6).as("err_uniform"))
    },
    Some("""WITH pk AS (SELECT l_partkey, CAST(count(*) AS BIGINT) cnt
                        FROM lineitem GROUP BY 1),
            g AS (SELECT CAST(sum(cnt) AS BIGINT) n_rows, CAST(count(*) AS BIGINT) n_keys,
                         CAST(sum(cnt * cnt) AS BIGINT) exact_pairs FROM pk),
            bk AS (SELECT l_partkey % 64 AS b, CAST(sum(cnt) AS BIGINT) nb,
                          CAST(count(*) AS BIGINT) db FROM pk GROUP BY 1),
            be AS (SELECT sum(floor(CAST(nb * nb AS DOUBLE) / db * 1073741824.0 + 0.5) /
                              1073741824.0) AS est_bucket FROM bk)
            SELECT n_rows, n_keys, exact_pairs,
                   round(est_bucket, 6) AS est_bucket,
                   round(CAST(n_rows * n_rows AS DOUBLE) / n_keys, 6) AS est_uniform,
                   round(est_bucket / exact_pairs - 1.0, 6) AS err_bucket,
                   round(CAST(n_rows * n_rows AS DOUBLE) / n_keys / exact_pairs - 1.0, 6)
                     AS err_uniform
            FROM g CROSS JOIN be""")
  )

  /** Neyman-optimal allocation ([[graft.operators.Sampling.neymanAlloc]]):
    * budget split ∝ N_h·σ_h = √(N·Σc²−S²) exactly, largest-remainder
    * integerized. Oracle replays weights, quotas, and the remainder
    * ranking.
    */
  val q220NeymanAlloc: QueryDef = QueryDef(
    "q220_neyman_alloc",
    (s, dir) =>
      graft.operators.Sampling.neymanAlloc(Tables.events(s, dir), "event_type", "value", 1000L),
    Some("""WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) n_s,
                              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) sc,
                              CAST(sum(CAST(round(value * 100) AS BIGINT) *
                                       CAST(round(value * 100) AS BIGINT)) AS BIGINT) sc2
                       FROM events GROUP BY 1),
            w AS (SELECT *, sqrt(CAST(n_s * sc2 - sc * sc AS DOUBLE)) w FROM m),
            t AS (SELECT sum(w) wtot FROM w),
            q AS (SELECT event_type, n_s, w, 1000.0 * w / wtot AS quota
                  FROM w CROSS JOIN t),
            q2 AS (SELECT *, CAST(floor(quota) AS BIGINT) base, quota - floor(quota) frac
                   FROM q),
            d AS (SELECT 1000 - CAST(sum(base) AS BIGINT) deficit FROM q2),
            r AS (SELECT *, CAST(row_number() OVER (ORDER BY frac DESC, event_type ASC)
                                 AS BIGINT) rn
                  FROM q2)
            SELECT event_type, n_s AS n_rows,
                   round(w / n_s / 100.0, 6) AS sigma,
                   base + CASE WHEN rn <= d.deficit THEN 1 ELSE 0 END AS alloc
            FROM r CROSS JOIN d""")
  )

  /** Point-in-time (SCD2) dimension join: every lineitem fact joined to
    * the customer's order-status SCD2 interval COVERING its ship date —
    * the as-at warehouse lookup — through the binned
    * [[graft.operators.RangeJoin.pointInInterval]] with the customer as
    * an extra equi-key (no nested loop; open intervals closed at the
    * fact horizon so bin ranges stay bounded). Oracle replays the SCD2
    * build and the BETWEEN join.
    */
  val q221PitJoin: QueryDef = QueryDef(
    "q221_pit_join",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("ts"), col("o_orderkey"))
      val changes = Tables
        .orders(s, dir)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("ts"),
          col("o_orderstatus").as("status"))
        .withColumn("prev", lag(col("status"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("status"))
      val scd = changes.select(
        col("o_custkey"),
        col("status"),
        unix_micros(col("ts")).as("eff_from"),
        unix_micros(lead(col("ts"), 1).over(w)).as("eff_to"))
      val facts = Tables
        .lineitem(s, dir)
        .join(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          col("o_custkey"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
      val horizon = facts.agg(max(col("ship_us")).as("mx"))
      val dim = scd
        .crossJoin(broadcast(horizon))
        .select(
          col("o_custkey"),
          col("status"),
          col("eff_from"),
          coalesce(col("eff_to") - 1, col("mx")).as("eff_close"))
      val binSize = graft.operators.RangeJoin.autoBinSize(dim, "eff_from", "eff_close")
      graft.operators.RangeJoin
        .pointInInterval(facts, dim, "ship_us", "eff_from", "eff_close", binSize,
          extraKeys = Seq("o_custkey"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_facts"))
    },
    Some("""WITH ordered AS (
              SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) ts,
                     o_orderstatus status,
                     lag(o_orderstatus) OVER (PARTITION BY o_custkey
                       ORDER BY CAST(o_orderdate AS TIMESTAMP), o_orderkey) prev
              FROM orders),
            ch AS (SELECT * FROM ordered WHERE prev IS NULL OR prev != status),
            scd AS (SELECT o_custkey, status, epoch_us(ts) eff_from,
                           lead(epoch_us(ts)) OVER (PARTITION BY o_custkey
                             ORDER BY ts, o_orderkey) eff_to
                    FROM ch),
            f AS (SELECT o.o_custkey, epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) ship_us
                  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
            hz AS (SELECT max(ship_us) mx FROM f)
            SELECT s.status, CAST(count(*) AS BIGINT) n_facts
            FROM f
            JOIN scd s ON s.o_custkey = f.o_custkey
             AND f.ship_us >= s.eff_from
             AND f.ship_us <= coalesce(s.eff_to - 1, (SELECT mx FROM hz))
            GROUP BY 1""")
  )

  /** Metric movement decomposition: week-over-week total change broken
    * into per-event-type contributions — "what moved the metric", the
    * first question every metrics review asks. Exact integers; shares
    * guard against a zero total move.
    */
  val q222MetricDecomposition: QueryDef = QueryDef(
    "q222_metric_decomp",
    (s, dir) => {
      val ev = Tables
        .events(s, dir)
        .select(col("event_type"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .localCheckpoint()
      val wmax = ev.agg(max(col("wk")).as("w1"))
      val wprev = ev
        .crossJoin(broadcast(wmax))
        .filter(col("wk") < col("w1"))
        .agg(max(col("wk")).as("w0"))
      val counts = ev
        .crossJoin(broadcast(wmax))
        .crossJoin(broadcast(wprev))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("wk") === col("w0"), 1L).otherwise(0L)).as("prev_n"),
          sum(when(col("wk") === col("w1"), 1L).otherwise(0L)).as("cur_n"))
        .withColumn("delta", col("cur_n") - col("prev_n"))
        .localCheckpoint()
      val tot = counts.agg(sum(col("delta")).as("total_delta"))
      counts
        .crossJoin(broadcast(tot))
        .select(
          col("event_type"),
          col("prev_n"),
          col("cur_n"),
          col("delta"),
          col("total_delta"),
          when(col("total_delta") =!= 0L,
            round(col("delta").cast("double") / col("total_delta").cast("double") * 100.0, 6))
            .as("contribution_pct"))
    },
    Some("""WITH e AS (SELECT event_type, CAST(date_trunc('week', ts) AS DATE) wk
                       FROM events),
            w1 AS (SELECT max(wk) w1 FROM e),
            w0 AS (SELECT max(wk) w0 FROM e CROSS JOIN w1 WHERE wk < w1),
            c AS (SELECT event_type,
                         CAST(sum(CASE WHEN wk = w0 THEN 1 ELSE 0 END) AS BIGINT) prev_n,
                         CAST(sum(CASE WHEN wk = w1 THEN 1 ELSE 0 END) AS BIGINT) cur_n
                  FROM e CROSS JOIN w1 CROSS JOIN w0 GROUP BY 1),
            d AS (SELECT *, cur_n - prev_n delta FROM c),
            t AS (SELECT CAST(sum(delta) AS BIGINT) total_delta FROM d)
            SELECT event_type, prev_n, cur_n, delta, total_delta,
                   CASE WHEN total_delta != 0 THEN
                     round(CAST(delta AS DOUBLE) / total_delta * 100.0, 6) END
                     AS contribution_pct
            FROM d CROSS JOIN t""")
  )

  /** Time-to-convert: hours from each user's FIRST view to their first
    * purchase AFTER it — exact µs arithmetic, exact interpolating
    * percentiles (q3 parity). The conversion-latency readout next to
    * the q132 funnel.
    */
  val q223TimeToConvert: QueryDef = QueryDef(
    "q223_time_to_convert",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val firstView = ev
        .filter(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("v_us"))
      val delays = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .join(firstView, "user_id")
        .filter(col("p_us") > col("v_us"))
        .groupBy(col("user_id"))
        .agg(min(col("p_us")).as("first_p"))
        .join(firstView, "user_id")
        .select(expr("(first_p - v_us) div 3600000000").as("delay_h"))
      delays.agg(
        count(lit(1)).as("n_converted"),
        expr("percentile(delay_h, 0.5)").as("p50_hours"),
        expr("percentile(delay_h, 0.9)").as("p90_hours"))
    },
    Some("""WITH fv AS (SELECT user_id, min(epoch_us(ts)) v_us FROM events
                        WHERE event_type = 'view' GROUP BY 1),
            fp AS (SELECT e.user_id, min(epoch_us(e.ts)) first_p
                   FROM events e JOIN fv ON fv.user_id = e.user_id
                   WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > fv.v_us
                   GROUP BY 1),
            d AS (SELECT (fp.first_p - fv.v_us) // 3600000000 AS delay_h
                  FROM fp JOIN fv USING (user_id))
            SELECT CAST(count(*) AS BIGINT) n_converted,
                   quantile_cont(delay_h, 0.5) AS p50_hours,
                   quantile_cont(delay_h, 0.9) AS p90_hours
            FROM d""")
  )

  /** Murphy decomposition of the Brier score over the q183 calibration
    * setup: Brier = REL − RES + UNC (+ within-bin variance residual) —
    * reliability/resolution/uncertainty from per-bin sums, addends
    * snapped to the 2⁻³⁰ grid. The "is the classifier honest AND
    * discriminating" split one ECE number can't give.
    */
  val q224BrierDecomp: QueryDef = QueryDef(
    "q224_brier_decomp",
    (s, dir) => {
      val scored = Tables
        .documents(s, dir)
        .select(
          round(lit(1.0) / (lit(1.0) + exp(-(col("n_chars") - 306) / lit(100.0))), 6)
            .as("p"),
          (col("lang") === "en").cast("long").as("y"))
        .withColumn("bin", floor(col("p") * 10).cast("int"))
        .localCheckpoint()
      val bins = scored
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_k"), sum(col("p")).as("sp"), sum(col("y")).as("sy"))
        .localCheckpoint()
      val tot = scored.agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("ny"),
        sum(snap((col("p") - col("y")) * (col("p") - col("y")))).as("sq"))
      bins
        .crossJoin(broadcast(tot))
        .withColumn("obar", col("ny").cast("double") / col("n").cast("double"))
        .agg(
          max(col("n")).as("n"),
          round(max(col("sq")) / max(col("n")).cast("double"), 6).as("brier"),
          round(
            sum(snap(
              (col("sp") - col("sy")) * (col("sp") - col("sy")) /
                col("n_k").cast("double"))) / max(col("n")).cast("double"),
            6).as("reliability"),
          round(
            sum(snap(
              (col("sy").cast("double") / col("n_k").cast("double") - col("obar")) *
                (col("sy").cast("double") / col("n_k").cast("double") - col("obar")) *
                col("n_k").cast("double"))) / max(col("n")).cast("double"),
            6).as("resolution"),
          round(max(col("obar")) * (lit(1.0) - max(col("obar"))), 6).as("uncertainty"))
    },
    Some("""WITH s AS (SELECT round(1.0 / (1.0 + exp(-(n_chars - 306) / 100.0)), 6) p,
                              CASE WHEN lang = 'en' THEN 1 ELSE 0 END y,
                              CAST(floor(round(1.0 / (1.0 + exp(-(n_chars - 306) / 100.0)), 6)
                                   * 10) AS INT) bin
                       FROM documents),
            b AS (SELECT bin, CAST(count(*) AS BIGINT) n_k, sum(p) sp,
                         CAST(sum(y) AS BIGINT) sy FROM s GROUP BY 1),
            t AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(y) AS BIGINT) ny,
                         sum(floor((p - y) * (p - y) * 1073741824.0 + 0.5) / 1073741824.0) sq
                  FROM s),
            o AS (SELECT b.*, t.n, t.ny, t.sq, CAST(t.ny AS DOUBLE) / t.n obar
                  FROM b CROSS JOIN t)
            SELECT max(n) AS n,
                   round(max(sq) / max(n), 6) AS brier,
                   round(sum(floor((sp - sy) * (sp - sy) / n_k * 1073741824.0 + 0.5) /
                             1073741824.0) / max(n), 6) AS reliability,
                   round(sum(floor((CAST(sy AS DOUBLE) / n_k - obar) *
                                   (CAST(sy AS DOUBLE) / n_k - obar) * n_k *
                                   1073741824.0 + 0.5) / 1073741824.0) / max(n), 6)
                     AS resolution,
                   round(max(obar) * (1.0 - max(obar)), 6) AS uncertainty
            FROM o""")
  )

  /** Per-group Lorenz curve deciles — [[graft.operators.Drift.giniByGroup]]'s
    * pointwise companion: within each event type, rows ranked by value
    * (id tie-break) split into exact integer-arithmetic deciles, each
    * decile's share of the group's cent mass. GROUP-partitioned window
    * (the gini posture), everything integer until the final shares.
    */
  val q225Lorenz: QueryDef = QueryDef(
    "q225_lorenz",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("c"), col("event_id"))
      val ranked = Tables
        .events(s, dir)
        .select(
          col("event_type"),
          col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n_g", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .withColumn("decile", expr("((r - 1) * 10) div n_g").cast("int") + 1)
      ranked
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("decile_cents"))
        .withColumn(
          "total_cents",
          sum(col("decile_cents")).over(Window.partitionBy(col("event_type"))))
        .withColumn(
          "cum_cents",
          sum(col("decile_cents")).over(
            Window.partitionBy(col("event_type")).orderBy(col("decile"))
              .rowsBetween(Window.unboundedPreceding, 0)))
        .select(
          col("event_type"),
          col("decile"),
          col("n"),
          col("decile_cents"),
          round(col("cum_cents").cast("double") / col("total_cents").cast("double") * 100.0, 6)
            .as("cum_value_pct"))
    },
    Some("""WITH cc AS (SELECT event_type, event_id,
                               CAST(round(value * 100) AS BIGINT) c FROM events),
            r AS (SELECT event_type, c,
                         CAST(row_number() OVER (PARTITION BY event_type
                           ORDER BY c, event_id) AS BIGINT) r,
                         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) n_g
                  FROM cc),
            d AS (SELECT event_type, CAST(((r - 1) * 10) // n_g AS INT) + 1 AS decile,
                         CAST(count(*) AS BIGINT) n, CAST(sum(c) AS BIGINT) decile_cents
                  FROM r GROUP BY 1, 2),
            t AS (SELECT *, CAST(sum(decile_cents) OVER (PARTITION BY event_type) AS BIGINT)
                              total_cents,
                         CAST(sum(decile_cents) OVER (PARTITION BY event_type
                           ORDER BY decile) AS BIGINT) cum_cents
                  FROM d)
            SELECT event_type, decile, n, decile_cents,
                   round(CAST(cum_cents AS DOUBLE) / total_cents * 100.0, 6)
                     AS cum_value_pct
            FROM t""")
  )

  /** Sample-ratio-mismatch check: the first A/B sanity gate — user
    * counts per hash arm, χ² against the 50/50 design, flag at the 95%
    * critical value. Pure integers + one division.
    */
  val q226SrmCheck: QueryDef = QueryDef(
    "q226_srm_check",
    (s, dir) =>
      Tables
        .events(s, dir)
        .select(col("user_id"))
        .distinct()
        .agg(
          sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_arm0"),
          sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n_arm1"))
        .select(
          col("n_arm0"),
          col("n_arm1"),
          round(
            ((col("n_arm0") - col("n_arm1")) * (col("n_arm0") - col("n_arm1"))).cast("double") /
              (col("n_arm0") + col("n_arm1")).cast("double"),
            6).as("chi2"),
          (((col("n_arm0") - col("n_arm1")) * (col("n_arm0") - col("n_arm1"))).cast("double") /
            (col("n_arm0") + col("n_arm1")).cast("double") > 3.841).as("srm_detected")),
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
            a AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                           n_arm0,
                         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                           n_arm1
                  FROM u)
            SELECT n_arm0, n_arm1,
                   round(CAST((n_arm0 - n_arm1) * (n_arm0 - n_arm1) AS DOUBLE) /
                         (n_arm0 + n_arm1), 6) AS chi2,
                   CAST((n_arm0 - n_arm1) * (n_arm0 - n_arm1) AS DOUBLE) /
                     (n_arm0 + n_arm1) > 3.841 AS srm_detected
            FROM a""")
  )

  /** BFS ball growth ([[graft.operators.Graph.bfsLevels]]): nodes first
    * reached at hops 0..3 from the smallest node of the q142 word
    * graph. Oracle unrolls the identical frontier/visited rounds as
    * MATERIALIZED CTEs (the kCore posture).
    */
  val q227BfsHops: QueryDef = QueryDef(
    "q227_bfs_hops",
    (s, dir) => {
      val edges = graft.operators.Cooccur
        .pmiPairs(Tables.documents(s, dir), window = 2, topK = 60)
        .select(col("a").as("src"), col("b").as("dst"))
      Graph.bfsLevels(edges, hops = 3)
    },
    Some("""WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
            pr AS (
              SELECT least(p.a, p.b) AS a, greatest(p.a, p.b) AS b FROM (
                SELECT unnest([{'a': ts[i], 'b': ts[i + 1]}
                               FOR i IN range(1, len(ts))]) AS p FROM t
                UNION ALL
                SELECT unnest([{'a': ts[i], 'b': ts[i + 2]}
                               FOR i IN range(1, len(ts) - 1)]) AS p FROM t)
              WHERE p.a != '' AND p.b != ''),
            e AS (SELECT a AS lo, b AS hi FROM (
                    SELECT a, b, count(*) AS c_ab FROM pr GROUP BY a, b
                    ORDER BY c_ab DESC, a ASC, b ASC LIMIT 60)
                  WHERE a != b),
            stubs AS MATERIALIZED (SELECT lo u, hi v FROM e UNION ALL SELECT hi, lo FROM e),
            f0 AS MATERIALIZED (SELECT min(u) node FROM stubs),
            f1 AS MATERIALIZED (
              SELECT DISTINCT s.v AS node FROM stubs s JOIN f0 ON f0.node = s.u
              WHERE s.v NOT IN (SELECT node FROM f0)),
            v1 AS MATERIALIZED (SELECT node FROM f0 UNION ALL SELECT node FROM f1),
            f2 AS MATERIALIZED (
              SELECT DISTINCT s.v AS node FROM stubs s JOIN f1 ON f1.node = s.u
              WHERE s.v NOT IN (SELECT node FROM v1)),
            v2 AS MATERIALIZED (SELECT node FROM v1 UNION ALL SELECT node FROM f2),
            f3 AS MATERIALIZED (
              SELECT DISTINCT s.v AS node FROM stubs s JOIN f2 ON f2.node = s.u
              WHERE s.v NOT IN (SELECT node FROM v2)),
            lv AS (SELECT 0 hop, node FROM f0 UNION ALL SELECT 1, node FROM f1
                   UNION ALL SELECT 2, node FROM f2 UNION ALL SELECT 3, node FROM f3)
            SELECT hop, CAST(count(*) AS BIGINT) n_nodes FROM lv GROUP BY 1""")
  )

  /** Weighted median / p90: volume-weighted price levels — the
    * quantity-weighted order statistics of the dollar-quantized
    * extended price, from ONE histogram cumsum (integer weights,
    * integer cross-multiplied rank conditions; never a per-row sort).
    */
  val q228WeightedMedian: QueryDef = QueryDef(
    "q228_weighted_median",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = Tables
        .lineitem(s, dir)
        .select(
          expr("CAST(round(l_extendedprice) AS BIGINT)").as("price_d"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("w"))
        .groupBy(col("price_d"))
        .agg(sum(col("w")).as("wsum"))
      val wCum = Window.orderBy(col("price_d")).rowsBetween(Window.unboundedPreceding, 0)
      hist
        .withColumn("cum", sum(col("wsum")).over(wCum))
        .crossJoin(broadcast(hist.agg(sum(col("wsum")).as("wtot"))))
        .agg(
          max(col("wtot")).as("w_total"),
          min(when(col("cum") * 2 >= col("wtot"), col("price_d"))).as("wmedian_price"),
          min(when(col("cum") * 10 >= col("wtot") * 9, col("price_d"))).as("wp90_price"))
    },
    Some("""WITH h AS (SELECT CAST(round(l_extendedprice) AS BIGINT) price_d,
                              CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) wsum
                       FROM lineitem GROUP BY 1),
            c AS (SELECT *, CAST(sum(wsum) OVER (ORDER BY price_d) AS BIGINT) cum FROM h),
            t AS (SELECT CAST(sum(wsum) AS BIGINT) wtot FROM h)
            SELECT max(wtot) AS w_total,
                   min(CASE WHEN cum * 2 >= wtot THEN price_d END) AS wmedian_price,
                   min(CASE WHEN cum * 10 >= wtot * 9 THEN price_d END) AS wp90_price
            FROM c CROSS JOIN t""")
  )

  /** One-way ANOVA F: does mean value differ across event types?
    * SSB/SSW from exact integer cent sums (per-group S²/n as a single
    * double division each; 5-term sums carry ~1e-14 relative
    * order-noise, far under the 6-decimal output grid).
    */
  val q229AnovaF: QueryDef = QueryDef(
    "q229_anova_f",
    (s, dir) => {
      val g = Tables
        .events(s, dir)
        .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_g"), sum(col("c")).as("s_g"), sum(col("c") * col("c")).as("s2_g"))
      g.agg(
          count(lit(1)).as("k"),
          sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s"),
          sum(col("s2_g")).as("s2"),
          sum((col("s_g") * col("s_g")).cast("double") / col("n_g").cast("double")).as("sgn"))
        .select(
          col("k"),
          col("n"),
          round(
            (col("sgn") - (col("s") * col("s")).cast("double") / col("n").cast("double")) /
              (col("k") - 1).cast("double") /
              ((col("s2").cast("double") - col("sgn")) / (col("n") - col("k")).cast("double")),
            6).as("f_stat"))
    },
    Some("""WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) n_g,
                              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) s_g,
                              CAST(sum(CAST(round(value * 100) AS BIGINT) *
                                       CAST(round(value * 100) AS BIGINT)) AS BIGINT) s2_g
                       FROM events GROUP BY 1),
            a AS (SELECT CAST(count(*) AS BIGINT) k, CAST(sum(n_g) AS BIGINT) n,
                         CAST(sum(s_g) AS BIGINT) s, CAST(sum(s2_g) AS BIGINT) s2,
                         sum(CAST(s_g * s_g AS DOUBLE) / n_g) sgn
                  FROM g)
            SELECT k, n,
                   round((sgn - CAST(s * s AS DOUBLE) / n) / (k - 1) /
                         ((CAST(s2 AS DOUBLE) - sgn) / (n - k)), 6) AS f_stat
            FROM a""")
  )

  /** Randomization (permutation-style) test of the between-arm mean
    * difference: 99 deterministic md5 re-labelings of users (4 dyadic
    * words per digest, the q212 trick), each replicate's arm-mean
    * difference from exact per-user cent totals, two-sided p =
    * (1 + #extreme)/(B + 1). The assignment-free significance check
    * beside q208/q226.
    */
  val q230PermutationTest: QueryDef = QueryDef(
    "q230_permutation_test",
    (s, dir) => {
      val perUser = Tables
        .events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"))
        .localCheckpoint()
      val obs = perUser.agg(
        (sum(when(col("user_id") % 2 === 0, col("x")).otherwise(0L)).cast("double") /
          sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).cast("double") -
          sum(when(col("user_id") % 2 === 1, col("x")).otherwise(0L)).cast("double") /
            sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).cast("double"))
          .as("obs_diff_cents"))
      val reps = perUser
        .withColumn("batch", explode(expr("sequence(0, 24)")))
        .withColumn(
          "digest",
          md5(concat(col("user_id").cast("string"), lit(":"), col("batch").cast("string"),
            lit("perm"))))
        .withColumn("j", explode(expr("sequence(0, 3)")))
        .withColumn("b", col("batch") * 4 + col("j") + 1)
        .filter(col("b") <= 99)
        .withColumn(
          "arm",
          pmod(conv(expr("substring(digest, j * 8 + 1, 8)"), 16, 10).cast("long"), lit(2L)))
        .groupBy(col("b"))
        .agg(
          (sum(when(col("arm") === 0, col("x")).otherwise(0L)).cast("double") /
            sum(when(col("arm") === 0, 1L).otherwise(0L)).cast("double") -
            sum(when(col("arm") === 1, col("x")).otherwise(0L)).cast("double") /
              sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("double")).as("diff_b"))
      reps
        .crossJoin(broadcast(obs))
        .agg(
          round(max(col("obs_diff_cents")) / 100.0, 6).as("obs_diff"),
          count(lit(1)).as("n_reps"),
          sum(when(abs(col("diff_b")) >= abs(col("obs_diff_cents")), 1L).otherwise(0L))
            .as("n_extreme"))
        .withColumn(
          "p_value",
          round((col("n_extreme") + 1).cast("double") / (col("n_reps") + 1).cast("double"), 6))
    },
    Some("""WITH pu AS (SELECT user_id,
                               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) x
                        FROM events GROUP BY 1),
            obs AS (SELECT
                      CAST(sum(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS DOUBLE) /
                        sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) -
                      CAST(sum(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END) AS DOUBLE) /
                        sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS obs_diff_cents
                    FROM pu),
            lab AS (SELECT pu.user_id, pu.x, bt.batch, j.j,
                           bt.batch * 4 + j.j + 1 AS b,
                           CAST(('0x' || substring(md5(CAST(pu.user_id AS VARCHAR) || ':' ||
                                 CAST(bt.batch AS VARCHAR) || 'perm'),
                                 CAST(j.j * 8 + 1 AS INT), 8)) AS BIGINT) % 2 AS arm
                    FROM pu CROSS JOIN range(0, 25) bt(batch) CROSS JOIN range(0, 4) j(j)),
            reps AS (SELECT b,
                            CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS DOUBLE) /
                              sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) -
                            CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS DOUBLE) /
                              sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS diff_b
                     FROM lab WHERE b <= 99 GROUP BY 1)
            SELECT round(max(obs_diff_cents) / 100.0, 6) AS obs_diff,
                   CAST(count(*) AS BIGINT) AS n_reps,
                   CAST(sum(CASE WHEN abs(diff_b) >= abs(obs_diff_cents)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
                   round(CAST(sum(CASE WHEN abs(diff_b) >= abs(obs_diff_cents)
                              THEN 1 ELSE 0 END) + 1 AS DOUBLE) / (count(*) + 1), 6)
                     AS p_value
            FROM reps CROSS JOIN obs""")
  )

  /** Quantile treatment effects: the between-arm shift at each of five
    * exact quantiles of the per-user cent totals — where in the
    * distribution an effect lives, which the mean (q208) hides. stack()
    * keeps the output scalar rows.
    */
  val q231Qte: QueryDef = QueryDef(
    "q231_qte",
    (s, dir) => {
      val perUser = Tables
        .events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"))
        .withColumn("arm", (col("user_id") % 2).cast("long"))
      val q = perUser.agg(
        expr("percentile(if(arm = 0, x, null), array(0.1, 0.25, 0.5, 0.75, 0.9))").as("q0"),
        expr("percentile(if(arm = 1, x, null), array(0.1, 0.25, 0.5, 0.75, 0.9))").as("q1"))
      q.selectExpr(
        """stack(5,
             '0.10', q0[0], q1[0],
             '0.25', q0[1], q1[1],
             '0.50', q0[2], q1[2],
             '0.75', q0[3], q1[3],
             '0.90', q0[4], q1[4]) AS (p, qc0, qc1)""")
        .select(
          col("p"),
          round(col("qc0") / 100.0, 6).as("q_arm0"),
          round(col("qc1") / 100.0, 6).as("q_arm1"),
          round((col("qc1") - col("qc0")) / 100.0, 6).as("qte"))
    },
    Some("""WITH pu AS (SELECT user_id,
                               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) x,
                               user_id % 2 arm
                        FROM events GROUP BY 1),
            q AS (SELECT
                    quantile_cont(x, 0.10) FILTER (arm = 0) a010,
                    quantile_cont(x, 0.10) FILTER (arm = 1) a110,
                    quantile_cont(x, 0.25) FILTER (arm = 0) a025,
                    quantile_cont(x, 0.25) FILTER (arm = 1) a125,
                    quantile_cont(x, 0.50) FILTER (arm = 0) a050,
                    quantile_cont(x, 0.50) FILTER (arm = 1) a150,
                    quantile_cont(x, 0.75) FILTER (arm = 0) a075,
                    quantile_cont(x, 0.75) FILTER (arm = 1) a175,
                    quantile_cont(x, 0.90) FILTER (arm = 0) a090,
                    quantile_cont(x, 0.90) FILTER (arm = 1) a190
                  FROM pu)
            SELECT '0.10' p, round(a010 / 100.0, 6) q_arm0, round(a110 / 100.0, 6) q_arm1,
                   round((a110 - a010) / 100.0, 6) qte FROM q
            UNION ALL
            SELECT '0.25', round(a025 / 100.0, 6), round(a125 / 100.0, 6),
                   round((a125 - a025) / 100.0, 6) FROM q
            UNION ALL
            SELECT '0.50', round(a050 / 100.0, 6), round(a150 / 100.0, 6),
                   round((a150 - a050) / 100.0, 6) FROM q
            UNION ALL
            SELECT '0.75', round(a075 / 100.0, 6), round(a175 / 100.0, 6),
                   round((a175 - a075) / 100.0, 6) FROM q
            UNION ALL
            SELECT '0.90', round(a090 / 100.0, 6), round(a190 / 100.0, 6),
                   round((a190 - a090) / 100.0, 6) FROM q""")
  )

  /** Supervised training-set construction: per-user features from the
    * first-20-day observation window, churn/conversion label from the
    * holdout window after it — the feature/label snapshot builder every
    * tabular model pipeline starts with. Exact µs windows, exact cents.
    */
  val q232LabelBuilder: QueryDef = QueryDef(
    "q232_label_builder",
    (s, dir) => {
      val t0 = Tables.events(s, dir).agg(min(unix_micros(col("ts"))).as("t0"))
      val cut = col("t0") + lit(20L * 86400000000L)
      Tables
        .events(s, dir)
        .crossJoin(broadcast(t0))
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("us") < cut, 1L).otherwise(0L)).as("n_events"),
          countDistinct(when(col("us") < cut, col("event_type"))).as("n_types"),
          sum(when(col("us") < cut, expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("total_cents"),
          max(when(col("us") < cut, col("us"))).as("last_obs_us"),
          max(col("t0")).as("t0v"),
          max(when(col("us") >= cut && col("event_type") === "purchase", 1L).otherwise(0L))
            .as("label"))
        .filter(col("n_events") > 0)
        .select(
          col("user_id"),
          col("n_events"),
          col("n_types"),
          col("total_cents"),
          expr("(t0v + 1728000000000 - last_obs_us) div 3600000000").as("recency_h"),
          col("label"))
    },
    Some("""WITH t0 AS (SELECT min(epoch_us(ts)) t0 FROM events),
            e AS (SELECT user_id, event_type, epoch_us(ts) us,
                         CAST(round(value * 100) AS BIGINT) c, t0.t0,
                         t0.t0 + 1728000000000 AS cut
                  FROM events CROSS JOIN t0)
            SELECT user_id,
                   CAST(sum(CASE WHEN us < cut THEN 1 ELSE 0 END) AS BIGINT) n_events,
                   CAST(count(DISTINCT CASE WHEN us < cut THEN event_type END) AS BIGINT)
                     n_types,
                   CAST(sum(CASE WHEN us < cut THEN c ELSE 0 END) AS BIGINT) total_cents,
                   (max(t0) + 1728000000000 - max(CASE WHEN us < cut THEN us END))
                     // 3600000000 AS recency_h,
                   CAST(max(CASE WHEN us >= cut AND event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS "label"
            FROM e GROUP BY 1
            HAVING sum(CASE WHEN us < cut THEN 1 ELSE 0 END) > 0""")
  )

  /** Smoothed target encoding of the props.k item id against the
    * purchase outcome: enc = (n_k·rate_k + m·prior)/(n_k + m) with
    * m = 20 — the classic tabular-ML categorical encoder, every term an
    * exact count ratio.
    */
  val q233TargetEncoding: QueryDef = QueryDef(
    "q233_target_encoding",
    (s, dir) => {
      val base = Tables
        .events(s, dir)
        .select(
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      val prior = base.agg(
        (sum(col("y")).cast("double") / count(lit(1)).cast("double")).as("prior"))
      base
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
        .crossJoin(broadcast(prior))
        .select(
          col("k"),
          col("n"),
          col("n_pos"),
          round(
            (col("n_pos").cast("double") + lit(20.0) * col("prior")) /
              (col("n") + 20).cast("double"),
            6).as("enc"))
    },
    Some("""WITH b AS (SELECT CAST(json_extract_string(props, '$.k') AS INT) k,
                              CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y
                       FROM events),
            p AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) pr0 FROM b),
            g AS (SELECT k, CAST(count(*) AS BIGINT) n, CAST(sum(y) AS BIGINT) n_pos
                  FROM b GROUP BY 1)
            SELECT k, n, n_pos,
                   round((CAST(n_pos AS DOUBLE) + 20.0 * pr0) / (n + 20), 6) AS enc
            FROM g CROSS JOIN p""")
  )

  /** Language-ID confusion matrix: the q34 marker-profile classifier
    * graded against the labeled language — per (labeled, predicted)
    * counts with row percentages, the eval view a langid filter ships
    * with. Oracle replays the argmax and the rollup.
    */
  val q234LangConfusion: QueryDef = QueryDef(
    "q234_lang_confusion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pred = graft.operators.TextAnalysis.langId(Tables.documents(s, dir))
      pred
        .groupBy(col("labeled_lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn(
          "row_total",
          sum(col("n")).over(Window.partitionBy(col("labeled_lang"))))
        .select(
          col("labeled_lang"),
          col("predicted_lang"),
          col("n"),
          round(col("n").cast("double") / col("row_total").cast("double") * 100.0, 6)
            .as("row_pct"))
    },
    Some("""WITH s AS (
              SELECT doc_id, lang AS labeled_lang,
                CAST(len(list_filter(string_split(lower(text), ' '),
                  x -> x IN ('the','and','of','to','is','in','that','it'))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS s_en,
                CAST(len(list_filter(string_split(lower(text), ' '),
                  x -> x IN ('el','la','de','que','y','los','en','un'))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS s_es,
                CAST(len(list_filter(string_split(lower(text), ' '),
                  x -> x IN ('le','la','de','et','les','des','un','une'))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS s_fr,
                CAST(len(list_filter(string_split(lower(text), ' '),
                  x -> x IN ('der','die','und','das','ist','ein','nicht','mit'))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS s_de,
                0.0 AS s_zh
              FROM documents),
            pred AS (SELECT labeled_lang,
              CASE
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
                WHEN s_de >= s_zh THEN 'de'
                ELSE 'zh'
              END AS predicted_lang
              FROM s),
            c AS (SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) n
                  FROM pred GROUP BY 1, 2),
            t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY labeled_lang) AS BIGINT) row_total
                  FROM c)
            SELECT labeled_lang, predicted_lang, n,
                   round(CAST(n AS DOUBLE) / row_total * 100.0, 6) AS row_pct
            FROM t""")
  )

  /** Retrieval quality eval: NDCG@10 / MRR / recall@10 of exact-cosine
    * retrieval against label-match relevance — the IR metrics the ANN
    * family (q30/q31/q46/q80/q123) gets graded with in production.
    * Discount weights are single-op constants snapped to the 2⁻³⁰ grid;
    * ranks use the q30 (rounded-cosine, id tie-break) order so both
    * engines rank identically.
    */
  val q235RetrievalEval: QueryDef = QueryDef(
    "q235_retrieval_eval",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ranked = graft.operators.Similarity
        .bruteTopK(emb, emb.filter(col("vec_id") < 10), k = 10)
      val labels = emb.select(col("vec_id"), col("label"))
      val relCounts = emb
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_label"))
      val qrel = labels
        .filter(col("vec_id") < 10)
        .join(relCounts, "label")
        .select(
          col("vec_id").as("query_id"),
          col("label").as("qlabel"),
          (col("n_label") - 1).as("n_rel")) // corpus excludes the query itself
      val graded = ranked
        .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")),
          "neighbor_id")
        .join(qrel, "query_id")
        .withColumn("rel", (col("qlabel") === col("nlabel")).cast("long"))
        .withColumn("w", snap(lit(1.0) / log2(col("rank") + 1)))
      graded
        .groupBy(col("query_id"))
        .agg(
          max(col("n_rel")).as("n_rel"),
          sum(col("rel")).as("hits_at_10"),
          sum(col("rel").cast("double") * col("w")).as("dcg"),
          min(when(col("rel") === 1, col("rank"))).as("first_rel_rank"))
        .withColumn(
          "idcg",
          expr(
            "aggregate(sequence(1, int(least(n_rel, 10))), 0d, " +
              "(acc, r) -> acc + floor(1.0 / log2(r + 1) * 1073741824.0 + 0.5) / 1073741824.0)"))
        .select(
          col("query_id"),
          col("n_rel"),
          col("hits_at_10"),
          round(coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)), 6).as("mrr"),
          round(col("hits_at_10").cast("double") / least(col("n_rel"), lit(10L)).cast("double"), 6)
            .as("recall_at_10"),
          when(col("idcg") > 0.0, round(col("dcg") / col("idcg"), 6)).as("ndcg_at_10"))
    },
    Some(s"""WITH ranked AS (
              SELECT query_id, neighbor_id, rank FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                         round(${LlmQueries.dotSql("q.embedding", "c.embedding")} /
                               (sqrt(${LlmQueries.dotSql("q.embedding", "q.embedding")}) *
                                sqrt(${LlmQueries.dotSql("c.embedding", "c.embedding")})), 6)
                           DESC,
                         c.vec_id ASC) AS rank
                FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
                WHERE q.vec_id < 10
              ) WHERE rank <= 10),
            lc AS (SELECT label, CAST(count(*) AS BIGINT) n_label FROM embeddings GROUP BY 1),
            qr AS (SELECT e.vec_id query_id, e.label qlabel, lc.n_label - 1 AS n_rel
                   FROM embeddings e JOIN lc USING (label) WHERE e.vec_id < 10),
            g AS (SELECT r.query_id, r.rank, qr.n_rel,
                         CASE WHEN n.label = qr.qlabel THEN 1 ELSE 0 END rel,
                         floor(1.0 / log2(r.rank + 1) * 1073741824.0 + 0.5) / 1073741824.0 w
                  FROM ranked r
                  JOIN embeddings n ON n.vec_id = r.neighbor_id
                  JOIN qr ON qr.query_id = r.query_id),
            a AS (SELECT query_id, CAST(max(n_rel) AS BIGINT) n_rel,
                         CAST(sum(rel) AS BIGINT) hits_at_10,
                         sum(rel * w) dcg,
                         min(CASE WHEN rel = 1 THEN rank END) first_rel_rank
                  FROM g GROUP BY 1),
            i AS (SELECT *, list_sum([floor(1.0 / log2(r + 1) * 1073741824.0 + 0.5) /
                                      1073741824.0
                                      FOR r IN range(1, CAST(least(n_rel, 10) AS INT) + 1)])
                              idcg
                  FROM a)
            SELECT query_id, n_rel, hits_at_10,
                   round(coalesce(1.0 / first_rel_rank, 0.0), 6) AS mrr,
                   round(CAST(hits_at_10 AS DOUBLE) / least(n_rel, 10), 6) AS recall_at_10,
                   CASE WHEN idcg > 0 THEN round(dcg / idcg, 6) END AS ndcg_at_10
            FROM i""")
  )

  /** Classical seasonal decomposition of the hourly series: centered
    * 25-term moving-average trend (full windows only), detrended values
    * scaled ×25 to STAY INTEGER, hour-of-day seasonal indices as exact
    * rationals Σd/(25·n). The additive STL-lite a metrics pipeline runs
    * before alerting on residuals.
    */
  val q236SeasonalDecomp: QueryDef = QueryDef(
    "q236_seasonal_decomp",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cnt = Tables
        .events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val bounds = cnt.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      val series = bounds
        .select(explode(sequence(col("mn"), col("mx"))).as("h"))
        .join(cnt, Seq("h"), "left")
        .select(col("h"), coalesce(col("x"), lit(0L)).as("x"))
      val w = Window.orderBy(col("h")).rowsBetween(-12, 12)
      series
        .withColumn("wsum", sum(col("x")).over(w))
        .withColumn("wn", count(lit(1)).over(w))
        .filter(col("wn") === 25) // full centered windows only
        .withColumn("d25", col("x") * 25 - col("wsum")) // 25·(x − trend), integer
        .groupBy(pmod(col("h"), lit(24L)).as("hour_of_day"))
        .agg(count(lit(1)).as("n_obs"), sum(col("d25")).as("sd25"))
        .select(
          col("hour_of_day"),
          col("n_obs"),
          round(col("sd25").cast("double") / (lit(25.0) * col("n_obs").cast("double")), 6)
            .as("seasonal"))
    },
    Some("""WITH hh AS (SELECT epoch_us(ts) // 3600000000 AS h FROM events),
            cnt AS (SELECT h, CAST(count(*) AS BIGINT) x FROM hh GROUP BY 1),
            b AS (SELECT min(h) mn, max(h) mx FROM cnt),
            s AS (SELECT g.h, coalesce(c.x, 0) AS x
                  FROM (SELECT unnest(range(mn, mx + 1)) AS h FROM b) g
                  LEFT JOIN cnt c USING (h)),
            t AS (SELECT h, x,
                         CAST(sum(x) OVER win AS BIGINT) wsum,
                         CAST(count(*) OVER win AS BIGINT) wn
                  FROM s WINDOW win AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
            d AS (SELECT h % 24 AS hour_of_day, x * 25 - wsum AS d25
                  FROM t WHERE wn = 25)
            SELECT hour_of_day, CAST(count(*) AS BIGINT) n_obs,
                   round(CAST(sum(d25) AS DOUBLE) / (25.0 * count(*)), 6) AS seasonal
            FROM d GROUP BY 1""")
  )

  /** Hour-of-day tail bands: p50/p99 of value per hour-of-day — the SLO
    * heatmap row. Exact interpolating percentiles over hod groups (24
    * bounded groups; the agg shuffles a histogram, never sorts rows
    * globally).
    */
  val q237HourlyBands: QueryDef = QueryDef(
    "q237_hourly_bands",
    (s, dir) =>
      Tables
        .events(s, dir)
        .select(expr("pmod(unix_micros(ts) div 3600000000, 24)").as("hour_of_day"),
          col("value"))
        .groupBy(col("hour_of_day"))
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.99)"), 6).as("p99")),
    Some("""SELECT (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
                   CAST(count(*) AS BIGINT) n,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY 1""")
  )

  /** Pairwise source vocabulary overlap: Jaccard between every two
    * sources' word sets through the shared-word inverted join (pairs
    * only materialize where vocabularies actually intersect — never
    * sources² × vocab). The corpus-mix diversity matrix.
    */
  val q238SourceOverlap: QueryDef = QueryDef(
    "q238_source_overlap",
    (s, dir) => {
      val vocab = Tables
        .documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .distinct()
        .localCheckpoint() // consumed by sizes and the pair join
      val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("v"))
      val common = vocab
        .select(col("source").as("src_a"), col("word"))
        .join(vocab.select(col("source").as("src_b"), col("word")), "word")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("common"))
      common
        // hint-free: per-source vocab sizes are source-keyed; AQE decides
        .join(sizes.select(col("source").as("src_a"), col("v").as("va")), "src_a")
        .join(sizes.select(col("source").as("src_b"), col("v").as("vb")), "src_b")
        .select(
          col("src_a"),
          col("src_b"),
          col("common"),
          round(
            col("common").cast("double") / (col("va") + col("vb") - col("common")).cast("double"),
            6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("src_a").asc, col("src_b").asc)
        .limit(20)
    },
    Some("""WITH v AS (SELECT DISTINCT source, word FROM (
                         SELECT source, unnest(string_split(text, ' ')) word
                         FROM documents) WHERE length(word) > 0),
            sz AS (SELECT source, CAST(count(*) AS BIGINT) vs FROM v GROUP BY 1),
            c AS (SELECT a.source src_a, b.source src_b, CAST(count(*) AS BIGINT) common
                  FROM v a JOIN v b ON a.word = b.word AND a.source < b.source
                  GROUP BY 1, 2)
            SELECT src_a, src_b, common,
                   round(CAST(common AS DOUBLE) / (sa.vs + sb.vs - common), 6) AS jaccard
            FROM c JOIN sz sa ON sa.source = c.src_a JOIN sz sb ON sb.source = c.src_b
            ORDER BY jaccard DESC, src_a, src_b LIMIT 20""")
  )

  /** Dedup impact audit: what cluster-collapse (keep the q206 golden
    * record per near-dup cluster, drop the rest) costs each source —
    * docs and tokens kept vs dropped, the before/after report a dedup
    * rollout ships with. Composition of the closure, the election, and
    * per-source token sums.
    */
  val q239DedupImpact: QueryDef = QueryDef(
    "q239_dedup_impact",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val cc = graft.operators.Dedup
        .connectedComponents(graft.operators.Dedup.minhashPairs(docs))
      val labeled = docs
        .join(cc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          coalesce(col("cluster_rep"), col("doc_id")).as("cluster"),
          col("n_chars"))
      val w = Window
        .partitionBy(col("cluster"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      labeled
        .withColumn("keep", (row_number().over(w) === 1).cast("long"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("keep")).as("n_kept"),
          sum(col("n_tok")).as("tokens_total"),
          sum(col("n_tok") * col("keep")).as("tokens_kept"))
        .withColumn(
          "kept_pct",
          round(col("tokens_kept").cast("double") / col("tokens_total").cast("double") * 100.0, 6))
    },
    Some(s"""WITH RECURSIVE pairs AS (${LlmQueries.ngramJaccardOracle}),
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION
              SELECT doc_b AS u, doc_a AS v FROM pairs),
            reach AS (
              SELECT u AS doc, u AS label FROM edges
              UNION
              SELECT e.u AS doc, r.label
              FROM edges e JOIN reach r ON r.doc = e.v),
            lab AS (SELECT doc, CAST(min(label) AS BIGINT) AS cluster_rep
                    FROM reach GROUP BY doc),
            m AS (SELECT d.doc_id, d.source, len(string_split(d.text, ' ')) n_tok,
                         d.n_chars, coalesce(l.cluster_rep, d.doc_id) AS cluster
                  FROM documents d LEFT JOIN lab l ON l.doc = d.doc_id),
            k AS (SELECT *, CASE WHEN row_number() OVER (PARTITION BY cluster
                                   ORDER BY n_chars DESC, doc_id ASC) = 1
                                 THEN 1 ELSE 0 END keep
                  FROM m)
            SELECT source, CAST(count(*) AS BIGINT) n_docs,
                   CAST(sum(keep) AS BIGINT) n_kept,
                   CAST(sum(n_tok) AS BIGINT) tokens_total,
                   CAST(sum(n_tok * keep) AS BIGINT) tokens_kept,
                   round(CAST(sum(n_tok * keep) AS DOUBLE) / sum(n_tok) * 100.0, 6)
                     AS kept_pct
            FROM k GROUP BY 1""")
  )

  /** Embedding QA: vector-column data quality — dimension conformance,
    * zero/near-zero vectors, non-finite components, norm spread — the
    * ingest gate an embedding table needs before any ANN index builds
    * on it. Norms are ordered positional folds (ANN-family parity).
    */
  val q240EmbeddingQa: QueryDef = QueryDef(
    "q240_embedding_qa",
    (s, dir) => {
      Tables
        .embeddings(s, dir)
        .select(
          size(col("embedding")).as("dim"),
          expr("exists(embedding, x -> isnan(x) OR abs(CAST(x AS DOUBLE)) > 1e308)").as("bad"),
          snap(sqrt(expr(
            "aggregate(embedding, 0d, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")))
            .as("norm"))
        .agg(
          count(lit(1)).as("n_vectors"),
          countDistinct(col("dim")).as("n_dims_seen"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"),
          sum(when(col("norm") < 1e-6, 1L).otherwise(0L)).as("n_zero"),
          round(min(col("norm")), 6).as("min_norm"),
          round(expr("percentile(norm, 0.5)"), 6).as("p50_norm"),
          round(max(col("norm")), 6).as("max_norm"))
    },
    Some("""WITH v AS (SELECT len(embedding) dim,
                              len([x FOR x IN embedding
                                   IF isnan(x) OR abs(CAST(x AS DOUBLE)) > 1e308]) > 0 bad,
                              floor(sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                                   FOR x IN embedding])) *
                                    1073741824.0 + 0.5) / 1073741824.0 AS nrm
                       FROM embeddings)
            SELECT CAST(count(*) AS BIGINT) n_vectors,
                   CAST(count(DISTINCT dim) AS BIGINT) n_dims_seen,
                   CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) n_nonfinite,
                   CAST(sum(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT) n_zero,
                   round(min(nrm), 6) AS min_norm,
                   round(quantile_cont(nrm, 0.5), 6) AS p50_norm,
                   round(max(nrm), 6) AS max_norm
            FROM v""")
  )

  /** Mean-embedding distance between label groups (the MMD-lite
    * embedding-drift statistic): per-label grid-snapped centroid, L2
    * distance of each label's centroid to label 0's — "has this shard's
    * embedding distribution moved?" for 100 TB re-embedding audits.
    * Centroid sums snap to the 2⁻²⁰ grid (kmeans posture); the distance
    * fold is ordered.
    */
  val q241EmbeddingDrift: QueryDef = QueryDef(
    "q241_embedding_drift",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = emb
        .select(col("label"), posexplode(transform(col("embedding"), _.cast("double"))))
        .groupBy(col("label"), col("pos"))
        .agg((floor(avg(col("col")) * 1048576.0) / 1048576.0).as("m"))
        .groupBy(col("label"))
        .agg(expr("array_agg(struct(pos, m))").as("pm"))
        .select(col("label"), expr("transform(array_sort(pm), x -> x.m)").as("c"))
        .localCheckpoint()
      val base = cents.filter(col("label") === 0).select(col("c").as("c0"))
        .limit(1) // exactly one row (one centroid per label) — provable bound
      cents
        .crossJoin(broadcast(base))
        .select(
          col("label"),
          round(
            sqrt(expr(
              "aggregate(zip_with(c, c0, (a, b) -> (a - b) * (a - b)), 0d, (acc, x) -> acc + x)")),
            6).as("dist_to_label0"))
    },
    Some("""WITH e AS (SELECT label, generate_subscripts(embedding, 1) pos,
                              CAST(unnest(embedding) AS DOUBLE) val
                       FROM embeddings),
            m AS (SELECT label, pos, floor(avg(val) * 1048576.0) / 1048576.0 m
                  FROM e GROUP BY 1, 2),
            c AS (SELECT label, list(m ORDER BY pos) c FROM m GROUP BY 1),
            b AS (SELECT c c0 FROM c WHERE label = 0)
            SELECT c.label,
                   round(sqrt(list_sum([(c.c[i] - b.c0[i]) * (c.c[i] - b.c0[i])
                                        FOR i IN range(1, len(c.c) + 1)])), 6)
                     AS dist_to_label0
            FROM c CROSS JOIN b""")
  )

  /** RFM segmentation: recency/frequency/monetary quintiles per user
    * (exact integer rank bucketing over the USER-dimension relation —
    * corpus-scale events collapse to one row per user first), rolled up
    * to segment sizes — the classic lifecycle-marketing cut.
    */
  val q242Rfm: QueryDef = QueryDef(
    "q242_rfm",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val horizon = Tables.events(s, dir).agg(max(unix_micros(col("ts"))).as("mx"))
      val perUser = Tables
        .events(s, dir)
        .crossJoin(broadcast(horizon))
        .groupBy(col("user_id"))
        .agg(
          expr("(max(mx) - max(unix_micros(ts))) div 3600000000").as("recency_h"),
          count(lit(1)).as("freq"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("monetary_cents"))
        .localCheckpoint() // user-dimension sized; three rank windows below
      val n = perUser.count()
      // r14: the three rank windows had NO partition key — each dragged
      // the user dimension through ONE task (guide §2.4/§5). Ranks keeps
      // the rank exact via the bucketed prefix sum; only the per-bucket
      // HISTOGRAM sees an ordered-unpartitioned window. Buckets: the
      // leading sort key itself for the NDV-bounded recency/freq values
      // (freq's mass point at small counts degrades only that bucket's
      // partition — the documented hot-key bound), cent-millions bands
      // for the near-continuous monetary sums.
      def quintile(rk: org.apache.spark.sql.Column) = (((rk - 1) * 5) / n).cast("int") + 1
      // each rank ranks its own NARROW (user_id, key) slice of the
      // checkpoint and joins back user-keyed: chaining the three Ranks
      // calls instead stacks each rank's join+window into the next
      // rank's histogram lineage (measured 2.7x worse — the q397
      // CTE-re-evaluation lesson)
      def rankOf(key: String, bucket: org.apache.spark.sql.Column, out: String,
          order: org.apache.spark.sql.Column*) =
        graft.operators.Ranks
          .rowNumber(perUser.select(col("user_id"), col(key)), bucket, out, order: _*)
          .select(col("user_id"), col(out))
      val ranked = perUser
        .join(rankOf("recency_h", col("recency_h"), "__rn_r",
          col("recency_h").asc, col("user_id").asc), Seq("user_id"))
        .join(rankOf("freq", expr("-freq"), "__rn_f",
          col("freq").desc, col("user_id").asc), Seq("user_id"))
        .join(rankOf("monetary_cents", expr("-(monetary_cents div 1048576)"), "__rn_m",
          col("monetary_cents").desc, col("user_id").asc), Seq("user_id"))
      ranked
        // recency: LOWER hours-since-last = better -> rank ascending so
        // quintile 1 is the most recent
        .withColumn("r_q", quintile(col("__rn_r")))
        .withColumn("f_q", quintile(col("__rn_f")))
        .withColumn("m_q", quintile(col("__rn_m")))
        .groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(col("monetary_cents")).as("segment_cents"))
    },
    Some("""WITH hz AS (SELECT max(epoch_us(ts)) mx FROM events),
            pu AS (SELECT user_id,
                          (max(hz.mx) - max(epoch_us(ts))) // 3600000000 recency_h,
                          CAST(count(*) AS BIGINT) freq,
                          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                            monetary_cents
                   FROM events CROSS JOIN hz GROUP BY 1),
            t AS (SELECT CAST(count(*) AS BIGINT) n FROM pu),
            q AS (SELECT pu.*,
                         CAST(((row_number() OVER (ORDER BY recency_h ASC, user_id ASC) - 1)
                               * 5) // t.n AS INT) + 1 r_q,
                         CAST(((row_number() OVER (ORDER BY freq DESC, user_id ASC) - 1)
                               * 5) // t.n AS INT) + 1 f_q,
                         CAST(((row_number() OVER (ORDER BY monetary_cents DESC, user_id ASC)
                               - 1) * 5) // t.n AS INT) + 1 m_q
                  FROM pu CROSS JOIN t)
            SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) n_users,
                   CAST(sum(monetary_cents) AS BIGINT) segment_cents
            FROM q GROUP BY 1, 2, 3""")
  )

  /** Dedup threshold sensitivity: exact n-gram Jaccard pair/doc counts
    * at t ∈ {0.5, 0.7, 0.9} from ONE PPJoin pass at the loosest
    * threshold — how aggressive each dial setting would be before
    * committing a rollout. Both engines bucket on round(j, 6), so
    * at-threshold pairs can't straddle a float boundary.
    */
  val q243ThresholdSweep: QueryDef = QueryDef(
    "q243_threshold_sweep",
    (s, dir) => {
      // No caller-side checkpoint: ngramJaccardPairs (r11) already returns
      // an eagerly materialized output-sized relation; j6 is a row-local
      // derivation over that RDD, shared cheaply by both readers below.
      val pairs = graft.operators.Dedup
        .ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.5)
        .withColumn("j6", round(col("jaccard"), 6))
      val docsIn = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("d"), col("j6"))
      pairs
        .agg(
          sum(when(col("j6") >= 0.5, 1L).otherwise(0L)).as("n_pairs_t50"),
          sum(when(col("j6") >= 0.7, 1L).otherwise(0L)).as("n_pairs_t70"),
          sum(when(col("j6") >= 0.9, 1L).otherwise(0L)).as("n_pairs_t90"))
        .crossJoin(broadcast(docsIn.agg(
          countDistinct(when(col("j6") >= 0.5, col("d"))).as("n_docs_t50"),
          countDistinct(when(col("j6") >= 0.7, col("d"))).as("n_docs_t70"),
          countDistinct(when(col("j6") >= 0.9, col("d"))).as("n_docs_t90"))))
    },
    Some(s"""WITH f AS (
              SELECT doc_a, doc_b, jaccard AS j6
              FROM (${LlmQueries.ngramJaccardOracleAt("0.5")})),
            di AS (SELECT unnest([doc_a, doc_b]) d, j6 FROM f)
            SELECT
              (SELECT CAST(sum(CASE WHEN j6 >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) FROM f)
                AS n_pairs_t50,
              (SELECT CAST(sum(CASE WHEN j6 >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) FROM f)
                AS n_pairs_t70,
              (SELECT CAST(sum(CASE WHEN j6 >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) FROM f)
                AS n_pairs_t90,
              (SELECT CAST(count(DISTINCT CASE WHEN j6 >= 0.5 THEN d END) AS BIGINT) FROM di)
                AS n_docs_t50,
              (SELECT CAST(count(DISTINCT CASE WHEN j6 >= 0.7 THEN d END) AS BIGINT) FROM di)
                AS n_docs_t70,
              (SELECT CAST(count(DISTINCT CASE WHEN j6 >= 0.9 THEN d END) AS BIGINT) FROM di)
                AS n_docs_t90""")
  )

  /** Corpus-specific stopword discovery: words whose document frequency
    * crosses 40% of the corpus, with their token-mass share — the
    * data-driven stopword list an indexing/BM25 stack derives before
    * hardcoding one. Top 20 by df.
    */
  val q244StopwordDiscovery: QueryDef = QueryDef(
    "q244_stopword_discovery",
    (s, dir) => {
      val words = Tables
        .documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .localCheckpoint()
      val totals = words.agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"))
      words
        .groupBy(col("word"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .crossJoin(broadcast(totals))
        .filter(col("df") * 10 >= col("n_docs") * 4) // df_frac >= 0.4, integer form
        .select(
          col("word"),
          col("df"),
          round(col("df").cast("double") / col("n_docs").cast("double"), 6).as("df_frac"),
          col("tf"),
          round(col("tf").cast("double") / col("n_tokens").cast("double") * 100.0, 6)
            .as("token_share_pct"))
        .orderBy(col("df").desc, col("word").asc)
        .limit(20)
    },
    Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) word FROM documents),
            ww AS (SELECT * FROM w WHERE length(word) > 0),
            t AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) n_docs,
                         CAST(count(*) AS BIGINT) n_tokens FROM ww),
            g AS (SELECT word, CAST(count(*) AS BIGINT) tf,
                         CAST(count(DISTINCT doc_id) AS BIGINT) df FROM ww GROUP BY 1)
            SELECT word, df,
                   round(CAST(df AS DOUBLE) / n_docs, 6) df_frac, tf,
                   round(CAST(tf AS DOUBLE) / n_tokens * 100.0, 6) token_share_pct
            FROM g CROSS JOIN t
            WHERE df * 10 >= n_docs * 4
            ORDER BY df DESC, word ASC LIMIT 20""")
  )

  /** Filter-ensemble disagreement: the quality heuristic, the linear
    * classifier, and the repetition rule as three binary keep-filters —
    * pass rates and pairwise disagreement counts, the audit that tells
    * you whether "add another filter" actually changes the kept set.
    * Every comparison is on the filters' ROUNDED published scores.
    */
  val q245FilterDisagreement: QueryDef = QueryDef(
    "q245_filter_disagreement",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val fq = graft.operators.TextAnalysis
        .qualityMetrics(docs)
        .select(col("doc_id"), (col("quality_score") >= 0.5).as("f_quality"))
      val fc = graft.operators.TextAnalysis
        .classifierScore(docs)
        .select(col("doc_id"), (col("margin") > 0.0).as("f_classifier"))
      val fr = graft.operators.TextAnalysis
        .repetitionMetrics(docs)
        .select(col("doc_id"), (col("dup_3gram_ratio") <= 0.5).as("f_repetition"))
      fq.join(fc, "doc_id")
        .join(fr, "doc_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("f_quality").cast("long")).as("pass_quality"),
          sum(col("f_classifier").cast("long")).as("pass_classifier"),
          sum(col("f_repetition").cast("long")).as("pass_repetition"),
          sum(when(col("f_quality") =!= col("f_classifier"), 1L).otherwise(0L))
            .as("disagree_qc"),
          sum(when(col("f_quality") =!= col("f_repetition"), 1L).otherwise(0L))
            .as("disagree_qr"),
          sum(when(col("f_classifier") =!= col("f_repetition"), 1L).otherwise(0L))
            .as("disagree_cr"))
    },
    Some("""WITH base AS (SELECT doc_id, text, string_split(text, ' ') ws,
                                 [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                  FOR i IN range(1, len(string_split(text, ' ')) - 1)] gs
                          FROM documents),
            f AS (SELECT doc_id,
                    round(least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0) * 0.4 +
                          least(CAST(len(list_filter(ws, w -> w IN
                                ('the','a','of','and','to','in','is','on','for','with')))
                                AS DOUBLE) / len(ws) * 5.0, 1.0) * 0.4 +
                          (1.0 - least(CAST(length(text) -
                                 length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                                 AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.2,
                          6) >= 0.5 AS f_quality,
                    round((CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.8
                          + (CAST(len(list_filter(ws, w -> list_contains(
                               ['the','a','of','and','to','in','is','on','for','with'], w)))
                             AS DOUBLE) / len(ws)) * 2.0
                          - (CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws)) * 0.1
                          + CAST(len(ws) AS DOUBLE) * 0.004
                          + (CAST(len(list_filter(ws, w -> length(w) >= 6)) AS DOUBLE)
                             / len(ws)) * 1.5
                          - 1.2, 6) > 0.0 AS f_classifier,
                    (CASE WHEN len(gs) = 0 THEN 0.0
                          ELSE round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6)
                     END) <= 0.5 AS f_repetition
                  FROM base)
            SELECT CAST(count(*) AS BIGINT) n_docs,
                   CAST(sum(CASE WHEN f_quality THEN 1 ELSE 0 END) AS BIGINT) pass_quality,
                   CAST(sum(CASE WHEN f_classifier THEN 1 ELSE 0 END) AS BIGINT)
                     pass_classifier,
                   CAST(sum(CASE WHEN f_repetition THEN 1 ELSE 0 END) AS BIGINT)
                     pass_repetition,
                   CAST(sum(CASE WHEN f_quality != f_classifier THEN 1 ELSE 0 END) AS BIGINT)
                     disagree_qc,
                   CAST(sum(CASE WHEN f_quality != f_repetition THEN 1 ELSE 0 END) AS BIGINT)
                     disagree_qr,
                   CAST(sum(CASE WHEN f_classifier != f_repetition THEN 1 ELSE 0 END)
                        AS BIGINT) disagree_cr
            FROM f""")
  )

  /** REAL audio decode in the correctness gate
    * ([[graft.operators.Multimodal.WavCodec]]): each doc becomes a
    * genuine RIFF/WAV PCM blob (integer-phase square wave — no trig, no
    * libm ulps), parsed back from actual little-endian bytes. Peak /
    * energy / zero-crossings / duration have closed forms, so DuckDB
    * verifies the WHOLE synth→parse trip arithmetically without
    * touching a byte — the audio sibling of q124's PNG round trip.
    */
  val q246AudioRoundtrip: QueryDef = QueryDef(
    "q246_audio_roundtrip",
    (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal.WavCodec
      Tables
        .documents(s, dir)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => WavCodec.decode(id, WavCodec.synthesizeSquare(id))))
        .toDF()
    },
    Some("""SELECT doc_id,
                   8000 AS sample_rate,
                   CAST(800 AS BIGINT) AS n_samples,
                   CAST(100 AS BIGINT) AS duration_ms,
                   CAST(1000 + (doc_id % 20) * 1500 AS BIGINT) AS peak,
                   CAST(800 * (1000 + (doc_id % 20) * 1500) *
                        (1000 + (doc_id % 20) * 1500) AS BIGINT) AS sum_sq,
                   CAST((2 * (200 + (doc_id % 8) * 100) * 799) // 8000 AS BIGINT)
                     AS zero_crossings
            FROM documents""")
  )

  /** Late-data report — the watermark-tuning evidence: treating
    * event_id as arrival order, an event is LATE if an earlier-arriving
    * event in its hour already carried a later event time (running-max
    * inversion). Lateness magnitude percentiles tell you what
    * `withWatermark` delay actually covers. Hour-partitioned windows
    * only.
    */
  val q247LateData: QueryDef = QueryDef(
    "q247_late_data",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("hr"))
        .orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables
        .events(s, dir)
        .select(
          col("event_id"),
          expr("unix_micros(ts) div 3600000000").as("hr"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_max", max(col("us")).over(w))
        .withColumn("late_by_s",
          when(col("prev_max") > col("us"), (col("prev_max") - col("us")) / lit(1000000L))
            .otherwise(lit(0L)).cast("long"))
        .groupBy(expr("pmod(hr, 24)").as("hour_of_day"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("late_by_s") > 0, 1L).otherwise(0L)).as("n_late"),
          round(expr("percentile(late_by_s, 0.99)"), 6).as("p99_late_s"),
          max(col("late_by_s")).as("max_late_s"))
        .withColumn(
          "late_pct",
          round(col("n_late").cast("double") / col("n").cast("double") * 100.0, 6))
    },
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) // 3600000000 AS hr,
                              epoch_us(ts) us FROM events),
            r AS (SELECT *, max(us) OVER (PARTITION BY hr ORDER BY event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) prev_max
                  FROM e),
            l AS (SELECT hr % 24 AS hour_of_day,
                         CASE WHEN prev_max > us THEN (prev_max - us) // 1000000
                              ELSE 0 END late_by_s
                  FROM r)
            SELECT hour_of_day, CAST(count(*) AS BIGINT) n,
                   CAST(sum(CASE WHEN late_by_s > 0 THEN 1 ELSE 0 END) AS BIGINT) n_late,
                   round(quantile_cont(late_by_s, 0.99), 6) AS p99_late_s,
                   CAST(max(late_by_s) AS BIGINT) AS max_late_s,
                   round(CAST(sum(CASE WHEN late_by_s > 0 THEN 1 ELSE 0 END) AS DOUBLE) /
                         count(*) * 100.0, 6) AS late_pct
            FROM l GROUP BY 1""")
  )

  /** One absorption value-iteration chain in replay SQL: p⁰ = 0, then
    * `iters` MATERIALIZED rounds of p(s) ← snap(P(s,conv) + Σ P(s,t)·p(t)),
    * excluding t = `removed` when cutting a channel.
    */
  private def markovChainSql(tag: String, removed: Option[String], iters: Int): String = {
    val notRemoved = removed.map(c => s" AND pp.to_state != '$c'").getOrElse("")
    val rounds = (1 to iters)
      .map { k =>
        val prev = s"p$tag${k - 1}"
        s"""p$tag$k AS MATERIALIZED (
              SELECT pp.from_state st,
                     floor(sum(CASE WHEN pp.to_state = 'purchase' THEN pp.pr
                                    WHEN pp.to_state NOT IN ('purchase', 'drop')$notRemoved
                                      THEN pp.pr * coalesce(pv.pv, 0)
                                    ELSE 0 END) * 1073741824.0 + 0.5) / 1073741824.0 AS pv
              FROM pm pp LEFT JOIN $prev pv ON pv.st = pp.to_state
              GROUP BY 1)"""
      }
      .mkString(",\n")
    s"p${tag}0 AS (SELECT from_state st, 0.0 pv FROM tt),\n$rounds"
  }

  /** Markov removal-effect attribution
    * ([[graft.operators.Sessionize.markovAttribution]]): session chains
    * absorbed at first purchase, channel credit = drop in start→purchase
    * absorption when paths through the channel are cut. Oracle replays
    * sessionization, the transition matrix, and FIVE 12-round snapped
    * value-iteration chains (base + one per removable channel).
    */
  val q248MarkovAttribution: QueryDef = QueryDef(
    "q248_markov_attribution",
    (s, dir) => Sessionize.markovAttribution(Tables.events(s, dir)),
    Some {
      val channels = Seq("click", "error", "signup", "view")
      val chains = (markovChainSql("b", None, 12) +: channels.map(c =>
        markovChainSql(c, Some(c), 12))).mkString(",\n")
      val outRows = channels
        .map { c =>
          s"""SELECT '$c' AS channel,
                round((SELECT pv FROM pb12 WHERE st = 'start'), 6) AS base_p,
                round((SELECT pv FROM p${c}12 WHERE st = 'start'), 6) AS removed_p,
                round(((SELECT pv FROM pb12 WHERE st = 'start') -
                       (SELECT pv FROM p${c}12 WHERE st = 'start')) /
                      (SELECT pv FROM pb12 WHERE st = 'start'), 6) AS removal_effect"""
        }
        .mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) us FROM events),
          s1 AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                                THEN 1 ELSE 0 END brk
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
          s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id) sess
                 FROM s1),
          s3 AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
                             ORDER BY us, event_id) pos FROM s2),
          s4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' THEN pos END)
                             OVER (PARTITION BY user_id, sess) first_p FROM s3),
          k AS (SELECT * FROM s4 WHERE first_p IS NULL OR pos <= first_p),
          stp AS (SELECT *, lead(event_type) OVER (PARTITION BY user_id, sess
                              ORDER BY pos) nxt FROM k),
          tr AS (
            SELECT 'start' AS from_state, event_type AS to_state FROM stp WHERE pos = 1
            UNION ALL
            SELECT event_type, nxt FROM stp WHERE nxt IS NOT NULL
            UNION ALL
            SELECT event_type, 'drop' FROM stp
            WHERE nxt IS NULL AND event_type != 'purchase'),
          tm AS MATERIALIZED (SELECT from_state, to_state, CAST(count(*) AS BIGINT) c
                              FROM tr GROUP BY 1, 2),
          tt AS (SELECT from_state, CAST(sum(c) AS BIGINT) n FROM tm GROUP BY 1),
          pm AS MATERIALIZED (SELECT m.from_state, m.to_state,
                                     CAST(m.c AS DOUBLE) / t.n pr
                              FROM tm m JOIN tt t ON t.from_state = m.from_state),
          $chains
          $outRows"""
    }
  )

  /** Log-rank test ([[graft.operators.Survival.logRank]]): does
    * survival differ between the hash arms — hypergeometric
    * expectations and variances at every churn time, snapped addends,
    * one Z. Completes the survival family next to q191's KM curve.
    */
  val q249LogRank: QueryDef = QueryDef(
    "q249_logrank",
    (s, dir) => Survival.logRank(Tables.events(s, dir)),
    Some("""WITH u AS (SELECT user_id, min(epoch_us(ts)) f, max(epoch_us(ts)) l
                       FROM events GROUP BY 1),
            m AS (SELECT max(epoch_us(ts)) mx FROM events),
            lt AS (SELECT user_id % 2 arm, (l - f) // 3600000000 t_hours,
                          l > mx - 86400000000 censored
                   FROM u CROSS JOIN m),
            bat AS (SELECT arm, t_hours, CAST(count(*) AS BIGINT) n_at,
                           CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) d_at
                    FROM lt GROUP BY 1, 2),
            tms AS (SELECT DISTINCT t_hours FROM bat),
            ams AS (SELECT DISTINCT arm FROM bat),
            grid AS (SELECT a.arm, t.t_hours, coalesce(b.n_at, 0) n_at,
                            coalesce(b.d_at, 0) d_at
                     FROM ams a CROSS JOIN tms t
                     LEFT JOIN bat b ON b.arm = a.arm AND b.t_hours = t.t_hours),
            at1 AS (SELECT arm, CAST(count(*) AS BIGINT) n_arm FROM lt GROUP BY 1),
            ar AS (SELECT g.arm, g.t_hours, g.n_at, g.d_at,
                          a.n_arm - coalesce(CAST(sum(g.n_at) OVER (PARTITION BY g.arm
                            ORDER BY g.t_hours
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                            n_risk
                   FROM grid g JOIN at1 a USING (arm)),
            bt AS (SELECT t_hours, CAST(sum(n_risk) AS BIGINT) n_t,
                          CAST(sum(d_at) AS BIGINT) d_t,
                          CAST(sum(CASE WHEN arm = 1 THEN n_risk ELSE 0 END) AS BIGINT) n1_t,
                          CAST(sum(CASE WHEN arm = 1 THEN d_at ELSE 0 END) AS BIGINT) d1_t
                   FROM ar GROUP BY 1),
            tv AS (SELECT *,
                          floor(CAST(n1_t AS DOUBLE) * d_t / n_t * 1073741824.0 + 0.5) /
                            1073741824.0 e1t,
                          CASE WHEN n_t > 1 THEN
                            floor(CAST(n1_t AS DOUBLE) * (n_t - n1_t) * d_t * (n_t - d_t) /
                                  (CAST(n_t AS DOUBLE) * n_t * (n_t - 1)) *
                                  1073741824.0 + 0.5) / 1073741824.0
                          ELSE 0.0 END v1t
                   FROM bt WHERE d_t > 0),
            a2 AS (SELECT CAST(count(*) AS BIGINT) n_times, CAST(sum(d1_t) AS BIGINT) o1,
                          round(sum(e1t), 6) e1, round(sum(v1t), 6) var1 FROM tv)
            SELECT n_times, o1, e1, var1,
                   CASE WHEN var1 > 0 THEN round((o1 - e1) / sqrt(var1), 6) END AS z
            FROM a2""")
  )

  /** Rank-biased overlap (Webber et al. '10) between the BM25 and dense
    * top-10 rankings (q153's two rankers): truncated
    * RBO = (1−p)·Σ p^(d−1)·|A_d ∩ B_d|/d at p = 0.9 — the standard
    * "how differently do two rankers see the corpus" number. Prefix
    * intersections via greatest-rank explode (equi-grouped, no θ-join);
    * addends snapped.
    */
  val q250Rbo: QueryDef = QueryDef(
    "q250_rbo",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sparse = graft.operators.TextAnalysis
        .bm25Scores(Tables.documents(s, dir), Seq("data", "query", "stream"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(10)
        .withColumn(
          "ra",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("ra"))
      val emb = Tables.embeddings(s, dir)
      val dense = graft.operators.Similarity
        .bruteTopK(emb, emb.filter(col("vec_id") === 0), k = 10)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("rb"))
      val common = sparse
        .join(dense, "doc_id")
        .select(greatest(col("ra"), col("rb")).as("m"))
        .localCheckpoint()
      val perDepth = common
        .withColumn("d", explode(sequence(col("m").cast("int"), lit(10))))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("x_d"))
      perDepth
        .withColumn(
          "addend",
          snap(pow(lit(0.9), col("d") - 1) * col("x_d").cast("double") / col("d").cast("double")))
        .agg(
          max(when(col("d") === 10, col("x_d"))).as("overlap_at_10"),
          round(lit(0.1) * sum(col("addend")), 6).as("rbo"))
        .select(
          lit(10).as("depth"),
          coalesce(col("overlap_at_10"), lit(0L)).as("overlap_at_10"),
          col("rbo"))
    },
    Some(s"""WITH tok AS (
              SELECT doc_id, t FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
              WHERE t <> ''),
            dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
            c AS (SELECT count(*) AS n_docs, avg(len) AS avgdl FROM dl),
            q AS (SELECT doc_id, t, count(*) AS tf FROM tok
                  WHERE t IN ('data', 'query', 'stream') GROUP BY 1, 2),
            idf AS (SELECT t, count(DISTINCT doc_id) AS dfc FROM tok
                    WHERE t IN ('data', 'query', 'stream') GROUP BY t),
            scored AS (
              SELECT q.doc_id,
                     ln((c.n_docs - idf.dfc + 0.5) / (idf.dfc + 0.5) + 1.0)
                       * q.tf * (1.2 + 1.0)
                       / (q.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / c.avgdl)) AS ts
              FROM q JOIN idf USING (t) JOIN dl USING (doc_id), c),
            sp AS (SELECT doc_id, rank ra FROM (
                     SELECT doc_id, row_number() OVER (
                       ORDER BY bm25 DESC, doc_id ASC) AS rank
                     FROM (SELECT doc_id, round(sum(ts), 6) AS bm25
                           FROM scored GROUP BY doc_id))
                   WHERE rank <= 10),
            dn AS (SELECT neighbor_id doc_id, rank rb FROM (
                     SELECT c.vec_id AS neighbor_id,
                            row_number() OVER (ORDER BY
                              round(${LlmQueries.dotSql("q2.embedding", "c.embedding")} /
                                    (sqrt(${LlmQueries.dotSql("q2.embedding", "q2.embedding")}) *
                                     sqrt(${LlmQueries.dotSql("c.embedding", "c.embedding")})), 6)
                                DESC,
                              c.vec_id ASC) AS rank
                     FROM embeddings q2 JOIN embeddings c ON c.vec_id != q2.vec_id
                     WHERE q2.vec_id = 0
                   ) WHERE rank <= 10),
            cm AS (SELECT greatest(sp.ra, dn.rb) m FROM sp JOIN dn USING (doc_id)),
            pd AS (SELECT d.d, CAST(count(*) AS BIGINT) x_d
                   FROM cm CROSS JOIN range(1, 11) d(d)
                   WHERE d.d >= cm.m GROUP BY 1),
            ad AS (SELECT d, x_d,
                          floor(pow(0.9, d - 1) * x_d / d * 1073741824.0 + 0.5) /
                            1073741824.0 addend
                   FROM pd)
            SELECT 10 AS depth,
                   coalesce(max(CASE WHEN d = 10 THEN x_d END), 0) AS overlap_at_10,
                   round(0.1 * sum(addend), 6) AS rbo
            FROM ad""")
  )

  /** Temporal referential integrity: lineitems must reference an
    * existing order and ship on/after its order date — violation counts
    * plus the exact ship-lag distribution, the DQ gate a warehouse load
    * runs before publishing.
    */
  val q251TemporalIntegrity: QueryDef = QueryDef(
    "q251_temporal_integrity",
    (s, dir) => {
      val li = Tables
        .lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"))
      val o = Tables
        .orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("odate"))
      li.join(o, col("l_orderkey") === col("o_orderkey"), "left")
        .withColumn("lag_days", datediff(col("ship"), col("odate")).cast("long"))
        .agg(
          count(lit(1)).as("n_lineitems"),
          sum(when(col("odate").isNull, 1L).otherwise(0L)).as("n_orphans"),
          sum(when(col("lag_days") < 0, 1L).otherwise(0L)).as("n_ship_before_order"),
          min(col("lag_days")).as("min_lag_days"),
          round(expr("percentile(lag_days, 0.5)"), 6).as("p50_lag_days"),
          max(col("lag_days")).as("max_lag_days"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) n_lineitems,
                   CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     n_orphans,
                   CAST(sum(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
                                               CAST(l.l_shipdate AS DATE)) < 0
                            THEN 1 ELSE 0 END) AS BIGINT) n_ship_before_order,
                   CAST(min(datediff('day', CAST(o.o_orderdate AS DATE),
                                     CAST(l.l_shipdate AS DATE))) AS BIGINT) min_lag_days,
                   round(quantile_cont(datediff('day', CAST(o.o_orderdate AS DATE),
                                                CAST(l.l_shipdate AS DATE)), 0.5), 6)
                     p50_lag_days,
                   CAST(max(datediff('day', CAST(o.o_orderdate AS DATE),
                                     CAST(l.l_shipdate AS DATE))) AS BIGINT) max_lag_days
            FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey""")
  )

  /** Partition-layout skew report: daily partition row counts with
    * max/mean skew factor and tail sizes — what a lake writer checks
    * before a straggler-prone layout ships. Exact integers + one
    * division.
    */
  val q252PartitionSkew: QueryDef = QueryDef(
    "q252_partition_skew",
    (s, dir) => {
      val parts = Tables
        .events(s, dir)
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("rows_in_part"))
      parts.agg(
        count(lit(1)).as("n_partitions"),
        sum(col("rows_in_part")).as("n_rows"),
        min(col("rows_in_part")).as("min_rows"),
        max(col("rows_in_part")).as("max_rows"),
        round(expr("percentile(rows_in_part, 0.99)"), 6).as("p99_rows"))
        .withColumn(
          "skew_factor",
          round(
            col("max_rows").cast("double") * col("n_partitions").cast("double") /
              col("n_rows").cast("double"),
            6))
    },
    Some("""WITH p AS (SELECT epoch_us(ts) // 86400000000 AS day,
                              CAST(count(*) AS BIGINT) rows_in_part
                       FROM events GROUP BY 1)
            SELECT CAST(count(*) AS BIGINT) n_partitions,
                   CAST(sum(rows_in_part) AS BIGINT) n_rows,
                   CAST(min(rows_in_part) AS BIGINT) min_rows,
                   CAST(max(rows_in_part) AS BIGINT) max_rows,
                   round(quantile_cont(rows_in_part, 0.99), 6) AS p99_rows,
                   round(CAST(max(rows_in_part) AS DOUBLE) * count(*) / sum(rows_in_part), 6)
                     AS skew_factor
            FROM p""")
  )

  /** Zipf's-law fit: ln-frequency vs ln-rank OLS over the top 100 words
    * (frequency-ordered, word tie-break) — the rank-size exponent that
    * pairs with q209's Heaps fit. Snapped logs, exact ranks.
    */
  val q253ZipfFit: QueryDef = QueryDef(
    "q253_zipf_fit",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val top = Tables
        .documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("word").asc)
        .limit(100)
        .withColumn(
          "rnk",
          row_number().over(Window.orderBy(col("tf").desc, col("word").asc)).cast("long"))
      top
        .select(snap(log(col("rnk"))).as("lx"), snap(log(col("tf"))).as("ly"))
        .agg(
          count(lit(1)).as("m"),
          sum(col("lx")).as("sx"),
          sum(col("ly")).as("sy"),
          sum(col("lx") * col("lx")).as("sxx"),
          sum(col("lx") * col("ly")).as("sxy"),
          sum(col("ly") * col("ly")).as("syy"))
        .withColumn("dxy", snap(col("m") * col("sxy") - col("sx") * col("sy")))
        .withColumn("dxx", snap(col("m") * col("sxx") - col("sx") * col("sx")))
        .withColumn("dyy", snap(col("m") * col("syy") - col("sy") * col("sy")))
        .select(
          col("m").as("n_ranks"),
          when(col("dxx") =!= 0.0, round(col("dxy") / col("dxx"), 6)).as("zipf_slope"),
          when(col("dxx") =!= 0.0 && col("dyy") =!= 0.0,
            round(col("dxy") * col("dxy") / (col("dxx") * col("dyy")), 6)).as("r2"))
    },
    Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) word FROM documents),
            g AS (SELECT word, CAST(count(*) AS BIGINT) tf FROM w
                  WHERE length(word) > 0 GROUP BY 1),
            t AS (SELECT tf, CAST(row_number() OVER (ORDER BY tf DESC, word ASC) AS BIGINT) rnk
                  FROM g ORDER BY tf DESC, word ASC LIMIT 100),
            p AS (SELECT floor(ln(rnk) * 1073741824.0 + 0.5) / 1073741824.0 lx,
                         floor(ln(tf) * 1073741824.0 + 0.5) / 1073741824.0 ly
                  FROM t),
            a AS (SELECT CAST(count(*) AS BIGINT) m, sum(lx) sx, sum(ly) sy,
                         sum(lx * lx) sxx, sum(lx * ly) sxy, sum(ly * ly) syy FROM p),
            d AS (SELECT *,
                         floor((m * sxy - sx * sy) * 1073741824.0 + 0.5) / 1073741824.0 dxy,
                         floor((m * sxx - sx * sx) * 1073741824.0 + 0.5) / 1073741824.0 dxx,
                         floor((m * syy - sy * sy) * 1073741824.0 + 0.5) / 1073741824.0 dyy
                  FROM a)
            SELECT m AS n_ranks,
                   CASE WHEN dxx != 0 THEN round(dxy / dxx, 6) END AS zipf_slope,
                   CASE WHEN dxx != 0 AND dyy != 0
                        THEN round(dxy * dxy / (dxx * dyy), 6) END AS r2
            FROM d""")
  )

  /** Burstiness (Fano factor / index of dispersion): per event type the
    * variance-to-mean ratio of hourly counts on the zero-filled grid —
    * VMR > 1 flags bursty arrivals a Poisson model (and a rate limiter
    * sized for one) would miss. All integer sums, one division.
    */
  val q254FanoFactor: QueryDef = QueryDef(
    "q254_fano_factor",
    (s, dir) => {
      val cnt = Tables
        .events(s, dir)
        .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val bounds = cnt.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      val grid = cnt
        .select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds.select(explode(sequence(col("mn"), col("mx"))).as("h"))))
        .join(cnt, Seq("event_type", "h"), "left")
        .select(col("event_type"), coalesce(col("x"), lit(0L)).as("x"))
      grid
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sm"), sum(col("x") * col("x")).as("s2"))
        .select(
          col("event_type"),
          col("n").as("n_hours"),
          round(col("sm").cast("double") / col("n").cast("double"), 6).as("mean_per_hour"),
          when(col("sm") > 0,
            round(
              (col("n") * col("s2") - col("sm") * col("sm")).cast("double") /
                (col("n") * col("sm")).cast("double"),
              6)).as("fano"))
    },
    Some("""WITH cnt AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
                                CAST(count(*) AS BIGINT) x
                         FROM events GROUP BY 1, 2),
            b AS (SELECT min(h) mn, max(h) mx FROM cnt),
            g AS (SELECT e.event_type, gr.h, coalesce(c.x, 0) AS x
                  FROM (SELECT DISTINCT event_type FROM cnt) e
                  CROSS JOIN (SELECT unnest(range(mn, mx + 1)) h FROM b) gr
                  LEFT JOIN cnt c ON c.event_type = e.event_type AND c.h = gr.h),
            a AS (SELECT event_type, CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sm,
                         CAST(sum(x * x) AS BIGINT) s2 FROM g GROUP BY 1)
            SELECT event_type, n AS n_hours,
                   round(CAST(sm AS DOUBLE) / n, 6) AS mean_per_hour,
                   CASE WHEN sm > 0 THEN
                     round(CAST(n * s2 - sm * sm AS DOUBLE) / (n * sm), 6) END AS fano
            FROM a""")
  )

  /** Geospatial radius join: deterministic per-user coordinates (grid
    * cities + id-hash jitter), candidate pairs from 1°×1° CELL-BINNED
    * equi-joins over the 3×3 neighborhood (the geohash trick — never
    * users²), exact haversine ≤ 50 km verification on candidates only.
    * The spatial sibling of the binned range join.
    */
  val q255GeoRadius: QueryDef = QueryDef(
    "q255_geo_radius",
    (s, dir) => {
      val pts = Tables
        .events(s, dir)
        .select(col("user_id")).distinct()
        .select(
          col("user_id"),
          (lit(40.0) + (col("user_id") % 7).cast("double") * 0.3 +
            (col("user_id") % 13).cast("double") * 0.01).as("lat"),
          (lit(-100.0) + (col("user_id") % 11).cast("double") * 0.4 +
            (col("user_id") % 17).cast("double") * 0.01).as("lon"))
        .localCheckpoint()
      val binned = pts
        .withColumn("cx", floor(col("lon")).cast("long"))
        .withColumn("cy", floor(col("lat")).cast("long"))
      val probes = binned
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .select(
          col("user_id").as("ua"), col("lat").as("lat_a"), col("lon").as("lon_a"),
          (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
      val dist = expr(
        """12742.0 * asin(sqrt(
             pow(sin(radians(lat_b - lat_a) / 2), 2) +
             cos(radians(lat_a)) * cos(radians(lat_b)) *
             pow(sin(radians(lon_b - lon_a) / 2), 2)))""")
      probes
        .join(
          binned.select(
            col("user_id").as("ub"), col("lat").as("lat_b"), col("lon").as("lon_b"),
            col("cx"), col("cy")),
          Seq("cx", "cy"))
        .filter(col("ua") < col("ub"))
        .withColumn("km", dist)
        .filter(col("km") <= 50.0)
        .select(col("ua"), col("ub"), round(col("km"), 3).as("km"))
    },
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
            pts AS (SELECT user_id,
                           40.0 + (user_id % 7) * 0.3 + (user_id % 13) * 0.01 AS lat,
                           -100.0 + (user_id % 11) * 0.4 + (user_id % 17) * 0.01 AS lon
                    FROM u),
            p AS (SELECT a.user_id ua, b.user_id ub,
                         12742.0 * asin(sqrt(
                           pow(sin(radians(b.lat - a.lat) / 2), 2) +
                           cos(radians(a.lat)) * cos(radians(b.lat)) *
                           pow(sin(radians(b.lon - a.lon) / 2), 2))) AS km
                  FROM pts a JOIN pts b ON a.user_id < b.user_id)
            SELECT ua, ub, round(km, 3) AS km FROM p WHERE km <= 50.0""")
  )

  /** Exact money ledger: revenue per return flag as BIGINT INTEGER CENTS
    * — base-10 exact arithmetic end to end (the accounting contract float
    * money can't give). Prices/discounts round to cents via DECIMAL(18,2)
    * (value-identical on both engines — verified cell-by-cell in r5–r7),
    * then every downstream step is pure BIGINT: gross in cents, net
    * (price × (1 − discount), both cent-rounded) in tenth-mils (10⁻⁴ $).
    * Integer outputs because decimal WIRE FORMATS are not hash-portable:
    * Spark's sum(DECIMAL) widens to DECIMAL(28,2), DuckDB's to
    * DECIMAL(38,2)/HUGEINT, and even type-aligned decimal columns
    * serialize differently through the driver's capture layer (three
    * rounds of r5–r7 hash mismatches with zero differing cells). BIGINT
    * cents carry the same exactness guarantee with a portable encoding.
    */
  val q256DecimalLedger: QueryDef = QueryDef(
    "q256_decimal_ledger",
    (s, dir) =>
      Tables
        .lineitem(s, dir)
        .select(
          col("l_returnflag"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("price_c"),
          expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)").as("disc_c"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("price_c")).as("gross_cents"),
          // cents × hundredths = 10⁻⁴ dollars; all-BIGINT, no rounding
          sum(col("price_c") * (lit(100L) - col("disc_c"))).as("net_tenthmils")),
    Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) n,
                   CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                     AS BIGINT) AS gross_cents,
                   CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
                            (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)))
                     AS BIGINT) AS net_tenthmils
            FROM lineitem GROUP BY 1""")
  )

  /** Identity stitching: users and props.k device ids linked by
    * co-occurrence become a bipartite identity graph; connected
    * components (the O(log n) star contraction) yield stitched
    * identities — users/devices/events per identity cluster. The
    * cross-device resolution every analytics stack runs before
    * counting "people". Device nodes are offset into their own id
    * range; the oracle replays the closure recursively.
    */
  val q257IdentityGraph: QueryDef = QueryDef(
    "q257_identity_graph",
    (s, dir) => {
      val edges = Tables
        .events(s, dir)
        .select(
          col("user_id").as("doc_a"),
          (get_json_object(col("props"), "$.k").cast("long") + 1000000L).as("doc_b"))
        .distinct()
      val cc = graft.operators.Dedup.connectedComponentsStar(edges)
      cc.groupBy(col("cluster_rep"))
        .agg(
          sum(when(col("doc_id") < 1000000L, 1L).otherwise(0L)).as("n_users"),
          sum(when(col("doc_id") >= 1000000L, 1L).otherwise(0L)).as("n_devices"))
    },
    Some("""WITH RECURSIVE e0 AS (
              SELECT DISTINCT user_id AS u,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) + 1000000 AS v
              FROM events),
            edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
            reach AS (
              SELECT u AS node, u AS label FROM edges
              UNION
              SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v),
            lab AS (SELECT node, CAST(min(label) AS BIGINT) cluster_rep
                    FROM reach GROUP BY 1)
            SELECT cluster_rep,
                   CAST(sum(CASE WHEN node < 1000000 THEN 1 ELSE 0 END) AS BIGINT) n_users,
                   CAST(sum(CASE WHEN node >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) n_devices
            FROM lab GROUP BY 1""")
  )

  /** Global clustering coefficient: C = 3·triangles / wedges over the
    * q142 word graph — one number completing the graph-metrology set
    * (assortativity q196, k-core q166, triangles q142). Triangles from
    * the oriented two-join; wedges = Σ d(d−1)/2 from exact degrees.
    */
  val q258ClusteringCoeff: QueryDef = QueryDef(
    "q258_clustering_coeff",
    (s, dir) => {
      val edges = graft.operators.Cooccur
        .pmiPairs(Tables.documents(s, dir), window = 2, topK = 60)
        .select(col("a").as("src"), col("b").as("dst"))
        .localCheckpoint()
      val tri = Graph
        .triangleCounts(edges)
        .agg((sum(col("n_triangles")) / 3).cast("long").as("n_triangles"))
      val wedges = edges
        .select(col("src").as("n"))
        .union(edges.select(col("dst").as("n")))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("d"))
        .agg((sum(col("d") * (col("d") - 1)) / 2).cast("long").as("n_wedges"))
      tri
        .crossJoin(broadcast(wedges))
        .select(
          col("n_triangles"),
          col("n_wedges"),
          when(col("n_wedges") > 0,
            round(
              lit(3.0) * col("n_triangles").cast("double") / col("n_wedges").cast("double"),
              6)).as("clustering_coeff"))
    },
    Some("""WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
            pr AS (
              SELECT least(p.a, p.b) AS a, greatest(p.a, p.b) AS b FROM (
                SELECT unnest([{'a': ts[i], 'b': ts[i + 1]}
                               FOR i IN range(1, len(ts))]) AS p FROM t
                UNION ALL
                SELECT unnest([{'a': ts[i], 'b': ts[i + 2]}
                               FOR i IN range(1, len(ts) - 1)]) AS p FROM t)
              WHERE p.a != '' AND p.b != ''),
            e AS (SELECT a AS lo, b AS hi FROM (
                    SELECT a, b, count(*) AS c_ab FROM pr GROUP BY a, b
                    ORDER BY c_ab DESC, a ASC, b ASC LIMIT 60)
                  WHERE a != b),
            tri AS (SELECT CAST(count(*) AS BIGINT) n_triangles
                    FROM (SELECT e1.lo a, e1.hi b, e2.hi c
                          FROM e e1 JOIN e e2 ON e2.lo = e1.hi) w
                    JOIN e e3 ON e3.lo = w.a AND e3.hi = w.c),
            deg AS (SELECT n, CAST(count(*) AS BIGINT) d FROM (
                      SELECT lo n FROM e UNION ALL SELECT hi FROM e) GROUP BY 1),
            wd AS (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) n_wedges FROM deg)
            SELECT tri.n_triangles, wd.n_wedges,
                   CASE WHEN wd.n_wedges > 0 THEN
                     round(3.0 * tri.n_triangles / wd.n_wedges, 6) END AS clustering_coeff
            FROM tri CROSS JOIN wd""")
  )

  /** Weekly activity inequality trend
    * ([[graft.operators.Drift.giniByGroup]] composed over calendar
    * weeks): Gini of per-user event counts within each week — "is usage
    * concentrating?", tracked as a time series. Pure composition of
    * existing operators.
    */
  val q259WeeklyGini: QueryDef = QueryDef(
    "q259_weekly_gini",
    (s, dir) => {
      val weekly = Tables
        .events(s, dir)
        .groupBy(
          date_trunc("week", col("ts")).cast("date").as("wk"),
          col("user_id"))
        .agg(count(lit(1)).cast("double").as("n_events"))
      Drift
        .giniByGroup(weekly, "wk", "user_id", "n_events", scale = 1)
        .withColumnRenamed("n", "n_users")
    },
    Some("""WITH wu AS (SELECT CAST(date_trunc('week', ts) AS DATE) wk, user_id,
                               CAST(count(*) AS BIGINT) c
                        FROM events GROUP BY 1, 2),
            r AS (SELECT wk, c, CAST(row_number() OVER (
                    PARTITION BY wk ORDER BY c, user_id) AS BIGINT) i FROM wu),
            a AS (SELECT wk, CAST(count(*) AS BIGINT) n_users, CAST(sum(c) AS BIGINT) sc,
                         CAST(sum(i * c) AS BIGINT) sic FROM r GROUP BY 1)
            SELECT wk, n_users,
                   CASE WHEN sc != 0 THEN
                     round(CAST(2 * sic - (n_users + 1) * sc AS DOUBLE) /
                           CAST(n_users * sc AS DOUBLE), 6) END AS gini
            FROM a""")
  )

  /** A/B power planning: the minimum detectable effect at 80% power /
    * 95% confidence for the per-user metric, MDE ≈ 2.8017·σ_pooled·√(2/n)
    * — what the experimentation toolkit (q208/q211/q226/q230/q231)
    * plans against. Moments from exact cent sums; one sqrt chain.
    */
  val q260PowerMde: QueryDef = QueryDef(
    "q260_power_mde",
    (s, dir) => {
      val perUser = Tables
        .events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"))
      perUser
        .agg(
          count(lit(1)).as("n_users"),
          sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("varnum", col("n_users") * col("sxx") - col("sx") * col("sx"))
        .select(
          col("n_users"),
          round(col("sx").cast("double") / 100.0 / col("n_users").cast("double"), 6)
            .as("mean_per_user"),
          round(
            sqrt(col("varnum").cast("double")) / col("n_users").cast("double") / 100.0,
            6).as("sigma"),
          round(
            lit(2.8017) * (sqrt(col("varnum").cast("double")) /
              col("n_users").cast("double") / 100.0) *
              sqrt(lit(4.0) / col("n_users").cast("double")),
            6).as("mde_abs"))
    },
    Some("""WITH pu AS (SELECT user_id,
                               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) x
                        FROM events GROUP BY 1),
            a AS (SELECT CAST(count(*) AS BIGINT) n_users, CAST(sum(x) AS BIGINT) sx,
                         CAST(sum(x * x) AS BIGINT) sxx FROM pu),
            v AS (SELECT *, n_users * sxx - sx * sx varnum FROM a)
            SELECT n_users,
                   round(CAST(sx AS DOUBLE) / 100.0 / n_users, 6) AS mean_per_user,
                   round(sqrt(CAST(varnum AS DOUBLE)) / n_users / 100.0, 6) AS sigma,
                   round(2.8017 * (sqrt(CAST(varnum AS DOUBLE)) / n_users / 100.0) *
                         sqrt(4.0 / n_users), 6) AS mde_abs
            FROM v""")
  )

  /** Naive-forecast backtest: over the final 7 days, score the
    * previous-day and same-day-last-week baselines on daily event
    * counts — exact integer absolute errors, the MASE-style yardstick
    * any real forecaster must beat before shipping.
    */
  val q261ForecastBacktest: QueryDef = QueryDef(
    "q261_forecast_backtest",
    (s, dir) => {
      val daily = Tables
        .events(s, dir)
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val mx = daily.agg(max(col("day")).as("mx"))
      daily
        .crossJoin(broadcast(mx))
        .filter(col("day") > col("mx") - 7)
        .join(
          daily.select((col("day") + 1).as("day"), col("x").as("prev_day")), Seq("day"), "left")
        .join(
          daily.select((col("day") + 7).as("day"), col("x").as("prev_week")), Seq("day"), "left")
        .agg(
          count(lit(1)).as("n_days"),
          sum(abs(col("x") - col("prev_day"))).as("mae_prev_day_sum"),
          sum(abs(col("x") - col("prev_week"))).as("mae_prev_week_sum"))
        .select(
          col("n_days"),
          round(col("mae_prev_day_sum").cast("double") / col("n_days").cast("double"), 6)
            .as("mae_prev_day"),
          round(col("mae_prev_week_sum").cast("double") / col("n_days").cast("double"), 6)
            .as("mae_seasonal"),
          (col("mae_prev_week_sum") < col("mae_prev_day_sum")).as("seasonal_wins"))
    },
    Some("""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                              CAST(count(*) AS BIGINT) x
                       FROM events GROUP BY 1),
            m AS (SELECT max(day) mx FROM d),
            t AS (SELECT d.day, d.x, pd.x prev_day, pw.x prev_week
                  FROM d CROSS JOIN m
                  LEFT JOIN d pd ON pd.day = d.day - 1
                  LEFT JOIN d pw ON pw.day = d.day - 7
                  WHERE d.day > m.mx - 7),
            a AS (SELECT CAST(count(*) AS BIGINT) n_days,
                         CAST(sum(abs(x - prev_day)) AS BIGINT) s1,
                         CAST(sum(abs(x - prev_week)) AS BIGINT) s7
                  FROM t)
            SELECT n_days,
                   round(CAST(s1 AS DOUBLE) / n_days, 6) AS mae_prev_day,
                   round(CAST(s7 AS DOUBLE) / n_days, 6) AS mae_seasonal,
                   s7 < s1 AS seasonal_wins
            FROM a""")
  )

  /** Order-to-ship lag SLA by priority: exact day lags, per-priority
    * p50/p90 and breach counts over 60 days — the fulfillment SLA board.
    */
  val q262ShipLagSla: QueryDef = QueryDef(
    "q262_ship_lag_sla",
    (s, dir) =>
      Tables
        .lineitem(s, dir)
        .join(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          col("o_orderpriority"),
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("lag_days"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(lag_days, 0.5)"), 6).as("p50_days"),
          round(expr("percentile(lag_days, 0.9)"), 6).as("p90_days"),
          sum(when(col("lag_days") > 60, 1L).otherwise(0L)).as("n_breach_60d")),
    Some("""SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) n,
                   round(quantile_cont(datediff('day', CAST(o_orderdate AS DATE),
                                                CAST(l_shipdate AS DATE)), 0.5), 6) p50_days,
                   round(quantile_cont(datediff('day', CAST(o_orderdate AS DATE),
                                                CAST(l_shipdate AS DATE)), 0.9), 6) p90_days,
                   CAST(sum(CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                                               CAST(l_shipdate AS DATE)) > 60
                            THEN 1 ELSE 0 END) AS BIGINT) n_breach_60d
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY 1""")
  )

  /** Discount response (elasticity screen): per brand, the OLS slope of
    * quantity on discount points — all-integer sums (quantities and
    * discount cents are exact), the q197 closed forms.
    */
  val q263DiscountElasticity: QueryDef = QueryDef(
    "q263_discount_elasticity",
    (s, dir) =>
      Tables
        .lineitem(s, dir)
        .join(
          Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(
          col("p_brand"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("x"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("y"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(
          col("p_brand"),
          col("n"),
          when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
            round(
              (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
              6)).as("qty_per_discount_pt")),
    Some("""WITH b AS (SELECT p.p_brand,
                              CAST(round(l.l_discount * 100) AS BIGINT) x,
                              CAST(round(l.l_quantity) AS BIGINT) y
                       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            a AS (SELECT p_brand, CAST(count(*) AS BIGINT) n,
                         CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
                         CAST(sum(x * x) AS BIGINT) sxx, CAST(sum(x * y) AS BIGINT) sxy
                  FROM b GROUP BY 1)
            SELECT p_brand, n,
                   CASE WHEN n * sxx - sx * sx != 0 THEN
                     round(CAST(n * sxy - sx * sy AS DOUBLE) /
                           CAST(n * sxx - sx * sx AS DOUBLE), 6) END
                     AS qty_per_discount_pt
            FROM a""")
  )

  /** Supplier concentration (HHI): per part type, the Herfindahl index
    * of supplier revenue shares ×10000 — the sourcing-risk metric.
    * Shares are exact cent ratios; addends snapped.
    */
  val q264SupplierHhi: QueryDef = QueryDef(
    "q264_supplier_hhi",
    (s, dir) => {
      val rev = Tables
        .lineitem(s, dir)
        .join(
          Tables.part(s, dir).select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"), col("l_suppkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
        .localCheckpoint() // type×supplier sized; totals + share pass
      val totals = rev.groupBy(col("p_type")).agg(sum(col("cents")).as("tot"))
      rev
        .join(totals, "p_type")
        .withColumn(
          "sh2",
          snap(
            (col("cents").cast("double") / col("tot").cast("double")) *
              (col("cents").cast("double") / col("tot").cast("double"))))
        .groupBy(col("p_type"))
        .agg(
          count(lit(1)).as("n_suppliers"),
          round(sum(col("sh2")) * 10000.0, 6).as("hhi"))
    },
    Some("""WITH rev AS (SELECT p.p_type, l.l_suppkey,
                                CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                                     AS BIGINT) cents
                         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
                         GROUP BY 1, 2),
            t AS (SELECT p_type, CAST(sum(cents) AS BIGINT) tot FROM rev GROUP BY 1),
            s AS (SELECT rev.p_type,
                         floor((CAST(rev.cents AS DOUBLE) / t.tot) *
                               (CAST(rev.cents AS DOUBLE) / t.tot) *
                               1073741824.0 + 0.5) / 1073741824.0 sh2
                  FROM rev JOIN t USING (p_type))
            SELECT p_type, CAST(count(*) AS BIGINT) n_suppliers,
                   round(sum(sh2) * 10000.0, 6) AS hhi
            FROM s GROUP BY 1""")
  )

  /** ABC inventory classification: parts ranked by revenue, classified
    * A (first 80% of value), B (next 15%), C (rest) by exact integer
    * cumulative-cents thresholds — the classic ops cut, rolled up to
    * class sizes and value shares.
    */
  val q265AbcClassification: QueryDef = QueryDef(
    "q265_abc_classification",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables
        .lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      // r14: the cumulative-cents window had NO partition key — the part
      // dimension ran through ONE task (guide §2.4/§5). Ranks.runningSum
      // is the exact bucketed prefix sum (integer addition reassociates
      // freely); -(cents div 2^20) is monotone along (cents DESC) and
      // part-revenue sums are near-continuous, so the bands spread.
      graft.operators.Ranks
        .runningSum(rev, expr("-(cents div 1048576)"), col("cents"), "cum",
          col("cents").desc, col("l_partkey").asc)
        .crossJoin(broadcast(rev.agg(sum(col("cents")).as("tot"))))
        .withColumn(
          "abc",
          when(col("cum") * 100 <= col("tot") * 80, "A")
            .when(col("cum") * 100 <= col("tot") * 95, "B")
            .otherwise("C"))
        .groupBy(col("abc"))
        .agg(
          count(lit(1)).as("n_parts"),
          sum(col("cents")).as("class_cents"))
        .withColumn(
          "value_share_pct",
          round(col("class_cents").cast("double") /
            sum(col("class_cents")).over(Window.partitionBy()) * 100.0, 6))
    },
    Some("""WITH rev AS (SELECT l_partkey,
                                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                                     AS BIGINT) cents
                         FROM lineitem GROUP BY 1),
            t AS (SELECT CAST(sum(cents) AS BIGINT) tot FROM rev),
            c AS (SELECT *, CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC)
                                 AS BIGINT) cum FROM rev),
            k AS (SELECT CASE WHEN cum * 100 <= t.tot * 80 THEN 'A'
                              WHEN cum * 100 <= t.tot * 95 THEN 'B'
                              ELSE 'C' END abc, cents
                  FROM c CROSS JOIN t),
            g AS (SELECT abc, CAST(count(*) AS BIGINT) n_parts,
                         CAST(sum(cents) AS BIGINT) class_cents FROM k GROUP BY 1),
            tt AS (SELECT CAST(sum(class_cents) AS BIGINT) all_cents FROM g)
            SELECT abc, n_parts, class_cents,
                   round(CAST(class_cents AS DOUBLE) / all_cents * 100.0, 6)
                     AS value_share_pct
            FROM g CROSS JOIN tt""")
  )

  /** kNN-classifier eval: predict each probe's label by majority vote
    * of its top-5 exact-cosine neighbors (smallest-label tie-break),
    * grade against truth — classification-by-retrieval, the sanity
    * check an embedding space gets before anything trains on it.
    */
  val q266KnnEval: QueryDef = QueryDef(
    "q266_knn_eval",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val ranked = graft.operators.Similarity
        .bruteTopK(emb, emb.filter(col("vec_id") < 50), k = 5)
      val votes = ranked
        .join(
          emb.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")),
          "neighbor_id")
        .groupBy(col("query_id"), col("nlabel"))
        .agg(count(lit(1)).as("v"))
      val wPick = Window
        .partitionBy(col("query_id"))
        .orderBy(col("v").desc, col("nlabel").asc)
      votes
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .join(
          emb.select(col("vec_id").as("query_id"), col("label").as("true_label")),
          "query_id")
        .groupBy(col("true_label"))
        .agg(
          count(lit(1)).as("n_probes"),
          sum(when(col("nlabel") === col("true_label"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn(
          "accuracy",
          round(col("n_correct").cast("double") / col("n_probes").cast("double"), 6))
    },
    Some(s"""WITH ranked AS (
              SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                         round(${LlmQueries.dotSql("q.embedding", "c.embedding")} /
                               (sqrt(${LlmQueries.dotSql("q.embedding", "q.embedding")}) *
                                sqrt(${LlmQueries.dotSql("c.embedding", "c.embedding")})), 6)
                           DESC,
                         c.vec_id ASC) AS rank
                FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
                WHERE q.vec_id < 50
              ) WHERE rank <= 5),
            v AS (SELECT r.query_id, n.label nlabel, CAST(count(*) AS BIGINT) vv
                  FROM ranked r JOIN embeddings n ON n.vec_id = r.neighbor_id
                  GROUP BY 1, 2),
            p AS (SELECT query_id, nlabel FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY vv DESC, nlabel ASC) rn FROM v) WHERE rn = 1),
            g AS (SELECT e.label true_label, p.nlabel
                  FROM p JOIN embeddings e ON e.vec_id = p.query_id)
            SELECT true_label, CAST(count(*) AS BIGINT) n_probes,
                   CAST(sum(CASE WHEN nlabel = true_label THEN 1 ELSE 0 END) AS BIGINT)
                     n_correct,
                   round(CAST(sum(CASE WHEN nlabel = true_label THEN 1 ELSE 0 END) AS DOUBLE) /
                         count(*), 6) AS accuracy
            FROM g GROUP BY 1""")
  )

  /** Simpson's-paradox screen: the discount→quantity slope computed
    * globally vs within each brand — segments whose slope REVERSES the
    * pooled sign are flagged counts, the aggregation-bias alarm every
    * metrics review needs before trusting a pooled trend. All-integer
    * sums (q263's moments) on both levels.
    */
  val q267SimpsonScreen: QueryDef = QueryDef(
    "q267_simpson_screen",
    (s, dir) => {
      val base = Tables
        .lineitem(s, dir)
        .join(
          Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(
          col("p_brand"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("x"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("y"))
        .localCheckpoint()
      val glob = base.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(
          (col("n") * col("sxy") - col("sx") * col("sy")).as("gnum"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("gden"))
      base
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(
          col("p_brand"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("bnum"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("bden"))
        .crossJoin(broadcast(glob))
        .agg(
          count(lit(1)).as("n_segments"),
          max(signum(col("gnum").cast("double"))).cast("long").as("global_slope_sign"),
          sum(when(
            col("bden") =!= 0 && col("bnum") * col("gnum") < 0, 1L).otherwise(0L))
            .as("n_reversed"))
    },
    Some("""WITH b AS (SELECT p.p_brand,
                              CAST(round(l.l_discount * 100) AS BIGINT) x,
                              CAST(round(l.l_quantity) AS BIGINT) y
                       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            g AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sx,
                         CAST(sum(y) AS BIGINT) sy, CAST(sum(x * x) AS BIGINT) sxx,
                         CAST(sum(x * y) AS BIGINT) sxy FROM b),
            gg AS (SELECT n * sxy - sx * sy gnum, n * sxx - sx * sx gden FROM g),
            s AS (SELECT p_brand, CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sx,
                         CAST(sum(y) AS BIGINT) sy, CAST(sum(x * x) AS BIGINT) sxx,
                         CAST(sum(x * y) AS BIGINT) sxy FROM b GROUP BY 1),
            ss AS (SELECT p_brand, n * sxy - sx * sy bnum, n * sxx - sx * sx bden FROM s)
            SELECT CAST(count(*) AS BIGINT) n_segments,
                   CAST(max(sign(CAST(gg.gnum AS DOUBLE))) AS BIGINT) global_slope_sign,
                   CAST(sum(CASE WHEN bden != 0 AND bnum * gg.gnum < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) n_reversed
            FROM ss CROSS JOIN gg""")
  )

  /** Weekday/weekend contrast: exact-cent means per day class with the
    * two-sample z from integer moments — the calendar-effect readout.
    * Day-of-week from exact epoch-day arithmetic (1970-01-01 = Thursday).
    */
  val q268WeekendEffect: QueryDef = QueryDef(
    "q268_weekend_effect",
    (s, dir) => {
      val base = Tables
        .events(s, dir)
        .select(
          // epoch day 0 = Thursday -> dow 0..6 with 0 = Monday
          expr("pmod((unix_micros(ts) div 86400000000) + 3, 7)").as("dow"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .withColumn("is_weekend", col("dow") >= 5)
      base
        .groupBy(col("is_weekend"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("sc2"))
        .select(
          col("is_weekend"),
          col("n"),
          round(col("sc").cast("double") / 100.0 / col("n").cast("double"), 6).as("mean"),
          round(
            sqrt((col("n") * col("sc2") - col("sc") * col("sc")).cast("double")) /
              col("n").cast("double") / 100.0,
            6).as("stddev"))
    },
    Some("""WITH b AS (SELECT ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 AS is_weekend,
                              CAST(round(value * 100) AS BIGINT) c
                       FROM events)
            SELECT is_weekend, CAST(count(*) AS BIGINT) n,
                   round(CAST(sum(c) AS DOUBLE) / 100.0 / count(*), 6) AS mean,
                   round(sqrt(CAST(count(*) * sum(c * c) - sum(c) * sum(c) AS DOUBLE)) /
                         count(*) / 100.0, 6) AS stddev
            FROM b GROUP BY 1""")
  )

  /** Queueing capacity check — the analytics ↔ simulator bridge: the
    * measured arrival rate λ from the event stream against the
    * reference deployment's service capacity (4 workers × 1/5 s, the
    * SimConfig defaults), Erlang utilization ρ = λ/(c·μ) and stability
    * verdict. Exact integer arithmetic up to the one division.
    */
  val q269QueueCapacity: QueryDef = QueryDef(
    "q269_queue_capacity",
    (s, dir) =>
      Tables
        .events(s, dir)
        .agg(
          count(lit(1)).as("n_arrivals"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("span_us"))
        .select(
          col("n_arrivals"),
          expr("span_us div 1000000").as("span_s"),
          round(
            col("n_arrivals").cast("double") /
              (col("span_us").cast("double") / 1000000.0),
            6).as("lambda_per_s"),
          lit(4).as("workers"),
          lit(0.2).as("mu_per_s"),
          round(
            col("n_arrivals").cast("double") /
              (col("span_us").cast("double") / 1000000.0) / (lit(4.0) * lit(0.2)),
            6).as("rho"),
          (col("n_arrivals").cast("double") /
            (col("span_us").cast("double") / 1000000.0) < lit(0.8)).as("stable")),
    Some("""WITH a AS (SELECT CAST(count(*) AS BIGINT) n_arrivals,
                              CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) span_us
                       FROM events)
            SELECT n_arrivals, span_us // 1000000 AS span_s,
                   round(CAST(n_arrivals AS DOUBLE) / (CAST(span_us AS DOUBLE) / 1000000.0), 6)
                     AS lambda_per_s,
                   4 AS workers, 0.2 AS mu_per_s,
                   round(CAST(n_arrivals AS DOUBLE) / (CAST(span_us AS DOUBLE) / 1000000.0) /
                         (4.0 * 0.2), 6) AS rho,
                   CAST(n_arrivals AS DOUBLE) / (CAST(span_us AS DOUBLE) / 1000000.0) < 0.8
                     AS stable
            FROM a""")
  )

  val all: Seq[QueryDef] = Seq(
    q191KaplanMeier, q192Acf, q193Changepoint, q194QuantileNorm, q195PhraseSearch,
    q196Assortativity, q197LinregTrend, q198Transitions, q199Ccf, q200TheilSen,
    q201RollingWau, q202Gini, q203BhFdr, q204Trending, q205SchemaEvolution,
    q206GoldenRecord, q207GeoMedian, q208Cuped, q209HeapsLaw, q210KAnonymity, q211Did, q212PoissonBootstrap,
    q213MannWhitney, q214NgramNovelty, q215StreamMoments, q216SessionPaths,
    q217ClusterSample, q218CohortLtv, q219JoinCardinality, q220NeymanAlloc,
    q221PitJoin, q222MetricDecomposition, q223TimeToConvert, q224BrierDecomp,
    q225Lorenz, q226SrmCheck, q227BfsHops, q228WeightedMedian, q229AnovaF,
    q230PermutationTest, q231Qte, q232LabelBuilder, q233TargetEncoding,
    q234LangConfusion, q235RetrievalEval, q236SeasonalDecomp, q237HourlyBands,
    q238SourceOverlap, q239DedupImpact, q240EmbeddingQa, q241EmbeddingDrift,
    q242Rfm, q243ThresholdSweep, q244StopwordDiscovery, q245FilterDisagreement,
    q246AudioRoundtrip, q247LateData, q248MarkovAttribution, q249LogRank, q250Rbo,
    q251TemporalIntegrity, q252PartitionSkew, q253ZipfFit, q254FanoFactor, q255GeoRadius,
    q256DecimalLedger, q257IdentityGraph, q258ClusteringCoeff, q259WeeklyGini,
    q260PowerMde, q261ForecastBacktest, q262ShipLagSla, q263DiscountElasticity,
    q264SupplierHhi, q265AbcClassification, q266KnnEval, q267SimpsonScreen, q268WeekendEffect, q269QueueCapacity)
}
