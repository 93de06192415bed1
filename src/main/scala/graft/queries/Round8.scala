package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Cooccur, Eval, Intervals, Jenks, NaiveBayes, Pii, ReuseDistance, Sessionize, Shapley, Timeseries}
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-8 additions (q270+): the remaining attribution model (exact
  * Shapley), privacy/experimentation depth, and further corpus
  * diagnostics layered on the established determinism contracts
  * (2⁻³⁰-grid snapping, md5-derived randomness, bounded driver-side
  * model state).
  */
object Round8 {

  /** Exact Shapley-value attribution ([[graft.operators.Shapley]]):
    * the coalition game over per-user distinct touch sets, v(S) =
    * observed conversion rate of exactly-S users, φ enumerated over all
    * 2^n−1 coalitions. Oracle replays the coalition table, the bitmask
    * enumeration, and the snapped term sum verbatim.
    */
  val q270Shapley: QueryDef = QueryDef(
    "q270_shapley",
    (s, dir) => Shapley.attribution(Tables.events(s, dir)),
    Some("""WITH pu AS (SELECT user_id,
                   list_sort(list_distinct(list(event_type)
                     FILTER (event_type <> 'purchase'))) AS touch_set,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
            FROM events GROUP BY 1),
            pu2 AS (SELECT * FROM pu WHERE len(touch_set) > 0),
            coal AS (SELECT array_to_string(touch_set, ',') AS set_key, touch_set,
                            CAST(count(*) AS BIGINT) n_users, CAST(sum(conv) AS BIGINT) n_conv
                     FROM pu2 GROUP BY 1, 2),
            ch AS (SELECT channel, CAST(row_number() OVER (ORDER BY channel) - 1 AS BIGINT) idx
                   FROM (SELECT DISTINCT event_type AS channel FROM events
                         WHERE event_type <> 'purchase')),
            nn AS (SELECT CAST(count(*) AS BIGINT) n FROM ch),
            masks AS (SELECT unnest(range(1, 1 << n)) AS mask FROM nn),
            memb AS (SELECT m.mask, c.channel, c.idx
                     FROM masks m JOIN ch c ON ((m.mask >> c.idx) & 1) = 1),
            msets AS (SELECT mask, array_to_string(list_sort(list(channel)), ',') AS set_key,
                             CAST(count(*) AS BIGINT) sz
                      FROM memb GROUP BY 1),
            vs AS (SELECT m.mask, m.sz,
                          coalesce(CAST(c.n_conv AS DOUBLE) / c.n_users, 0.0) AS v
                   FROM msets m LEFT JOIN coal c USING (set_key)),
            terms AS (SELECT mb.channel,
                             floor((s.v - coalesce(s2.v, 0.0)) *
                                   (CAST(factorial(CAST(s.sz AS INTEGER) - 1) AS DOUBLE) *
                                    CAST(factorial(CAST(nn.n - s.sz AS INTEGER)) AS DOUBLE) /
                                    CAST(factorial(CAST(nn.n AS INTEGER)) AS DOUBLE)) *
                                   1073741824.0 + 0.5) / 1073741824.0 AS term
                      FROM memb mb
                      JOIN vs s ON s.mask = mb.mask
                      LEFT JOIN vs s2 ON s2.mask = mb.mask - (1 << mb.idx)
                      CROSS JOIN nn),
            touched AS (SELECT c2.channel, CAST(sum(co.n_users) AS BIGINT) AS n_users_touched
                        FROM coal co JOIN ch c2 ON list_contains(co.touch_set, c2.channel)
                        GROUP BY 1)
            SELECT t.channel, t.n_users_touched,
                   floor(sum(term) * 1073741824.0 + 0.5) / 1073741824.0 AS shapley
            FROM terms JOIN touched t USING (channel)
            GROUP BY 1, 2 ORDER BY 1""")
  )

  /** Interval-union coverage ([[graft.operators.Intervals.coverageIslands]]):
    * per-user gaps-and-islands merge of [ts, ts+30 min) activity
    * intervals — exact union measure in integer µs via the one-pass
    * running-max sweep. Oracle replays the sweep with the same window
    * frames.
    */
  val q271IntervalIslands: QueryDef = QueryDef(
    "q271_interval_islands",
    (s, dir) => Intervals.coverageIslands(Tables.events(s, dir)),
    Some("""WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                               epoch_us(ts) + 1800000000 AS end_us FROM events),
            m AS (SELECT *, max(end_us) OVER (PARTITION BY user_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM iv),
            b AS (SELECT *, CASE WHEN pme IS NULL OR us > pme THEN 1 ELSE 0 END AS brk FROM m),
            isl AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
                      ORDER BY us, event_id) AS island FROM b),
            g AS (SELECT user_id, island, CAST(count(*) AS BIGINT) n_iv,
                         min(us) s, max(end_us) e
                  FROM isl GROUP BY 1, 2)
            SELECT user_id, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
                   CAST(count(*) AS BIGINT) AS n_islands,
                   CAST(sum(e - s) AS BIGINT) AS covered_us,
                   CAST(max(e - s) AS BIGINT) AS longest_island_us
            FROM g GROUP BY 1""")
  )

  /** ε = ln 2 discrete-Laplace DP release of daily event-type counts
    * ([[graft.operators.Pii.dpNoisyCounts]]): two-sided geometric noise
    * sampled by INTEGER leading-zero counting on md5 words — zero
    * float calls, so the oracle replays released counts exactly.
    */
  val q272DpCounts: QueryDef = QueryDef(
    "q272_dp_counts",
    (s, dir) =>
      Pii.dpNoisyCounts(
        Tables.events(s, dir).select(
          col("event_type"),
          (unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day")),
        keyCols = Seq("event_type", "day")),
    Some("""WITH c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                              CAST(count(*) AS BIGINT) AS true_n
                       FROM events GROUP BY 1, 2),
            h AS (SELECT *, md5(event_type || CAST(day AS VARCHAR) || ':dp') AS digest FROM c),
            w AS (SELECT *, CAST(('0x' || substring(digest, 1, 8)) AS BIGINT) AS k1,
                            CAST(('0x' || substring(digest, 9, 8)) AS BIGINT) AS k2 FROM h),
            g AS (SELECT *, CASE WHEN k1 = 0 THEN 32
                                 ELSE 32 - length(bin(k1)) END AS gg FROM w)
            SELECT event_type, day, true_n,
                   CAST(CASE WHEN k2 % 2 = 0 THEN gg ELSE -gg END AS BIGINT) AS noise,
                   CAST(true_n + CASE WHEN k2 % 2 = 0 THEN gg ELSE -gg END AS BIGINT)
                     AS released_n
            FROM g""")
  )

  /** Always-valid mSPRT A/B monitor ([[graft.operators.Eval.msprtDaily]]):
    * daily-peeking mixture SPRT over the identity-hash arms with
    * snapped ln Λ and the running-min always-valid p. Oracle replays
    * the integer cumulative sums and the single float expression.
    */
  val q273Msprt: QueryDef = QueryDef(
    "q273_msprt",
    (s, dir) => Eval.msprtDaily(Tables.events(s, dir)),
    Some("""WITH base AS (SELECT epoch_us(ts) // 86400000000 AS day,
                                 CAST(user_id % 2 AS BIGINT) AS arm,
                                 CAST(round(value * 100) AS BIGINT) AS c FROM events),
            daily AS (SELECT day,
                             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) dn_a,
                             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) dn_b,
                             CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) ds_a,
                             CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) ds_b,
                             CAST(sum(c * c) AS BIGINT) dss, CAST(sum(c) AS BIGINT) ds,
                             CAST(count(*) AS BIGINT) dn
                      FROM base GROUP BY 1),
            tot AS (SELECT (CAST(sum(dss) AS DOUBLE) -
                            CAST(sum(ds) AS DOUBLE) * CAST(sum(ds) AS DOUBLE) /
                            CAST(sum(dn) AS DOUBLE)) /
                           (CAST(sum(dn) AS DOUBLE) - 1.0) AS sigma2
                    FROM daily),
            cum AS (SELECT day,
                           CAST(sum(dn_a) OVER w AS BIGINT) n_a,
                           CAST(sum(dn_b) OVER w AS BIGINT) n_b,
                           CAST(sum(ds_a) OVER w AS BIGINT) s_a,
                           CAST(sum(ds_b) OVER w AS BIGINT) s_b
                    FROM daily
                    WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)),
            f AS (SELECT day, n_a, n_b,
                         CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b AS delta,
                         sigma2 * (1.0 / n_a + 1.0 / n_b) AS vn, sigma2 AS tau2
                  FROM cum CROSS JOIN tot WHERE n_a > 0 AND n_b > 0),
            ll AS (SELECT *, floor((0.5 * ln(vn / (vn + tau2)) +
                                    delta * delta * tau2 / (2.0 * vn * (vn + tau2))) *
                                   1073741824.0 + 0.5) / 1073741824.0 AS log_lambda
                   FROM f),
            pk AS (SELECT *, CAST(row_number() OVER (ORDER BY day) AS BIGINT) day_idx,
                          max(log_lambda) OVER (ORDER BY day ROWS BETWEEN
                            UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_ll
                   FROM ll)
            SELECT day_idx, n_a, n_b, round(delta / 100.0, 6) AS mean_diff,
                   round(log_lambda, 6) AS log_lambda,
                   round(least(1.0, exp(-peak_ll)), 6) AS p_always_valid,
                   peak_ll >= ln(20.0) AS reject
            FROM pk""")
  )

  /** In-engine multinomial naive Bayes ([[graft.operators.NaiveBayes]]):
    * train per-source word likelihoods with add-one smoothing, score
    * every document, report resubstitution accuracy per class. The
    * model is built BY aggregation (V×C broadcast table); the oracle
    * replays training, scoring, and the argmax tie-break.
    */
  val q274NaiveBayes: QueryDef = QueryDef(
    "q274_naive_bayes",
    (s, dir) => NaiveBayes.trainEval(Tables.documents(s, dir)),
    Some("""WITH toks AS (SELECT doc_id, source AS label,
                                 unnest(string_split(text, ' ')) AS word
                          FROM documents),
            tk AS (SELECT * FROM toks WHERE length(word) > 0),
            dc AS (SELECT source AS label, CAST(count(*) AS BIGINT) n_docs
                   FROM documents GROUP BY 1),
            ntot AS (SELECT CAST(count(*) AS BIGINT) n FROM documents),
            cw AS (SELECT label, word, CAST(count(*) AS BIGINT) cwn FROM tk GROUP BY 1, 2),
            tc AS (SELECT label, CAST(sum(cwn) AS BIGINT) t_c FROM cw GROUP BY 1),
            voc AS (SELECT DISTINCT word FROM tk),
            vs AS (SELECT CAST(count(*) AS BIGINT) v FROM voc),
            lik AS (SELECT tc.label, voc.word,
                           floor(ln(CAST(coalesce(cw.cwn, 0) + 1 AS DOUBLE) /
                                    (tc.t_c + vs.v)) * 1073741824.0 + 0.5) /
                             1073741824.0 AS ll
                    FROM voc CROSS JOIN tc CROSS JOIN vs
                    LEFT JOIN cw ON cw.label = tc.label AND cw.word = voc.word),
            pri AS (SELECT label, floor(ln(CAST(n_docs AS DOUBLE) / n) *
                                        1073741824.0 + 0.5) / 1073741824.0 AS lp
                    FROM dc CROSS JOIN ntot),
            dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) n_dw FROM tk GROUP BY 1, 2),
            sc AS (SELECT dw.doc_id, lik.label AS cand, sum(dw.n_dw * lik.ll) AS wsum
                   FROM dw JOIN lik USING (word) GROUP BY 1, 2),
            s2 AS (SELECT sc.doc_id, sc.cand, sc.wsum + pri.lp AS score
                   FROM sc JOIN pri ON pri.label = sc.cand),
            pred AS (SELECT doc_id, cand AS pred
                     FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, cand ASC) rk FROM s2)
                     WHERE rk = 1)
            SELECT d.source AS label, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN p.pred = d.source THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_correct,
                   round(CAST(sum(CASE WHEN p.pred = d.source THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 6) AS accuracy
            FROM documents d LEFT JOIN pred p USING (doc_id)
            GROUP BY 1""")
  )

  /** Instrumental-variable (2SLS, just-identified) estimate of the
    * discount→quantity response using the part's size as the cost-side
    * instrument, next to the naive OLS slope — the textbook
    * endogeneity contrast. β_IV = cov(z,y)/cov(z,x); every covariance
    * is an EXACT decimal(38) expression of integer sums (quantity and
    * discount are exact at 2 decimals, p_size is an int), so the two
    * slopes and the instrument-relevance correlation replay exactly.
    * One scan + one broadcast dim join + one total agg — no per-group
    * state, overflow-safe at 100 TB via decimal sums.
    */
  val q275Iv2sls: QueryDef = QueryDef(
    "q275_iv_2sls",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_partkey"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("y"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("x"))
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_size").cast("long").as("z"))
      // hint-free: part scales with the fact side; AQE picks the build side
      val j = li.join(pt, col("l_partkey") === col("p_partkey"))
      val d = "decimal(38,0)"
      j.agg(
          count(lit(1)).cast(d).as("n"),
          sum(col("x")).cast(d).as("sx"), sum(col("y")).cast(d).as("sy"),
          sum(col("z")).cast(d).as("sz"),
          sum(col("x") * col("y")).cast(d).as("sxy"),
          sum(col("z") * col("y")).cast(d).as("szy"),
          sum(col("z") * col("x")).cast(d).as("szx"),
          sum(col("x") * col("x")).cast(d).as("sxx"),
          sum(col("z") * col("z")).cast(d).as("szz"))
        .select(
          col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("beta_ols"),
          round((col("n") * col("szy") - col("sz") * col("sy")).cast("double") /
            (col("n") * col("szx") - col("sz") * col("sx")).cast("double"), 6)
            .as("beta_iv"),
          round((col("n") * col("szx") - col("sz") * col("sx")).cast("double") /
            sqrt((col("n") * col("szz") - col("sz") * col("sz")).cast("double") *
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")), 6)
            .as("first_stage_corr"))
    },
    Some("""WITH b AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) y,
                              CAST(round(l_discount * 100) AS BIGINT) x,
                              CAST(p_size AS BIGINT) z
                       FROM lineitem JOIN part ON l_partkey = p_partkey),
            a AS (SELECT CAST(count(*) AS DECIMAL(38,0)) n,
                         CAST(sum(x) AS DECIMAL(38,0)) sx, CAST(sum(y) AS DECIMAL(38,0)) sy,
                         CAST(sum(z) AS DECIMAL(38,0)) sz,
                         CAST(sum(x * y) AS DECIMAL(38,0)) sxy,
                         CAST(sum(z * y) AS DECIMAL(38,0)) szy,
                         CAST(sum(z * x) AS DECIMAL(38,0)) szx,
                         CAST(sum(x * x) AS DECIMAL(38,0)) sxx,
                         CAST(sum(z * z) AS DECIMAL(38,0)) szz
                  FROM b)
            SELECT CAST(n AS BIGINT) AS n,
                   round(CAST(n * sxy - sx * sy AS DOUBLE) /
                         CAST(n * sxx - sx * sx AS DOUBLE), 6) AS beta_ols,
                   round(CAST(n * szy - sz * sy AS DOUBLE) /
                         CAST(n * szx - sz * sx AS DOUBLE), 6) AS beta_iv,
                   round(CAST(n * szx - sz * sx AS DOUBLE) /
                         sqrt(CAST(n * szz - sz * sz AS DOUBLE) *
                              CAST(n * sxx - sx * sx AS DOUBLE)), 6) AS first_stage_corr
            FROM a""")
  )

  /** Histogram-based single-split induction (the LightGBM primitive):
    * best information-gain threshold of o_totalprice against the
    * "order fulfilled" label, thresholds taken from $100 histogram
    * bins so candidate count is BOUNDED regardless of data size.
    * Cumulative class counts come from one window pass over the bin
    * histogram; each entropy term is snapped before the gain compare,
    * tie broken toward the smallest threshold. Oracle replays bins,
    * cumsums, entropies, and the argmax.
    */
  val q276InfoGain: QueryDef = QueryDef(
    "q276_info_gain",
    (s, dir) => {
      // H(pos, n) with 0·ln0 = 0, as a reusable snapped expression
      def ent(pos: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) = {
        val p = pos.cast("double") / n.cast("double")
        snap(when(pos === 0L || pos === n, 0.0)
          .otherwise(-(p * log(p) + (lit(1.0) - p) * log(lit(1.0) - p))))
      }
      val binned = Tables.orders(s, dir)
        .select(
          expr("CAST(round(o_totalprice * 100) AS BIGINT) div 10000").as("bin"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("bn"), sum(col("pos")).as("bpos"))
      val wBin = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)
      val tot = binned.agg(sum(col("bn")).as("n"), sum(col("bpos")).as("npos"))
      val cums = binned
        .withColumn("nl", sum(col("bn")).over(wBin))
        .withColumn("posl", sum(col("bpos")).over(wBin))
        .crossJoin(broadcast(tot))
        .filter(col("nl") < col("n")) // a split must leave both sides non-empty
        .select(
          col("bin"), col("nl"), col("posl"), col("n"), col("npos"),
          (col("n") - col("nl")).as("nr"), (col("npos") - col("posl")).as("posr"))
      val gain = snap(
        ent(col("npos"), col("n")) -
          (col("nl").cast("double") / col("n").cast("double")) * ent(col("posl"), col("nl")) -
          (col("nr").cast("double") / col("n").cast("double")) * ent(col("posr"), col("nr")))
      // rank on the ROUND-6 gain (the reported precision): the raw 2^-30
      // snap still exposes the argmax to cross-engine ln() ulps when top
      // gains sit within a grid step of each other (bit us at sf0.1 —
      // three bins tied at ~1.3e-5); at 1e-6 granularity near-ties
      // collapse into the deterministic bin tie-break
      val wBest = Window.orderBy(round(col("info_gain"), 6).desc, col("bin").asc)
      cums
        .withColumn("info_gain", gain)
        .withColumn("rk", row_number().over(wBest))
        .filter(col("rk") === 1)
        .select(
          (col("bin") * 10000L).as("threshold_cents"),
          col("nl").as("n_left"), col("nr").as("n_right"),
          col("posl").as("pos_left"), col("posr").as("pos_right"),
          round(col("info_gain"), 6).as("info_gain"))
    },
    Some("""WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS bin,
                              CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
                       FROM orders),
            h AS (SELECT bin, CAST(count(*) AS BIGINT) bn, CAST(sum(pos) AS BIGINT) bpos
                  FROM b GROUP BY 1),
            t AS (SELECT CAST(sum(bn) AS BIGINT) n, CAST(sum(bpos) AS BIGINT) npos FROM h),
            c AS (SELECT bin,
                         CAST(sum(bn) OVER w AS BIGINT) nl,
                         CAST(sum(bpos) OVER w AS BIGINT) posl
                  FROM h WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)),
            s AS (SELECT bin, nl, posl, n, npos, n - nl AS nr, npos - posl AS posr
                  FROM c CROSS JOIN t WHERE nl < n),
            e AS (SELECT *,
                         floor((CASE WHEN npos = 0 OR npos = n THEN 0.0 ELSE
                           -(CAST(npos AS DOUBLE)/n * ln(CAST(npos AS DOUBLE)/n) +
                             (1.0 - CAST(npos AS DOUBLE)/n) * ln(1.0 - CAST(npos AS DOUBLE)/n))
                           END) * 1073741824.0 + 0.5) / 1073741824.0 AS hp,
                         floor((CASE WHEN posl = 0 OR posl = nl THEN 0.0 ELSE
                           -(CAST(posl AS DOUBLE)/nl * ln(CAST(posl AS DOUBLE)/nl) +
                             (1.0 - CAST(posl AS DOUBLE)/nl) * ln(1.0 - CAST(posl AS DOUBLE)/nl))
                           END) * 1073741824.0 + 0.5) / 1073741824.0 AS hl,
                         floor((CASE WHEN posr = 0 OR posr = nr THEN 0.0 ELSE
                           -(CAST(posr AS DOUBLE)/nr * ln(CAST(posr AS DOUBLE)/nr) +
                             (1.0 - CAST(posr AS DOUBLE)/nr) * ln(1.0 - CAST(posr AS DOUBLE)/nr))
                           END) * 1073741824.0 + 0.5) / 1073741824.0 AS hr
                  FROM s),
            g AS (SELECT *, floor((hp - CAST(nl AS DOUBLE)/n * hl -
                                   CAST(nr AS DOUBLE)/n * hr) * 1073741824.0 + 0.5) /
                            1073741824.0 AS info_gain
                  FROM e)
            SELECT CAST(bin * 10000 AS BIGINT) AS threshold_cents,
                   nl AS n_left, nr AS n_right, posl AS pos_left, posr AS pos_right,
                   round(info_gain, 6) AS info_gain
            FROM g ORDER BY round(info_gain, 6) DESC, bin ASC LIMIT 1""")
  )

  /** Gap-tolerant sequential-pattern support
    * ([[graft.operators.Sessionize.subsequenceSupport]]): share of
    * sessions containing each ordered type pair a..b as a subsequence,
    * via the per-session (min_pos, max_pos) profile — linear in
    * session length. Oracle replays sessionization and the profile
    * join.
    */
  val q277SeqMining: QueryDef = QueryDef(
    "q277_seq_mining",
    (s, dir) => Sessionize.subsequenceSupport(Tables.events(s, dir)),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) us FROM events),
            l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) pus FROM e),
            bb AS (SELECT *, CASE WHEN pus IS NULL OR us - pus > 1800000000
                     THEN 1 ELSE 0 END brk FROM l),
            s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) sess FROM bb),
            p AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
                    ORDER BY us, event_id) pos FROM s),
            pr AS (SELECT user_id, sess, event_type, min(pos) fp, max(pos) lp
                   FROM p GROUP BY 1, 2, 3),
            ns AS (SELECT CAST(count(*) AS BIGINT) n_sessions
                   FROM (SELECT DISTINCT user_id, sess FROM pr)),
            pairs AS (SELECT x.event_type a, y.event_type b,
                             CAST(count(*) AS BIGINT) n_sessions_ab
                      FROM pr x JOIN pr y USING (user_id, sess)
                      WHERE x.event_type <> y.event_type AND x.fp < y.lp
                      GROUP BY 1, 2)
            SELECT a, b, n_sessions_ab, n_sessions,
                   round(CAST(n_sessions_ab AS DOUBLE) / n_sessions, 6) AS support
            FROM pairs CROSS JOIN ns""")
  )

  /** Dunning G² collocations ([[graft.operators.Cooccur.collocationG2]]):
    * log-likelihood-ratio significance of adjacent bigrams from the
    * 2×2 contingency margins, each O·ln(O/E) cell snapped. Oracle
    * replays counts, margins, and the four-cell sum.
    */
  val q278CollocationG2: QueryDef = QueryDef(
    "q278_collocation_g2",
    (s, dir) => Cooccur.collocationG2(Tables.documents(s, dir)),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
            bg0 AS (SELECT doc_id,
                           unnest([{'a': ts[i], 'b': ts[i + 1]}
                                   FOR i IN range(1, len(ts))]) AS p
                    FROM t),
            bg AS (SELECT p.a AS w_a, p.b AS w_b FROM bg0
                   WHERE p.a != '' AND p.b != ''),
            pair AS (SELECT w_a, w_b, CAST(count(*) AS BIGINT) o11 FROM bg GROUP BY 1, 2),
            ra AS (SELECT w_a, CAST(sum(o11) AS BIGINT) ca FROM pair GROUP BY 1),
            cbm AS (SELECT w_b, CAST(sum(o11) AS BIGINT) cb FROM pair GROUP BY 1),
            nt AS (SELECT CAST(sum(o11) AS BIGINT) n FROM pair),
            j AS (SELECT pair.w_a, pair.w_b, o11, ca, cb, n,
                         ca - o11 AS o12, cb - o11 AS o21, n - ca - cb + o11 AS o22
                  FROM pair JOIN ra USING (w_a) JOIN cbm USING (w_b) CROSS JOIN nt
                  WHERE o11 >= 5),
            terms AS (SELECT w_a, w_b, o11,
                   CASE WHEN o11 = 0 THEN 0.0 ELSE floor(o11 * ln(CAST(o11 AS DOUBLE) /
                     (CAST(ca AS DOUBLE) * cb / n)) * 1073741824.0 + 0.5) /
                     1073741824.0 END AS t11,
                   CASE WHEN o12 = 0 THEN 0.0 ELSE floor(o12 * ln(CAST(o12 AS DOUBLE) /
                     (CAST(ca AS DOUBLE) * (n - cb) / n)) * 1073741824.0 + 0.5) /
                     1073741824.0 END AS t12,
                   CASE WHEN o21 = 0 THEN 0.0 ELSE floor(o21 * ln(CAST(o21 AS DOUBLE) /
                     ((n - CAST(ca AS DOUBLE)) * cb / n)) * 1073741824.0 + 0.5) /
                     1073741824.0 END AS t21,
                   CASE WHEN o22 = 0 THEN 0.0 ELSE floor(o22 * ln(CAST(o22 AS DOUBLE) /
                     ((n - CAST(ca AS DOUBLE)) * (n - cb) / n)) * 1073741824.0 + 0.5) /
                     1073741824.0 END AS t22
                   FROM j)
            SELECT w_a, w_b, o11, round(2.0 * (t11 + t12 + t21 + t22), 6) AS g2
            FROM terms""")
  )

  /** Hash-bucketed lake layout + pruned key probe
    * ([[graft.sources.LakeWriter.writeBucketed]] /
    * `readBucketedProbe`): orders rewritten into 16 xxhash64 bucket
    * directories, then a 50-key probe that scans only the matching
    * buckets (static partition pruning; file-subset behavior pinned in
    * Round8OpsSpec). The oracle is the plain IN-list aggregate — the
    * layout must be invisible in results.
    */
  val q279BucketLayout: QueryDef = QueryDef(
    "q279_bucket_layout",
    (s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q279").resolve("orders_bucketed").toString
      graft.sources.LakeWriter.writeBucketed(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        path, "o_custkey", numBuckets = 16)
      val keys = (1 to 50).map(_ * 7L)
      graft.sources.LakeWriter.readBucketedProbe(s, path, "o_custkey", keys, numBuckets = 16)
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"))
    },
    Some("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS total_cents
            FROM orders
            WHERE o_custkey IN (7,14,21,28,35,42,49,56,63,70,77,84,91,98,105,112,119,126,
                                133,140,147,154,161,168,175,182,189,196,203,210,217,224,
                                231,238,245,252,259,266,273,280,287,294,301,308,315,322,
                                329,336,343,350)
            GROUP BY 1""")
  )

  // shared CTE chain for the naive-Bayes family (q274/q280): train,
  // score, argmax — kept verbatim so both oracles replay one pipeline
  private val NbChainSql =
    """toks AS (SELECT doc_id, source AS label,
                       unnest(string_split(text, ' ')) AS word
                FROM documents),
       tk AS (SELECT * FROM toks WHERE length(word) > 0),
       dc AS (SELECT source AS label, CAST(count(*) AS BIGINT) n_docs
              FROM documents GROUP BY 1),
       ntot AS (SELECT CAST(count(*) AS BIGINT) n FROM documents),
       cw AS (SELECT label, word, CAST(count(*) AS BIGINT) cwn FROM tk GROUP BY 1, 2),
       tc AS (SELECT label, CAST(sum(cwn) AS BIGINT) t_c FROM cw GROUP BY 1),
       voc AS (SELECT DISTINCT word FROM tk),
       vs AS (SELECT CAST(count(*) AS BIGINT) v FROM voc),
       lik AS (SELECT tc.label, voc.word,
                      floor(ln(CAST(coalesce(cw.cwn, 0) + 1 AS DOUBLE) /
                               (tc.t_c + vs.v)) * 1073741824.0 + 0.5) /
                        1073741824.0 AS ll
               FROM voc CROSS JOIN tc CROSS JOIN vs
               LEFT JOIN cw ON cw.label = tc.label AND cw.word = voc.word),
       pri AS (SELECT label, floor(ln(CAST(n_docs AS DOUBLE) / n) *
                                   1073741824.0 + 0.5) / 1073741824.0 AS lp
               FROM dc CROSS JOIN ntot),
       dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) n_dw FROM tk GROUP BY 1, 2),
       sc AS (SELECT dw.doc_id, lik.label AS cand, sum(dw.n_dw * lik.ll) AS wsum
              FROM dw JOIN lik USING (word) GROUP BY 1, 2),
       s2 AS (SELECT sc.doc_id, sc.cand, sc.wsum + pri.lp AS score
              FROM sc JOIN pri ON pri.label = sc.cand)"""

  /** Confident-learning label-noise screen
    * ([[graft.operators.NaiveBayes.labelNoise]]): off-diagonal
    * (label → pred) cells where the model outvotes the recorded label
    * by ≥ 0.5 log-units — exact dyadic margins, so cell membership
    * replays bit-identically.
    */
  val q280LabelNoise: QueryDef = QueryDef(
    "q280_label_noise",
    (s, dir) => NaiveBayes.labelNoise(Tables.documents(s, dir)),
    Some(s"""WITH $NbChainSql,
            pred AS (SELECT doc_id, cand AS pred, score AS best_score
                     FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, cand ASC) rk FROM s2)
                     WHERE rk = 1),
            mm AS (SELECT d.source AS label, p.pred, p.best_score - s.score AS margin
                   FROM documents d JOIN pred p USING (doc_id)
                   JOIN s2 s ON s.doc_id = d.doc_id AND s.cand = d.source)
            SELECT label, pred, CAST(count(*) AS BIGINT) AS n_confident,
                   round(sum(margin) / count(*), 6) AS mean_margin
            FROM mm WHERE pred <> label AND margin >= 0.5
            GROUP BY 1, 2""")
  )

  /** IPS off-policy replay ([[graft.operators.Eval.ipsOffPolicy]]):
    * counterfactual value of the per-hour greedy policy from logged
    * propensities — per-context collapsed terms, snapped, exact sum.
    */
  val q281IpsOffpolicy: QueryDef = QueryDef(
    "q281_ips_offpolicy",
    (s, dir) => Eval.ipsOffPolicy(Tables.events(s, dir)),
    Some("""WITH base AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS x,
                                 event_type AS a,
                                 CAST(round(value * 100) AS BIGINT) r FROM events),
            cells AS (SELECT x, a, CAST(count(*) AS BIGINT) c_xa,
                             CAST(sum(r) AS BIGINT) s_xa FROM base GROUP BY 1, 2),
            ctx AS (SELECT x, CAST(sum(c_xa) AS BIGINT) c_x FROM cells GROUP BY 1),
            tot AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(r) AS BIGINT) s_all
                    FROM base),
            m AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY x
                    ORDER BY CAST(s_xa AS DOUBLE) / c_xa DESC, a ASC) rk FROM cells)
                  WHERE rk = 1),
            t AS (SELECT m.x, m.c_xa,
                         floor(CAST(ctx.c_x * m.s_xa AS DOUBLE) /
                               CAST(m.c_xa * tot.n AS DOUBLE) / 100.0 *
                               1073741824.0 + 0.5) / 1073741824.0 AS term,
                         tot.n
                  FROM m JOIN ctx USING (x) CROSS JOIN tot),
            f AS (SELECT CAST(max(n) AS BIGINT) n, CAST(count(*) AS BIGINT) n_contexts,
                         CAST(sum(c_xa) AS BIGINT) n_matched, sum(term) vsum FROM t)
            SELECT f.n, f.n_contexts,
                   round(CAST(n_matched AS DOUBLE) / f.n, 6) AS match_rate,
                   round(CAST(s_all AS DOUBLE) / 100.0 / f.n, 6) AS logged_value,
                   round(vsum, 6) AS ips_value
            FROM f CROSS JOIN tot""")
  )

  /** Exact 2-D Mahalanobis outliers: top-20 lineitems by squared
    * Mahalanobis distance in the (quantity, extendedprice) plane, with
    * the covariance matrix from exact decimal(38) central sums (no
    * long-sum overflow at any SF) and one closed-form 2×2 inverse.
    * Multivariate complement to the univariate MAD screen (q150).
    * Identical IEEE expression trees on both sides make the ranking
    * replayable; ties (duplicate value pairs) break on the key.
    */
  val q282Mahalanobis: QueryDef = QueryDef(
    "q282_mahalanobis",
    (s, dir) => {
      // r13 optimization (guide §1.2 per-task work): the moment
      // aggregation summed decimal(38,0) PER ROW — a BigDecimal
      // allocation + non-vectorized add for every lineitem row, because
      // Σx2² overflows a long (x2 ≤ ~1.1e7 cents ⇒ x2² ≤ 1.2e14; 600k
      // rows ⇒ 7e19 > 2⁶³). The sums are now computed as pure LONG
      // aggregates via the split x2 = h·10⁴ + l (h, l < ~1.1e4):
      //   Σx2²   = 10⁸·Σh² + 2·10⁴·Σhl + Σl²
      //   Σx1·x2 = 10⁴·Σx1h + Σx1l
      // where every partial sum fits a long with orders of magnitude to
      // spare, and the identities are recombined in decimal(38,0) ON THE
      // ONE AGGREGATE ROW — exact integers, bit-identical covariance
      // doubles, zero per-row decimal ops. The broadcast stats row also
      // precomputes m/c/det once (they are constant per row; computing
      // them under the cross join re-evaluated the decimal arithmetic
      // for all 600k rows).
      val d = "decimal(38,0)"
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("x1"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("x2"))
      val h = expr("x2 div 10000")
      val l = col("x2") % lit(10000L)
      val sums = li.agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * h).as("sxh"), sum(col("x1") * l).as("sxl"),
        sum(h * h).as("shh"), sum(h * l).as("shl"), sum(l * l).as("sll"))
      def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = c.cast(d)
      val st = sums.select(
        col("n"), col("sx1"), col("sx2"),
        dec(col("s11")).as("s11"),
        (dec(lit(10000L)) * dec(col("sxh")) + dec(col("sxl"))).as("s12"),
        (dec(lit(100000000L)) * dec(col("shh")) +
          dec(lit(20000L)) * dec(col("shl")) + dec(col("sll"))).as("s22"))
      val nD = col("n").cast("double")
      val denom = (dec(col("n")) * (dec(col("n")) - lit(1))).cast("double")
      val stats = st
        .withColumn("m1", col("sx1").cast("double") / nD)
        .withColumn("m2", col("sx2").cast("double") / nD)
        .withColumn("c11",
          (dec(col("n")) * col("s11") - dec(col("sx1")) * dec(col("sx1")))
            .cast("double") / denom)
        .withColumn("c12",
          (dec(col("n")) * col("s12") - dec(col("sx1")) * dec(col("sx2")))
            .cast("double") / denom)
        .withColumn("c22",
          (dec(col("n")) * col("s22") - dec(col("sx2")) * dec(col("sx2")))
            .cast("double") / denom)
        .withColumn("det", col("c11") * col("c22") - col("c12") * col("c12"))
        .select("m1", "m2", "c11", "c12", "c22", "det")
      val withStats = li.crossJoin(broadcast(stats))
        .withColumn("dx1", col("x1").cast("double") - col("m1"))
        .withColumn("dx2", col("x2").cast("double") - col("m2"))
        .withColumn(
          "d2",
          (col("c22") * (col("dx1") * col("dx1")) -
            lit(2.0) * col("c12") * (col("dx1") * col("dx2")) +
            col("c11") * (col("dx2") * col("dx2"))) / col("det"))
      withStats
        .orderBy(col("d2").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(20)
        .select(col("l_orderkey"), col("l_linenumber"), round(col("d2"), 6).as("d2"))
    },
    Some("""WITH li AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) l_linenumber,
                               CAST(round(l_quantity * 100) AS BIGINT) x1,
                               CAST(round(l_extendedprice * 100) AS BIGINT) x2
                        FROM lineitem),
            st AS (SELECT CAST(count(*) AS HUGEINT) n,
                          CAST(sum(x1) AS HUGEINT) sx1, CAST(sum(x2) AS HUGEINT) sx2,
                          CAST(sum(x1 * x1) AS HUGEINT) s11,
                          CAST(sum(x1 * x2) AS HUGEINT) s12,
                          CAST(sum(x2 * x2) AS HUGEINT) s22
                   FROM li),
            cv AS (SELECT CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) m1,
                          CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) m2,
                          CAST(n * s11 - sx1 * sx1 AS DOUBLE) /
                            CAST(n * (n - 1) AS DOUBLE) c11,
                          CAST(n * s12 - sx1 * sx2 AS DOUBLE) /
                            CAST(n * (n - 1) AS DOUBLE) c12,
                          CAST(n * s22 - sx2 * sx2 AS DOUBLE) /
                            CAST(n * (n - 1) AS DOUBLE) c22
                   FROM st),
            dd AS (SELECT l_orderkey, l_linenumber,
                          (c22 * ((CAST(x1 AS DOUBLE) - m1) * (CAST(x1 AS DOUBLE) - m1)) -
                           2.0 * c12 * ((CAST(x1 AS DOUBLE) - m1) * (CAST(x2 AS DOUBLE) - m2)) +
                           c11 * ((CAST(x2 AS DOUBLE) - m2) * (CAST(x2 AS DOUBLE) - m2))) /
                          (c11 * c22 - c12 * c12) AS d2
                   FROM li CROSS JOIN cv)
            SELECT l_orderkey, l_linenumber, round(d2, 6) AS d2
            FROM dd ORDER BY d2 DESC, l_orderkey ASC, l_linenumber ASC LIMIT 20""")
  )

  /** Hilbert-clustered layout round-trip
    * ([[graft.sources.LakeWriter.writeHilbert]]): lineitem rewritten
    * along the Hilbert curve on (l_partkey, l_suppkey), then a 2-D
    * range predicate + aggregate — q85's Z-order twin with strictly
    * better range locality (curve adjacency pinned in Round8OpsSpec).
    * The oracle is the plain filter-aggregate; the layout must be
    * invisible in results.
    */
  val q283HilbertLayout: QueryDef = QueryDef(
    "q283_hilbert_layout",
    (s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q283").resolve("lineitem_h").toString
      val li = Tables
        .lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      graft.sources.LakeWriter.writeHilbert(li, path, Seq("l_partkey", "l_suppkey"), bits = 8)
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

  /** Haar wavelet energy spectrum
    * ([[graft.operators.Timeseries.haarEnergy]]): exact integer detail
    * energies per dyadic scale of the hourly count series — the
    * dominant-burst-scale readout. Oracle replays the grid, the
    * signed block sums, and the complete-block filter.
    */
  val q284HaarEnergy: QueryDef = QueryDef(
    "q284_haar_energy",
    (s, dir) => Timeseries.haarEnergy(Tables.events(s, dir)),
    Some("""WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hh FROM events),
            cnt AS (SELECT hh, CAST(count(*) AS BIGINT) x FROM h GROUP BY 1),
            b AS (SELECT min(hh) mn, max(hh) mx FROM cnt),
            grid AS (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM b),
            srs AS (SELECT g.hh - g.mn AS idx, coalesce(c.x, 0) AS x
                    FROM grid g LEFT JOIN cnt c USING (hh)),
            lv AS (SELECT l AS lvl, CAST(1 << l AS BIGINT) AS bs
                   FROM range(1, 9) t(l)),
            asg AS (SELECT lvl, bs, idx // bs AS block,
                           CASE WHEN idx % bs < bs // 2 THEN x ELSE -x END AS signed
                    FROM srs CROSS JOIN lv),
            co AS (SELECT lvl, bs, block, CAST(sum(signed) AS BIGINT) d,
                          CAST(count(*) AS BIGINT) cnt2
                   FROM asg GROUP BY 1, 2, 3),
            fc AS (SELECT * FROM co WHERE cnt2 = bs)
            SELECT CAST(lvl AS BIGINT) AS level, bs AS block_hours,
                   CAST(count(*) AS BIGINT) AS n_blocks,
                   CAST(sum(d * d) AS BIGINT) AS energy
            FROM fc GROUP BY 1, 2""")
  )

  /** Non-negative running stock via the reflecting-barrier identity:
    * clamping a running balance at zero — an inherently SEQUENTIAL
    * recurrence L_t = max(0, L_{t−1} + net_t) — equals
    * L_t = S_t − min(0, min_{s≤t} S_s) on plain cumulative sums, so
    * one window pass computes what looks like an un-parallelizable
    * fold. Exact quantity-cent integers; restocks are 'R'-flagged
    * lineitems, shipments everything else, per supplier per ship-day.
    * Output: per-supplier summary (final raw balance, final clamped
    * level, clamped peak, days active).
    */
  val q285ClampedBalance: QueryDef = QueryDef(
    "q285_clamped_balance",
    (s, dir) => {
      val flows = Tables.lineitem(s, dir)
        .select(
          col("l_suppkey").cast("long").as("key"),
          expr("CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000 AS BIGINT)")
            .as("day"),
          when(col("l_returnflag") === "R",
            expr("CAST(round(l_quantity * 100) AS BIGINT)"))
            .otherwise(expr("-CAST(round(l_quantity * 100) AS BIGINT)")).as("net"))
        .groupBy(col("key"), col("day"))
        .agg(sum(col("net")).as("dnet"))
      Timeseries.clampedBalance(flows).withColumnRenamed("key", "s_key")
    },
    Some("""WITH f AS (SELECT CAST(l_suppkey AS BIGINT) s_key,
                              epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS day,
                              CAST(sum(CASE WHEN l_returnflag = 'R'
                                       THEN CAST(round(l_quantity * 100) AS BIGINT)
                                       ELSE -CAST(round(l_quantity * 100) AS BIGINT) END)
                                   AS BIGINT) dnet
                       FROM lineitem GROUP BY 1, 2),
            c AS (SELECT *, CAST(sum(dnet) OVER w AS BIGINT) s_cum
                  FROM f
                  WINDOW w AS (PARTITION BY s_key ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            c2 AS (SELECT *, CAST(min(s_cum) OVER w2 AS BIGINT) m_cum
                   FROM c
                   WINDOW w2 AS (PARTITION BY s_key ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            l AS (SELECT *, s_cum - least(0, m_cum) AS level FROM c2)
            SELECT s_key, CAST(count(*) AS BIGINT) n_days,
                   CAST(max_by(s_cum, day) AS BIGINT) final_raw,
                   CAST(max_by(level, day) AS BIGINT) final_level,
                   CAST(max(level) AS BIGINT) peak_level
            FROM l GROUP BY 1""")
  )

  /** Time-weighted average value per user (the TWAP/metrics-gauge
    * reduction): each event's value HOLDS until the user's next event;
    * the average weights each value by its holding time. Exact
    * cent×µs products summed as decimal(38) (a long sum would
    * overflow at ~month×100k-row scale), one window pass per user.
    * Users with a single event have no held interval and are dropped.
    */
  val q286Twap: QueryDef = QueryDef(
    "q286_twap",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val d = "decimal(38,0)"
      Tables.events(s, dir)
        .select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dt").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_held"),
          sum((col("c") * col("dt")).cast(d)).as("cw"),
          sum(col("dt").cast(d)).as("tw"))
        .select(
          col("user_id"), col("n_held"),
          round(col("cw").cast("double") / col("tw").cast("double") / 100.0, 6).as("twap"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) us,
                              CAST(round(value * 100) AS BIGINT) c FROM events),
            h AS (SELECT *, lead(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) - us AS dt FROM e)
            SELECT user_id, CAST(count(*) AS BIGINT) n_held,
                   round(CAST(sum(CAST(c AS HUGEINT) * dt) AS DOUBLE) /
                         CAST(sum(CAST(dt AS HUGEINT)) AS DOUBLE) / 100.0, 6) AS twap
            FROM h WHERE dt IS NOT NULL GROUP BY 1""")
  )

  /** FIFO supply↔demand matching per part — the inventory-costing /
    * order-fill primitive: restocks ('R' lineitems) and shipments each
    * form cumulative quantity intervals per part, and FIFO matching is
    * EXACTLY the pairwise overlap of those intervals —
    * max(0, min(scum,dcum) − max(scum₀,dcum₀)) — turning a sequential
    * queue walk into an equi-join on partkey with a θ-overlap filter
    * (bounded per key, exact integer quantity-cents).
    * Output per part: demand, supply, FIFO-matched quantity, fill rate.
    */
  val q287FifoMatch: QueryDef = QueryDef(
    "q287_fifo_match",
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_partkey").cast("long").as("p"),
        col("l_returnflag"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("us"),
        col("l_orderkey"), col("l_linenumber"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("q"))
      def side(flag: Boolean) =
        (if (flag) li.filter(col("l_returnflag") === "R")
         else li.filter(col("l_returnflag") =!= "R"))
          .select(col("p").as("key"),
            struct(col("us"), col("l_orderkey"), col("l_linenumber")).as("ord"), col("q"))
      val matched = Intervals.fifoMatch(side(true), side(false))
        .withColumnRenamed("key", "p")
      val totals = li.groupBy(col("p")).agg(
        sum(when(col("l_returnflag") === "R", col("q")).otherwise(0L)).as("supply_q"),
        sum(when(col("l_returnflag") =!= "R", col("q")).otherwise(0L)).as("demand_q"))
      totals
        .join(matched, Seq("p"), "left")
        .filter(col("demand_q") > 0)
        .select(
          col("p"), col("demand_q"), col("supply_q"),
          coalesce(col("matched_q"), lit(0L)).as("matched_q"),
          round(coalesce(col("matched_q"), lit(0L)).cast("double") /
            col("demand_q").cast("double"), 6).as("fill_rate"))
    },
    Some("""WITH li AS (SELECT CAST(l_partkey AS BIGINT) p, l_returnflag,
                               epoch_us(CAST(l_shipdate AS TIMESTAMP)) us,
                               l_orderkey, l_linenumber,
                               CAST(round(l_quantity * 100) AS BIGINT) q
                        FROM lineitem),
            sup AS (SELECT p, CAST(sum(q) OVER w AS BIGINT) scum,
                           CAST(sum(q) OVER w - q AS BIGINT) scum0
                    FROM li WHERE l_returnflag = 'R'
                    WINDOW w AS (PARTITION BY p ORDER BY us, l_orderkey, l_linenumber
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            dem AS (SELECT p, CAST(sum(q) OVER w AS BIGINT) dcum,
                           CAST(sum(q) OVER w - q AS BIGINT) dcum0
                    FROM li WHERE l_returnflag <> 'R'
                    WINDOW w AS (PARTITION BY p ORDER BY us, l_orderkey, l_linenumber
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            mt AS (SELECT sup.p,
                          CAST(sum(least(scum, dcum) - greatest(scum0, dcum0)) AS BIGINT)
                            matched_q
                   FROM sup JOIN dem ON sup.p = dem.p
                   WHERE scum0 < dcum AND dcum0 < scum
                   GROUP BY 1),
            tot AS (SELECT p,
                           CAST(sum(CASE WHEN l_returnflag = 'R' THEN q ELSE 0 END)
                                AS BIGINT) supply_q,
                           CAST(sum(CASE WHEN l_returnflag <> 'R' THEN q ELSE 0 END)
                                AS BIGINT) demand_q
                    FROM li GROUP BY 1)
            SELECT tot.p, demand_q, supply_q,
                   CAST(coalesce(matched_q, 0) AS BIGINT) AS matched_q,
                   round(CAST(coalesce(matched_q, 0) AS DOUBLE) / demand_q, 6) AS fill_rate
            FROM tot LEFT JOIN mt ON tot.p = mt.p
            WHERE demand_q > 0""")
  )

  /** Exponential goodness-of-fit of inter-arrival gaps (the "is this a
    * Poisson process?" check): pooled per-user gaps, λ̂ = n/Σdt, and
    * the KS distance between the empirical CDF and 1−e^(−λ̂t)
    * evaluated at BOTH step corners of every distinct gap (the sup of
    * a step-vs-continuous difference sits at a corner). Theoretical
    * CDF values snapped to the 2⁻³⁰ grid; counts exact.
    */
  val q288ExpGof: QueryDef = QueryDef(
    "q288_exp_gof",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val gaps = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("dt", col("us") - lag(col("us"), 1).over(w))
        .filter(col("dt").isNotNull)
        .select(col("dt"))
      val agg = gaps.agg(count(lit(1)).as("n"), sum(col("dt")).as("sdt"))
      val byGap = gaps.groupBy(col("dt")).agg(count(lit(1)).as("c"))
      val wOrd = Window.orderBy(col("dt")).rowsBetween(Window.unboundedPreceding, 0)
      val lam = col("n").cast("double") / col("sdt").cast("double") // per µs
      val ftheo = floor(
        (lit(1.0) - exp(-(col("n").cast("double") / col("sdt").cast("double")) *
          col("dt").cast("double"))) * lit(Grid30) + lit(0.5)) / lit(Grid30)
      val steps = byGap
        .withColumn("cumc", sum(col("c")).over(wOrd))
        .crossJoin(broadcast(agg))
        .withColumn("f_emp", col("cumc").cast("double") / col("n").cast("double"))
        .withColumn("f_prev", (col("cumc") - col("c")).cast("double") / col("n").cast("double"))
        .withColumn("f_theo", ftheo)
        .withColumn("dev", greatest(
          abs(col("f_emp") - col("f_theo")), abs(col("f_prev") - col("f_theo"))))
      steps
        .agg(max(col("n")).as("n_gaps"), max(col("dev")).as("d"),
          max(lam * lit(3600000000.0)).as("lph"))
        .select(
          col("n_gaps"),
          round(col("lph"), 6).as("lambda_per_hour"),
          round(col("d"), 6).as("ks_d"),
          (col("d") > lit(1.36) / sqrt(col("n_gaps").cast("double"))).as("reject_5pct"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) us FROM events),
            g AS (SELECT us - lag(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) AS dt FROM e),
            gg AS (SELECT dt FROM g WHERE dt IS NOT NULL),
            a AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(dt) AS BIGINT) sdt FROM gg),
            bg AS (SELECT dt, CAST(count(*) AS BIGINT) c FROM gg GROUP BY 1),
            st AS (SELECT dt, c, CAST(sum(c) OVER (ORDER BY dt
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cumc
                   FROM bg),
            dv AS (SELECT st.*, a.n, a.sdt,
                          CAST(cumc AS DOUBLE) / a.n AS f_emp,
                          CAST(cumc - c AS DOUBLE) / a.n AS f_prev,
                          floor((1.0 - exp(-(CAST(a.n AS DOUBLE) / a.sdt) *
                                CAST(dt AS DOUBLE))) * 1073741824.0 + 0.5) /
                            1073741824.0 AS f_theo
                   FROM st CROSS JOIN a),
            dd AS (SELECT n, sdt,
                          greatest(abs(f_emp - f_theo), abs(f_prev - f_theo)) AS dev
                   FROM dv),
            f AS (SELECT CAST(max(n) AS BIGINT) n_gaps, max(dev) d,
                         max(CAST(n AS DOUBLE) / sdt * 3600000000.0) lph
                  FROM dd)
            SELECT n_gaps, round(lph, 6) AS lambda_per_hour, round(d, 6) AS ks_d,
                   d > 1.36 / sqrt(CAST(n_gaps AS DOUBLE)) AS reject_5pct
            FROM f""")
  )

  /** Kleinberg-style two-state burst detection
    * ([[graft.operators.Timeseries.burstViterbi]]): min-sum Viterbi
    * over the hourly series with snapped Poisson costs — the
    * sequential DP replays EXACTLY in the oracle as a pair of
    * recursive CTEs (forward + backward), because every accumulated
    * term is a dyadic rational.
    */
  val q289BurstViterbi: QueryDef = QueryDef(
    "q289_burst_viterbi",
    (s, dir) => Timeseries.burstViterbi(Tables.events(s, dir)),
    Some("""WITH RECURSIVE
            h AS (SELECT epoch_us(ts) // 3600000000 AS hh FROM events),
            cnt AS (SELECT hh, CAST(count(*) AS BIGINT) x FROM h GROUP BY 1),
            bnd AS (SELECT min(hh) mn, max(hh) mx FROM cnt),
            srs AS (SELECT g.hh - g.mn AS idx, coalesce(c.x, 0) AS x
                    FROM (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM bnd) g
                    LEFT JOIN cnt c USING (hh)),
            par AS (SELECT CAST(count(*) AS BIGINT) t, CAST(sum(x) AS BIGINT) s FROM srs),
            pp AS (SELECT t, CAST(s AS DOUBLE) / t AS lam0,
                          3.0 * (CAST(s AS DOUBLE) / t) AS lam1,
                          floor(ln(CAST(t AS DOUBLE)) * 1073741824.0 + 0.5) /
                            1073741824.0 AS gamma
                   FROM par),
            em AS (SELECT idx, x,
                          floor((lam0 - x * ln(lam0)) * 1073741824.0 + 0.5) /
                            1073741824.0 AS e0,
                          floor((lam1 - x * ln(lam1)) * 1073741824.0 + 0.5) /
                            1073741824.0 AS e1
                   FROM srs CROSS JOIN pp),
            fwd AS (
              SELECT CAST(0 AS BIGINT) AS idx, e0 AS f0, e1 + gamma AS f1
              FROM em CROSS JOIN pp WHERE idx = 0
              UNION ALL
              SELECT CAST(e.idx AS BIGINT),
                     e.e0 + least(f.f0, f.f1),
                     e.e1 + least(f.f0 + pp.gamma, f.f1)
              FROM fwd f JOIN em e ON e.idx = f.idx + 1 CROSS JOIN pp),
            bwd AS (
              SELECT CAST(t - 1 AS BIGINT) AS idx,
                     CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1 FROM pp
              UNION ALL
              SELECT CAST(b.idx - 1 AS BIGINT),
                     least(e.e0 + b.b0, pp.gamma + e.e1 + b.b1),
                     least(e.e0 + b.b0, e.e1 + b.b1)
              FROM bwd b JOIN em e ON e.idx = b.idx CROSS JOIN pp
              WHERE b.idx > 0),
            dec AS (SELECT s.idx, s.x,
                           CASE WHEN f.f1 + w.b1 < f.f0 + w.b0 THEN 1 ELSE 0 END AS state
                    FROM srs s JOIN fwd f USING (idx) JOIN bwd w USING (idx)),
            runs AS (SELECT *, CASE WHEN lag(state) OVER (ORDER BY idx) IS NULL
                                     OR lag(state) OVER (ORDER BY idx) <> state
                                THEN 1 ELSE 0 END brk
                     FROM dec),
            ep AS (SELECT *, sum(brk) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) epi
                   FROM runs)
            SELECT CAST(state AS BIGINT) AS state, CAST(count(*) AS BIGINT) AS n_hours,
                   CAST(count(DISTINCT epi) AS BIGINT) AS n_episodes,
                   CAST(sum(x) AS BIGINT) AS total_events
            FROM ep GROUP BY 1""")
  )

  /** Jenks natural breaks ([[graft.operators.Jenks.naturalBreaks4]]):
    * v-optimal 4-class split of order totals (dollar grain, $500
    * histogram bins) by the fully relational O(B²k) DP — no snapping
    * needed because the DP has no order-dependent float sums; the
    * oracle replays histogram, prefix sums, three join+argmin stages,
    * and the backtrack.
    */
  val q290JenksBreaks: QueryDef = QueryDef(
    "q290_jenks_breaks",
    (s, dir) =>
      Jenks.naturalBreaks4(
        Tables.orders(s, dir).select(expr("CAST(round(o_totalprice) AS BIGINT)").as("v")),
        binWidth = 500L),
    Some("""WITH vals AS (SELECT CAST(round(o_totalprice) AS BIGINT) v FROM orders),
            hist AS (SELECT v // 500 AS bin, CAST(count(*) AS BIGINT) nb,
                            CAST(sum(v) AS BIGINT) sb, CAST(sum(v * v) AS BIGINT) ssb
                     FROM vals GROUP BY 1),
            pre0 AS (SELECT CAST(row_number() OVER (ORDER BY bin) AS BIGINT) i, bin, nb, sb,
                            CAST(sum(nb) OVER w AS BIGINT) cn,
                            CAST(sum(sb) OVER w AS BIGINT) cs,
                            CAST(sum(ssb) OVER w AS BIGINT) css
                     FROM hist WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW)),
            d1 AS (SELECT i, CAST(css AS DOUBLE) -
                             CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) AS d
                   FROM pre0),
            p2 AS (SELECT i.i AS i, j.i AS j,
                          d1.d + (CAST(i.css - j.css AS DOUBLE) -
                            CAST(i.cs - j.cs AS DOUBLE) * CAST(i.cs - j.cs AS DOUBLE) /
                            CAST(i.cn - j.cn AS DOUBLE)) AS v
                   FROM pre0 i JOIN d1 ON d1.i < i.i AND d1.i >= 1
                   JOIN pre0 j ON j.i = d1.i),
            m2 AS (SELECT i, min(v) d FROM p2 GROUP BY 1),
            d2 AS (SELECT p2.i, m2.d, CAST(min(p2.j) AS BIGINT) arg
                   FROM p2 JOIN m2 ON m2.i = p2.i AND p2.v = m2.d GROUP BY 1, 2),
            p3 AS (SELECT i.i AS i, j.i AS j,
                          d2.d + (CAST(i.css - j.css AS DOUBLE) -
                            CAST(i.cs - j.cs AS DOUBLE) * CAST(i.cs - j.cs AS DOUBLE) /
                            CAST(i.cn - j.cn AS DOUBLE)) AS v
                   FROM pre0 i JOIN d2 ON d2.i < i.i AND d2.i >= 2
                   JOIN pre0 j ON j.i = d2.i),
            m3 AS (SELECT i, min(v) d FROM p3 GROUP BY 1),
            d3 AS (SELECT p3.i, m3.d, CAST(min(p3.j) AS BIGINT) arg
                   FROM p3 JOIN m3 ON m3.i = p3.i AND p3.v = m3.d GROUP BY 1, 2),
            p4 AS (SELECT i.i AS i, j.i AS j,
                          d3.d + (CAST(i.css - j.css AS DOUBLE) -
                            CAST(i.cs - j.cs AS DOUBLE) * CAST(i.cs - j.cs AS DOUBLE) /
                            CAST(i.cn - j.cn AS DOUBLE)) AS v
                   FROM pre0 i JOIN d3 ON d3.i < i.i AND d3.i >= 3
                   JOIN pre0 j ON j.i = d3.i),
            m4 AS (SELECT i, min(v) d FROM p4 GROUP BY 1),
            d4 AS (SELECT p4.i, m4.d, CAST(min(p4.j) AS BIGINT) arg
                   FROM p4 JOIN m4 ON m4.i = p4.i AND p4.v = m4.d GROUP BY 1, 2),
            bm AS (SELECT max(i) b FROM pre0),
            k3 AS (SELECT arg AS b3 FROM d4 JOIN bm ON d4.i = bm.b),
            k2 AS (SELECT d3.arg AS b2, b3 FROM d3 JOIN k3 ON d3.i = k3.b3),
            k1 AS (SELECT d2.arg AS b1, b2, b3 FROM d2 JOIN k2 ON d2.i = k2.b2),
            cls AS (SELECT pre0.*, CASE WHEN i <= b1 THEN 1 WHEN i <= b2 THEN 2
                                        WHEN i <= b3 THEN 3 ELSE 4 END AS cl
                    FROM pre0 CROSS JOIN k1)
            SELECT CAST(cl AS BIGINT) AS class,
                   CAST(min(bin) * 500 AS BIGINT) AS lo_edge,
                   CAST((max(bin) + 1) * 500 - 1 AS BIGINT) AS hi_edge,
                   CAST(sum(nb) AS BIGINT) AS n_rows,
                   round(CAST(sum(sb) AS DOUBLE) / sum(nb), 6) AS mean
            FROM cls GROUP BY 1""")
  )

  /** Three-step sequence support
    * ([[graft.operators.Sessionize.subsequenceSupport3]]): a..b..c
    * subsequence share per session via the earliest-b-after-a profile
    * — alphabet²-bounded state, linear in session length. Oracle
    * replays sessionization and both profile joins.
    */
  val q291Seq3Mining: QueryDef = QueryDef(
    "q291_seq3_mining",
    (s, dir) => Sessionize.subsequenceSupport3(Tables.events(s, dir)),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) us FROM events),
            l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) pus FROM e),
            bb AS (SELECT *, CASE WHEN pus IS NULL OR us - pus > 1800000000
                     THEN 1 ELSE 0 END brk FROM l),
            s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) sess FROM bb),
            p AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
                    ORDER BY us, event_id) pos FROM s),
            pr AS (SELECT user_id, sess, event_type, min(pos) fp, max(pos) lp
                   FROM p GROUP BY 1, 2, 3),
            ns AS (SELECT CAST(count(*) AS BIGINT) n_sessions
                   FROM (SELECT DISTINCT user_id, sess FROM pr)),
            ba AS (SELECT p.user_id, p.sess, x.event_type a, p.event_type b,
                          min(p.pos) b_after_a
                   FROM p JOIN pr x ON x.user_id = p.user_id AND x.sess = p.sess
                   WHERE x.event_type <> p.event_type AND p.pos > x.fp
                   GROUP BY 1, 2, 3, 4),
            tr AS (SELECT ba.a, ba.b, c.event_type c,
                          CAST(count(*) AS BIGINT) n_sessions_abc
                   FROM ba JOIN pr c ON c.user_id = ba.user_id AND c.sess = ba.sess
                   WHERE c.event_type <> ba.a AND c.event_type <> ba.b
                     AND ba.b_after_a < c.lp
                   GROUP BY 1, 2, 3)
            SELECT a, b, c, n_sessions_abc, n_sessions,
                   round(CAST(n_sessions_abc AS DOUBLE) / n_sessions, 6) AS support
            FROM tr CROSS JOIN ns""")
  )

  /** Snapshot expiry + orphan GC ([[graft.sources.LakeLog.vacuum]]):
    * three single-file overwrite versions, vacuum to the last one,
    * then read back — the expiry/orphan counts are deterministic
    * (coalesce(1) writes) and the surviving data must equal the plain
    * final-slice aggregate. Expired-version unreadability is pinned
    * in Round8OpsSpec.
    */
  val q292Vacuum: QueryDef = QueryDef(
    "q292_vacuum",
    (s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q292").resolve("orders_vac").toString
      def slice(status: String) = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === status)
        .select(col("o_orderkey"), col("o_totalprice")).coalesce(1)
      graft.sources.LakeLog.overwrite(slice("F"), path)
      graft.sources.LakeLog.overwrite(slice("P"), path)
      graft.sources.LakeLog.overwrite(slice("O"), path)
      val (expired, orphans) = graft.sources.LakeLog.vacuum(path, keepLast = 1)
      graft.sources.LakeLog.read(s, path)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"))
        .select(
          lit(expired.toLong).as("n_expired"),
          lit(orphans.toLong).as("n_orphans"),
          col("n_rows"), col("total_cents"))
    },
    Some("""SELECT CAST(2 AS BIGINT) AS n_expired, CAST(2 AS BIGINT) AS n_orphans,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS total_cents
            FROM orders WHERE o_orderstatus = 'O'""")
  )

  /** Word burstiness (Church–Gale): per word, the within-document
    * clumping rate cf/df and the observed-vs-Poisson document
    * frequency ratio df / (N·(1−e^(−cf/N))) — words that concentrate
    * in few documents (topical terms) score high on both; function
    * words sit near 1. Margins are integer counts; the one exp() is
    * snapped.
    */
  val q293WordBurstiness: QueryDef = QueryDef(
    "q293_word_burstiness",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val stats = toks.groupBy(col("word"))
        .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      val expectedDf = floor(
        col("n_docs").cast("double") *
          (lit(1.0) - exp(-(col("cf").cast("double") / col("n_docs").cast("double")))) *
          lit(Grid30) + lit(0.5)) / lit(Grid30)
      stats
        .crossJoin(broadcast(n))
        .select(
          col("word"), col("cf"), col("df"),
          round(col("cf").cast("double") / col("df").cast("double"), 6).as("per_doc_rate"),
          round(col("df").cast("double") / expectedDf, 6).as("df_over_expected"))
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                          FROM documents),
            tk AS (SELECT * FROM toks WHERE length(word) > 0),
            n AS (SELECT CAST(count(*) AS BIGINT) n_docs FROM documents),
            st AS (SELECT word, CAST(count(*) AS BIGINT) cf,
                          CAST(count(DISTINCT doc_id) AS BIGINT) df
                   FROM tk GROUP BY 1)
            SELECT word, cf, df,
                   round(CAST(cf AS DOUBLE) / df, 6) AS per_doc_rate,
                   round(CAST(df AS DOUBLE) /
                         (floor(CAST(n_docs AS DOUBLE) *
                                (1.0 - exp(-(CAST(cf AS DOUBLE) / n_docs))) *
                                1073741824.0 + 0.5) / 1073741824.0), 6)
                     AS df_over_expected
            FROM st CROSS JOIN n""")
  )

  /** 1-D optimal transport: the exact Wasserstein-1 (earth-mover)
    * distance between the click and purchase value distributions —
    * in one dimension EMD = ∫|F_A − F_B|, evaluated on the shared
    * cent grid as Σ |cumA·n_B − cumB·n_A|·gap / (n_A·n_B): every term
    * an exact integer product (decimal-summed), ONE division at the
    * end. The transport-cost complement of KS (q149) and JS (q189).
    */
  val q294Emd1d: QueryDef = QueryDef(
    "q294_emd_1d",
    (s, dir) => {
      val d = "decimal(38,0)"
      val vals = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(
          expr("CAST(round(value * 100) AS BIGINT)").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("isa"))
      val byV = vals.groupBy(col("v"))
        .agg(sum(col("isa")).as("na_v"), sum(lit(1L) - col("isa")).as("nb_v"))
      val wOrd = Window.orderBy(col("v"))
      val tot = byV.agg(sum(col("na_v")).as("n_a"), sum(col("nb_v")).as("n_b"))
      val steps = byV
        .withColumn("cum_a", sum(col("na_v")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cum_b", sum(col("nb_v")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("gap", lead(col("v"), 1).over(wOrd) - col("v"))
        .filter(col("gap").isNotNull)
        .crossJoin(broadcast(tot))
        .select(col("n_a"), col("n_b"),
          (abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")) * col("gap"))
            .cast(d).as("term"))
      steps
        .groupBy(col("n_a"), col("n_b"))
        .agg(sum(col("term")).as("num"))
        .select(
          col("n_a"), col("n_b"),
          round(col("num").cast("double") /
            (col("n_a") * col("n_b")).cast("double") / 100.0, 6).as("emd"))
    },
    Some("""WITH vals AS (SELECT CAST(round(value * 100) AS BIGINT) v,
                                 CASE WHEN event_type = 'click' THEN 1 ELSE 0 END isa
                          FROM events WHERE event_type IN ('click', 'purchase')),
            byv AS (SELECT v, CAST(sum(isa) AS BIGINT) na_v,
                           CAST(sum(1 - isa) AS BIGINT) nb_v
                    FROM vals GROUP BY 1),
            tot AS (SELECT CAST(sum(na_v) AS BIGINT) n_a, CAST(sum(nb_v) AS BIGINT) n_b
                    FROM byv),
            st AS (SELECT v,
                          CAST(sum(na_v) OVER w AS BIGINT) cum_a,
                          CAST(sum(nb_v) OVER w AS BIGINT) cum_b,
                          lead(v) OVER (ORDER BY v) - v AS gap
                   FROM byv WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)),
            num AS (SELECT CAST(sum(CAST(abs(cum_a * n_b - cum_b * n_a) * gap AS HUGEINT))
                                AS DOUBLE) num, max(n_a) n_a, max(n_b) n_b
                    FROM st CROSS JOIN tot WHERE gap IS NOT NULL)
            SELECT CAST(n_a AS BIGINT) n_a, CAST(n_b AS BIGINT) n_b,
                   round(num / CAST(n_a * n_b AS DOUBLE) / 100.0, 6) AS emd
            FROM num""")
  )

  /** SHARDS-sampled LRU miss-ratio curve
    * ([[graft.operators.ReuseDistance.missRatioCurve]]): the Mattson
    * stack algorithm as a binned point-in-interval join + distinct
    * count, over an R = 4 md5-sampled key population with distances
    * scaled by R (the published MRC-at-scale estimator — ~R² less
    * interval-join work). Oracle replays the sampled trace, the
    * BETWEEN join, and the scaled capacity fan.
    */
  val q295ReuseDistance: QueryDef = QueryDef(
    "q295_reuse_distance",
    (s, dir) => ReuseDistance.missRatioCurve(Tables.events(s, dir), sampleMod = 4),
    Some("""WITH e0 AS (SELECT user_id k, event_id, epoch_us(ts) us FROM events),
            e AS (SELECT * FROM e0
                  WHERE CAST(('0x' || substring(md5(CAST(k AS VARCHAR) || ':shards'), 1, 8))
                             AS BIGINT) % 4 = 0),
            o AS (SELECT k, CAST(row_number() OVER (ORDER BY us, event_id) AS BIGINT) pos
                  FROM e),
            w AS (SELECT *, lag(pos) OVER (PARTITION BY k ORDER BY pos) prev FROM o),
            re AS (SELECT * FROM w WHERE prev IS NOT NULL),
            gp AS (SELECT pos AS acc, prev + 1 AS lo, pos - 1 AS hi
                   FROM re WHERE pos - prev >= 2),
            ds AS (SELECT acc, CAST(count(DISTINCT o2.k) AS BIGINT) d
                   FROM gp JOIN o o2 ON o2.pos BETWEEN gp.lo AND gp.hi GROUP BY 1),
            alld AS (SELECT d FROM ds
                     UNION ALL SELECT CAST(0 AS BIGINT) FROM re WHERE pos - prev = 1),
            cnt AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM o) n_accesses,
                           (SELECT CAST(count(*) AS BIGINT) FROM re) n_re),
            sz AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64, 128, 256, 512])
                               AS BIGINT) cache_size),
            hh AS (SELECT cache_size,
                          CAST(sum(CASE WHEN d * 4 < cache_size THEN 1 ELSE 0 END) AS BIGINT)
                            n_hits
                   FROM sz CROSS JOIN alld GROUP BY 1)
            SELECT cache_size, n_accesses,
                   CAST(n_accesses - n_re AS BIGINT) AS n_cold, n_hits,
                   round(CAST(n_hits AS DOUBLE) / n_accesses, 6) AS hit_rate
            FROM hh CROSS JOIN cnt""")
  )

  /** Wilcoxon signed-rank test on paired per-user means (click vs
    * purchase value) — the PAIRED nonparametric companion to
    * Mann–Whitney (q213): signed midranks of |diff| in doubled
    * integers, tie-corrected normal z with continuity correction.
    * Diffs are identical IEEE expressions of exact cent/count ratios,
    * so ranks and ties replay; zero diffs are dropped (the standard
    * convention).
    */
  val q296SignedRank: QueryDef = QueryDef(
    "q296_signed_rank",
    (s, dir) => {
      val pairs = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click",
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)).as("sa"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("na"),
          sum(when(col("event_type") === "purchase",
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)).as("sb"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("nb"))
        .filter(col("na") > 0 && col("nb") > 0)
        .select((col("sa").cast("double") / col("na").cast("double") -
          col("sb").cast("double") / col("nb").cast("double")).as("diff"))
        .filter(col("diff") =!= 0.0)
        .select(abs(col("diff")).as("ad"), signum(col("diff")).cast("long").as("sgn"))
      // midranks over |diff|: 2*midrank = 2*cum_before + ties + 1 (doubled ints)
      val byV = pairs.groupBy(col("ad"))
        .agg(count(lit(1)).as("t"), sum(col("sgn")).as("sgnsum"))
      val wOrd = Window.orderBy(col("ad"))
      val ranked = byV
        .withColumn("cum", sum(col("t")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("r2", lit(2L) * coalesce(col("cum"), lit(0L)) + col("t") + lit(1L))
      // 2*W+ = sum over positive diffs of r2 ; positives per value =
      // (t + sgnsum)/2 (sgn = ±1)
      val agg = ranked.agg(
        sum(col("t")).as("n"),
        sum(col("r2") * expr("(t + sgnsum) div 2")).as("w2p"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
      agg.select(
        col("n"),
        (col("w2p").cast("double") / 2.0).as("w_plus"),
        round(
          (col("w2p").cast("double") / 2.0 -
            col("n").cast("double") * (col("n").cast("double") + 1.0) / 4.0) /
            sqrt(col("n").cast("double") * (col("n").cast("double") + 1.0) *
              (col("n").cast("double") * 2.0 + 1.0) / 24.0 -
              col("tie3").cast("double") / 48.0),
          6).as("z"))
    },
    Some("""WITH pu AS (SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click'
                            THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) sa,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) na,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                            THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) sb,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) nb
            FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
            df AS (SELECT CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS diff
                   FROM pu WHERE na > 0 AND nb > 0),
            nz AS (SELECT abs(diff) ad, CAST(sign(diff) AS BIGINT) sgn
                   FROM df WHERE diff <> 0.0),
            bv AS (SELECT ad, CAST(count(*) AS BIGINT) t, CAST(sum(sgn) AS BIGINT) sgnsum
                   FROM nz GROUP BY 1),
            rk AS (SELECT *, coalesce(CAST(sum(t) OVER (ORDER BY ad
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) cum
                   FROM bv),
            r2 AS (SELECT *, 2 * cum + t + 1 AS rr FROM rk),
            ag AS (SELECT CAST(sum(t) AS BIGINT) n,
                          CAST(sum(rr * ((t + sgnsum) // 2)) AS BIGINT) w2p,
                          CAST(sum(t * t * t - t) AS BIGINT) tie3
                   FROM r2)
            SELECT n, CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
                   round((CAST(w2p AS DOUBLE) / 2.0 -
                          CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0) /
                         sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) *
                              (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0 -
                              CAST(tie3 AS DOUBLE) / 48.0), 6) AS z
            FROM ag""")
  )

  /** Empirical-Bayes shrinkage of per-user conversion rates: a
    * beta-binomial prior moment-matched from the (snapped) mean and
    * variance of raw rates, each user's rate shrunk to
    * (x + α)/(n + α + β) — small-sample users pull hard toward the
    * pool, heavy users barely move. Per-user raw rates are snapped
    * dyadics so their mean/variance sums are exact in any order.
    */
  val q297EbShrinkage: QueryDef = QueryDef(
    "q297_eb_shrinkage",
    (s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"))
        .withColumn("p", snap(col("x").cast("double") / col("n").cast("double")))
      val prior = perUser.agg(
        count(lit(1)).as("k"),
        sum(col("p")).as("sp"),
        sum(col("p") * col("p")).as("spp"))
        .select(
          (col("sp") / col("k").cast("double")).as("m"),
          ((col("spp") - col("sp") * col("sp") / col("k").cast("double")) /
            (col("k").cast("double") - 1.0)).as("v"))
        .select(
          col("m"), col("v"),
          snap(col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0)).as("ab"))
        .select(col("m"), snap(col("m") * col("ab")).as("alpha"),
          snap((lit(1.0) - col("m")) * col("ab")).as("beta"))
      perUser
        .crossJoin(broadcast(prior))
        .select(
          col("user_id"), col("n"), col("x"),
          round(col("p"), 6).as("raw_rate"),
          round((col("x").cast("double") + col("alpha")) /
            (col("n").cast("double") + col("alpha") + col("beta")), 6).as("shrunk_rate"))
    },
    Some("""WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) n,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) x
            FROM events GROUP BY 1),
            pr AS (SELECT *, floor(CAST(x AS DOUBLE) / n * 1073741824.0 + 0.5) /
                             1073741824.0 AS p
                   FROM pu),
            mo AS (SELECT CAST(count(*) AS BIGINT) k, sum(p) sp, sum(p * p) spp FROM pr),
            mv AS (SELECT sp / k AS m,
                          (spp - sp * sp / k) / (CAST(k AS DOUBLE) - 1.0) AS v
                   FROM mo),
            ab AS (SELECT m, floor((m * (1.0 - m) / v - 1.0) * 1073741824.0 + 0.5) /
                             1073741824.0 AS ab
                   FROM mv),
            pri AS (SELECT floor(m * ab * 1073741824.0 + 0.5) / 1073741824.0 AS alpha,
                           floor((1.0 - m) * ab * 1073741824.0 + 0.5) /
                             1073741824.0 AS beta
                    FROM ab)
            SELECT user_id, n, x, round(p, 6) AS raw_rate,
                   round((CAST(x AS DOUBLE) + alpha) /
                         (CAST(n AS DOUBLE) + alpha + beta), 6) AS shrunk_rate
            FROM pr CROSS JOIN pri""")
  )

  /** Hill tail-index estimator of the order-total distribution:
    * α̂⁻¹ = (1/k)·Σ_{i≤k} ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top k = 500 order
    * statistics — the standard heavy-tail diagnostic (α ≈ 2 is the
    * variance boundary). Each log-ratio term is snapped; their
    * bounded sum is exact, one division at the end.
    */
  val q298HillTail: QueryDef = QueryDef(
    "q298_hill_tail",
    (s, dir) => {
      val k = 500
      val w = Window.orderBy(col("v").desc, col("o_orderkey").asc)
      val ranked = Tables.orders(s, dir)
        .select(col("o_orderkey"), expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k + 1)
      val ref = ranked.filter(col("rk") === k + 1).select(col("v").as("vref"))
      ranked
        .filter(col("rk") <= k)
        .crossJoin(broadcast(ref))
        .select(
          (floor(log(col("v").cast("double") / col("vref").cast("double")) * lit(Grid30)
            + lit(0.5)) / lit(Grid30)).as("term"),
          col("vref"))
        .groupBy(col("vref"))
        .agg(count(lit(1)).as("k"), sum(col("term")).as("tsum"))
        .select(
          col("k"), col("vref").as("x_kplus1_cents"),
          round(col("tsum") / col("k").cast("double"), 6).as("hill_alpha_inv"),
          round(col("k").cast("double") / col("tsum"), 6).as("hill_alpha"))
    },
    Some("""WITH r AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) v,
                              row_number() OVER (ORDER BY CAST(round(o_totalprice * 100)
                                AS BIGINT) DESC, o_orderkey ASC) rk
                       FROM orders),
            ref AS (SELECT v vref FROM r WHERE rk = 501),
            t AS (SELECT floor(ln(CAST(r.v AS DOUBLE) / vref) * 1073741824.0 + 0.5) /
                         1073741824.0 AS term, vref
                  FROM r CROSS JOIN ref WHERE rk <= 500)
            SELECT CAST(count(*) AS BIGINT) k, CAST(max(vref) AS BIGINT) x_kplus1_cents,
                   round(sum(term) / count(*), 6) AS hill_alpha_inv,
                   round(count(*) / sum(term), 6) AS hill_alpha
            FROM t""")
  )

  /** Depth-2 decision tree on the order-total histogram: the q276 root
    * split, then the best information-gain sub-split INSIDE each side
    * (same windowed-cumsum machinery, partitioned by side) — four
    * leaves, each with its class purity. Sides with no valid sub-split
    * (single histogram bin) stay un-split. Entirely relational; the
    * oracle replays root, sides, and both argmaxes.
    */
  val q299TreeDepth2: QueryDef = QueryDef(
    "q299_tree_depth2",
    (s, dir) => {
      def ent(pos: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) = {
        val p = pos.cast("double") / n.cast("double")
        snap(when(pos === 0L || pos === n, 0.0)
          .otherwise(-(p * log(p) + (lit(1.0) - p) * log(lit(1.0) - p))))
      }
      val binned = Tables.orders(s, dir)
        .select(
          expr("CAST(round(o_totalprice * 100) AS BIGINT) div 10000").as("bin"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("bn"), sum(col("pos")).as("bpos"))
        .localCheckpoint()
      // root split (q276)
      val wBin = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)
      val tot = binned.agg(sum(col("bn")).as("n"), sum(col("bpos")).as("npos"))
      val rootGain = snap(
        ent(col("npos"), col("n")) -
          (col("nl").cast("double") / col("n").cast("double")) * ent(col("posl"), col("nl")) -
          ((col("n") - col("nl")).cast("double") / col("n").cast("double")) *
          ent(col("npos") - col("posl"), col("n") - col("nl")))
      val root = binned
        .withColumn("nl", sum(col("bn")).over(wBin))
        .withColumn("posl", sum(col("bpos")).over(wBin))
        .crossJoin(broadcast(tot))
        .filter(col("nl") < col("n"))
        .withColumn("g", rootGain)
        .withColumn("rk", row_number().over(
          Window.orderBy(round(col("g"), 6).desc, col("bin").asc))) // q276's ulp-safe pick
        .filter(col("rk") === 1)
        .select(col("bin").as("root_bin"))
        // exactly one row by the rk = 1 filter; the LIMIT states that
        // bound in a form the plan gate can prove (no-op)
        .limit(1)
      // side assignment + per-side best split
      val sided = binned.crossJoin(broadcast(root))
        .withColumn("side", when(col("bin") <= col("root_bin"), "L").otherwise("R"))
      val wSide = Window.partitionBy(col("side")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val sideTot = sided.groupBy(col("side"))
        .agg(sum(col("bn")).as("sn"), sum(col("bpos")).as("spos"))
        // side is a binary L/R label: ≤2 rows, stated as a provable LIMIT
        .limit(2)
      val subGain = snap(
        ent(col("spos"), col("sn")) -
          (col("nl").cast("double") / col("sn").cast("double")) * ent(col("posl"), col("nl")) -
          ((col("sn") - col("nl")).cast("double") / col("sn").cast("double")) *
          ent(col("spos") - col("posl"), col("sn") - col("nl")))
      val best = sided
        .withColumn("nl", sum(col("bn")).over(wSide))
        .withColumn("posl", sum(col("bpos")).over(wSide))
        .join(broadcast(sideTot), Seq("side"))
        .filter(col("nl") < col("sn"))
        .withColumn("g", subGain)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("side"))
            .orderBy(round(col("g"), 6).desc, col("bin").asc))) // ulp-safe
        .filter(col("rk") === 1)
        .select(col("side"), col("bin").as("split_bin"))
        .limit(2) // rank-1 per side, side ∈ {L, R}
      sided
        .join(broadcast(best), Seq("side"), "left")
        .withColumn(
          "leaf",
          when(col("split_bin").isNull, col("side"))
            .otherwise(concat(col("side"),
              when(col("bin") <= col("split_bin"), lit("1")).otherwise(lit("2")))))
        .groupBy(col("leaf"))
        .agg(
          min(col("bin") * 10000L).as("lo_cents"),
          sum(col("bn")).as("n_rows"),
          sum(col("bpos")).as("n_pos"))
        .withColumn(
          "pos_rate",
          round(col("n_pos").cast("double") / col("n_rows").cast("double"), 6))
    },
    Some("""WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS bin,
                              CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
                       FROM orders),
            h AS (SELECT bin, CAST(count(*) AS BIGINT) bn, CAST(sum(pos) AS BIGINT) bpos
                  FROM b GROUP BY 1),
            t AS (SELECT CAST(sum(bn) AS BIGINT) n, CAST(sum(bpos) AS BIGINT) npos FROM h),
            c AS (SELECT bin, CAST(sum(bn) OVER w AS BIGINT) nl,
                         CAST(sum(bpos) OVER w AS BIGINT) posl
                  FROM h WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)),
            eg AS (SELECT bin, nl, posl, n, npos,
                     floor((CASE WHEN npos = 0 OR npos = n THEN 0.0 ELSE
                       -(CAST(npos AS DOUBLE)/n * ln(CAST(npos AS DOUBLE)/n) +
                         (1.0 - CAST(npos AS DOUBLE)/n) * ln(1.0 - CAST(npos AS DOUBLE)/n))
                       END) * 1073741824.0 + 0.5) / 1073741824.0 -
                     CAST(nl AS DOUBLE)/n *
                     (floor((CASE WHEN posl = 0 OR posl = nl THEN 0.0 ELSE
                       -(CAST(posl AS DOUBLE)/nl * ln(CAST(posl AS DOUBLE)/nl) +
                         (1.0 - CAST(posl AS DOUBLE)/nl) * ln(1.0 - CAST(posl AS DOUBLE)/nl))
                       END) * 1073741824.0 + 0.5) / 1073741824.0) -
                     CAST(n - nl AS DOUBLE)/n *
                     (floor((CASE WHEN npos - posl = 0 OR npos - posl = n - nl THEN 0.0 ELSE
                       -(CAST(npos - posl AS DOUBLE)/(n - nl) *
                           ln(CAST(npos - posl AS DOUBLE)/(n - nl)) +
                         (1.0 - CAST(npos - posl AS DOUBLE)/(n - nl)) *
                           ln(1.0 - CAST(npos - posl AS DOUBLE)/(n - nl)))
                       END) * 1073741824.0 + 0.5) / 1073741824.0) AS g_raw
                   FROM c CROSS JOIN t WHERE nl < n),
            rt AS (SELECT bin AS root_bin
                   FROM (SELECT bin, floor(g_raw * 1073741824.0 + 0.5) / 1073741824.0 g,
                                row_number() OVER (ORDER BY
                                  round(floor(g_raw * 1073741824.0 + 0.5) / 1073741824.0,
                                        6) DESC,
                                  bin ASC) rk
                         FROM eg)
                   WHERE rk = 1),
            sd AS (SELECT h.*, CASE WHEN bin <= root_bin THEN 'L' ELSE 'R' END side
                   FROM h CROSS JOIN rt),
            st AS (SELECT side, CAST(sum(bn) AS BIGINT) sn, CAST(sum(bpos) AS BIGINT) spos
                   FROM sd GROUP BY 1),
            sc AS (SELECT side, bin, CAST(sum(bn) OVER w AS BIGINT) nl,
                          CAST(sum(bpos) OVER w AS BIGINT) posl
                   FROM sd WINDOW w AS (PARTITION BY side ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            sg AS (SELECT sc.side, bin, nl, posl, sn, spos,
                     floor((CASE WHEN spos = 0 OR spos = sn THEN 0.0 ELSE
                       -(CAST(spos AS DOUBLE)/sn * ln(CAST(spos AS DOUBLE)/sn) +
                         (1.0 - CAST(spos AS DOUBLE)/sn) * ln(1.0 - CAST(spos AS DOUBLE)/sn))
                       END) * 1073741824.0 + 0.5) / 1073741824.0 -
                     CAST(nl AS DOUBLE)/sn *
                     (floor((CASE WHEN posl = 0 OR posl = nl THEN 0.0 ELSE
                       -(CAST(posl AS DOUBLE)/nl * ln(CAST(posl AS DOUBLE)/nl) +
                         (1.0 - CAST(posl AS DOUBLE)/nl) * ln(1.0 - CAST(posl AS DOUBLE)/nl))
                       END) * 1073741824.0 + 0.5) / 1073741824.0) -
                     CAST(sn - nl AS DOUBLE)/sn *
                     (floor((CASE WHEN spos - posl = 0 OR spos - posl = sn - nl THEN 0.0 ELSE
                       -(CAST(spos - posl AS DOUBLE)/(sn - nl) *
                           ln(CAST(spos - posl AS DOUBLE)/(sn - nl)) +
                         (1.0 - CAST(spos - posl AS DOUBLE)/(sn - nl)) *
                           ln(1.0 - CAST(spos - posl AS DOUBLE)/(sn - nl)))
                       END) * 1073741824.0 + 0.5) / 1073741824.0) AS g_raw
                   FROM sc JOIN st ON st.side = sc.side WHERE nl < sn),
            bs AS (SELECT side, bin AS split_bin
                   FROM (SELECT side, bin,
                                row_number() OVER (PARTITION BY side ORDER BY
                                  round(floor(g_raw * 1073741824.0 + 0.5) / 1073741824.0,
                                        6) DESC,
                                  bin ASC) rk
                         FROM sg)
                   WHERE rk = 1),
            lf AS (SELECT sd.*, CASE WHEN split_bin IS NULL THEN sd.side
                                     WHEN bin <= split_bin THEN sd.side || '1'
                                     ELSE sd.side || '2' END AS leaf
                   FROM sd LEFT JOIN bs ON bs.side = sd.side)
            SELECT leaf, CAST(min(bin * 10000) AS BIGINT) AS lo_cents,
                   CAST(sum(bn) AS BIGINT) AS n_rows,
                   CAST(sum(bpos) AS BIGINT) AS n_pos,
                   round(CAST(sum(bpos) AS DOUBLE) / sum(bn), 6) AS pos_rate
            FROM lf GROUP BY 1""")
  )

  /** Doubly-robust off-policy evaluation — q281's IPS with the proper
    * TRAIN/EVAL split: the greedy policy π and the reward model
    * μ̂(x, a) are fitted on the md5-even half of events; DM, IPS, and
    * DR = DM + correction are evaluated on the odd half with its own
    * empirical propensities. All three estimators collapse to
    * per-(context, action) cell terms (snapped dyadics, exact sums);
    * DR keeps DM's variance but IPS's unbiasedness when either the
    * model or the propensities are wrong — the production OPE
    * default.
    */
  val q300DrOffpolicy: QueryDef = QueryDef(
    "q300_dr_offpolicy",
    (s, dir) => {
      val base = Tables.events(s, dir).select(
        ((unix_micros(col("ts")).cast("long") / lit(3600000000L)).cast("long") % 24L).as("x"),
        col("event_type").as("a"),
        expr("CAST(round(value * 100) AS BIGINT)").as("r"),
        (pmod(conv(substring(md5(concat(col("event_id").cast("string"), lit(":ope"))), 1, 8),
          16, 10).cast("long"), lit(2L)) === 0L).as("train"))
      val cells = base.groupBy(col("train"), col("x"), col("a"))
        .agg(count(lit(1)).as("c"), sum(col("r")).as("sr"))
        .localCheckpoint()
      // fold-0 model: mu(x, a) snapped; policy = argmax mu, ties smallest a
      val mu = cells.filter(col("train"))
        .select(col("x"), col("a"), snap(col("sr").cast("double") / col("c").cast("double"))
          .as("mu"))
      val pi = mu
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("x")).orderBy(col("mu").desc, col("a").asc)))
        .filter(col("rk") === 1)
        .select(col("x"), col("a").as("pia"), col("mu").as("mu_pi"))
      // fold-1 evaluation cells
      val eval = cells.filter(!col("train"))
      val ctx1 = eval.groupBy(col("x")).agg(sum(col("c")).as("c_x"))
      val n1 = eval.agg(sum(col("c")).as("n1"))
      // DM term per context: c_x * mu_pi ; correction per matched cell:
      // (c_x / c_match) * (S_match - c_match * mu_pi)  [zero if unmatched]
      val matched = eval
        .join(pi, eval("x") === pi("x") && eval("a") === pi("pia"))
        .select(eval("x").as("x"), col("c").as("c_m"), col("sr").as("s_m"), col("mu_pi"))
      val perCtx = ctx1
        .join(pi.select(col("x"), col("mu_pi").as("mp")), Seq("x"), "left")
        .join(matched.select(col("x"), col("c_m"), col("s_m")), Seq("x"), "left")
        .crossJoin(broadcast(n1))
        .select(
          snap(col("c_x").cast("double") * coalesce(col("mp"), lit(0.0)) /
            col("n1").cast("double") / 100.0).as("dm_term"),
          snap(coalesce(
            col("c_x").cast("double") / col("c_m").cast("double") *
              (col("s_m").cast("double") - col("c_m").cast("double") * col("mp")),
            lit(0.0)) / col("n1").cast("double") / 100.0).as("corr_term"),
          snap(coalesce(
            col("c_x").cast("double") * col("s_m").cast("double") /
              col("c_m").cast("double"), lit(0.0)) /
            col("n1").cast("double") / 100.0).as("ips_term"))
      perCtx.agg(
        sum(col("dm_term")).as("dm"),
        sum(col("ips_term")).as("ips"),
        sum(col("dm_term") + col("corr_term")).as("dr"))
        .crossJoin(broadcast(n1))
        .select(
          col("n1").as("n_eval"),
          round(col("dm"), 6).as("dm_value"),
          round(col("ips"), 6).as("ips_value"),
          round(col("dr"), 6).as("dr_value"))
    },
    Some("""WITH base AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS x,
                                 event_type AS a,
                                 CAST(round(value * 100) AS BIGINT) r,
                                 CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)
                                   || ':ope'), 1, 8)) AS BIGINT) % 2 = 0 AS train
                          FROM events),
            cells AS (SELECT train, x, a, CAST(count(*) AS BIGINT) c,
                             CAST(sum(r) AS BIGINT) sr
                      FROM base GROUP BY 1, 2, 3),
            mu AS (SELECT x, a, floor(CAST(sr AS DOUBLE) / c * 1073741824.0 + 0.5) /
                                1073741824.0 AS mu
                   FROM cells WHERE train),
            pi AS (SELECT x, a AS pia, mu AS mu_pi
                   FROM (SELECT *, row_number() OVER (PARTITION BY x
                           ORDER BY mu DESC, a ASC) rk FROM mu)
                   WHERE rk = 1),
            ev AS (SELECT * FROM cells WHERE NOT train),
            ctx1 AS (SELECT x, CAST(sum(c) AS BIGINT) c_x FROM ev GROUP BY 1),
            n1 AS (SELECT CAST(sum(c) AS BIGINT) n1 FROM ev),
            mt AS (SELECT ev.x, ev.c c_m, ev.sr s_m, pi.mu_pi
                   FROM ev JOIN pi ON ev.x = pi.x AND ev.a = pi.pia),
            pc AS (SELECT
                     floor(CAST(c_x AS DOUBLE) * coalesce(mp, 0.0) / n1.n1 / 100.0 *
                           1073741824.0 + 0.5) / 1073741824.0 AS dm_term,
                     floor(coalesce(CAST(c_x AS DOUBLE) / c_m *
                             (CAST(s_m AS DOUBLE) - CAST(c_m AS DOUBLE) * mp), 0.0) /
                           n1.n1 / 100.0 * 1073741824.0 + 0.5) / 1073741824.0 AS corr_term,
                     floor(coalesce(CAST(c_x AS DOUBLE) * s_m / c_m, 0.0) /
                           n1.n1 / 100.0 * 1073741824.0 + 0.5) / 1073741824.0 AS ips_term
                   FROM ctx1
                   LEFT JOIN (SELECT x, mu_pi AS mp FROM pi) p USING (x)
                   LEFT JOIN (SELECT x, c_m, s_m FROM mt) m USING (x)
                   CROSS JOIN n1)
            SELECT (SELECT n1 FROM n1) AS n_eval,
                   round(sum(dm_term), 6) AS dm_value,
                   round(sum(ips_term), 6) AS ips_value,
                   round(sum(dm_term + corr_term), 6) AS dr_value
            FROM pc""")
  )

  /** Rendezvous (highest-random-weight) hashing audit: customers
    * assigned to 8 shard nodes by argmax of md5(key‖node); the
    * readout is per-node load balance plus the defining HRW property
    * — removing a node moves ONLY its own keys (measured, not
    * assumed: keys whose argmax over the 7 survivors differs from the
    * original assignment are exactly the dead node's). The sharding
    * scheme every stateful service uses, validated as data.
    */
  val q301Rendezvous: QueryDef = QueryDef(
    "q301_rendezvous",
    (s, dir) => {
      val nodes = (0 until 8).map(_.toLong)
      val scored = Tables.customer(s, dir)
        .select(col("c_custkey"))
        .withColumn("node", explode(lit(nodes.toArray)))
        .withColumn("w", conv(substring(
          md5(concat(col("c_custkey").cast("string"), lit("#"), col("node").cast("string"))),
          1, 8), 16, 10).cast("long"))
      val pick = scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("c_custkey")).orderBy(col("w").desc, col("node").asc)))
        .filter(col("rk") === 1)
        .select(col("c_custkey"), col("node").as("owner"))
      val pickAfter = scored
        .filter(col("node") =!= 3L)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("c_custkey")).orderBy(col("w").desc, col("node").asc)))
        .filter(col("rk") === 1)
        .select(col("c_custkey"), col("node").as("owner_after"))
      pick.join(pickAfter, Seq("c_custkey"))
        .groupBy(col("owner"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("owner") =!= col("owner_after"), 1L).otherwise(0L)).as("n_moved"))
        .withColumn(
          "moved_only_if_dead",
          (col("owner") === 3L && col("n_moved") === col("n_keys")) ||
            (col("owner") =!= 3L && col("n_moved") === 0L))
    },
    Some("""WITH sc AS (SELECT c_custkey, node,
                               CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR) || '#'
                                 || CAST(node AS VARCHAR)), 1, 8)) AS BIGINT) w
                        FROM customer CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS BIGINT)
                                                  AS node) nn),
            pk AS (SELECT c_custkey, node AS owner
                   FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
                           ORDER BY w DESC, node ASC) rk FROM sc)
                   WHERE rk = 1),
            pa AS (SELECT c_custkey, node AS owner_after
                   FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
                           ORDER BY w DESC, node ASC) rk FROM sc WHERE node <> 3)
                   WHERE rk = 1)
            SELECT owner, CAST(count(*) AS BIGINT) n_keys,
                   CAST(sum(CASE WHEN owner <> owner_after THEN 1 ELSE 0 END) AS BIGINT)
                     n_moved,
                   (owner = 3 AND sum(CASE WHEN owner <> owner_after THEN 1 ELSE 0 END)
                      = count(*)) OR
                   (owner <> 3 AND sum(CASE WHEN owner <> owner_after THEN 1 ELSE 0 END) = 0)
                     AS moved_only_if_dead
            FROM pk JOIN pa USING (c_custkey)
            GROUP BY 1""")
  )

  /** Durbin–Watson autocorrelation of the hourly series' OLS-detrended
    * residuals — FULLY exact, no snapping anywhere: scaling residuals
    * by the OLS denominator D = n·Σt²−(Σt)² makes every rₜ an integer
    * (decimal(38)-squared), so DW = Σ(rₜ−rₜ₋₁)²/Σrₜ² is one terminal
    * division of two exact decimals. DW ≈ 2 means white residuals;
    * the synthetic diurnal cycle drives it well below.
    */
  val q302DurbinWatson: QueryDef = QueryDef(
    "q302_durbin_watson",
    (s, dir) => {
      val d38 = "decimal(38,0)"
      val hourly = Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("y"))
      val grid = hourly.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
        .select(col("mn"), explode(sequence(col("mn"), col("mx"))).as("h"))
        .join(hourly, Seq("h"), "left")
        .select((col("h") - col("mn")).as("t"), coalesce(col("y"), lit(0L)).as("y"))
      val sums = grid.agg(
        count(lit(1)).as("n"), sum(col("t")).as("st"), sum(col("y")).as("sy"),
        sum(col("t") * col("t")).as("stt"), sum(col("t") * col("y")).as("sty"))
      val res = grid.crossJoin(broadcast(sums))
        // r_t = D·y_t − (sy·stt − st·sty) − (n·sty − st·sy)·t, all integer
        .select(col("t"), col("n"),
          ((col("n") * col("stt") - col("st") * col("st")).cast(d38) * col("y") -
            (col("sy") * col("stt") - col("st") * col("sty")).cast(d38) -
            (col("n") * col("sty") - col("st") * col("sy")).cast(d38) * col("t")).as("r"))
      val wOrd = Window.orderBy(col("t"))
      res
        .withColumn("rp", lag(col("r"), 1).over(wOrd))
        .agg(
          max(col("n")).as("n_hours"),
          sum((col("r") - col("rp")) * (col("r") - col("rp"))).as("num"),
          sum(col("r") * col("r")).as("den"))
        .select(
          col("n_hours"),
          round(col("num").cast("double") / col("den").cast("double"), 6).as("dw"))
    },
    Some("""WITH hh AS (SELECT epoch_us(ts) // 3600000000 AS h FROM events),
            cnt AS (SELECT h, CAST(count(*) AS BIGINT) y FROM hh GROUP BY 1),
            b AS (SELECT min(h) mn, max(h) mx FROM cnt),
            g AS (SELECT gg.hh - gg.mn AS t, coalesce(c.y, 0) AS y
                  FROM (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM b) gg
                  LEFT JOIN cnt c ON c.h = gg.hh),
            s AS (SELECT CAST(count(*) AS HUGEINT) n, CAST(sum(t) AS HUGEINT) st,
                         CAST(sum(y) AS HUGEINT) sy, CAST(sum(t * t) AS HUGEINT) stt,
                         CAST(sum(t * y) AS HUGEINT) sty
                  FROM g),
            r AS (SELECT t, n,
                         (n * stt - st * st) * y - (sy * stt - st * sty) -
                         (n * sty - st * sy) * t AS r
                  FROM g CROSS JOIN s),
            l AS (SELECT *, lag(r) OVER (ORDER BY t) rp FROM r)
            SELECT CAST(max(n) AS BIGINT) n_hours,
                   round(CAST(sum((r - rp) * (r - rp)) AS DOUBLE) /
                         CAST(sum(r * r) AS DOUBLE), 6) AS dw
            FROM l""")
  )

  /** Mann–Kendall trend test on the hourly series: S = Σ_{i<j}
    * sign(y_j − y_i) as an exact pair count over the bounded
    * histogram, tie-corrected variance, continuity-corrected z — the
    * nonparametric companion to the parametric OLS trend (q197).
    */
  val q303MannKendall: QueryDef = QueryDef(
    "q303_mann_kendall",
    (s, dir) => {
      val hourly = Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("y"))
      val grid = hourly.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
        .select(col("mn"), explode(sequence(col("mn"), col("mx"))).as("h"))
        .join(hourly, Seq("h"), "left")
        .select((col("h") - col("mn")).as("t"), coalesce(col("y"), lit(0L)).as("y"))
        .localCheckpoint()
      val pairs = grid.as("i").join(grid.as("j"), col("i.t") < col("j.t"))
        .agg(sum(signum(col("j.y") - col("i.y")).cast("long")).as("s_stat"))
      val ties = grid.groupBy(col("y")).agg(count(lit(1)).as("tc"))
        .agg(
          sum(col("tc")).as("n"),
          sum(col("tc") * (col("tc") - 1) * (lit(2L) * col("tc") + 5L)).as("tie_term"))
      pairs.crossJoin(broadcast(ties))
        .withColumn(
          "var_s",
          (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5L) - col("tie_term"))
            .cast("double") / 18.0)
        .select(
          col("n").as("n_hours"), col("s_stat"),
          round(
            when(col("s_stat") > 0, (col("s_stat").cast("double") - 1.0) / sqrt(col("var_s")))
              .when(col("s_stat") < 0, (col("s_stat").cast("double") + 1.0) / sqrt(col("var_s")))
              .otherwise(0.0),
            6).as("z"))
    },
    Some("""WITH hh AS (SELECT epoch_us(ts) // 3600000000 AS h FROM events),
            cnt AS (SELECT h, CAST(count(*) AS BIGINT) y FROM hh GROUP BY 1),
            b AS (SELECT min(h) mn, max(h) mx FROM cnt),
            g AS (SELECT gg.hh - gg.mn AS t, coalesce(c.y, 0) AS y
                  FROM (SELECT mn, unnest(range(mn, mx + 1)) AS hh FROM b) gg
                  LEFT JOIN cnt c ON c.h = gg.hh),
            sp AS (SELECT CAST(sum(CAST(sign(j.y - i.y) AS BIGINT)) AS BIGINT) s_stat
                   FROM g i JOIN g j ON i.t < j.t),
            tt AS (SELECT CAST(sum(tc) AS BIGINT) n,
                          CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) tie_term
                   FROM (SELECT y, CAST(count(*) AS BIGINT) tc FROM g GROUP BY 1)),
            v AS (SELECT s_stat, n, tie_term,
                         CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0 var_s
                  FROM sp CROSS JOIN tt)
            SELECT n AS n_hours, s_stat,
                   round(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                              WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                              ELSE 0.0 END, 6) AS z
            FROM v""")
  )

  /** Point-in-polygon containment by ray casting — FULLY exact: user
    * coordinates derive as integer MICRO-degrees (the q255 synthetic
    * geo layout ×10⁶), the polygon is an integer-vertex pentagon, and
    * each edge-crossing test is a cross-multiplied integer sign
    * comparison (no division, no floats, no epsilon). The half-open
    * vertex rule ((y1 ≤ p) ≠ (y2 ≤ p)) prevents vertex double counts.
    * Scan shape: points × 5 edges row-local, one parity agg.
    */
  val q304PointInPolygon: QueryDef = QueryDef(
    "q304_point_in_polygon",
    (s, dir) => {
      // pentagon in micro-degrees around the point cloud's core
      val verts = Seq(
        (-100000000L, 40200000L), (-99000000L, 41900000L), (-97600000L, 41500000L),
        (-97200000L, 40500000L), (-98600000L, 39900000L))
      val edges = verts.zip(verts.tail :+ verts.head).map { case ((x1, y1), (x2, y2)) =>
        (x1, y1, x2, y2)
      }
      import s.implicits._
      val edgeDf = edges.toDF("x1", "y1", "x2", "y2")
      val pts = Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .select(
          col("user_id"),
          (lit(40000000L) + (col("user_id") % 7) * 300000L + (col("user_id") % 13) * 10000L)
            .as("py"),
          (lit(-100000000L) + (col("user_id") % 11) * 400000L + (col("user_id") % 17) * 10000L)
            .as("px"))
      val crossings = pts
        .crossJoin(broadcast(edgeDf))
        .filter((col("y1") <= col("py")) =!= (col("y2") <= col("py")))
        .withColumn("d", col("y2") - col("y1"))
        .withColumn(
          "hit",
          when(((col("x1") - col("px")) * col("d") +
            (col("x2") - col("x1")) * (col("py") - col("y1"))) *
            signum(col("d")).cast("long") > 0, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("hit")).as("nc"))
      pts
        .join(crossings, Seq("user_id"), "left")
        .withColumn("inside", coalesce(col("nc"), lit(0L)) % 2 === 1)
        .groupBy((col("user_id") % 5).as("cohort"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"))
        .withColumn(
          "inside_share",
          round(col("n_inside").cast("double") / col("n_users").cast("double"), 6))
    },
    Some("""WITH pts AS (SELECT DISTINCT user_id FROM events),
            p AS (SELECT user_id,
                         40000000 + (user_id % 7) * 300000 + (user_id % 13) * 10000 AS py,
                         -100000000 + (user_id % 11) * 400000 + (user_id % 17) * 10000 AS px
                  FROM pts),
            e AS (SELECT * FROM (VALUES
                    (-100000000, 40200000, -99000000, 41900000),
                    (-99000000, 41900000, -97600000, 41500000),
                    (-97600000, 41500000, -97200000, 40500000),
                    (-97200000, 40500000, -98600000, 39900000),
                    (-98600000, 39900000, -100000000, 40200000))
                  t(x1, y1, x2, y2)),
            cr AS (SELECT user_id, CAST(sum(hit) AS BIGINT) nc FROM (
                     SELECT p.user_id,
                            CASE WHEN ((CAST(x1 AS BIGINT) - px) * (y2 - y1) +
                                       (CAST(x2 AS BIGINT) - x1) * (py - y1)) *
                                 CAST(sign(y2 - y1) AS BIGINT) > 0 THEN 1 ELSE 0 END hit
                     FROM p CROSS JOIN e
                     WHERE (y1 <= py) <> (y2 <= py))
                   GROUP BY 1),
            f AS (SELECT p.user_id, coalesce(nc, 0) % 2 = 1 AS inside
                  FROM p LEFT JOIN cr USING (user_id))
            SELECT CAST(user_id % 5 AS BIGINT) cohort, CAST(count(*) AS BIGINT) n_users,
                   CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) n_inside,
                   round(CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                     AS inside_share
            FROM f GROUP BY 1""")
  )

  /** Shuffle-quality audit of the q96 deterministic training shuffle:
    * Spearman ρ between each document's ORIGINAL position (doc_id
    * rank) and its shuffled position (md5-key rank). Distinct ids and
    * effectively-distinct 60-bit keys mean no ties, so
    * ρ = 1 − 6·Σd²/(n(n²−1)) is EXACT integer arithmetic end to end;
    * a good shuffle sits near 0 (|ρ| ≲ 2/√n). Residual order in a
    * "shuffled" corpus is a real LLM-training failure mode — this is
    * the gate that catches it.
    */
  val q305ShuffleAudit: QueryDef = QueryDef(
    "q305_shuffle_audit",
    (s, dir) => {
      // r14: both rank windows had NO partition key — the doc dimension
      // ran through ONE task twice (guide §2.4/§5). Ranks keeps the
      // ranks exact via the bucketed prefix sum; doc_id is dense (4096-id
      // bands balance by construction) and h is a uniform 60-bit hash
      // (2^48-wide bands balance by uniformity).
      val hashed = Tables.documents(s, dir)
        .select(col("doc_id"),
          conv(substring(md5(concat(col("doc_id").cast("string"), lit("shuf1"))), 1, 15),
            16, 10).cast("long").as("h"))
      // independent rank sides joined doc-keyed — chaining the two Ranks
      // calls stacks the first rank's join+window into the second's
      // histogram lineage (the q397 CTE-re-evaluation lesson)
      val ranked = graft.operators.Ranks
        .rowNumber(hashed.select(col("doc_id")),
          expr("doc_id div 4096"), "r_orig", col("doc_id").asc)
        .join(
          graft.operators.Ranks
            .rowNumber(hashed, expr(s"h div ${1L << 48}"), "r_shuf",
              col("h").asc, col("doc_id").asc)
            .select(col("doc_id"), col("r_shuf")),
          Seq("doc_id"))
      val d = "decimal(38,0)"
      ranked
        .agg(
          count(lit(1)).as("n"),
          sum(((col("r_orig") - col("r_shuf")) * (col("r_orig") - col("r_shuf"))).cast(d))
            .as("sum_d2"))
        .select(
          col("n"),
          col("sum_d2").cast("long").as("sum_d2"),
          round(
            lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
              (col("n").cast("double") *
                (col("n").cast("double") * col("n").cast("double") - 1.0)),
            6).as("spearman_rho"))
        .withColumn(
          "well_shuffled",
          abs(col("spearman_rho")) < lit(2.0) / sqrt(col("n").cast("double")))
    },
    Some("""WITH h AS (SELECT doc_id,
                              CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'shuf1'),
                                1, 15)) AS BIGINT) h
                       FROM documents),
            r AS (SELECT doc_id,
                         CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) r_orig,
                         CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) r_shuf
                  FROM h),
            a AS (SELECT CAST(count(*) AS BIGINT) n,
                         CAST(sum((r_orig - r_shuf) * (r_orig - r_shuf)) AS BIGINT) sum_d2
                  FROM r)
            SELECT n, sum_d2,
                   round(1.0 - 6.0 * CAST(sum_d2 AS DOUBLE) /
                         (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)),
                         6) AS spearman_rho,
                   abs(1.0 - 6.0 * CAST(sum_d2 AS DOUBLE) /
                       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)))
                     < 2.0 / sqrt(CAST(n AS DOUBLE)) AS well_shuffled
            FROM a""")
  )

  /** Chi-square INDEPENDENCE test (r×c contingency) of nation ×
    * market segment — the one classical test the battery lacked
    * (q226's SRM is the 2-cell goodness-of-fit): χ² from snapped
    * per-cell terms over exact integer margins, plus Cramér's V
    * effect size and the (r−1)(c−1) degrees of freedom.
    */
  val q306Chi2Independence: QueryDef = QueryDef(
    "q306_chi2_independence",
    (s, dir) => {
      val cells = Tables.customer(s, dir)
        .groupBy(col("c_nationkey").cast("long").as("nk"), col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("o"))
      val rows = cells.groupBy(col("nk")).agg(sum(col("o")).as("rn"))
      val cols_ = cells.groupBy(col("seg")).agg(sum(col("o")).as("cn"))
      val tot = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("nk")).as("r"), countDistinct(col("seg")).as("c"))
      val term = snap(
        (col("o").cast("double") - col("rn").cast("double") * col("cn").cast("double") /
          col("n").cast("double")) *
          (col("o").cast("double") - col("rn").cast("double") * col("cn").cast("double") /
            col("n").cast("double")) /
          (col("rn").cast("double") * col("cn").cast("double") / col("n").cast("double")))
      cells
        // hint-free: margin relations are category-keyed; AQE decides
        .join(rows, Seq("nk"))
        .join(cols_, Seq("seg"))
        .crossJoin(broadcast(tot))
        .select(col("n"), col("r"), col("c"), term.as("t"))
        .groupBy(col("n"), col("r"), col("c"))
        .agg(sum(col("t")).as("chi2"))
        .select(
          col("n"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          round(col("chi2"), 6).as("chi2"),
          round(
            sqrt(col("chi2") / (col("n").cast("double") *
              least(col("r") - 1, col("c") - 1).cast("double"))),
            6).as("cramers_v"))
    },
    Some("""WITH cells AS (SELECT CAST(c_nationkey AS BIGINT) nk, c_mktsegment seg,
                                  CAST(count(*) AS BIGINT) o
                           FROM customer GROUP BY 1, 2),
            rws AS (SELECT nk, CAST(sum(o) AS BIGINT) rn FROM cells GROUP BY 1),
            cls AS (SELECT seg, CAST(sum(o) AS BIGINT) cn FROM cells GROUP BY 1),
            tot AS (SELECT CAST(sum(o) AS BIGINT) n,
                           CAST(count(DISTINCT nk) AS BIGINT) r,
                           CAST(count(DISTINCT seg) AS BIGINT) c
                    FROM cells),
            tm AS (SELECT n, r, c,
                          floor(((CAST(o AS DOUBLE) - CAST(rn AS DOUBLE) * cn / n) *
                                 (CAST(o AS DOUBLE) - CAST(rn AS DOUBLE) * cn / n) /
                                 (CAST(rn AS DOUBLE) * cn / n)) * 1073741824.0 + 0.5) /
                            1073741824.0 AS t
                   FROM cells JOIN rws USING (nk) JOIN cls USING (seg) CROSS JOIN tot)
            SELECT n, CAST((r - 1) * (c - 1) AS BIGINT) dof,
                   round(sum(t), 6) AS chi2,
                   round(sqrt(sum(t) / (CAST(n AS DOUBLE) * least(r - 1, c - 1))), 6)
                     AS cramers_v
            FROM tm GROUP BY n, r, c""")
  )

  /** Parallel-trends pretest for q211's diff-in-differences: the
    * pre-period daily mean-value OLS slopes of the two identity-hash
    * arms, their difference, and a conservative equality z from the
    * per-arm slope variances — the assumption check that must pass
    * BEFORE a DiD readout is causal. Exact decimal slope numerators /
    * denominators; one terminal division per statistic.
    */
  val q307ParallelTrends: QueryDef = QueryDef(
    "q307_parallel_trends",
    (s, dir) => {
      val t0 = Tables.events(s, dir).agg(min(unix_micros(col("ts"))).as("t0"))
      val daily = Tables.events(s, dir)
        .crossJoin(broadcast(t0))
        .filter(unix_micros(col("ts")) < col("t0") + lit(15L * 86400000000L)) // pre-period
        .select(
          (col("user_id") % 2).cast("long").as("arm"),
          ((unix_micros(col("ts")) - col("t0")) / lit(86400000000L)).cast("long").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy(col("arm"), col("day"))
        .agg(count(lit(1)).as("dn"), sum(col("c")).as("dc"))
        // daily means snapped to the 2^-30 grid: their sums (and
        // day-weighted sums) are then exact in any aggregation order;
        // m*m would need 80 mantissa bits, so each square is re-snapped
        .withColumn("m",
          floor(col("dc").cast("double") / col("dn").cast("double") * lit(1073741824.0)
            + lit(0.5)) / lit(1073741824.0))
      val g = daily.groupBy(col("arm"))
        .agg(
          count(lit(1)).as("k"),
          sum(col("day")).as("st"), sum(col("m")).as("sm"),
          sum(col("day") * col("day")).as("stt"),
          sum(col("day").cast("double") * col("m")).as("stm"),
          sum(floor(col("m") * col("m") * lit(1073741824.0) + lit(0.5)) /
            lit(1073741824.0)).as("smm"))
        .withColumn("den", (col("k") * col("stt") - col("st") * col("st")).cast("double"))
        .withColumn("slope",
          (col("k").cast("double") * col("stm") - col("st").cast("double") * col("sm")) /
            col("den"))
        // residual variance of the per-day means around the fit, then
        // var(slope) = s2 * k / den
        .withColumn("s2",
          (col("smm") - col("sm") * col("sm") / col("k").cast("double") -
            col("slope") * col("slope") * col("den") / col("k").cast("double")) /
            (col("k").cast("double") - 2.0))
        .withColumn("var_slope", col("s2") * col("k").cast("double") / col("den"))
      val a0 = g.filter(col("arm") === 0).select(
        col("slope").as("slope_ctl"), col("var_slope").as("v0"), col("k").as("k0"))
      val a1 = g.filter(col("arm") === 1).select(
        col("slope").as("slope_trt"), col("var_slope").as("v1"), col("k").as("k1"))
      a0.crossJoin(a1).select(
        col("k0").as("n_days_ctl"), col("k1").as("n_days_trt"),
        round(col("slope_ctl") / 100.0, 6).as("slope_ctl"),
        round(col("slope_trt") / 100.0, 6).as("slope_trt"),
        round((col("slope_trt") - col("slope_ctl")) / 100.0, 6).as("slope_diff"),
        round((col("slope_trt") - col("slope_ctl")) / sqrt(col("v0") + col("v1")), 6)
          .as("z"),
        (abs((col("slope_trt") - col("slope_ctl")) / sqrt(col("v0") + col("v1"))) < 1.96)
          .as("parallel_ok"))
    },
    Some("""WITH t0 AS (SELECT min(epoch_us(ts)) t0 FROM events),
            d AS (SELECT CAST(user_id % 2 AS BIGINT) arm,
                         (epoch_us(ts) - t0.t0) // 86400000000 AS day,
                         CAST(round(value * 100) AS BIGINT) c
                  FROM events CROSS JOIN t0
                  WHERE epoch_us(ts) < t0.t0 + 15 * 86400000000),
            dl AS (SELECT arm, day, CAST(count(*) AS BIGINT) dn, CAST(sum(c) AS BIGINT) dc
                   FROM d GROUP BY 1, 2),
            dm AS (SELECT *, floor(CAST(dc AS DOUBLE) / dn * 1073741824.0 + 0.5) /
                             1073741824.0 AS m FROM dl),
            g AS (SELECT arm, CAST(count(*) AS BIGINT) k,
                         CAST(sum(day) AS BIGINT) st, sum(m) sm,
                         CAST(sum(day * day) AS BIGINT) stt,
                         sum(CAST(day AS DOUBLE) * m) stm,
                         sum(floor(m * m * 1073741824.0 + 0.5) / 1073741824.0) smm
                  FROM dm GROUP BY 1),
            f AS (SELECT arm, k, CAST(k * stt - st * st AS DOUBLE) den,
                         (CAST(k AS DOUBLE) * stm - CAST(st AS DOUBLE) * sm) /
                           CAST(k * stt - st * st AS DOUBLE) AS slope,
                         sm, smm
                  FROM g),
            v AS (SELECT arm, k, slope,
                         ((smm - sm * sm / CAST(k AS DOUBLE) -
                           slope * slope * den / CAST(k AS DOUBLE)) /
                          (CAST(k AS DOUBLE) - 2.0)) * CAST(k AS DOUBLE) / den AS var_slope
                  FROM f),
            w AS (SELECT
                    (SELECT k FROM v WHERE arm = 0) k0, (SELECT k FROM v WHERE arm = 1) k1,
                    (SELECT slope FROM v WHERE arm = 0) s0,
                    (SELECT slope FROM v WHERE arm = 1) s1,
                    (SELECT var_slope FROM v WHERE arm = 0) v0,
                    (SELECT var_slope FROM v WHERE arm = 1) v1)
            SELECT k0 AS n_days_ctl, k1 AS n_days_trt,
                   round(s0 / 100.0, 6) AS slope_ctl, round(s1 / 100.0, 6) AS slope_trt,
                   round((s1 - s0) / 100.0, 6) AS slope_diff,
                   round((s1 - s0) / sqrt(v0 + v1), 6) AS z,
                   abs((s1 - s0) / sqrt(v0 + v1)) < 1.96 AS parallel_ok
            FROM w""")
  )

  val all: Seq[QueryDef] =
    Seq(q270Shapley, q271IntervalIslands, q272DpCounts, q273Msprt,
      q274NaiveBayes, q275Iv2sls, q276InfoGain, q277SeqMining, q278CollocationG2,
      q279BucketLayout, q280LabelNoise, q281IpsOffpolicy, q282Mahalanobis,
      q283HilbertLayout, q284HaarEnergy, q285ClampedBalance, q286Twap,
      q287FifoMatch, q288ExpGof, q289BurstViterbi, q290JenksBreaks,
      q291Seq3Mining, q292Vacuum, q293WordBurstiness, q294Emd1d,
      q295ReuseDistance, q296SignedRank, q297EbShrinkage, q298HillTail,
      q299TreeDepth2, q300DrOffpolicy, q301Rendezvous, q302DurbinWatson,
      q303MannKendall, q304PointInPolygon, q305ShuffleAudit, q306Chi2Independence,
      q307ParallelTrends)
}
