package graft.queries

import graft.operators.Dedup
import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-42 additions (q519+): survey-design, spatial and
  * infrastructure audits — Dalenius–Hodges cum√f stratum construction
  * (q220 allocates GIVEN strata; this builds them), Moran's I spatial
  * autocorrelation on the day-of-week × hour calendar torus, the
  * cross-shard locality cost of distributed near-dup dedup (hash vs
  * range sharding), demographic-parity gaps of a top-quartile
  * selection rule, positional surprisal (does quality drift through a
  * document), and a hash-splitter uniformity audit (χ², bit balance,
  * serial correlation — the md5 coin the whole catalogue leans on,
  * actually tested). House invariants as Round13-41.
  */
object Round42 {

  // ---------------------------------------------------------------- q519

  /** Dalenius–Hodges stratification: $500 price bins, cum√f cut at
    * k·total/4 — the classic construction for variance-minimizing
    * strata — then each stratum's exact bounds, mean, SAMPLE sd (from
    * quantized sufficient statistics in 10k$ units so squares stay in
    * BIGINT headroom), and its Neyman allocation share n_h·s_h/Σ. Bin
    * √f terms quantize before the ordered cumsum so the running totals
    * are integers.
    */
  val q519DaleniusHodges: QueryDef = QueryDef.sql("q519_dalenius_hodges", "r42_", "orders")(dhSql)

  private def dhSql(d: Dialect): String = {
    val tbl = d.t("orders")
    s"""WITH o AS (SELECT CAST(round(o_totalprice * CAST(100 AS DOUBLE)) AS BIGINT) AS cents
                   FROM $tbl),
        bins AS (SELECT cents ${d.idiv} 50000 AS b, CAST(count(*) AS BIGINT) AS f
                 FROM o GROUP BY 1),
        q AS (SELECT b, ${qi("sqrt(CAST(f AS DOUBLE))")} AS qf FROM bins),
        cq AS (SELECT b, qf, CAST(sum(qf) OVER (ORDER BY b) AS BIGINT) AS cum FROM q),
        tq AS (SELECT CAST(sum(qf) AS BIGINT) AS tot FROM q),
        sb AS (SELECT c.b, ((c.cum - c.qf) * 4) ${d.idiv} t.tot AS stratum
               FROM cq c CROSS JOIN tq t),
        so AS (SELECT o.cents, sb.stratum FROM o
               JOIN sb ON sb.b = o.cents ${d.idiv} 50000),
        st AS (
          SELECT stratum,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(min(cents) AS BIGINT) AS lo,
                 CAST(max(cents) AS BIGINT) AS hi,
                 CAST(sum(cents) AS BIGINT) AS sc,
                 CAST(sum(${qi("cents / CAST(1000000 AS DOUBLE)")}) AS BIGINT) AS s1,
                 CAST(sum(${qi("(cents / CAST(1000000 AS DOUBLE)) * (cents / CAST(1000000 AS DOUBLE))")}) AS BIGINT) AS s2
          FROM so GROUP BY 1),
        sd AS (
          SELECT stratum, n, lo, hi, sc,
                 sqrt((CAST(s2 AS DOUBLE) / 1048576.0
                   - (CAST(s1 AS DOUBLE) / 1048576.0 / n) * (CAST(s1 AS DOUBLE) / 1048576.0 / n) * n)
                   / (n - 1)) AS sdu
          FROM st),
        ney AS (SELECT stratum, ${qi("n * sdu")} AS nsq FROM sd),
        tot2 AS (SELECT CAST(sum(nsq) AS BIGINT) AS tns FROM ney)
        SELECT s.stratum AS stratum,
               s.n AS n_orders,
               s.lo AS lo_cents, s.hi AS hi_cents,
               ${snap("CAST(s.sc AS DOUBLE) / s.n / 100")} AS mean_price,
               ${snap("s.sdu * CAST(10000 AS DOUBLE)")} AS sd_price,
               ${snap("CAST(y.nsq AS DOUBLE) / t.tns")} AS neyman_share
        FROM sd s JOIN ney y ON y.stratum = s.stratum CROSS JOIN tot2 t
        ORDER BY s.stratum"""
  }

  // ---------------------------------------------------------------- q520

  /** Moran's I on the calendar torus: each event type's day-of-week ×
    * hour occupancy grid (168 cells, zero-filled; dow from epoch days
    * so both engines share the convention), rook adjacency wrapping in
    * BOTH axes (every cell exactly 4 neighbors, W = 672), z-scores
    * scaled by N to stay integer — I = Σ_edges z·z′ / (2·Σz²) is an
    * exact rational until the final snap. "Is load clustered on the
    * weekly calendar or checkerboard-dispersed", per type, vs the
    * E[I] = −1/167 null.
    */
  val q520CalendarMorans: QueryDef =
    QueryDef.sql("q520_calendar_morans_i", "r42_", "events")(moransSql)

  private def moransSql(d: Dialect): String = {
    val tbl = d.t("events")
    val dd = s"${d.epochUs("ts")} ${d.idiv} 86400000000"
    val hh = s"${d.epochUs("ts")} ${d.idiv} 3600000000"
    val dgrid = s"SELECT ${d.closedRange(0, 6)} AS dw"
    val hgrid = s"SELECT ${d.closedRange(0, 23)} AS hd"
    s"""WITH e AS (SELECT event_type, ($dd) % 7 AS dw, ($hh) % 24 AS hd FROM $tbl),
        cnt AS (SELECT event_type, dw, hd, CAST(count(*) AS BIGINT) AS x
                FROM e GROUP BY 1, 2, 3),
        tys AS (SELECT DISTINCT event_type FROM e LIMIT 64),
        grid AS (SELECT t.event_type, d.dw, h.hd
                 FROM ($dgrid) d CROSS JOIN ($hgrid) h CROSS JOIN tys t),
        cell AS (SELECT g.event_type, g.dw, g.hd,
                        CAST(coalesce(c.x, 0) AS BIGINT) AS x
                 FROM grid g LEFT JOIN cnt c
                   ON c.event_type = g.event_type AND c.dw = g.dw AND c.hd = g.hd),
        tot AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS sx FROM cell GROUP BY 1),
        z AS (SELECT c.event_type, c.dw, c.hd,
                     CAST(168 * c.x - t.sx AS BIGINT) AS zz
              FROM cell c JOIN tot t ON t.event_type = c.event_type),
        eh AS (SELECT a.event_type, CAST(sum(a.zz * b.zz) AS BIGINT) AS s
               FROM z a JOIN z b
                 ON b.event_type = a.event_type
                AND b.dw = a.dw AND b.hd = (a.hd + 1) % 24
               GROUP BY 1),
        ed AS (SELECT a.event_type, CAST(sum(a.zz * b.zz) AS BIGINT) AS s
               FROM z a JOIN z b
                 ON b.event_type = a.event_type
                AND b.dw = (a.dw + 1) % 7 AND b.hd = a.hd
               GROUP BY 1),
        den AS (SELECT event_type, CAST(sum(zz * zz) AS BIGINT) AS d FROM z GROUP BY 1)
        SELECT d.event_type,
               CAST(t.sx AS BIGINT) AS n_events,
               ${snap("CAST(eh.s + ed.s AS DOUBLE) / (2 * d.d)")} AS morans_i,
               ${snap("CAST(-1 AS DOUBLE) / 167")} AS expected_i
        FROM den d
        JOIN eh ON eh.event_type = d.event_type
        JOIN ed ON ed.event_type = d.event_type
        JOIN tot t ON t.event_type = d.event_type
        ORDER BY d.event_type"""
  }

  // ---------------------------------------------------------------- q521

  /** Cross-shard dedup locality: the exact word-3-gram Jaccard ≥ 0.8
    * pair set (the q28 PPJoin operator), with both endpoints assigned
    * to 8 shards two ways — md5 hash and contiguous doc_id range — and
    * the share of pairs that stay intra-shard. THE planning number for
    * distributed dedup: every cross-shard pair is network; range
    * sharding keeps crawl-order neighbors together, hash sharding
    * scatters them. Oracle: the shared inverted-index exact pair set
    * ([[LlmQueries.ngramJaccardOracleAt]] — sf0.1-tractable since r12).
    */
  val q521DedupLocality: QueryDef = QueryDef(
    "q521_dedup_locality",
    (s, dir) => {
      import org.apache.spark.sql.{functions => F}
      val docs = Tables.documents(s, dir)
      Dedup.ppjoinPairs(docs)
        .createOrReplaceTempView("r42_pairs")
      docs.createOrReplaceTempView("r42_documents")
      s.sql(localitySelect(
        pairs = "SELECT doc_a, doc_b FROM r42_pairs", d = Spark("r42_")))
    },
    Some(localitySelect(
      pairs = s"SELECT doc_a, doc_b FROM (${LlmQueries.ngramJaccardOracle})", d = DuckDb))
  )

  private def localitySelect(pairs: String, d: Dialect): String = {
    val docs = d.t("documents")
    val strat = d.values("('hash8'), ('range8')", "t(strategy)")
    s"""WITH pr AS ($pairs),
        b AS (SELECT CAST(min(doc_id) AS BIGINT) AS mn,
                     CAST(max(doc_id) AS BIGINT) AS mx
              FROM $docs),
        sh AS (SELECT d.doc_id,
                      ${md5i(s"'shard:' || CAST(d.doc_id AS ${d.str})", d)} % 8 AS hs,
                      ((d.doc_id - b.mn) * 8) ${d.idiv} (b.mx - b.mn + 1) AS rs
               FROM $docs d CROSS JOIN b),
        lab AS (SELECT p.doc_a, p.doc_b, a.hs AS hsa, a.rs AS rsa,
                       c.hs AS hsb, c.rs AS rsb
                FROM pr p
                JOIN sh a ON a.doc_id = p.doc_a
                JOIN sh c ON c.doc_id = p.doc_b),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS np,
                       CAST(coalesce(sum(CASE WHEN hsa = hsb THEN 1 END), 0) AS BIGINT) AS ih,
                       CAST(coalesce(sum(CASE WHEN rsa = rsb THEN 1 END), 0) AS BIGINT) AS ir
                FROM lab),
        strat AS ($strat)
        SELECT s.strategy,
               agg.np AS n_pairs,
               CAST(CASE WHEN s.strategy = 'hash8' THEN agg.ih ELSE agg.ir END AS BIGINT)
                 AS n_intra,
               CASE WHEN agg.np = 0 THEN CAST(0 AS DOUBLE)
                    ELSE ${snap("CAST(CASE WHEN s.strategy = 'hash8' THEN agg.ih ELSE agg.ir END AS DOUBLE) / agg.np")}
               END AS intra_share
        FROM strat s CROSS JOIN agg
        ORDER BY s.strategy"""
  }

  // ---------------------------------------------------------------- q522

  /** Demographic-parity gaps: customers rank by lifetime spend (exact
    * cents, bucket-offset distributed rank, zero-spend customers
    * included via the left join), the top ⌈n/4⌉ are "selected", and
    * each market segment reports its selection rate, the gap to the
    * best segment, and the disparate-impact ratio (the 80%-rule
    * number). The fairness sheet for any top-k cutoff rule.
    */
  val q522ParityGaps: QueryDef =
    QueryDef.sql("q522_parity_gaps", "r42_", "customer", "orders")(paritySql)

  private def paritySql(d: Dialect): String = {
    val (cust, ord) =
      (d.t("customer"), d.t("orders"))
    s"""WITH sp AS (
          SELECT c.c_custkey AS ck, c.c_mktsegment AS seg,
                 CAST(coalesce(sum(CAST(round(o.o_totalprice * CAST(100 AS DOUBLE)) AS BIGINT)), 0) AS BIGINT) AS cents
          FROM $cust c LEFT JOIN $ord o ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2),
        sv AS (SELECT cents, CAST(count(*) AS BIGINT) AS c FROM sp GROUP BY 1),
        boff AS (
          SELECT cents, CAST(coalesce(sum(c) OVER (ORDER BY cents DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM sv),
        rk AS (
          SELECT sp.ck, sp.seg,
                 boff.off + CAST(row_number() OVER (
                   PARTITION BY sp.cents ORDER BY sp.ck) AS BIGINT) AS rnk
          FROM sp JOIN boff ON boff.cents = sp.cents),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sp),
        per AS (
          SELECT r.seg,
                 CAST(count(*) AS BIGINT) AS n_cust,
                 CAST(sum(CASE WHEN r.rnk <= (nn.n + 3) ${d.idiv} 4 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_selected
          FROM rk r CROSS JOIN nn
          GROUP BY 1),
        mx AS (SELECT max(CAST(n_selected AS DOUBLE) / n_cust) AS mxr FROM per)
        SELECT p.seg AS segment, p.n_cust, p.n_selected,
               ${snap("CAST(p.n_selected AS DOUBLE) / p.n_cust")} AS selection_rate,
               ${snap("m.mxr - CAST(p.n_selected AS DOUBLE) / p.n_cust")} AS parity_gap,
               ${snap("(CAST(p.n_selected AS DOUBLE) / p.n_cust) / m.mxr")} AS di_ratio
        FROM per p CROSS JOIN mx m
        ORDER BY p.seg"""
  }

  // ---------------------------------------------------------------- q523

  /** Positional surprisal: tokens bucket into position deciles of their
    * document (kept-token rank over doc-keyed windows), each decile's
    * mean surprisal under the global corpus unigram LM, and the OLS
    * slope across deciles — "does text quality drift from lead to tail"
    * (lead bias says early text is cleaner). Decile means re-quantize
    * before the 10-point regression so the slope is engine-exact.
    */
  val q523PositionalSurprisal: QueryDef =
    QueryDef.sql("q523_positional_surprisal", "r42_", "documents")(positionalSql)

  private def positionalSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val toks = posTokens(tbl, d, "doc_id")
    s"""WITH tok AS ($toks),
        rt AS (SELECT doc_id, word,
                      CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                        AS BIGINT) AS rnk,
                      CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS ntok
               FROM tok),
        cw AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cw),
        dt AS (SELECT least(9, (rt.rnk * 10) ${d.idiv} rt.ntok) AS dcl, rt.word FROM rt),
        per AS (
          SELECT CAST(dcl AS BIGINT) AS decile,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(${qi("-ln(CAST(cw.c AS DOUBLE) / tt.t)")}) AS BIGINT) AS sq
          FROM dt JOIN cw ON cw.word = dt.word CROSS JOIN tt
          GROUP BY 1),
        ce AS (SELECT decile, n,
                      ${qi("CAST(sq AS DOUBLE) / 1048576.0 / n")} AS yq
               FROM per),
        sl AS (
          SELECT (CAST(sum(decile * yq) AS DOUBLE) - CAST(sum(decile) AS DOUBLE) * sum(yq) / count(*))
                 / (CAST(sum(decile * decile) AS DOUBLE) - CAST(sum(decile) AS DOUBLE) * sum(decile) / count(*))
                 / 1048576.0 AS slope
          FROM ce)
        SELECT c.decile, c.n AS n_tokens,
               ${snap("CAST(c.yq AS DOUBLE) / 1048576.0")} AS cross_entropy,
               ${snap("s.slope")} AS ce_slope_per_decile
        FROM ce c CROSS JOIN sl s
        ORDER BY c.decile"""
  }

  // ---------------------------------------------------------------- q524

  /** Hash-splitter uniformity audit — the md5 coin every split/sample
    * query in this catalogue trusts, actually tested: 16-bucket χ²
    * (exact integer numerator (16·o−n)², χ²₁₅ 95% verdict), per-bit
    * one-share worst deviation over all 32 bits (powers of two as a
    * foldable literal grid — no shift-operator dialect), and the
    * lag-1 serial Pearson r through a doc_id+1 EQUI-join (no global
    * window over the corpus).
    */
  val q524HashUniformity: QueryDef =
    QueryDef.sql("q524_hash_uniformity", "r42_", "documents")(hashAuditSql)

  private def hashAuditSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val p2s = (0 until 32).map(j => 1L << j).mkString(", ")
    val bgrid = s"SELECT ${d.closedRange(0, 15)} AS bk"
    val pgrid = s"SELECT ${d.list(p2s)} AS p2"
    s"""WITH u AS (SELECT CAST(doc_id AS BIGINT) AS did,
                          ${md5i(s"'key:' || CAST(doc_id AS ${d.str})", d)} AS v
                   FROM $tbl),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        bc AS (SELECT v ${d.idiv} 268435456 AS bk, CAST(count(*) AS BIGINT) AS o
               FROM u GROUP BY 1),
        bz AS (SELECT g.bk, CAST(coalesce(bc.o, 0) AS BIGINT) AS o
               FROM ($bgrid) g LEFT JOIN bc ON bc.bk = g.bk),
        chi AS (SELECT CAST(sum((16 * o - n.n) * (16 * o - n.n)) AS BIGINT) AS num
                FROM bz CROSS JOIN nn n),
        bits AS (SELECT p.p2, CAST(sum((u.v ${d.idiv} p.p2) % 2) AS BIGINT) AS ones
                 FROM u CROSS JOIN ($pgrid) p
                 GROUP BY 1),
        bdev AS (SELECT max(abs(CAST(ones AS DOUBLE) / n.n - CAST(0.5 AS DOUBLE))) AS mx
                 FROM bits CROSS JOIN nn n),
        pairs AS (SELECT a.v ${d.idiv} 65536 AS va, b.v ${d.idiv} 65536 AS vb
                  FROM u a JOIN u b ON b.did = a.did + 1),
        ser AS (SELECT CAST(count(*) AS BIGINT) AS np,
                       CAST(sum(va) AS BIGINT) AS sa, CAST(sum(vb) AS BIGINT) AS sb,
                       CAST(sum(va * va) AS BIGINT) AS saa,
                       CAST(sum(vb * vb) AS BIGINT) AS sbb,
                       CAST(sum(va * vb) AS BIGINT) AS sab
                FROM pairs)
        SELECT n.n AS n_keys,
               ${snap("CAST(c.num AS DOUBLE) / (16 * n.n)")} AS chi2_16,
               CAST(CASE WHEN CAST(c.num AS DOUBLE) / (16 * n.n) >
                 CAST(24.995790139728616 AS DOUBLE) THEN 1 ELSE 0 END AS INT)
                 AS chi2_reject_95,
               ${snap("d.mx")} AS max_bit_dev,
               s.np AS n_serial_pairs,
               ${snap("(CAST(s.np AS DOUBLE) * s.sab - CAST(s.sa AS DOUBLE) * s.sb) / (sqrt(CAST(s.np AS DOUBLE) * s.saa - CAST(s.sa AS DOUBLE) * s.sa) * sqrt(CAST(s.np AS DOUBLE) * s.sbb - CAST(s.sb AS DOUBLE) * s.sb))")}
                 AS serial_r
        FROM nn n CROSS JOIN chi c CROSS JOIN bdev d CROSS JOIN ser s"""
  }

  val all: Seq[QueryDef] = Seq(
    q519DaleniusHodges, q520CalendarMorans, q521DedupLocality,
    q522ParityGaps, q523PositionalSurprisal, q524HashUniformity)
}
