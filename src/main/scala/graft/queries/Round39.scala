package graft.queries

import graft.queries.SqlFragments._

/** Round-39 additions (q501+): the serving/training audits the first 38
  * rounds never covered — MoE router load balance (top-2 gating, Switch
  * aux loss, capacity drops), a sequential CUSUM alarm chart via the
  * prefix-min closed form (q193 finds ONE retrospective split; this
  * replays the online control chart), context-window fit/truncation
  * economics, the gradient-noise-scale critical-batch proxy from exact
  * embedding sufficient statistics, length-bucketed padding waste, and
  * the Cramér–von Mises two-sample drift statistic (the integral
  * companion to q149's KS sup-norm). House invariants as Round13-38:
  * dual Spark/DuckDB SQL off one generator, 2^20 integer quantization
  * under every float aggregate, snap() on every emitted double, no
  * DECIMAL anywhere, grids as foldable literal explodes, global ranks
  * via the bucket-offset pattern (never a single-partition window over
  * the corpus).
  */
object Round39 {

  /** Per-document kept-token count, both flavors. */
  private def ntokExpr(d: Dialect): String = d match {
    case _: Spark =>
      "CAST(size(filter(split(lower(text), '[^a-z]+'), x -> x <> '')) AS BIGINT)"
    case DuckDb =>
      "CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS BIGINT)"

  }
  // ---------------------------------------------------------------- q501

  /** MoE router load-balance audit: every kept token hash-routes over
    * E = 8 experts (deterministic per-word pseudo-gates, md5 % 2^20),
    * top-2 gating with linear pair normalization. Per expert: top-1
    * load share f_e, mean gate mass P_e (2^20-quantized per-token sums),
    * the Switch-Transformer aux loss E·Σ f_e·P_e, and tokens dropped at
    * capacity factor 1.25 (per-expert arrival rank > ⌊1.25·N/E⌋). The
    * whole chart is token-keyed aggregation — the expert grid is a
    * foldable 8-row literal, never corpus-sized.
    */
  val q501MoeBalance: QueryDef = QueryDef.sql("q501_moe_balance", "r39_", "documents")(moeSql)

  private def moeSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val ex = s"SELECT ${d.closedRange(0, 7)} AS e"
    s"""WITH tok AS (${posTokens(tbl, d, "doc_id")}),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
        ex AS ($ex),
        gate AS (
          SELECT t.doc_id, t.pos, CAST(e.e AS BIGINT) AS e,
                 ${md5i(s"'moe:' || word || ':' || CAST(e.e AS ${d.str})", d)} % 1048576 AS g
          FROM tok t CROSS JOIN ex e),
        rk AS (
          SELECT doc_id, pos, e, g,
                 CAST(row_number() OVER (PARTITION BY doc_id, pos
                   ORDER BY g DESC, e ASC) AS BIGINT) AS r
          FROM gate),
        top2 AS (
          SELECT doc_id, pos, e, g, r,
                 CAST(sum(g) OVER (PARTITION BY doc_id, pos) AS BIGINT) AS gsum
          FROM rk WHERE r <= 2),
        probs AS (
          SELECT doc_id, pos, e, r,
                 ${qi("CAST(g AS DOUBLE) / greatest(gsum, 1)")} AS pq
          FROM top2),
        perex AS (
          SELECT CAST(e.e AS BIGINT) AS expert,
                 CAST(coalesce(sum(CASE WHEN p.r = 1 THEN 1 END), 0) AS BIGINT) AS n_top1,
                 CAST(coalesce(sum(p.pq), 0) AS BIGINT) AS sq
          FROM ex e LEFT JOIN probs p ON p.e = CAST(e.e AS BIGINT)
          GROUP BY 1),
        assign AS (
          SELECT e, CAST(row_number() OVER (PARTITION BY e
            ORDER BY doc_id, pos) AS BIGINT) AS arr
          FROM rk WHERE r = 1),
        drops AS (
          SELECT a.e AS expert, CAST(count(*) AS BIGINT) AS n_dropped
          FROM assign a CROSS JOIN nt
          WHERE a.arr > (5 * nt.n) ${d.idiv} 32
          GROUP BY 1),
        stats AS (
          SELECT p.expert, p.n_top1, p.sq,
                 CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped
          FROM perex p LEFT JOIN drops d ON d.expert = p.expert),
        aux AS (
          SELECT CAST(sum(${qi("(CAST(n_top1 AS DOUBLE) / nt.n) * (CAST(sq AS DOUBLE) / nt.n / 1048576.0)")}) AS BIGINT) AS auxq
          FROM stats CROSS JOIN nt)
        SELECT s.expert,
               s.n_top1,
               ${snap("CAST(s.n_top1 AS DOUBLE) / nt.n")} AS load_share,
               ${snap("CAST(s.sq AS DOUBLE) / nt.n / 1048576.0")} AS gate_mass,
               s.n_dropped,
               ${snap("CAST(8 AS DOUBLE) * a.auxq / 1048576.0")} AS aux_loss
        FROM stats s CROSS JOIN nt CROSS JOIN aux a
        ORDER BY s.expert"""
  }

  // ---------------------------------------------------------------- q502

  /** Online one-sided CUSUM alarm chart over the hourly event-count
    * series: S_i = max(0, S_{i−1} + (x_i − k)) with drift k = mean,
    * computed WITHOUT sequential recursion via the prefix-sum closed
    * form S_i = P_i − min(0, min_{j≤i} P_j) on the integer-scaled
    * series t_i = n·x_i − Σx (everything BIGINT until the final snap).
    * For threshold h = m·Σx, m ∈ {1,2,4}: alarm-hour count, first alarm
    * index, and the chart maximum. q193 answers "where was THE change";
    * this replays the monitoring rule that would have paged.
    */
  val q502CusumAlarms: QueryDef = QueryDef.sql("q502_cusum_alarms", "r39_", "events")(cusumSql)

  private def cusumSql(d: Dialect): String = {
    val tbl = d.t("events")
    val hh = s"${d.epochUs("ts")} ${d.idiv} 3600000000"
    val grid = s"SELECT mn, ${d.closedRange("mn", "mx")} AS hh FROM b"
    val ms = s"SELECT ${d.list("1, 2, 4")} AS m"
    s"""WITH h AS (SELECT $hh AS hh FROM $tbl),
        cnt AS (SELECT hh, CAST(count(*) AS BIGINT) AS x FROM h GROUP BY 1),
        b AS (SELECT min(hh) AS mn, max(hh) AS mx FROM cnt),
        grid AS ($grid),
        s AS (SELECT g.hh - g.mn AS idx, CAST(coalesce(c.x, 0) AS BIGINT) AS x
              FROM grid g LEFT JOIN cnt c ON c.hh = g.hh),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sm FROM s),
        st AS (SELECT s.idx, t.sm,
                      CAST(sum(t.n * s.x - t.sm) OVER (ORDER BY s.idx) AS BIGINT) AS pt
               FROM s CROSS JOIN tot t),
        cu AS (SELECT idx, sm,
                      pt - least(CAST(0 AS BIGINT),
                                 min(pt) OVER (ORDER BY idx)) AS cusum
               FROM st),
        ms AS ($ms),
        al AS (SELECT CAST(m.m AS BIGINT) AS m, c.idx, c.cusum, c.sm
               FROM cu c CROSS JOIN ms m)
        SELECT m AS threshold_mult,
               CAST(coalesce(sum(CASE WHEN cusum > m * sm THEN 1 END), 0) AS BIGINT)
                 AS n_alarm_hours,
               CAST(coalesce(min(CASE WHEN cusum > m * sm THEN idx END), -1) AS BIGINT)
                 AS first_alarm_idx,
               CAST(max(cusum) AS BIGINT) AS max_stat,
               ${snap("CAST(max(cusum) AS DOUBLE) / max(sm)")} AS max_over_scale
        FROM al
        GROUP BY m
        ORDER BY threshold_mult"""
  }

  // ---------------------------------------------------------------- q503

  /** Context-window fit economics: for W ∈ {128, 512, 2048} tokens,
    * how the document length distribution meets the window — docs that
    * fit whole, total chunks under ⌈len/W⌉ splitting, padding burned in
    * the last chunk of each doc, tokens lost under truncate-to-one-
    * window, chunked utilization, and the share of tokens a truncation
    * policy would keep. Pure integer arithmetic over one doc-grain scan
    * × a 3-row foldable grid.
    */
  val q503ContextFit: QueryDef =
    QueryDef.sql("q503_context_fit", "r39_", "documents")(contextFitSql)

  private def contextFitSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val ws = s"SELECT ${d.list("128, 512, 2048")} AS w"
    s"""WITH d AS (SELECT doc_id, ${ntokExpr(d)} AS ntok FROM $tbl),
        ws AS ($ws),
        per AS (
          SELECT CAST(w AS BIGINT) AS w, ntok,
                 (ntok + w - 1) ${d.idiv} w AS chunks
          FROM d CROSS JOIN ws)
        SELECT w AS window_len,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN ntok <= w THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
               CAST(sum(chunks) AS BIGINT) AS n_chunks,
               CAST(sum(chunks * w - ntok) AS BIGINT) AS pad_tokens,
               CAST(sum(greatest(ntok - w, 0)) AS BIGINT) AS trunc_tokens,
               ${snap("CAST(sum(ntok) AS DOUBLE) / sum(chunks * w)")} AS chunk_util,
               ${snap("CAST(sum(least(ntok, w)) AS DOUBLE) / sum(ntok)")} AS trunc_keep_share
        FROM per
        GROUP BY w
        ORDER BY window_len"""
  }

  // ---------------------------------------------------------------- q504

  /** Gradient-noise-scale proxy (critical batch size, McCandlish et al.
    * 2018 simplified): B_simple ≈ tr(Σ)/|μ|² where Σ is the per-
    * dimension covariance diagonal and μ the mean vector — computed per
    * label and pooled (label −1) from exact 2^20-quantized sufficient
    * statistics (Σq(v), Σq(v²) per dimension), the q453 discipline. The
    * per-dimension terms are snapped BEFORE the 64-dim sum, so the sum
    * is exact dyadic arithmetic in both engines regardless of order.
    * q453 profiles the variance shape; this prices the batch size.
    */
  val q504GradientNoise: QueryDef =
    QueryDef.sql("q504_gradient_noise", "r39_", "embeddings")(gradNoiseSql)

  private def gradNoiseSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val e = d.embeddingCells(tbl, "vec_id, label", 1)
    s"""WITH e AS ($e),
        ds AS (
          SELECT label, dim,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(${qi("v")}) AS BIGINT) AS s1,
                 CAST(sum(${qi("v * v")}) AS BIGINT) AS s2
          FROM e GROUP BY 1, 2),
        pooled AS (
          SELECT CAST(-1 AS INT) AS label, dim,
                 CAST(sum(n) AS BIGINT) AS n,
                 CAST(sum(s1) AS BIGINT) AS s1,
                 CAST(sum(s2) AS BIGINT) AS s2
          FROM ds GROUP BY dim),
        u AS (SELECT * FROM ds UNION ALL SELECT * FROM pooled),
        dv AS (
          SELECT label, dim, n,
                 ${snap("CAST(s2 AS DOUBLE) / (1048576.0 * n) - (CAST(s1 AS DOUBLE) / (1048576.0 * n)) * (CAST(s1 AS DOUBLE) / (1048576.0 * n))")}
                   AS vard,
                 ${snap("(CAST(s1 AS DOUBLE) / (1048576.0 * n)) * (CAST(s1 AS DOUBLE) / (1048576.0 * n))")}
                   AS musq
          FROM u)
        SELECT label,
               CAST(max(n) AS BIGINT) AS n_vecs,
               ${snap("sum(vard)")} AS noise_trace,
               ${snap("sum(musq)")} AS mean_norm_sq,
               ${snap("sum(vard) / sum(musq)")} AS noise_scale
        FROM dv
        GROUP BY label
        ORDER BY label"""
  }

  // ---------------------------------------------------------------- q505

  /** Length-bucketed padding waste: sort docs by kept-token count, cut
    * into k equal-frequency buckets (k ∈ {1,2,4,8}), pad every doc in a
    * bucket to the bucket max — the standard bucketed-batching layout —
    * and price the padding against k=1 (global max padding). Ranks come
    * from the bucket-offset pattern (per-length counts + running offset
    * + row_number within a length), never a single-partition window
    * over the corpus.
    */
  val q505LengthBucketing: QueryDef =
    QueryDef.sql("q505_length_bucketing", "r39_", "documents")(bucketingSql)

  private def bucketingSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val ks = s"SELECT ${d.list("1, 2, 4, 8")} AS k"
    s"""WITH d AS (SELECT doc_id, ${ntokExpr(d)} AS ntok FROM $tbl),
        lc AS (SELECT ntok, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
        boff AS (
          SELECT ntok, CAST(coalesce(sum(c) OVER (ORDER BY ntok
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM lc),
        rk AS (
          SELECT d.ntok,
                 boff.off + CAST(row_number() OVER (
                   PARTITION BY d.ntok ORDER BY d.doc_id) AS BIGINT) AS rnk
          FROM d JOIN boff ON boff.ntok = d.ntok),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        ks AS ($ks),
        bkt AS (
          SELECT CAST(k.k AS BIGINT) AS k,
                 ((rk.rnk - 1) * k.k) ${d.idiv} nn.n AS b,
                 rk.ntok
          FROM rk CROSS JOIN nn CROSS JOIN ks k),
        per AS (
          SELECT k, b,
                 CAST(max(ntok) AS BIGINT) AS mx,
                 CAST(sum(ntok) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS c
          FROM bkt GROUP BY 1, 2)
        SELECT k AS n_buckets,
               CAST(count(*) AS BIGINT) AS buckets_used,
               CAST(sum(mx * c - s) AS BIGINT) AS pad_tokens,
               CAST(sum(mx * c) AS BIGINT) AS padded_tokens,
               ${snap("CAST(sum(mx * c - s) AS DOUBLE) / sum(mx * c)")} AS pad_share
        FROM per
        GROUP BY k
        ORDER BY n_buckets"""
  }

  // ---------------------------------------------------------------- q506

  /** Two-sample Cramér–von Mises drift between 'click' and 'view' event
    * values — the integral-of-squared-CDF-difference companion to
    * q149's KS sup norm (KS sees the worst point; CvM sees the whole
    * curve). Anderson's exact rank form: with combined ranks r_i of
    * sample 1 and s_j of sample 2 (ties broken by event_id, so ranks
    * are exact integers in both engines), U = n·Σ(r_i−i)² + m·Σ(s_j−j)²
    * and T = U/(nm(n+m)) − (4nm−1)/(6(n+m)). Both rank assignments use
    * the bucket-offset pattern; everything is BIGINT until the final
    * snapped combination.
    */
  val q506CramerVonMises: QueryDef = QueryDef.sql("q506_cramer_von_mises", "r39_", "events")(cvmSql)

  private def cvmSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH b AS (
          SELECT event_id, value AS v,
                 CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g
          FROM $tbl WHERE event_type IN ('click', 'view')),
        cv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        cof AS (
          SELECT v, CAST(coalesce(sum(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM cv),
        cr AS (
          SELECT b.event_id, b.g,
                 cof.off + CAST(row_number() OVER (
                   PARTITION BY b.v ORDER BY b.event_id) AS BIGINT) AS r
          FROM b JOIN cof ON cof.v = b.v),
        gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        gof AS (
          SELECT g, v, CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM gv),
        gr AS (
          SELECT b.event_id, b.g,
                 gof.off + CAST(row_number() OVER (
                   PARTITION BY b.g, b.v ORDER BY b.event_id) AS BIGINT) AS i
          FROM b JOIN gof ON gof.g = b.g AND gof.v = b.v),
        j AS (SELECT cr.g, cr.r, gr.i
              FROM cr JOIN gr ON gr.event_id = cr.event_id),
        s AS (SELECT g, CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum((r - i) * (r - i)) AS BIGINT) AS ss
              FROM j GROUP BY g),
        t AS (SELECT CAST(max(CASE WHEN g = 0 THEN cnt END) AS BIGINT) AS n,
                     CAST(max(CASE WHEN g = 0 THEN ss END) AS BIGINT) AS sx,
                     CAST(max(CASE WHEN g = 1 THEN cnt END) AS BIGINT) AS m,
                     CAST(max(CASE WHEN g = 1 THEN ss END) AS BIGINT) AS sy
              FROM s)
        SELECT n AS n_click, m AS n_view, sx AS ssq_click, sy AS ssq_view,
               ${snap("(CAST(n AS DOUBLE) * sx + CAST(m AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * m * (n + m)) - (CAST(4 AS DOUBLE) * n * m - CAST(1 AS DOUBLE)) / (CAST(6 AS DOUBLE) * (n + m))")}
                 AS cvm_t,
               ${snap("(CAST(4 AS DOUBLE) * n * m - CAST(1 AS DOUBLE)) / (CAST(6 AS DOUBLE) * (n + m))")}
                 AS cvm_t_h0_mean
        FROM t"""
  }

  val all: Seq[QueryDef] = Seq(
    q501MoeBalance, q502CusumAlarms, q503ContextFit,
    q504GradientNoise, q505LengthBucketing, q506CramerVonMises)
}
