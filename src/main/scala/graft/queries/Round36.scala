package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._
import graft.sources.Tables

/** Round-36 additions (q494+): serving-math, local-privacy and layout
  * audits — the Pollaczek–Khinchine queueing sheet from empirical
  * service moments (the M/G/1 companion to q478's M/M/c staffing
  * grid: how much the VARIANCE of service times, not just their mean,
  * costs in queue wait), randomized-response frequency estimation with
  * md5-deterministic coins and the standard debiasing inversion (the
  * local-DP counterpart to q272's central Laplace counts), and
  * consistent-hash ring balance across virtual-node counts (keys
  * assigned through the binned [[graft.operators.RangeJoin]] interval
  * join — never a key × ring nested loop). House invariants as
  * Round13-35.
  */
object Round36 {

  // ---------------------------------------------------------------- q494

  /** Pollaczek–Khinchine sheet per event type, with `value` as the
    * service time: λ from exact counts over the observed span, E[S] and
    * E[S²] from exact integer-cent sums, ρ = λE[S], and the mean queue
    * waits M/D/1 = λE[S]²/(2(1−ρ)) ≤ M/G/1 = λE[S²]/(2(1−ρ)) (P–K) —
    * the variability penalty E[S²]/E[S]² = 1 + cv² says how much of the
    * wait is variance, not load. One keyed agg; the closed forms are
    * row-local. The analytic companion to the reference's simulated
    * queue (where q19 MEASURES, this PREDICTS from two moments).
    */
  val q494Pollaczek: QueryDef = QueryDef.sql("q494_pollaczek", "r36_", "events")(pollaczekSql)

  private def pollaczekSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    s"""WITH span AS (
          -- CAST the divisor: a bare 1000000.0 is DECIMAL in Spark, and
          -- BIGINT/DECIMAL stays exact decimal (no double operand to
          -- promote) — the q393/q400 literal trap, resurfacing here as a
          -- one-grid-step lam divergence
          SELECT (max(CAST($us AS BIGINT)) - min(CAST($us AS BIGINT)))
                   / CAST(1000000.0 AS DOUBLE) AS sec
          FROM $tbl),
        m AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_cents,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)
                          * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2_cents2
          FROM $tbl GROUP BY 1),
        base AS (
          SELECT event_type, n,
                 ${snap("n / span.sec")} AS lam,
                 ${snap("CAST(s_cents AS DOUBLE) / n / 100.0")} AS es,
                 ${snap("CAST(s2_cents2 AS DOUBLE) / n / 10000.0")} AS es2
          FROM m CROSS JOIN span)
        SELECT event_type, n, lam, es, es2,
               ${snap("lam * es")} AS rho,
               ${snap("lam * es * es / (2.0 * (1.0 - lam * es))")} AS wq_md1,
               ${snap("lam * es2 / (2.0 * (1.0 - lam * es))")} AS wq_pk,
               ${snap("es2 / (es * es)")} AS variability
        FROM base
        ORDER BY event_type"""
  }

  // ---------------------------------------------------------------- q495

  /** Randomized response (Warner 1965 / RAPPOR's base mechanism) over
    * each user's modal event type: every user reports their TRUE
    * category with p = 3/4, otherwise an md5-chosen uniform one of the
    * k = 5 — both coins deterministic md5 folds, so the mechanism
    * replays exactly. The collector sees only perturbed reports and
    * inverts the channel, π̂_c = (f_c − (1−p)/k) / p; the sheet reports
    * true share (the audit's ground truth), observed share, the
    * debiased estimate and its signed error — the local-DP counterpart
    * to q272's central-noise counts: the noise lives on each ROW, and
    * unbiasing is algebra, not trust.
    */
  val q495RandomizedResponse: QueryDef =
    QueryDef.sql("q495_randomized_response", "r36_", "events")(rrSql)

  private def rrSql(d: Dialect): String = {
    val tbl = d.t("events")
    s"""WITH modal AS (
          SELECT user_id, event_type AS true_cat FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY count(*) DESC, event_type) AS rn
            FROM $tbl GROUP BY user_id, event_type) x
          WHERE rn = 1),
        cats AS (
          SELECT event_type AS cat,
                 CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS ci
          FROM (SELECT DISTINCT event_type FROM $tbl) c),
        k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM cats),
        coins AS (
          SELECT m.user_id, m.true_cat,
                 ${md5i(s"'rr:keep:' || CAST(m.user_id AS ${d.str})", d)} % 4 AS keep_coin,
                 ${md5i(s"'rr:pick:' || CAST(m.user_id AS ${d.str})", d)} % (SELECT k FROM k)
                   AS pick_ci
          FROM modal m),
        perturbed AS (
          SELECT c.user_id, c.true_cat,
                 CASE WHEN c.keep_coin < 3 THEN c.true_cat ELSE p.cat END AS reported
          FROM coins c JOIN cats p ON p.ci = c.pick_ci),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM modal),
        truth AS (
          SELECT true_cat AS cat, CAST(count(*) AS BIGINT) AS n_true
          FROM modal GROUP BY 1),
        obs AS (
          SELECT reported AS cat, CAST(count(*) AS BIGINT) AS n_obs
          FROM perturbed GROUP BY 1)
        SELECT c.cat,
               CAST(coalesce(t.n_true, 0) AS BIGINT) AS n_true,
               CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_reported,
               ${snap("CAST(coalesce(t.n_true, 0) AS DOUBLE) / n.n")} AS true_share,
               ${snap("CAST(coalesce(o.n_obs, 0) AS DOUBLE) / n.n")} AS observed_share,
               ${snap("(CAST(coalesce(o.n_obs, 0) AS DOUBLE) / n.n - (1.0 - CAST(0.75 AS DOUBLE)) / k.k) / CAST(0.75 AS DOUBLE)")}
                 AS debiased_share,
               ${snap("(CAST(coalesce(o.n_obs, 0) AS DOUBLE) / n.n - (1.0 - CAST(0.75 AS DOUBLE)) / k.k) / CAST(0.75 AS DOUBLE) - CAST(coalesce(t.n_true, 0) AS DOUBLE) / n.n")}
                 AS est_error
        FROM cats c
        LEFT JOIN truth t ON t.cat = c.cat
        LEFT JOIN obs o ON o.cat = c.cat
        CROSS JOIN n CROSS JOIN k
        ORDER BY c.cat"""
  }

  // ---------------------------------------------------------------- q496

  /** Consistent-hash ring balance: 16 nodes × v virtual nodes for
    * v ∈ {1, 8, 64}; ring positions and key hashes are 48-bit md5
    * values, each key belongs to the successor vnode (first ring
    * position ≥ its hash, wrapping to the ring minimum). The engine
    * turns the ring into NON-OVERLAPPING [lo, hi] intervals (one lag
    * window over the ≤1024-row ring) and assigns keys through the
    * binned [[graft.operators.RangeJoin.pointInInterval]] equi-join —
    * the 100 TB shape; a key × ring nested loop never appears. Reports
    * per v: the max/min node key-share and the max/mean imbalance —
    * the "how many vnodes do I actually need" sizing sheet (1 vnode is
    * badly skewed, 64 is near-uniform).
    */
  val q496HashRing: QueryDef = QueryDef(
    "q496_hash_ring",
    (s, dir) => {
      import org.apache.spark.sql.{functions => F}
      val events = Tables.events(s, dir)
      // distinct key hashes (48-bit md5 of the user id), once
      val keys = events.select(F.col("user_id")).distinct()
        .selectExpr(
          "user_id",
          "CAST(conv(substring(md5('key:' || CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT) AS khash")
      val configs = Seq(1, 8, 64)
      val assigned = configs.map { v =>
        val ring = s.range(0, 16L * v).selectExpr(
          s"CAST($v AS BIGINT) AS n_vn",
          s"CAST(id div $v AS BIGINT) AS node",
          s"CAST(conv(substring(md5('vn:' || CAST($v AS STRING) || ':' || CAST(id div $v AS STRING) || ':' || CAST(id % $v AS STRING)), 1, 12), 16, 10) AS BIGINT) AS pos")
        // successor intervals: (prev_pos, pos] plus the wrap interval
        // (max_pos, 2^48-1] ∪ [0, min_pos] owned by the ring minimum
        val w = org.apache.spark.sql.expressions.Window.orderBy(F.col("pos"))
        val iv = ring
          .withColumn("lo", F.coalesce(F.lag(F.col("pos"), 1).over(w) + 1L, F.lit(0L)))
          .withColumn("hi", F.col("pos"))
        val maxPos = iv.agg(F.max(F.col("pos"))).head.getLong(0)
        val minOwner = iv.orderBy(F.col("pos")).limit(1).head
        val wrap = s.createDataFrame(Seq(
          (v.toLong, minOwner.getLong(1), maxPos + 1L, 281474976710655L)))
          .toDF("n_vn", "node", "lo", "hi")
        val intervals = iv.select("n_vn", "node", "lo", "hi").unionByName(wrap)
          .localCheckpoint()
        graft.operators.RangeJoin.pointInInterval(
          keys, intervals, "khash", "lo", "hi", binSize = 1L << 38)
          .select(F.col("n_vn"), F.col("node"))
      }.reduce(_ unionByName _)
      val perNode = assigned.groupBy(F.col("n_vn"), F.col("node"))
        .agg(F.count(F.lit(1)).cast("long").as("n_keys"))
      perNode.groupBy(F.col("n_vn")).agg(
        F.sum(F.col("n_keys")).cast("long").as("n_keys"),
        F.count(F.lit(1)).cast("long").as("n_nodes_hit"),
        F.expr(snap("CAST(max(n_keys) AS DOUBLE) / sum(n_keys)")).as("max_node_share"),
        F.expr(snap("CAST(min(n_keys) AS DOUBLE) / sum(n_keys)")).as("min_node_share"),
        F.expr(snap("CAST(max(n_keys) AS DOUBLE) * 16.0 / sum(n_keys)")).as("imbalance"))
        .orderBy(F.col("n_vn"))
    },
    Some {
      // 12 hex digits (48 bits), not SqlFragments.md5i's 8 — a different hash
      def md5i(seed: String): String =
        s"CAST(('0x' || substring(md5($seed), 1, 12)) AS BIGINT)"
      s"""WITH keys AS (
            SELECT DISTINCT user_id FROM events),
          kh AS (
            SELECT user_id, ${md5i("'key:' || CAST(user_id AS VARCHAR)")} AS khash
            FROM keys),
          cfg AS (SELECT CAST(unnest([1, 8, 64]) AS BIGINT) AS n_vn),
          ring AS (
            SELECT cfg.n_vn, CAST(nd.n AS BIGINT) AS node,
                   ${md5i("'vn:' || CAST(cfg.n_vn AS VARCHAR) || ':' || CAST(nd.n AS VARCHAR) || ':' || CAST(vv.v AS VARCHAR)")}
                     AS pos
            FROM cfg
            CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS n) nd
            CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS v) vv
            WHERE vv.v < cfg.n_vn),
          owner AS (
            -- successor on the ring, wrapping to the minimum position
            SELECT k.user_id, r.n_vn,
                   coalesce(
                     min(CASE WHEN r.pos >= k.khash THEN r.pos END),
                     min(r.pos)) AS own_pos
            FROM kh k CROSS JOIN ring r
            GROUP BY 1, 2),
          assigned AS (
            SELECT o.n_vn, r.node
            FROM owner o
            JOIN ring r ON r.n_vn = o.n_vn AND r.pos = o.own_pos),
          per_node AS (
            SELECT n_vn, node, CAST(count(*) AS BIGINT) AS n_keys
            FROM assigned GROUP BY 1, 2)
          SELECT n_vn,
                 CAST(sum(n_keys) AS BIGINT) AS n_keys,
                 CAST(count(*) AS BIGINT) AS n_nodes_hit,
                 ${snap("CAST(max(n_keys) AS DOUBLE) / sum(n_keys)")} AS max_node_share,
                 ${snap("CAST(min(n_keys) AS DOUBLE) / sum(n_keys)")} AS min_node_share,
                 ${snap("CAST(max(n_keys) AS DOUBLE) * 16.0 / sum(n_keys)")} AS imbalance
          FROM per_node
          GROUP BY 1
          ORDER BY 1"""
    }
  )

  val all: Seq[QueryDef] =
    Seq(q494Pollaczek, q495RandomizedResponse, q496HashRing)
}
