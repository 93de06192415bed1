package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._

/** Round-31 additions (q481+): protection & annotation-QA audits —
  * sliding-window rate-limiter replay (the batch planning bound for the
  * reference's C1 limiter: what share of historical traffic a
  * 60-second window at limit L would have rejected), Krippendorff's
  * nominal alpha over TPC-H line-level return flags (the annotation
  * agreement statistic, with lineitem's lines as raters of their
  * order), and a payment-card PII scan gated by a native codegen Luhn
  * checksum kernel ([[graft.functions.LuhnCheck]]). House invariants as
  * Round13-30.
  */
object Round31 {

  // ---------------------------------------------------------------- q481

  /** Rate-limiter replay: per limit L ∈ {10, 60} requests / strict 60 s
    * sliding window (the reference's api_client contract,
    * src/api_client.py:17-24), the share of events that would arrive
    * into an already-full per-user window — one RANGE window over the
    * event stream, every limit aggregating the same windowed relation.
    * This is the UPPER-bound planning audit: the live limiter's
    * rejected requests never occupy its window, so true rejections are
    * ≤ this replay's (an admitted-only window is sequential state — the
    * reference's event loop, q19's territory). Reports per limit:
    * requests, over-limit arrivals, their share, and distinct users
    * affected.
    */
  val q481RateLimitReplay: QueryDef =
    QueryDef.sql("q481_rate_limit_replay", "r31_", "events")(rateLimitSql)

  private def rateLimitSql(d: Dialect): String = {
    val tbl = d.t("events")
    val us = d.epochUs("ts")
    val ks = d.selectGen(d.list("10, 60"), "BIGINT", "lim", "kk")
    s"""WITH e AS (SELECT user_id, CAST($us AS BIGINT) AS ts_us FROM $tbl),
        w AS (
          SELECT user_id,
                 CAST(count(*) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS win
          FROM e),
        ks AS ($ks)
        SELECT lim,
               CAST(count(*) AS BIGINT) AS n_requests,
               CAST(sum(CASE WHEN win > lim THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
               ${snap("CAST(sum(CASE WHEN win > lim THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                 AS over_share,
               CAST(count(DISTINCT CASE WHEN win > lim THEN user_id END) AS BIGINT)
                 AS n_users_affected
        FROM w CROSS JOIN ks
        GROUP BY lim
        ORDER BY lim"""
  }

  // ---------------------------------------------------------------- q482

  /** Krippendorff's nominal alpha over lineitem return flags: each
    * order is a UNIT, its lines are RATERS, l_returnflag the nominal
    * VALUE — "do the lines of an order agree on its return status".
    * Coincidence counts o_ck = Σ_u c_uc·(c_uk − δ_ck)/(m_u − 1) over
    * pairable units (m_u ≥ 2) ride per-term 2²⁰ quantization onto exact
    * BIGINT sums; D_o = Σ_{c≠k} o_ck / n, D_e = Σ_{c≠k} n_c·n_k /
    * (n·(n−1)), α = 1 − D_o/D_e (Krippendorff 2004). Two keyed aggs +
    * one bounded (unit × ≤3 values) self-join — the agreement
    * statistic every labeling pipeline gates raters on, here with
    * TPC-H's own multi-line orders as the panel.
    */
  val q482KrippendorffAlpha: QueryDef =
    QueryDef.sql("q482_krippendorff_alpha", "r31_", "lineitem")(krippendorffSql)

  private def krippendorffSql(d: Dialect): String = {
    val tbl = d.t("lineitem")
    s"""WITH r AS (SELECT l_orderkey AS unit, l_returnflag AS val FROM $tbl),
        mu AS (
          SELECT unit, CAST(count(*) AS BIGINT) AS m FROM r GROUP BY 1
          HAVING count(*) >= 2),
        uc AS (
          SELECT r.unit, r.val, CAST(count(*) AS BIGINT) AS c
          FROM r JOIN mu ON mu.unit = r.unit
          GROUP BY 1, 2),
        nn AS (
          SELECT CAST(sum(m) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_units
          FROM mu),
        o AS (
          SELECT a.val AS vc, b.val AS vk,
                 CAST(sum(${qi("a.c * (b.c - CASE WHEN a.val = b.val THEN 1 ELSE 0 END) / CAST(mu.m - 1 AS DOUBLE)")})
                      AS BIGINT) AS q
          FROM uc a
          JOIN uc b ON b.unit = a.unit
          JOIN mu ON mu.unit = a.unit
          GROUP BY 1, 2),
        nc AS (
          SELECT vc, CAST(sum(q) AS DOUBLE) / 1048576.0 AS n_c
          FROM o GROUP BY 1),
        agg AS (
          SELECT
            (SELECT CAST(sum(q) AS DOUBLE) / 1048576.0 FROM o WHERE vc <> vk)
              AS d_off,
            (SELECT CAST(sum(${qi("a.n_c * b.n_c")}) AS DOUBLE) / 1048576.0
             FROM nc a JOIN nc b ON a.vc <> b.vc) AS e_off
          FROM (SELECT 1 AS one) t)
        SELECT nn.n AS n_ratings, nn.n_units,
               ${snap("agg.d_off / nn.n")} AS d_obs,
               ${snap("agg.e_off / (nn.n * CAST(nn.n - 1 AS DOUBLE))")} AS d_exp,
               ${snap("1.0 - (agg.d_off / nn.n) / (agg.e_off / (nn.n * CAST(nn.n - 1 AS DOUBLE)))")}
                 AS alpha
        FROM agg CROSS JOIN nn"""
  }

  // ---------------------------------------------------------------- q483

  /** Payment-card PII scan: digit runs of 13-19 chars are card
    * CANDIDATES (the regex catches ids and phone numbers too); the Luhn
    * checksum ([[graft.functions.LuhnCheck]], a native codegen
    * expression — preference (b)) is the arithmetic gate that separates
    * real card numbers. Deterministic injection seeds the corpus: every
    * doc_id ≡ 0 (mod 3) carries a Luhn-VALID test PAN, ≡ 1 (mod 3) an
    * off-by-one INVALID twin, and ≡ 0 (mod 5) a 14-digit order
    * reference — the false-positive class the checksum must reject.
    * The oracle replays the Luhn arithmetic as a per-digit list fold.
    */
  val q483LuhnCardScan: QueryDef = QueryDef(
    "q483_luhn_card_scan",
    (s, dir) => {
      graft.functions.LuhnCheck.register(s)
      val sp = Spark("r31_")
      sp.register(s, dir, "documents")
      s.sql(luhnScanSql(sp))
    },
    Some(luhnScanSql(DuckDb))
  )

  private def luhnScanSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val extract = d match {
      case _: Spark => "explode(regexp_extract_all(t, '[0-9]{13,19}', 0))"
      case DuckDb => "unnest(regexp_extract_all(t, '[0-9]{13,19}'))"
    }
    val luhn = d match {
      case _: Spark =>
        "graft_luhn_check(num)"
      case DuckDb =>
        """(list_sum([CASE WHEN i % 2 = 1
                           THEN CAST(substring(reverse(num), i, 1) AS INT)
                           WHEN 2 * CAST(substring(reverse(num), i, 1) AS INT) > 9
                           THEN 2 * CAST(substring(reverse(num), i, 1) AS INT) - 9
                           ELSE 2 * CAST(substring(reverse(num), i, 1) AS INT) END
                      FOR i IN range(1, len(num) + 1)]) % 10 = 0)"""
    }
    s"""WITH injected AS (
          SELECT doc_id,
                 text
                   || CASE WHEN doc_id % 3 = 0 THEN ' card 4532015112830366'
                           WHEN doc_id % 3 = 1 THEN ' card 4532015112830367'
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN ' ref 12345678901234'
                           ELSE '' END AS t
          FROM $tbl),
        cand AS (
          SELECT doc_id, $extract AS num FROM injected),
        scored AS (
          SELECT doc_id, num, CASE WHEN $luhn THEN 1 ELSE 0 END AS ok
          FROM cand)
        SELECT CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(ok) AS BIGINT) AS n_valid,
               CAST(sum(1 - ok) AS BIGINT) AS n_rejected,
               CAST(count(DISTINCT CASE WHEN ok = 1 THEN doc_id END) AS BIGINT)
                 AS n_docs_flagged,
               ${snap("CAST(sum(ok) AS DOUBLE) / count(*)")} AS valid_share
        FROM scored"""
  }

  val all: Seq[QueryDef] =
    Seq(q481RateLimitReplay, q482KrippendorffAlpha, q483LuhnCardScan)
}
