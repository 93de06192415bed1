package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._

/** Round-37 additions (q497+): evaluation-budget and trajectory
  * audits — successive halving over md5-bucketed arms (the
  * hyperparameter-search budget schedule, replayed exactly on the
  * event stream), and k-step Markov projection of the user-state mix
  * (empirical transition matrix powers — where the state distribution
  * is heading). House invariants as Round13-36.
  */
object Round37 {

  // ---------------------------------------------------------------- q497

  /** Successive halving (Karnin/Jamieson-Talwalkar) replayed exactly:
    * 16 md5-bucketed arms; round r evaluates each surviving arm's mean
    * reward (exact integer cents) over its first 4·2^r pulls in event
    * order and keeps the top half (mean desc, arm asc). The per-arm
    * per-budget means come from ONE windowed pull table (row_number per
    * arm, budget-conditional sums) — the whole selection chain then
    * runs over the 16×4 bounded relation. Reports each round's
    * survivor set size, budget, and the min/max surviving means — the
    * audit of what an early-stopping search would actually have kept.
    */
  val q497SuccessiveHalving: QueryDef =
    QueryDef.sql("q497_successive_halving", "r37_", "events")(halvingSql)

  private def halvingSql(d: Dialect): String = {
    val tbl = d.t("events")
    // survivors after each selection stage, over the bounded means table
    def stage(k: Int, prev: String, budgetIdx: Int, keep: Int): String =
      s"""s$k AS (
            SELECT arm FROM (
              SELECT m.arm,
                     row_number() OVER (ORDER BY m.m$budgetIdx DESC, m.arm) AS rn
              FROM means m JOIN $prev p ON p.arm = m.arm) r
            WHERE rn <= $keep)"""
    s"""WITH pulls AS (
          SELECT ${md5i(s"'arm:' || CAST(user_id AS ${d.str})", d)} % 16 AS arm,
                 CAST(round(value * 100) AS BIGINT) AS cents,
                 row_number() OVER (
                   PARTITION BY ${md5i(s"'arm:' || CAST(user_id AS ${d.str})", d)} % 16
                   ORDER BY ts, event_id) AS pull
          FROM $tbl),
        means AS (
          SELECT arm,
                 ${(0 to 3).map { r =>
        val b = 4 * (1 << r)
        val mean = s"CAST(sum(CASE WHEN pull <= $b THEN cents ELSE 0 END) AS DOUBLE) " +
          s"/ count(CASE WHEN pull <= $b THEN 1 END) / 100.0"
        s"${snap(mean)} AS m$r"
      }.mkString(",\n                 ")}
          FROM pulls
          GROUP BY arm),
        s0 AS (SELECT arm FROM means),
        ${stage(1, "s0", 0, 8)},
        ${stage(2, "s1", 1, 4)},
        ${stage(3, "s2", 2, 2)},
        ${stage(4, "s3", 3, 1)}
        ${(1 to 4).map { k =>
        val b = 4 * (1 << (k - 1))
        s"""SELECT CAST($k AS BIGINT) AS round,
                   CAST($b AS BIGINT) AS budget_per_arm,
                   CAST(count(*) AS BIGINT) AS n_survivors,
                   ${snap(s"min(m.m${k - 1})")} AS min_survivor_mean,
                   ${snap(s"max(m.m${k - 1})")} AS max_survivor_mean
            FROM s$k v JOIN means m ON m.arm = v.arm"""
      }.mkString("\nUNION ALL\n")}
        ORDER BY round"""
  }

  // ---------------------------------------------------------------- q498

  /** k-step Markov projection of the user-state mix: states are event
    * types; the transition matrix comes from per-user consecutive-event
    * pairs (row-normalized exact counts, snapped), the start vector
    * from each user's FIRST event; π_k = π_{k−1}·P for k = 1..4 with
    * per-term 2²⁰ quantization — a 5×5 bounded chain, so the unrolled
    * CTEs stay linear. The trajectory sheet: is the mix converging to
    * the stationary blend or still drifting (and which states gain).
    */
  val q498MarkovProjection: QueryDef =
    QueryDef.sql("q498_markov_projection", "r37_", "events")(markovSql)

  private def markovSql(d: Dialect): String = {
    val tbl = d.t("events")
    val steps = (1 to 4).map { k =>
      s"""pi$k AS (
            SELECT p.to_state AS state,
                   ${snap(s"CAST(sum(${qi("prev.share * p.prob")}) AS DOUBLE) / 1048576.0")}
                     AS share
            FROM pmat p JOIN pi${k - 1} prev ON prev.state = p.from_state
            GROUP BY 1)"""
    }.mkString(",\n")
    s"""WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS nxt,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
          FROM $tbl),
        tc AS (
          SELECT event_type AS from_state, nxt AS to_state,
                 CAST(count(*) AS BIGINT) AS c
          FROM seq WHERE nxt IS NOT NULL
          GROUP BY 1, 2),
        rt AS (SELECT from_state, CAST(sum(c) AS BIGINT) AS t FROM tc GROUP BY 1),
        pmat AS (
          SELECT tc.from_state, tc.to_state,
                 ${snap("CAST(tc.c AS DOUBLE) / rt.t")} AS prob
          FROM tc JOIN rt ON rt.from_state = tc.from_state),
        nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seq WHERE rn = 1),
        pi0 AS (
          SELECT event_type AS state,
                 ${snap("CAST(count(*) AS DOUBLE) / max(nu.n)")} AS share
          FROM seq CROSS JOIN nu WHERE rn = 1
          GROUP BY 1),
        $steps
        ${(0 to 4).map(k =>
        s"SELECT CAST($k AS BIGINT) AS step, state, ${snap("share")} AS share FROM pi$k")
        .mkString("\nUNION ALL\n")}
        ORDER BY step, state"""
  }

  val all: Seq[QueryDef] = Seq(q497SuccessiveHalving, q498MarkovProjection)
}
