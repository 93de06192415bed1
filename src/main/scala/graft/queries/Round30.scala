package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.SqlFragments._

/** Round-30 additions (q478+): serving-capacity and spectral audits —
  * Erlang-C M/M/c staffing sheet over the hourly arrival process (the
  * closed-form counterpart to the reference's queue simulator: how many
  * servers keep the wait probability down at each hour's λ), dominant
  * eigenpair of the embedding covariance by power iteration on the
  * exact-BIGINT Gram grid (spectral concentration — the "one direction
  * eats the space" audit next to q422 isotropy / q178 PCA), and the
  * empirical k-token speculative-decoding lookahead curve (expected
  * emitted tokens per step for k ∈ {1,2,4,8}, extending q476's 1-token
  * acceptance rate with the run-length distribution that actually sets
  * the speedup). House invariants as Round13-29: per-term 2²⁰
  * quantization onto BIGINT sums, 2⁻³⁰ dyadic snaps on every emitted
  * double, identical SQL text in both engines.
  */
object Round30 {

  // ---------------------------------------------------------------- q478

  /** Erlang-C staffing sheet: per hour-of-day, the arrival rate λ over
    * the observed days, and for c ∈ {4, 8, 16} servers at a fixed mean
    * service time of 8 s (μ = 0.125/s): offered load A = λ/μ,
    * utilization ρ = A/c, the Erlang-C wait probability
    * P_wait = (A^c/c!) / ((1−ρ)·Σ_{k<c} A^k/k! + A^c/c!), the mean
    * queue length Lq = P_wait·ρ/(1−ρ) and mean wait Wq = Lq/λ — the
    * capacity-planning sheet an inference-serving fleet sizes against,
    * and the closed-form M/M/c companion to the reference's
    * discrete-event queue (src/simulator.py): where the simulator
    * MEASURES one configuration, this PREDICTS the whole staffing grid
    * from two keyed aggs. Every A^k/k! is the literal left-associated
    * product (A/1)·(A/2)···(A/k), so both engines run the identical
    * IEEE sequence; saturated rows (ρ ≥ 1) emit P_wait = 1 and the −1
    * sentinel for the unbounded queue stats.
    */
  val q478ErlangC: QueryDef = QueryDef(
    "q478_erlang_c",
    (s, dir) => {
      val sp = Spark("r30_")
      sp.register(s, dir, "events")
      // The 3-branch staffing union references the hourly-rate relation
      // once per c; Spark inlines CTEs, so materialize the (24-row)
      // corpus agg ONCE — the oracle keeps it as a MATERIALIZED CTE.
      s.sql(erlangBaseSql(sp)).localCheckpoint()
        .createOrReplaceTempView("r30_erlang_base")
      s.sql(erlangTail("r30_erlang_base"))
    },
    Some(
      s"""WITH base AS MATERIALIZED (${erlangBaseSql(DuckDb)})
          ${erlangTail("base")}""")
  )

  /** (hr, n_arrivals, lam, a) — per-hour arrival rate and offered load
    * at mean service 8 s (μ = 0.125/s); one keyed agg + one tiny cross.
    */
  private def erlangBaseSql(d: Dialect): String = {
    val tbl = d.t("events")
    val hourExpr = d match {
      case _: Spark => "hour(ts)"
      case DuckDb => "CAST(hour(ts) AS INT)"
    }
    s"""WITH days AS (
          SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS d FROM $tbl),
        byh AS (
          SELECT CAST($hourExpr AS INT) AS hr, CAST(count(*) AS BIGINT) AS n_arrivals
          FROM $tbl GROUP BY 1)
        SELECT hr, n_arrivals,
               ${snap("CAST(n_arrivals AS DOUBLE) / (d * 3600.0)")} AS lam,
               ${snap("CAST(n_arrivals AS DOUBLE) / (d * 3600.0) / 0.125")} AS a
        FROM byh CROSS JOIN days"""
  }

  private def erlangTail(baseRel: String): String = {
    // Σ_{k<c} A^k/k! and A^c/c! as literal left-associated factor chains
    def powFact(k: Int): String =
      if (k == 0) "CAST(1.0 AS DOUBLE)"
      else (1 to k).map(i => s"(a / $i.0)").mkString(" * ")
    def erlangFor(c: Int): String = {
      val s0 = (0 until c).map(powFact).mkString(" + ")
      val t = powFact(c)
      s"""SELECT hr, n_arrivals, lam, a, CAST($c AS BIGINT) AS c,
                 ${snap(s"a / $c.0")} AS rho,
                 CASE WHEN a >= $c.0 THEN CAST(1.0 AS DOUBLE)
                      ELSE ${snap(s"($t) / ((1.0 - a / $c.0) * ($s0) + ($t))")}
                 END AS p_wait,
                 CASE WHEN a >= $c.0 THEN CAST(-1.0 AS DOUBLE)
                      ELSE ${snap(s"(($t) / ((1.0 - a / $c.0) * ($s0) + ($t))) * (a / $c.0) / (1.0 - a / $c.0)")}
                 END AS lq,
                 CASE WHEN a >= $c.0 THEN CAST(-1.0 AS DOUBLE)
                      ELSE ${snap(s"((($t) / ((1.0 - a / $c.0) * ($s0) + ($t))) * (a / $c.0) / (1.0 - a / $c.0)) / lam")}
                 END AS wq
          FROM $baseRel"""
    }
    s"""SELECT * FROM (
          ${Seq(4, 8, 16).map(erlangFor).mkString("\nUNION ALL\n")}
        ) u
        ORDER BY hr, c"""
  }

  // ---------------------------------------------------------------- q479

  /** Dominant eigenpair of the embedding scatter matrix by POWER
    * ITERATION: the d×d Gram of mean-centered embeddings rides exact
    * 2²⁰-quantized BIGINT keyed sums (the q470 shape — n·d² distributed,
    * never a vector collect), then 8 matvec-normalize rounds run over
    * the bounded d² relation from the exact dyadic start x₀ = 1/8
    * (d = 64 → ‖x₀‖ = 1). Reports the Rayleigh quotient λ₁, the trace,
    * and the explained-variance share λ₁/tr — the spectral-concentration
    * number that says whether one direction eats the space (the
    * eigen-counterpart to q422's isotropy cosine). The Spark side
    * materializes the Gram ONCE (checkpointed temp view) before the
    * unrolled iteration CTEs — Spark has no CTE materialization, and
    * re-deriving the corpus-sized Gram inside every round is the q431
    * lesson; the rounds themselves touch only the d² relation. The
    * DuckDB oracle runs the identical SQL with MATERIALIZED CTEs.
    */
  val q479PowerIteration: QueryDef = QueryDef(
    "q479_power_iteration",
    (s, dir) => {
      val sp = Spark("r30_")
      sp.register(s, dir, "embeddings")
      // Materialize the Gram ONCE (it also feeds the final Rayleigh
      // select), then run the 8 matvec-normalize rounds DRIVER-side on
      // the collected d² relation — bounded model state (the q431
      // pattern): Spark inlines CTEs, so the unrolled 8-round chain was
      // a 2⁸ plan blowup (9.3 s at sf0.1), and one checkpoint job per
      // round still paid ~0.2 s of job overhead × 9 for 64-row work.
      // The arithmetic below is the exact dyadic trajectory the
      // oracle's MATERIALIZED CTE chain walks (per-term 2²⁰
      // quantization, snapped sqrt/divide) — Round30PropertySpec pins
      // the equality independently.
      val gram = s.sql(gramSql(sp)).localCheckpoint()
      gram.createOrReplaceTempView("r30_gram")
      val g = gram.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val dims = g.keys.map(_._1).toSeq.distinct.sorted
      var x = dims.map(_ -> 0.125).toMap
      for (_ <- 1 to 8) {
        val y = dims.map { i =>
          i -> dims.map(j => qiL(g((i, j)) * x(j))).sum.toDouble / 1048576.0
        }.toMap
        val nm = snapD(math.sqrt(dims.map(i => qiL(y(i) * y(i))).sum.toDouble / 1048576.0))
        x = dims.map(i => i -> snapD(y(i) / nm)).toMap
      }
      import s.implicits._
      x.toSeq.sortBy(_._1).toDF("dim", "x").createOrReplaceTempView("r30_x8")
      s.sql(
        s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r30_embeddings)
            ${powerSelect("r30_gram", "r30_x8")}""")
    },
    Some {
      val chain = (1 to 8).map { k =>
        s"x$k AS MATERIALIZED (${powerRound("cov", s"x${k - 1}")})"
      }.mkString(",\n")
      s"""WITH cov AS MATERIALIZED (${gramSql(DuckDb)}),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
          x0 AS MATERIALIZED (${powerX0("cov")}),
          $chain
          ${powerSelect("cov", "x8")}"""
    }
  )

  /** Mean-centered d×d scatter Gram (di, dj, g) — exact keyed sums. */
  private def gramSql(d: Dialect): String = {
    val tbl = d.t("embeddings")
    val e = d.embeddingCells(tbl, "vec_id", 1)
    s"""WITH e AS ($e),
        mu AS (
          SELECT dim,
                 ${snap(s"CAST(sum(${qi("v")}) AS DOUBLE) / 1048576.0 / count(*)")} AS mv
          FROM e GROUP BY 1),
        c AS (
          SELECT e.vec_id, e.dim, ${snap("e.v - mu.mv")} AS cv
          FROM e JOIN mu ON mu.dim = e.dim)
        SELECT a.dim AS di, b.dim AS dj,
               CAST(sum(${qi("a.cv * b.cv")}) AS DOUBLE) / 1048576.0 AS g
        FROM c a JOIN c b ON b.vec_id = a.vec_id
        GROUP BY 1, 2"""
  }

  /** x₀ = 1/8 per dim (d = 64 → ‖x₀‖ = 1, exact dyadic). */
  private def powerX0(cov: String): String =
    s"SELECT di AS dim, CAST(0.125 AS DOUBLE) AS x FROM $cov WHERE dj = 1"

  /** One matvec-normalize round: x_k from `prev` over Gram `cov`. */
  private def powerRound(cov: String, prev: String): String =
    s"""WITH yk AS (
          SELECT g.di AS dim,
                 CAST(sum(${qi("g.g * p.x")}) AS DOUBLE) / 1048576.0 AS y
          FROM $cov g JOIN $prev p ON p.dim = g.dj
          GROUP BY 1),
        nrm AS (
          SELECT ${snap(s"sqrt(CAST(sum(${qi("y * y")}) AS DOUBLE) / 1048576.0)")} AS nm
          FROM yk)
        SELECT dim, ${snap("y / nm")} AS x FROM yk CROSS JOIN nrm"""

  /** Rayleigh quotient + trace + share from the converged x₈. */
  private def powerSelect(cov: String, x8: String): String =
    s"""SELECT max(n.n) AS n_vectors,
               ${snap(s"""(SELECT CAST(sum(${qi("a.x * g.g * b.x")}) AS DOUBLE) / 1048576.0
                          FROM $cov g
                          JOIN $x8 a ON a.dim = g.di
                          JOIN $x8 b ON b.dim = g.dj)""")} AS lambda1,
               ${snap(s"(SELECT CAST(sum(${qi("g")}) AS DOUBLE) / 1048576.0 FROM $cov WHERE di = dj)")}
                 AS trace_s,
               ${snap(s"""(SELECT CAST(sum(${qi("a.x * g.g * b.x")}) AS DOUBLE) / 1048576.0
                          FROM $cov g
                          JOIN $x8 a ON a.dim = g.di
                          JOIN $x8 b ON b.dim = g.dj)
                         / (SELECT CAST(sum(${qi("g")}) AS DOUBLE) / 1048576.0 FROM $cov WHERE di = dj)""")}
                 AS top1_share
        FROM n"""

  // ---------------------------------------------------------------- q480

  /** Empirical k-token speculative-decoding lookahead: with q476's
    * corpus-bigram-argmax draft, each transition position carries an
    * accept bit (draft = actual next token); the run of consecutive
    * accepts starting at a position — capped at lookahead k — is how
    * many draft tokens a step starting there would emit, plus the big
    * model's own token. Reports, per k ∈ {1, 2, 4, 8}: mean emitted
    * tokens/step and the implied speedup over 1 token/step — the curve
    * that picks the lookahead depth (Leviathan et al. 2023 give the
    * iid-α closed form; this is the measured-run-length version). The
    * first-reject position is ONE window min over the accept stream —
    * no self-join, no per-k rescan of the corpus.
    */
  val q480SpeculativeLookahead: QueryDef =
    QueryDef.sql("q480_speculative_lookahead", "r30_", "documents")(lookaheadSql)

  private def lookaheadSql(d: Dialect): String = {
    val tbl = d.t("documents")
    val ks = d.selectGen(d.list("1, 2, 4, 8"), "BIGINT", "k", "kk")
    s"""WITH tok AS (${rankTokens(tbl, d, "doc_id", "source")}),
        tr AS (
          SELECT a.doc_id, a.rnk, a.word AS prev, b.word AS nxt
          FROM tok a JOIN tok b
            ON b.doc_id = a.doc_id AND b.rnk = a.rnk + 1),
        bg AS (
          SELECT prev, nxt, CAST(count(*) AS BIGINT) AS c
          FROM tr GROUP BY 1, 2),
        draft AS (
          SELECT prev, nxt AS guess FROM (
            SELECT prev, nxt,
                   row_number() OVER (PARTITION BY prev
                     ORDER BY c DESC, nxt) AS rn
            FROM bg) r
          WHERE rn = 1),
        acc AS (
          SELECT t.doc_id, t.rnk,
                 CASE WHEN t.nxt = d.guess THEN 1 ELSE 0 END AS ok
          FROM tr t JOIN draft d ON d.prev = t.prev),
        runs AS (
          SELECT doc_id, rnk,
                 -- accepts until the first reject at/after this position;
                 -- a reject-free tail runs to the end of the document
                 CAST(coalesce(
                   min(CASE WHEN ok = 0 THEN rnk END) OVER (
                     PARTITION BY doc_id ORDER BY rnk
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                   max(rnk) OVER (PARTITION BY doc_id) + 1) - rnk AS BIGINT) AS run
          FROM acc),
        ks AS ($ks)
        -- ONE pass: every k aggregates the same run relation (a per-k
        -- UNION would re-derive the whole token pipeline per branch);
        -- emitted tokens are small integers, so the mean rides an exact
        -- BIGINT sum, never an order-dependent float fold
        SELECT k,
               CAST(count(*) AS BIGINT) AS n_positions,
               ${snap("CAST(sum(least(run, k) + 1) AS DOUBLE) / count(*)")}
                 AS tokens_per_step,
               ${snap("CAST(sum(CASE WHEN run >= k THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
                 AS full_accept_share
        FROM runs CROSS JOIN ks
        GROUP BY k
        ORDER BY k"""
  }

  val all: Seq[QueryDef] =
    Seq(q478ErlangC, q479PowerIteration, q480SpeculativeLookahead)
}
